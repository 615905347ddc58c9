"""Deduplication operators for large-scale training-data pipelines.

All hashing uses the portable md5-prefix form (functions.text.portable_hash64)
so results are engine-independent (DuckDB-oracle-checkable) AND
partition-layout-independent — a requirement for deterministic re-runs at
cluster scale.

Scale design:
* exact: one hash-groupBy; map-side partial agg; AQE coalesces output.
* minhash LSH: per-row signature is a pure SQL expression (no UDF); band
  buckets become join keys, so candidate generation is a self-equi-join on
  (band, bucket-hash) — shuffle proportional to candidate pairs, never to
  n². Verification joins back only the candidate pairs.
* simhash: 16-bit portable signature via per-token md5 nibbles; Hamming
  buckets by signature bands.
* n-gram jaccard: blocked pairwise verify — used standalone on blocking
  keys or as the verify stage after LSH.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from relex_spark.functions.text import portable_hash64, split_ws
from relex_spark.operators.similarity import (
    cosine_pairs,
    cosine_side,
    hyperplane_bucket,
)

MERSENNE = 2305843009213693951  # 2^61 - 1; signature values stay < 60 bits


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: md5-groupBy; keep the minimum id per group.

    Output: text_hash, keep_id, n_dups."""
    return (
        docs.groupBy(F.md5(text_col).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Shingle expression over an (ideally materialized) tokens column."""
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def shingled_docs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    out_col: str = "sh",
    hashed: bool = False,
) -> DataFrame:
    """docs + a shingle-set column, built via two projections so the token
    split runs ONCE per row: inlined into the shingle transform's lambda,
    where codegen CSE does not reach, the split re-runs once per position
    (measured 7x on the shingle stage); a multi-referenced non-cheap alias
    blocks CollapseProject, so the split stays its own column.
    ``hashed=True`` maps each shingle to its portable int64 hash (what the
    pairwise verify joins consume)."""
    with_toks = docs.withColumn("__toks", split_ws(F.col(text_col)))
    sh = shingles_from_tokens(F.col("__toks"), shingle_n)
    if hashed:
        sh = F.array_distinct(F.transform(sh, lambda s: portable_hash64(s)))
    return with_toks.withColumn(out_col, sh).drop("__toks")


# MinHash affine family over a 31-bit prime field: seed k rehashes a base
# md5 value h as (a_k * (h % P) + b_k) % P — ONE md5 per shingle total.
# (A first version hashed md5(k||shingle) per seed; the expression tree
# repeated the md5 tower once per seed and compiled to pathological
# codegen.) Products stay < 2^62, so 64-bit arithmetic never overflows in
# either engine.
MINHASH_P = 2_147_483_647  # 2^31 - 1


def minhash_a(k: int) -> int:
    return 1_000_003 * (k + 1)


def minhash_b(k: int) -> int:
    return 12_345 + 777 * k


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature ARRAY<BIGINT>[num_hashes], single aggregate pass:

        base   = [portable_hash64(s) % P for s in shingles]
        sig[k] = min over base of (a_k * h + b_k) % P

    Exactly reproducible in DuckDB (same constants/formula) for the oracle.
    """
    base = F.transform(shingles, lambda s: portable_hash64(s) % MINHASH_P)
    ab = F.array(
        *[
            F.struct(
                F.lit(minhash_a(k)).cast("bigint").alias("a"),
                F.lit(minhash_b(k)).cast("bigint").alias("b"),
            )
            for k in range(num_hashes)
        ]
    )
    init = F.array(*[F.lit(MINHASH_P).cast("bigint") for _ in range(num_hashes)])
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc, ab, lambda m, s: F.least(m, (s["a"] * h + s["b"]) % MINHASH_P)
        ),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs.

    signature → split into ``bands`` bands of rows ``num_hashes/bands`` →
    bucket key = (band_no, hash(band slice)) → self-join on bucket key.
    Output: id_a < id_b candidate pairs with the matching band."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature(F.col("sh"), num_hashes)
    with_sig = shingled_docs(docs, text_col, shingle_n).select(
        F.col(id_col).alias("id"), sig.alias("sig")
    )

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(F.col("sig"), b * rows_per_band + r + 1).cast(
                                "string"
                            )
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    buckets = with_sig.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # Materialize the bucket table once: the self-join would otherwise
    # inline the signature expression into BOTH join sides (AQE may turn
    # one side into a broadcast, defeating exchange reuse). localCheckpoint
    # truncates lineage so each side scans the materialized partitions.
    # Eager (r6, measured): the join's two sides are submitted as
    # CONCURRENT stages, and with a lazy checkpoint they race to
    # materialize the same partitions, duplicating the signature compute.
    buckets = buckets.localCheckpoint(eager=True)
    left = buckets.alias("l")
    right = buckets.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.band").alias("band"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("band").alias("first_band"))
    )
    return pairs


def jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard similarity (verify stage).

    Self-join within ``block_col`` (a blocking/bucket key — at scale this is
    the LSH bucket, keeping the join linear in candidates).

    Shingles are hashed to int64 (portable md5 form) BEFORE the join: the
    per-pair intersection then compares fixed-width ints instead of strings
    — O(n·pairs) fewer bytes through the shuffle and the comparator
    (set-jaccard is hash-invariant modulo negligible md5 collisions)."""
    # repartition BEFORE the self-join: both join sides then share one
    # shuffle of already-shingled rows, so the (expensive) shingle build
    # runs once per doc instead of once per side — measured 2× on the whole
    # query — and the join arrives pre-partitioned by the block key.
    # The partition count is pinned (REPARTITION_BY_NUM): without a count,
    # AQE coalesces this small-BYTE shuffle to 1-2 tasks and serializes the
    # CPU-dense per-pair set intersections downstream (bytes are a poor
    # proxy for the O(|block|²·|sh|) verify work).
    n_parts = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    sh = (
        shingled_docs(docs, text_col, shingle_n, hashed=True)
        .select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("block"),
            F.col("sh"),
        )
        .repartition(n_parts, "block")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    # shingle arrays are distinct-element sets, so |a ∪ b| = |a|+|b|-|a ∩ b|:
    # avoids materializing a union array per candidate pair (2× less array
    # work in the verify join's inner loop)
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash16(text: Column) -> Column:
    """Portable 16-bit SimHash over word tokens: the vote sums of
    ``simhash_vote_counts(text, 16)`` packed into a BIGINT, bit i set when
    vote i is positive. Pure SQL; oracle-checkable.
    """
    powers = F.array(*[F.lit(2**b).cast("bigint") for b in range(16)])
    return F.aggregate(
        F.zip_with(
            simhash_vote_counts(text, 16),
            powers,
            lambda v, pw: F.when(v > 0, pw).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def simhash_vote_counts(text: Column, bits: int = 64) -> Column:
    """Per-bit SimHash VOTE SUMS as an ARRAY<BIGINT>[bits] — the
    intermediate the banding step consumes, NOT the banded signature.

    Per bit i: sum over tokens of ±1 (bit i of the token hash set → +1,
    else −1); the signature bit is 1 where the sum is positive. Callers
    must materialize this array in its own projection (the non-cheap
    multi-referenced alias blocks CollapseProject so the aggregate tower
    runs once) and derive band values with ``_bands_from_votes`` — see
    simhash_candidate_pairs_wide for the intended composition. Joining on
    raw vote counts would be meaningless (sums rarely collide).

    One aggregate pass over the tokens (a per-bit aggregate would repeat
    the hash tower once per bit); ≤2 md5 towers per token (each
    portable_hash64 yields 60 usable bits, so 64-bit signatures draw bits
    60..63 from a salted second hash). The bit test is a bitwiseAND
    against 2^b (shiftright needs a literal count). Pure JVM expressions.
    """
    if bits > 120:
        raise ValueError("bits > 120 needs a third hash; unsupported")
    toks = split_ws(text)
    h0 = F.transform(toks, lambda t: portable_hash64(t))
    zeros = F.array(*[F.lit(0).cast("bigint") for _ in range(bits)])
    if bits <= 60:
        # one hash backs every bit: zip the votes with a literal powers
        # array (measured 20-25% faster than the two-hash struct spec)
        powers = F.array(*[F.lit(2**i).cast("bigint") for i in range(bits)])
        return F.aggregate(
            h0,
            zeros,
            lambda acc, h: F.zip_with(
                acc,
                powers,
                lambda v, pw: v + F.when(h.bitwiseAND(pw) != 0, 1).otherwise(-1),
            ),
        )
    # bit spec: which hash (k) and which bitmask (pw) backs signature bit i
    bitspec = F.array(
        *[
            F.struct(
                F.lit(i // 60).cast("int").alias("k"),
                F.lit(2 ** (i % 60)).cast("bigint").alias("pw"),
            )
            for i in range(bits)
        ]
    )
    h1 = F.transform(toks, lambda t: portable_hash64(F.concat(F.lit("s1\x01"), t)))
    zipped = F.zip_with(h0, h1, lambda a, b: F.struct(a.alias("h0"), b.alias("h1")))
    return F.aggregate(
        zipped,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            bitspec,
            lambda v, s: v
            + F.when(
                F.when(s["k"] == 0, h["h0"]).otherwise(h["h1"]).bitwiseAND(s["pw"])
                != 0,
                1,
            ).otherwise(-1),
        ),
    )


def _bands_from_votes(votes_col: Column, bits: int, band_bits: int) -> Column:
    """Vote sums -> ARRAY<BIGINT>[bits/band_bits] of band values (each the
    packed signature bits of one band; Hamming distance between two
    signatures = sum of per-band bit_count(xor)). Reads the votes array
    ``bits`` times — pair it with a materialized vote column, never inline
    the aggregate (see simhash_vote_counts)."""
    if bits % band_bits != 0:
        raise ValueError("bits must be a multiple of band_bits")
    n_bands = bits // band_bits
    def band(b: int) -> Column:
        out = F.lit(0).cast("bigint")
        for j in range(band_bits):
            out = out + F.when(
                F.element_at(votes_col, b * band_bits + j + 1) > 0,
                F.lit(2**j).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        return out
    return F.array(*[band(b) for b in range(n_bands)])


def simhash_candidate_pairs_wide(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    band_bits: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """Production-width SimHash near-dup candidates (default 64-bit
    signature, 8-bit bands): by pigeonhole, any pair within Hamming
    distance ``n_bands - 1`` agrees on at least one band, so the
    (band_no, band_value) equi-join finds every such pair — recall-complete
    for ``max_hamming <= bits/band_bits - 1`` — while the wide signature
    keeps bucket collision density low on homogeneous corpora (the defect
    the 16-bit demo width documents). Survivors verified exactly with the
    summed per-band bit_count(xor). Shuffle ∝ band buckets, never n².

    Output: (id_a, id_b, hamming), id_a < id_b.
    """
    if max_hamming > bits // band_bits - 1:
        # ValueError, not assert: under `python -O` an assert vanishes and a
        # too-large max_hamming would silently return incomplete pairs.
        raise ValueError(
            f"max_hamming={max_hamming} breaks pigeonhole recall: with "
            f"{bits // band_bits} bands of {band_bits} bits the banded join "
            f"is only recall-complete for max_hamming <= {bits // band_bits - 1}"
        )
    votes = simhash_vote_counts(F.col(text_col), bits)
    # votes materialize in their own projection (non-cheap multi-referenced
    # alias blocks CollapseProject, so the aggregate tower runs ONCE), then
    # the band projection reads the array 'bits' times cheaply.
    sigs = (
        docs.select(F.col(id_col).alias("id"), votes.alias("__votes"))
        .select("id", _bands_from_votes(F.col("__votes"), bits, band_bits).alias("bands"))
        # eager: the self-join sides are concurrent stages and race a lazy
        # checkpoint's materialization (r6, same pattern as minhash buckets)
        .localCheckpoint(eager=True)
    )
    exploded = sigs.select(
        "id", F.posexplode("bands").alias("band", "val")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("bands").alias("bands_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("bands").alias("bands_b"))
    ham = F.aggregate(
        F.zip_with(
            F.col("bands_a"),
            F.col("bands_b"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 0,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos_sim ≥ t).

    Exact path (``n_planes=0``): thresholded self-join — correct and
    oracle-checkable, O(n²) compare but the dot product stays JVM-side
    (aggregate(zip_with), no Python). Scale path (``n_planes>0``): rows are
    first bucketed by signed random hyperplanes (similarity.hyperplane_bucket)
    and only same-bucket pairs are compared — the self-join becomes an
    equi-join on the bucket key (shuffle ∝ candidate pairs, AQE-splittable),
    at standard LSH recall. Both paths verify through
    similarity.cosine_pairs, so a pair's cos_sim is the same on either.
    """
    key = hyperplane_bucket(F.col(vec_col), n_planes, dim) if n_planes > 0 else None
    side = cosine_side(emb, id_col, vec_col, key)
    return cosine_pairs(side, side, ordered=True).where(
        F.col("cos_sim") >= threshold
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Representative selection, the step after near-dup clustering: for
    each cluster keep the highest-quality member (ties → smallest id).
    Documents absent from ``clusters`` (never paired by LSH) are singleton
    clusters of themselves.

    Scale shape: one left join on the id (clusters side is ≤ |docs| and
    pre-aggregated), then the winner per cluster via a max_by AGGREGATE —
    not a rank window — so map-side partial combine collapses hot clusters
    before the shuffle (a degenerate near-dup cluster of millions of rows
    reduces per-partition instead of sorting in one reducer); the winner
    join back is per-cluster-keyed, where AQE's skew splitting applies.
    Requires a numeric id (the tie-break negates it). Returns
    (id, cluster, is_kept).
    """
    c = clusters.select(
        F.col("node").alias("__node"), F.col("component").alias("cluster")
    )
    joined = docs.join(
        c, docs[id_col].cast("string") == F.col("__node"), "left"
    ).select(
        id_col,
        quality_col,
        F.coalesce(F.col("cluster"), docs[id_col].cast("string")).alias(
            "cluster"
        ),
    )
    # max of (quality, -id): highest quality wins, ties -> smallest id.
    # NULL quality is coalesced to -inf so it sorts below every real score
    # (max_by skips rows whose ordering struct is NULL — without the
    # coalesce an all-NULL-quality cluster would yield a NULL winner and
    # mixed clusters would silently exclude NULL-quality rows). NaN joins
    # NULL at the bottom: Spark orders NaN ABOVE every real double, so a
    # NaN-quality row would otherwise beat every genuine score (nanvl after
    # the double cast, so non-numeric quality types stay supported).
    qd = F.col(quality_col).cast("double")
    q = F.coalesce(F.nanvl(qd, F.lit(float("-inf"))), F.lit(float("-inf")))
    winners = joined.groupBy("cluster").agg(
        F.max_by(
            id_col, F.struct(q.alias("q"), (-F.col(id_col)).alias("nid"))
        ).alias("__keep_id")
    )
    return joined.join(winners, "cluster").select(
        id_col,
        "cluster",
        (F.col(id_col) == F.col("__keep_id")).alias("is_kept"),
    )


def lsh_verified_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification join — the
    near-dup pipeline core shared by dedup_lsh_verified / clustering /
    representative selection. Shuffle is proportional to candidate pairs
    only. Returns (id_a, id_b, jaccard DOUBLE raw — callers round/filter).
    """
    cands = minhash_lsh_candidates(
        docs, text_col=text_col, id_col=id_col, num_hashes=num_hashes, bands=bands
    )
    # materialized once: both verify joins read the same shingle partitions
    # instead of re-running the shingle build per side
    sh = (
        shingled_docs(docs, text_col=text_col)
        .select(F.col(id_col), F.col("sh"))
        # eager: both verify-join sides are concurrent stages and race a
        # lazy checkpoint's materialization (r6)
        .localCheckpoint(eager=True)
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size("a.sh") + F.size("b.sh") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cands.join(a, cands["id_a"] == F.col(f"a.{id_col}"))
        .join(b, cands["id_b"] == F.col(f"b.{id_col}"))
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


def simhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup candidates: band the 16-bit signature into four
    4-bit bands; by pigeonhole, any pair within Hamming distance 3 agrees
    on at least one band, so an equi-join on (band_no, band_value) finds
    every such pair — shuffle proportional to band buckets, never n².
    Survivors are verified exactly with bit_count(xor) <= max_hamming.

    16 bits is the oracle-portable demo width (the DuckDB oracle unrolls
    one CASE per bit); at production scale use simhash_candidate_pairs_wide
    (64-bit signature, 8-bit bands — same band-join/verify SHAPE) or
    candidate density explodes on homogeneous corpora.

    Output: (id_a, id_b, hamming), id_a < id_b.
    """
    sigs = docs.select(
        F.col(id_col).alias("id"), simhash16(F.col(text_col)).alias("sig")
    )
    bands = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", 4 * b)
                        .bitwiseAND(F.lit(15))
                        .alias("val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", F.col("bb.band").alias("band"), F.col("bb.val").alias("val"))
    # eager: concurrent self-join sides race a lazy checkpoint (r6)
    bands = bands.localCheckpoint(eager=True)
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    n: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication spans (Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better", reduced from suffix
    arrays to rolling n-grams): a token position is *duplicated* when the
    n-gram starting there occurs >= min_count times corpus-wide; runs of
    consecutive duplicated positions merge into maximal (start, end)
    spans — the byte ranges a curation pass would cut or down-weight.

    Output: (doc_id, span_start, span_end, n_dup_grams) with token-index
    bounds [span_start, span_end) and the number of duplicated n-grams
    the span absorbed.

    Scale shape: the n-gram explode is narrow (per-row transform over a
    sequence — no join); the global count is ONE map-side-combining hash
    aggregate on the 60-bit gram hash; marking positions is an equi-join
    of grams against the >=min_count hash set (shuffle proportional to
    gram occurrences, never docs x grams); the island merge is a window
    over only the DUPLICATED positions of each doc (post-filter, so its
    exchange carries the duplicated subset, not the corpus).
    """
    if n < 1 or min_count < 2:
        raise ValueError(f"need n >= 1 and min_count >= 2, got {n}/{min_count}")
    toks = split_ws(F.col(text_col))
    # filter BEFORE projecting text away: sequence(0, negative) would
    # otherwise generate a DESCENDING sequence for docs shorter than n
    grams = (
        docs.where(F.size(toks) >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda p: F.struct(
                        p.alias("p"),
                        portable_hash64(
                            F.concat_ws(" ", F.slice(toks, p + 1, n))
                        ).alias("h"),
                    ),
                )
            ).alias("g"),
        )
        .select(id_col, F.col("g.p").alias("p"), F.col("g.h").alias("h"))
    )
    # eager: counts + mark are concurrent consumer stages, which race a
    # lazy checkpoint's materialization (r6)
    grams = grams.localCheckpoint(eager=True)
    dup_hashes = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("h")
    )
    marked = grams.join(dup_hashes, "h").select(id_col, "p")
    from pyspark.sql import Window

    # two duplicated grams merge when their token coverages [p, p+n) touch
    # or overlap, i.e. the position gap is <= n (not just consecutive p)
    w = Window.partitionBy(id_col).orderBy("p")
    islands = marked.withColumn(
        "brk", F.when(F.col("p") - F.lag("p").over(w) > n, 1).otherwise(0)
    ).withColumn(
        "grp",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy(id_col, "grp")
        .agg(
            F.min("p").cast("bigint").alias("span_start"),
            (F.max("p") + n).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
        )
        .drop("grp")
        .select(id_col, "span_start", "span_end", "n_dup_grams")
    )
