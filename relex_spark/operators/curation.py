"""Corpus-curation operators for training-data pipelines: deterministic
stratified sampling, benchmark decontamination via n-gram overlap, and a
CCNet-style bigram-LM quality score.

All pure DataFrame/SQL (whole-stage codegen, no Python); all hashing uses
the portable md5-prefix form (functions.text.portable_hash64) so every
operator is DuckDB-oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from relex_spark.functions.text import portable_hash64, split_ws, word_bigrams
from relex_spark.operators.dedup import shingled_docs
from relex_spark.operators.textstats import micro_units

SAMPLE_MOD = 1_000_000


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling: a row is kept iff
    ``portable_hash64(id) % 1e6 < floor(rate * 1e6)`` for its stratum's
    rate. The usual curation move (keep 100% of rare languages / trusted
    sources, x% of the head) — but reproducible: membership is a pure
    function of the id, so reruns, cluster sizes, and partitionings all
    select the identical sample (unlike ``df.sampleBy``, which is seeded
    per-partition-split).

    Scale shape: narrow map-only filter — no shuffle, no sort, no state.
    """
    h = portable_hash64(F.col(id_col).cast("string")) % SAMPLE_MOD
    expr = F.lit(int(math.floor(default_rate * SAMPLE_MOD)))
    for stratum, rate in sorted(rates.items()):
        expr = F.when(
            F.col(stratum_col) == stratum,
            F.lit(int(math.floor(rate * SAMPLE_MOD))),
        ).otherwise(expr)
    return docs.where(h < expr)


def benchmark_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Decontamination signal: per document, the count and fraction of its
    word n-gram shingles that also occur anywhere in ``benchmark`` (the
    GPT-3/PaLM-style eval-set overlap check), plus a ``contaminated`` flag
    at ``threshold``.

    Scale shape: both sides reduce to hashed-shingle sets first; the
    benchmark side collapses to DISTINCT int64 hashes; one equi-join on the
    hash — shuffle is proportional to the shingle sets, never to
    |docs| x |benchmark|. The join is left-outer so zero-overlap documents
    are reported (as contaminated = false), not dropped.
    """
    d = shingled_docs(docs, text_col, shingle_n, out_col="sh", hashed=True)
    dd = d.select(
        F.col(id_col),
        F.size("sh").cast("bigint").alias("n_shingles"),
        F.explode("sh").alias("h"),
    )
    b = (
        shingled_docs(benchmark, text_col, shingle_n, out_col="sh", hashed=True)
        .select(F.explode("sh").alias("h"))
        .distinct()
        .withColumn("hit", F.lit(1).cast("bigint"))
    )
    agg = (
        dd.join(b, "h", "left")
        .groupBy(id_col, "n_shingles")
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_hits"))
    )
    frac = F.col("n_hits").cast("double") / F.col("n_shingles").cast("double")
    return agg.select(
        id_col,
        "n_shingles",
        "n_hits",
        micro_units(frac).alias("overlap_frac_u6"),
        (frac >= F.lit(threshold)).alias("contaminated"),
    )


def _bloom_positions(h, i: int, m_bits: int):
    """Bit position i of the double-hashing Bloom family over a portable
    60-bit nonnegative hash ``h``: ``(h % m + i * (1 + (h >> 30) % (m-1)))
    % m``. Pure int64 arithmetic, identical in Spark and DuckDB (both `%`
    and `>>` agree on nonnegative operands; max intermediate < (k+1)*m,
    no overflow). The step ``h2`` is forced into [1, m-1] so the k probes
    never collapse onto one bit."""
    h1 = h % F.lit(m_bits)
    h2 = F.shiftright(h, 30) % F.lit(m_bits - 1) + F.lit(1)
    return (h1 + F.lit(i) * h2) % F.lit(m_bits)


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 3,
    m_bits: int = 1 << 18,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Decontamination at broadcast-bitset scale: same signal as
    ``benchmark_overlap`` (per-doc fraction of word n-gram shingles seen in
    the benchmark), but the benchmark side collapses to an m-bit Bloom
    filter (k double-hashed probes per shingle) instead of a distinct-hash
    join side. A shingle "hits" iff all k bits are set — one-sided error:
    every true overlap is counted (no false negatives by construction);
    false positives occur at the standard (1 - e^(-kn/m))^k rate and are
    PART of the operator's defined semantics (the DuckDB oracle builds the
    identical bit set, so results match bit-for-bit).

    Scale shape: this is the 100-TB variant of decontamination. The exact
    join ships every document shingle hash through a shuffle; here the
    eval-set bits (m/8 bytes — 32 KiB at the default 2^18, independent of
    corpus size) constant-fold into the plan as ONE array<bigint> literal,
    and the probe is a map-only codegen pass over the corpus: zero
    shuffle, zero join. The only driver-side step is collecting the
    benchmark's distinct bit positions (bounded by m — a tiny-aggregate
    finalize, same class as the vocab broadcast).

    Output column names are distinct from ``benchmark_overlap``'s
    (``n_bloom_hits``/``bloom_frac_u6``/``flagged``) so the two signals can
    be joined side-by-side when measuring the false-positive rate.
    """
    if m_bits < 2 or m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64 >= 64, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    bench_sh = shingled_docs(benchmark, text_col, shingle_n, out_col="sh", hashed=True)
    bench_h = bench_sh.select(F.explode("sh").alias("h"))
    pos_rows = (
        bench_h.select(
            F.explode(
                F.array(*[_bloom_positions(F.col("h"), i, m_bits) for i in range(k)])
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * (m_bits // 64)
    for row in pos_rows:
        p = row["p"]
        words[p >> 6] |= 1 << (p & 63)
    # int64 literals are signed; re-interpret the top bit
    words_lit = F.array(
        *[F.lit(w - (1 << 64) if w >= 1 << 63 else w) for w in words]
    )

    def shingle_hit(h):
        hit = F.lit(True)
        for i in range(k):
            p = _bloom_positions(h, i, m_bits)
            word = F.element_at(words_lit, F.shiftright(p, 6).cast("int") + F.lit(1))
            hit = hit & (F.getbit(word, p % F.lit(64)) == F.lit(1))
        return hit

    d = shingled_docs(docs, text_col, shingle_n, out_col="sh", hashed=True)
    n_shingles = F.size("sh").cast("bigint")
    n_hits = F.size(F.filter(F.col("sh"), shingle_hit)).cast("bigint")
    frac = F.col("n_bloom_hits").cast("double") / F.nullif(
        F.col("n_shingles"), F.lit(0)
    ).cast("double")
    return (
        d.select(
            F.col(id_col),
            n_shingles.alias("n_shingles"),
            n_hits.alias("n_bloom_hits"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_bloom_hits",
            micro_units(frac).alias("bloom_frac_u6"),
            F.coalesce(frac >= F.lit(threshold), F.lit(False)).alias("flagged"),
        )
    )


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style LM quality signal: train an add-one-smoothed bigram LM
    on the corpus itself, score each document by its mean bigram log-prob
    (Wenzek et al. 2020 filter perplexity, reduced to SQL-exact bigram
    counts).  P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), V = |vocabulary|.

    Scale shape: ONE pass over the corpus — per-doc bigram multiplicities
    (two-level hash aggregate), materialized via
    ``localCheckpoint(eager=False)`` — under AQE its shuffle stages run
    while the DataFrame is built (with c2's, 2 jobs for ``x_lm_score`` at
    sf0.01) — because three consumers derive from it: the corpus bigram counts
    (c2 = Σ m), the prefix marginals (c1 from c2), and the vocabulary size
    (V = distinct {w1} ∪ {w2} over c2's keys, which equals the distinct
    tokens of all ≥2-token docs: every such token occurs in some bigram).
    The probability join then touches distinct (doc, bigram) pairs, not
    every occurrence; V is a 1-row aggregate cross-joined in (broadcast
    nested loop of one row). Docs with < 2 tokens carry no bigram and are
    excluded by contract.
    """
    toks = split_ws(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("toks")).where(
        F.size("toks") >= 2
    )
    big = base.select(
        id_col,
        F.explode(word_bigrams(F.col("toks"))).alias("bigram"),
    )
    # the only per-occurrence pass; checkpointed so c2/c1/V don't re-scan
    doc_big = big.groupBy(id_col, "bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    ).localCheckpoint(eager=False)
    c2 = doc_big.groupBy("bigram").agg(F.sum("m").cast("bigint").alias("c2"))
    c2 = c2.localCheckpoint(eager=False)
    c1 = (
        c2.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .groupBy("w1")
        .agg(F.sum("c2").cast("bigint").alias("c1"))
    )
    vocab = (
        c2.select(
            F.explode(
                F.array(
                    F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)),
                    F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)),
                )
            ).alias("tok")
        )
        .agg(F.count_distinct("tok").cast("bigint").alias("v"))
    )
    scored = (
        doc_big.join(c2, "bigram")
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "logp",
            F.log(
                (F.col("c2") + F.lit(1)).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            (F.sum(F.col("m") * F.col("logp")) / F.sum("m")).alias("_mean"),
        )
        .select(
            id_col,
            "n_bigrams",
            micro_units(F.col("_mean")).alias("mean_logp_u6"),
        )
    )


def curation_pipeline(
    docs: DataFrame,
    budgets: dict[str, int],
    quality_min_u6: int = 200_000,
    contamination_threshold: float = 0.5,
    jaccard_threshold: float = 0.5,
    pack_budget: int = 256,
    pack_shards: int = 8,
    mix_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """The full training-data curation recipe as ONE declarative plan:

        quality filter -> benchmark decontamination -> exact dedup ->
        near-dup prune -> per-source token-budget mix -> sequence packing

    Every stage is the already-oracle-checked operator (quality_score,
    benchmark_overlap, exact keep-min, jaccard_pairs, token_budget_mix,
    pack_greedy) — this composes them with anti-join eliminations, so a
    user runs the whole recipe without materializing intermediates.
    The benchmark slice is ``doc_id % 31 == 0`` of the ORIGINAL corpus
    (decontamination must see the raw benchmark even if quality would
    have cut it). Requires the ``block_cols`` columns (the near-dup
    blocking key) and a ``source`` column (the mix stratum) besides
    id/text. Output: (<id_col>, source, shard, pack_id, pack_pos,
    tok_count, cum_tokens) for the packed survivors.

    Scale shape: each elimination is a hash/broadcast anti-join on the id
    or a map-side filter; stage boundaries are
    ``localCheckpoint(eager=False)``s so the branching consumers (e.g.
    overlap reads the quality survivors twice) don't recompute the
    upstream chain. They are not lazy under AQE: each runs its shuffle
    stages while the DataFrame is built (16 jobs for
    ``x_curation_pipeline`` at sf0.01).
    """
    from relex_spark.operators.dedup import exact_dedup_groups, jaccard_pairs
    from relex_spark.operators.packing import pack_greedy, token_budget_mix
    from relex_spark.operators.textstats import micro_units, quality_score

    # 1. quality floor (map-only filter; micro-unit compare = oracle-exact)
    q = docs.where(
        micro_units(quality_score(F.col(text_col))) >= quality_min_u6
    ).localCheckpoint(eager=False)
    # 2. decontamination vs the raw benchmark slice
    bench = docs.where(F.col(id_col) % 31 == 0)
    overlap = benchmark_overlap(
        q, bench, shingle_n=3, threshold=contamination_threshold,
        text_col=text_col, id_col=id_col,
    )
    contaminated = overlap.where(F.col("contaminated")).select(id_col)
    clean = q.join(contaminated, id_col, "left_anti")
    # 3. exact dedup: keep the minimum id per md5(text) — the SAME
    # operator dedup_exact oracle-checks, not a reimplementation
    keep = exact_dedup_groups(clean, text_col=text_col, id_col=id_col).select(
        F.col("keep_id").alias(id_col)
    )
    exact = clean.join(keep, id_col).localCheckpoint(eager=False)
    # 4. near-dup prune: blocked Jaccard verify, drop the higher id
    blocked = exact.withColumn("block", F.concat_ws("|", *block_cols))
    pairs = jaccard_pairs(
        blocked, "block", text_col=text_col, id_col=id_col,
        shingle_n=3, threshold=jaccard_threshold,
    )
    nd = exact.join(
        pairs.select(F.col("id_b").alias(id_col)).distinct(), id_col, "left_anti"
    ).localCheckpoint(eager=False)
    # 5. per-source token budgets
    # n_buckets pinned (recipe outputs must be layout-independent; the
    # packing module's derived default is for ad-hoc scale, not recipes)
    mixed = token_budget_mix(
        nd, budgets, id_col=id_col, text_col=text_col, n_buckets=mix_buckets
    ).localCheckpoint(eager=False)
    # 6. pack the mixed survivors
    packed = pack_greedy(
        nd.join(mixed.select(id_col), id_col),
        budget=pack_budget, n_shards=pack_shards,
        id_col=id_col, text_col=text_col,
    )
    return packed.join(
        mixed.select(id_col, "source", "cum_tokens"), id_col
    ).select(
        id_col, "source", "shard", "pack_id", "pack_pos",
        "tok_count", "cum_tokens",
    )
