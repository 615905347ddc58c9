"""Similarity search over embedding columns (ARRAY<FLOAT>).

* ``cosine_topk`` — brute-force exact top-k: query set × corpus with the
  dot product as a pure SQL ``aggregate(zip_with(...))`` (JVM-side, no
  Python). Baseline and oracle-checkable.
* ``lsh_bucketed_topk`` — the scale path: random-hyperplane LSH buckets
  (signs of portable hashed projections), candidates restricted to matching
  buckets, exact rerank within. Bucket assignment is pure SQL; at 100 TB
  the corpus-side bucket id becomes a partition/bucket key so a query only
  shuffles against its own buckets.

Every exact-cosine comparison in the engine (these top-k paths,
dedup.embedding_cosine_pairs, the SemDeDup prune) is ONE join:
``cosine_side`` projects each side once to (id, v, norm[, block key]),
``cosine_pairs`` compares the pairs the block key lets meet, and
``rank_top_k`` ranks them. Blocking (brute force, LSH bucket, IVF list,
cluster) only decides which pairs meet.

Ranking determinism: rank on ROUND(cos, 6) with id tie-break, so float
association order across engines cannot flip ranks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def _cosine(a: Column, a_norm: Column, b: Column, b_norm: Column) -> Column:
    return _dot(a, b) / (a_norm * b_norm)


def cosine_side(
    df: DataFrame, id_col: str, vec_col: str, key: Column | None = None
) -> DataFrame:
    """Side projection of the cosine join: (id, v, norm[, key]).

    sqrt(Σv²) is a pure per-row quantity, so it is computed here, once per
    row; inside the pair join both norm aggregates would run once per PAIR
    (measured ≈2/3 of the join-stage CPU at 200 queries × 10k vectors).
    ``key`` is an optional block key: only rows with equal keys are
    paired."""
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("norm"),
    ]
    if key is not None:
        cols.append(key.alias("key"))
    return df.select(*cols)


def cosine_pairs(a: DataFrame, b: DataFrame, ordered: bool) -> DataFrame:
    """Exact cosine between two ``cosine_side`` projections:
    (id_a, id_b, cos_sim), cos_sim = ROUND(dot / (norm_a * norm_b), 6).

    Pairs need equal block keys when the sides carry one, and
    ``id_a < id_b`` (``ordered``, a self-join reporting each pair once) or
    ``id_a != id_b``. The norms multiply per pair in the same float order
    as an inline per-pair norm, so cos_sim is bit-identical to it. A
    broadcast hint on ``a`` carries through to the join."""
    a, b = a.alias("a"), b.alias("b")
    a_id, b_id = F.col("a.id"), F.col("b.id")
    cond = (a_id < b_id) if ordered else (a_id != b_id)
    if "key" in a.columns:
        cond = (F.col("a.key") == F.col("b.key")) & cond
    cos = _cosine(F.col("a.v"), F.col("a.norm"), F.col("b.v"), F.col("b.norm"))
    return a.join(b, cond).select(
        a_id.alias("id_a"), b_id.alias("id_b"), F.round(cos, 6).alias("cos_sim")
    )


def rank_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Per id_a, the k best ``cosine_pairs`` rows ranked (cos_sim DESC,
    id_b ASC): (query_id, neighbor_id, rank, cos_sim)."""
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), F.asc("id_b"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("neighbor_id"),
            "rank",
            "cos_sim",
        )
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, neighbor_id, rank, cos_sim).

    The query side is expected to be small (broadcast); corpus scan is a
    single pass, ranking via per-query window."""
    q = F.broadcast(cosine_side(queries, id_col, vec_col))
    return rank_top_k(
        cosine_pairs(q, cosine_side(corpus, id_col, vec_col), ordered=False), k
    )


def plane_signs(n_planes: int, dim: int, seed: str = "lsh") -> list[list[float]]:
    """Deterministic ±1 hyperplane components: sign(p, j) = +1 iff the
    60-bit md5 hash of "seed:p:j" is even — the portable_hash64 scheme, so
    any engine (the DuckDB oracle included) reproduces the same planes."""
    import hashlib

    def h64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [1.0 if h64(f"{seed}:{p}:{j}") % 2 == 0 else -1.0 for j in range(dim)]
        for p in range(n_planes)
    ]


def hyperplane_bucket(vec: Column, n_planes: int, dim: int, seed: str = "lsh") -> Column:
    """Random-hyperplane LSH bucket id (0..2^n_planes-1), pure SQL.

    Plane p's normal components are deterministic pseudo-randoms
    h(seed,p,j) mapped to ±1; the bucket bit is the projection's sign.
    Engine-independent (md5-based), so corpus bucketing is reproducible
    across runs and clusters — required for incremental index maintenance.
    The signs depend only on (seed, p, j), so they are computed once
    driver-side and inlined as literal arrays: the per-row work is one
    zip_with dot product per plane, no hashing on the hot path.
    """
    signs = plane_signs(n_planes, dim, seed)
    bucket = F.lit(0).cast("int")
    for p in range(n_planes):
        proj = _dot(vec, F.array(*[F.lit(s) for s in signs[p]]))
        bucket = bucket + F.when(proj > 0, F.lit(2**p)).otherwise(0)
    return bucket


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: candidates share the query's hyperplane bucket; exact cosine
    rerank within the bucket. Recall < 1 by construction (probe only one
    bucket); scale path for corpora where brute force is infeasible."""
    def side(df: DataFrame) -> DataFrame:
        return cosine_side(
            df, id_col, vec_col, hyperplane_bucket(F.col(vec_col), n_planes, dim)
        )

    return rank_top_k(
        cosine_pairs(F.broadcast(side(queries)), side(corpus), ordered=False), k
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame | list,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (by cosine).

    Zero shuffle and zero row inflation: the centroid table is tiny by
    contract (the inverted-file fan-out), so it is collected once and
    inlined as a literal array of (cid, cv, cnorm) structs; each vector's
    top-``nprobe`` centroids come from a per-row transform → array_sort →
    slice — one narrow pass over the corpus, no join, no window.
    Output: (id, v, centroid_id, crank) with crank in 1..nprobe.
    """
    if isinstance(centroids, DataFrame):
        centroids = centroids.select("centroid_id", "cv").collect()
    cent_lits = []
    for row in sorted(centroids, key=lambda r: r["centroid_id"]):
        cv = [float(x) for x in row["cv"]]
        cnorm = sum(x * x for x in cv) ** 0.5
        cent_lits.append(
            F.struct(
                F.lit(int(row["centroid_id"])).alias("cid"),
                F.array(*[F.lit(x) for x in cv]).alias("cv"),
                F.lit(cnorm).alias("cnorm"),
            )
        )
    cents = F.array(*cent_lits)
    base = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("__vnorm", _norm(F.col("v")))
    # sort key (-cos, cid): ascending array_sort == (cos DESC, cid ASC)
    sims = F.transform(
        cents,
        lambda c: F.struct(
            (-_cosine(F.col("v"), F.col("__vnorm"), c["cv"], c["cnorm"])).alias(
                "nsim"
            ),
            c["cid"].alias("cid"),
        ),
    )
    top = F.slice(F.array_sort(sims), 1, nprobe)
    return base.select(
        "id", "v", F.posexplode(top).alias("__pos", "__c")
    ).select(
        "id",
        "v",
        F.col("__c.cid").alias("centroid_id"),
        (F.col("__pos") + 1).cast("int").alias("crank"),
    )


def seeded_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF 'training': pick n_centroids corpus vectors by
    portable hash order (reproducible across runs/partitionings — the
    engine-wide determinism rule). The pick is ``orderBy(...).limit(n)``,
    which compiles to TakeOrderedAndProject (per-partition top-k + driver
    merge of k rows — no global sort); centroid ids are then ranked over
    the already-tiny n-row result. A Lloyd refinement is one extra
    groupBy(centroid_id).agg(avg per dim) round if ever needed; seeded
    selection is the documented contract here."""
    from relex_spark.functions.text import portable_hash64

    h = portable_hash64(F.concat(F.lit("ivf:"), F.col("__id").cast("string")))
    picked = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("cv"))
        .withColumn("__h", h)
        .orderBy("__h", "__id")
        .limit(n_centroids)
    )
    w = Window.orderBy("__h", "__id")  # over n_centroids rows only
    return picked.withColumn(
        "centroid_id", (F.row_number().over(w) - 1).cast("int")
    ).select("centroid_id", "cv")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: corpus vectors bucketed by nearest centroid (inverted
    file); each query probes its ``nprobe`` nearest centroids' lists and
    exact-cosine-reranks only those candidates. Recall grows with nprobe
    (nprobe == n_centroids degenerates to brute force). The scale shape:
    centroid assignment is one zero-shuffle pass per side (literal centroid
    array, per-row argmin — no join, no window), the probe join is an
    equi-join on centroid_id — shuffle proportional to probed candidates,
    never |queries|×|corpus|.
    """
    # one tiny driver collect (n_centroids rows) shared by both assignments
    cent_rows = seeded_centroids(corpus, n_centroids, id_col, vec_col).collect()
    lists = ivf_assign(corpus, cent_rows, nprobe=1, id_col=id_col, vec_col=vec_col)
    probes = ivf_assign(queries, cent_rows, nprobe=nprobe, id_col=id_col, vec_col=vec_col)
    probed = cosine_side(probes, "id", "v", F.col("centroid_id"))
    listed = cosine_side(lists, "id", "v", F.col("centroid_id"))
    # no dedupe needed: corpus-side nprobe=1 puts each neighbor in exactly
    # one inverted list, so (query_id, neighbor_id) is unique
    return rank_top_k(cosine_pairs(probed, listed, ordered=False), k)
