"""SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
cluster the embedding space with a deterministic k-means, then prune
near-duplicates *within* each cluster by cosine threshold — the scale
trick being that the O(n^2) cosine comparison is confined to cluster
members instead of the whole corpus.

Determinism / oracle parity:
* Initial centroids are the corpus vectors with the k lowest portable
  hashes (similarity.seeded_centroids — reproducible on any engine).
* The single Lloyd refinement averages member vectors in EXACT integer
  micro-units (component -> floor(x * 1e6 + 0.5) BIGINT; sum BIGINT;
  floor-division by the member count in pure integer math), so the
  refined centroids are bit-identical regardless of partitioning or
  engine — a float mean would differ in the last ulp between Spark's
  partial aggregation and a sequential oracle.
* Assignment reuses similarity.ivf_assign (literal centroid array,
  per-row argmin, zero shuffle, deterministic (cos DESC, cid ASC)
  tie-break).

Scale shape: assignment passes are narrow (no join, no window); the
Lloyd update is one map-side-combining (cid, dim) aggregate whose
result is k x dim rows (collected: tiny); the prune self-join is an
equi-join on cluster_id, so shuffle and comparison volume are
proportional to intra-cluster pairs, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from relex_spark.operators.similarity import (
    cosine_pairs,
    cosine_side,
    ivf_assign,
    seeded_centroids,
)

U6 = 1_000_000


# Exact integer floor division, portable: subtracting pmod makes the
# numerator exactly divisible, so Spark's `div` / DuckDB's `//` (both
# truncating integer division) give the floor with NO float en route —
# the sums stay bigint-exact at any corpus size.
_FLOORDIV_SQL = "(s - pmod(s, n)) div n"


def lloyd_refine_u6(assigned: DataFrame) -> list[dict]:
    """One Lloyd iteration in exact integer micro-units: per (cluster,
    dim), mean_u6 = floor(sum(round(x*1e6)) / n). Input needs columns
    (centroid_id, v). Returns [{centroid_id, cv}] with cv the refined
    centroid as doubles (mean_u6 / 1e6 — the same IEEE division on every
    engine)."""
    comp = assigned.select(
        "centroid_id",
        F.posexplode(
            F.transform(
                F.col("v"),
                lambda x: F.floor(x.cast("double") * U6 + F.lit(0.5)).cast("bigint"),
            )
        ).alias("dim", "x_u6"),
    )
    rows = (
        comp.groupBy("centroid_id", "dim")
        .agg(F.sum("x_u6").alias("s"), F.count(F.lit(1)).alias("n"))
        .selectExpr("centroid_id", "dim", f"{_FLOORDIV_SQL} AS m_u6")
        .collect()
    )
    vecs: dict[int, dict[int, int]] = {}
    for r in rows:
        vecs.setdefault(int(r["centroid_id"]), {})[int(r["dim"])] = int(r["m_u6"])
    out = []
    for cid, dims in sorted(vecs.items()):
        cv = [dims[d] / U6 for d in range(len(dims))]
        out.append({"centroid_id": cid, "cv": cv})
    return out


def semantic_dedup(
    vectors: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster_id, pruned): cluster with seeded k-means (+1 exact
    Lloyd iteration), then mark a vector pruned iff a lower-id member of
    its final cluster is cosine-similar above ``threshold`` (the kept
    lower ids are the SemDeDup representatives)."""
    base = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    seeds = seeded_centroids(vectors, n_clusters, id_col, vec_col)
    first = ivf_assign(base, seeds, nprobe=1, id_col="id", vec_col="v")
    refined = lloyd_refine_u6(first)
    # side projection (id, v, norm, key = cluster id) built once: three
    # consumers (both prune sides + the output join) read the checkpoint,
    # so the scan, the k-centroid argmin and the norm run once per row
    final = cosine_side(
        ivf_assign(base, refined, nprobe=1, id_col="id", vec_col="v"),
        "id",
        "v",
        F.col("centroid_id"),
    ).localCheckpoint(eager=False)
    pruned_ids = (
        cosine_pairs(final, final, ordered=True)
        .where(F.col("cos_sim") >= F.lit(threshold))
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__pruned", F.lit(True))
    )
    return (
        final.join(pruned_ids, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.col("key").cast("int").alias("cluster_id"),
            F.coalesce(F.col("__pruned"), F.lit(False)).alias("pruned"),
        )
    )
