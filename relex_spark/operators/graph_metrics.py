"""Graph analytics over materialized edge tables (the KG consumer side):
degree statistics and fixed-iteration PageRank.

PageRank here is the standard Pregel-shaped DataFrame loop: per iteration
one equi-join (edges x ranks on src) and one aggregation (sum of
contributions by dst) — shuffle per iteration is proportional to |edges|,
exactly like `canonicalize.connected_components`. Lineage is truncated
with a ``localCheckpoint(eager=False)`` per iteration so the plan does not
grow exponentially with iterations (the same discipline as the CC loop).
That checkpoint is not lazy under AQE: building its RDD finalizes the
adaptive plan, so each one runs its shuffle stages while the DataFrame is
built (17 jobs while ``x_pagerank`` is built at sf0.01); only its last
stage waits for an action.
Fixed iteration count (not convergence-tested) keeps it deterministic and
DuckDB-oracle-checkable via unrolled CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from relex_spark.operators.textstats import micro_units


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node in/out degree over a (src, dst) edge table — one
    aggregation per direction, outer-merged so single-direction nodes
    appear with a zero."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration simple PageRank (uniform init 1.0, no dangling-mass
    redistribution — the textbook simplification; dangling nodes keep
    rank (1-d) + inbound contributions, they just don't emit).

    Returns (node, rank) for every node appearing as src or dst.
    """
    edges = edges.select("src", "dst")
    out_deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    )
    e = edges.join(out_deg, "src").localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inbound"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("inbound", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def pagerank_u6(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Oracle-facing projection: ranks in engine-portable micro-units."""
    r = pagerank(edges, iterations=iterations)
    return r.select("node", micro_units(F.col("rank")).alias("rank_u6"))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an UNDIRECTED edge table (src, dst)
    — the local-clustering signal for the canonical entity graph (hub
    entities with low triangle density are canonicalization suspects:
    they connect communities that never co-occur).

    Scale shape — the standard degree-orientation trick (node-iterator++):
    every edge is oriented from the (degree, node)-lexicographically
    smaller endpoint to the larger, so each triangle is enumerated exactly
    once and the wedge self-join fans out quadratically in the ORIENTED
    out-degree, which is O(sqrt(|E|)) even for hub vertices — a Zipf-hub
    entity with 10^6 neighbours produces ~|E| wedges, not 10^12. Three
    shuffles total (degree agg, wedge self-join, closing-edge equi-join);
    per-vertex rollup rides the closing join's output.

    Input may contain duplicates, self-loops, and both directions of the
    same edge; all are normalized away first. Output: (node, triangles
    BIGINT) for every node of the deduped graph (zero-triangle nodes
    included). Triangle counts are orientation-invariant, so a DuckDB
    oracle can verify with the naive a<b<c three-way join.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        # lineage truncation (same discipline as the pagerank/CC loops):
        # e is referenced by FIVE downstream nodes (degree agg, two degree
        # joins, closing-edge probe, node zero-fill) — without this the
        # upstream edge derivation (e.g. full mention detection) re-executes
        # once per reference. Eager: the five consumers are concurrent
        # stages and race a lazy checkpoint's materialization (r6).
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    # orient by (deg, node): lower endpoint -> higher endpoint
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)
    # wedges (u -> v, u -> w) with a canonical v < w; triangle closes when
    # the oriented graph also holds v->w or w->v — exactly one of the two
    # exists if the undirected edge does, so probe the UNDIRECTED set
    o1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = o1.join(o2, "u").where(F.col("x") < F.col("y"))
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    per_vertex = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    return deg.select("node").join(per_vertex, "node", "left").select(
        "node", F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles")
    )
