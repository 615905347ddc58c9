"""Entity linking + canonicalization (north rule: "salted hash-join +
connected-components-style key resolution to handle skewed hot entities").

Two pieces:

1. ``connected_components`` — alternating large-star/small-star iteration
   (Kiveris et al., "Connected Components in MapReduce and Beyond", SOCC'14)
   expressed as DataFrame self-joins with AQE skew splitting; converges in
   O(log n) rounds. Each round is hash-partitioned by node id; the driver
   loop only checks a one-row convergence aggregate.

2. ``canonicalize_triples`` — rewrites subj/obj through the component map
   (broadcast when small, shuffle-join with optional salting when not) and
   aggregates duplicate triples with a salted two-phase count for hot
   (subj, pred, obj) keys.

The reference has no multi-document entity resolution (single-sentence
pipelines); this stage is the engine-side requirement from BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node's strictly-larger neighbors attach to
    the minimum of its closed neighborhood."""
    sym = _symmetrize(e)
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    return (
        sym.where(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: direct edges large→small, then every node and its
    smaller neighbors attach to the neighborhood minimum."""
    d = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = d.groupBy("src").agg(F.min("dst").alias("m"))
    joined = d.join(mins, "src")
    small_to_min = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_to_min = joined.select(F.col("src"), F.col("m").alias("dst"))
    return (
        small_to_min.union(self_to_min)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _edge_signature(e: DataFrame) -> tuple[int, int]:
    """Cheap fixpoint signature: (edge count, XOR of 64-bit edge hashes) —
    order-insensitive and overflow-free (ANSI mode forbids wrapping SUM).
    Equal signatures on a distinct edge set imply equality up to a 64-bit
    collision — negligible, and convergence is also bounded by
    max_iterations."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _components_local(edge_rows: list) -> list[tuple[str, str]]:
    """Driver-side min-label union-find over a collected edge list.

    Identical contract to the distributed path: every node of the
    symmetrized graph labeled with the lexicographically-smallest node id
    of its component (Spark string ordering is UTF-8 byte order, which
    matches Python's code-point comparison for these ids)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    has_null = False
    for src, dst in edge_rows:
        for n in (src, dst):
            if n is None:
                # distributed-path parity: a NULL endpoint never joins a
                # component (NULL != x filters the edge) but still labels
                # itself — emitted as a (NULL, NULL) row
                has_null = True
            elif n not in parent:
                parent[n] = n
        if src is not None and dst is not None and src != dst:
            ra, rb = find(src), find(dst)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    labels: list[tuple[str | None, str | None]] = sorted(
        (n, find(n)) for n in parent
    )
    if has_null:
        labels.append((None, None))
    return labels


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    checkpoint_every: int = 1,
    local_threshold: int = 4096,
) -> DataFrame:
    """Minimum-label connected components over an undirected edge list.

    Input: DataFrame(src STRING, dst STRING). Output: DataFrame(node STRING,
    component STRING) where component is the lexicographically-smallest
    node id in the component.

    Small graphs (``<= local_threshold`` edges — alias gazetteers are
    dim-sized by definition) are collected and solved with a driver-side
    union-find: the iterative star algorithm costs ~10 Spark jobs with two
    eager checkpoints, pure overhead when the edge list is a broadcast-
    sized dim (measured ~1.5s of driver-loop time for a 40-edge gazetteer
    at every timed query that builds a component map). The collect is
    bounded by the threshold probe, so no unbounded driver transfer can
    happen; identical labels either way. The default threshold matches
    local_dim's few-thousand-row VALUES contract; for graphs above it the
    probe costs one bounded partial pass of the upstream plan — comparable
    to the eager edge materialization the distributed loop starts with.

    Large graphs use the alternating large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14) as DataFrame self-joins — converges in O(log² n) rounds
    (O(log n) in practice) regardless of graph diameter, so long entity
    chains cost the same as alias stars. Each round is a groupBy + join
    keyed by node id; AQE handles skewed hub nodes. At the fixpoint the
    edge set is exactly {(node, component-min)} for every non-root node.

    Both paths return STRING columns and order labels as strings, so any
    other ``src``/``dst`` type is rejected up front (TypeError naming the
    cast) rather than labelled differently by the two paths.
    """
    wrong = {
        f.name: f.dataType.simpleString()
        for f in edges.schema.fields
        if f.name in ("src", "dst") and f.dataType.simpleString() != "string"
    }
    if wrong:
        raise TypeError(
            f"connected_components needs STRING src/dst, got {wrong}; cast "
            "them first: edges.select(F.col('src').cast('string'), "
            "F.col('dst').cast('string'))"
        )
    if local_threshold > 0:
        probe = edges.select("src", "dst").limit(local_threshold + 1).collect()
        if len(probe) <= local_threshold:
            from relex_spark.sources.localdim import local_dim

            labels = _components_local([(r["src"], r["dst"]) for r in probe])
            return local_dim(
                edges.sparkSession, labels, "node string, component string"
            )
    nodes = (
        _symmetrize(edges)
        .select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )

    sig = _edge_signature(e)
    for i in range(max_iterations):
        e_next = _small_star(_large_star(e))
        # Truncate lineage each round: without this the convergence check
        # re-executes the ENTIRE join chain from round 0 and the loop goes
        # quadratic. localCheckpoint is executor-memory-resident; the edge
        # frame shrinks toward O(|nodes|) as stars form.
        if (i + 1) % checkpoint_every == 0:
            e_next = e_next.localCheckpoint(eager=True)
        next_sig = _edge_signature(e_next)
        e = e_next
        if next_sig == sig:
            break
        sig = next_sig

    star = e.groupBy("src").agg(F.min("dst").alias("component"))
    labels = nodes.join(star, nodes["node"] == star["src"], "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )
    # truncate lineage: consumers (canonicalize_triples) treat the label map
    # as a materialized dimension, not a plan suffix of the CC iteration
    return labels.localCheckpoint(eager=True)


def alias_edges_from_gazetteer(gazetteer: DataFrame) -> DataFrame:
    """Alias edges: every surface links its entity_id to the entity_id of
    its lowercase form — the key-normalization graph whose components are
    canonical entities."""
    norm = gazetteer.select(
        F.col("entity_id").alias("src"),
        F.concat(F.lit("ent:"), F.regexp_replace(F.lower("surface"), " ", "_")).alias(
            "dst"
        ),
    )
    # self-loops are added inside connected_components; distinct edges only
    return norm.distinct()


def canonicalize_triples(
    triples: DataFrame,
    component_map: DataFrame,
    broadcast_map: bool = True,
    salt_buckets: int = 0,
) -> DataFrame:
    """Rewrite subj/obj to canonical component ids and merge duplicates.

    Duplicate merge = groupBy(subj, pred, obj) count. With
    ``salt_buckets > 0`` the count is two-phase: first keyed by
    (subj, pred, obj, salt) — splitting hot triples across ``salt_buckets``
    reducers — then re-aggregated; for moderate skew, AQE's skew handling
    alone suffices (salt_buckets=0).
    """
    cmap = component_map.select(
        F.col("node"), F.col("component").alias("canonical")
    )
    if broadcast_map:
        cmap = F.broadcast(cmap)

    t = (
        triples.join(cmap, triples["subj"] == cmap["node"], "left")
        .select(
            triples["*"], F.coalesce("canonical", "subj").alias("subj_canon")
        )
    )
    t = (
        t.join(cmap, t["obj"] == cmap["node"], "left")
        .select(t["*"], F.coalesce("canonical", "obj").alias("obj_canon"))
    )
    t = t.select(
        F.col("subj_canon").alias("subj"),
        F.col("label").alias("pred"),
        F.col("obj_canon").alias("obj"),
        "conv_id",
        "turn_idx",
        "id",
        "score",
    )

    if salt_buckets > 0:
        salted = t.withColumn(
            "_salt",
            (F.abs(F.hash("id").cast("bigint")) % salt_buckets).cast("int"),
        )
        partial = salted.groupBy("subj", "pred", "obj", "_salt").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("score").alias("max_score"),
            F.min("id").alias("first_id"),
        )
        return partial.groupBy("subj", "pred", "obj").agg(
            F.sum("cnt").alias("support"),
            F.max("max_score").alias("max_score"),
            F.min("first_id").alias("first_id"),
        )
    return t.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("support"),
        F.max("score").alias("max_score"),
        F.min("id").alias("first_id"),
    )
