"""Physical-plan invariants (.explain audits as regression tests).

These pin the scale-critical plan properties documented in docs/SCALE.md:
column pruning into the parquet scan, the zero-shuffle narrow chain up to
the scoring UDF, a literal-map lookup (no join) for the canonical map, and
— the one that actually bit — NO duplicated mention-detection expression
pushed below the projection (a WHERE on size(mentions) used to be
predicate-pushed under the mention projection, inlining the whole n-gram
expression into a Filter and doubling the stage's cost). The operator-query
tests at the end pin what a repeat of the benchmark's seven queries costs:
the Spark jobs each runs and the classes codegen compiles again.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from relex_spark.operators.canonicalize import (
    alias_edges_from_gazetteer,
    canonicalize_triples,
    connected_components,
)
from relex_spark.plans.kg_pipeline import KGPipelineConfig, build_triples
from relex_spark.sources.transcripts import gazetteer_df, synthesize_transcripts

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def transcripts(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "t.parquet")
    synthesize_transcripts(spark, n_convs=20).write.parquet(path)
    return spark.read.parquet(path)


def test_scan_prunes_to_three_columns(spark, transcripts):
    """The scoring chain reads (conv_id, turn_idx, text) only — role/tool/ts
    are pruned at the parquet reader (SCALE.md §1). Explained on the
    score_distinct=False variant: the default path shares the identical
    scan→pairs subtree but hides it behind the pairs_k localCheckpoint."""
    plan = plan_of(
        build_triples(transcripts, KGPipelineConfig(score_distinct=False))
    )
    assert "ReadSchema: struct<conv_id:string,turn_idx:int,text:string>" in plan


def test_scoring_chain_has_no_shuffle(spark, transcripts):
    """With score_distinct=False (and on the streaming path), scan →
    mentions → pairs → preprocess → scoring is ONE narrow stage: no
    Exchange anywhere in the build_triples plan (SCALE.md §2)."""
    plan = plan_of(
        build_triples(transcripts, KGPipelineConfig(score_distinct=False))
    )
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_score_distinct_dedup_is_partially_aggregated(spark, transcripts):
    """The default dedup-before-inference path pays exactly one shuffle
    before the kernel (the distinct-input aggregate), with map-side partial
    combine so duplicates collapse before the exchange, and the CNN stage
    consumes the deduped side."""
    plan = plan_of(build_triples(transcripts, KGPipelineConfig()))
    assert "MapInPandas" in plan
    assert "partial_first" in plan or "HashAggregate" in plan
    # the dedup aggregate's exchange exists, and no exchange sits between
    # the scan and the dedup aggregate (the chain up to dedup is narrow):
    # count shuffle exchanges in the full plan — dedup (1) + the join's
    # requirement (satisfiable by broadcast or reuse; allow <= 3)
    n_shuffles = plan.count(") Exchange")
    assert 1 <= n_shuffles <= 3, plan[:2000]


def test_mentions_not_duplicated_into_filter(spark, transcripts):
    """Mention detection must be evaluated once per row: no Filter node may
    contain the inlined n-gram expression (its signature: array_join over
    token slices). A pushed-down size(mentions) predicate reintroduces it."""
    plan = plan_of(build_triples(transcripts, KGPipelineConfig()))
    for block in plan.split("\n\n"):
        if block.startswith("(") and ") Filter" in block.splitlines()[0]:
            assert "array_join" not in block, (
                "mention-detection expression inlined into a Filter — "
                "predicate pushdown is re-evaluating the n-gram stage"
            )


def test_canonical_map_is_a_literal_lookup(spark, transcripts):
    """The component-map rewrite is a literal-map projection: canonicalize
    adds no join to the scored plan, and exactly one shuffle Exchange —
    the triple-dedup aggregation, the one legitimate wide stage downstream
    of scoring (SCALE.md §2)."""
    components = connected_components(alias_edges_from_gazetteer(gazetteer_df(spark)))
    canon = canonicalize_triples(
        build_triples(transcripts, KGPipelineConfig()), components
    )
    plan = plan_of(canon)
    base = plan_of(build_triples(transcripts, KGPipelineConfig()))
    assert plan.count("Join ") == base.count("Join ")
    assert plan.count(") Exchange") == base.count(") Exchange") + 1


def test_parquet_filter_pushdown(spark):
    """Predicate on a scanned column reaches the parquet reader
    (PushedFilters), not a post-scan Filter only."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_simhash_wide_plan_is_equi_join_no_cartesian(spark):
    """The 64-bit SimHash candidate join must compile to a hash/sort-merge
    EQUI-join on (band, value) — never a cartesian/broadcast-nested-loop
    (the n² shape the banding exists to avoid) — and the single-pass vote
    aggregate must appear exactly once per signature build (the multi-
    referenced non-cheap alias must block projection collapse)."""
    from relex_spark.operators.dedup import simhash_candidate_pairs_wide

    docs = spark.createDataFrame(
        [(i, f"w{i} common tokens here {i % 3}") for i in range(20)],
        ["doc_id", "text"],
    )
    plan = plan_of(simhash_candidate_pairs_wide(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan or "SortMergeJoin" in plan


def test_pack_greedy_single_shuffle(spark):
    """Greedy packing shuffles exactly once (the shard key) before the
    per-shard FlatMapGroupsInPandas fill — nothing wide after it."""
    from relex_spark.operators.packing import pack_greedy

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # "simple" mode: one tree, so node-name counting is exact ("formatted"
    # prints every node twice — tree + details). Parameters deliberately
    # differ from every other test's pack call: a cached identical plan
    # elsewhere would substitute InMemoryTableScan here and hide the shape.
    plan = plan_of(pack_greedy(docs, budget=200, n_shards=4), mode="simple")
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan


def test_token_budget_mix_no_global_sort(spark):
    """The two-phase cumsum must never compile to a per-source global
    Sort over the whole relation outside the (source, bucket) window
    partitioning — i.e. the only Sort is the window's local sort, and the
    only wide Exchange is the hash partitioning on (source, bucket)."""
    from relex_spark.operators.packing import token_budget_mix

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = token_budget_mix(docs, {"src1": 3000, "src4": 1200}, n_buckets=16)
    plan = plan_of(out)
    # window exchange is hashpartitioning on (source, bucket) — a
    # rangepartitioning Exchange would be the global-sort anti-shape
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(source" in plan


def test_semantic_dedup_prune_is_equi_join(spark):
    """The within-cluster prune joins on cluster_id — a hash/sort-merge
    equi-join, never a cartesian over the corpus; centroid assignment is
    literal-array per-row argmin (no join, no window over the corpus)."""
    from relex_spark.operators.semdedup import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(semantic_dedup(emb, n_clusters=4, threshold=0.40))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_spans_plan_no_cartesian(spark):
    """Duplicated-gram marking is an equi-join on the gram hash; the
    island window must partition by doc — never a cartesian or a global
    (rangepartitioning) sort."""
    from relex_spark.operators.dedup import duplicate_ngram_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(duplicate_ngram_spans(docs, n=5, min_count=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_driver_tier_sweep_no_scale_killers(spark):
    """Every driver-tier query's physical plan, audited in one sweep: no
    CartesianProduct anywhere, and no row-at-a-time Python UDF
    (BatchEvalPython) — the two plan nodes that silently kill a 100x
    scale-up. Arrow-batched nodes (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) stay allowed: they are the sanctioned Python
    boundary. Building a plan is cheap; queries that execute tiny
    finalizes (vocab broadcast, centroids, bloom bitset) or a bounded
    stream do so at sf0.001."""
    from relex_spark.plans import driver_queries as dq

    offenders: dict[str, list[str]] = {}
    for name, fn in sorted(dq.QUERIES.items()):
        plan = plan_of(fn(spark, SF_DIR))
        hits = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, f"scale-killer plan nodes: {offenders}"


def test_q1_pushes_filter_and_prunes_scan(spark):
    """TPC-H Q1 shape: the shipdate predicate must reach the parquet scan
    (PushedFilters) and the scan must not read columns the query never
    touches (ReadSchema pruned to the 6 used columns)."""
    from relex_spark.plans import driver_queries as dq

    plan = plan_of(dq.QUERIES["q1_pricing_summary"](spark, SF_DIR))
    scan = plan[plan.index("Scan parquet") :]
    pushed = scan[scan.index("PushedFilters") : scan.index("ReadSchema")]
    assert "l_shipdate" in pushed and "LessThanOrEqual" in pushed
    read = scan[scan.index("ReadSchema") :].splitlines()[0]
    assert "l_comment" not in read and "l_orderkey" not in read


def test_cents_sum_past_2_53_fails_loudly(spark, tmp_path):
    """q1/q3 sum money as BIGINT cents and convert to double, which is
    exact only up to 2^53. Two lineitems at 9.0e13 put one group's cent
    sum past that bound (each alone is below it): both queries must raise
    naming the bound, not return an inexact double."""
    import datetime as dt

    from relex_spark.plans import driver_queries as dq

    ship = dt.datetime(1998, 1, 1)
    spark.createDataFrame(
        [(1, 1.0, 9.0e13, 0.0, "A", "F", ship), (1, 1.0, 9.0e13, 0.0, "A", "F", ship)],
        "l_orderkey bigint, l_quantity double, l_extendedprice double, "
        "l_discount double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame([(1, 1)], "o_orderkey bigint, o_custkey bigint").write.parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame(
        [(1, "BUILDING")], "c_custkey bigint, c_mktsegment string"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    for name in ("q1_pricing_summary", "q3_order_revenue"):
        with pytest.raises(Exception, match=r"exceeds 2\^53") as err:
            dq.QUERIES[name](spark, str(tmp_path)).collect()
        assert "USER_RAISED_EXCEPTION" in str(err.value)


def test_tacred_planted_candidates_plan_has_no_python_rdd(spark):
    """The TACRED fixture dim is a ``local_dim`` (a LocalRelation), not a
    Python-RDD plan: every materialization of a LogicalRDD dim runs
    Python-worker tasks for three rows (sources/localdim.py)."""
    from relex_spark.plans.kg_pipeline import tacred_planted_candidates
    from relex_spark.sources.transcripts import transcripts_from_documents_tacred

    docs = spark.range(30).select(
        F.col("id").alias("doc_id"), F.lit("plain filler words").alias("text")
    )
    cands = tacred_planted_candidates(spark, transcripts_from_documents_tacred(docs))
    plan = cands._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan, plan


# Spark jobs per operator query of the benchmark, building the DataFrame
# plus collecting it, at sf0.001. A change that removes a query's jobs
# lowers its ceiling here.
JOB_CEILINGS = {
    "dedup_ngram_jaccard": 5,
    "x_lm_score": 11,
    "v1_token_vocab": 9,
    "dedup_minhash_lsh": 5,
    "q1_pricing_summary": 3,
    "q3_order_revenue": 7,
    "x_negative_samples": 11,
}
# Classes codegen compiles for one cold round of the seven queries at
# sf0.001 (CodegenMetrics): the working set Spark's class cache must hold.
CLASSES_PER_ROUND = 150


@pytest.fixture(scope="module")
def operator_rounds(spark):
    """Run kgbench's seven operator queries three times in this session.
    Returns the classes codegen compiled in each round and each round's
    jobs per query (counted by job group)."""
    from kgbench.workloads import OPERATOR_QUERIES
    from relex_spark.plans import driver_queries as dq

    queries = {**dq.QUERIES, **dq.EXTRA_QUERIES}
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles, jobs = [], []
    for round_ in range(3):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        counts = {}
        for name in OPERATOR_QUERIES:
            group = f"test.operator_queries.{round_}.{name}"
            sc.setJobGroup(group, group)
            try:
                queries[name](spark, SF_DIR).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            counts[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
        jobs.append(counts)
    return compiles, jobs


def test_operator_queries_reuse_generated_code(operator_rounds):
    """A warm repeat of the seven queries finds its generated classes in
    Spark's codegen cache: it compiles at most a tenth of the classes one
    round needs. At Spark's default of 100 cache entries every repeat
    recompiled about 135, so get_spark sizes the cache to the registry's
    working set. The first round is not a baseline, since earlier tests
    may have compiled the same classes, and a warm round can still compile
    a few new variants of a query's classes (0-12 seen), so the best of
    two warm rounds is checked."""
    compiles, _ = operator_rounds
    assert min(compiles[1:]) <= 0.1 * CLASSES_PER_ROUND, compiles


def test_operator_queries_job_ceilings(operator_rounds):
    """No operator query runs more Spark jobs than its recorded ceiling."""
    _, rounds = operator_rounds
    over = {
        (round_, name): n
        for round_, counts in enumerate(rounds)
        for name, n in counts.items()
        if n > JOB_CEILINGS[name]
    }
    assert not over, over
