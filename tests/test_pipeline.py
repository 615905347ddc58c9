"""Pipeline-level invariants: checkpoint/resume equivalence, salted vs
unsalted canonicalization parity, connected-components and alias-map
correctness, E5 evaluation self-consistency."""

import datetime as dt
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from relex_spark.operators.canonicalize import (
    alias_components,
    alias_edges_from_gazetteer,
    canonicalize_subj_obj,
    canonicalize_triples,
    connected_components,
)
from relex_spark.plans.evaluate import evaluate_candidates
from relex_spark.plans.kg_pipeline import (
    KGPipelineConfig,
    build_triples,
    run_kg_pipeline,
    verify_text_invariant,
)
from relex_spark.scoring.scorer import broadcast_weights
from relex_spark.sources.localdim import local_dim
from relex_spark.sources.readers import read_semeval_jsonl, semeval_to_candidates
from relex_spark.sources.sinks import MANIFEST, read_stage, stage_is_complete, write_stage
from relex_spark.sources.transcripts import (
    fixture_gazetteer_rows,
    gazetteer_df,
    synthesize_transcripts,
    tacred_gazetteer_rows,
)

GAZETTEER_SCHEMA = "surface string, entity_id string, entity_type string"
# Two entity ids whose surfaces differ only in case, plus a third entity:
# the alias graph joins ent:acme_corp to ent:acme, which the fixture
# gazetteer knows nothing of.
ACME_ROWS = [
    ("Acme", "ent:acme_corp", "ORG"),
    ("acme", "ent:acme", "ORG"),
    ("Globex", "ent:globex", "ORG"),
]
TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _spark_alias_components(spark, rows):
    """The Spark composition alias_components replaces, kept as reference."""
    return connected_components(
        alias_edges_from_gazetteer(local_dim(spark, rows, GAZETTEER_SCHEMA))
    )


def test_connected_components_minimum_label(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("lone", "lone")],
        "src string, dst string",
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "lone": "lone"}


def test_connected_components_paths_share_string_schema(spark):
    """The driver-side (small graph) and distributed paths return the same
    STRING schema and labels; a non-string edge table fails on both paths
    with the cast named."""
    ints = spark.createDataFrame([(2, 1), (3, 2), (10, 9)], "src bigint, dst bigint")
    for threshold in (4096, 0):
        with pytest.raises(TypeError, match="cast"):
            connected_components(ints, local_threshold=threshold)
    strs = ints.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    local, dist = (connected_components(strs, local_threshold=t) for t in (4096, 0))
    assert local.schema.simpleString() == dist.schema.simpleString()
    assert local.schema.simpleString() == "struct<node:string,component:string>"
    labels = {r["node"]: r["component"] for r in local.collect()}
    assert labels == {r["node"]: r["component"] for r in dist.collect()}
    assert labels == {"1": "1", "2": "1", "3": "1", "9": "10", "10": "10"}


def test_checkpoint_resume_equivalence(spark):
    t = synthesize_transcripts(spark, n_convs=15)
    sc = spark.sparkContext
    ck = tempfile.mkdtemp(prefix="relex_ck_")
    cfg = KGPipelineConfig(checkpoint_dir=ck)

    def run(group: str) -> set:
        sc.setJobGroup(group, group)
        try:
            return {
                (r["subj"], r["pred"], r["obj"], r["support"])
                for r in run_kg_pipeline(spark, t, cfg).collect()
            }
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    try:
        first = run("test.checkpoint.first")
        # resume: scored stage must be read from the manifest-committed
        # checkpoint, producing identical canonical triples
        second = run("test.checkpoint.resume")
        assert first == second and first
        # job budget: a stage commit counts rows from the parquet footers and
        # a read takes its schema from the manifest, so neither re-scans
        jobs = sc.statusTracker().getJobIdsForGroup
        assert len(jobs("test.checkpoint.first")) <= 7
        assert len(jobs("test.checkpoint.resume")) <= 1
        # a committed canonical stage is the whole resume: with the scored
        # stage gone, nothing is rescored and that directory stays gone
        scored_dir = os.path.join(ck, "scored_triples")
        shutil.rmtree(scored_dir)
        assert run("test.checkpoint.third") == first
        assert len(jobs("test.checkpoint.third")) <= 1
        assert not os.path.exists(scored_dir)
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def _sink_frame(spark, case: str):
    # `id` is non-nullable; `first id` is a name a simpleString schema
    # cannot carry back
    df = spark.range(1000 if case == "max_records" else 200).select(
        "id",
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id").cast("string")).alias("first id"),
    )
    if case == "skewed":
        return df.repartition(4, F.when(F.col("id") < 190, 0).otherwise(F.col("id")))
    if case == "empty":
        return df.where(F.lit(False))
    return df.repartition(3 if case == "max_records" else 5)


@pytest.mark.parametrize("case", ["five_partitions", "skewed", "empty", "max_records"])
def test_stage_manifest_matches_committed_files(spark, case):
    """write_stage's footer counts equal a groupBy over the committed files,
    read_stage builds with zero jobs and the inferred schema, and a manifest
    with a string schema is not a complete stage."""
    sc = spark.sparkContext
    path = os.path.join(tempfile.mkdtemp(prefix="relex_sink_"), "stage")
    conf = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(conf)
    try:
        if case == "max_records":
            spark.conf.set(conf, "37")
        df = _sink_frame(spark, case)
        manifest = write_stage(df, path, "s")
        want = {
            str(r["_partition_id"]): r["count"]
            for r in spark.read.parquet(path).groupBy("_partition_id").count().collect()
        }
        assert manifest["partition_counts"] == want
        assert manifest["rows"] == sum(want.values()) == df.count()
        if case == "max_records":
            assert len([n for n in os.listdir(path) if n.startswith("part-")]) > len(want)

        group = f"test.read_stage.{case}"
        sc.setJobGroup(group, group)
        try:
            got = read_stage(spark, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert got.schema == spark.read.parquet(path).schema
        written = StructType.fromJson(manifest["schema"])
        assert (written["id"].nullable, written["first id"].nullable) == (False, True)
        assert sorted(tuple(r) for r in got.drop("_stage", "_partition_id").collect()) == sorted(
            tuple(r) for r in df.collect()
        )

        assert stage_is_complete(path, "s")
        mpath = os.path.join(path, MANIFEST)
        with open(mpath) as f:
            m = json.load(f)
        m["schema"] = got.schema.simpleString()
        with open(mpath, "w") as f:
            json.dump(m, f)
        assert not stage_is_complete(path, "s")
    finally:
        spark.conf.set(conf, old)
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


def test_pipeline_canonicalizes_through_config_gazetteer(spark):
    """run_kg_pipeline resolves aliases through config.gazetteer_rows' own
    alias graph, exactly as the Spark reference composition over those
    rows does — not through the fixture gazetteer."""
    ts = dt.datetime(2024, 1, 1)
    t = spark.createDataFrame(
        [
            ("c1", 0, "user", "Acme met Globex", None, ts),
            ("c1", 1, "user", "acme met Globex", None, ts),
        ],
        TRANSCRIPT_SCHEMA,
    )
    cfg = KGPipelineConfig(gazetteer_rows=ACME_ROWS)
    cols = ["subj", "pred", "obj", "support", "max_score", "first_id"]
    got = sorted(tuple(r) for r in run_kg_pipeline(spark, t, cfg).select(cols).collect())
    want = canonicalize_triples(
        build_triples(t, cfg), _spark_alias_components(spark, ACME_ROWS)
    )
    assert got == sorted(tuple(r) for r in want.select(cols).collect())
    assert {r[0] for r in got} == {"ent:acme"}
    assert {r[2] for r in got} == {"ent:globex"}


@pytest.mark.parametrize(
    "rows",
    [fixture_gazetteer_rows(), tacred_gazetteer_rows(), ACME_ROWS],
    ids=["fixture", "tacred", "acme"],
)
def test_alias_components_matches_spark_composition(spark, rows):
    """alias_components gives the Spark composition's (node, component)
    rows, and neither building it nor building the subj/obj rewrite over
    it runs a Spark job."""
    sc = spark.sparkContext
    group = "test.alias_components"
    pairs = local_dim(spark, [("ent:x", "ent:y")], "subj string, obj string")
    sc.setJobGroup(group, group)
    try:
        driver_side = alias_components(spark, rows)
        canonicalize_subj_obj(pairs, driver_side)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert driver_side.schema.simpleString() == "struct<node:string,component:string>"
    assert sorted(tuple(r) for r in driver_side.collect()) == sorted(
        tuple(r) for r in _spark_alias_components(spark, rows).collect()
    )


def test_salted_canonicalization_parity(spark):
    """Salted and unsalted canonicalization agree, and so do the map
    sources: the distributed-path component map (a non-local DataFrame)
    and alias_components give the same triples. A NULL subj and an id
    outside the map pass through the rewrite unchanged."""
    t = synthesize_transcripts(spark, n_convs=15)
    cfg = KGPipelineConfig()
    built = build_triples(t, cfg)
    extra = local_dim(
        spark,
        [
            (None, "Cause-Effect(e1,e2)", "ent:acme", "c_null", 0, "x1", 0.9),
            ("ent:nowhere", "Cause-Effect(e1,e2)", "ent:acme", "c_out", 0, "x2", 0.8),
        ],
        "subj string, label string, obj string, conv_id string, turn_idx int, "
        "id string, score double",
    )
    scored = built.unionByName(extra, allowMissingColumns=True).cache()
    maps = {
        "distributed": connected_components(
            alias_edges_from_gazetteer(gazetteer_df(spark)), local_threshold=0
        ),
        "alias_components": alias_components(spark, fixture_gazetteer_rows()),
    }
    assert not maps["distributed"].isLocal()

    results = {}
    for name, comp in maps.items():
        for salt in (0, 8):
            results[name, salt] = {
                (r["subj"], r["pred"], r["obj"], r["support"])
                for r in canonicalize_triples(scored, comp, salt_buckets=salt).collect()
            }
    scored.unpersist()
    want = results["distributed", 0]
    assert want and all(got == want for got in results.values())
    assert (None, "Cause-Effect(e1,e2)", "ent:acme", 1) in want
    assert ("ent:nowhere", "Cause-Effect(e1,e2)", "ent:acme", 1) in want


def test_text_invariant_holds_through_pipeline(spark):
    t = synthesize_transcripts(spark, n_convs=10)
    assert verify_text_invariant(t) == 0


def test_e5_evaluation_self_consistency(spark):
    """Scoring the fixture and evaluating against its own predictions as
    gold must yield perfect scores (alignment-by-id sanity); against the
    fixture's true labels the metrics are bounded in [0, 1]."""
    cands = semeval_to_candidates(
        read_semeval_jsonl(spark, "relex_spark/data/semeval_fixture.jsonl"), 100
    )
    weights = KGPipelineConfig().resolved_weights()
    wbc = broadcast_weights(spark, weights)

    from relex_spark.scoring.scorer import score_candidates

    preds = score_candidates(cands.drop("label"), wbc, keep_columns=["id"])
    self_gold = preds.select("id", F.col("label"))
    perfect = evaluate_candidates(
        cands.drop("label").join(self_gold, "id"), wbc, "semeval2010"
    )
    # Reference-faithful macro: F1Measure seeds counters for EVERY vocab
    # label (f1_measure.py:64-83), so perfect predictions on a slice that
    # observes only k of the n vocab labels score macro_f1 == k/n (each
    # absent label contributes P=R=0 to the denominator).
    n_obs = self_gold.select("label").distinct().count()
    expect = n_obs / len(weights.labels)
    assert abs(perfect["macro_f1"] - expect) < 1e-6, (
        perfect["macro_f1"],
        expect,
    )

    real = evaluate_candidates(cands, wbc, "semeval2010")
    assert 0.0 <= real["f1"] <= 1.0


def test_null_and_whitespace_text_rows_are_harmless(spark):
    """Dirty real-world rows (null / empty / whitespace-only text) must not
    crash the pipeline or create spurious candidates — and the text-equality
    invariant counter flags only the non-round-trippable row."""
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", None, None, ts),
        ("c1", 1, "user", "", None, ts),
        ("c1", 2, "user", "   ", None, ts),
        ("c1", 3, "user", "the Student joined the Association", None, ts),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)

    out = build_triples(df, KGPipelineConfig()).collect()
    assert [r["id"] for r in out] == ["c1:3:1"]
    # whitespace-only text does not join/split round-trip → exactly 1 flag
    assert verify_text_invariant(df) == 1


def test_connected_components_long_chain_and_cycle(spark):
    """Non-star graphs (the case the alias-star fixtures never hit): a
    16-node chain, a cycle, and two merged stars must all collapse to
    their minimum label."""
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(15)]
    cycle = [("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c1")]
    stars = [("hub1", f"s{i}") for i in range(5)] + [
        ("hub2", f"s{i}") for i in range(4, 8)
    ]
    edges = spark.createDataFrame(chain + cycle + stars, "src string, dst string")
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert all(comp[f"n{i:02d}"] == "n00" for i in range(16))
    assert all(comp[c] == "c1" for c in ["c1", "c2", "c3", "c4"])
    merged = {comp["hub1"], comp["hub2"]} | {comp[f"s{i}"] for i in range(8)}
    assert merged == {"hub1"}


def test_score_distinct_parity(spark):
    """Dedup-before-inference must be invisible in the output: identical
    rows (ids, labels, scores) with score_distinct on and off."""
    from relex_spark.plans.kg_pipeline import KGPipelineConfig, build_triples
    from relex_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=25).cache()
    import dataclasses

    on = build_triples(t, KGPipelineConfig(score_distinct=True))
    off = build_triples(t, KGPipelineConfig(score_distinct=False))
    cols = sorted(set(on.columns))
    key = lambda r: tuple(
        round(v, 5) if isinstance(v, float) else v
        for c in cols
        for v in [r[c]]
    )
    a = sorted(key(r) for r in on.select(*cols).collect())
    b = sorted(key(r) for r in off.select(*cols).collect())
    assert a == b and a


def test_empty_input_and_empty_gazetteer(spark):
    """Zero-row input → zero triples (no crash in any stage, both scoring
    variants); empty gazetteer → loud ValueError, not silent no-mentions."""
    import pytest

    from relex_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=5).limit(0)
    assert build_triples(t, KGPipelineConfig()).count() == 0
    assert build_triples(t, KGPipelineConfig(score_distinct=False)).count() == 0

    full = synthesize_transcripts(spark, n_convs=2)
    with pytest.raises(ValueError):
        build_triples(full, KGPipelineConfig(gazetteer_rows=[]))


def test_variant_words_disjoint_from_gazetteer():
    """The variant-suffix alphabet must never mint a new mention: no
    gazetteer surface token may appear among the variant words (1-grams and
    boundary/suffix-internal 2-grams then cannot match any surface, since
    every surface token is non-variant)."""
    from relex_spark.sources.transcripts import (
        _VARIANT_WORDS,
        fixture_gazetteer_rows,
    )

    vw = set(_VARIANT_WORDS)
    for surface, _, _ in fixture_gazetteer_rows():
        for tok in surface.split(" "):
            assert tok not in vw and tok.lower() not in vw, (surface, tok)


def test_plant_variants_scale_distinct_inputs(spark):
    """Distinct scored (tokens, spans) inputs grow ∝ corpus size: with
    plant_variants > 1 the planted turns carry deterministic suffix
    variants, multiplying distinct score keys while leaving spans, entity
    mentions, and the canonical (subj, pred, obj) graph untouched."""
    from relex_spark.operators.candidates import (
        detect_mentions,
        generate_candidate_pairs,
    )
    from relex_spark.plans.kg_pipeline import (
        preprocess_candidates,
        score_key,
    )
    from relex_spark.sources.transcripts import synthesize_transcripts

    cfg = KGPipelineConfig()

    def distinct_keys(pv: int) -> int:
        t = synthesize_transcripts(spark, n_convs=60, plant_variants=pv)
        pairs = preprocess_candidates(
            generate_candidate_pairs(
                detect_mentions(t, cfg.gazetteer_rows, keep_text=False), 10
            ),
            cfg.max_len,
        )
        _, key = score_key(cfg.encoder)
        return pairs.select(key.alias("k")).distinct().count()

    base = distinct_keys(1)
    varied = distinct_keys(8)
    assert varied > 3 * base, (base, varied)


def test_plant_variants_preserve_mentions_and_entity_pairs(spark):
    """Variants only append OOV-safe words AFTER the sentence: the mention
    set (spans + entities) is identical with and without variants, the
    canonical (subj, obj) co-occurrence structure (support summed over
    preds — the CNN label MAY legitimately differ on suffixed tokens) is
    identical, and per-turn text still round-trips (input_hint invariant)."""
    from relex_spark.operators.candidates import detect_mentions
    from relex_spark.sources.transcripts import synthesize_transcripts

    cfg = KGPipelineConfig()
    t1 = synthesize_transcripts(spark, n_convs=20, plant_variants=1)
    t8 = synthesize_transcripts(spark, n_convs=20, plant_variants=8)
    assert verify_text_invariant(t8) == 0

    def mention_set(t):
        m = detect_mentions(t, cfg.gazetteer_rows, keep_text=False).select(
            "conv_id", "turn_idx", F.explode("mentions").alias("m")
        )
        return {
            (r["conv_id"], r["turn_idx"], r["m"]["start"], r["m"]["end"],
             r["m"]["entity_id"])
            for r in m.collect()
        }

    assert mention_set(t1) == mention_set(t8)

    def pair_structure(t):
        out = run_kg_pipeline(spark, t, KGPipelineConfig())
        rolled = out.groupBy("subj", "obj").agg(
            F.sum("support").alias("support")
        )
        return {(r["subj"], r["obj"], r["support"]) for r in rolled.collect()}

    assert pair_structure(t1) == pair_structure(t8)
