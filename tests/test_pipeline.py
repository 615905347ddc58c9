"""Pipeline-level invariants: checkpoint/resume equivalence, salted vs
unsalted canonicalization parity, connected-components correctness, E5
evaluation self-consistency."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from relex_spark.operators.canonicalize import (
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
from relex_spark.sources.readers import read_semeval_jsonl, semeval_to_candidates
from relex_spark.sources.transcripts import synthesize_transcripts


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
    ck = tempfile.mkdtemp(prefix="relex_ck_")
    try:
        cfg = KGPipelineConfig(checkpoint_dir=ck)
        first = {
            (r["subj"], r["pred"], r["obj"], r["support"])
            for r in run_kg_pipeline(spark, t, cfg).collect()
        }
        # resume: scored stage must be read from the manifest-committed
        # checkpoint, producing identical canonical triples
        second = {
            (r["subj"], r["pred"], r["obj"], r["support"])
            for r in run_kg_pipeline(spark, t, cfg).collect()
        }
        assert first == second and first
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def test_salted_canonicalization_parity(spark):
    t = synthesize_transcripts(spark, n_convs=15)
    cfg = KGPipelineConfig()
    scored = build_triples(t, cfg).cache()
    from relex_spark.operators.canonicalize import alias_edges_from_gazetteer
    from relex_spark.sources.transcripts import gazetteer_df

    comp = connected_components(alias_edges_from_gazetteer(gazetteer_df(spark)))
    comp = comp.localCheckpoint(eager=True)

    plain = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in canonicalize_triples(scored, comp, salt_buckets=0).collect()
    }
    salted = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in canonicalize_triples(scored, comp, salt_buckets=8).collect()
    }
    scored.unpersist()
    assert plain == salted and plain


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
    import datetime as dt

    from relex_spark.plans.kg_pipeline import verify_text_invariant

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", None, None, ts),
        ("c1", 1, "user", "", None, ts),
        ("c1", 2, "user", "   ", None, ts),
        ("c1", 3, "user", "the Student joined the Association", None, ts),
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    df = spark.createDataFrame(rows, schema)

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
