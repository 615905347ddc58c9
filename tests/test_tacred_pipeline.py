"""TACRED-schema end-to-end pipeline (reference's second schema:
relex/dataset_readers/tacred.py:83-201) over a planted-transcript corpus —
the TACRED twin of the SemEval flagship tests: per-row GCN oracle parity
(P/R = 1.0), triple-level P/R vs an independently-rolled-up expectation,
planting coverage, and masking-mode semantics."""

import pytest
from pyspark.sql import functions as F

from tests.oracle_model import oracle_predict_gcn


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"filler document text number {i} with plain words") for i in range(300)]
    return spark.createDataFrame(rows, "doc_id bigint, text string").cache()


@pytest.fixture(scope="module")
def transcripts(spark, docs):
    from relex_spark.sources.transcripts import (
        transcripts_from_documents_tacred,
    )

    return transcripts_from_documents_tacred(docs).cache()


def test_tacred_planting_covers_all_sentences(spark, transcripts):
    """Regression for the sent_idx/PLANT_EVERY correlation bug: with 3
    sentences and PLANT_EVERY == 3, an index drawn from `hash % 3` is
    constant on the planted subset — every plant would be sentence 1. The
    derivation must plant ALL three fixture sentences."""
    from relex_spark.sources.transcripts import load_tacred_fixture

    sentences = {" ".join(ex["token"]) for ex in load_tacred_fixture()}
    planted = {
        r["text"]
        for r in transcripts.where(
            F.col("text").isin(*sentences)
        ).distinct().collect()
    }
    assert planted == sentences


def test_tacred_pipeline_pr_vs_gcn_oracle(spark, transcripts):
    """Micro P == R == 1.0 of the pipeline's GCN labels/scores vs the
    independent per-row pure-Python oracle, on every scored candidate —
    and the canonical triple table equals the plain-Python rollup of the
    oracle's labels (triple-level P/R = 1.0)."""
    from relex_spark.plans.kg_pipeline import (
        run_tacred_kg_pipeline,
        tacred_pipeline_weights,
        tacred_planted_candidates,
        tacred_scored_candidates,
    )

    w = tacred_pipeline_weights()
    feats = tacred_planted_candidates(spark, transcripts).collect()
    assert len(feats) >= 30, "planted turns must yield candidates"

    scored = {
        r["id"]: (r["label"], r["score"], r["subj"], r["obj"])
        for r in tacred_scored_candidates(
            spark, transcripts, weights=w
        ).collect()
    }
    assert set(scored) == {r["id"] for r in feats}

    expected_triples: dict[tuple, list[str]] = {}
    agree = 0
    for r in feats:
        edges = [(e["src"], e["dst"]) for e in r["adjacency"]]
        want, probs = oracle_predict_gcn(
            w,
            list(r["tokens"]),
            (r["head_start"], r["head_end"]),
            (r["tail_start"], r["tail_end"]),
            edges,
        )
        got_label, got_score, subj, obj = scored[r["id"]]
        agree += got_label == want and abs(got_score - max(probs)) < 1e-4
        expected_triples.setdefault((subj, want, obj), []).append(r["id"])
    assert agree == len(feats)  # micro P == R == 1.0 vs the oracle

    got_triples = {
        (r["subj"], r["pred"], r["obj"]): (r["support"], r["first_id"])
        for r in run_tacred_kg_pipeline(spark, transcripts, weights=w).collect()
    }
    want_triples = {
        k: (len(ids), min(ids)) for k, ids in expected_triples.items()
    }
    # set P/R both 1.0 + support/first_id equality
    assert got_triples == want_triples


def test_tacred_masking_mode_semantics(spark, transcripts):
    """P4 dispatch parity (tacred.py:179-196): Grammar mode plants
    __SUB__/__OBJ__ at the (clamped) span positions; NER mode plants the
    typed markers; spans and subj/obj entity ids are mode-invariant."""
    from relex_spark.plans.kg_pipeline import tacred_planted_candidates

    ner = {
        r["id"]: r
        for r in tacred_planted_candidates(
            spark, transcripts, masking_mode="NER"
        ).collect()
    }
    gram = {
        r["id"]: r
        for r in tacred_planted_candidates(
            spark, transcripts, masking_mode="Grammar"
        ).collect()
    }
    assert set(ner) == set(gram) and ner
    for rid, g in gram.items():
        n = ner[rid]
        for k in ("head_start", "head_end", "tail_start", "tail_end",
                  "subj", "obj"):
            assert g[k] == n[k]
        for i in range(g["head_start"], g["head_end"] + 1):
            assert g["tokens"][i] == "__SUB__"
            assert n["tokens"][i].startswith("__") and n["tokens"][i].endswith("__")
        for i in range(g["tail_start"], g["tail_end"] + 1):
            assert g["tokens"][i] == "__OBJ__"


def test_tacred_score_distinct_parity(spark, transcripts):
    """Dedup-before-inference on the TACRED/GCN path (score key includes
    the adjacency) is invisible in the output: identical rows, labels and
    float32 scores with score_distinct on and off."""
    from relex_spark.plans.kg_pipeline import tacred_scored_candidates

    cols = ["id", "subj", "obj", "label", "score"]
    on = tacred_scored_candidates(spark, transcripts, score_distinct=True)
    off = tacred_scored_candidates(spark, transcripts, score_distinct=False)
    ra = sorted(map(tuple, on.select(*cols).collect()))
    rb = sorted(map(tuple, off.select(*cols).collect()))
    assert ra == rb and ra
