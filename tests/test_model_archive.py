"""S5: torch-free loader for the reference's trained model.tar.gz —
parameter recovery, vocab mapping, and end-to-end scoring with the actual
trained weights (kernel vs per-row oracle on the reference's own fixture
sentences)."""

import os

import numpy as np
import pytest

REF_FIXTURES = "/root/reference/tests/fixtures"
ARCHIVE = os.path.join(REF_FIXTURES, "model.tar.gz")

pytestmark = pytest.mark.skipif(
    not os.path.exists(ARCHIVE), reason="reference archive not present"
)


@pytest.fixture(scope="module")
def ref_weights():
    from relex_spark.sources.model_archive import load_reference_archive

    return load_reference_archive(ARCHIVE)


def test_archive_parameter_recovery(ref_weights):
    w = ref_weights
    # shapes from the archive's config.json (emb 2, offsets 2+2, cnn k=2
    # nf=2, 7 labels, vocab 114 lines + padding)
    assert w.emb.shape == (115, 2)
    # NOTE: AllenNLP's token Embedding has no padding_idx (row 0 is random
    # init; padding is handled by the downstream mask) — pad positions never
    # fall inside a valid CNN window (and embed_batch zeroes them for the
    # other encoders), so a nonzero pad row never leaks into scores.
    assert w.head_offset_emb.shape == (101, 2)
    assert np.all(w.head_offset_emb[0] == 0.0)  # padding_idx=0
    assert set(w.cnn_filters) == {2}
    assert w.cnn_filters[2][0].shape == (2 * 6, 2)
    assert w.ff_w.shape == (2, 7)
    assert len(w.labels) == 7
    assert w.n_position == 50 and w.max_len == 50 and w.lowercase
    assert w.token_to_id["the"] == 2  # line 2 of tokens.txt, after @@UNKNOWN@@
    assert "<oov>" in w.token_to_id and w.token_to_id["<oov>"] == 1


def test_conv_layout_roundtrip(ref_weights):
    """W[o*d_in+d, f] must equal torch conv weight[f, d, o]."""
    import io
    import tarfile

    from relex_spark.sources.model_archive import load_legacy_torch_state

    with tarfile.open(ARCHIVE, "r:gz") as tar:
        raw = tar.extractfile("weights.th").read()
    state = load_legacy_torch_state(io.BytesIO(raw))
    conv = state["text_encoder.conv_layer_0.weight"]  # (nf, d_in, k)
    w, _ = ref_weights.cnn_filters[2]
    nf, d_in, k = conv.shape
    for f in range(nf):
        for d in range(d_in):
            for o in range(k):
                assert w[o * d_in + d, f] == conv[f, d, o]


def test_trained_weights_score_fixture_end_to_end(spark, ref_weights):
    """The reference's trained parameters through the full Spark scoring
    stage vs the independent per-row oracle: identical labels and
    probabilities on the reference's own SemEval fixture sentences."""
    from relex_spark.scoring.scorer import broadcast_weights, score_candidates
    from relex_spark.sources.readers import read_semeval_jsonl, semeval_to_candidates
    from tests.oracle_model import oracle_predict

    fixture = os.path.join(REF_FIXTURES, "semeval2010_task8.jsonl")
    cands = semeval_to_candidates(
        read_semeval_jsonl(spark, fixture), max_len=ref_weights.max_len
    )
    wbc = broadcast_weights(spark, ref_weights)
    scored = score_candidates(
        cands, wbc, keep_columns=["id"], encoder="cnn", with_probs=True
    )
    got = {r["id"]: r for r in scored.collect()}
    rows = cands.collect()
    assert len(rows) >= 5
    agree = 0
    for r in rows:
        label, probs = oracle_predict(
            ref_weights,
            list(r["tokens"]),
            (r["head_start"], r["head_end"]),
            (r["tail_start"], r["tail_end"]),
        )
        assert np.allclose(got[r["id"]]["probs"], probs, atol=1e-5), r["id"]
        agree += got[r["id"]]["label"] == label
    assert agree == len(rows)  # P/R = 1.0 vs the oracle on real weights


def test_archive_weights_through_full_kg_pipeline(spark, ref_weights):
    """Archive → pipeline → triples: the trained reference parameters are
    dropped into run_kg_pipeline over a planted-transcript corpus (the
    north-rule path: synthesize transcripts, detect mentions, generate
    pairs, preprocess, CNN-score, canonicalize). Label-level P/R vs the
    independent per-row oracle must be 1.0 on every scored candidate."""
    from relex_spark.operators.candidates import (
        detect_mentions,
        generate_candidate_pairs,
    )
    from relex_spark.plans.kg_pipeline import (
        KGPipelineConfig,
        build_triples,
        preprocess_candidates,
        run_kg_pipeline,
    )
    from relex_spark.sources.transcripts import synthesize_transcripts
    from tests.oracle_model import oracle_predict

    config = KGPipelineConfig(weights=ref_weights, max_len=ref_weights.max_len)
    t = synthesize_transcripts(spark, n_convs=30).cache()

    # features for the oracle: the same pre-scoring chain the pipeline runs
    feats = preprocess_candidates(
        generate_candidate_pairs(
            detect_mentions(t, config.gazetteer_rows, keep_text=False),
            config.max_pairs_per_turn,
        ),
        config.max_len,
    ).collect()
    assert len(feats) >= 10, "planted turns must yield candidate pairs"

    scored = {r["id"]: r["label"] for r in build_triples(t, config).collect()}
    assert set(scored) == {r["id"] for r in feats}

    tp = 0
    for r in feats:
        want, _ = oracle_predict(
            ref_weights,
            list(r["tokens"]),
            (r["head_start"], r["head_end"]),
            (r["tail_start"], r["tail_end"]),
        )
        tp += scored[r["id"]] == want
    # micro P == R == 1.0: every candidate got the oracle's label
    assert tp == len(feats)

    # and the canonicalization stage consumes those labels end to end
    triples = run_kg_pipeline(spark, t, config).collect()
    assert triples
    assert {tr["pred"] for tr in triples} <= set(scored.values())
    assert all(tr["support"] >= 1 for tr in triples)
