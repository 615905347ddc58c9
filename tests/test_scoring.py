"""Scoring-kernel parity and the triple P/R ≥ 0.95 gate (BASELINE.json).

The "reference outputs" are produced by tests/oracle_model.py — an
independent per-row pure-Python implementation of the reference's inference
math (basic_relation_classifier.py:153-245) — run on the exact same
candidates. The Spark pipeline must match its labels at P/R ≥ 0.95
(observed: 1.0; any kernel/batching bug breaks this immediately because
padding or masking errors flip argmaxes).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from relex_spark.plans.kg_pipeline import KGPipelineConfig, build_triples
from relex_spark.operators.candidates import detect_mentions, generate_candidate_pairs
from relex_spark.scoring.kernels import forward_batch
from relex_spark.scoring.weights import build_fixture_weights
from relex_spark.sources.transcripts import (
    fixture_gazetteer_rows,
    load_semeval_fixture,
    synthesize_transcripts,
)
from tests.oracle_model import oracle_predict


@pytest.fixture(scope="module")
def weights():
    return KGPipelineConfig().resolved_weights()


def test_kernel_matches_oracle_on_fixture_sentences(weights):
    """Vectorized kernel ≡ per-row oracle on all 10 fixture examples,
    batched together (exercises padding across mixed lengths)."""
    fixture = load_semeval_fixture()
    ids_list, heads, tails = [], [], []
    for ex in fixture:
        ids_list.append(weights.token_ids(ex["tokens"]))
        (h0, h1), (t0, t1) = ex["entities"]
        heads.append((h0, h1 - 1))
        tails.append((t0, t1 - 1))
    probs, argmax = forward_batch(
        weights, ids_list, np.array(heads), np.array(tails)
    )
    assert np.allclose(probs.sum(axis=1), 1.0, atol=1e-5)
    for i, ex in enumerate(fixture):
        label, oprobs = oracle_predict(
            weights, ex["tokens"], heads[i], tails[i]
        )
        assert weights.labels[argmax[i]] == label, ex["id"]
        assert np.allclose(probs[i], oprobs, atol=1e-4), ex["id"]


def test_kernel_batch_independence(weights):
    """A row's scores must not depend on batch composition (the engine
    fixes AllenNLP 0.9's pad-window dependence — kernels.py docstring)."""
    ex = load_semeval_fixture()[3]  # shortest sentence (8 tokens)
    ids = weights.token_ids(ex["tokens"])
    long_ids = weights.token_ids(load_semeval_fixture()[6]["tokens"])  # 36 tokens
    span = np.array([[2, 2]])
    solo, _ = forward_batch(weights, [ids], span, np.array([[6, 6]]))
    mixed, _ = forward_batch(
        weights,
        [ids, long_ids],
        np.array([[2, 2], [7, 7]]),
        np.array([[6, 6], [18, 18]]),
    )
    assert np.allclose(solo[0], mixed[0], atol=1e-6)


def test_pipeline_pr_gate_vs_oracle(spark, weights):
    """The north-rule gate: engine triples vs oracle labels, P/R ≥ 0.95."""
    t = synthesize_transcripts(spark, n_convs=40)
    config = KGPipelineConfig(weights=weights)
    scored = build_triples(t, config)

    # Recompute candidates (tokens+spans) for the oracle pass.
    mentions = detect_mentions(t, config.gazetteer_rows)
    pairs = generate_candidate_pairs(mentions, config.max_pairs_per_turn)
    cand_rows = pairs.select(
        "id", "tokens", "head_start", "head_end", "tail_start", "tail_end"
    ).collect()
    assert cand_rows, "no candidates generated"
    oracle_labels = {
        r["id"]: oracle_predict(
            weights,
            list(r["tokens"]),
            (r["head_start"], r["head_end"]),
            (r["tail_start"], r["tail_end"]),
        )[0]
        for r in cand_rows
    }

    got = {r["id"]: r["label"] for r in scored.select("id", "label").collect()}
    assert set(got) == set(oracle_labels)
    matches = sum(1 for k, v in got.items() if oracle_labels[k] == v)
    precision = matches / len(got)
    recall = matches / len(oracle_labels)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_planted_sentences_yield_reference_spans(spark):
    """Every planted fixture turn must produce a candidate whose spans equal
    the reference reader's inclusive spans (semeval2010_task8.py:95-96)."""
    t = synthesize_transcripts(spark, n_convs=40)
    mentions = detect_mentions(t, fixture_gazetteer_rows())
    pairs = generate_candidate_pairs(mentions)
    fixture = load_semeval_fixture()
    by_text = {" ".join(ex["tokens"]): ex for ex in fixture}
    planted = t.where(F.col("text").isin(list(by_text)))
    n_planted = planted.count()
    assert n_planted > 0

    joined = pairs.join(
        planted.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
    )
    rows = joined.collect()
    hit_turns = set()
    for r in rows:
        ex = by_text[r["text"]]
        (h0, h1e), (t0, t1e) = ex["entities"]
        if (
            (r["head_start"], r["head_end"]) == (h0, h1e - 1)
            and (r["tail_start"], r["tail_end"]) == (t0, t1e - 1)
        ):
            hit_turns.add((r["conv_id"], r["turn_idx"]))
    # every planted turn has the reference pair among its candidates
    assert len(hit_turns) == n_planted


def test_predict_json_lifecycle(spark, weights):
    """§3.3 JSON prediction: raw text + END-EXCLUSIVE spans → label from
    the label set, probs > 0 summing to 1
    (relation_classifier_predictor_test.py:12-55 contract)."""
    from relex_spark.plans.predict import predict_records

    config = KGPipelineConfig(weights=weights)
    recs = [
        {
            "id": "j1",
            "text": "the Student joined the Association yesterday",
            "head": [1, 2],   # end-exclusive: token 1 only
            "tail": [4, 5],
        }
    ]
    out = predict_records(spark, recs, config).collect()
    assert len(out) == 1
    row = out[0]
    assert row["label"] in weights.labels
    probs = list(row["probs"])
    assert len(probs) == len(weights.labels)
    assert all(p > 0 for p in probs)
    assert abs(sum(probs) - 1.0) < 1e-5

    # exclusive→inclusive conversion: same prediction as the equivalent
    # pre-tokenized inclusive-span candidate through the batch path
    import numpy as np

    from relex_spark.scoring.kernels import forward_batch

    toks = recs[0]["text"].split()
    ids = [
        weights.token_to_id.get(t.lower(), 1) for t in toks
    ]
    probs_ref, argmax = forward_batch(
        weights, [ids], np.array([[1, 1]]), np.array([[4, 4]])
    )
    assert weights.labels[int(argmax[0])] == row["label"]
    assert np.allclose(probs_ref[0], probs, atol=1e-5)


def test_weights_reject_offset_table_too_small():
    """n_position < max_len would overflow the extreme offset index
    1 + n_position + (max_len - 1) past the 2*n_position table bound
    (and negative numpy indices would silently wrap) — must fail at
    construction, not mid-job."""
    import pytest

    with pytest.raises(ValueError, match="n_position"):
        build_fixture_weights(["a", "b"], n_position=10, max_len=64)
    with pytest.raises(ValueError, match="n_position"):
        # old off-by-one blessing: index 1+63+63 = 127 would hit row 127
        # of a 127-row table (max valid 126) → IndexError mid-stage
        build_fixture_weights(["a", "b"], n_position=63, max_len=64)
    build_fixture_weights(["a", "b"], n_position=64, max_len=64)  # boundary ok


def test_multi_namespace_scoring_matches_oracle(spark):
    """M1: ner/pos namespace embeddings through the Spark stage vs the
    per-row pure-Python oracle (sorted-namespace concat order)."""
    import numpy as np

    from relex_spark.plans.driver_queries import _ns_weights
    from relex_spark.scoring.scorer import broadcast_weights, score_candidates
    from relex_spark.sources.readers import read_tacred_json, tacred_to_candidates
    from tests.oracle_model import oracle_predict

    w = _ns_weights()
    assert w.ns_dims == 24 and w.d_in == 32 + 24 + 16 + 16
    cands = tacred_to_candidates(
        read_tacred_json(spark, "relex_spark/data/tacred_fixture.json"), max_len=100
    )
    wbc = broadcast_weights(spark, w)
    scored = score_candidates(
        cands, wbc, keep_columns=["id"], encoder="cnn", with_probs=True
    )
    got = {r["id"]: r for r in scored.collect()}

    rows = cands.select(
        "id", "tokens", "head_start", "head_end", "tail_start", "tail_end",
        "ner", "pos", "dep",
    ).collect()
    assert len(rows) == 3
    for r in rows:
        label, probs = oracle_predict(
            w,
            list(r["tokens"]),
            (r["head_start"], r["head_end"]),
            (r["tail_start"], r["tail_end"]),
            ns_tags={
                "ner": list(r["ner"]),
                "pos": list(r["pos"]),
                "dep": list(r["dep"]),
            },
        )
        assert got[r["id"]]["label"] == label, r["id"]
        assert np.allclose(got[r["id"]]["probs"], probs, atol=1e-4), r["id"]


def test_micro_unit_scores_invariant_to_chunking_and_order(weights, monkeypatch):
    """The golden-oracle determinism contract: with float64 fixture weights,
    micro-unit-quantized scores must be IDENTICAL regardless of forward-
    chunk composition or row order — the failure mode this pins was real
    (float32 GEMM accumulation drifted ~1e-7 with chunk shape, flipping a
    golden-pinned score sitting on a floor(x*1e6+0.5) boundary between
    runs). float64 leaves ~1e-16 drift: no micro-unit can move."""
    import relex_spark.scoring.kernels as K

    assert weights.emb.dtype == np.float64  # the contract's precondition
    fixture = load_semeval_fixture()
    ids_list, heads, tails = [], [], []
    for ex in fixture:
        ids_list.append(weights.token_ids(ex["tokens"]))
        (h0, h1), (t0, t1) = ex["entities"]
        heads.append((h0, h1 - 1))
        tails.append((t0, t1 - 1))
    heads, tails = np.array(heads), np.array(tails)

    def u6(probs):
        return np.floor(probs.max(axis=-1).astype(np.float64) * 1e6 + 0.5)

    base, _ = forward_batch(weights, ids_list, heads, tails)
    # different chunk sizes -> different padded GEMM shapes
    for chunk in (1, 3, 7):
        monkeypatch.setattr(K, "FORWARD_CHUNK_ROWS", chunk)
        probs, _ = forward_batch(weights, ids_list, heads, tails)
        assert (u6(probs) == u6(base)).all(), f"chunk={chunk}"
    monkeypatch.undo()
    # permuted row order -> different chunk membership entirely
    perm = [3, 9, 0, 7, 5, 1, 8, 2, 6, 4]
    probs_p, _ = forward_batch(
        weights, [ids_list[i] for i in perm], heads[perm], tails[perm]
    )
    assert (u6(probs_p) == u6(base)[perm]).all()


def test_fixture_weights_float64_values_exact_vs_float32_draws():
    """compute_dtype changes precision only: every float64 fixture weight
    is EXACTLY its seeded float32 draw (upcast is value-exact), so the
    model function is unchanged -- only accumulation error shrinks."""
    toks = ["alpha", "beta", "gamma"]
    w64 = build_fixture_weights(toks)  # default float64
    w32 = build_fixture_weights(toks, compute_dtype="float32")
    assert w64.emb.dtype == np.float64 and w32.emb.dtype == np.float32
    assert (w64.emb == w32.emb.astype(np.float64)).all()
    assert (w64.ff_w == w32.ff_w.astype(np.float64)).all()
    for k in w32.cnn_filters:
        assert (
            w64.cnn_filters[k][0] == w32.cnn_filters[k][0].astype(np.float64)
        ).all()
    # nested extra params are cast too (spot-check one per family)
    assert w64.extra["gcn_weights"][0].dtype == np.float64
    assert w64.extra["lstm_params"]["w_ih_0"].dtype == np.float64
    assert w64.extra["attn_layers"][0]["wq"].dtype == np.float64
    assert w64.extra["gat_layers"][0]["w"].dtype == np.float64
