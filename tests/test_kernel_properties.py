"""Property-based tests (hypothesis) for the numpy scoring kernels.

The reference has no property tests (SURVEY §5); these pin the kernel
invariants the engine's correctness rests on: the CNN scored from projected
lookup tables equals a naive per-window convolution over the embedded
input (for every offset family, multi-namespace weights, float32 and
float64, and weights whose pad rows are nonzero), outputs are
batch-composition independent, padding never leaks into scores, and offset
indices stay in table range.
"""

from __future__ import annotations

import dataclasses

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from relex_spark.scoring.kernels import (
    cnn_encode,
    embed_batch,
    forward_batch,
    pad_batch,
    relative_offset_index_batch,
    softmax,
)
from relex_spark.scoring.weights import build_fixture_weights

VOCAB = [f"t{i}" for i in range(50)]
W = build_fixture_weights(VOCAB, d_emb=16, d_off=4, num_filters=8, max_len=24)
TAGS = [f"g{i}" for i in range(6)]


def _weights(offset_type="relative", dtype="float64", namespaces=False, archive=False):
    w = build_fixture_weights(
        VOCAB, d_emb=16, d_off=4, num_filters=8, max_len=24,
        offset_type=offset_type, compute_dtype=dtype,
        namespaces={"ner": (TAGS, 3), "pos": (TAGS, 2)} if namespaces else None,
    )
    if archive:
        # A trained archive's token Embedding has no padding_idx, and its
        # offset tables need not keep row 0 zero: pad rows are arbitrary.
        emb, head, tail = w.emb.copy(), w.head_offset_emb.copy(), w.tail_offset_emb.copy()
        emb[0], head[0], tail[0] = 0.7, -0.3, 0.9
        w = dataclasses.replace(w, emb=emb, head_offset_emb=head, tail_offset_emb=tail)
    return w


CNN_WEIGHTS = {
    f"{name}-{dtype}": _weights(dtype=dtype, **kw)
    for name, kw in {
        "relative": {},
        "sine": {"offset_type": "sine"},
        "entity_only": {"offset_type": "entity_only"},
        "namespaces": {"namespaces": True},
        "archive": {"archive": True},
    }.items()
    for dtype in ("float64", "float32")
}


def naive_cnn(w, x, lengths):
    """Per-row, per-window reference convolution (no vectorization)."""
    b = x.shape[0]
    outs = []
    for k, (wk, bk) in sorted(w.cnn_filters.items()):
        nf = wk.shape[1]
        pooled = np.full((b, nf), -np.inf, dtype=np.float32)
        for i in range(b):
            n_win = int(lengths[i]) - k + 1
            if n_win < 1:
                pooled[i] = np.maximum(bk, 0.0)
                continue
            best = np.full(nf, -np.inf, dtype=np.float32)
            for t in range(n_win):
                window = x[i, t : t + k].reshape(-1)
                conv = np.maximum(window @ wk + bk, 0.0)
                best = np.maximum(best, conv)
            pooled[i] = best
        outs.append(pooled)
    return np.concatenate(outs, axis=1)


@st.composite
def batches(draw, max_rows=6, max_len=20):
    n = draw(st.integers(1, max_rows))
    rows, heads, tails = [], [], []
    for _ in range(n):
        length = draw(st.integers(1, max_len))
        rows.append(draw(st.lists(st.integers(0, len(VOCAB) - 1),
                                  min_size=length, max_size=length)))
        h0 = draw(st.integers(0, length - 1))
        h1 = draw(st.integers(h0, length - 1))
        t0 = draw(st.integers(0, length - 1))
        t1 = draw(st.integers(t0, length - 1))
        heads.append([h0, h1])
        tails.append([t0, t1])
    return rows, np.array(heads), np.array(tails)


@settings(max_examples=40, deadline=None)
@given(batches())
def test_cnn_matches_naive_convolution(batch):
    ids_list, heads, tails = batch
    ids, lengths = pad_batch([[i + 2 for i in r] for r in ids_list])
    valid = np.arange(ids.shape[1])[None, :] < lengths[:, None]
    for name, w in CNN_WEIGHTS.items():
        ns_ids = None
        if w.extra.get("ns_emb"):
            ns_ids = {ns: np.where(valid, (ids * j) % (len(TAGS) + 2), 0)
                      for j, ns in ((3, "ner"), (5, "pos"))}
        x = np.array(embed_batch(w, ids, lengths, heads, tails, ns_ids=ns_ids))
        got = cnn_encode(w, ids, lengths, heads, tails, ns_ids)
        want = naive_cnn(w, x, lengths)
        np.testing.assert_allclose(got, want, rtol=1e-4, atol=1e-5, err_msg=name)


@settings(max_examples=25, deadline=None)
@given(batches())
def test_scores_are_batch_composition_independent(batch):
    """Row i's probabilities must not depend on which rows share its batch
    (kernel contract; the reference's CnnEncoder violates it — SURVEY §2.9)."""
    ids_list, heads, tails = batch
    ids = [[i + 2 for i in r] for r in ids_list]
    together, _ = forward_batch(W, ids, heads, tails)
    for i in range(len(ids)):
        solo, _ = forward_batch(W, ids[i : i + 1], heads[i : i + 1], tails[i : i + 1])
        np.testing.assert_allclose(together[i], solo[0], rtol=1e-4, atol=1e-6)


@settings(max_examples=25, deadline=None)
@given(batches())
def test_padding_never_leaks(batch):
    """Appending pad-heavy rows (forcing a larger padded L for everyone)
    must not change existing rows' scores."""
    ids_list, heads, tails = batch
    ids = [[i + 2 for i in r] for r in ids_list]
    base, _ = forward_batch(W, ids, heads, tails)
    widened = ids + [[2] * 24]  # max-length row forces L=24 padding
    h2 = np.vstack([heads, [[0, 0]]])
    t2 = np.vstack([tails, [[0, 0]]])
    wide, _ = forward_batch(W, widened, h2, t2)
    np.testing.assert_allclose(wide[: len(ids)], base, rtol=1e-4, atol=1e-6)


@settings(max_examples=50, deadline=None)
@given(st.integers(1, 30), st.integers(0, 29), st.integers(0, 29))
def test_relative_offset_indices_in_table_range(length, s, e):
    s, e = min(s, length - 1), max(min(e, length - 1), min(s, length - 1))
    lengths = np.array([length])
    idx = relative_offset_index_batch(
        lengths, np.array([s]), np.array([e]), W.n_position, length + 3
    )
    assert idx.min() >= 0 and idx.max() <= 2 * W.n_position
    # padding positions map to index 0 (the zeroed embedding row)
    assert (idx[0, length:] == 0).all()
    # inside the span the offset is exactly n_position + 1 (offset 0)
    assert (idx[0, s : e + 1] == 1 + W.n_position).all()


@settings(max_examples=50, deadline=None)
@given(st.integers(1, 8), st.integers(1, 10))
def test_softmax_rows_sum_to_one(b, c):
    rng = np.random.default_rng(b * 100 + c)
    p = softmax(rng.standard_normal((b, c)).astype(np.float32) * 5)
    np.testing.assert_allclose(p.sum(axis=1), 1.0, rtol=1e-5)
    assert (p >= 0).all()


# ---------------------------------------------------------------------------
# Greedy sequence packing (operators/packing._pack_one_shard): the pure
# per-shard recurrence, property-tested without Spark.
# ---------------------------------------------------------------------------


@given(
    toks=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=200),
    budget=st.integers(min_value=1, max_value=120),
)
@settings(max_examples=200, deadline=None)
def test_pack_one_shard_greedy_invariants(toks, budget):
    import pandas as pd

    from relex_spark.operators.packing import _pack_one_shard

    pdf = pd.DataFrame(
        {"doc_id": range(len(toks)), "shard": 0, "tok_count": toks}
    )
    out = _pack_one_shard(pdf, budget)
    # row-preserving, order-preserving
    assert list(out["doc_id"]) == list(range(len(toks)))
    fills: dict[int, int] = {}
    sizes: dict[int, int] = {}
    for pid, pos, t in zip(out["pack_id"], out["pack_pos"], out["tok_count"]):
        assert pos == sizes.get(pid, 0)  # positions contiguous from 0
        sizes[pid] = sizes.get(pid, 0) + 1
        fills[pid] = fills.get(pid, 0) + int(t)
    # pack ids contiguous from 0 in encounter order
    assert sorted(fills) == list(range(len(fills)))
    # no multi-doc pack exceeds the budget; only oversized docs ride alone over it
    for pid, fill in fills.items():
        assert fill <= budget or sizes[pid] == 1
    # GREEDY: a pack break happens ONLY when the doc truly didn't fit
    prev_pid, prev_fill = 0, 0
    for pid, t in zip(out["pack_id"], out["tok_count"]):
        if pid != prev_pid:
            assert prev_fill + int(t) > budget  # the break was forced
            prev_pid, prev_fill = pid, int(t)
        else:
            prev_fill += int(t)


@given(
    toks=st.lists(st.integers(min_value=1, max_value=50), min_size=2, max_size=100),
    budget=st.integers(min_value=1, max_value=120),
    cut=st.integers(min_value=1, max_value=99),
)
@settings(max_examples=100, deadline=None)
def test_pack_one_shard_streaming_prefix_stability(toks, budget, cut):
    """Greedy packing is a streaming recurrence: the packing of any prefix
    equals the prefix of the whole packing (late-arriving shard data can
    never retroactively change already-emitted packs)."""
    import pandas as pd

    from relex_spark.operators.packing import _pack_one_shard

    cut = min(cut, len(toks) - 1)
    full = _pack_one_shard(
        pd.DataFrame({"doc_id": range(len(toks)), "shard": 0, "tok_count": toks}),
        budget,
    )
    prefix = _pack_one_shard(
        pd.DataFrame({"doc_id": range(cut), "shard": 0, "tok_count": toks[:cut]}),
        budget,
    )
    assert list(prefix["pack_id"]) == list(full["pack_id"])[:cut]
    assert list(prefix["pack_pos"]) == list(full["pack_pos"])[:cut]
