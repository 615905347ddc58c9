"""Vectorized numpy scoring kernels (reference §2.6 M1, M4, M7, M8, M11,
M14–M16, M18) — the compute that runs inside each Arrow micro-batch.

Everything here operates on one padded batch ``(B, L, …)``, exactly the
shape the reference's AllenNLP batches take
(basic_relation_classifier.py:153-229), in numpy. Padding is
per-micro-batch only, never global (reference analogue: bucket-iterator
padding, B1).

The CNN encoder never builds the embedded input. Its first layer is linear
in ``x = [NS[ns] | E[tok] | H[h] | T[t]]``, so each lookup table is
projected through its row block of the packed filter matrix and the
convolution is a sum of gathers from the projected tables (``cnn_encode``).
The other encoders take the embedded ``(B, L, d_in)`` tensor from
``embed_batch``; both read their row indices from ``_input_indices``.

Compute dtype follows the weight arrays (``ModelWeights.astype``):
float64 for the golden-pinned fixture path (accumulation drift ~1e-16 —
micro-unit quantization can never flip with chunk shape or BLAS thread
count), float32 for production/bench capacity. The external boundary is
float32 either way: ``forward_batch`` casts probs and the representation
tap down, so output schemas and downstream quantization grids are
identical across compute dtypes.

Per-row determinism note: the engine defines CNN max-over-time over the
row's *valid* windows only (windows fully inside the unpadded length), so a
row's score never depends on which batch it landed in. (AllenNLP 0.9's
CnnEncoder convolves across padding, making outputs batch-composition
dependent — a defect we deliberately do not reproduce; see SURVEY §2.9
discussion of parity scope. Label-level parity is the P/R gate.)
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from relex_spark.scoring.weights import ModelWeights

# ---------------------------------------------------------------------------
# Buffer pool: Spark reuses Python workers across tasks, so scratch tensors
# are process-lifetime reusable. Allocating a large one (here the non-CNN
# encoders' embedded input) fresh per batch turns into mmap/munmap churn —
# page zeroing + TLB shootdowns serialize ALL workers on the kernel
# (measured on the former dense CNN's projected tensor: 8→32 procs made
# total throughput DROP without this). Grow-only, keyed by use-site.
# ---------------------------------------------------------------------------

_BUF_POOL: dict[str, np.ndarray] = {}


def _pooled(name: str, shape: tuple[int, ...], dtype=np.float32) -> np.ndarray:
    """A reusable scratch array of `shape` (contents undefined)."""
    dt = np.dtype(dtype)
    need = int(np.prod(shape)) * dt.itemsize
    buf = _BUF_POOL.get(name)
    if buf is None or buf.nbytes < need:
        buf = np.empty(max(need, dt.itemsize), dtype=np.uint8)
        _BUF_POOL[name] = buf
    return buf[:need].view(dt).reshape(shape)


def pad_batch(ids_list: list[list[int]], pad_id: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Pad a list of id sequences → (ids (B,L) int64, lengths (B,) int64)."""
    b = len(ids_list)
    lens = np.fromiter((len(x) for x in ids_list), dtype=np.int64, count=b)
    lmax = int(lens.max()) if b else 0
    ids = np.full((b, max(lmax, 1)), pad_id, dtype=np.int64)
    for i, seq in enumerate(ids_list):
        ids[i, : len(seq)] = seq
    return ids, lens


def relative_offset_index_batch(
    lengths: np.ndarray, starts: np.ndarray, ends: np.ndarray, n_position: int, lmax: int
) -> np.ndarray:
    """M4 batched: index matrix (B, L) per
    relative_offset_embedder.py:40-51 (masked to 0 on padding)."""
    pos = np.arange(lmax)[None, :]                      # (1, L)
    s = starts[:, None]
    e = ends[:, None]
    off = np.where(pos < s, pos - s, np.where(pos > e, pos - e, 0))
    idx = 1 + n_position + off
    mask = pos < lengths[:, None]
    return np.where(mask, idx, 0)


# M6 entity_only offsets as a lookup table: row 0 off the span start, row 1
# at it (the 0/1 start marker of entity_only_offset_embedder.py:33-38).
_START_MARKER = np.array([[0.0], [1.0]])


def _input_tables(w: ModelWeights) -> list[np.ndarray]:
    """The lookup tables whose rows, concatenated per position, form the
    encoder input ``x = [NS[ns] | E[tok] | H[h] | T[t]]``, in column order.

    Multi-namespace (M1) tables come first in sorted namespace order —
    AllenNLP BasicTextFieldEmbedder concatenates text field keys in sorted
    order and ner_tokens < pos_tokens < tokens (basic_relation_classifier.py:186,
    tacred configs token_indexers) — then the token table (M7), then the
    head and tail offset tables (M4–M6)."""
    ns_emb = w.extra.get("ns_emb") or {}
    tables = [ns_emb[name] for name in sorted(ns_emb)] + [w.emb]
    if w.offset_type == "entity_only":
        marker = _START_MARKER.astype(w.emb.dtype)
        return tables + [marker, marker]
    return tables + [w.head_offset_emb, w.tail_offset_emb]


def _input_indices(w: ModelWeights, ids: np.ndarray, lengths: np.ndarray,
                   head_spans: np.ndarray, tail_spans: np.ndarray,
                   ns_ids: dict[str, np.ndarray] | None) -> list[np.ndarray]:
    """(B, L) row indices into each of ``_input_tables(w)``, same order.
    Offset indices are 0 on padding; pad positions never fall inside a
    valid CNN window, so no caller depends on what a pad row holds."""
    ns_emb = w.extra.get("ns_emb") or {}
    idx = []
    if ns_emb:
        if ns_ids is None:
            raise ValueError("weights carry ns_emb but no ns_ids supplied")
        idx = [ns_ids[name] for name in sorted(ns_emb)]
    idx.append(ids)
    lmax = ids.shape[1]
    pos = np.arange(lmax)[None, :]
    mask = pos < lengths[:, None]
    if w.offset_type == "relative":
        for spans in (head_spans, tail_spans):
            idx.append(relative_offset_index_batch(
                lengths, spans[:, 0], spans[:, 1], w.n_position, lmax
            ))
    elif w.offset_type == "sine":
        # M5 (sine_offset_embedder.py:49-60): index anchored at span start
        for spans in (head_spans, tail_spans):
            idx.append(np.where(mask, 1 + w.n_position + pos - spans[:, :1], 0))
    elif w.offset_type == "entity_only":
        # M6: row 1 of the start-marker table at the span start
        for spans in (head_spans, tail_spans):
            idx.append(((pos == spans[:, :1]) & mask).astype(np.intp))
    else:
        raise ValueError(f"unknown offset_type {w.offset_type!r}")
    return idx


def embed_batch(w: ModelWeights, ids: np.ndarray, lengths: np.ndarray,
                head_spans: np.ndarray, tail_spans: np.ndarray,
                ns_ids: dict[str, np.ndarray] | None = None) -> np.ndarray:
    """M1 + M4×2 + M7: namespace + token embedding lookups, head/tail
    offset embedding lookup, concatenation → (B, L, d_in), zero at
    padding. Table order: ``_input_tables``."""
    b, lmax = ids.shape
    mask = np.arange(lmax)[None, :] < lengths[:, None]

    # Pooled output: written slice-wise (no per-table temporaries beyond the
    # fancy-index results, no final concatenate copy). Valid until the next
    # embed_batch call in this worker — callers consume it within the same
    # forward chunk.
    out = _pooled("embed_x", (b, lmax, w.d_in), w.emb.dtype)
    c0 = 0
    for table, idx in zip(
        _input_tables(w), _input_indices(w, ids, lengths, head_spans, tail_spans, ns_ids)
    ):
        out[:, :, c0 : c0 + table.shape[1]] = table[idx]
        c0 += table.shape[1]
    out *= mask[:, :, None]
    return out


class _CnnPack(NamedTuple):
    """The CNN filters, packed and projected once per weights object.

    Packed filter matrix: all widths side by side, ``(d_in, Σ k·nf)``,
    columns ordered by width k ascending, then window offset o, so the
    block for (k, o) starts at column ``offs[k] + o·nf``."""

    projected: list[np.ndarray | None]  # per input table: table @ its row block; None for tokens
    tok: int                            # position of the token table
    w_tok: np.ndarray                   # token row block of the packed matrix (d_emb, Σ k·nf)
    ks: list[int]
    nfs: dict[int, int]
    bks: dict[int, np.ndarray]
    offs: dict[int, int]


def _cnn_packed(w: ModelWeights) -> _CnnPack:
    """Pack all filter widths into one matrix and project every input table
    except the token table (the namespace and offset tables are small and
    fixed) through its row block. Cached per weights object (one pack per
    worker)."""
    packed = getattr(w, "_cnn_packed_cache", None)
    if packed is not None:
        return packed
    ks = sorted(w.cnn_filters)
    blocks, offs, nfs, bks = [], {}, {}, {}
    c0 = 0
    for k in ks:
        wk, bk = w.cnn_filters[k]
        nf = wk.shape[1]
        d_in = wk.shape[0] // k
        wk3 = wk.reshape(k, d_in, nf)  # row o*d_in+d of wk == window offset o
        for o in range(k):
            blocks.append(wk3[o])
        offs[k], nfs[k], bks[k] = c0, nf, bk
        c0 += k * nf
    # dtype passthrough: the pack computes in whatever precision the
    # weights carry (float64 fixture / float32 production)
    w_all = np.concatenate(blocks, axis=1)
    tables = _input_tables(w)
    tok = len(tables) - 3  # the token table precedes the two offset tables
    projected, w_tok, r0 = [], None, 0
    for i, table in enumerate(tables):
        rows = w_all[r0 : r0 + table.shape[1]]
        r0 += table.shape[1]
        if i == tok:
            w_tok = np.ascontiguousarray(rows)
            projected.append(None)
        else:
            projected.append(table @ rows)
    packed = _CnnPack(projected, tok, w_tok, ks, nfs, bks, offs)
    try:
        w._cnn_packed_cache = packed
    except Exception:  # frozen/slotted weights object: recompute per call
        pass
    return packed


def cnn_encode(w: ModelWeights, ids: np.ndarray, lengths: np.ndarray,
               head_spans: np.ndarray, tail_spans: np.ndarray,
               ns_ids: dict[str, np.ndarray] | None = None) -> np.ndarray:
    """M8: multi-width 1-D conv + ReLU + max-over-valid-windows → (B, d_enc),
    scored from projected lookup tables.

    The first layer is linear in ``x``, so ``x[t] @ W_k[o]`` is the sum over
    input tables of ``(table @ W_k[o] rows)[idx[t]]``. The namespace and
    offset tables are projected once per weights object (``_cnn_packed``);
    the token table is projected per call over the chunk's distinct ids
    only. conv_k[t] = Σ_o Σ_table P[idx[t+o], block(k, o)] is then summed
    straight into a per-width accumulator of valid windows — neither the
    embedded input nor the projected ``(B·L, Σ k·nf)`` tensor is built.

    The bias and ReLU come after the max over time: both are monotone, so
    ReLU(max_t conv + b) == max_t ReLU(conv + b) exactly. Rows shorter than
    a width contribute that width's ReLU(b) (a single zero-input window —
    deterministic, batch-independent).
    """
    b, lmax = ids.shape
    pack = _cnn_packed(w)
    idx = _input_indices(w, ids, lengths, head_spans, tail_spans, ns_ids)
    uniq, inv = np.unique(idx[pack.tok], return_inverse=True)
    idx[pack.tok] = inv.reshape(b, lmax)
    projected = list(pack.projected)
    projected[pack.tok] = w.emb[uniq] @ pack.w_tok
    segments = list(zip(projected, idx))
    pooled_all = []
    for k in pack.ks:
        nf, c0 = pack.nfs[k], pack.offs[k]
        n_w = lmax - k + 1
        n_win = lengths - k + 1
        if n_w < 1:
            pooled = np.zeros((b, nf), dtype=pack.w_tok.dtype)
        else:
            parts = (                                            # (B, n_w, nf) each
                table[ti[:, o : o + n_w], c0 + o * nf : c0 + (o + 1) * nf]
                for o in range(k)
                for table, ti in segments
            )
            acc = next(parts)
            for part in parts:
                acc += part
            wmask = np.arange(n_w)[None, :] < n_win[:, None]
            np.copyto(acc, -np.inf, where=~wmask[:, :, None])
            pooled = acc.max(axis=1)
            # Short rows (no valid window): one zero-input window.
            pooled[n_win < 1] = 0.0
        pooled += pack.bks[k]
        pooled_all.append(np.maximum(pooled, 0.0, out=pooled))
    return np.concatenate(pooled_all, axis=1)


def boe_encode(x: np.ndarray, lengths: np.ndarray, pooling: str = "sum") -> np.ndarray:
    """M11 bag-of-embeddings: masked sum/mean/max pool over time
    (bag_of_embeddings_encoder.py:41-61 with projection off)."""
    if pooling == "sum":
        return x.sum(axis=1)
    if pooling == "mean":
        return x.sum(axis=1) / np.maximum(lengths[:, None], 1)
    if pooling == "max":
        lmax = x.shape[1]
        mask = np.arange(lmax)[None, :] < lengths[:, None]
        pooled = np.where(mask[:, :, None], x, -np.inf).max(axis=1)
        # zero-token rows: all lanes -inf would propagate to NaN logits —
        # define the empty pool as 0 (the CNN path's analogue of its
        # ReLU(bias) short-row rule)
        return np.where(mask.any(axis=1)[:, None], pooled, 0.0)
    raise ValueError(f"'{pooling}' is not a valid pooling operation.")


def scoped_pool_batch(
    x: np.ndarray,
    lengths: np.ndarray,
    head_spans: np.ndarray,
    tail_spans: np.ndarray,
    pooling: str = "max",
) -> np.ndarray:
    """M15: concat of sequence/head/tail masked pools → (B, 3*d)
    (seq2vec_encoders/utils.py:33-73)."""
    b, lmax, d = x.shape
    pos = np.arange(lmax)[None, :]
    seq_mask = pos < lengths[:, None]
    head_mask = (pos >= head_spans[:, :1]) & (pos <= head_spans[:, 1:2]) & seq_mask
    tail_mask = (pos >= tail_spans[:, :1]) & (pos <= tail_spans[:, 1:2]) & seq_mask

    def _pool(mask: np.ndarray) -> np.ndarray:
        m = mask[:, :, None]
        if pooling == "max":
            pooled = np.where(m, x, -np.inf).max(axis=1)
            # empty scope (zero-token row, or a span clamped outside the
            # sequence): defined as 0, not -inf -> NaN
            return np.where(mask.any(axis=1)[:, None], pooled, 0.0)
        if pooling == "mean":
            cnt = np.maximum(mask.sum(axis=1)[:, None], 1)
            return (x * m).sum(axis=1) / cnt
        if pooling == "sum":
            return (x * m).sum(axis=1)
        raise ValueError(f"'{pooling}' is not a valid pooling operation.")

    return np.concatenate([_pool(seq_mask), _pool(head_mask), _pool(tail_mask)], axis=1)


def gcn_encode(
    x: np.ndarray,
    adj: np.ndarray,
    weights: list[np.ndarray],
    biases: list[np.ndarray],
) -> np.ndarray:
    """M12: L× graph convolution out = relu((A·(X·W) + b) / (rowdeg(A)+1))
    (gcn.py:48-55 adds the layer bias before the GCN.forward :114-119
    degree division + activation), batched einsum. Sentence-local graphs —
    no shuffle, pure per-batch tensor algebra."""
    h = x
    denom = adj.sum(axis=2, keepdims=True) + 1.0
    for w_l, b_l in zip(weights, biases):
        ax_w = np.einsum("bij,bjd->bid", adj, h @ w_l) + b_l
        h = np.maximum(ax_w / denom, 0.0)
    return h.astype(x.dtype, copy=False)


def softmax(logits: np.ndarray) -> np.ndarray:
    """M18 decode (basic_relation_classifier.py:237): stable softmax."""
    z = logits - logits.max(axis=-1, keepdims=True)
    e = np.exp(z)
    return e / e.sum(axis=-1, keepdims=True)


def _densify_adjacency(adjacency: list, b: int, lmax: int) -> np.ndarray:
    """G5 batch driver: per-row edge lists → (B, L, L) 0/1 matrices
    (tacred.py:167-169). Normalizes Arrow structs to tuples and delegates
    the per-row matrix to graph.adjacency.densify — ONE G5 definition."""
    from relex_spark.graph.adjacency import densify

    adj = np.zeros((b, lmax, lmax), dtype=np.float32)
    for i, edges in enumerate(adjacency):
        if edges is None:
            continue
        pairs = [
            (e["src"], e["dst"]) if isinstance(e, dict) else (e[0], e[1])
            for e in edges
        ]
        adj[i] = densify(pairs, lmax)
    return adj


def _encode_chunk(
    w: ModelWeights,
    ids: np.ndarray,
    lengths: np.ndarray,
    head_spans: np.ndarray,
    tail_spans: np.ndarray,
    encoder: str,
    adjacency: list | None,
    ns_ids: dict[str, np.ndarray] | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Encoder dispatch for one padded chunk → (enc, ff_w, ff_b). The CNN
    scores from the id matrices directly; every other encoder takes the
    embedded input."""
    ff_w, ff_b = w.ff_w, w.ff_b
    if encoder == "cnn":
        return cnn_encode(w, ids, lengths, head_spans, tail_spans, ns_ids), ff_w, ff_b
    x = embed_batch(w, ids, lengths, head_spans, tail_spans, ns_ids=ns_ids)
    if encoder == "boe_sum":
        enc = boe_encode(x, lengths, "sum")
        ff_w = w.extra.get("boe_ff_w", ff_w)
        ff_b = w.extra.get("boe_ff_b", ff_b)
    elif encoder == "bilstm":
        h = lstm_encode(x, lengths, w.extra["lstm_params"], w.extra["lstm_hidden"])
        enc = boe_encode(h, lengths, "max")  # seq2seq_pool default scope
        ff_w, ff_b = w.extra["lstm_ff_w"], w.extra["lstm_ff_b"]
    elif encoder == "attention":
        h = attention_encode(x, lengths, w.extra["attn_layers"], w.extra["attn_heads"])
        enc = boe_encode(h, lengths, "max")
        ff_w, ff_b = w.extra["attn_ff_w"], w.extra["attn_ff_b"]
    elif encoder == "gat":
        if adjacency is None:
            raise ValueError("gat encoder requires adjacency edge lists")
        adj = _densify_adjacency(adjacency, x.shape[0], x.shape[1])
        h = gat_encode(x, adj, lengths, w.extra["gat_layers"], w.extra["gat_heads"])
        enc = scoped_pool_batch(h, lengths, head_spans, tail_spans, "max")
        ff_w, ff_b = w.extra["gat_ff_w"], w.extra["gat_ff_b"]
    elif encoder == "gcn":
        if adjacency is None:
            raise ValueError("gcn encoder requires adjacency edge lists")
        adj = _densify_adjacency(adjacency, x.shape[0], x.shape[1])
        h = gcn_encode(x, adj, w.extra["gcn_weights"], w.extra["gcn_biases"])
        enc = scoped_pool_batch(h, lengths, head_spans, tail_spans, "max")
        ff_w, ff_b = w.extra["gcn_ff_w"], w.extra["gcn_ff_b"]
    else:
        raise ValueError(f"unknown encoder {encoder!r}")
    return enc, ff_w, ff_b


# Rows per forward chunk. Upstream sorts partitions by token count (B1
# bucketing), so chunks are length-homogeneous: per-chunk padding is tight
# and the embedded tensor stays small enough for the worker buffer pool.
FORWARD_CHUNK_ROWS = 512


def forward_batch(
    w: ModelWeights,
    ids_list: list[list[int]],
    head_spans: np.ndarray,
    tail_spans: np.ndarray,
    encoder: str = "cnn",
    adjacency: list | None = None,
    return_enc: bool = False,
    ns_ids_list: dict[str, list[list[int]]] | None = None,
) -> tuple:
    """Full forward pass for one micro-batch → (probs (B, C), argmax (B,))
    [+ encoded (B, d_enc) when ``return_enc`` — M19 representation tap,
    basic_relation_classifier.py:221 ``output_dict["input_rep"]``].

    Mirrors basic_relation_classifier.py:153-229 at inference: embed →
    offset embeds → concat → encoder → feedforward → softmax/argmax (the
    CNN folds the embedding lookups into its first layer, ``cnn_encode``).
    ``adjacency`` (per-row (src, dst) edge lists) is required for the
    GCN/GAT encoders; densified per chunk (G5), never materialized globally.

    Processes rows in FORWARD_CHUNK_ROWS chunks, each padded to its own max
    length — per-row outputs are chunk-independent (valid-window/masked
    semantics). Chunk shape still perturbs the last-ulp GEMM accumulation
    order (for the CNN, the per-chunk token-table projection), so exact-bit
    chunk invariance holds only to the weights' dtype precision: ~1e-16
    for float64 fixture weights (micro-unit-quantized outputs provably
    stable — test_micro_unit_scores_invariant_to_chunking), ~1e-7 for
    float32 production weights (tolerance-level equivalence).
    """
    n = len(ids_list)
    probs_parts: list[np.ndarray] = []
    enc_parts: list[np.ndarray] = []
    for r0 in range(0, max(n, 1), FORWARD_CHUNK_ROWS):
        r1 = min(n, r0 + FORWARD_CHUNK_ROWS)
        ids, lengths = pad_batch(ids_list[r0:r1])
        hs, ts = head_spans[r0:r1], tail_spans[r0:r1]
        ns_ids = None
        if ns_ids_list is not None:
            lmax = ids.shape[1]
            ns_ids = {}
            for name, seqs in ns_ids_list.items():
                # clip to the token length (upstream truncation applies to
                # tokens; tag sequences align to the pre-truncation tokens)
                padded = np.zeros((ids.shape[0], lmax), dtype=np.int64)
                for i, seq in enumerate(seqs[r0:r1]):
                    m = min(len(seq), int(lengths[i]))
                    padded[i, :m] = seq[:m]
                ns_ids[name] = padded
        adj_c = adjacency[r0:r1] if adjacency is not None else None
        enc, ff_w, ff_b = _encode_chunk(w, ids, lengths, hs, ts, encoder, adj_c, ns_ids)
        logits = enc @ ff_w + ff_b
        # float32 at the external boundary regardless of compute dtype:
        # downstream schemas, the argmax, and the micro-unit quantization
        # grid are identical for float64 and float32 weights — the cast is
        # deterministic given the (stable) higher-precision value.
        probs_parts.append(softmax(logits).astype(np.float32, copy=False))
        if return_enc:
            enc_parts.append(np.ascontiguousarray(enc, dtype=np.float32))
    probs = probs_parts[0] if len(probs_parts) == 1 else np.concatenate(probs_parts)
    if return_enc:
        enc_all = enc_parts[0] if len(enc_parts) == 1 else np.concatenate(enc_parts)
        return probs, probs.argmax(axis=-1), enc_all
    return probs, probs.argmax(axis=-1)


def lstm_encode(
    x: np.ndarray,
    lengths: np.ndarray,
    params: dict,
    hidden: int,
) -> np.ndarray:
    """M9: bidirectional LSTM over the padded batch → (B, L, 2H), zeros at
    padding (relex/modules/seq2vec_encoders/seq2seq_pool_encoder.py:34-52
    wraps an AllenNLP LSTM Seq2Seq encoder; gate math is the standard
    torch.nn.LSTM cell, gates ordered i,f,g,o).

    Sequential over time by construction — batched GEMM per step keeps it
    vectorized across rows; per-row masking freezes state past each row's
    length so outputs are batch-independent.
    """
    b, lmax, _ = x.shape
    out = np.zeros((b, lmax, 2 * hidden), dtype=x.dtype)
    for direction in (0, 1):
        w_ih = params[f"w_ih_{direction}"]      # (D, 4H)
        w_hh = params[f"w_hh_{direction}"]      # (H, 4H)
        bias = params[f"b_{direction}"]         # (4H,)
        h = np.zeros((b, hidden), dtype=x.dtype)
        c = np.zeros((b, hidden), dtype=x.dtype)
        steps = range(lmax) if direction == 0 else range(lmax - 1, -1, -1)
        for t in steps:
            gates = x[:, t, :] @ w_ih + h @ w_hh + bias
            i_g = 1.0 / (1.0 + np.exp(-gates[:, :hidden]))
            f_g = 1.0 / (1.0 + np.exp(-gates[:, hidden : 2 * hidden]))
            g_g = np.tanh(gates[:, 2 * hidden : 3 * hidden])
            o_g = 1.0 / (1.0 + np.exp(-gates[:, 3 * hidden :]))
            c_new = f_g * c + i_g * g_g
            h_new = o_g * np.tanh(c_new)
            valid = (t < lengths)[:, None]
            h = np.where(valid, h_new, h)
            c = np.where(valid, c_new, c)
            sl = slice(0, hidden) if direction == 0 else slice(hidden, 2 * hidden)
            out[:, t, sl] = np.where(valid, h, 0.0)
    return out


def _layernorm(z: np.ndarray, gamma: np.ndarray, beta: np.ndarray) -> np.ndarray:
    """AllenNLP LayerNorm: gamma*(z-mean)/(std+1e-6)+beta, population std
    over the feature axis."""
    mu = z.mean(axis=-1, keepdims=True)
    sd = z.std(axis=-1, keepdims=True)
    return gamma * (z - mu) / (sd + 1e-6) + beta


def attention_encode(
    x: np.ndarray,
    lengths: np.ndarray,
    layers: list[dict],
    num_heads: int,
) -> np.ndarray:
    """M10: stacked self-attention → (B, L, D), matching AllenNLP 0.9's
    StackedSelfAttentionEncoder block at inference (all dropouts identity;
    configs/.../baseline_self_attention.jsonnet:98-105). Per layer:

        ff  = Linear(relu(Linear(h)))            # 2-layer feedforward sublayer
        ff  = LayerNorm_ff(ff + h)               # residual (dims equal here)
        att = MultiHead(ff): per head, scaled dot-product attention with
              padding keys masked, concat heads, output projection
        h   = LayerNorm_out(att + ff)            # residual

    Padding positions are re-zeroed after each layer; attention masks
    padding keys, so valid-position outputs are batch-independent.
    """
    b, lmax, d = x.shape
    dh = d // num_heads
    pos_mask = np.arange(lmax)[None, :] < lengths[:, None]          # (B, L)
    att_bias = np.where(pos_mask[:, None, :], 0.0, -1e9)            # (B, 1, L)
    h = x
    for layer in layers:
        ff = np.maximum(h @ layer["ffw1"] + layer["ffb1"], 0.0)
        ff = ff @ layer["ffw2"] + layer["ffb2"]
        ff = _layernorm(ff + h, layer["ln_ff_g"], layer["ln_ff_b"])
        q = ff @ layer["wq"]
        k = ff @ layer["wk"]
        v = ff @ layer["wv"]
        heads_out = np.empty_like(ff)
        for hd in range(num_heads):
            sl = slice(hd * dh, (hd + 1) * dh)
            scores = q[:, :, sl] @ k[:, :, sl].transpose(0, 2, 1)
            scores = scores / np.sqrt(dh) + att_bias
            scores -= scores.max(axis=-1, keepdims=True)
            e = np.exp(scores)
            att = e / e.sum(axis=-1, keepdims=True)
            heads_out[:, :, sl] = att @ v[:, :, sl]
        h = _layernorm(
            heads_out @ layer["wo"] + ff, layer["ln_out_g"], layer["ln_out_b"]
        )
        h = h * pos_mask[:, :, None]
    return h.astype(x.dtype, copy=False)


def gat_encode(
    x: np.ndarray,
    adj: np.ndarray,
    lengths: np.ndarray,
    layers: list[dict],
    num_heads: int,
) -> np.ndarray:
    """M13: graph attention (relex/modules/seq2vec_encoders/gat.py:121-182):
    per layer — linear projection, per-head additive attention scores
    w·[x_i;x_j] masked to adjacency ∧ valid, softmax, weighted sum,
    leaky_relu(0.2)."""
    b, lmax, _ = x.shape
    pos_mask = np.arange(lmax)[None, :] < lengths[:, None]
    pair_mask = pos_mask[:, :, None] & pos_mask[:, None, :]         # (B, L, L)
    att_mask = (adj > 0) & pair_mask
    h = x
    for layer in layers:
        proj = h @ layer["w"]                                        # (B, L, H)
        hidden = proj.shape[-1]
        dh = hidden // num_heads
        out = np.empty((b, lmax, hidden), dtype=proj.dtype)
        for hd in range(num_heads):
            sl = slice(hd * dh, (hd + 1) * dh)
            ph = proj[:, :, sl]
            # additive linear score over [x_i ; x_j] = xi·w1 + xj·w2
            s1 = ph @ layer["a1"][hd]                                # (B, L)
            s2 = ph @ layer["a2"][hd]
            scores = s1[:, :, None] + s2[:, None, :]
            scores = np.where(att_mask, scores, -1e9)
            scores -= scores.max(axis=-1, keepdims=True)
            e = np.exp(scores)
            denom = e.sum(axis=-1, keepdims=True)
            att = e / denom
            # a node with NO adjacency edges (outside the pruned SDP) must
            # output 0 — after max-subtraction its all-masked row becomes
            # uniform (all-zero scores), so the guard must key on the MASK,
            # not the denominator (which is always >= 1 post-subtraction)
            att = np.where(att_mask.any(axis=-1, keepdims=True), att, 0.0)
            out[:, :, sl] = att @ ph
        h = np.where(out > 0, out, 0.2 * out)                        # leaky_relu
        h *= pos_mask[:, :, None]
    return h.astype(x.dtype, copy=False)
