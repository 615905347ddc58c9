"""Deterministic relation-classifier weights (FIXTURES.md §6).

Plays the role of the reference's trained archive
(/root/reference/tests/fixtures/model.tar.gz loaded by
relex/predictors/predictor_utils.py:8-15): an embedding matrix, two
relative-offset embedding tables, CNN filters per ngram size, and a linear
classifier head — all seeded numpy arrays, broadcast to executors.

Architecture mirrors the reference flagship config
(configs/relation_classification/semeval/baseline_cnn.jsonnet): text
embedding + head/tail relative offset embeddings (concatenated,
basic_relation_classifier.py:190-204), CNN seq2vec encoder
(ngram sizes + max-over-time), 1-layer linear feedforward to the 19-label
SemEval space, softmax decode (basic_relation_classifier.py:231-245).
Dropout stages (M2/M3) are identity at inference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

SEMEVAL_LABELS = [
    "Cause-Effect(e1,e2)", "Cause-Effect(e2,e1)",
    "Component-Whole(e1,e2)", "Component-Whole(e2,e1)",
    "Content-Container(e1,e2)", "Content-Container(e2,e1)",
    "Entity-Destination(e1,e2)", "Entity-Destination(e2,e1)",
    "Entity-Origin(e1,e2)", "Entity-Origin(e2,e1)",
    "Instrument-Agency(e1,e2)", "Instrument-Agency(e2,e1)",
    "Member-Collection(e1,e2)", "Member-Collection(e2,e1)",
    "Message-Topic(e1,e2)", "Message-Topic(e2,e1)",
    "Product-Producer(e1,e2)", "Product-Producer(e2,e1)",
    "Other",
]

PAD_ID = 0
OOV_ID = 1


def sine_offset_table(n_rows: int, embedding_dim: int) -> np.ndarray:
    """M5 fixed sinusoidal table (sine_offset_embedder.py:7-17
    position_encoding_init): row p, col j = p / 10000^(2*(j//2)/d); sin on
    even columns, cos on odd; row 0 zero."""
    table = np.array(
        [
            [pos / np.power(10000, 2 * (j // 2) / embedding_dim) for j in range(embedding_dim)]
            if pos != 0
            else np.zeros(embedding_dim)
            for pos in range(n_rows)
        ]
    )
    table[1:, 0::2] = np.sin(table[1:, 0::2])
    table[1:, 1::2] = np.cos(table[1:, 1::2])
    return table.astype(np.float32)


def _cast_floats(obj, dtype):
    """Recursively cast float ndarrays inside dict/list/tuple containers to
    ``dtype``; everything else (int arrays, vocab dicts, scalars) passes
    through untouched."""
    if isinstance(obj, np.ndarray):
        return obj.astype(dtype) if np.issubdtype(obj.dtype, np.floating) else obj
    if isinstance(obj, dict):
        return {k: _cast_floats(v, dtype) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_cast_floats(v, dtype) for v in obj]
    if isinstance(obj, tuple):
        return tuple(_cast_floats(v, dtype) for v in obj)
    return obj


@dataclass
class ModelWeights:
    """All state needed by the scoring kernel; numpy-only, picklable for
    ``sc.broadcast`` (the reference's model-archive analogue, S5)."""

    token_to_id: dict[str, int]
    labels: list[str]
    emb: np.ndarray                # (V, d_emb) float32; row 0 (pad) zero
    head_offset_emb: np.ndarray    # (2*n_position+1, d_off); row 0 zero
    tail_offset_emb: np.ndarray    # (2*n_position+1, d_off); row 0 zero
    cnn_filters: dict[int, tuple[np.ndarray, np.ndarray]]  # k -> (W:(k*d_in,nf), b:(nf,))
    ff_w: np.ndarray               # (d_enc, n_labels)
    ff_b: np.ndarray               # (n_labels,)
    n_position: int
    max_len: int
    lowercase: bool = True
    # offset-embedder family (M4 'relative' default; M5 'sine' swaps the
    # tables for the fixed sinusoidal table + start-anchored index; M6
    # 'entity_only' replaces both tables with 0/1 start markers)
    offset_type: str = "relative"
    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        # Offset lookups index 1 + n_position + (pos - span); the extreme
        # index is 1 + n_position + (max_len - 1) (pos = max_len-1, span
        # start 0) and the table has 2*n_position + 1 rows (max valid index
        # 2*n_position), so the bound is n_position >= max_len. A too-small
        # table would make negative numpy indices silently wrap to the
        # wrong rows while positive overflow raises mid-job inside the
        # distributed stage. Fail loudly at construction instead.
        if self.n_position < self.max_len:
            raise ValueError(
                f"n_position ({self.n_position}) must be >= max_len "
                f"({self.max_len}): offset-embedding indices would overflow"
            )

    @property
    def ns_dims(self) -> int:
        """Extra feature width from multi-namespace embeddings (M1): the
        TACRED configs add ner_tokens/pos_tokens indexers whose embeddings
        the TextFieldEmbedder concatenates (basic_relation_classifier.py:186,
        configs/.../tacred/baseline_boe_tacred.jsonnet:38-48,70-78)."""
        ns_emb = self.extra.get("ns_emb") or {}
        return sum(m.shape[1] for m in ns_emb.values())

    @property
    def d_in(self) -> int:
        if self.offset_type == "entity_only":
            return self.ns_dims + self.emb.shape[1] + 2  # one indicator per span (M6)
        return (
            self.ns_dims
            + self.emb.shape[1]
            + self.head_offset_emb.shape[1]
            + self.tail_offset_emb.shape[1]
        )

    def ns_ids(self, namespace: str, tags: list[str]) -> list[int]:
        """Namespace tag→id with OOV fallback (e.g. ner/pos sequences)."""
        vocab = self.extra["ns_vocab"][namespace]
        return [vocab.get(t, OOV_ID) for t in tags]

    def astype(self, dtype) -> "ModelWeights":
        """Copy with every float array (incl. nested ``extra`` params) cast
        to ``dtype``. float32 → float64 is value-exact, so the float64 copy
        computes the same function with ~1e-16 relative accumulation drift
        instead of float32's ~1e-7 — the determinism headroom the
        micro-unit-quantized golden oracles rely on (a 1e-7 drift lands a
        quantized score on a floor(x*1e6+0.5) boundary often enough to flap
        golden hashes between runs; 1e-16 never does)."""
        return ModelWeights(
            token_to_id=self.token_to_id,
            labels=self.labels,
            emb=_cast_floats(self.emb, dtype),
            head_offset_emb=_cast_floats(self.head_offset_emb, dtype),
            tail_offset_emb=_cast_floats(self.tail_offset_emb, dtype),
            cnn_filters=_cast_floats(self.cnn_filters, dtype),
            ff_w=_cast_floats(self.ff_w, dtype),
            ff_b=_cast_floats(self.ff_b, dtype),
            n_position=self.n_position,
            max_len=self.max_len,
            lowercase=self.lowercase,
            offset_type=self.offset_type,
            extra=_cast_floats(self.extra, dtype),
        )

    def token_ids(self, tokens: list[str]) -> list[int]:
        """V3: token→id with OOV fallback; single_id lowercase_tokens
        semantics (tests/fixtures/basic_relation_classifier.jsonnet:5-8).

        A None element (dirty input) maps to OOV instead of raising."""
        t2i = self.token_to_id
        if self.lowercase:
            return [
                OOV_ID if t is None else t2i.get(t.lower(), OOV_ID)
                for t in tokens
            ]
        return [
            OOV_ID if t is None else t2i.get(t, OOV_ID) for t in tokens
        ]


def build_fixture_weights(
    vocab_tokens: list[str],
    seed: int = 7,
    d_emb: int = 32,
    d_off: int = 16,
    num_filters: int = 32,
    ngram_sizes: tuple[int, ...] = (2, 3, 4, 5),
    n_position: int = 100,
    max_len: int = 100,
    labels: list[str] | None = None,
    offset_type: str = "relative",
    namespaces: dict[str, tuple[list[str], int]] | None = None,
    compute_dtype: str = "float64",
) -> ModelWeights:
    """Seeded-deterministic weights over a supplied (already-ordered) vocab.

    ``vocab_tokens`` must be deterministic — use operators.vocab.build_vocab
    output (count desc, token asc) or a sorted token list.

    ``compute_dtype``: the dtype the kernels will compute in (they follow
    the weight arrays' dtype). Every parameter is DRAWN as seeded float32 —
    bit-identical draws regardless of this argument — then upcast exactly,
    so "float64" (the default) changes accumulation precision only, never
    the weight values. Fixture weights default to float64 because their
    outputs are pinned by micro-unit-quantized golden oracles: float32
    GEMM accumulation drifts ~1e-7 with chunk shape / BLAS threading,
    which flaps values sitting on a quantization boundary; float64 drift
    (~1e-16) cannot move a micro-unit. Pass "float32" for throughput
    benchmarking at production capacity (the reference-capacity bench
    path does), where no golden pins the outputs.

    ``namespaces``: M1 multi-namespace token embeddings — e.g.
    ``{"ner": (tags, 8), "pos": (tags, 8)}`` builds a (pad=0, oov=1)-seeded
    vocab + embedding matrix per namespace; the kernel concatenates them in
    sorted namespace order before the token embedding, matching AllenNLP's
    BasicTextFieldEmbedder sorted-key concat (ner_tokens < pos_tokens <
    tokens). Namespace matrices are drawn AFTER every other parameter so
    the default (namespaces=None) weights are bit-identical to before.
    """
    labels = labels or SEMEVAL_LABELS
    rng = np.random.default_rng(seed)

    token_to_id = {"<pad>": PAD_ID, "<oov>": OOV_ID}
    for tok in vocab_tokens:
        if tok not in token_to_id:
            token_to_id[tok] = len(token_to_id)

    v = len(token_to_id)
    emb = rng.standard_normal((v, d_emb), dtype=np.float32) * 0.5
    emb[PAD_ID] = 0.0

    def offset_table() -> np.ndarray:
        if offset_type == "sine":
            return sine_offset_table(2 * n_position + 1, d_off)
        t = rng.standard_normal((2 * n_position + 1, d_off), dtype=np.float32) * 0.5
        t[0] = 0.0  # padding_idx=0 zeroed (relative_offset_embedder.py:13-17)
        return t

    head_off = offset_table()
    tail_off = offset_table()

    ns_total = sum(dim for _, dim in namespaces.values()) if namespaces else 0
    d_in = ns_total + d_emb + (2 if offset_type == "entity_only" else 2 * d_off)
    cnn = {}
    for k in ngram_sizes:
        w = rng.standard_normal((k * d_in, num_filters), dtype=np.float32)
        w *= np.float32(1.0 / np.sqrt(k * d_in))
        b = rng.standard_normal(num_filters, dtype=np.float32) * 0.1
        cnn[k] = (w, b)

    d_enc = num_filters * len(ngram_sizes)
    ff_w = rng.standard_normal((d_enc, len(labels)), dtype=np.float32)
    ff_w *= np.float32(1.0 / np.sqrt(d_enc))
    ff_b = rng.standard_normal(len(labels), dtype=np.float32) * 0.1

    # M12 GCN head (optional encoder path): 2 graph-conv layers + a linear
    # head over the 3-scope pooled representation (gcn.py:75-78 defaults).
    gcn_hidden = num_filters
    gcn_ws, gcn_bs = [], []
    gcn_in = d_in
    for _ in range(2):
        wl = rng.standard_normal((gcn_in, gcn_hidden), dtype=np.float32)
        wl *= np.float32(1.0 / np.sqrt(gcn_in))
        gcn_ws.append(wl)
        gcn_bs.append(rng.standard_normal(gcn_hidden, dtype=np.float32) * 0.1)
        gcn_in = gcn_hidden
    gcn_ff_w = rng.standard_normal((3 * gcn_hidden, len(labels)), dtype=np.float32)
    gcn_ff_w *= np.float32(1.0 / np.sqrt(3 * gcn_hidden))
    gcn_ff_b = rng.standard_normal(len(labels), dtype=np.float32) * 0.1
    extra = {
        "gcn_weights": gcn_ws,
        "gcn_biases": gcn_bs,
        "gcn_ff_w": gcn_ff_w,
        "gcn_ff_b": gcn_ff_b,
    }

    # M11 bag-of-embeddings head (input dim = d_in, no projection)
    rngmat = rng.standard_normal((d_in, len(labels)), dtype=np.float32)
    extra["boe_ff_w"] = rngmat * np.float32(1.0 / np.sqrt(d_in))
    extra["boe_ff_b"] = rng.standard_normal(len(labels), dtype=np.float32) * 0.1

    # M9 BiLSTM head (seq2seq_pool over a bidirectional LSTM)
    lstm_hidden = 16

    def _mat(rows: int, cols: int, scale: float | None = None) -> np.ndarray:
        m = rng.standard_normal((rows, cols), dtype=np.float32)
        return m * np.float32(scale if scale is not None else 1.0 / np.sqrt(rows))

    extra["lstm_hidden"] = lstm_hidden
    extra["lstm_params"] = {
        f"{name}_{d}": (
            _mat(d_in if name == "w_ih" else lstm_hidden, 4 * lstm_hidden)
            if name != "b"
            else rng.standard_normal(4 * lstm_hidden, dtype=np.float32) * 0.1
        )
        for d in (0, 1)
        for name in ("w_ih", "w_hh", "b")
    }
    extra["lstm_ff_w"] = _mat(2 * lstm_hidden, len(labels))
    extra["lstm_ff_b"] = rng.standard_normal(len(labels), dtype=np.float32) * 0.1

    # M10 stacked self-attention head (head count must divide d_in).
    # Block structure mirrors AllenNLP 0.9 StackedSelfAttentionEncoder
    # (configs/.../baseline_self_attention.jsonnet:98-105): per layer a
    # 2-layer feedforward sublayer (relu→linear) with residual + layer
    # norm, then multi-head attention with residual + layer norm.
    extra["attn_heads"] = next(h for h in (4, 2, 1) if d_in % h == 0)
    attn_ffh = d_in  # feedforward_hidden_dim

    def _ln_pair() -> tuple[np.ndarray, np.ndarray]:
        g = 1.0 + rng.standard_normal(d_in, dtype=np.float32) * 0.1
        b = rng.standard_normal(d_in, dtype=np.float32) * 0.1
        return g.astype(np.float32), b

    attn_layers = []
    for _ in range(2):
        ln_ff = _ln_pair()
        ln_out = _ln_pair()
        attn_layers.append(
            {
                "wq": _mat(d_in, d_in),
                "wk": _mat(d_in, d_in),
                "wv": _mat(d_in, d_in),
                "wo": _mat(d_in, d_in),
                "ffw1": _mat(d_in, attn_ffh),
                "ffb1": rng.standard_normal(attn_ffh, dtype=np.float32) * 0.1,
                "ffw2": _mat(attn_ffh, d_in),
                "ffb2": rng.standard_normal(d_in, dtype=np.float32) * 0.1,
                "ln_ff_g": ln_ff[0],
                "ln_ff_b": ln_ff[1],
                "ln_out_g": ln_out[0],
                "ln_out_b": ln_out[1],
            }
        )
    extra["attn_layers"] = attn_layers
    extra["attn_ff_w"] = _mat(d_in, len(labels))
    extra["attn_ff_b"] = rng.standard_normal(len(labels), dtype=np.float32) * 0.1

    # M13 GAT head (gat.py defaults: leaky_relu(0.2), 3-scope pooling)
    gat_hidden, gat_heads = 32, 4
    dh = gat_hidden // gat_heads
    extra["gat_heads"] = gat_heads
    extra["gat_layers"] = []
    g_in = d_in
    for _ in range(2):
        extra["gat_layers"].append(
            {
                "w": _mat(g_in, gat_hidden),
                "a1": rng.standard_normal((gat_heads, dh), dtype=np.float32) * 0.3,
                "a2": rng.standard_normal((gat_heads, dh), dtype=np.float32) * 0.3,
            }
        )
        g_in = gat_hidden
    extra["gat_ff_w"] = _mat(3 * gat_hidden, len(labels))
    extra["gat_ff_b"] = rng.standard_normal(len(labels), dtype=np.float32) * 0.1

    # M1 namespaces last: keeps the rng draw sequence (and so every weight
    # above) unchanged when namespaces is None.
    if namespaces:
        ns_vocab: dict[str, dict[str, int]] = {}
        ns_emb: dict[str, np.ndarray] = {}
        for name in sorted(namespaces):
            tags, dim = namespaces[name]
            vocab = {"<pad>": PAD_ID, "<oov>": OOV_ID}
            for t in sorted(set(tags)):
                if t not in vocab:
                    vocab[t] = len(vocab)
            m = rng.standard_normal((len(vocab), dim), dtype=np.float32) * 0.5
            m[PAD_ID] = 0.0
            ns_vocab[name] = vocab
            ns_emb[name] = m
        extra["ns_vocab"] = ns_vocab
        extra["ns_emb"] = ns_emb

    w = ModelWeights(
        offset_type=offset_type,
        extra=extra,
        token_to_id=token_to_id,
        labels=list(labels),
        emb=emb,
        head_offset_emb=head_off,
        tail_offset_emb=tail_off,
        cnn_filters=cnn,
        ff_w=ff_w,
        ff_b=ff_b,
        n_position=n_position,
        max_len=max_len,
    )
    if np.dtype(compute_dtype) != np.float32:
        w = w.astype(np.dtype(compute_dtype))
    return w
