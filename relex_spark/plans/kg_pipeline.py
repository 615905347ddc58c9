"""The flagship KG-construction pipeline (north rule, end to end):

    transcripts ──► mention detection (gazetteer, zero-shuffle)
                ──► candidate pair generation (per-turn, zero-shuffle)
                ──► preprocess (truncate/clamp — P5/P7, codegen)
                ──► relation scoring (mapInPandas CNN kernel, M1..M18)
                ──► entity canonicalization (alias-graph components)
                ──► graph materialize: (subj, pred, obj) triples
                    + per-partition lineage/counters, stage checkpoints

Shuffle census for the whole plan (the 100 TB argument):
  * detect+pairs+preprocess: ZERO shuffles — narrow chain from the scan.
    Input partitioning (by conv_id ranges from the table layout) flows
    through untouched.
  * score (score_distinct=True, the default): one map-side-combined
    dedup shuffle of the slim candidate features + a key join back —
    bought so the Arrow-batched CNN runs once per DISTINCT (tokens,
    spans) input (dedup-before-inference; transcript corpora repeat
    boilerplate heavily). With score_distinct=False (and always on the
    streaming path) scoring is in-place and the chain stays zero-shuffle.
  * canonicalize: the component map is tiny (solved on the driver from
    the gazetteer rows) and inlined as a literal map, so the subj/obj
    rewrite is a projection; triple dedup groupBy(subj,pred,obj) is the
    plan's ONE wide stage, AQE-coalesced and optionally salted for hot
    triples.
  * checkpoints: with checkpoint_dir set, each stage writes parquet + a
    manifest (resume boundary; kgbench's kg_refcap writes and resumes them
    on every pass).

Per-turn text-equality invariant: mention/pair/score stages carry
(conv_id, turn_idx) through; `verify_text_invariant` joins output back to
the input on that key and asserts the text column round-trips.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from relex_spark.operators.candidates import (
    detect_mentions,
    generate_candidate_pairs,
)
from relex_spark.operators.canonicalize import alias_components, canonicalize_triples
from relex_spark.scoring.scorer import broadcast_weights, score_candidates
from relex_spark.scoring.weights import ModelWeights, build_fixture_weights
from relex_spark.sources.readers import preprocess_candidates, tacred_tokens_and_spans
from relex_spark.sources.sinks import read_stage, stage_is_complete, write_stage
from relex_spark.sources.transcripts import fixture_gazetteer_rows, load_semeval_fixture


@dataclass
class KGPipelineConfig:
    max_len: int = 100
    max_pairs_per_turn: int = 10
    encoder: str = "cnn"
    checkpoint_dir: str | None = None   # enables stage checkpoints + resume
    salt_buckets: int = 0
    # Score each distinct (tokens, spans) input once and join the result
    # back (dedup-before-inference). Real transcript corpora repeat
    # boilerplate/greetings/tool output heavily — the synthetic bench corpus
    # measures a >10^4 duplication factor — and the model is a pure
    # function of (tokens, spans), so scoring duplicates is pure waste.
    # Costs one shuffle (map-side-combined dedup) + one join; wins whenever
    # the duplication factor exceeds ~1.2. Batch-only: skipped on a stream
    # (see _score_each_distinct_input, shared with the TACRED pipeline).
    score_distinct: bool = True
    gazetteer_rows: list[tuple[str, str, str]] = field(
        default_factory=fixture_gazetteer_rows
    )
    weights: ModelWeights | None = None
    # Kernel compute dtype for the default fixture weights (see
    # scoring/weights.build_fixture_weights): "float64" (default) is the
    # CORRECTNESS dtype — micro-unit-quantized golden oracles cannot flap
    # with chunk shape or BLAS threading. Throughput benchmarks pin
    # "float32" (what a production deployment ships): at 32 parallel
    # workers on one memory bus, float64 doubles kernel bytes/FLOPs and
    # measurably degrades tail latency (BENCH/BASELINE.md, round 5).
    compute_dtype: str = "float64"

    def resolved_weights(self) -> ModelWeights:
        if self.weights is not None:
            return self.weights
        # Deterministic default: vocab = sorted distinct fixture+gazetteer tokens.
        toks: set[str] = set()
        for ex in load_semeval_fixture():
            toks.update(t.lower() for t in ex["tokens"])
        for surface, _, _ in self.gazetteer_rows:
            toks.update(surface.lower().split(" "))
        # Memoized: the synthetic build RNGs ~50 MB of matrices driver-side —
        # a pure-serial cost that must not recur per job (it measurably
        # capped scaling efficiency: every build_triples call paid it).
        self.weights = build_fixture_weights(
            sorted(toks), max_len=self.max_len, compute_dtype=self.compute_dtype
        )
        return self.weights


def reference_capacity_weights(
    gazetteer_rows: list[tuple[str, str, str]] | None = None,
    max_len: int = 100,
) -> "ModelWeights":
    """Seeded synthetic weights at the reference's FLAGSHIP capacity
    (configs/relation_classification/semeval/baseline_cnn.jsonnet:4-9:
    GloVe-300d embeddings, 2 x 50-d relative offset tables, 150 filters x
    ngram sizes [2,3,4,5] = 600-d encoder, 19 SemEval labels).

    Purpose: benchmarking the inference/scan balance at production FLOP
    density (~10^3-10^4 x the 2-dim toy fixture); labels from synthetic
    weights carry no golden, so this never enters a correctness query —
    throughput rows only (BENCH kg_scored_triples_refcap*)."""
    toks: set[str] = set()
    for ex in load_semeval_fixture():
        toks.update(t.lower() for t in ex["tokens"])
    for surface, _, _ in gazetteer_rows or fixture_gazetteer_rows():
        toks.update(surface.lower().split(" "))
    return build_fixture_weights(
        sorted(toks),
        d_emb=300,
        d_off=50,
        num_filters=150,
        ngram_sizes=(2, 3, 4, 5),
        max_len=max_len,
        offset_type="relative",
        # Production kernels run float32 (what a real deployment ships, and
        # what the published refcap throughput must measure); no golden
        # pins these outputs, so float64 determinism headroom isn't needed.
        compute_dtype="float32",
    )


def score_key(encoder: str, ns_names: list[str] | None = None):
    """(feature columns, md5 key expression) identifying a scoring input —
    the dedup-before-inference identity. ONE definition, shared by
    build_triples and bench.py's distinct-input metric, so the published
    duplication factor cannot drift from the key the pipeline dedups on.

    The key covers everything the score is a function of: tokens + spans,
    plus adjacency for graph encoders, plus each namespace tag sequence
    for multi-namespace (M1) weights — two candidates with equal tokens
    but different ner/pos tags must NOT collapse to one score.
    """
    # Every key part is NULL-coalesced to a sentinel that cannot collide
    # with real data (concat_ws silently DROPS null parts, which would
    # collapse a row with a NULL column onto the key of a row genuinely
    # missing that part — two different scoring inputs, one score).
    null_s = F.lit("\x02null")

    def arr_key(c: str) -> F.Column:
        # concat_ws maps both NULL array and [] to "" — keep them distinct.
        return F.when(F.col(c).isNull(), null_s).otherwise(F.concat_ws(" ", c))

    feat = ["tokens", "head_start", "head_end", "tail_start", "tail_end"]
    key_parts = [
        arr_key("tokens"),
        *[F.coalesce(F.col(c).cast("string"), null_s) for c in feat[1:]],
    ]
    if encoder in ("gcn", "gat"):
        feat.append("adjacency")
        key_parts.append(F.coalesce(F.md5(F.to_json("adjacency")), null_s))
    for ns in ns_names or []:
        feat.append(ns)
        key_parts.append(arr_key(ns))
    return feat, F.md5(F.concat_ws("\x01", *key_parts))


def _score_each_distinct_input(
    candidates: DataFrame,
    weights_bc,
    keep: list[str],
    encoder: str,
    distinct: bool,
) -> DataFrame:
    """Dedup-before-inference for both KG pipelines: score each distinct
    score_key input once and join the result back to every occurrence.
    With ``distinct`` false, or on a stream (the dedup/join would need
    unbounded state), scoring runs in place and the chain stays
    zero-shuffle.

    dropDuplicates compiles to a first()-aggregate with map-side partial
    combine, so hot duplicate keys collapse before the shuffle; AQE
    broadcasts the scored-distinct side of the join back when it is small.
    """
    if not distinct or candidates.isStreaming:
        return score_candidates(
            candidates, weights_bc, keep_columns=keep, encoder=encoder
        )
    # namespaces come from the weights, exactly as score_candidates derives
    # its feature columns, so the key and the scored features agree
    feat, key = score_key(
        encoder, sorted(weights_bc.value.extra.get("ns_emb") or {})
    )
    # Materialize the keyed candidates once (an EAGER local checkpoint): both
    # the distinct branch and the join-back side consume keyed, and without
    # it the whole narrow upstream chain executes TWICE (measured +30% wall
    # on the scaling corpus). Eager, not lazy (r6, measured): with a LAZY
    # checkpoint the two consumer stages are submitted concurrently and race
    # to materialize the same partitions — 148s summed CPU vs 27s eager on
    # the sf0.1 bench corpus (wall 11.7s vs 3.3s). On a cluster this
    # materialization is the "preprocessed candidates" stage the
    # checkpoint_dir protocol writes anyway.
    keyed = candidates.withColumn("score_key", key).localCheckpoint(eager=True)
    uniq = keyed.select("score_key", *feat).dropDuplicates(["score_key"])
    scored_uniq = score_candidates(
        uniq, weights_bc, keep_columns=["score_key"], encoder=encoder
    )
    return keyed.select("score_key", *keep).join(scored_uniq, "score_key").drop(
        "score_key"
    )


def build_triples(
    transcripts: DataFrame,
    config: KGPipelineConfig | None = None,
) -> DataFrame:
    """transcripts → scored candidate triples (pre-canonicalization).

    Narrow from scan through preprocess; see the module docstring's
    shuffle census for the score_distinct dedup-before-inference stage.
    """
    config = config or KGPipelineConfig()
    mentions = detect_mentions(transcripts, config.gazetteer_rows, keep_text=False)
    pairs = generate_candidate_pairs(mentions, config.max_pairs_per_turn)
    pairs = preprocess_candidates(pairs, config.max_len)
    weights_bc = broadcast_weights(transcripts, config.resolved_weights())
    return _score_each_distinct_input(
        pairs,
        weights_bc,
        ["conv_id", "turn_idx", "id", "subj", "obj"],
        config.encoder,
        config.score_distinct,
    )


def run_kg_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    config: KGPipelineConfig | None = None,
) -> DataFrame:
    """Full pipeline with optional stage checkpoint/resume.

    Returns the canonical triple table:
        subj, pred, obj, support, max_score, first_id
    """
    config = config or KGPipelineConfig()
    ckpt = config.checkpoint_dir

    def _stage(name: str, make: "callable[[], DataFrame]") -> DataFrame:
        if not ckpt:
            return make()
        path = os.path.join(ckpt, name)
        if not stage_is_complete(path, name):
            write_stage(make(), path, name)
        return read_stage(spark, path, drop_lineage=True)

    def canonical() -> DataFrame:
        # Built only when canonical_triples is not committed: a resume reads
        # that stage alone and neither rescores nor rebuilds the map.
        scored = _stage("scored_triples", lambda: build_triples(transcripts, config))
        return canonicalize_triples(
            scored,
            alias_components(spark, config.gazetteer_rows),
            salt_buckets=config.salt_buckets,
        )

    return _stage("canonical_triples", canonical)


def tacred_pipeline_weights(masking_mode: str = "NER") -> ModelWeights:
    """Deterministic GCN-capable weights over the TACRED fixture vocabulary
    (lowercased fixture tokens + the masking markers the chosen mode can
    emit) and the TACRED label set (sorted fixture relations + no_relation)
    — the TACRED twin of KGPipelineConfig.resolved_weights()."""
    from relex_spark.sources.transcripts import load_tacred_fixture

    toks: set[str] = set()
    labels: set[str] = {"no_relation"}
    types: set[str] = set()
    for ex in load_tacred_fixture():
        toks.update(t.lower() for t in ex["token"])
        labels.add(ex["relation"])
        types.update((ex["subj_type"], ex["obj_type"]))
    # markers per masking mode (tacred.py:179-196): keep all five modes'
    # shapes in-vocab so mode switches don't silently change OOV coverage
    for ty in types:
        toks.update(
            {
                f"__{ty}__".lower(),
                f"__{ty}_sub__".lower(),
                f"__{ty}_obj__".lower(),
            }
        )
    toks.update({"__sub__", "__obj__"})
    return build_fixture_weights(sorted(toks), labels=sorted(labels))


def tacred_planted_candidates(
    spark: SparkSession,
    transcripts: DataFrame,
    max_len: int = 100,
    masking_mode: str = "NER",
    prune: int = 1,
) -> DataFrame:
    """TACRED-schema candidate stage: recover planted turns by broadcast
    join against the 3-row fixture dim (annotations travel with the dim —
    a real ingest would carry parser columns in the table), then the TACRED
    reader's projection (mask, normalize, truncate, clamp) — then
    dependency adjacency with SDP pruning + clipping (G1-G4).

    Narrow from the scan: broadcast join of a ``local_dim`` + codegen
    projections + one Arrow-batched mapInPandas (adjacency); input
    partitioning flows through untouched."""
    from relex_spark.functions.text import split_ws
    from relex_spark.graph.adjacency import with_adjacency
    from relex_spark.sources.localdim import local_dim
    from relex_spark.sources.transcripts import entity_id, load_tacred_fixture

    dim_rows = [
        (
            " ".join(ex["token"]),
            ex["subj_start"],
            ex["subj_end"],
            ex["obj_start"],
            ex["obj_end"],
            ex["subj_type"],
            ex["obj_type"],
            [int(h) for h in ex["stanford_head"]],
            entity_id(" ".join(ex["token"][ex["subj_start"] : ex["subj_end"] + 1])),
            entity_id(" ".join(ex["token"][ex["obj_start"] : ex["obj_end"] + 1])),
        )
        for ex in load_tacred_fixture()
    ]
    dim = local_dim(
        spark,
        dim_rows,
        "sent_text string, subj_start int, subj_end int, obj_start int, "
        "obj_end int, subj_type string, obj_type string, "
        "dep_heads array<int>, subj string, obj string",
    )

    # Gate on the generator's planting predicate when the corpus carries it
    # (transcripts_from_documents_tacred emits `planted`), mirroring the
    # oracle's `hash % PLANT_EVERY = 0` WHERE clause. On a corpus without
    # the column, recovery falls back to text equality alone — which
    # assumes no non-planted turn coincidentally equals a fixture sentence.
    if "planted" in transcripts.columns:
        transcripts = transcripts.where(F.col("planted")).drop("planted")
    planted = transcripts.join(
        F.broadcast(dim), transcripts["text"] == dim["sent_text"]
    )

    cands = preprocess_candidates(
        planted.select(
            "conv_id",
            "turn_idx",
            F.concat_ws(":", "conv_id", "turn_idx", F.lit("1")).alias("id"),
            *tacred_tokens_and_spans(split_ws(F.col("text")), masking_mode),
            "dep_heads",
            "subj",
            "obj",
        ),
        max_len,
    )
    return with_adjacency(cands, prune=prune, max_len=max_len)


def tacred_scored_candidates(
    spark: SparkSession,
    transcripts: DataFrame,
    max_len: int = 100,
    masking_mode: str = "NER",
    prune: int = 1,
    weights: ModelWeights | None = None,
    score_distinct: bool = True,
) -> DataFrame:
    """TACRED candidates → GCN-scored candidates (M12), with the same
    dedup-before-inference shuffle as the SemEval flagship (the score key
    includes the adjacency for graph encoders — score_key("gcn")).

    Returns conv_id, turn_idx, id, subj, obj, label, score."""
    cands = tacred_planted_candidates(
        spark, transcripts, max_len=max_len, masking_mode=masking_mode,
        prune=prune,
    )
    weights_bc = broadcast_weights(
        spark, weights if weights is not None else tacred_pipeline_weights(masking_mode)
    )
    return _score_each_distinct_input(
        cands,
        weights_bc,
        ["conv_id", "turn_idx", "id", "subj", "obj"],
        "gcn",
        score_distinct,
    )


def run_tacred_kg_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    max_len: int = 100,
    masking_mode: str = "NER",
    prune: int = 1,
    weights: ModelWeights | None = None,
    score_distinct: bool = True,
) -> DataFrame:
    """TACRED-schema end-to-end pipeline over a planted-transcript corpus —
    the reference's second schema gets the same corpus-scale treatment as
    the SemEval flagship: tacred_planted_candidates (P4 barrier + G1-G4
    adjacency), tacred_scored_candidates (GCN scoring with
    dedup-before-inference), and entity canonicalization over the TACRED
    alias gazetteer. Canonicalize's component map is a literal map; the
    triple rollup is the one wide stage.

    Returns canonical triples: subj, pred, obj, support, max_score,
    first_id."""
    from relex_spark.sources.transcripts import tacred_gazetteer_rows

    scored = tacred_scored_candidates(
        spark, transcripts, max_len=max_len, masking_mode=masking_mode,
        prune=prune, weights=weights, score_distinct=score_distinct,
    )
    return canonicalize_triples(scored, alias_components(spark, tacred_gazetteer_rows()))


def verify_text_invariant(transcripts: DataFrame) -> int:
    """Per-turn text equality under stable (conv_id, turn_idx) ordering:
    join/split round-trip must be the identity (input_hint invariant;
    reference analogue semeval2010_task8.py:68,89). Returns violation count
    (0 == invariant holds)."""
    from relex_spark.functions.text import join_ws, split_ws

    return (
        transcripts.select(
            F.col("text"), join_ws(split_ws("text")).alias("roundtrip")
        )
        .where(F.col("text") != F.col("roundtrip"))
        .count()
    )
