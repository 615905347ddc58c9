"""Streaming KG construction (engine extension; reference has no streaming
— SURVEY §2.8 notes the absence explicitly).

Because every pre-canonicalization stage is stateless-per-row (mention
detection, pair generation, preprocessing, Arrow-batched scoring are all
narrow), the SAME stage functions run unchanged on a streaming DataFrame —
one code path for batch and streaming (build_triples is reused verbatim).
Canonical-triple maintenance is an aggregation → done per micro-batch via
``foreachBatch`` appending scored triples; consumers aggregate on read or
run the batch canonicalizer over the accumulated table.

``streaming_window_counts`` is the watermark + tumbling-window aggregation
surface (late rows beyond the watermark are dropped), matching the batch
``events_tumbling_window`` query's grouping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from relex_spark.plans.kg_pipeline import KGPipelineConfig, build_triples
from relex_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of transcript turns (new parquet files appear as
    upstream ingest lands them; on a cluster this is the Iceberg/Kafka
    source with identical downstream code)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def run_streaming_triples(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    config: KGPipelineConfig | None = None,
    available_now: bool = True,
):
    """transcripts stream → scored (subj, pred, obj) triples, append sink.

    Exactly-once via the streaming checkpoint (file-source offsets +
    idempotent parquet append) — the streaming analogue of the batch stage
    manifest protocol in sources/sinks.py.
    """
    scored = build_triples(stream, config or KGPipelineConfig())
    writer = (
        scored.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_window_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts over an event stream
    (ts TIMESTAMP, event_type STRING, value DOUBLE): late data beyond the
    watermark is dropped; state is bounded by the watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ENTITY_STATE_OUTPUT = (
    "conv_id STRING, batch_turns BIGINT, new_entities ARRAY<STRING>, "
    "total_entities INT"
)
ENTITY_STATE_SCHEMA = "seen ARRAY<STRING>"


def conversation_entity_state(
    transcripts: DataFrame,
    gazetteer_rows: list[tuple[str, str, str]] | None = None,
):
    """Custom stateful streaming operator (applyInPandasWithState): per
    conversation, accumulate the set of entity ids mentioned so far and
    emit, per micro-batch, the batch's newly-seen entities plus the running
    total. State survives restarts via the streaming checkpoint — the
    stateful analogue of the batch stage-resume protocol.

    Streaming-only (Spark rejects applyInPandasWithState on batch queries;
    the batch equivalent of this rollup is a plain groupBy(conv_id)
    collect_set). Arrow-batched per group — no per-row Python (input_hint
    requirement): mention detection runs JVM-side BEFORE the grouping, so
    the Python side only folds entity-id arrays into the state set.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from relex_spark.operators.candidates import detect_mentions
    from relex_spark.sources.transcripts import fixture_gazetteer_rows

    rows = gazetteer_rows or fixture_gazetteer_rows()
    mentions = detect_mentions(transcripts, rows, keep_text=False).select(
        "conv_id",
        "turn_idx",
        F.transform(F.col("mentions"), lambda m: m["entity_id"]).alias("eids"),
    )

    def update(key, pdfs, state: GroupState):
        seen: set[str] = set(state.get[0]) if state.exists else set()
        before = len(seen)
        new: list[str] = []
        n_turns = 0
        for pdf in pdfs:
            n_turns += len(pdf)
            for eids in pdf["eids"]:
                for eid in eids:
                    if eid not in seen:
                        seen.add(eid)
                        new.append(eid)
        state.update((sorted(seen),))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "batch_turns": [n_turns],
                "new_entities": [sorted(new)],
                "total_entities": [before + len(new)],
            }
        )

    return mentions.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=ENTITY_STATE_OUTPUT,
        stateStructType=ENTITY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ANAPHORA_OUTPUT = (
    "conv_id STRING, turn_idx INT, trigger STRING, antecedent STRING, "
    "antecedent_turn_idx INT, gap INT"
)
# rows_since: rows processed since the last mention ROW (the batch window
# is row-count-based, not turn-distance-based)
ANAPHORA_STATE = "last_ent STRING, last_turn INT, rows_since INT"


def streaming_resolve_anaphora(
    transcripts: DataFrame,
    entities,
    triggers,
    lookback: int = 6,
):
    """Streaming twin of ``coref.resolve_anaphora`` — ORDER-DEPENDENT
    per-conversation state carried across micro-batches with
    ``applyInPandasWithState``: the most recent entity mention
    (last_ent, last_turn) plus the row count since it. Unlike the
    entity-rollup state (a set union, order-free), anaphora state is a
    carry-forward, so this exercises the harder stateful class: the
    result equals the batch window IFF each conversation's turns arrive
    in turn order across batches (the ingest contract a per-conv-ordered
    source like Kafka-keyed-by-conv or turn-ordered file ingest
    provides; within a batch the group is sorted defensively).

    JVM-side feature projection (anaphora_features) runs BEFORE the
    grouping, so Python folds four narrow columns — no text crosses the
    Arrow boundary. Parity with the batch operator is pinned by
    tests/test_streaming.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from relex_spark.operators.coref import anaphora_features

    if lookback < 1:
        raise ValueError(f"lookback must be >= 1, got {lookback}")
    feat = anaphora_features(transcripts, entities, triggers)

    def update(key, pdfs, state: GroupState):
        last_ent, last_turn, rows_since = (
            state.get if state.exists else (None, None, 0)
        )
        out = {k: [] for k in (
            "conv_id", "turn_idx", "trigger", "antecedent",
            "antecedent_turn_idx", "gap",
        )}
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("turn_idx", kind="mergesort")
        for turn_idx, ent, trig in zip(
            pdf["turn_idx"], pdf["turn_entity"], pdf["trigger"]
        ):
            if last_ent is not None:
                rows_since += 1
            if (
                isinstance(trig, str)
                and last_ent is not None
                and rows_since <= lookback
            ):
                out["conv_id"].append(key[0])
                out["turn_idx"].append(int(turn_idx))
                out["trigger"].append(trig)
                out["antecedent"].append(last_ent)
                out["antecedent_turn_idx"].append(int(last_turn))
                out["gap"].append(int(turn_idx) - int(last_turn))
            if isinstance(ent, str):  # None or NaN = no mention
                last_ent, last_turn, rows_since = ent, int(turn_idx), 0
        state.update((last_ent, last_turn, rows_since))
        yield pd.DataFrame(out)

    return feat.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=ANAPHORA_OUTPUT,
        stateStructType=ANAPHORA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_session_counts(
    events: DataFrame,
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked session-window aggregation: Spark's built-in
    ``session_window`` merges events into per-key sessions that close when
    no event arrives within ``gap``; a session's aggregate is emitted once
    the watermark passes its end. The streaming complement of the batch
    ``operators/sessions.py`` index-based formulation — identical session
    boundaries (strictly-greater-than-gap splits), verified by the
    batch-parity test.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            key_col,
            F.col("win.start").alias("session_start"),
            "n_events",
            "first_ts",
            "last_ts",
        )
    )


def streaming_exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: emit each distinct document text once
    (first arrival wins), dropping later duplicates that arrive within the
    watermark horizon. Uses ``dropDuplicatesWithinWatermark`` so the dedup
    state is BOUNDED: a text hash is held only until the watermark passes
    its event time, instead of growing forever like plain
    ``dropDuplicates`` on an unbounded stream — the property that makes
    exact dedup viable on a 10^12-row ingest.

    Dedup key is the md5 of the text (not the full text) so state stores
    32 bytes per live key.
    """
    hashed = docs.select(
        F.col(id_col),
        F.col(ts_col),
        F.md5(F.col(text_col)).alias("text_hash"),
    )
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def run_streaming_triples_batched(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    config=None,
    available_now: bool = True,
):
    """Streaming triples via ``foreachBatch``: each micro-batch is a plain
    DataFrame, so the batch pipeline runs UNCHANGED — including
    dedup-before-inference (``score_distinct``), which the pure streaming
    plan must skip (its dedup/join would need unbounded state; per-batch
    dedup needs none and still wins whenever a batch repeats inputs).

    Exactly-once: the parquet write is partitioned by batch id and each
    batch OVERWRITES its own partition (dynamic partitionOverwriteMode), so
    a replayed batch after failure rewrites the identical partition instead
    of appending duplicates — idempotent replay on top of the checkpoint's
    offset tracking.
    """
    from relex_spark.plans.kg_pipeline import KGPipelineConfig, build_triples

    config = config or KGPipelineConfig()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = build_triples(batch_df, config).withColumn(
            "batch_id", F.lit(batch_id).cast("bigint")
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_streaming_canonical_graph(
    stream: DataFrame,
    graph_dir: str,
    checkpoint_dir: str,
    config=None,
    available_now: bool = True,
):
    """Incrementally-maintained canonical graph: per micro-batch, extract
    + canonicalize that batch's triples, then MERGE the batch rollup into
    the accumulated (subj, pred, obj) table with monoid algebra
    (operators/incremental.merge_rollups: support sums, max_score maxes,
    first_id mins) — so the materialized graph equals the single-pass
    batch rollup over everything ingested (merge-equivalence, pinned by
    test). Each committed version lives under ``graph_dir/v{batch_id}``
    with the stage manifest as the atomic commit marker; a replayed batch
    rewrites the same version directory idempotently and the reader
    follows the highest complete version.
    """
    import os

    from relex_spark.operators.canonicalize import alias_components, canonicalize_triples
    from relex_spark.operators.incremental import merge_rollups
    from relex_spark.plans.kg_pipeline import KGPipelineConfig, build_triples
    from relex_spark.sources.sinks import committed_versions, read_stage, write_stage

    config = config or KGPipelineConfig()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        update = canonicalize_triples(
            build_triples(batch_df, config),
            alias_components(spark, config.gazetteer_rows),
            salt_buckets=config.salt_buckets,
        )
        # A replayed batch merges against its predecessor, not against its
        # own (possibly committed) output, or replay would drop history.
        prev = max(
            (v for v in committed_versions(graph_dir, "canonical_graph") if v < batch_id),
            default=None,
        )
        if prev is not None:
            accumulated = read_stage(
                spark, os.path.join(graph_dir, f"v{prev}"), drop_lineage=True
            )
            update = merge_rollups(
                accumulated,
                update,
                keys=("subj", "pred", "obj"),
                sum_cols=("support",),
                max_cols=("max_score",),
                min_cols=("first_id",),
            )
        write_stage(
            update,
            os.path.join(graph_dir, f"v{batch_id}"),
            "canonical_graph",
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
