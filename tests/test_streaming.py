"""Streaming surface: the batch stage functions run unchanged on a stream
(availableNow), results equal the batch run; watermarked window agg drops
late data."""

import datetime
import shutil
import tempfile

from pyspark.sql import functions as F

from relex_spark.plans.kg_pipeline import KGPipelineConfig, build_triples
from relex_spark.sources.transcripts import synthesize_transcripts
from relex_spark.streaming.pipeline import (
    run_streaming_triples,
    stream_transcripts,
    streaming_window_counts,
)


def test_streaming_triples_equal_batch(spark):
    tmp = tempfile.mkdtemp(prefix="relex_stream_")
    in_dir, out_dir, ck_dir = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck"
    try:
        t = synthesize_transcripts(spark, n_convs=20)
        t.write.mode("overwrite").parquet(in_dir)

        q = run_streaming_triples(
            stream_transcripts(spark, in_dir), out_dir, ck_dir, KGPipelineConfig()
        )
        q.awaitTermination(300)

        got = {
            (r["id"], r["label"])
            for r in spark.read.parquet(out_dir).select("id", "label").collect()
        }
        expected = {
            (r["id"], r["label"])
            for r in build_triples(spark.read.parquet(in_dir), KGPipelineConfig())
            .select("id", "label")
            .collect()
        }
        assert got == expected and got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_window_counts_drops_late_rows(spark):
    tmp = tempfile.mkdtemp(prefix="relex_late_")
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def rows(batch):
        return spark.createDataFrame(
            [(base + datetime.timedelta(minutes=m), et, float(v)) for m, et, v in batch],
            "ts timestamp, event_type string, value double",
        )

    def run_once():
        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).parquet(f"{tmp}/in")
        agg = streaming_window_counts(stream, "5 minutes", "10 minutes")
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    try:
        # batch 1: events up to t+60min -> watermark advances to t+50min
        rows([(0, "click", 1), (2, "click", 1), (60, "view", 1)]).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/in")
        run_once()

        # batch 2: a VERY late click at t+1min — behind the watermark, must
        # be dropped; its arrival also flushes finalized windows
        rows([(1, "click", 1)]).write.mode("append").parquet(f"{tmp}/in")
        run_once()
        # one more empty-ish cycle so all finalized windows are emitted
        rows([(120, "view", 1)]).write.mode("append").parquet(f"{tmp}/in")
        run_once()

        out = spark.read.parquet(f"{tmp}/out").collect()
        first_win = [
            r
            for r in out
            if r["event_type"] == "click" and r["window_start"] == base
        ]
        # the [0,5) click window reports exactly the 2 on-time events; the
        # late row neither created a duplicate window nor bumped the count
        assert len(first_win) == 1, out
        assert first_win[0]["n_events"] == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_plan_is_stateless_before_sink(spark):
    # the scoring chain must not introduce a stateful operator or shuffle
    tmp = tempfile.mkdtemp(prefix="relex_plan_")
    try:
        synthesize_transcripts(spark, n_convs=2).write.parquet(f"{tmp}/in")
        stream = stream_transcripts(spark, f"{tmp}/in")
        scored = build_triples(stream, KGPipelineConfig())
        assert scored.isStreaming
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_entity_accumulation_across_restarts(spark):
    """applyInPandasWithState: per-conversation entity state persists in the
    streaming checkpoint — entities seen in run 1 are NOT 'new' when a
    second availableNow run (same checkpoint) processes later turns."""
    import datetime as dt

    from relex_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from relex_spark.streaming.pipeline import conversation_entity_state

    tmp = tempfile.mkdtemp(prefix="relex_state_")
    in_dir, out_dir, ck_dir = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck"
    ts = dt.datetime(2024, 1, 1)

    def run_once():
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(in_dir)
        )
        q = (
            conversation_entity_state(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    try:
        batch1 = [
            ("c1", 0, "user", "the Student joined the Association", None, ts),
            ("c1", 1, "assistant", "the Association replied", None, ts),
        ]
        spark.createDataFrame(batch1, TRANSCRIPT_SCHEMA).write.mode(
            "append"
        ).parquet(in_dir)
        run_once()

        batch2 = [
            ("c1", 2, "user", "the Association sent a Cradle", None, ts),
        ]
        spark.createDataFrame(batch2, TRANSCRIPT_SCHEMA).write.mode(
            "append"
        ).parquet(in_dir)
        run_once()

        rows = sorted(
            spark.read.parquet(out_dir).collect(),
            key=lambda r: r["total_entities"],
        )
        assert len(rows) == 2
        first, second = rows
        assert sorted(first["new_entities"]) == ["ent:association", "ent:student"]
        assert first["total_entities"] == 2
        # run 2: Association already in checkpointed state → only Cradle new
        assert second["new_entities"] == ["ent:cradle"]
        assert second["total_entities"] == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_session_counts_emit_on_watermark(spark):
    """Session windows close when the watermark passes session end + gap:
    finalized sessions are emitted (append mode), open ones held as state."""
    from relex_spark.streaming.pipeline import streaming_session_counts

    tmp = tempfile.mkdtemp(prefix="relex_sess_")
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def rows(batch):
        return spark.createDataFrame(
            [
                (u, e, base + datetime.timedelta(minutes=m))
                for u, e, m in batch
            ],
            "user_id int, event_id int, ts timestamp",
        )

    def run_once():
        stream = spark.readStream.schema(
            "user_id int, event_id int, ts timestamp"
        ).parquet(f"{tmp}/in")
        agg = streaming_session_counts(stream, gap="10 minutes", watermark="5 minutes")
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    try:
        # user 1: two sessions (0-5 min and 40-42 min, gap 10m splits them);
        # user 2's far-future event advances the watermark past both
        rows(
            [(1, 100, 0), (1, 101, 5), (1, 102, 40), (1, 103, 42), (2, 200, 600)]
        ).write.mode("overwrite").parquet(f"{tmp}/in")
        run_once()
        # second trigger flushes sessions finalized by the advanced watermark
        rows([(2, 201, 601)]).write.mode("append").parquet(f"{tmp}/in")
        run_once()

        got = {
            (r["user_id"], r["session_start"], r["n_events"])
            for r in spark.read.parquet(f"{tmp}/out").collect()
        }
        assert (1, base, 2) in got
        assert (1, base + datetime.timedelta(minutes=40), 2) in got
        # user 2's session is still open (watermark hasn't passed 601+10m)
        assert not any(u == 2 for u, _, _ in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_exact_dedup_bounded_state(spark):
    from relex_spark.streaming.pipeline import streaming_exact_dedup

    tmp = tempfile.mkdtemp(prefix="relex_sdedup_")
    in_dir, out_dir, ck_dir = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck"
    try:
        base = datetime.datetime(2024, 1, 1, 12, 0, 0)
        texts = [f"text number {i}" for i in range(5)]
        # batch A: each text twice (within-batch dups)
        rows_a = [
            (i, base + datetime.timedelta(minutes=i), texts[i % 5])
            for i in range(10)
        ]
        # batch B: the same texts again from new ids (cross-batch dups,
        # inside the 1h watermark horizon)
        rows_b = [
            (100 + i, base + datetime.timedelta(minutes=20 + i), texts[i])
            for i in range(5)
        ]
        schema = "doc_id long, ts timestamp, text string"
        spark.createDataFrame(rows_a, schema).write.parquet(f"{in_dir}/a")
        spark.createDataFrame(rows_b, schema).write.parquet(f"{in_dir}/b")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{in_dir}/*")
        )
        q = (
            streaming_exact_dedup(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        out = spark.read.parquet(out_dir).collect()
        # one row per distinct text, regardless of batch boundaries
        assert len(out) == 5
        assert len({r["text_hash"] for r in out}) == 5
        # the streaming plan carries dedup state (not a stateless pass-through)
        assert q.lastProgress["stateOperators"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_triples_batched_equal_batch(spark):
    """foreachBatch variant (dedup-before-inference active per batch) must
    emit exactly the batch pipeline's triples."""
    from relex_spark.streaming.pipeline import run_streaming_triples_batched

    tmp = tempfile.mkdtemp(prefix="relex_fb_")
    in_dir, out_dir, ck_dir = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck"
    try:
        t = synthesize_transcripts(spark, n_convs=20)
        t.write.mode("overwrite").parquet(in_dir)
        q = run_streaming_triples_batched(
            stream_transcripts(spark, in_dir), out_dir, ck_dir, KGPipelineConfig()
        )
        q.awaitTermination(300)
        got = {
            (r["id"], r["label"])
            for r in spark.read.parquet(out_dir).select("id", "label").collect()
        }
        expected = {
            (r["id"], r["label"])
            for r in build_triples(spark.read.parquet(in_dir), KGPipelineConfig())
            .select("id", "label")
            .collect()
        }
        assert got == expected and got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_canonical_graph_merge_equivalence(spark):
    """The incrementally-maintained canonical graph (per-batch triples
    merged with monoid algebra) must equal the single-pass batch pipeline
    over all ingested turns — across multiple micro-batches."""
    from relex_spark.operators.canonicalize import (
        alias_edges_from_gazetteer,
        canonicalize_triples,
        connected_components,
    )
    from relex_spark.sources.sinks import committed_versions
    from relex_spark.sources.transcripts import gazetteer_df
    from relex_spark.streaming.pipeline import run_streaming_canonical_graph

    tmp = tempfile.mkdtemp(prefix="relex_inc_")
    in_dir, g_dir, ck_dir = f"{tmp}/in", f"{tmp}/graph", f"{tmp}/ck"
    try:
        t = synthesize_transcripts(spark, n_convs=30).cache()
        # two files -> maxFilesPerTrigger=1 yields 2+ micro-batches
        t.where(F.col("conv_id") < "conv-00015").write.parquet(f"{in_dir}/a")
        t.where(F.col("conv_id") >= "conv-00015").write.parquet(f"{in_dir}/b")

        stream = (
            spark.readStream.schema(t.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{in_dir}/*")
        )
        q = run_streaming_canonical_graph(stream, g_dir, ck_dir, KGPipelineConfig())
        q.awaitTermination(300)

        versions = committed_versions(g_dir, "canonical_graph")
        assert len(versions) >= 2  # incrementally maintained, not one-shot
        latest = spark.read.parquet(f"{g_dir}/v{versions[-1]}")

        components = connected_components(
            alias_edges_from_gazetteer(gazetteer_df(spark))
        )
        expected = canonicalize_triples(
            build_triples(t, KGPipelineConfig()), components
        )
        key = lambda r: (r["subj"], r["pred"], r["obj"])
        got = {key(r): (r["support"], r["first_id"]) for r in latest.collect()}
        want = {key(r): (r["support"], r["first_id"]) for r in expected.collect()}
        assert got == want and got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_anaphora_matches_batch_across_microbatches(spark):
    """Order-dependent carry-forward state: streaming resolution over
    turn-ordered micro-batches equals the batch window operator, including
    links whose antecedent lies in an EARLIER micro-batch."""
    import datetime as _dt

    from relex_spark.operators.coref import resolve_anaphora
    from relex_spark.streaming.pipeline import streaming_resolve_anaphora

    ents, trigs = ("alice", "server"), ("it", "she")
    texts = {
        0: "alice deployed the build",
        1: "nothing to see",
        2: "it looks healthy",       # -> alice (within micro-batch 1)
        3: "the server restarted",   # mention; opens micro-batch 2
        4: "it crashed again",       # -> server (within micro-batch 2)
        5: "she will check logs",    # -> server (within micro-batch 2)
        6: "she confirmed rollout",  # -> server: antecedent turn 3 lives in
        #    the PREVIOUS micro-batch and rows_since (3 = lookback) was
        #    carried through state — the positive cross-batch case
        7: "it recovered",           # rows_since 4 > lookback=3: dropped,
        #    which also requires the carried counter (a reset-per-batch
        #    bug would emit it)
    }
    ts = _dt.datetime(2024, 1, 1)
    rows = [
        (f"c{c}", i, "user", txt, None, ts)
        for c in range(3)
        for i, txt in texts.items()
    ]
    batch = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    expected = sorted(
        map(tuple, resolve_anaphora(batch, ents, trigs, lookback=3).collect())
    )
    assert len(expected) == 12  # turns 2,4,5,6 x 3 convs; turn 7 dropped

    tmp = tempfile.mkdtemp(prefix="relex_coref_stream_")
    try:
        # three turn-ordered file splits -> maxFilesPerTrigger=1 gives
        # multiple micro-batches with state carried between them
        for lo, hi in ((0, 3), (3, 6), (6, 8)):
            batch.where(
                (F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{tmp}/in/split={lo}"
            )
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/split=*")
        )
        q = (
            streaming_resolve_anaphora(stream, ents, trigs, lookback=3)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("coref_stream")
            .option("checkpointLocation", f"{tmp}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = sorted(
            map(tuple, spark.table("coref_stream").collect())
        )
        assert got == expected
    finally:
        spark.catalog.dropTempView("coref_stream")
        shutil.rmtree(tmp, ignore_errors=True)
