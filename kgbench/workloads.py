"""The benchmark workloads.

Each workload writes its inputs from the seed, runs one *pass* (the unit
the timed loop repeats), computes the reference digests a pass is checked
against (``pin.py`` stores them per seed in ``pins.json``), and runs one
traced stage-at-a-time pass. The engine is driven only through its public
functions.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

import numpy as np

from kgbench import inputs

# Conversations in the KG corpus (see README.md for why it is this small).
KG_CONVERSATIONS = 1000
# Rows of distinct scoring inputs the driver-side kernel spans run over.
KERNEL_SAMPLE_ROWS = 4096

OPERATOR_QUERIES = [
    "dedup_ngram_jaccard",
    "x_lm_score",
    "v1_token_vocab",
    "dedup_minhash_lsh",
    "q1_pricing_summary",
    "q3_order_revenue",
    "x_negative_samples",
]


@dataclass
class PassResult:
    """What one pass produced: digests to check, and the triples it emitted."""

    digests: dict[str, str]
    triples: int
    problems: list[str] = field(default_factory=list)


def _sha(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def kg_digest(rows) -> str:
    """Digest of the canonical (subj, pred, obj, support) set. Scores stay
    out: float32 chunking moves them by about 1e-7."""
    return _sha([f"{r['subj']}\t{r['pred']}\t{r['obj']}\t{r['support']}" for r in rows])


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    return str(v)


def table_digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result table (columns by name)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return _sha(["\x01".join(_canon_value(row[i]) for i in order) for row in rows])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    """mapInPandas identity: the Arrow round trip with no kernel."""
    yield from batches


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024.0 * 1024.0)


class Workload:
    name = ""

    def setup(self, spark, seed: int, work: str) -> dict:
        """Write the inputs and build what a pass needs; return input counts."""
        raise NotImplementedError

    def reference(self) -> dict:
        """The digests every pass must match, and input counts, computed by
        an independent path: ``{"digests": {...}, "counts": {...}}``."""
        raise NotImplementedError

    def run_pass(self, index: int) -> PassResult:
        raise NotImplementedError

    def after_pass(self, index: int) -> None:
        """Untimed cleanup after a pass."""

    def trace_pass(self, tracer) -> tuple[PassResult, dict]:
        """One traced stage-at-a-time pass; returns its result and counts."""
        raise NotImplementedError


class KGWorkload(Workload):
    """run_kg_pipeline with the reference-capacity weights over a generated
    transcript table. Each pass writes stage checkpoints to a fresh
    directory and then resumes over the committed stages."""

    name = "kg_refcap"

    def setup(self, spark, seed: int, work: str) -> dict:
        from relex_spark.plans.kg_pipeline import KGPipelineConfig, reference_capacity_weights
        from relex_spark.sources.transcripts import (
            fixture_gazetteer_rows,
            load_semeval_fixture,
            read_transcripts,
        )

        self.spark, self.work = spark, work
        self.input_dir = os.path.join(work, "input", "transcripts")
        counts = inputs.write_transcripts(
            self.input_dir,
            seed,
            KG_CONVERSATIONS,
            sentences=[" ".join(ex["tokens"]) for ex in load_semeval_fixture()],
            gazetteer_surfaces=[s for s, _, _ in fixture_gazetteer_rows()],
        )
        self.tdf = read_transcripts(spark, self.input_dir)
        self.cfg = KGPipelineConfig(compute_dtype="float32", weights=reference_capacity_weights())
        return counts

    def _ckpt_dir(self, index) -> str:
        return os.path.join(self.work, f"checkpoint-{index}")

    def run_pass(self, index: int) -> PassResult:
        from relex_spark.plans.kg_pipeline import run_kg_pipeline

        cfg = replace(self.cfg, checkpoint_dir=self._ckpt_dir(index))
        rows = run_kg_pipeline(self.spark, self.tdf, cfg).collect()
        triples = sum(r["support"] for r in rows)
        result = PassResult({"kg": kg_digest(rows)}, triples)
        resumed = run_kg_pipeline(self.spark, self.tdf, cfg).collect()
        result.problems = self._manifest_problems(
            cfg.checkpoint_dir, {"scored_triples": triples, "canonical_triples": len(rows)}
        )
        if kg_digest(resumed) != result.digests["kg"]:
            result.problems.append("resume digest differs from the pass's own")
        return result

    @staticmethod
    def _manifest_problems(ckpt: str, written: dict[str, int]) -> list[str]:
        from relex_spark.sources.sinks import MANIFEST

        problems = []
        for stage, rows in written.items():
            with open(os.path.join(ckpt, stage, MANIFEST)) as f:
                manifest_rows = json.load(f)["rows"]
            if manifest_rows != rows:
                problems.append(f"{stage} manifest rows {manifest_rows} != {rows} written")
        return problems

    def after_pass(self, index: int) -> None:
        shutil.rmtree(self._ckpt_dir(index), ignore_errors=True)

    def reference(self) -> dict:
        """The per-occurrence pipeline (score_distinct=False: every
        candidate is scored, the reference implementation's own semantics),
        without checkpoints."""
        from relex_spark.operators.candidates import detect_mentions, generate_candidate_pairs
        from relex_spark.plans.kg_pipeline import preprocess_candidates, run_kg_pipeline, score_key

        cfg = replace(self.cfg, score_distinct=False)
        rows = run_kg_pipeline(self.spark, self.tdf, cfg).collect()
        pairs = preprocess_candidates(
            generate_candidate_pairs(
                detect_mentions(self.tdf, cfg.gazetteer_rows, keep_text=False),
                cfg.max_pairs_per_turn,
            ),
            cfg.max_len,
        )
        _, key = score_key(cfg.encoder)
        distinct = pairs.select(key.alias("k")).distinct().count()
        candidates = sum(r["support"] for r in rows)
        return {
            "digests": {"kg": kg_digest(rows)},
            "counts": {
                "candidates": candidates,
                "distinct_inputs": distinct,
                "duplication_factor": candidates / max(distinct, 1),
            },
        }

    def trace_pass(self, tr) -> tuple[PassResult, dict]:
        from pyspark.sql import functions as F

        from relex_spark.operators.candidates import detect_mentions, generate_candidate_pairs
        from relex_spark.operators.canonicalize import (
            alias_edges_from_gazetteer,
            canonicalize_triples,
            connected_components,
        )
        from relex_spark.plans.kg_pipeline import build_triples, preprocess_candidates, score_key
        from relex_spark.scoring.scorer import broadcast_weights, score_candidates
        from relex_spark.sources.sinks import read_stage, write_stage
        from relex_spark.sources.transcripts import gazetteer_df, read_transcripts

        # Stage by stage, the same public parts build_triples and
        # run_kg_pipeline compose; should their composition change, the gap
        # shows in trace.overhead_ratio.
        spark, cfg = self.spark, self.cfg
        cached = []

        def mat(df):
            df = df.cache()
            _noop(df)
            cached.append(df)
            return df

        keep = ["conv_id", "turn_idx", "id", "subj", "obj"]
        feat, key = score_key(cfg.encoder)
        ckpt = os.path.join(self.work, "checkpoint-traced")
        counts: dict = {}
        with tr.span("pass"):
            with tr.span("sources.scan"):
                scan = mat(read_transcripts(spark, self.input_dir))
            with tr.span("candidates.detect_mentions"):
                mentions = mat(detect_mentions(scan, cfg.gazetteer_rows, keep_text=False))
            with tr.span("candidates.pairs"):
                pairs = mat(
                    preprocess_candidates(
                        generate_candidate_pairs(mentions, cfg.max_pairs_per_turn), cfg.max_len
                    )
                )
            weights_bc = broadcast_weights(spark, cfg.resolved_weights())
            with tr.span("kg_pipeline.dedup"):
                pairs_k = mat(pairs.withColumn("score_key", key))
                uniq = mat(pairs_k.select("score_key", *feat).dropDuplicates(["score_key"]))
            with tr.span("scorer.score"):
                scored_uniq = mat(
                    score_candidates(uniq, weights_bc, keep_columns=["score_key"], encoder=cfg.encoder)
                )
            with tr.span("scorer.arrow_roundtrip"):
                _noop(uniq.mapInPandas(_identity, schema=uniq.schema))
            with tr.span("kg_pipeline.joinback"):
                scored = mat(
                    pairs_k.select("score_key", *keep).join(scored_uniq, "score_key").drop("score_key")
                )
            with tr.span("canonicalize.cc"):
                comps = connected_components(alias_edges_from_gazetteer(gazetteer_df(spark)))
                _noop(comps)

            def canonicalize(df):
                return canonicalize_triples(
                    df, comps, broadcast_map=True, salt_buckets=cfg.salt_buckets
                )

            scored_path = os.path.join(ckpt, "scored_triples")
            canon_path = os.path.join(ckpt, "canonical_triples")
            with tr.span("sinks.write_scored"):
                write_stage(scored, scored_path, "scored_triples")
            with tr.span("sinks.read_stage"):
                scored = mat(read_stage(spark, scored_path, drop_lineage=True))
            with tr.span("canonicalize.triples"):
                canonical = mat(canonicalize(scored))
            with tr.span("sinks.write_canonical"):
                write_stage(canonical, canon_path, "canonical_triples")
            with tr.span("sinks.read_stage"):
                rows = read_stage(spark, canon_path, drop_lineage=True).collect()
        triples = sum(r["support"] for r in rows)
        result = PassResult({"kg": kg_digest(rows)}, triples)
        counts["sinks.bytes_written_mb"] = _dir_mb(ckpt)
        result.problems = self._manifest_problems(
            ckpt, {"scored_triples": triples, "canonical_triples": len(rows)}
        )
        shutil.rmtree(ckpt, ignore_errors=True)

        counts["candidates.mentions"] = mentions.select(
            F.sum(F.size("mentions")).alias("n")
        ).first()["n"]
        counts["candidates.candidates"] = pairs.count()
        counts["kg_pipeline.distinct_inputs"] = uniq.count()
        counts["kg_pipeline.kernel_useful_ratio"] = counts["kg_pipeline.distinct_inputs"] / max(
            counts["candidates.candidates"], 1
        )
        counts["canonicalize.canonical_triples"] = len(rows)
        sample = uniq.orderBy("score_key").limit(KERNEL_SAMPLE_ROWS).collect()
        for df in cached:
            df.unpersist()

        with tr.span("kg_pipeline.build_call"):
            build_triples(self.tdf, cfg)
        counts["kg_pipeline.build_call_jobs"] = len(
            spark.sparkContext.statusTracker().getJobIdsForGroup("kg_pipeline.build_call")
        )
        counts.update(self._kernel_spans(tr, sample))
        return result, counts

    def _kernel_spans(self, tr, sample) -> dict:
        """Time the kernel layers on the driver (one BLAS thread, as in the
        workers) over a fixed-size, length-sorted sample of the distinct
        inputs, cycled when there are fewer distinct inputs than rows.

        One forward_batch call is timed; the functions it calls per chunk
        (pad_batch, embed_batch and the encoder dispatch _encode_chunk) run
        inside child spans, so kernels.ff_softmax_s is forward_batch's own
        time (feed-forward, softmax, concatenation) and the split always
        adds up to kernels.forward_s."""
        from relex_spark.scoring import kernels

        w = self.cfg.resolved_weights()
        rows = [sample[i % len(sample)] for i in range(KERNEL_SAMPLE_ROWS)]
        rows.sort(key=lambda r: len(r["tokens"]))
        head = np.array([[r["head_start"], r["head_end"]] for r in rows], dtype=np.int64)
        tail = np.array([[r["tail_start"], r["tail_end"]] for r in rows], dtype=np.int64)
        with tr.span("kernels"):
            with tr.span("kernels.token_ids"):
                ids_list = [w.token_ids(list(r["tokens"])) for r in rows]
            with _spans_around(tr, kernels, {"pad_batch": "kernels.pad",
                                             "embed_batch": "kernels.embed",
                                             "_encode_chunk": "kernels.cnn_encode"}):
                with tr.span("kernels.forward_batch", spark=False):
                    kernels.forward_batch(w, ids_list, head, tail, encoder=self.cfg.encoder)
        forward = [s for s in tr.with_self_times() if s["name"] == "kernels.forward_batch"][0]
        valid = padded = 0
        for r0 in range(0, len(rows), kernels.FORWARD_CHUNK_ROWS):
            ids, lengths = kernels.pad_batch(ids_list[r0 : r0 + kernels.FORWARD_CHUNK_ROWS])
            valid += int(lengths.sum())
            padded += ids.size
        return {
            "kernels.forward_s": forward["duration"],
            "kernels.ff_softmax_s": forward["self"],
            "kernels.rows_per_s": len(rows) / forward["duration"],
            "kernels.padding_efficiency": valid / max(padded, 1),
        }


@contextmanager
def _spans_around(tr, module, spans: dict[str, str]):
    """Run every call of ``module.<function>`` inside ``tr.span(<span>)``
    while the ``with`` block runs; the functions are restored after."""
    originals = {name: getattr(module, name) for name in spans}

    def timed(fn, span):
        def call(*args, **kwargs):
            with tr.span(span, spark=False):
                return fn(*args, **kwargs)

        return call

    for name, span in spans.items():
        setattr(module, name, timed(originals[name], span))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(module, name, fn)


class OperatorQueries(Workload):
    name = "operator_queries"

    def setup(self, spark, seed: int, work: str) -> dict:
        from relex_spark.plans import driver_queries as dq

        self.spark = spark
        self.input_dir = os.path.join(work, "input", "tables")
        self.queries = {**dq.QUERIES, **dq.EXTRA_QUERIES}
        self.oracles = {**dq.ORACLES, **dq.EXTRA_ORACLES}
        return inputs.write_operator_tables(self.input_dir, seed)

    def _run(self, name: str) -> tuple[str, int]:
        df = self.queries[name](self.spark, self.input_dir)
        rows = df.collect()
        return table_digest(df.columns, rows), len(rows)

    def run_pass(self, index: int) -> PassResult:
        digests, triples = {}, 0
        for name in OPERATOR_QUERIES:
            digests[name], n = self._run(name)
            if name == "x_negative_samples":
                triples = n
        return PassResult(digests, triples)

    def reference(self) -> dict:
        """Each query's DuckDB oracle over the same files."""
        import duckdb

        con = duckdb.connect()
        try:
            for table in ("customer", "orders", "lineitem", "documents"):
                path = os.path.join(self.input_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            digests = {}
            for name in OPERATOR_QUERIES:
                cur = con.execute(self.oracles[name])
                columns = [d[0] for d in cur.description]
                digests[name] = table_digest(columns, cur.fetchall())
        finally:
            con.close()
        return {"digests": digests, "counts": {}}

    def trace_pass(self, tr) -> tuple[PassResult, dict]:
        digests, triples = {}, 0
        with tr.span("pass"):
            for name in OPERATOR_QUERIES:
                with tr.span(f"driver_queries.{name}"):
                    digests[name], n = self._run(name)
                if name == "x_negative_samples":
                    triples = n
        return PassResult(digests, triples), {}


WORKLOADS = {
    w.name: w
    for w in (
        KGWorkload(),
        OperatorQueries(),
    )
}
