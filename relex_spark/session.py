"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests (local[*]), bench.py (local[N]) and a real
cluster run (spark-submit supplies master/executors; the builder only sets
SQL-level knobs, so cluster deploys are unaffected).

Settings rationale (tuned for the 100 TB design point, harmless locally):

* AQE on, with coalescing + skew-join splitting: hot conversation keys and
  hot entities in the canonicalization join are split at runtime.
* ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster AQE coalesces from a deliberately-high initial number.
* Arrow enabled with a bounded batch size: the relation-scoring kernel pads
  per Arrow batch, so batch size bounds the padded tensor footprint
  (reference analogue: eval batch 128 — scripts/evaluation.py:31 — but we
  keep batches big enough to amortize the Python boundary).
* Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  holds 2048 classes instead of 100. One pass of the seven benchmark
  operator queries needs about 150 classes and the whole query registry
  about 1,230, so at 100 entries every repeat recompiled most of them
  through Janino (then the JVM loaded and JIT-compiled each again).
  Measured at ``local[2]``: a warm repeat of the seven queries compiles
  0-12 classes instead of 137-138, and a second round of the registry 46
  instead of 1,579. The cache lives in each JVM (driver and executors);
  after two registry rounds a JVM holds about +9 MB metaspace and +5 MB
  code heap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Max rows per Arrow record batch crossing into mapInPandas kernels. The
# scoring kernel pads each batch to its own max sequence length, so memory
# per batch is ~ batch_rows * max_len * hidden * 4 bytes.
ARROW_BATCH_ROWS = 4096


def get_spark(
    app_name: str = "relex_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    # One BLAS thread per Python worker: Spark owns core accounting; BLAS
    # oversubscription both degrades throughput at full parallelism and
    # silently inflates low-parallelism numbers (each local[8] worker was
    # grabbing 2 OpenBLAS threads, corrupting the N-vs-4N scaling evidence).
    # Must be in the env BEFORE the JVM starts: python workers inherit it.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = SparkSession.builder.appName(app_name)

    if master is None:
        master = os.environ.get("RELEX_SPARK_MASTER")
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        # Local development/test default; spark-submit overrides via --master.
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        builder = builder.master(f"local[{cpus}]")

    if shuffle_partitions is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        shuffle_partitions = max(2 * cpus, 8)

    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # NOTE (r6, measured): AQE's byte-based coalescing can serialize
        # CPU-dense small-byte shuffles (levenshtein windows, shingle-set
        # intersections) into 1-2 tasks. Lowering
        # coalescePartitions.minPartitionSize session-wide was tried and
        # REJECTED: it fixed those two stages but cost every multi-stage
        # aggregation query more in task overhead than it saved (x_lm_score
        # 1.28s -> 2.67s interleaved A/B). The fix lives in the two
        # operators instead, as pinned repartition-by-key (REPARTITION_BY_NUM
        # is never coalesced): operators/sessions.py collapse_retries,
        # operators/dedup.py jaccard_pairs.
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        # Parquet scans: keep splits big enough to amortize task overhead.
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # Deterministic timestamps across engines/timezones.
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("RELEX_DRIVER_MEM", "8g"),
        # Long sessions compile many large whole-stage-codegen methods; an
        # exhausted JVM code cache silently falls back to interpreted
        # execution (observed 3-6x slowdowns late in bench sessions).
        "spark.driver.extraJavaOptions": (
            "-XX:ReservedCodeCacheSize=512m "
            + os.environ.get("RELEX_JAVA_OPTS", "")
        ).strip(),
        # Keep every generated class of a session's working set (see the
        # module docstring); the default 100 evicts within one operator pass.
        "spark.sql.codegen.cache.maxEntries": "2048",
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    return builder.getOrCreate()
