"""Sinks + the stage checkpoint/commit protocol (reference §2.1 S6–S7; north
rule: "checkpoint after each stage so any partition can resume without
recomputation", per-partition lineage + counters).

Iceberg note: ``write_stage`` always commits a parquet directory with an
atomic JSON manifest — the same contract an Iceberg snapshot commit
provides (all-or-nothing visibility + metadata). The Iceberg twin,
``write_stage_iceberg`` / ``stage_is_complete_iceberg``, is a separate
function that a caller with a configured catalog calls explicitly; nothing
switches to it automatically.

Lineage: every stage output carries provenance columns added by
``with_lineage`` — the partition id the row was produced by and the stage
name — and the manifest records per-partition row counts, read from the
parquet footers of the committed files.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_relex_stage_manifest.json"


def with_lineage(df: DataFrame, stage: str) -> DataFrame:
    """Attach per-row lineage: producing stage + physical partition id.

    ``spark_partition_id`` is evaluated at write time, so it records the
    actual producing task — the north rule's per-partition lineage.
    """
    return df.withColumn("_stage", F.lit(stage)).withColumn(
        "_partition_id", F.spark_partition_id()
    )


def write_stage(df: DataFrame, path: str, stage: str) -> dict:
    """Write a stage output, with lineage columns, under an atomic commit
    manifest.

    The parquet write itself is atomic-by-rename (Spark committer); the
    manifest is written only after success, so ``stage_is_complete`` is a
    reliable resume marker. Returns the manifest dict (counters included).
    """
    out = with_lineage(df, stage)
    out.write.mode("overwrite").parquet(path)

    # Count from the committed files' footers, not a re-read: part-NNNNN is
    # the writing task's partition id (the value with_lineage records),
    # maxRecordsPerFile splits one id over several files, and an empty
    # frame still writes one empty file (dropped by the unary +).
    per_part: Counter[str] = Counter()
    for name in sorted(glob.glob("part-*", root_dir=path)):
        per_part[str(int(name.split("-")[1]))] += pq.read_metadata(os.path.join(path, name)).num_rows
    manifest = {
        "stage": stage,
        "rows": per_part.total(),
        "partition_counts": dict(+per_part),
        "committed_at_unix": int(time.time()),
        "schema": out.schema.jsonValue(),
    }
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, os.path.join(path, MANIFEST))
    return manifest


def stage_is_complete(path: str, stage: str) -> bool:
    """Resume check: a stage directory counts as complete only with a
    matching committed manifest that records its schema as JSON."""
    try:
        with open(os.path.join(path, MANIFEST)) as f:
            m = json.load(f)
    except (json.JSONDecodeError, OSError):
        return False
    return m.get("stage") == stage and isinstance(m.get("schema"), dict)


def committed_versions(root: str, stage: str) -> list[int]:
    """Sorted N of every ``root/v<N>`` directory holding a complete ``stage``."""
    names = os.listdir(root) if os.path.isdir(root) else []
    return sorted(
        int(n[1:])
        for n in names
        if n[:1] == "v" and n[1:].isdecimal() and stage_is_complete(os.path.join(root, n), stage)
    )


def read_stage(spark: SparkSession, path: str, drop_lineage: bool = False) -> DataFrame:
    """Read a committed stage with its manifest's schema (building the frame
    runs no job). Raises FileNotFoundError without a committed manifest."""
    with open(os.path.join(path, MANIFEST)) as f:
        schema = StructType.fromJson(json.load(f)["schema"])
    df = spark.read.schema(schema).parquet(path)
    if drop_lineage:
        df = df.drop("_stage", "_partition_id")
    return df


def write_id_label_tsv(df: DataFrame, path: str) -> None:
    """S6: (id, label) TSV sink for scorer parity
    (relex/evaluation/semeval2010_task8_evaluation.py:11-17)."""
    df.select("id", "label").write.mode("overwrite").option("sep", "\t").csv(path)


# ---------------------------------------------------------------------------
# Iceberg commit branch, called explicitly (no flag routes write_stage here;
# the parquet+manifest protocol above is what the pipelines use).
#
# Cluster setup (spark-defaults or --conf):
#   spark.sql.catalog.<cat>                 org.apache.iceberg.spark.SparkCatalog
#   spark.sql.catalog.<cat>.type            hadoop           (or hive/rest)
#   spark.sql.catalog.<cat>.warehouse       s3://bucket/warehouse
#   spark.jars.packages  org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:<ver>
# then pass fully-qualified table names (<cat>.<db>.<table>) to
# write_stage_iceberg. The stage manifest's role is played by the Iceberg
# snapshot (atomic all-or-nothing commit); the stage marker moves into a
# table property so resume checks stay one lookup. The real-catalog test
# runs when RELEX_ICEBERG_CATALOG names such a catalog.
# ---------------------------------------------------------------------------


def write_stage_iceberg(
    df: DataFrame,
    table: str,
    stage: str,
    partition_by: list[str] | None = None,
    lineage: bool = True,
):
    """Iceberg twin of ``write_stage``: same contract (atomic commit,
    per-row lineage columns, stage marker for resume), expressed as a V2
    ``writeTo(...).createOrReplace()`` — one snapshot, all-or-nothing.
    Returns the configured writer's result (None from pyspark)."""
    out = with_lineage(df, stage) if lineage else df
    writer = (
        out.writeTo(table)
        .using("iceberg")
        .tableProperty("relex.stage", stage)
        .tableProperty("relex.lineage", "true" if lineage else "false")
    )
    if partition_by:
        writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
    return writer.createOrReplace()


# AnalysisException error classes that mean "the stage table genuinely does
# not exist" — ONLY these may map to False in stage_is_complete_iceberg. On
# real catalogs (REST/Hive) AnalysisException also wraps auth failures and
# catalog outages, which must propagate: treating them as "not done" would
# silently recompute and replace a potentially-committed snapshot.
_ICEBERG_ABSENT_ERROR_CLASSES = {
    "TABLE_OR_VIEW_NOT_FOUND",
    "CATALOG_NOT_FOUND",
    # Spark routes an unknown catalog prefix through the session catalog and
    # fails multipart-name resolution with this class.
    "REQUIRES_SINGLE_PART_NAMESPACE",
}


def stage_is_complete_iceberg(spark: SparkSession, table: str, stage: str) -> bool:
    """Resume check on the Iceberg branch: the table exists and its
    ``relex.stage`` property matches (set atomically with the snapshot)."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    except AnalysisException as e:
        # Narrow to "table/catalog genuinely absent" by error class (message
        # fallback for error-class-less exceptions from older connectors).
        # Spark 4 renamed getErrorClass -> getCondition (old name deprecated).
        get_cls = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        cls = get_cls() if get_cls else None
        if cls in _ICEBERG_ABSENT_ERROR_CLASSES:
            return False
        if cls is None and (
            "TABLE_OR_VIEW_NOT_FOUND" in str(e)
            or "Table or view not found" in str(e)
        ):
            return False
        raise
    props = {r["key"]: r["value"] for r in rows}
    return props.get("relex.stage") == stage
