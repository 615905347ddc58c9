"""E6–E9: multi-experiment evaluation + result sinks/scans.

Reference analogues:
* E6 multi-experiment eval — scripts/evaluation_multi.py:51-79 walks
  experiment directories and scores each trial.
* S7 JSON result sinks — evaluation_multi.py:73-77; summary.py:127-128.
* S8 experiment-dir walk — evaluation_multi.py:60-71 / summary.py:68-89
  os.walk discovery of result.json files → here a glob scan with
  ``input_file_name()`` providing the provenance the walk carried.
* E7 trial summary — summary.py:49-99 (metrics.f1.trial_summary).
* E9 parallel probing — probing_task_evaluation_parallel.py:58-90 hand-rolls
  a GPU work queue; Spark's scheduler replaces it: trials are rows, the
  evaluation pipeline is the same DataFrame job per trial.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from relex_spark.metrics.f1 import trial_summary
from relex_spark.plans.evaluate import evaluate_candidates
from relex_spark.sources.localdim import local_dim


def evaluate_experiments(
    spark: SparkSession,
    experiments: dict[str, tuple[DataFrame, object]],
    dataset: str = "semeval2010",
) -> DataFrame:
    """E6: score every (candidates, weights_bc) trial → one metrics row per
    experiment. The driver loop is over *experiments* (a handful); each
    iteration is a fully distributed job — mirroring evaluation_multi.py's
    outer loop without its per-trial process spawn."""
    rows = []
    for name, (candidates, weights_bc) in experiments.items():
        m = evaluate_candidates(candidates, weights_bc, dataset=dataset)
        rows.append((name, m["precision"], m["recall"], m["f1"]))
    return local_dim(
        spark, rows, "experiment string, precision double, recall double, f1 double"
    )


def write_result_json(metrics: dict, path: str) -> None:
    """S7: tiny-aggregate JSON sink (driver-side, like the reference's
    json.dump of evaluation_result.json)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(metrics, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def read_experiment_results(spark: SparkSession, glob_path: str) -> DataFrame:
    """S8: catalog scan of per-trial result JSONs — ``input_file_name``
    supplies the directory-derived experiment identity that os.walk gave
    the reference."""
    df = spark.read.option("multiLine", True).json(glob_path)
    return df.withColumn("result_file", F.input_file_name())


def summarize_trials(trials: DataFrame) -> DataFrame:
    """E7 over an S8 scan: mean/stddev per experiment."""
    return trial_summary(trials)
