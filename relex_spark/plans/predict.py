"""§3.3 JSON prediction lifecycle — the engine analogue of the reference's
``Predictor.predict_json`` (relex/predictors/relation_classification/
relation_classifier_predictor.py:12-15 → semeval2010_task8.py:80-116).

Same pipeline as batch evaluation minus the gold join (SURVEY §3.3: "one
lifecycle, two terminal stages"): raw text is whitespace-tokenized (P2),
spans arrive END-EXCLUSIVE as in SemEval JSON and are converted to
inclusive (P6) then clamped (P7), and the batch goes through the standard
scoring stage with class probabilities attached (M18 decode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from relex_spark.functions.text import span_end_exclusive_to_inclusive, split_ws
from relex_spark.plans.kg_pipeline import KGPipelineConfig
from relex_spark.scoring.scorer import broadcast_weights, score_candidates
from relex_spark.sources.readers import preprocess_candidates


def candidates_from_json(spark: SparkSession, records: list[dict], max_len: int) -> DataFrame:
    """[{"id": ..., "text": ..., "head": [s, e_excl], "tail": [s, e_excl]}]
    → the engine-wide candidate schema (tokens + inclusive clamped spans)."""
    rows = [
        (
            str(r.get("id", i)),
            r["text"],
            int(r["head"][0]),
            int(r["head"][1]),
            int(r["tail"][0]),
            int(r["tail"][1]),
        )
        for i, r in enumerate(records)
    ]
    df = spark.createDataFrame(
        rows, "id string, text string, h0 int, h1 int, t0 int, t1 int"
    )
    return preprocess_candidates(
        df.select(
            "id",
            split_ws("text").alias("tokens"),
            df["h0"].alias("head_start"),
            span_end_exclusive_to_inclusive("h1").alias("head_end"),
            df["t0"].alias("tail_start"),
            span_end_exclusive_to_inclusive("t1").alias("tail_end"),
        ),
        max_len,
    )


def predict_records(
    spark: SparkSession,
    records: list[dict],
    config: KGPipelineConfig | None = None,
) -> DataFrame:
    """Predict relation labels for JSON-style records.

    Returns (id, label, score, probs) — ``probs`` is the full class
    distribution (sums to 1; relation_classifier_predictor_test.py:52-55
    contract)."""
    config = config or KGPipelineConfig()
    cands = candidates_from_json(spark, records, config.max_len)
    wbc = broadcast_weights(spark, config.resolved_weights())
    return score_candidates(
        cands, wbc, keep_columns=["id"], encoder=config.encoder, with_probs=True
    )
