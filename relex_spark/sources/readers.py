"""Dataset scans (reference §2.1 S1–S2) and the reader→candidate projection.

The reference readers stream ``Instance`` objects one at a time
(relex/dataset_readers/semeval2010_task8.py:57-78, tacred.py:83-113); here a
scan is a DataFrame with an explicit schema (schema-on-read, no inference
pass — at 100 TB an inference pass over JSON would double the scan cost) and
the per-example field extraction + span bookkeeping is a projection that
Catalyst pipelines into the scan.

The output "candidate" schema is the engine-wide relation-classification
row (SURVEY §1.5):

    id STRING, tokens ARRAY<STRING>,
    head_start INT, head_end INT, tail_start INT, tail_end INT  (inclusive),
    label STRING (nullable at predict time)

Every producer of that row (both readers, the JSON predictor and both KG
corpora) ends in this module's ``preprocess_candidates``, as every
reference instance comes from its reader's ``text_to_instance``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relex_spark.functions.text import (
    clamp_span,
    mask_entities,
    masking_replacements,
    normalize_glove_tokens,
    span_end_exclusive_to_inclusive,
    truncate_tokens,
)

SPAN_COLUMNS = ("head_start", "head_end", "tail_start", "tail_end")

SEMEVAL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("label", T.StringType()),
        T.StructField("entities", T.ArrayType(T.ArrayType(T.IntegerType()))),
    ]
)

TACRED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("token", T.ArrayType(T.StringType())),
        T.StructField("relation", T.StringType()),
        T.StructField("subj_start", T.IntegerType()),
        T.StructField("subj_end", T.IntegerType()),
        T.StructField("obj_start", T.IntegerType()),
        T.StructField("obj_end", T.IntegerType()),
        T.StructField("subj_type", T.StringType()),
        T.StructField("obj_type", T.StringType()),
        T.StructField("stanford_ner", T.ArrayType(T.StringType())),
        T.StructField("stanford_pos", T.ArrayType(T.StringType())),
        T.StructField("stanford_deprel", T.ArrayType(T.StringType())),
        T.StructField("stanford_head", T.ArrayType(T.IntegerType())),
    ]
)


def read_semeval_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S1: line-delimited JSON scan with a declared schema
    (semeval2010_task8.py:57-78)."""
    return spark.read.schema(SEMEVAL_SCHEMA).json(path)


def read_tacred_json(spark: SparkSession, path: str) -> DataFrame:
    """S2: whole-file JSON array scan (tacred.py:83-90 ``json.load``)."""
    return spark.read.schema(TACRED_SCHEMA).option("multiLine", True).json(path)


def preprocess_candidates(candidates: DataFrame, max_len: int) -> DataFrame:
    """P5 truncation + P7 span clamping of the candidate row, in place: one
    projection that rewrites ``tokens`` and the four inclusive span columns
    and passes every other column through at its position. Runs after any
    P4/P3/P6 step (order fixed: SURVEY §4 barrier)."""
    return candidates.withColumns(
        {
            "tokens": truncate_tokens("tokens", max_len),
            **{c: clamp_span(c, max_len) for c in SPAN_COLUMNS},
        }
    )


def tacred_tokens_and_spans(tokens: Column, masking_mode: str | None) -> list[Column]:
    """A TACRED row's ``tokens`` and inclusive spans before P5/P7 (no P6):
    P4 entity masking when ``masking_mode`` is given, at the untruncated
    ``subj_*``/``obj_*`` spans (tacred.py:105-110), then P3 GloVe
    normalization (:133)."""
    spans = [F.col(c) for c in ("subj_start", "subj_end", "obj_start", "obj_end")]
    if masking_mode is not None:
        repl = masking_replacements(masking_mode, F.col("subj_type"), F.col("obj_type"))
        tokens = mask_entities(tokens, *spans, *repl)
    return [
        normalize_glove_tokens(tokens).alias("tokens"),
        *(c.alias(name) for c, name in zip(spans, SPAN_COLUMNS)),
    ]


def semeval_to_candidates(df: DataFrame, max_len: int) -> DataFrame:
    """SemEval reader semantics (semeval2010_task8.py:80-117):

    join-then-split round trip (P1/P2) is the identity on these token lists,
    so tokens pass through; convert spans end-exclusive → inclusive (P6);
    then truncate to ``max_len`` (P5) and clamp all four offsets (P7).
    """
    ents = F.col("entities")
    return preprocess_candidates(
        df.select(
            F.col("id"),
            F.col("tokens"),
            ents[0][0].alias("head_start"),
            span_end_exclusive_to_inclusive(ents[0][1]).alias("head_end"),
            ents[1][0].alias("tail_start"),
            span_end_exclusive_to_inclusive(ents[1][1]).alias("tail_end"),
            F.col("label"),
        ),
        max_len,
    )


def tacred_to_candidates(
    df: DataFrame, max_len: int, masking_mode: str | None = None
) -> DataFrame:
    """TACRED reader semantics (tacred.py:83-177).

    Stage order is a semantic barrier (SURVEY §4): masking applies to the
    *untruncated* token list with *unclamped* spans (tacred.py:105-110
    before :150), then GloVe normalization per token (:133), then
    truncation, then span clamping. Spans are already inclusive (no P6).
    """
    return preprocess_candidates(
        df.select(
            F.col("id"),
            *tacred_tokens_and_spans(F.col("token"), masking_mode),
            F.col("relation").alias("label"),
            F.col("stanford_ner").alias("ner"),
            F.col("stanford_pos").alias("pos"),
            F.col("stanford_deprel").alias("dep"),
            F.col("stanford_head").alias("dep_heads"),
        ),
        max_len,
    )
