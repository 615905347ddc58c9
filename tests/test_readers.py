"""Reader-stage goldens pinned from the reference's own tests
(tests/dataset_readers/semeval2010_task8_test.py and tacred_test.py)."""

import pytest
from pyspark.sql import functions as F

from relex_spark.operators.candidates import detect_mentions, generate_candidate_pairs
from relex_spark.plans.kg_pipeline import (
    preprocess_candidates,
    tacred_planted_candidates,
)
from relex_spark.plans.predict import candidates_from_json
from relex_spark.sources.readers import (
    read_semeval_jsonl,
    read_tacred_json,
    semeval_to_candidates,
    tacred_to_candidates,
)
from relex_spark.sources.transcripts import (
    fixture_gazetteer_rows,
    synthesize_transcripts,
    transcripts_from_documents_tacred,
)

SEMEVAL = "relex_spark/data/semeval_fixture.jsonl"
TACRED = "relex_spark/data/tacred_fixture.json"

ROW1_TOKENS = [
    "The", "system", "as", "described", "above", "has", "its", "greatest",
    "application", "in", "an", "arrayed", "configuration", "of", "antenna",
    "elements", ".",
]


def _row(df, id_):
    return df.where(F.col("id") == id_).collect()[0]


def test_semeval_goldens(spark):
    # semeval2010_task8_test.py:8-49
    df = semeval_to_candidates(read_semeval_jsonl(spark, SEMEVAL), max_len=100)
    assert df.count() == 10
    r = _row(df, "1")
    assert r["tokens"] == ROW1_TOKENS
    assert (r["head_start"], r["head_end"]) == (12, 12)
    assert (r["tail_start"], r["tail_end"]) == (15, 15)
    assert r["label"] == "Component-Whole(e2,e1)"


def test_semeval_max_len_truncation_and_clamp(spark):
    # semeval2010_task8_test.py:51-78
    df = semeval_to_candidates(read_semeval_jsonl(spark, SEMEVAL), max_len=13)
    r = _row(df, "1")
    assert r["tokens"] == ROW1_TOKENS[:13]
    assert (r["head_start"], r["head_end"]) == (12, 12)
    assert (r["tail_start"], r["tail_end"]) == (12, 12)


TACRED_ROW1_TOKENS = [
    "At", "the", "same", "time", ",", "Chief", "Financial", "Officer",
    "Douglas", "Flint", "will", "become", "chairman", ",", "succeeding",
    "Stephen", "Green", "who", "is", "leaving", "to", "take", "a",
    "government", "job", ".",
]


def test_tacred_goldens(spark):
    # tacred_test.py:8-149
    df = tacred_to_candidates(read_tacred_json(spark, TACRED), max_len=100)
    assert df.count() == 3
    r = _row(df, "e7798fb926b9403cfcd2")
    assert r["tokens"] == TACRED_ROW1_TOKENS
    assert (r["head_start"], r["head_end"]) == (8, 9)
    assert (r["tail_start"], r["tail_end"]) == (12, 12)
    assert r["label"] == "per:title"
    assert r["ner"][8] == "PERSON" and r["ner"][9] == "PERSON"
    assert r["pos"][0] == "IN" and r["dep"][0] == "case"


def test_tacred_max_len_with_ner_masking(spark):
    # tacred_test.py:150-173 — masking precedes truncation; spans clamp.
    df = tacred_to_candidates(
        read_tacred_json(spark, TACRED), max_len=10, masking_mode="NER"
    )
    r = _row(df, "e7798fb926b9403cfcd2")
    assert r["tokens"] == [
        "At", "the", "same", "time", ",", "Chief", "Financial", "Officer",
        "__PERSON__", "__PERSON__",
    ]
    assert (r["head_start"], r["head_end"]) == (8, 9)
    assert (r["tail_start"], r["tail_end"]) == (9, 9)


MASK_EXPECT = {
    "NER": ("__PERSON__", "__TITLE__"),
    "NER+Grammar": ("__PERSON_SUB__", "__TITLE_OBJ__"),
    "Grammar": ("__SUB__", "__OBJ__"),
    "UNK": ("__UNK__", "__UNK__"),
    "NER_NL": ("person", "title"),
}


def test_tacred_masking_modes(spark):
    # tacred_test.py:175-321 (all masking-mode goldens on row 1)
    for mode, (head_tok, tail_tok) in MASK_EXPECT.items():
        df = tacred_to_candidates(
            read_tacred_json(spark, TACRED), max_len=100, masking_mode=mode
        )
        r = _row(df, "e7798fb926b9403cfcd2")
        expected = list(TACRED_ROW1_TOKENS)
        expected[8] = head_tok
        expected[9] = head_tok
        expected[12] = tail_tok
        assert r["tokens"] == expected, mode


# --- one candidate-row projection: every producer truncates and clamps alike


def _tacred_planted(spark, max_len):
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("filler document text "), F.col("id")).alias("text"),
    )
    return tacred_planted_candidates(
        spark, transcripts_from_documents_tacred(docs), max_len=max_len
    )


def _flagship_candidates(spark, max_len):
    mentions = detect_mentions(
        synthesize_transcripts(spark, n_convs=4), fixture_gazetteer_rows()
    )
    return preprocess_candidates(generate_candidate_pairs(mentions, 10), max_len)


_LONG_RECORDS = [
    {"id": "long", "text": " ".join(f"w{i}" for i in range(20)),
     "head": [2, 4], "tail": [9, 12]},
    {"id": "short", "text": "a b c", "head": [0, 1], "tail": [2, 3]},
]

PRODUCERS = {
    "semeval_reader": lambda spark, n: semeval_to_candidates(
        read_semeval_jsonl(spark, SEMEVAL), max_len=n
    ),
    "tacred_reader": lambda spark, n: tacred_to_candidates(
        read_tacred_json(spark, TACRED), max_len=n
    ),
    "tacred_reader_masked": lambda spark, n: tacred_to_candidates(
        read_tacred_json(spark, TACRED), max_len=n, masking_mode="NER"
    ),
    "predictor": lambda spark, n: candidates_from_json(spark, _LONG_RECORDS, n),
    "tacred_planted": _tacred_planted,
    "flagship": _flagship_candidates,
}

SPANS = ("head_start", "head_end", "tail_start", "tail_end")


@pytest.mark.parametrize("producer", sorted(PRODUCERS))
def test_producer_truncates_and_clamps(spark, producer):
    """P5/P7 contract shared by every candidate producer: at a small
    max_len each row's tokens are the first max_len tokens of the same row
    at an ample max_len, and every span offset is clamped to max_len - 1.
    The inputs must reach past the small max_len, in tokens and in spans."""
    make, small = PRODUCERS[producer], 6
    full = {r["id"]: r for r in make(spark, 1000).collect()}
    cut = {r["id"]: r for r in make(spark, small).collect()}
    assert set(cut) == set(full) and full
    assert any(len(r["tokens"]) > small for r in full.values())
    assert any(r[c] > small - 1 for r in full.values() for c in SPANS)
    for rid, r in cut.items():
        assert r["tokens"] == full[rid]["tokens"][:small], rid
        for c in SPANS:
            assert r[c] == min(full[rid][c], small - 1), (rid, c)
