"""Synthetic multi-turn transcript corpus + gazetteer (FIXTURES.md §1, §4).

Input table per BASELINE.json ``input_hint``:

    conv_id STRING, turn_idx INT, role STRING, text STRING,
    tool STRING, ts TIMESTAMP

Properties:

* **Deterministic independent of partitioning** — every pseudo-random choice
  is a pure function of (conv_id, turn_idx) via md5 arithmetic, never
  ``rand(seed)`` (whose stream depends on partition layout). The same scale
  parameter yields bit-identical tables on local[1] and a 1000-executor
  cluster.
* **Distributed generation** — built from ``spark.range`` + SQL expressions;
  no driver-side loops, so the generator itself scales to 10^12 turns.
* **Zipf-skewed conversations** — a small set of "hot" conversations are
  ~64× longer than the median, to exercise AQE skew splitting and salting.
* **Planted gold sentences** — a seeded subset of turns embeds the 10
  SemEval-2010 Task 8 fixture sentences verbatim (reference
  tests/fixtures/semeval2010_task8.jsonl), space-joined, preserving the
  join/split round-trip invariant (semeval2010_task8.py:68,89). These turns
  are the P/R-comparable gold slice.
"""

from __future__ import annotations

import json
from importlib import resources

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_FILLER_WORDS = [
    "please", "check", "the", "report", "and", "send", "an", "update",
    "we", "ran", "pipeline", "job", "with", "new", "settings", "today",
    "results", "look", "stable", "after", "retry", "queue", "was", "empty",
    "also", "note", "latency", "dropped", "since", "last", "deploy", "ok",
]

# Turns 0-mod-PLANT_EVERY (by turn hash) carry a planted gold sentence.
PLANT_EVERY = 3

# Planted-sentence VARIETY scales with the corpus: each planted turn carries
# variant index v = (hash div (PLANT_EVERY * n_sentences)) % plant_variants,
# and v > 0 appends v's base-32 digits (rendered through _VARIANT_WORDS) to
# the gold sentence. Distinct (tokens, spans) scoring inputs therefore grow
# proportionally to corpus size instead of being pinned at ~12, so the
# dedup-before-inference benchmark measures inference against a REALISTIC
# duplication factor (VARIANT_DUP_TARGET occurrences per distinct input)
# rather than the ~10^4 factor a fixed 10-sentence plant produces. The
# suffix changes tokens AFTER the entity spans, so mention detection, span
# positions, and canonicalization semantics are untouched; v = 0 plants the
# bare sentence, so corpora small enough for plant_variants == 1 are
# byte-identical to the pre-variant generator.
VARIANT_DUP_TARGET = 8
# Digit alphabet: base-32 words. MUST stay disjoint from every token of
# every gazetteer surface (else a suffix could mint a new mention) —
# pinned by tests/test_pipeline.py::test_variant_words_disjoint_from_gazetteer.
_VARIANT_WORDS = _FILLER_WORDS
_MAX_VARIANTS = 32**4  # 4 suffix digits; raise the digit count beyond ~1M


def plant_variants_for(n_turns_estimate: int, n_sentences: int = 10) -> int:
    """Variant count that lands the duplication factor near
    VARIANT_DUP_TARGET for a corpus with ~n_turns_estimate turns (one turn
    in PLANT_EVERY is planted)."""
    planted = n_turns_estimate // PLANT_EVERY
    return max(1, min(planted // (n_sentences * VARIANT_DUP_TARGET), _MAX_VARIANTS))


def _variant_index(hash_name: str, plant_variants: int, n_sentences: int) -> F.Column:
    """Variant index from the 60-bit turn hash. Integer `div`, not float
    division: the hash exceeds 2^53, where double arithmetic drops bits."""
    return F.expr(
        f"({hash_name} div {PLANT_EVERY * n_sentences}) % {plant_variants}"
    )


def _variant_suffix(v: F.Column) -> F.Column:
    """v > 0 → the base-32 digits of v as words (most-significant first);
    v == 0 → NULL (concat_ws then drops it, leaving the bare sentence)."""
    arr = F.array(*[F.lit(w) for w in _VARIANT_WORDS])
    parts = []
    for k in (3, 2, 1, 0):
        base = 32**k
        # v < _MAX_VARIANTS = 2^20 here, so double division is exact
        d = (F.floor(v / F.lit(base)).cast("bigint") % 32 + 1).cast("int")
        cond = (v >= base) if k > 0 else (v > 0)
        parts.append(F.when(cond, F.element_at(arr, d)))
    return F.when(v > 0, F.concat_ws(" ", *parts))


def entity_id(phrase: str) -> str:
    """The entity id a surface phrase mints: ``ent:`` + the lowercase
    phrase with spaces as underscores — shared by every alias of it."""
    return "ent:" + phrase.lower().replace(" ", "_")


def load_semeval_fixture() -> list[dict]:
    """The 10 SemEval fixture examples (id, tokens, label, entities)."""
    text = (
        resources.files("relex_spark.data")
        .joinpath("semeval_fixture.jsonl")
        .read_text()
    )
    return [json.loads(line) for line in text.splitlines() if line.strip()]


def load_tacred_fixture() -> list[dict]:
    """The 3 TACRED fixture examples (reference tests/fixtures format:
    token, subj/obj spans+types, relation, stanford_* annotations)."""
    text = (
        resources.files("relex_spark.data")
        .joinpath("tacred_fixture.json")
        .read_text()
    )
    return json.loads(text)


def tacred_gazetteer_rows() -> list[tuple[str, str, str]]:
    """(surface, entity_id, entity_type) rows from the TACRED fixture's
    subj/obj spans (spans are INCLUSIVE in the TACRED schema), with
    capitalization aliases — the TACRED twin of fixture_gazetteer_rows, so
    the TACRED end-to-end pipeline exercises the same canonicalization
    stage with typed (PERSON/TITLE/...) entities."""
    rows: list[tuple[str, str, str]] = []
    seen: set[str] = set()
    for ex in load_tacred_fixture():
        for s, e, ty in (
            (ex["subj_start"], ex["subj_end"], ex["subj_type"]),
            (ex["obj_start"], ex["obj_end"], ex["obj_type"]),
        ):
            phrase = " ".join(ex["token"][s : e + 1])
            eid = entity_id(phrase)
            for alias in (phrase, phrase.lower(), phrase.capitalize()):
                if alias not in seen:
                    seen.add(alias)
                    rows.append((alias, eid, ty))
    return rows


def transcripts_from_documents_tacred(docs: DataFrame, convs: int = 40) -> DataFrame:
    """TACRED-planted twin of transcripts_from_documents: the hash-seeded
    third of turns carries one of the 3 TACRED fixture sentences verbatim
    (space-joined — split_ws round-trips to the fixture token list), the
    rest carry the document text. No variant suffixes: with 3 planted
    sentences this derivation feeds the TACRED-schema end-to-end golden,
    not a throughput benchmark."""
    sentences = [" ".join(ex["token"]) for ex in load_tacred_fixture()]
    sent_array = F.array(*[F.lit(s) for s in sentences])

    d = docs.withColumn("doc_hash", F.expr(_hash_expr("doc_id")))
    planted = F.col("doc_hash") % PLANT_EVERY == 0
    # sent_idx from hash div PLANT_EVERY, NOT hash % 3: with exactly 3
    # fixture sentences, `hash % 3` is constant (0) on the planted subset
    # (hash % PLANT_EVERY == 0, PLANT_EVERY == 3) — every plant would carry
    # sentence 1. The SemEval twin dodges this only because gcd(3, 10) == 1.
    sent_idx = (
        F.expr(f"doc_hash div {PLANT_EVERY}") % len(sentences) + 1
    ).cast("int")
    text = F.when(planted, F.element_at(sent_array, sent_idx)).otherwise(
        F.col("text")
    )
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return d.select(
        F.concat(F.lit("conv-"), F.col("doc_id") % convs).alias("conv_id"),
        (F.col("doc_id") / convs).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        F.when(role == "tool", F.lit("search"))
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + (F.col("doc_id") % convs) * 100_000
            + (F.col("doc_id") / convs).cast("int") * 60
        ).alias("ts"),
        # The planting predicate itself, so downstream recovery can gate
        # on it (matching the oracle's `h % PLANT_EVERY = 0` WHERE clause)
        # instead of relying on text equality alone — on a foreign corpus
        # a non-planted turn could coincidentally equal a fixture sentence.
        planted.alias("planted"),
    )


def fixture_gazetteer_rows() -> list[tuple[str, str, str]]:
    """(surface, entity_id, entity_type) rows derived from the fixture
    entity spans (FIXTURES.md §4), plus capitalization aliases so the
    canonicalization stage has alias edges to resolve.

    Surfaces are the literal (possibly multi-token) entity phrases; the
    entity_id is the lowercase phrase with underscores — shared by aliases.
    """
    rows: list[tuple[str, str, str]] = []
    seen: set[str] = set()
    for ex in load_semeval_fixture():
        for (start, end_ex) in ex["entities"]:
            phrase = " ".join(ex["tokens"][start:end_ex])
            eid = entity_id(phrase)
            for alias in (phrase, phrase.lower(), phrase.capitalize()):
                if alias not in seen:
                    seen.add(alias)
                    rows.append((alias, eid, "THING"))
    return rows


def gazetteer_df(spark: SparkSession) -> DataFrame:
    # JVM LocalRelation, not createDataFrame: a Python-parallelized 40-row
    # dim costs defaultParallelism Python-worker tasks at EVERY
    # materialization (broadcast builds, joins) — see sources/localdim.py.
    # The pipelines' alias map is built from fixture_gazetteer_rows()
    # directly (canonicalize.alias_components); this frame serves the
    # broadcast-join mention detector and the Spark reference composition.
    from relex_spark.sources.localdim import local_dim

    return local_dim(
        spark,
        fixture_gazetteer_rows(),
        "surface string, entity_id string, entity_type string",
    )


def _hash_expr(*cols: str) -> str:
    """60-bit deterministic hash of concatenated columns (portable md5 form)."""
    concat = " || ':' || ".join(f"cast({c} as string)" for c in cols)
    return f"cast(conv(substr(md5({concat}), 1, 15), 16, 10) as bigint)"


def synthesize_transcripts(
    spark: SparkSession,
    n_convs: int = 200,
    base_turns: int = 8,
    hot_convs: int = 2,
    hot_factor: int = 64,
    partitions: int | None = None,
    plant_variants: int | None = None,
) -> DataFrame:
    """Generate the transcript table at a given scale.

    conv c has ``base_turns + (h(c) % base_turns)`` turns, except the first
    ``hot_convs`` conversations which are ``hot_factor``× longer (skew).

    ``plant_variants=None`` derives the planted-sentence variant count from
    the (deterministic) expected turn count, so distinct scoring inputs
    grow ∝ corpus size (see the module-level variant commentary).
    """
    fixture = load_semeval_fixture()
    sentences = [" ".join(ex["tokens"]) for ex in fixture]
    if plant_variants is None:
        # Expected turns: hash%base_turns averages (base_turns-1)/2 ≈
        # base_turns/2 extra turns per non-hot conv. Deterministic in the
        # parameters (never a data-dependent count), so the generated table
        # stays a pure function of (n_convs, base_turns, ...).
        est_turns = (
            min(hot_convs, n_convs) * base_turns * hot_factor
            + max(0, n_convs - hot_convs) * (base_turns * 3) // 2
        )
        plant_variants = plant_variants_for(est_turns, len(sentences))
    sent_array = F.array(*[F.lit(s) for s in sentences])
    filler_array = F.array(*[F.lit(w) for w in _FILLER_WORDS])

    convs = spark.range(n_convs).withColumnRenamed("id", "conv_no")
    if partitions:
        convs = convs.repartition(partitions, "conv_no")

    convs = convs.withColumn("conv_hash", F.expr(_hash_expr("conv_no")))
    convs = convs.withColumn(
        "n_turns",
        F.when(
            F.col("conv_no") < hot_convs,
            F.lit(base_turns * hot_factor),
        ).otherwise((F.lit(base_turns) + F.col("conv_hash") % base_turns)).cast("int"),
    )

    turns = convs.select(
        F.col("conv_no"),
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    turns = turns.withColumn("turn_hash", F.expr(_hash_expr("conv_no", "turn_idx")))

    # Filler text: 5-10 words picked by per-position hashes (element_at is
    # 1-based). Built as a SQL transform over a hash-derived index sequence.
    n_words = (F.col("turn_hash") % 6 + 5).cast("int")
    filler_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(
                filler_array,
                (
                    # cast before abs: abs(Int.MinValue) overflows under ANSI
                    F.abs(
                        F.hash(
                            F.col("turn_hash").cast("string"), i.cast("string")
                        ).cast("bigint")
                    )
                    % len(_FILLER_WORDS)
                    + 1
                ).cast("int"),
            ),
        ),
        " ",
    )

    planted = F.col("turn_hash") % PLANT_EVERY == 0
    sent_idx = (F.col("turn_hash") % len(sentences) + 1).cast("int")
    planted_text = F.element_at(sent_array, sent_idx)
    if plant_variants > 1:
        v = _variant_index("turn_hash", plant_variants, len(sentences))
        # concat_ws drops the NULL suffix, so v == 0 plants the bare sentence
        planted_text = F.concat_ws(" ", planted_text, _variant_suffix(v))
    text = F.when(planted, planted_text).otherwise(filler_text)

    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (F.col("turn_idx") % 3 + 1).cast("int"),
    )
    tool = F.when(role == "tool", F.lit("search")).otherwise(F.lit(None).cast("string"))

    # Monotone-in-conversation timestamps from a fixed epoch (UTC session TZ).
    ts = F.timestamp_seconds(
        F.lit(1_700_000_000) + F.col("conv_no") * 100_000 + F.col("turn_idx") * 60
    )

    return turns.select(
        F.concat(F.lit("conv-"), F.col("conv_no")).alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def transcripts_from_documents(
    docs: DataFrame, convs: int = 40, plant_variants: int | None = None
) -> DataFrame:
    """Derive a transcript table deterministically from a documents table
    (driver testdata): conv = doc_id % convs, turn order by doc_id; a
    hash-seeded third of turns carries a planted SemEval gold sentence, the
    rest carry the document text. Same determinism rules as
    synthesize_transcripts (pure function of doc_id).

    ``plant_variants=None`` derives the variant count from the corpus row
    count (one metadata-cheap ``count()`` — batch inputs only; pass an
    explicit value for pre-counted or non-parquet inputs). The DuckDB
    oracles in plans/driver_queries mirror the same formula as a scalar
    subquery, so the mirror holds at every scale automatically."""
    sentences = [" ".join(ex["tokens"]) for ex in load_semeval_fixture()]
    sent_array = F.array(*[F.lit(s) for s in sentences])
    if plant_variants is None:
        plant_variants = plant_variants_for(docs.count(), len(sentences))

    d = docs.withColumn("doc_hash", F.expr(_hash_expr("doc_id")))
    planted = F.col("doc_hash") % PLANT_EVERY == 0
    sent_idx = (F.col("doc_hash") % len(sentences) + 1).cast("int")
    planted_text = F.element_at(sent_array, sent_idx)
    if plant_variants > 1:
        v = _variant_index("doc_hash", plant_variants, len(sentences))
        planted_text = F.concat_ws(" ", planted_text, _variant_suffix(v))
    text = F.when(planted, planted_text).otherwise(F.col("text"))
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return d.select(
        F.concat(F.lit("conv-"), F.col("doc_id") % convs).alias("conv_id"),
        (F.col("doc_id") / convs).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        F.when(role == "tool", F.lit("search")).otherwise(F.lit(None).cast("string")).alias("tool"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("doc_id") % convs) * 100_000
            + (F.col("doc_id") / convs).cast("int") * 60
        ).alias("ts"),
    )


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Scan a persisted transcript table (parquet layout; Iceberg when a
    catalog is configured — see sinks.write_stage for the commit protocol)."""
    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
