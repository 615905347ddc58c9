"""Text / token-array column functions (reference §2.2 P1–P8; P9 needs no
function: the TACRED reader carries NER/POS/dep as parallel arrays).

Every function here returns a Catalyst ``Column`` — these stages run fully
inside whole-stage codegen on the JVM; no Python is involved at execution
time. Reference semantics they reproduce (cited file:line are in
/root/reference):

* P1 text reconstruction  — relex/dataset_readers/semeval2010_task8.py:68
* P2 whitespace tokenize  — semeval2010_task8.py:53-54,89 (JustSpacesWordSplitter
  ≡ Python ``str.split()``: split on whitespace runs, no empty tokens)
* P3 GloVe bracket norm   — relex/dataset_readers/tacred.py:21-30,133
* P4 entity masking       — tacred.py:179-201
* P5 truncation           — semeval2010_task8.py:90; tacred.py:150
* P6 end-exclusive→inclusive — semeval2010_task8.py:95-96
* P7 span clamping        — semeval2010_task8.py:98-101; tacred.py:144-148
* P8 lowercasing          — configs single_id ``lowercase_tokens: true``
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tacred.py:22-29 — six-entry bracket map, identity fallback.
GLOVE_BRACKET_MAP = {
    "-LRB-": "(",
    "-RRB-": ")",
    "-LSB-": "[",
    "-RSB-": "]",
    "-LCB-": "{",
    "-RCB-": "}",
}


def split_ws(text: Column | str) -> Column:
    """P2: tokenize on whitespace runs, exactly like Python ``str.split()``.

    ``(?U)`` is required: Java's ``\\s`` is ASCII-only by default, while the
    reference's splitter is Python ``str.split()``, which treats Unicode
    whitespace (NBSP, thin space, ideographic space, …) as separators —
    without the flag, ``"a\\u00a0b"`` tokenizes differently from the
    reference. (Remaining documented divergence: Python also treats the
    C0 separator controls ``\\x1c``–``\\x1f`` as whitespace; Java's Unicode
    White_Space property does not — no natural-language corpus contains
    them.) ``split()`` yields empty strings for leading/trailing/multiple
    whitespace; the filter removes them so the result round-trips with
    ``join_ws`` (the per-turn text-equality invariant).
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, r"(?U)\s+"), lambda t: t != F.lit(""))


def join_ws(tokens: Column | str) -> Column:
    """P1: ``" ".join(tokens)``."""
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.array_join(col, " ")


def normalize_glove_tokens(tokens: Column | str) -> Column:
    """P3: map PTB bracket tokens to literal brackets, identity otherwise."""
    from relex_spark.sources.localdim import local_map

    col = F.col(tokens) if isinstance(tokens, str) else tokens
    bracket_map = local_map(GLOVE_BRACKET_MAP, "string", "string")
    return F.transform(col, lambda t: F.coalesce(bracket_map[t], t))


def mask_entities(
    tokens: Column,
    head_start: Column,
    head_end: Column,
    tail_start: Column,
    tail_end: Column,
    head_replacement: Column,
    tail_replacement: Column,
) -> Column:
    """P4: replace tokens inside the (inclusive) head/tail spans.

    Length-preserving, like the reference's slice assignment
    (tacred.py:198-199). Head replacement wins on overlap ordering parity:
    the reference assigns head first then tail, so tail overwrites overlap —
    we apply tail check first so tail wins, matching the final state.
    """
    return F.transform(
        tokens,
        lambda t, i: (
            F.when((i >= tail_start) & (i <= tail_end), tail_replacement)
            .when((i >= head_start) & (i <= head_end), head_replacement)
            .otherwise(t)
        ),
    )


def masking_replacements(
    mode: str, head_type: Column, tail_type: Column
) -> tuple[Column, Column]:
    """P4 dispatch: the five masking modes of tacred.py:179-196."""
    if mode == "NER":
        return (
            F.concat(F.lit("__"), head_type, F.lit("__")),
            F.concat(F.lit("__"), tail_type, F.lit("__")),
        )
    if mode == "Grammar":
        return F.lit("__SUB__"), F.lit("__OBJ__")
    if mode == "NER+Grammar":
        return (
            F.concat(F.lit("__"), head_type, F.lit("_SUB__")),
            F.concat(F.lit("__"), tail_type, F.lit("_OBJ__")),
        )
    if mode == "UNK":
        return F.lit("__UNK__"), F.lit("__UNK__")
    if mode == "NER_NL":
        return F.lower(head_type), F.lower(tail_type)
    raise ValueError(f"Unknown masking mode {mode!r}")


def truncate_tokens(tokens: Column | str, max_len: int) -> Column:
    """P5: ``tokens[:max_len]`` (slice is 1-based in Spark)."""
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.slice(col, 1, max_len)


def span_end_exclusive_to_inclusive(end: Column | str) -> Column:
    """P6: SemEval spans are end-exclusive on disk; internal convention is
    inclusive (semeval2010_task8.py:95-96)."""
    col = F.col(end) if isinstance(end, str) else end
    return col - F.lit(1)


def clamp_span(offset: Column | str, max_len: int) -> Column:
    """P7: ``min(offset, max_len - 1)``."""
    col = F.col(offset) if isinstance(offset, str) else offset
    return F.least(col, F.lit(max_len - 1))


def lower_tokens(tokens: Column | str) -> Column:
    """P8: per-token lowercase (single_id ``lowercase_tokens``)."""
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.transform(col, F.lower)


def portable_hash64(col: Column) -> Column:
    """Deterministic 60-bit integer hash computable identically in Spark and
    DuckDB (oracle parity): first 15 hex digits of md5, parsed base-16.

    Spark:  conv(substr(md5(x),1,15),16,10) :: bigint
    DuckDB: cast('0x' || substr(md5(x),1,15) as bigint)
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def word_bigrams(toks: Column) -> Column:
    """Adjacent word bigrams as 'w1 w2' strings (with multiplicity) —
    shared by textstats.repetition_signals and curation.bigram_lm_scores
    (each pairs this with a matching DuckDB-oracle CTE; change both)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat(
            F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
        ),
    )
