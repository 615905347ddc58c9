"""Seeded input generators. The engine only ever sees the files written here.

Every table is a pure function of ``seed`` and the sizes: numpy's
PCG64 stream seeded with ``(seed, table tag)``, so the same seed gives
byte-identical parquet files on any host.

* ``write_transcripts`` keeps the shape of
  ``relex_spark.sources.transcripts.synthesize_transcripts``: conversations
  of 8-15 turns, two "hot" conversations 64x longer, and one turn in three
  carrying a SemEval fixture sentence, optionally followed by a variant
  suffix so that distinct scoring inputs grow with corpus size.
* ``write_operator_tables`` writes the four tables the benchmarked driver
  queries read (lineitem, orders, customer, documents), one parquet file
  each, with the row counts of the sf0.01 test tables (TESTDATA.md) and the
  column types, value ranges and document statistics measured on both sf0.01
  and sf0.1 (sf0.01 is sf0.1 at a tenth of the rows): 1,500 customers,
  15,000 orders, 60,000 line items (order keys drawn uniformly, so about
  1.8% of orders have none), 500 documents of 10-100 words (mean 54) over a
  31-word vocabulary, 5% of them an earlier document plus " dup".
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Filler and variant-suffix words. They must never form a gazetteer surface
# (a suffix would mint a new mention); write_transcripts checks this.
WORDS = [
    "please", "check", "the", "report", "and", "send", "an", "update",
    "we", "ran", "pipeline", "job", "with", "new", "settings", "today",
    "results", "look", "stable", "after", "retry", "queue", "was", "empty",
    "also", "note", "latency", "dropped", "since", "last", "deploy", "ok",
]
BASE_TURNS = 8           # a conversation has BASE_TURNS..2*BASE_TURNS-1 turns
HOT_CONVS, HOT_FACTOR = 2, 64   # two conversations 64x longer than the base
PLANT_EVERY = 3          # one turn in three carries a fixture sentence
DUP_TARGET = 8           # planted occurrences per distinct variant
TRANSCRIPT_FILES = 16

# Operator table sizes: those of sf0.01 (see the module docstring).
CUSTOMERS, ORDERS, LINES_PER_ORDER, DOCUMENTS = 1_500, 15_000, 4, 500

_DOC_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, tag])


def _variant_suffix(v: int) -> str:
    """Base-32 digits of v as words, most significant first ("" for 0)."""
    digits = []
    while v:
        v, d = divmod(v, 32)
        digits.append(WORDS[d])
    return " ".join(reversed(digits))


def write_transcripts(
    out_dir: str,
    seed: int,
    n_convs: int,
    sentences: list[str],
    gazetteer_surfaces: list[str],
) -> dict:
    """Write the transcript table as TRANSCRIPT_FILES parquet files in
    ``out_dir``; return its counts (turns, planted turns, variants)."""
    gaz_tokens = {t for s in gazetteer_surfaces for t in s.split(" ")}
    if gaz_tokens & set(WORDS):
        raise ValueError(f"filler words overlap the gazetteer: {gaz_tokens & set(WORDS)}")
    rng = _rng(seed, 1)
    n_turns = BASE_TURNS + rng.integers(0, BASE_TURNS, n_convs)
    n_turns[:HOT_CONVS] = BASE_TURNS * HOT_FACTOR
    total = int(n_turns.sum())
    conv = np.repeat(np.arange(n_convs), n_turns)
    starts = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    turn = np.arange(total) - starts
    planted = rng.integers(0, PLANT_EVERY, total) == 0
    n_planted = int(planted.sum())
    plant_variants = max(1, n_planted // (len(sentences) * DUP_TARGET))
    sent = rng.integers(0, len(sentences), total)
    variant = rng.integers(0, plant_variants, total)
    n_words = rng.integers(5, 11, total)
    filler = rng.integers(0, len(WORDS), (total, 10))

    text = []
    for i in range(total):
        if planted[i]:
            suffix = _variant_suffix(int(variant[i]))
            text.append(sentences[sent[i]] + (" " + suffix if suffix else ""))
        else:
            text.append(" ".join(WORDS[j] for j in filler[i, : n_words[i]]))
    roles = np.array(["user", "assistant", "tool"])[turn % 3]
    ts = (1_700_000_000 + conv * 100_000 + turn * 60) * 1_000_000
    table = pa.table(
        {
            "conv_id": pa.array([f"conv-{c}" for c in conv], pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(
                ["search" if r == "tool" else None for r in roles], pa.string()
            ),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, total, TRANSCRIPT_FILES + 1).astype(int)
    for k in range(TRANSCRIPT_FILES):
        pq.write_table(
            table.slice(bounds[k], bounds[k + 1] - bounds[k]),
            os.path.join(out_dir, f"part-{k:05d}.parquet"),
        )
    return {
        "conversations": n_convs,
        "turns": total,
        "planted_turns": n_planted,
        "plant_variants": plant_variants,
    }


def _days(first: dt.date, last: dt.date, rng: np.random.Generator, n: int) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def write_operator_tables(out_dir: str, seed: int) -> dict:
    """Write customer/orders/lineitem/documents as ``<name>.parquet`` files
    in ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 2)
    n_customers, n_orders, n_docs = CUSTOMERS, ORDERS, DOCUMENTS
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_customers)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_customers)),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_customers)]),
        }
    )
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n_orders)),
            "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), rng, n_orders),
            "o_orderpriority": pa.array(priorities[rng.integers(0, 5, n_orders)]),
        }
    )
    n_lines = n_orders * LINES_PER_ORDER
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_lines), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_lines)),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lines)]),
            "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), rng, n_lines),
        }
    )
    # Documents: 10-100 words; one in twenty repeats an earlier document
    # plus a marker word, so the near-duplicate detectors find real pairs.
    texts: list[str] = []
    n_words = rng.integers(10, 101, n_docs)
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), n_words[i])))
    langs = np.array(["en"] * 8 + ["de", "es", "fr", "zh"] * 3)
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    tables = {"customer": customer, "orders": orders, "lineitem": lineitem, "documents": documents}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
