"""Training-batch assembly operators for LLM data pipelines.

* ``pack_greedy`` — fixed-token-budget sequence packing: documents are
  sharded deterministically, ordered within shard, and greedily filled
  into packs of at most ``budget`` tokens (the standard pre-training
  "example packing" step that turns variable-length documents into
  fixed-budget training sequences).
* ``token_budget_mix`` — per-source token-budget corpus mixing: each
  source contributes documents in deterministic hash order until its
  token budget is reached (the data-recipe "mixing" step — e.g. 30B
  tokens of web, 5B of code — made reproducible).

Scale notes
-----------
Greedy packing is inherently sequential *within* a shard (each pack
boundary depends on everything before it), so the parallelism unit is
the shard — exactly how production packers run: one shuffle on the
shard key, then an O(shard) single pass per shard inside
``applyInPandas``. Shard count scales with the corpus; per-shard state
is two integers. A recursive-CTE formulation exists (the DuckDB oracle
uses one) but would cost one distributed iteration per *row* on Spark —
rejected.

``token_budget_mix`` needs a cumulative token sum in hash order per
source. A naive window over ``ORDER BY hash`` sorts each source
globally; instead the cumsum is two-phase: (1) per-(source, bucket)
partial token sums — a tiny aggregate (n_sources x n_buckets rows) whose
per-bucket offsets come from a window over that aggregate itself and are
broadcast-joined back (fully lazy — no driver collect); (2) a window only
*within* each (source, bucket) plus the offset. No global sort; the
widest shuffle is bounded by the bucket granularity, and a skewed
source spreads across all its buckets.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from relex_spark.functions.text import portable_hash64, split_ws
from relex_spark.sources.localdim import local_dim


def _default_parallel_units(docs: DataFrame) -> int:
    """Derived default for ``n_shards``/``n_buckets``: the input's scan
    partition count (∝ corpus size at a fixed ``maxPartitionBytes``),
    floored at 8 — so a 100-TB corpus on defaults gets ~100k parallel
    units, not 8 giant single-task passes.

    The unit count is part of the OUTPUT contract (shard/bucket =
    hash % n), so two runs of the same recipe over different file layouts
    produce different (equally valid) shardings. Pin ``n_shards`` /
    ``n_buckets`` explicitly when a recipe must be byte-reproducible
    across cluster layouts — every oracle-paired query and the curation
    pipeline do exactly that."""
    return max(8, docs.rdd.getNumPartitions())


def _pack_one_shard(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    """Greedy fill of one shard (rows pre-sorted by the id column): a document
    joins the current pack iff it fits in the remaining budget, else it
    starts the next pack. A document longer than the whole budget gets a
    pack of its own (callers that truncate instead do so upstream)."""
    pack_ids, positions = [], []
    pack_id, fill, pos = 0, 0, 0
    first = True
    for tok in pdf["tok_count"]:
        t = int(tok)
        if first:
            first = False
            fill, pos = t, 0
        elif fill + t <= budget:
            fill += t
            pos += 1
        else:
            pack_id += 1
            fill, pos = t, 0
        pack_ids.append(pack_id)
        positions.append(pos)
    out = pdf.copy()
    out["pack_id"] = pd.Series(pack_ids, index=pdf.index, dtype="int64")
    out["pack_pos"] = pd.Series(positions, index=pdf.index, dtype="int32")
    return out


def pack_greedy(
    docs: DataFrame,
    budget: int = 256,
    n_shards: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign every document to a (shard, pack_id, pack_pos) under a
    greedy fixed-token-budget fill. Deterministic at fixed ``n_shards``:
    the shard is the portable hash of the id, the within-shard order is
    the id itself, so reruns and repartitionings produce the identical
    packing. ``n_shards`` defaults to the input's scan partition count
    (scale-safe); pin it for layout-independent reproducibility — see
    ``_default_parallel_units``.

    Output: (<id_col>, shard, pack_id, pack_pos, tok_count).
    """
    if n_shards is None:
        n_shards = _default_parallel_units(docs)
    if budget <= 0 or n_shards <= 0:
        raise ValueError(f"budget/n_shards must be positive, got {budget}/{n_shards}")
    base = docs.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.pmod(
            portable_hash64(F.concat(F.lit("pack:"), F.col(id_col).cast("string"))),
            F.lit(n_shards),
        )
        .cast("int")
        .alias("shard"),
        F.size(split_ws(F.col(text_col))).cast("bigint").alias("tok_count"),
    )

    def fill(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        packed = _pack_one_shard(pdf.sort_values(id_col), budget)
        return packed[[id_col, "shard", "pack_id", "pack_pos", "tok_count"]]

    schema = (
        f"{id_col} bigint, shard int, pack_id bigint, pack_pos int, "
        "tok_count bigint"
    )
    return base.groupBy("shard").applyInPandas(fill, schema=schema)


def token_budget_mix(
    docs: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """Keep documents per source, in a deterministic pseudo-random order
    — (hash bucket, hash, id), i.e. bucket-major so the scale-safe
    two-phase cumsum IS the contract order — while the
    running token total is within that source's budget; the document that
    crosses the budget is the last one kept (so every non-empty source
    contributes at least one document and the overshoot is < one doc).
    Sources absent from ``budgets`` are dropped.

    Output: (<id_col>, source, tok_count, cum_tokens) for kept docs only.

    The cumulative sum is two-phase (see module docstring) and FULLY
    LAZY: phase 1's per-(source, bucket) token sums stay a DataFrame
    (n_sources x n_buckets rows); each bucket's offset is a window over
    that tiny aggregate, broadcast-joined back; phase 2's window then
    runs only within (source, bucket). Nothing executes at construction
    time, and no O(sources x buckets) literal expression enters the plan.
    """
    if n_buckets is None:
        # scale-safe default; the bucket count is part of the output
        # contract (contract order is bucket-major) — pin n_buckets for
        # layout-independent reproducibility (see _default_parallel_units)
        n_buckets = _default_parallel_units(docs)
    if not budgets:
        raise ValueError("budgets must name at least one source")
    bad = {s: b for s, b in budgets.items() if int(b) <= 0}
    if bad:
        raise ValueError(
            f"budgets must be positive (every budgeted source keeps at "
            f"least one doc by contract), got {bad}"
        )
    bdf = local_dim(
        docs.sparkSession,
        sorted((s, int(b)) for s, b in budgets.items()),
        "source string, __budget bigint",
    )
    h = portable_hash64(F.concat(F.lit("mix:"), F.col(id_col).cast("string")))
    base = (
        docs.where(F.col(source_col).isin(*budgets.keys()))
        .select(
            F.col(id_col).cast("bigint").alias(id_col),
            F.col(source_col).alias("source"),
            F.size(split_ws(F.col(text_col))).cast("bigint").alias("tok_count"),
            h.alias("__h"),
        )
        .withColumn("__bucket", F.pmod(F.col("__h"), F.lit(n_buckets)).cast("int"))
        .localCheckpoint(eager=False)  # two consumers: offsets + window
    )
    # phase 1: per-(source, bucket) token sums; a bucket's offset is the
    # total of all lower buckets in its source — a window over the TINY
    # aggregate (n_sources x n_buckets rows), never over the corpus
    woff = (
        Window.partitionBy("source")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        base.groupBy("source", "__bucket")
        .agg(F.sum("tok_count").alias("__bsum"))
        .select(
            "source",
            "__bucket",
            F.coalesce(F.sum("__bsum").over(woff), F.lit(0))
            .cast("bigint")
            .alias("__off"),
        )
    )
    # phase 2: window only within (source, bucket) — no global sort
    w = (
        Window.partitionBy("source", "__bucket")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        base.join(F.broadcast(offs), ["source", "__bucket"])
        .join(F.broadcast(bdf), "source")
        .withColumn(
            "cum_tokens",
            (F.sum("tok_count").over(w) + F.col("__off")).cast("bigint"),
        )
    )
    # keep iff the budget was not already met BEFORE this doc: the doc
    # crossing the line is kept, everything after it is cut
    return (
        cum.where(F.col("cum_tokens") - F.col("tok_count") < F.col("__budget"))
        .select(id_col, "source", "tok_count", "cum_tokens")
    )


def epoch_order(
    docs: DataFrame,
    epoch: int,
    n_shards: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-epoch training order: every epoch reshuffles the
    corpus by hashing (epoch, id) — a different but fully reproducible
    permutation per epoch, with no RNG state to checkpoint. Documents land
    in a shard (read in parallel by data loaders) and get a dense 1-based
    position within it.

    Output: (<id_col>, epoch, shard, ord) — ``ord`` dense per (epoch, shard).

    Scale shape: one hash shuffle on the shard key + a per-shard window
    (rank over the shard's rows only — shard count scales with the corpus,
    so no global sort ever happens). The same two-phase trick as
    token_budget_mix applies if a global contiguous index is ever needed.
    """
    if n_shards is None:
        # scale-safe default; shard = hash % n_shards is part of the output
        # contract — pin n_shards for layout-independent reproducibility
        n_shards = _default_parallel_units(docs)
    if n_shards <= 0 or epoch < 0:
        raise ValueError(f"need n_shards > 0 and epoch >= 0, got {n_shards}/{epoch}")
    h = portable_hash64(
        F.concat(F.lit(f"ep{epoch}:"), F.col(id_col).cast("string"))
    )
    base = docs.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.lit(epoch).cast("int").alias("epoch"),
        h.alias("__h"),
    ).withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return base.select(
        id_col, "epoch", "shard", F.row_number().over(w).cast("bigint").alias("ord")
    )
