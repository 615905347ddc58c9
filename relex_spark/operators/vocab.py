"""Vocabulary operators (reference §2.4 V1–V2; V3 token→id indexing is
``scoring.weights.ModelWeights.token_ids`` inside the kernel).

The reference's AllenNLP ``Vocabulary`` is a driver-side dict built in one
full pass. Here the counting pass is a distributed aggregation (map-side
partial + final, free via Catalyst) and only the surviving vocab — small by
``min_count`` construction — is collected/broadcast.

Determinism: ids are assigned by ``row_number`` over (count DESC, token
ASC), a total order, so the same corpus yields the same vocab at any
parallelism (AllenNLP orders by count then insertion; count-then-lexical is
our stable equivalent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from relex_spark.sources.localdim import local_map


def build_token_vocab(
    tokens_df: DataFrame,
    tokens_col: str = "tokens",
    min_count: int = 2,
    lowercase: bool = True,
) -> DataFrame:
    """V1: explode → count → min_count filter → contiguous ids from 2
    (0=pad, 1=oov, matching scoring.weights.PAD_ID/OOV_ID).

    Scale-safe total-order rank (a post-min_count vocab can still be 10⁷+
    rows at web scale, so no global-window single-task sort): range-
    partition by the sort key, rank within each partition in parallel,
    then add cumulative partition-size offsets (range partition i's rows
    all sort before partition i+1's, so offset+local_rank IS the global
    rank). The ids are identical to a global row_number over
    (cnt DESC, token ASC) — the oracle pins this.

    Returns DataFrame(token STRING, cnt BIGINT, id INT).
    """
    tok = F.explode(tokens_col).alias("token")
    df = tokens_df.select(tok)
    if lowercase:
        df = df.select(F.lower("token").alias("token"))
    counts = df.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    counts = counts.where(F.col("cnt") >= min_count)
    parts = (
        counts.repartitionByRange(F.desc("cnt"), F.asc("token"))
        .withColumn("pid", F.spark_partition_id())
        # pin pids across the two downstream computations (range-partitioner
        # boundary sampling is nondeterministic between job runs); eager by
        # default, so it runs its plan's jobs while the vocab is built
        # (4 for v1_token_vocab at sf0.01)
        .localCheckpoint()
    )
    sizes = sorted(
        (r["pid"], r["n"])
        for r in parts.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, n in sizes:
        offsets[pid] = acc
        acc += n
    if offsets:
        # one small int per partition — a literal map beats a join even at
        # thousands of partitions
        off_expr = F.element_at(local_map(offsets, "int", "int"), F.col("pid"))
    else:
        off_expr = F.lit(0)
    w = Window.partitionBy("pid").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        parts.withColumn("lrn", F.row_number().over(w))
        .select(
            "token",
            "cnt",
            (off_expr + F.col("lrn") + 1).cast("int").alias("id"),
        )
    )


def build_label_vocab(labels_df: DataFrame, label_col: str = "label") -> DataFrame:
    """V2: distinct labels → contiguous ids by lexical order.

    Returns DataFrame(label STRING, id INT)."""
    w = Window.orderBy(F.asc("label"))
    return (
        labels_df.select(F.col(label_col).alias("label"))
        .where(F.col("label").isNotNull())
        .distinct()
        .withColumn("id", (F.row_number().over(w) - 1).cast("int"))
    )

