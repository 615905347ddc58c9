"""Filtered negative sampling over KG triples — training-data prep for
knowledge-graph embedding models (TransE/DistMult-style corruption; engine
extension, the reference stops at emitting positive relations).

For each positive triple (subj, pred, obj) and corruption index
i ∈ [0, k), the replacement object is picked by a 60-bit portable md5
hash of (subj, pred, obj, i) modulo the entity-vocabulary size — a pure
function of the row, so the sample is deterministic under any partitioning
and any cluster size (the same rule the corpus generator uses,
sources/transcripts.py:223). Corruptions that reproduce the original
object or collide with ANY true triple are dropped ("filtered" setting —
Bordes et al. 2013 §3), so a triple may yield fewer than k negatives.

Scale shape: explode(k) is a narrow map; the entity pick is a broadcast
hash equi-join against the dim-sized entity table (eid = hash % n, with n
attached via a broadcast single-row scalar — no driver collect, no
nested-loop join); the truth filter is ONE left-anti hash join against the
positives on (subj, pred, obj). At 10^12 triples that anti-join is the
only shuffle, keyed by the same (subj, pred, obj) the triple store is
already bucketed by.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _h60(*cols: Column) -> Column:
    """60-bit deterministic hash: first 15 hex digits of md5 of the
    ':'-joined string forms — the portable form shared with the corpus
    generator and every DuckDB oracle (`conv(hex,16,10)` here,
    `CAST('0x'||hex AS BIGINT)` there).

    NULL-propagating concat (not concat_ws, which SKIPS null inputs): the
    oracle's ``||`` yields NULL for a null-keyed triple, so the engine must
    too — with concat_ws a null subj/pred/obj produced a hash (and
    cross-field collisions like (a,NULL,b) == (a,b,NULL)) while the oracle
    dropped the row. Identical bytes for fully-non-null inputs."""
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit(":"))
        parts.append(c.cast("string"))
    return F.conv(F.substring(F.md5(F.concat(*parts)), 1, 15), 16, 10).cast(
        "bigint"
    )


def negative_sample_triples(
    triples: DataFrame,
    entities: DataFrame,
    k: int = 3,
    entity_col: str = "entity",
) -> DataFrame:
    """Corrupt each positive (subj, pred, obj) into up to ``k`` negatives
    by hash-replacing the object from ``entities`` (one column, the
    candidate replacement vocabulary — dim-sized: an entity vocabulary is
    broadcastable by the same argument as a gazetteer).

    Output: (subj, pred, obj_neg, neg_idx INT). Deterministic and
    partitioning-independent; duplicates of (subj, pred, obj_neg) at
    different neg_idx are possible (hash collisions across i) and kept —
    downstream samplers weigh them as the hash distribution produced them.

    A triple with a NULL ``subj``, ``pred`` or ``obj`` yields no negatives:
    its pick hash is NULL (``_h60`` propagates NULL, as the DuckDB oracle's
    ``||`` does), so it matches no entity id. As a true triple it filters
    nothing: NULL keys match nothing in the anti-join.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ents = entities.select(F.col(entity_col).alias("__ent")).distinct()
    # row_number over a total order: a deterministic dense 0-based id.
    # The single-partition window sort is fine on a dim table (same
    # reasoning as vocab build, operators/vocab.py). Collation note: Spark
    # orders strings by UTF-8 bytes, which equals code-point order for ALL
    # of Unicode (UTF-8 is order-preserving), and DuckDB's binary collation
    # is the same order — the id assignment is cross-engine stable with no
    # ASCII-only restriction.
    ents = ents.select(
        "__ent",
        (F.row_number().over(Window.orderBy("__ent")) - 1).alias("__eid"),
    )
    n_row = ents.agg(F.count("*").alias("__n_ents"))

    cand = triples.select(
        "subj",
        "pred",
        "obj",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("neg_idx"),
    ).crossJoin(F.broadcast(n_row))
    cand = cand.withColumn(
        "__pick",
        F.pmod(
            _h60(
                F.col("subj"), F.col("pred"), F.col("obj"), F.col("neg_idx")
            ),
            F.col("__n_ents"),
        ),
    )
    neg = (
        cand.join(F.broadcast(ents), F.col("__pick") == F.col("__eid"))
        .where(F.col("__ent") != F.col("obj"))
        .select(
            "subj",
            "pred",
            F.col("__ent").alias("obj_neg"),
            F.col("neg_idx").cast("int").alias("neg_idx"),
        )
    )
    truth = triples.select(
        "subj", "pred", F.col("obj").alias("obj_neg")
    ).distinct()
    return neg.join(truth, ["subj", "pred", "obj_neg"], "left_anti")
