"""Filtered negative sampling (operators/negatives.py): the filtered-setting
contract (no true triple survives), per-positive bound, determinism under
partitioning, and the portable-hash pick rule replayed row-by-row."""

import hashlib

import pytest
from pyspark.sql import functions as F

from relex_spark.operators.negatives import negative_sample_triples


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def _ents(spark, names):
    return spark.createDataFrame([(n,) for n in names], "entity string")


ENTITIES = [f"e{i}" for i in range(7)]


def _pick(subj, pred, obj, i, n):
    h = hashlib.md5(f"{subj}:{pred}:{obj}:{i}".encode()).hexdigest()
    return int(h[:15], 16) % n


def test_filtered_setting_and_hash_replay(spark):
    pos_rows = [
        ("e0", "likes", "e1"),
        ("e0", "likes", "e2"),
        ("e3", "made", "e4"),
    ]
    pos = _triples(spark, pos_rows)
    out = negative_sample_triples(pos, _ents(spark, ENTITIES), k=5).collect()
    truth = set(pos_rows)
    got = {(r["subj"], r["pred"], r["obj_neg"], r["neg_idx"]) for r in out}
    # 1) no emitted negative is a true triple (filtered setting)
    assert all((s, p, o) not in truth for s, p, o, _ in got)
    # 2) exact expected set: replay the documented pick rule in Python
    expected = set()
    for s, p, o in pos_rows:
        for i in range(5):
            cand = ENTITIES[_pick(s, p, o, i, len(ENTITIES))]
            if cand != o and (s, p, cand) not in truth:
                expected.add((s, p, cand, i))
    assert got == expected
    assert expected  # the fixture must actually produce negatives


def test_null_keyed_triple_yields_no_negatives(spark):
    """A NULL in any key column makes the pick hash NULL, so that triple
    gets no negatives; the non-null triples beside it are unaffected."""
    good = [("e0", "likes", "e1")]
    rows = good + [(None, "likes", "e1"), ("e0", None, "e2"), ("e3", "made", None)]
    ents = _ents(spark, ENTITIES)
    out = negative_sample_triples(_triples(spark, rows), ents, k=5).collect()
    assert out, "the non-null triple must still produce negatives"
    assert {(r["subj"], r["pred"]) for r in out} == {("e0", "likes")}
    alone = negative_sample_triples(_triples(spark, good), ents, k=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, alone))


def test_per_positive_bound_and_partitioning_independence(spark):
    pos_rows = [(f"s{i}", "p", f"e{i % 3}") for i in range(20)]
    pos = _triples(spark, pos_rows)
    ents = _ents(spark, ENTITIES)
    out = negative_sample_triples(pos, ents, k=3)
    per_pos = out.groupBy("subj", "pred").count().collect()
    assert all(r["count"] <= 3 for r in per_pos)
    base = sorted(map(tuple, out.collect()))
    repart = sorted(
        map(
            tuple,
            negative_sample_triples(pos.repartition(9), ents, k=3).collect(),
        )
    )
    assert base == repart


def test_duplicate_entities_collapse_and_k_validation(spark):
    pos = _triples(spark, [("a", "p", "b")])
    dup_ents = _ents(spark, ["x", "y", "x", "y"])  # distinct() -> 2
    out = negative_sample_triples(pos, dup_ents, k=4).collect()
    # picks index a 2-entity vocab; 'b' is not in it so nothing is filtered
    # beyond collisions, and every obj_neg is from the deduped vocab
    assert {r["obj_neg"] for r in out} <= {"x", "y"}
    with pytest.raises(ValueError):
        negative_sample_triples(pos, dup_ents, k=0)


def test_plan_uses_broadcast_joins(spark):
    pos = _triples(spark, [("a", "p", "b")])
    plan = negative_sample_triples(
        pos, _ents(spark, ENTITIES), k=2
    )._jdf.queryExecution().executedPlan().toString()
    # the entity pick must be a broadcast HASH join (writing the pick as a
    # join CONDITION instead of a precomputed column would degrade it to
    # BroadcastNestedLoop over the whole corpus — the scale failure mode;
    # the one BNLJ allowed in this plan is the single-row n_ents scalar
    # attachment)
    assert "BroadcastHashJoin" in plan
