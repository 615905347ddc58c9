"""S6 TSV sink, S7/S8 experiment result sinks+scans, E6 multi-experiment
eval, and mention-detection strategy parity (map-literal vs
broadcast-join)."""

import glob
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from relex_spark.operators.candidates import (
    detect_mentions,
    detect_mentions_join,
    generate_candidate_pairs,
)
from relex_spark.plans.experiments import (
    evaluate_experiments,
    read_experiment_results,
    summarize_trials,
    write_result_json,
)
from relex_spark.plans.kg_pipeline import KGPipelineConfig
from relex_spark.scoring.scorer import broadcast_weights
from relex_spark.sources.readers import read_semeval_jsonl, semeval_to_candidates
from relex_spark.sources.sinks import write_id_label_tsv
from relex_spark.sources.transcripts import (
    fixture_gazetteer_rows,
    gazetteer_df,
    synthesize_transcripts,
)


def test_mention_detection_strategies_agree(spark):
    """Zero-shuffle map-literal path ≡ broadcast-join path: identical
    candidate pair sets on the same transcripts."""
    t = synthesize_transcripts(spark, n_convs=12)
    rows = fixture_gazetteer_rows()

    m1 = detect_mentions(t, rows, keep_text=False)
    p1 = {
        (r["id"], r["subj"], r["obj"], r["head_start"], r["tail_start"])
        for r in generate_candidate_pairs(m1).collect()
    }
    m2 = detect_mentions_join(t, gazetteer_df(spark), max_phrase_len=2)
    p2 = {
        (r["id"], r["subj"], r["obj"], r["head_start"], r["tail_start"])
        for r in generate_candidate_pairs(m2).collect()
    }
    assert p1 == p2 and p1


def test_tsv_sink_roundtrip(spark):
    out = tempfile.mkdtemp(prefix="relex_tsv_")
    try:
        df = spark.createDataFrame(
            [("1", "Other"), ("2", "Cause-Effect(e1,e2)")], "id string, label string"
        )
        write_id_label_tsv(df, f"{out}/labels")
        lines = []
        for f_ in glob.glob(f"{out}/labels/part-*"):
            with open(f_) as fh:
                lines += [ln.strip().split("\t") for ln in fh if ln.strip()]
        assert sorted(lines) == [["1", "Other"], ["2", "Cause-Effect(e1,e2)"]]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_experiments_roundtrip(spark):
    """E6 eval → S7 json sink → S8 glob scan → E7 summary."""
    cands = semeval_to_candidates(
        read_semeval_jsonl(spark, "relex_spark/data/semeval_fixture.jsonl"), 100
    )
    wbc = broadcast_weights(spark, KGPipelineConfig().resolved_weights())
    trials = evaluate_experiments(
        spark, {"trial_a": (cands, wbc), "trial_b": (cands, wbc)}
    )
    rows = trials.collect()
    assert len(rows) == 2

    tmp = tempfile.mkdtemp(prefix="relex_exp_")
    try:
        for r in rows:
            os.makedirs(f"{tmp}/{r['experiment']}", exist_ok=True)
            write_result_json(
                {
                    "experiment": r["experiment"],
                    "precision": r["precision"],
                    "recall": r["recall"],
                    "f1": r["f1"],
                },
                f"{tmp}/{r['experiment']}/result.json",
            )
        scanned = read_experiment_results(spark, f"{tmp}/*/result.json")
        assert scanned.count() == 2
        assert scanned.where(F.col("result_file").contains("trial_a")).count() == 1

        summary = summarize_trials(
            scanned.select("experiment", "precision", "recall", "f1")
        ).collect()
        assert {r["experiment"] for r in summary} == {"trial_a", "trial_b"}
        # identical weights → identical metrics → zero stddev
        assert all(abs(r["std_f1"]) < 1e-12 for r in summary)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_embedding_cosine_near_dup(spark):
    """Exact thresholded self-join finds the planted near-dup pair; the
    LSH-bucketed scale path returns a subset of the exact pairs with
    identical cos_sim values (same verify expression), and every exact
    pair's cos_sim equals cosine_topk's value for the same pair."""
    import math

    from relex_spark.operators.dedup import embedding_cosine_pairs
    from relex_spark.operators.similarity import cosine_topk

    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    rows = [
        (1, vec(0.00)),
        (2, vec(0.02)),   # near-dup of 1 (cos ≈ 0.9998)
        (3, vec(1.40)),   # far from 1/2
        (4, vec(1.41)),   # near-dup of 3
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_cosine_pairs(emb, threshold=0.99).collect()
    }
    assert set(exact) == {(1, 2), (3, 4)}
    assert all(v >= 0.99 for v in exact.values())

    bucketed = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_cosine_pairs(
            emb, threshold=0.99, n_planes=2, dim=8
        ).collect()
    }
    assert set(bucketed) <= set(exact)
    for k, v in bucketed.items():
        assert v == exact[k]

    # k=3 covers every other vector, so each exact pair is ranked
    topk = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk(emb, emb, k=3).collect()
    }
    for (a, b), v in exact.items():
        assert topk[(a, b)] == v
        assert topk[(b, a)] == v


def test_lsh_bucketed_topk_subset_of_exact(spark):
    """LSH-bucketed ANN returns per-query neighbors that are a subset of
    brute-force cosine top-k restricted to the same bucket — and identical
    cos_sim values for shared (query, neighbor) pairs."""
    import math

    from relex_spark.operators.similarity import cosine_topk, lsh_bucketed_topk

    rows = [
        (i, [math.cos(i * 0.15), math.sin(i * 0.15)] + [0.1 * (i % 3)] * 6)
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    queries = emb.where(F.col("vec_id") % 7 == 0)

    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk(queries, emb, k=19).collect()
    }
    approx = lsh_bucketed_topk(queries, emb, k=3, n_planes=2, dim=8).collect()
    assert approx, "bucketed ANN returned nothing"
    for r in approx:
        assert (r.query_id, r.neighbor_id) in exact
        assert r.cos_sim == exact[(r.query_id, r.neighbor_id)]


def test_ivf_topk_subset_and_full_probe_equals_bruteforce(spark):
    """IVF ANN: results are (query, neighbor) pairs from the exact scorer
    with identical cos_sim; probing ALL centroids recovers brute-force
    top-k exactly."""
    import math

    from relex_spark.operators.similarity import cosine_topk, ivf_topk

    rows = [
        (i, [math.cos(i * 0.31), math.sin(i * 0.31)] + [0.05 * (i % 4)] * 6)
        for i in range(24)
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    queries = emb.where(F.col("vec_id") % 5 == 0)

    exact_all = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk(queries, emb, k=23).collect()
    }
    approx = ivf_topk(queries, emb, k=3, n_centroids=4, nprobe=2).collect()
    assert approx
    for r in approx:
        assert r.cos_sim == exact_all[(r.query_id, r.neighbor_id)]

    exact_top3 = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(queries, emb, k=3).collect()
    }
    full_probe = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk(queries, emb, k=3, n_centroids=4, nprobe=4).collect()
    }
    assert full_probe == exact_top3


def test_token_vocab_rank_spans_partitions(spark):
    """V1's two-phase rank (range partition + local rank + offsets) must
    equal a global (cnt DESC, token ASC) row_number even when the vocab
    spans many range partitions."""
    from relex_spark.operators.vocab import build_token_vocab

    # 500 distinct tokens, counts 1..500 (min_count=2 drops exactly one)
    rows = [([f"tok{i:03d}"] * (i % 37 + 1),) for i in range(500)]
    df = spark.createDataFrame(rows, "tokens array<string>").repartition(16)
    got = {r["token"]: (r["cnt"], r["id"]) for r in build_token_vocab(df, min_count=2).collect()}
    expected = sorted(
        ((i % 37 + 1, f"tok{i:03d}") for i in range(500) if i % 37 + 1 >= 2),
        key=lambda t: (-t[0], t[1]),
    )
    assert len(got) == len(expected)
    for rank, (cnt, tok) in enumerate(expected):
        assert got[tok] == (cnt, rank + 2), tok


def test_no_per_row_python_udfs_in_source():
    """SURVEY §7 watch-list contract (input_hint: vectorized UDFs only):
    no row-at-a-time Python UDF registration anywhere in the engine —
    Python is allowed only at Arrow boundaries (mapInPandas /
    applyInPandasWithState / pandas_udf)."""
    import os

    import relex_spark

    root = os.path.dirname(relex_spark.__file__)
    banned = ("F.udf(", "functions.udf(", "@udf", "sqlContext.registerFunction")
    hits = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                src = f.read()
            for pat in banned:
                if pat in src:
                    hits.append((path, pat))
    assert not hits, hits


def test_merge_rollups_equals_single_pass(spark):
    """Merge-equivalence: merging per-slice rollups == single-pass rollup
    (the incremental-materialize contract; driver-checked at corpus scale
    by x_incremental_merge)."""
    from pyspark.sql import functions as F

    from relex_spark.operators.incremental import merge_rollups

    df = spark.createDataFrame(
        [("u1", 1, 10.0), ("u1", 2, 5.0), ("u2", 3, 7.0), ("u1", 4, 2.0)],
        ["k", "seq", "v"],
    )

    def rollup(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").alias("v"),
            F.min("seq").alias("lo"),
            F.max("seq").alias("hi"),
        )

    merged = merge_rollups(
        rollup(df.where(F.col("seq") <= 2)),
        rollup(df.where(F.col("seq") > 2)),
        keys=("k",),
        sum_cols=("n", "v"),
        min_cols=("lo",),
        max_cols=("hi",),
    )
    got = {r["k"]: r for r in merged.collect()}
    want = {r["k"]: r for r in rollup(df).collect()}
    assert set(got) == set(want)
    for k in want:
        for c in ("n", "v", "lo", "hi"):
            assert got[k][c] == want[k][c], (k, c)


def test_detect_mentions_rejects_duplicate_surfaces(spark):
    """An ambiguous-surface gazetteer cannot be a literal map (Spark's
    mapKeyDedupPolicy=EXCEPTION would kill the job mid-stage) — the
    literal-map variant must fail at build time pointing to the join
    variant, which emits every entity per surface."""
    import datetime as dt

    import pytest

    from relex_spark.operators.candidates import (
        detect_mentions,
        detect_mentions_join,
    )

    rows = [("c1", 0, "user", "Washington spoke", None, dt.datetime(2024, 1, 1))]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t = spark.createDataFrame(rows, schema)
    gaz = [("Washington", "ent:q1", "PER"), ("Washington", "ent:q2", "LOC")]
    with pytest.raises(ValueError, match="duplicate gazetteer surfaces"):
        detect_mentions(t, gaz)
    gdf = spark.createDataFrame(gaz, "surface string, entity_id string, entity_type string")
    ments = detect_mentions_join(t, gdf).collect()[0]["mentions"]
    assert {m["entity_id"] for m in ments} == {"ent:q1", "ent:q2"}


def test_local_dim_under_escaped_string_literals(spark):
    """Strings render as UTF-8 hex literals, so quotes, backslashes, empty
    and non-ASCII text, newlines and NULLs round-trip exactly through
    local_dim (scalar, array<string> and array<int> cells, empty, NULL and
    NULL-element arrays included) and local_map with
    spark.sql.parser.escapedStringLiterals off and on."""
    from relex_spark.sources.localdim import local_dim, local_map

    texts = ["O'Brien", "a\\b", "", "Zürich ☃", "line\nbreak", 'say "hi"']
    conf = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(conf)
    try:
        for mode in ("false", "true"):
            spark.conf.set(conf, mode)
            rows = [(t, i) for i, t in enumerate(texts)] + [(None, 99)]
            got = local_dim(spark, rows, "surface string, n int").collect()
            assert [tuple(r) for r in got] == rows, mode
            rows = [("a", texts), ("b", []), ("c", None), ("d", ["x", None])]
            dim = local_dim(spark, rows, "k string, names array<string>")
            assert dim.schema["names"].dataType.simpleString() == "array<string>"
            assert [tuple(r) for r in dim.collect()] == rows, mode
            rows = [("a", [2, 0, -1]), ("b", []), ("c", None), ("d", [7, None])]
            dim = local_dim(spark, rows, "k string, heads array<int>")
            assert dim.schema["heads"].dataType.simpleString() == "array<int>"
            assert [tuple(r) for r in dim.collect()] == rows, mode
            lookup = {t: t[::-1] for t in texts}
            (row,) = spark.range(1).select(
                local_map(lookup, "string", "string").alias("m"),
                local_map({}, "string", "boolean").alias("empty"),
            ).collect()
            assert row["m"] == lookup and row["empty"] == {}, mode
    finally:
        spark.conf.set(conf, prev)


def test_local_map_is_the_only_map_builder_in_source():
    """Every lookup built from driver rows goes through
    sources/localdim.local_map (one SQL literal per map); no other engine
    module builds one with create_map."""
    import relex_spark

    root = os.path.dirname(relex_spark.__file__)
    allowed = os.path.join(root, "sources", "localdim.py")
    hits = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(path) as f:
            if path != allowed and "create_map(" in f.read():
                hits.append(os.path.relpath(path, root))
    assert not hits, hits


def test_detect_mentions_join_keeps_tokens_on_no_hit_turns(spark):
    """A turn with no gazetteer hit must still carry its real tokens
    through the left join (only the mentions array is []-repaired)."""
    import datetime as dt

    from relex_spark.operators.candidates import detect_mentions_join

    rows = [
        ("c1", 0, "user", "no entities here", None, dt.datetime(2024, 1, 1)),
        ("c1", 1, "user", "the Student spoke", None, dt.datetime(2024, 1, 1)),
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t = spark.createDataFrame(rows, schema)
    gdf = spark.createDataFrame(
        [("Student", "ent:student", "PER")],
        "surface string, entity_id string, entity_type string",
    )
    out = {r["turn_idx"]: r for r in detect_mentions_join(t, gdf).collect()}
    assert out[0]["tokens"] == ["no", "entities", "here"]
    assert out[0]["mentions"] == []
    assert [m["entity_id"] for m in out[1]["mentions"]] == ["ent:student"]


def test_mention_detection_variants_agree_at_corpus_scale(spark):
    """The literal-map and broadcast-join mention detectors must emit
    identical mention sets over the synthetic corpus (same gazetteer, no
    ambiguous surfaces) — the documented interchangeability contract."""
    from relex_spark.operators.candidates import (
        detect_mentions,
        detect_mentions_join,
    )
    from relex_spark.sources.transcripts import (
        fixture_gazetteer_rows,
        gazetteer_df,
        synthesize_transcripts,
    )

    t = synthesize_transcripts(spark, n_convs=50).cache()
    rows = fixture_gazetteer_rows()
    max_n = max(len(s.split(" ")) for s, _, _ in rows)

    def canon(df):
        out = {}
        for r in df.collect():
            ms = tuple(
                (m["start"], m["end"], m["surface"], m["entity_id"], m["entity_type"])
                for m in r["mentions"]
            )
            out[(r["conv_id"], r["turn_idx"])] = ms
        return out

    a = canon(detect_mentions(t, rows, keep_text=False))
    b = canon(detect_mentions_join(t, gazetteer_df(spark), max_phrase_len=max_n))
    assert a == b and any(v for v in a.values())


def test_merge_rollups_is_associative_and_order_insensitive(spark):
    """Monoid property behind incremental materialization: merging slices
    in any grouping/order equals the single-pass rollup — (A+B)+C, A+(B+C),
    and (C+A)+B all agree."""
    from pyspark.sql import functions as F

    from relex_spark.operators.incremental import merge_rollups

    df = spark.createDataFrame(
        [(f"k{i % 3}", i, float(i * 7 % 11)) for i in range(30)],
        ["k", "seq", "v"],
    )

    def rollup(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").alias("v"),
            F.min("seq").alias("lo"),
            F.max("seq").alias("hi"),
        )

    a = rollup(df.where(F.col("seq") < 10))
    b = rollup(df.where((F.col("seq") >= 10) & (F.col("seq") < 20)))
    c = rollup(df.where(F.col("seq") >= 20))
    m = lambda x, y: merge_rollups(
        x, y, keys=("k",), sum_cols=("n", "v"), min_cols=("lo",), max_cols=("hi",)
    )

    def canon(d):
        return sorted(
            (r["k"], r["n"], round(r["v"], 9), r["lo"], r["hi"]) for r in d.collect()
        )

    want = canon(rollup(df))
    assert canon(m(m(a, b), c)) == want
    assert canon(m(a, m(b, c))) == want
    assert canon(m(m(c, a), b)) == want
