"""Phrase-mining goldens: the padded double-replace must merge exactly the
greedy left-to-right occurrence set, including adjacent runs where a naive
single replace misses every other occurrence (its leading space is
consumed by the previous match)."""

from pyspark.sql import functions as F

from relex_spark.operators.phrases import learn_phrases, merge_pair_in_text


def test_double_replace_merges_adjacent_runs(spark):
    rows = [
        (1, "a b a b a b"),       # 3 adjacent merges — single replace gets 2
        (2, "x a b y a b"),       # separated occurrences
        (3, "a b b a"),           # only the first two merge
        (4, "a a a"),             # pair (a,a): greedy merges positions 1-2
        (5, "solo"),
    ]
    df = spark.createDataFrame(rows, ["i", "text"])
    out = {
        r["i"]: r["m"]
        for r in df.select(
            "i", merge_pair_in_text(F.col("text"), "a b").alias("m")
        ).collect()
    }
    assert out[1] == "a_b a_b a_b"
    assert out[2] == "x a_b y a_b"
    assert out[3] == "a_b b a"
    assert out[4] == "a a a"      # pair is 'a b', untouched
    assert out[5] == "solo"

    out_aa = {
        r["i"]: r["m"]
        for r in df.select(
            "i", merge_pair_in_text(F.col("text"), "a a").alias("m")
        ).collect()
    }
    assert out_aa[4] == "a_a a"   # greedy: merge 1-2, token 3 left alone


def test_learn_phrases_order_and_rewrite_feedback(spark):
    """Merges are learned against the REWRITTEN corpus: after 'a b' wins
    round 1, round 2 counts bigrams over 'a_b'-merged text (so 'a_b c' can
    win), and ties break lexicographically."""
    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(4)] + [(9, "a b x")],
        ["doc_id", "text"],
    )
    merges = learn_phrases(docs, n_merges=3)
    assert [(m["rank"], m["pair"], m["n"]) for m in merges] == [
        (1, "a b", 5),            # most frequent
        (2, "a_b c", 4),          # counted over the rewritten corpus
        (3, "a_b_c d", 4),
    ]


def test_learn_phrases_batch_size_equals_sequential_on_disjoint_pairs(spark):
    """When the frequency top list is mutually token-disjoint, one batched
    pass must produce the IDENTICAL (rank, pair, n) sequence as the
    one-merge-per-pass loop."""
    from relex_spark.operators.phrases import learn_phrases

    rows = []
    # six disjoint hot pairs with strictly decreasing counts
    pairs = [("aa", "bb"), ("cc", "dd"), ("ee", "ff"),
             ("gg", "hh"), ("ii", "jj"), ("kk", "ll")]
    for i, (a, b) in enumerate(pairs):
        for k in range(12 - i):
            rows.append((len(rows), f"x{len(rows)} {a} {b} y{len(rows)}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    seq = [(r["rank"], r["pair"], r["n"]) for r in learn_phrases(docs, n_merges=6)]
    bat = [
        (r["rank"], r["pair"], r["n"])
        for r in learn_phrases(docs, n_merges=6, batch_size=6)
    ]
    assert bat == seq
    assert len(bat) == 6


def test_learn_phrases_batch_size_defers_interacting_pairs(spark):
    """A pair sharing a token with an earlier acceptance must NOT merge in
    the same pass (its count would be stale) — it waits for the next pass
    and is recounted there."""
    from relex_spark.operators.phrases import learn_phrases

    rows = []
    for k in range(10):
        rows.append((k, f"p{k} aa bb q{k}"))
    for k in range(8):
        rows.append((100 + k, f"r{k} bb cc s{k}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    out = learn_phrases(docs, n_merges=2, batch_size=4)
    got = [(r["rank"], r["pair"]) for r in out]
    # 'aa bb' (10) accepted; 'bb cc' (8) shares 'bb' -> deferred to pass 2,
    # where 'bb cc' still exists with its rewritten-corpus count
    assert got[0] == (1, "aa bb")
    assert got[1][1] == "bb cc"
    assert out[1]["n"] == 8
