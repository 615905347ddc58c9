"""Corpus phrase mining (word2phrase / BPE-style merge loop): iteratively
find the most frequent adjacent token pair and merge it into one unit —
the first stage of tokenizer training, run as a driver-side loop of
aggregations (the same shape as connected_components / pagerank).

The merge REWRITE is a padded-string double-replace — pure SQL with
identical semantics in Spark and DuckDB, so the whole loop is
oracle-checkable:

    ' ' || text || ' '  →  replace(' a b ', ' a_b ')  twice

``replace`` substitutes non-overlapping occurrences left-to-right; an
occurrence immediately following a match loses its leading space to that
match and is skipped, but after pass one its left neighbour is a merged
token, so its leading space survives and pass two catches it — two passes
merge exactly the greedy left-to-right set (pinned by unit test on
adjacent-run inputs).

Scale shape per iteration: one bigram explode + count (map-side combined)
and one narrow rewrite; the top pairs are a small TakeOrdered collect.
Iterations are bounded (n_merges), and each rewritten frame is
localCheckpoint'd so lineage stays flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, functions as F

from relex_spark.functions.text import split_ws, word_bigrams


def merge_pair_in_text(text, pair: str):
    """Rewrite expression: merge every greedy left-to-right occurrence of
    the two-token ``pair`` ('a b') into 'a_b' inside a space-joined text."""
    merged = pair.replace(" ", "_")
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    once = F.replace(padded, F.lit(f" {pair} "), F.lit(f" {merged} "))
    twice = F.replace(once, F.lit(f" {pair} "), F.lit(f" {merged} "))
    return F.trim(twice)


def learn_phrases(
    docs: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
    min_count: int = 2,
    batch_size: int = 1,
) -> list[Row]:
    """Learn ``n_merges`` merges; returns [(rank, pair, n), ...] where rank
    is 1-based merge order, pair is 'a b', and n its count at merge time.
    Ties break lexicographically on the pair (deterministic). Stops early
    when no pair reaches ``min_count``.

    ``batch_size=1`` is the word2phrase loop: one merge per corpus pass.
    At tokenizer scale, ``batch_size>1`` merges up to that many
    TOKEN-DISJOINT pairs from the frequency top list per pass, so M merges
    cost O(M / batch_size) passes instead of O(M) — the driver loop stops
    dominating at the 10^3-10^4 merges a real tokenizer build needs.

    Token-disjointness is what makes the batch safe: merging 'a b' can only
    create/destroy bigrams that contain 'a', 'b', or the new token 'a_b',
    so the counts of pairs sharing no token with it are invariant — each
    accepted pair's published count is exactly its merge-time count, and
    when the top pairs are mutually disjoint the result is IDENTICAL to
    ``batch_size=1`` (pinned by test). Pairs that interact with an earlier
    acceptance are deferred to the next pass (where sequential order may
    differ from the one-at-a-time loop — the standard batched-merge
    trade-off, same as batched BPE trainers).
    """
    cur = docs.select(F.col(text_col).alias("text"))
    merges: list[Row] = []
    while len(merges) < n_merges:
        top = (
            cur.select(F.explode(word_bigrams(split_ws(F.col("text")))).alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= min_count)
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(max(batch_size * 4, 8))
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        accepted = []
        for r in top:
            toks = r["pair"].split(" ")
            if any(t in used for t in toks):
                continue
            accepted.append(r)
            used.update(toks)
            used.add(r["pair"].replace(" ", "_"))
            if (
                len(accepted) >= batch_size
                or len(merges) + len(accepted) >= n_merges
            ):
                break
        rewritten = F.col("text")
        for r in accepted:
            merges.append(
                Row(rank=len(merges) + 1, pair=r["pair"], n=r["n"])
            )
            rewritten = merge_pair_in_text(rewritten, r["pair"])
        cur = cur.select(rewritten.alias("text")).localCheckpoint(eager=False)
    return merges
