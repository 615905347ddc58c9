"""Mention detection + candidate entity-pair generation.

The reference consumes pre-annotated entity spans
(semeval2010_task8.py:71-76); the transcript pipeline must *find* them. Two
physical strategies, same semantics:

* ``detect_mentions`` — zero-shuffle: the gazetteer rows become
  ``local_map`` literals (gazetteers are dim-sized by definition) and
  mention extraction/overlap-resolution/pairing are per-row higher-order
  functions inside whole-stage codegen. Preferred ≤ ~10k surfaces.
* ``detect_mentions_join`` — explode token n-grams and broadcast-hash-join
  against the gazetteer DataFrame, then group back by (conv_id, turn_idx).
  One shuffle, scales to arbitrarily large gazetteers; the join side is
  explicitly ``F.broadcast``.

Semantics:
* n-grams up to the longest gazetteer phrase, exact surface match.
* Overlap resolution: a mention strictly contained in a longer mention is
  dropped (longest-match-wins, the standard gazetteer convention).
* Pairs: mentions sorted by start; ordered pairs (earlier=head,
  later=tail) with non-overlapping spans — mirroring SemEval's (e1, e2)
  positional convention — capped at ``max_pairs`` per turn to bound blowup
  on pathological turns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from relex_spark.functions.text import split_ws
from relex_spark.sources.localdim import local_map

MENTION_STRUCT = "struct<start:int,end:int,surface:string,entity_id:string,entity_type:string>"


def _ngram_candidates(
    tokens: Column, max_n: int, start_gate: Column | None = None
) -> Column:
    """All (start, end, surface) n-grams with n in 1..max_n — one flat array.

    ``start_gate`` (a map whose keys are tokens that can begin a gazetteer
    phrase) prunes positions BEFORE any surface string is built: n-gram
    construction is the mention stage's memory-bandwidth hot spot (it
    allocates ~n·|tokens| strings per turn), and in real corpora almost no
    position starts a gazetteer phrase, so gating removes ~all of that
    allocation while leaving semantics identical (a phrase match must match
    its first token).
    """

    def gram_of(n: int):
        # single-parameter lambda: pyspark dispatches two-parameter lambdas
        # as (element, index), so n must be closed over, not defaulted.
        return lambda i: F.struct(
            i.cast("int").alias("start"),
            (i + n - 1).cast("int").alias("end"),
            F.array_join(F.slice(tokens, i + 1, n), " ").alias("surface"),
        )

    def positions(n: int) -> Column:
        idxs = F.sequence(F.lit(0), F.size(tokens) - n)
        if start_gate is not None:
            idxs = F.filter(idxs, lambda i: start_gate[tokens[i]].isNotNull())
        return idxs

    per_n = [
        F.when(
            F.size(tokens) >= n,
            F.transform(positions(n), gram_of(n)),
        ).otherwise(F.array().cast("array<struct<start:int,end:int,surface:string>>"))
        for n in range(1, max_n + 1)
    ]
    return F.flatten(F.array(*per_n))


def _drop_contained(mentions: Column) -> Column:
    """Longest-match-wins: drop mentions strictly contained in a longer one."""
    return F.filter(
        mentions,
        lambda m: ~F.exists(
            mentions,
            lambda o: (
                ((o["end"] - o["start"]) > (m["end"] - m["start"]))
                & (o["start"] <= m["start"])
                & (o["end"] >= m["end"])
            ),
        ),
    )


def with_tokens(transcripts: DataFrame) -> DataFrame:
    return transcripts.withColumn("tokens", split_ws("text"))


def detect_mentions(
    transcripts: DataFrame,
    gazetteer_rows: list[tuple[str, str, str]],
    keep_text: bool = True,
) -> DataFrame:
    """Zero-shuffle mention detection via literal gazetteer maps.

    Output: transcript columns + ``tokens`` + ``mentions`` (sorted array of
    MENTION_STRUCT).
    """
    if not gazetteer_rows:
        raise ValueError("empty gazetteer")
    surfaces = [s for s, _, _ in gazetteer_rows]
    if len(surfaces) != len(set(surfaces)):
        # a literal map cannot represent two entities per surface, and
        # Spark's default mapKeyDedupPolicy=EXCEPTION would kill the job at
        # the first evaluated row — fail at build time with the remedy
        dupes = sorted({s for s in surfaces if surfaces.count(s) > 1})
        raise ValueError(
            f"duplicate gazetteer surfaces {dupes[:5]}: ambiguous-surface "
            "gazetteers need detect_mentions_join (emits every entity per "
            "surface)"
        )
    max_n = max(len(s.split(" ")) for s, _, _ in gazetteer_rows)

    id_map = local_map({s: eid for s, eid, _ in gazetteer_rows}, "string", "string")
    ty_map = local_map({s: ty for s, _, ty in gazetteer_rows}, "string", "string")
    starts = sorted({s.split(" ")[0] for s in surfaces})
    start_gate = local_map(dict.fromkeys(starts, True), "string", "boolean")

    df = with_tokens(transcripts)
    grams = _ngram_candidates(F.col("tokens"), max_n, start_gate=start_gate)
    hits = F.filter(grams, lambda g: id_map[g["surface"]].isNotNull())
    raw = F.transform(
        hits,
        lambda g: F.struct(
            g["start"].alias("start"),
            g["end"].alias("end"),
            g["surface"].alias("surface"),
            id_map[g["surface"]].alias("entity_id"),
            ty_map[g["surface"]].alias("entity_type"),
        ),
    )
    # Two projections on purpose: _drop_contained references its input
    # twice (filter source + exists inside the filter's lambda). Built as
    # one expression, the exists re-evaluates the ENTIRE n-gram pipeline
    # per mention element (lambda bodies are excluded from codegen CSE).
    # A multi-referenced non-cheap alias blocks CollapseProject, so the raw
    # mention array materializes once per row and drop-contained reads it.
    out = df.withColumn("__raw_mentions", raw).withColumn(
        "mentions", F.array_sort(_drop_contained(F.col("__raw_mentions")))
    ).drop("__raw_mentions")
    return out if keep_text else out.drop("text")


def detect_mentions_join(
    transcripts: DataFrame, gazetteer: DataFrame, max_phrase_len: int = 3
) -> DataFrame:
    """Broadcast-join mention detection for large gazetteers.

    Explodes n-grams (row count ≈ max_phrase_len × token count — the join's
    build side is broadcast so no shuffle happens until the group-back,
    which is keyed by the natural (conv_id, turn_idx) partitioning).
    """
    df = with_tokens(transcripts)
    grams = df.select(
        "conv_id",
        "turn_idx",
        "tokens",
        F.explode(_ngram_candidates(F.col("tokens"), max_phrase_len)).alias("g"),
    )
    hits = grams.join(F.broadcast(gazetteer), grams["g.surface"] == gazetteer["surface"])
    mentions = (
        hits.groupBy("conv_id", "turn_idx")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("g.start").alias("start"),
                        F.col("g.end").alias("end"),
                        F.col("g.surface").alias("surface"),
                        F.col("entity_id"),
                        F.col("entity_type"),
                    )
                )
            ).alias("mentions"),
        )
        .withColumn("mentions", _drop_contained(F.col("mentions")))
    )
    # keep df's own tokens column (NOT an aggregate-side copy): a turn with
    # no gazetteer hit has no mentions row, and the left join must still
    # carry real tokens for it — only the mentions array gets the [] repair
    return df.join(mentions, ["conv_id", "turn_idx"], "left").withColumn(
        "mentions", F.coalesce(F.col("mentions"), F.array().cast(f"array<{MENTION_STRUCT}>"))
    )


def generate_candidate_pairs(
    mentions_df: DataFrame, max_pairs: int = 10
) -> DataFrame:
    """Explode mention pairs into relation-classification candidates.

    Output schema (engine-wide candidate row + provenance):
        conv_id, turn_idx, id, tokens,
        head_start, head_end, tail_start, tail_end,
        subj, obj, head_type, tail_type
    """
    ms = F.col("mentions")
    idxs = F.sequence(F.lit(0), F.size(ms) - 1)
    pairs = F.flatten(
        F.transform(
            idxs,
            lambda i: F.filter(
                F.transform(
                    idxs,
                    lambda j: F.when(
                        (j > i) & (ms[j]["start"] > ms[i]["end"]),
                        F.struct(ms[i].alias("head"), ms[j].alias("tail")),
                    ),
                ),
                lambda p: p.isNotNull(),
            ),
        )
    )
    pair_type = f"array<struct<head:{MENTION_STRUCT},tail:{MENTION_STRUCT}>>"
    # size guard lives INSIDE the expression (sequence(0,-1) descends and
    # ms[0] traps on empty arrays under ANSI); it references the
    # materialized mentions column, so — unlike a WHERE, which predicate-
    # pushdown inlines below the mention projection, doubling that stage —
    # mention detection still runs exactly once per row.
    pairs = F.when(
        F.size(ms) >= 2, F.slice(pairs, 1, max_pairs)
    ).otherwise(F.array().cast(pair_type))

    # posexplode supplies the per-turn pair counter — no window, no shuffle.
    # NO pre-filter on size(mentions): posexplode of an empty pair array
    # already emits nothing, and a WHERE here gets predicate-pushed BELOW
    # the mentions projection, inlining the whole n-gram/mention expression
    # into the Filter — Catalyst then evaluates mention detection twice per
    # row (measured ~2× the stage cost in .explain("formatted")).
    exploded = mentions_df.select(
        "*", F.posexplode(pairs).alias("pair_no", "pair")
    )
    return exploded.select(
        "conv_id",
        "turn_idx",
        F.concat_ws(":", "conv_id", "turn_idx", F.col("pair_no") + 1).alias("id"),
        "tokens",
        F.col("pair.head.start").alias("head_start"),
        F.col("pair.head.end").alias("head_end"),
        F.col("pair.tail.start").alias("tail_start"),
        F.col("pair.tail.end").alias("tail_end"),
        F.col("pair.head.entity_id").alias("subj"),
        F.col("pair.tail.entity_id").alias("obj"),
        F.col("pair.head.entity_type").alias("head_type"),
        F.col("pair.tail.entity_type").alias("tail_type"),
    )
