"""The batched relation-scoring stage (reference §2.5 B2 + §2.6 chain).

One ``mapInPandas`` over the candidate DataFrame: tokenize-once (token ids
resolved against the broadcast vocab inside the kernel — no extra shuffle),
pad per Arrow micro-batch, run the numpy forward pass, emit label + score.
This is the engine's only Python execution boundary on the hot path; there
are no per-row Python UDFs (north-rule requirement).

Reference analogue: ``batched_predict_instances``
(relex/models/model_utils.py:19-28) + ``Model.decode``
(relex/models/relation_classification/basic_relation_classifier.py:231-245),
with the driver-side batch loop replaced by partitioned Arrow batches.

Scale notes:
* Weights travel once per executor via ``sc.broadcast`` (S5 analogue).
* Arrow batch size (session.ARROW_BATCH_ROWS) bounds padded-tensor memory.
* ``sortWithinPartitions(size(tokens), xxhash64(features))`` upstream
  reduces padding waste (B1 bucket-iterator analogue) AND totally orders
  each partition, making forward-chunk composition — and with it the
  float accumulation order — deterministic across runs (see the inline
  comment at the sort site).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relex_spark.scoring.kernels import forward_batch
from relex_spark.scoring.weights import ModelWeights


# (weights object, broadcast) per (app id, weights identity): re-broadcasting
# identical weights every job is serial driver time (pickle + torrent write)
# that caps scaling efficiency. Holding the weights ref keeps id() stable.
_BC_CACHE: dict[tuple[str, int], tuple[ModelWeights, Broadcast]] = {}


def broadcast_weights(df_or_spark, weights: ModelWeights) -> Broadcast:
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    sc = spark.sparkContext
    key = (sc.applicationId, id(weights))
    hit = _BC_CACHE.get(key)
    if hit is not None:
        return hit[1]
    bc = sc.broadcast(weights)
    _BC_CACHE[key] = (weights, bc)
    return bc


def score_candidates(
    candidates: DataFrame,
    weights_bc: Broadcast,
    keep_columns: list[str] | None = None,
    encoder: str = "cnn",
    with_probs: bool = False,
    with_representation: bool = False,
) -> DataFrame:
    """Score (tokens, head, tail) candidates → append ``label``, ``score``.

    Required input columns: ``tokens ARRAY<STRING>``, ``head_start``,
    ``head_end``, ``tail_start``, ``tail_end`` (inclusive ints).
    ``keep_columns`` (default: all non-feature columns) pass through.

    Tokens (and namespace tag sequences) cross the Arrow boundary as
    strings and resolve to ids against the broadcast vocab inside the
    kernel; the lookup is a small share of a forward pass.
    """
    feature_cols = ["tokens", "head_start", "head_end", "tail_start", "tail_end"]
    if encoder in ("gcn", "gat"):
        feature_cols.append("adjacency")  # per-row edge lists (G1-G4 output)
    # M1 multi-namespace embeddings: weights built with namespaces (e.g.
    # ner/pos) pull the matching tag-sequence columns through the batch
    ns_names = sorted((weights_bc.value.extra.get("ns_emb") or {}).keys())
    feature_cols += ns_names
    if keep_columns is None:
        keep_columns = [c for c in candidates.columns if c not in feature_cols]

    in_df = candidates.select(*keep_columns, *feature_cols)
    # B1 bucket-iterator analogue: reduces padding waste, never changes
    # results (kernel outputs are batch-independent). Sorting isn't allowed
    # on streaming DataFrames — skipped there (only padding efficiency is
    # lost; semantics identical).
    #
    # The hash tiebreaker makes the within-partition order TOTAL: a
    # length-only sort leaves ties in shuffle-fetch order, which varies
    # run-to-run, so forward-chunk composition (and with it the last-ulp
    # float accumulation order inside the GEMMs) was nondeterministic —
    # enough to flip a micro-unit-quantized score sitting on a rounding
    # boundary between two runs of the same query (observed: golden-pinned
    # flagship values flapping ±1 u6 across sessions). Feature columns
    # identify the computation, so hashing them orders ties determin-
    # istically; a 64-bit collision merely leaves one tie unordered.
    if not candidates.isStreaming:
        in_df = in_df.sortWithinPartitions(
            F.size("tokens"),
            F.xxhash64(
                F.col("tokens"),
                F.col("head_start"),
                F.col("head_end"),
                F.col("tail_start"),
                F.col("tail_end"),
            ),
        )

    out_fields = [in_df.schema[c] for c in keep_columns]
    out_fields += [
        T.StructField("label", T.StringType()),
        T.StructField("score", T.FloatType()),
    ]
    if with_probs:
        out_fields.append(T.StructField("probs", T.ArrayType(T.FloatType())))
    if with_representation:
        # M19 representation tap (basic_relation_classifier.py:221) — the
        # probing/export surface (E8 consumes this keyed by id)
        out_fields.append(T.StructField("embedding", T.ArrayType(T.FloatType())))
    out_schema = T.StructType(out_fields)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w: ModelWeights = weights_bc.value
        labels = np.array(w.labels, dtype=object)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_list = [w.token_ids(list(toks)) for toks in pdf["tokens"]]
            ns_ids_list = (
                {
                    name: [w.ns_ids(name, list(tags)) for tags in pdf[name]]
                    for name in ns_names
                }
                if ns_names
                else None
            )
            head = pdf[["head_start", "head_end"]].to_numpy(dtype=np.int64)
            tail = pdf[["tail_start", "tail_end"]].to_numpy(dtype=np.int64)
            adjacency = (
                list(pdf["adjacency"]) if encoder in ("gcn", "gat") else None
            )
            res = forward_batch(
                w,
                ids_list,
                head,
                tail,
                encoder=encoder,
                adjacency=adjacency,
                return_enc=with_representation,
                ns_ids_list=ns_ids_list,
            )
            probs, argmax = res[0], res[1]
            out = pdf[keep_columns].copy()
            out["label"] = labels[argmax]
            out["score"] = probs.max(axis=-1).astype(np.float32)
            if with_probs:
                out["probs"] = [row.astype(np.float32) for row in probs]
            if with_representation:
                out["embedding"] = [row for row in res[2]]
            yield out

    return in_df.mapInPandas(score_batches, schema=out_schema)
