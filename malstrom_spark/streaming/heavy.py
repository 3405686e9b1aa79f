"""STREAMING heavy hitters — cross-microbatch Misra-Gries candidate
maintenance, the ingestion-side twin of `functions/corpus.py
heavy_hitters` and another instance of the reference's `stateful_op`
pattern (operators/stateful_op.rs:14-103: per-key managed state,
arbitrary logic per record, output as the stream flows).

Sharding: each item hashes to one of `n_shards` state keys, and a
shard owns EVERY occurrence of its items, so the per-shard MG bound
applies to the item's full stream count: each reduce step removes
>= (k+1)*d total weight against <= N_shard inserted, so a shard
undercounts any item by <= N_shard/(k+1) <= N/(k+1), hence any item
with total count > N/(k+1) is guaranteed alive in its shard's
counter set at every prefix of the stream (Misra & Gries 1982; merge
step per Agarwal et al., PODS 2012). Candidates are therefore a
provable superset of the phi-heavy items whenever k + 1 >= 1/phi —
the SAME bound (and proof sketch) as the batch operator
(functions/corpus.py heavy_hitters, which validates
k >= ceil(1/phi) and defaults to k = ceil(2/phi); pass the same
k here), maintained incrementally in the state store instead of
per-partition.

Read-off is two-step like the batch op: drain the stream, take each
shard's LAST summary (monotone `seq`), then recount the candidates
exactly against the stored corpus — the OUTPUT stays exact, sketch
internals never leak into the answer, and the oracle stays a plain
GROUP BY/HAVING.

Scale: state is n_shards * k (item, weight) pairs — constant in
stream length; per-batch work is one value_counts + dict fold per
shard. Emission is <= n_shards * k appended rows per microbatch.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitter_candidates_stream(
    sdf: DataFrame,
    item_col: str,
    k: int,
    n_shards: int = 16,
    item_type: str = "string",
) -> DataFrame:
    """(shard, seq, item, w) append stream: each shard's current
    Misra-Gries counter set, re-emitted whenever the shard sees data
    (`seq` increments per emission — filter to each shard's max seq
    for the final candidate set, `final_candidates`)."""
    from .stateful_op import stateful_op_stream

    shards = sdf.select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards)).cast("int").alias("shard"),
        F.col(item_col).alias("item"),
    ).where(F.col("item").isNotNull())

    def fold(key, pdfs, state, _timer_values):
        if state:
            items, weights, seq = state
            counters = dict(zip(items, weights))
        else:
            counters, seq = {}, 0
        for pdf in pdfs:
            vc = pdf["item"].value_counts()
            for it, c in vc.items():
                counters[it] = counters.get(it, 0) + int(c)
            if len(counters) > k:
                # mergeable-summaries reduce (same as the batch op)
                d = sorted(counters.values(), reverse=True)[k]
                counters = {i: w - d for i, w in counters.items() if w > d}
        seq += 1
        weights = [int(w) for w in counters.values()]
        out = pd.DataFrame(
            {"shard": key[0], "seq": seq, "item": list(counters), "w": weights}
        )
        return [out], (list(counters), weights, seq), []

    return stateful_op_stream(
        shards,
        ["shard"],
        fold,
        None,
        f"shard int, seq long, item {item_type}, w long",
        f"items array<{item_type}>, weights array<long>, seq long",
    )


def final_candidates(emitted: DataFrame) -> DataFrame:
    """Batch post-pass over the drained stream: each shard's
    last (max-seq) summary -> distinct candidate items."""
    from pyspark.sql import Window

    # window, not a groupBy self-join: joining a memory-sink table to
    # its own aggregate trips conflicting-attribute resolution (the
    # MemoryPlan view reuses expression ids on both sides); the shard
    # partitions are tiny (<= k rows per emission) so the window is
    # cheap
    w = Window.partitionBy("shard")
    return (
        emitted.withColumn("_mx", F.max("seq").over(w))
        .where(F.col("seq") == F.col("_mx"))
        .select("item")
        .distinct()
    )


def recount_exact(
    corpus: DataFrame, item_col: str, candidates: DataFrame, phi: float
) -> DataFrame:
    """Exact recount of the streamed candidate superset against the
    stored corpus — delegates to the batch operator's second pass
    (functions/corpus.py recount_heavy_hitters), so both operators
    produce byte-identical output from the same candidates."""
    from ..functions.corpus import recount_heavy_hitters

    return recount_heavy_hitters(corpus, item_col, candidates, phi)
