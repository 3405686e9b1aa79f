"""Incremental aggregate maintenance — fold a day's delta batch into
a persisted aggregate state WITHOUT rescanning history: the
materialized-view-maintenance primitive (count/sum/min/max and
anything else expressible as a commutative monoid merge), the batch
cousin of the engine's streaming state store (streaming keeps the
state in RocksDB; this keeps it in a parquet table the next run
reads back). Companion to functions/dedup.py's incremental dedup
(r7): same design point — daily cost scales with the BATCH, the
history is read pre-aggregated and never rescanned.

Semantics: `aggregate_state` turns rows into per-key monoid state;
`merge_states` folds any number of state tables (yesterday's state +
today's delta state, or 365 daily states) by key; `finalize_state`
derives the presentation columns (avg = sum/count) that must NOT be
stored (averages don't merge; sums and counts do).

Supported measures per value column: n (count of non-nulls), sum
(DECIMAL-exact for doubles via the caller's cast), min, max. Count
of all rows rides along as `n_rows`.

100 TB shape: the delta aggregation is one combinable groupBy over
the BATCH; the merge is one groupBy over (state ∪ delta-state) —
both sides already one-row-per-key, so the merge shuffle is
keys-sized, not data-sized. History data is never read again, only
its (small) state table. This is exactly how a year-long metrics
rollup stays O(day) per day instead of O(year).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_state(
    df: DataFrame, keys: Sequence[str], values: Sequence[str]
) -> DataFrame:
    """Per-key monoid state for each value column. Doubles should be
    pre-cast to DECIMAL by the caller if exact (order-free) sums are
    required — the state keeps whatever sum type it is given."""
    keys, values = list(keys), list(values)
    if not values:
        raise ValueError("aggregate_state needs at least one value column")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for v in values:
        aggs += [
            F.count(F.col(v)).cast("long").alias(f"{v}_n"),
            F.sum(F.col(v)).alias(f"{v}_sum"),
            F.min(F.col(v)).alias(f"{v}_min"),
            F.max(F.col(v)).alias(f"{v}_max"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def merge_states(
    keys: Sequence[str], values: Sequence[str], *states: DataFrame
) -> DataFrame:
    """Fold state tables (same schema) by key: counts and sums add,
    min/max combine. Each input is one row per key, so the shuffle is
    keys-sized however much data the states summarize."""
    keys, values = list(keys), list(values)
    if not states:
        raise ValueError("merge_states needs at least one state table")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    aggs = [F.sum("n_rows").cast("long").alias("n_rows")]
    for v in values:
        aggs += [
            F.sum(f"{v}_n").cast("long").alias(f"{v}_n"),
            F.sum(f"{v}_sum").alias(f"{v}_sum"),
            F.min(f"{v}_min").alias(f"{v}_min"),
            F.max(f"{v}_max").alias(f"{v}_max"),
        ]
    return u.groupBy(*keys).agg(*aggs)


def finalize_state(
    state: DataFrame, values: Sequence[str], round_avg: int = 6
) -> DataFrame:
    """Presentation view: adds `<v>_avg` (sum/n, floor-quantized —
    division is the one non-mergeable step, so it happens LAST, never
    in the stored state). Null-safe: avg is NULL where n == 0.

    Quantization is FLOOR(x*10^n)/10^n, NOT round(): ROUND-on-double
    is not engine-portable once the value's ulp nears the rounding
    grid (Spark HALF_UP vs DuckDB float rounding flipped last digits
    at ~1.7e7 in stats.grouped_ols — same discipline here)."""
    q = float(10**round_avg)
    out = state
    for v in values:
        avg = F.when(
            F.col(f"{v}_n") > 0,
            F.floor(F.col(f"{v}_sum").cast("double") / F.col(f"{v}_n") * q) / q,
        )
        out = out.withColumn(f"{v}_avg", avg)
    return out
