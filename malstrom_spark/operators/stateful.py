"""Stateful operators, batch semantics (reference SURVEY §2.3).

- stateful_map -> reference operators/stateful_map.rs:60-110
- stateful_op  -> reference operators/stateful_op.rs:14-103
- ttl_map      -> reference operators/ttl_map.rs:16-100

The reference folds a user closure over per-key state, record by
record, in arrival order. In batch Spark the same semantics are
"per key, ordered by an explicit order column". Two tiers:

1. `running_agg` — the FAST path: per-key running folds expressed as
   native window functions (sum/count/min/max/avg/lag/...). Stays
   entirely JVM-side inside whole-stage codegen. Use whenever the fold
   is an algebraic aggregate.
2. `stateful_map` — the GENERAL path: arbitrary Python fold via
   `applyInPandas`. One Arrow batch per key group, rows pre-sorted.
   ~100x slower than tier 1; exists for parity with the reference's
   arbitrary-closure semantics.

Streaming versions live in `malstrom_spark.streaming.stateful`, on the
keyed kernel `malstrom_spark.streaming.stateful_op.stateful_op_stream`.

Scale notes: both tiers shuffle once on the key. Tier 1 additionally
gets partial aggregation where the frame allows. Skewed keys: tier 2
materializes a whole key group in one task — acceptable for bounded
per-key cardinality, otherwise pre-split with salting.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def running_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    aggs: Mapping[str, Column],
) -> DataFrame:
    """Per-key running aggregates in arrival order — the vectorized
    equivalent of the reference's running-sum stateful_map test
    (stateful_map.rs:126-156).

    `aggs` maps output name -> aggregate Column (e.g. F.sum("v")); each
    is evaluated over rows UNBOUNDED PRECEDING..CURRENT per key.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumns({name: agg.over(w) for name, agg in aggs.items()})


def stateful_map(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    fn: Callable,
    schema,
    init_state: Callable[[], object] = lambda: None,
) -> DataFrame:
    """Arbitrary per-key fold (stateful_map.rs:60-110).

    `fn(key: tuple, row: dict, state) -> (out: dict | None, state | None)`
    is called once per record in `order_cols` order within each key;
    returning state=None drops the key's state (reference semantics:
    `None` evicts, stateful_map.rs:74-77). out=None emits nothing for
    that record (filter_map-like).

    `schema` is the output schema (DDL string or StructType) — it must
    include any key columns you want in the output.
    """
    order_list = list(order_cols)

    def apply_group(key, pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_list, kind="mergesort")
        state = init_state()
        outs = []
        for row in pdf.to_dict("records"):
            out, state = fn(key, row, state)
            if out is not None:
                outs.append(out)
        if not outs:
            return pd.DataFrame(columns=_schema_names(schema))
        return pd.DataFrame(outs)

    return df.groupBy(*key_cols).applyInPandas(apply_group, schema=schema)


def ttl_map(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    ts_col: str,
    ttl,
    fn: Callable,
    schema,
):
    """stateful_map whose state entries expire `ttl` after insertion
    (ttl_map.rs:16-100, eviction :72-83).

    State is a dict {sub_key: (expiry_ts, value)}; before every call,
    entries with expiry <= current record's ts are evicted — batch
    equivalent of the reference's epoch-driven `ExpireMap::expire`.
    `fn(key, row, live_state: dict) -> (out, new_entries: dict | None)`
    where new_entries values are (expiry_ts, value) pairs to upsert.
    """

    def folded(key, row, state):
        state = state or {}
        now = row[ts_col]
        live = {k: v for k, v in state.items() if v[0] > now}
        out, new_entries = fn(key, row, live)
        if new_entries is None:
            return out, None
        live.update(new_entries)
        return out, live

    return stateful_map(df, key_cols, order_cols, folded, schema)


def _schema_names(schema) -> list[str]:
    if isinstance(schema, str):
        return [part.strip().split()[0] for part in schema.split(",")]
    return [f.name for f in schema.fields]
