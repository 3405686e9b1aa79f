"""Streaming stateful operators (reference SURVEY §2.3 on Structured
Streaming), all on the keyed kernel `stateful_op.stateful_op_stream`.

- stateful_map -> the kernel without timers, one state object per key
  (reference operators/stateful_map.rs:60-110). State lives in the
  RocksDB state store (spills, unlike the reference's in-memory
  IndexMap) and is checkpoint-persisted per microbatch — the
  reference's ABS snapshot (SURVEY §3.3) as engine config.
- running_totals_stream -> stateful_map over a fixed number of KEY
  GROUPS (Flink's keyed-state layout), one state object per group
  holding all of the group's keys, so the Python and state-store
  overhead is paid once per touched group per microbatch, not once
  per key.
- ttl_map_event_stream -> the kernel with an event-time timer per key,
  matching the epoch-driven eviction of ttl_map.rs:72-83.

The user contract mirrors the reference's `StatefulLogic`:
`fn(key, value_batch, state) -> (rows_out, new_state | None)` with
state=None dropping the key (stateful_map.rs:74-77).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .stateful_op import stateful_op_stream


# zone ids whose wall clock equals UTC at every instant — a session
# set to any of these produces bit-identical timestamps to "UTC"
_UTC_ALIASES = {
    "UTC", "Etc/UTC", "GMT", "Etc/GMT", "GMT0", "Etc/GMT0", "Etc/GMT+0",
    "Etc/GMT-0", "UCT", "Etc/UCT", "Universal", "Etc/Universal", "Zulu",
    "Etc/Zulu", "Z", "+00:00", "UTC+00:00", "GMT+00:00",
}


def require_utc_session(sdf: DataFrame, op: str) -> None:
    """The pandas-side twins round-trip event time through naive
    pd.Timestamp values, which Spark reinterprets in the SESSION time
    zone on Arrow conversion — exact batch parity therefore requires a
    UTC session time zone (build_session pins it). Fail loudly at
    operator construction instead of silently shifting every emitted
    timestamp by the tz offset in a non-UTC session."""
    tz = sdf.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz not in _UTC_ALIASES:
        raise ValueError(
            f"{op} requires a UTC spark.sql.session.timeZone for exact "
            f"batch/stream timestamp parity (session has {tz!r}); set "
            'spark.conf.set("spark.sql.session.timeZone", "UTC")'
        )


def stateful_map_stream(
    sdf: DataFrame,
    key_cols: list[str],
    fn: Callable,
    output_schema,
    state_schema,
) -> DataFrame:
    """Keyed stateful transform over a streaming DataFrame.

    `fn(key: tuple, pdfs: iter[pd.DataFrame], state_tuple | None)
    -> (iter[pd.DataFrame], new_state_tuple | None)` — a batched form
    of the reference's per-record closure; batching is where the
    ~100x over row-at-a-time comes from (Arrow transfer).
    """

    def on_data(key, pdfs, state, _timer_values):
        outs, new_state = fn(key, pdfs, state)
        return outs, new_state, []

    return stateful_op_stream(sdf, key_cols, on_data, None, output_schema, state_schema)


# Key groups of running_totals_stream. A key's group is
# pmod(xxhash64(key), KEY_GROUPS), so this number is part of the
# checkpoint's meaning, like Flink's max-parallelism: it is a constant,
# not read from the session, so a restart under another
# spark.sql.shuffle.partitions routes every key to the group that holds
# its state. 128 gives 4 groups per state partition at 32 partitions;
# each group costs one Python call per microbatch, so it stays small.
KEY_GROUPS = 128
# null keys fold in a group of their own: every other group's key
# column then arrives null-free, as exact int64 (Arrow -> pandas turns
# an int64 column holding a null into float64)
_NULL_KEY_GROUP = -1
# state blob rows: sorted keys, event counts, value cents, non-null values
_STATE_ROWS = 4
_BLOB_DTYPE = "<i8"


def running_totals_stream(
    sdf: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running (count, sum) — the streaming twin of the batch
    running-sum parity query (reference stateful_map.rs:126-156).
    Emits one row per touched key per microbatch with totals-so-far:
    `{key_col} long, n_events long, total_value double`.

    Rows are routed to one of KEY_GROUPS key groups by
    pmod(xxhash64(key), KEY_GROUPS); null keys go to a group of their
    own. Each group keeps ONE state value, a binary blob of
    little-endian int64 rows — the group's keys sorted, then per key
    the event count, the value sum in integer cents and the number of
    non-null values — and folds each microbatch into it with one
    vectorized numpy pass. KEY_GROUPS is a module constant, never
    session conf, so a checkpoint restarted under another
    shuffle.partitions finds every key in the group that holds it.

    Semantics match SQL `COUNT(*)` and `SUM(CAST(value AS DECIMAL))`:
    a null value counts as an event but adds nothing, and a key whose
    values are all null has a NULL total. Summing cents is exact at
    any key cardinality × magnitude, so the emitted double is the
    nearest double to the exact decimal total — bit-identical to a
    DECIMAL-summing SQL oracle's final DOUBLE cast."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    # a closure, not a module-level helper: it is pickled by value, so
    # Python workers need not import this package
    def totals(group, pdfs, state):
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        null_keys = group[0] == _NULL_KEY_GROUP
        keys = np.zeros(len(pdf), np.int64) if null_keys else pdf[key_col].to_numpy(np.int64)
        values = pdf[value_col].to_numpy(np.float64, na_value=np.nan)
        valued = ~np.isnan(values)
        cents = np.where(valued, np.round(values * 100), 0).astype(np.int64)

        # per touched key: (events, cents, non-null values) of this batch
        order = np.argsort(keys, kind="stable")
        sorted_keys = keys[order]
        starts = np.flatnonzero(np.r_[True, sorted_keys[1:] != sorted_keys[:-1]])
        touched = sorted_keys[starts]
        batch = np.stack([
            np.diff(np.r_[starts, len(keys)]),
            np.add.reduceat(cents[order], starts),
            np.add.reduceat(valued[order].astype(np.int64), starts),
        ])

        # merge into the group's sorted state
        if state:
            old = np.frombuffer(state[0], _BLOB_DTYPE).reshape(_STATE_ROWS, -1)
        else:
            old = np.empty((_STATE_ROWS, 0), np.int64)
        merged_keys = np.union1d(old[0], touched)
        merged = np.zeros((_STATE_ROWS, len(merged_keys)), np.int64)
        merged[0] = merged_keys
        merged[1:, np.searchsorted(merged_keys, old[0])] = old[1:]
        at = np.searchsorted(merged_keys, touched)
        merged[1:, at] += batch

        n, total_cents, n_valued = merged[1:, at]
        out = pd.DataFrame({
            key_col: pd.array([None], dtype="Int64") if null_keys else touched,
            "n_events": n,
            # NaN goes to Spark as NULL: the SUM of no non-null values
            "total_value": np.where(n_valued > 0, total_cents / 100.0, np.nan),
        })
        return [out], (merged.astype(_BLOB_DTYPE, copy=False).tobytes(),)

    key_group = (
        F.when(F.col(key_col).isNull(), F.lit(_NULL_KEY_GROUP))
        .otherwise(F.pmod(F.xxhash64(key_col), F.lit(KEY_GROUPS)))
        .alias("_key_group")
    )
    return stateful_map_stream(
        sdf.select(key_group, key_col, value_col),
        ["_key_group"],
        totals,
        output_schema=f"{key_col} long, n_events long, total_value double",
        state_schema="blob binary",
    )


def ttl_map_event_stream(
    sdf: DataFrame,
    key_cols: list[str],
    fn: Callable,
    output_schema,
    state_schema,
    ttl_ms: int,
) -> DataFrame:
    """stateful_map with EVENT-time state TTL (reference
    ttl_map.rs:16-100): keys whose last-seen event time trails the
    watermark by ttl_ms are evicted when the watermark passes
    (epoch-driven expiry like batch-oriented TTL eviction on epoch
    arrival). Same user contract: fn(key, pdfs, state) -> (rows_out,
    new_state). Requires withWatermark upstream: the event time is the
    watermarked column, and a late in-watermark record never moves a
    key's last-seen time, so never its eviction, backwards."""
    import pandas as pd

    ts_col = next(
        (f.name for f in sdf.schema.fields if "spark.watermarkDelayMs" in f.metadata),
        None,
    )
    if ts_col is None:
        raise ValueError("ttl_map_event_stream needs a watermarked input")

    def on_data(key, pdfs, state, _timers):
        inner, last_ms = state if state else (None, 0)
        batches = list(pdfs)
        for pdf in batches:
            m = pdf[ts_col].max()
            if not pd.isna(m):
                last_ms = max(last_ms, int(m.value // 1_000_000))
        outs, new_inner = fn(key, iter(batches), inner)
        if new_inner is None:
            return outs, None, []
        return outs, (new_inner, last_ms), [last_ms + ttl_ms]

    def on_timer(key, fired_at_ms, state):
        return [], None, []  # expiry: drop the key's state silently

    return stateful_op_stream(
        sdf, key_cols, on_data, on_timer, output_schema,
        f"inner struct<{state_schema}>, last_ms bigint",
    )
