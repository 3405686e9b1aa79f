"""Watermark-finalized buffered fold: `stateful_map_ordered_stream`,
the one out-of-order keyed fold of the package. The disorder modes of
`funnel_stream` and `scd2_stream` call it with their fold.

Arrival-order folds (`stateful_map_stream`, the default mode of the
funnel and SCD2 operators) are exact only when event time never
regresses across microbatches. The reference's pattern for true
out-of-order streams is to buffer within the disorder horizon and
finalize on the watermark (`generate_epochs` closures emit epochs,
`on_epoch` fires when the frontier passes —
operators/time/generate_epochs.rs:39-127, stateful_op.rs:154-157).
This module is that pattern on Spark's stateful machinery:

- per key, incoming events are BUFFERED in state (parallel arrays,
  one per event column);
- whenever the watermark W passes buffered work — on a fired
  event-time timer, or directly in `on_data` when W already moved —
  every buffered event with ts < W is RIPE: folded, in event-time
  order, through the operator's fold function, which updates the
  user state (funnel chain / SCD2 open interval) and emits;
- events that arrive with ts < W are LATE beyond the horizon and are
  deterministically dropped (the engine may or may not pre-filter
  them; the operator does not depend on it). Users who need the
  reference's late SIDE-STREAM instead of a drop compose the
  existing machinery upstream: `streaming/eventtime.py` flag_late /
  split_late marks records against the tracked frontier before this
  operator, so the late branch can route to its own sink while the
  on-time branch feeds the fold;
- a single pending timer per key re-arms at the earliest remaining
  buffered event (the kernel holds one timer per key; a multi-timer
  engine would fire per-timer and re-arm through the same code path).

Correctness argument: Spark's watermark guarantees W is computed from
data already SEEN, and this operator folds strictly below W while
accepting new events only at-or-above W (late ones are dropped), so
folded prefixes are immutable and the fold sees every surviving event
exactly once, in global event-time order — a late-but-in-horizon
event lands in its correct chain position. With a horizon >= the
stream's true disorder nothing is dropped and the result equals the
batch operator exactly (tests/test_disorder.py replays shuffled
microbatch orders through OperatorTester and pins equality).

State size: the buffer holds only events inside the horizon — bounded
by rate x horizon per key, the same bound the reference's epoch
buffer carries; RocksDB-backed, so it spills rather than OOMs.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame


_INT_TYPES = {"bigint", "int", "smallint", "tinyint"}


def _buf_coercer(spark_type: str | None):
    """Arrow->pandas widens nullable ints to float64 (3 -> 3.0, null ->
    NaN) and nullable timestamps to NaT; stuffing those into an
    array<bigint>/array<timestamp> state field silently nulls REAL
    values. Coerce per the DECLARED Spark type: ints round-trip
    exactly through int(), every non-float NA becomes None; float
    columns pass through untouched (NaN is a legitimate double)."""
    import pandas as pd

    if spark_type in _INT_TYPES:
        return lambda v: None if pd.isna(v) else int(v)
    if spark_type in (None, "double", "float"):
        return None
    return lambda v: None if not isinstance(v, (list, tuple)) and pd.isna(v) else v


def make_disorder_handlers(
    ts_us_col: str,
    buf_names: Sequence[str],
    sort_cols: Sequence[str],
    n_inner: int,
    fold: Callable,
    buf_types: dict | None = None,
):
    """Build the (on_data, on_timer) pair implementing the buffered
    watermark-finalized fold — module-level factory so the property
    tests can drive the SAME handlers through the kernel's wrapper and
    a plain-Python multi-timer reference without Spark
    (tests/test_disorder.py pins the two output-identical on this
    logic the same way tests/test_engine_divergence.py pins the
    kernel)."""
    import numpy as np
    import pandas as pd

    coercers = {n: _buf_coercer((buf_types or {}).get(n)) for n in buf_names}
    # the ripe frame must NOT re-widen coerced ints back to float64
    # (pd.DataFrame infers float64 for [3, None]); non-float columns
    # are built as object series so real ints stay ints all the way
    # into the fold and its state packing
    ripe_dtype = {
        n: ("float64" if (buf_types or {}).get(n) in ("double", "float") else "object")
        for n in buf_names
    }

    def _unpack(state):
        if state is None:
            return None, {n: [] for n in buf_names}
        inner = tuple(state[:n_inner])
        if all(v is None for v in inner):
            inner = None
        bufs = {
            n: list(state[n_inner + i]) if state[n_inner + i] is not None else []
            for i, n in enumerate(buf_names)
        }
        return inner, bufs

    def _pack(inner, bufs):
        inner_part = tuple(inner) if inner is not None else (None,) * n_inner
        return inner_part + tuple(bufs[n] for n in buf_names)

    # position of the event-time buffer inside the packed state tuple,
    # for peeking ripeness without unpacking every column
    ts_slot = n_inner + list(buf_names).index(ts_us_col)

    def _advance(key, new_pdf, wm_ms, state):
        """Shared by on_data and on_timer: drop beyond-horizon lates,
        buffer the rest, fold everything strictly below the frontier."""
        wm_us = int(wm_ms) * 1000
        fresh = None
        if new_pdf is not None and len(new_pdf):
            fresh = new_pdf[new_pdf[ts_us_col].to_numpy(dtype="int64") >= wm_us]
            if not len(fresh):
                fresh = None
        if fresh is None and state is not None:
            # fast path: nothing new survived the late-drop and no
            # buffered event is ripe -> the fold state is unchanged;
            # skip the O(buffer x columns) unpack/repack and only
            # re-arm the timer (a fired timer consumed it)
            ts_buf = state[ts_slot]
            n_buf = 0 if ts_buf is None else len(ts_buf)
            if n_buf == 0:
                return [], state, []
            earliest = min(ts_buf)
            if earliest >= wm_us:
                return [], state, [max(earliest // 1000 + 1, int(wm_ms) + 1)]
        inner, bufs = _unpack(state)
        if fresh is not None:
            for n in buf_names:
                vals = fresh[n].tolist()
                if coercers[n] is not None:
                    vals = [coercers[n](v) for v in vals]
                bufs[n].extend(vals)
        outs = []
        if bufs[ts_us_col]:
            ts_arr = np.asarray(bufs[ts_us_col], dtype="int64")
            ripe_mask = ts_arr < wm_us
            if ripe_mask.any():
                ripe = pd.DataFrame(
                    {
                        n: pd.Series(
                            [v for v, r in zip(bufs[n], ripe_mask) if r],
                            dtype=ripe_dtype[n],
                        )
                        for n in buf_names
                    }
                ).sort_values(list(sort_cols), kind="mergesort", ignore_index=True)
                outs, inner = fold(key, ripe, inner)
                bufs = {
                    n: [v for v, r in zip(bufs[n], ripe_mask) if not r]
                    for n in buf_names
                }
        timers = []
        if bufs[ts_us_col]:
            # fire once the watermark passes the earliest buffered
            # event; clamp above the current watermark (the apws
            # engine rejects a timer at-or-below it)
            timers = [max(min(bufs[ts_us_col]) // 1000 + 1, int(wm_ms) + 1)]
        return list(outs), _pack(inner, bufs), timers

    def on_data(key, pdfs, state, timer_values):
        wm_ms = timer_values.getCurrentWatermarkInMs() if timer_values else 0
        new_pdf = pd.concat(list(pdfs), ignore_index=True)
        return _advance(key, new_pdf, wm_ms, state)

    def on_timer(key, fired_at_ms, state):
        # the kernel hands the current watermark, a multi-timer engine
        # the timer expiry — either way "the frontier passed this
        # point": fold below it and re-arm for the remainder
        return _advance(key, None, fired_at_ms, state)

    return on_data, on_timer


def stateful_map_ordered_stream(
    sdf: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    fn: Callable,
    output_schema,
    state_schema: str,
    disorder_horizon: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """`stateful_map` whose closure sees each key's records in
    EVENT-TIME order regardless of arrival order — the general form of
    the reference's event-time programming model (a `stateful_op`
    buffering records and folding them when the epoch closes;
    examples/event_time.rs:107-152 builds its monthly account balance
    exactly this way). The disorder modes of `funnel_stream` and
    `scd2_stream` are calls of it.

    `fn(key: tuple, pdf, state_tuple | None) -> (list[pd.DataFrame],
    new_state_tuple)` — pdf holds the key's newly-FINALIZED records
    (every column of `sdf` except the key columns), sorted by event
    time (+ `tiebreak` for deterministic ties), with `ts_col`
    reconstructed as datetime64; called only when the watermark passes
    records, so consecutive calls never hand it out-of-order work.
    Records later than `disorder_horizon` behind the watermark, and
    records with a null `ts_col`, are dropped deterministically.
    `state_schema` is a DDL string; state with every field None is
    indistinguishable from "no state yet" — keep at least one non-null
    field in any live state.

    The key's state store row is `state_schema`'s fields followed by
    one `__b_<col>` array per buffered column (`__e_us`, the event
    micros, then every data column)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from .stateful_op import stateful_op_stream

    key_cols = list(key_cols)
    wm = sdf.withWatermark(ts_col, disorder_horizon)
    data_cols = [c for c in sdf.columns if c not in key_cols and c != ts_col]
    # micros twin drives ripeness; the watermarked ts attribute rides
    # along for the event-time-timeout requirement (projected away by
    # the stateful operator's output schema)
    proj = wm.filter(F.col(ts_col).isNotNull()).select(
        *key_cols,
        F.unix_micros(F.col(ts_col)).alias("__e_us"),
        *data_cols,
        F.col(ts_col).alias("__wm_ts"),
    )
    buf_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    buf_cols = [("__e_us", "bigint")] + [(c, buf_types[c]) for c in data_cols]
    sort_cols = ["__e_us"] + ([tiebreak] if tiebreak else [])
    inner_fields = StructType.fromDDL(state_schema).fields
    state_ddl = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in inner_fields]
        + [f"`__b_{n}` array<{t}>" for n, t in buf_cols]
    )

    def fold(key, ripe, inner):
        import pandas as pd

        pdf = ripe.rename(columns={"__e_us": ts_col})
        pdf[ts_col] = pd.to_datetime(pdf[ts_col], unit="us")
        return fn(key, pdf, inner)

    on_data, on_timer = make_disorder_handlers(
        "__e_us", [n for n, _ in buf_cols], sort_cols, len(inner_fields), fold,
        buf_types=dict(buf_cols),
    )
    return stateful_op_stream(
        proj, key_cols, on_data, on_timer, output_schema, state_ddl
    )
