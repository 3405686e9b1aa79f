"""Streaming funnel — the stateful-streaming twin of
operators/funnel.py, built on the same applyInPandasWithState wrapper
as stateful_map (streaming/stateful.py; reference `StatefulLogic`
contract, operators/stateful_map.rs:60-110).

State per user = the K chain timestamps (epoch micros, null = prefix
not yet completed). Each microbatch applies the same min()-chaining
semantics as the batch operator, VECTORIZED per key: K numpy masked
mins over the batch's events instead of a Python row loop —
t_k = min ts among events matching step k with ts > t_{k-1} and
ts <= t_0 + within. Within one microbatch this is exactly the batch
fold (tests/test_funnel.py pin; the registry query's oracle is the
same min()-chained SQL as the batch query's).

Cross-microbatch contract (default mode): t_k only ever fills forward
(a set chain time is never revised), so results are exact when event
time does not regress across microbatches — the same arrival-order
contract the reference's stateful_map user logic lives under
(closures see arrival order; stateful_map.rs:74-77). With the bounded
availableNow replay (one batch) the output equals the batch operator
exactly. For true out-of-order streams pass ``disorder_horizon``: the
watermark-finalized mode (streaming/disorder.py, round 5) buffers
events within the horizon in state and folds them in event-time order
when the watermark passes — exact under ANY microbatch arrival order,
the reference's generate_epochs/on_epoch pattern
(operators/time/generate_epochs.rs:39-127, stateful_op.rs:154-157).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampType


_UNIT_US = {
    "microsecond": 1, "millisecond": 1_000, "second": 1_000_000,
    "minute": 60_000_000, "hour": 3_600_000_000, "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def _interval_micros(sdf: DataFrame, within: str) -> int:
    """'<n> <unit>' intervals resolve in Python (no job at plan
    construction); anything fancier falls back to one engine-side
    evaluation of the INTERVAL literal."""
    parts = within.strip().lower().split()
    if len(parts) == 2 and parts[1].rstrip("s") in _UNIT_US:
        try:
            return int(float(parts[0]) * _UNIT_US[parts[1].rstrip("s")])
        except ValueError:
            pass
    return (
        sdf.sparkSession.range(1)
        .select(
            F.unix_micros(
                F.lit(0).cast("timestamp") + F.expr(f"INTERVAL {within}")
            ).alias("us")
        )
        .collect()[0]
        .us
    )


def _advance_chain(t: list, pdf, k: int, within_us: int | None) -> list:
    """The vectorized min-chaining kernel, shared by the fill-forward
    and disorder-horizon modes: advance chain state `t` (k epoch-micros
    or None) over one batch of events (columns e_us, f0..f{k-1})."""
    e = pdf["e_us"].to_numpy(dtype="int64")
    for i in range(k):
        if t[i] is not None:
            continue  # chain times only fill forward
        mask = pdf[f"f{i}"].to_numpy(dtype=bool, na_value=False)
        if i > 0:
            if t[i - 1] is None:
                break  # no prefix -> later steps can't fill either
            mask &= e > t[i - 1]
            if within_us is not None:
                mask &= e <= t[0] + within_us
        if mask.any():
            t[i] = int(e[mask].min())
    return t


def funnel_stream(
    sdf: DataFrame,
    user: str,
    ts: str,
    steps: Sequence[tuple[str, Column]],
    within: str | None = None,
    disorder_horizon: str | None = None,
) -> DataFrame:
    """Per-user funnel chain times over a streaming DataFrame: emits
    (user, t_<step>...) with the chain-so-far after every microbatch
    that touched the user. steps/within as in funnel_times.

    ``disorder_horizon`` (an interval, e.g. '10 minutes') switches to
    the watermark-finalized mode (streaming/disorder.py): events
    buffer per user in state and fold into the chain only once the
    watermark passes them, so a late-but-in-horizon event lands in its
    correct chain position and the result matches the batch operator
    under ANY microbatch arrival order; beyond-horizon events are
    deterministically dropped. The default (None) keeps the
    fill-forward contract: exact while event time never regresses
    across microbatches.

    Watermark scope note: Catalyst pushes the step filter below the
    watermark node (the plan you want at scale — non-step events never
    shuffle), so the watermark advances on STEP-MATCHING events only.
    If non-step traffic must drive time forward (idle funnels closing
    on unrelated activity), widen a step predicate into a heartbeat or
    pre-aggregate a time signal upstream."""
    import pandas as pd

    from .stateful import require_utc_session, stateful_map_stream

    names = [n for n, _ in steps]
    if not names:
        raise ValueError("steps must be non-empty")
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate step names: {names}")
    require_utc_session(sdf, "funnel_stream")
    from ..operators.funnel import _check_within

    _check_within(within)
    k = len(steps)
    within_us = None if within is None else _interval_micros(sdf, within)

    if disorder_horizon is not None:
        sdf = sdf.withWatermark(ts, disorder_horizon)
    any_step = None
    for _, p in steps:
        any_step = p if any_step is None else (any_step | p)
    # null event times can't order in a chain; both twins drop them.
    # Disorder mode keeps the watermarked ts attribute alongside the
    # micros twin: the event-time-timeout check requires it to reach
    # the stateful operator.
    ev = sdf.filter(any_step & F.col(ts).isNotNull()).select(
        F.col(user).alias("u"),
        F.unix_micros(F.col(ts)).alias("e_us"),
        *[p.cast("boolean").alias(f"f{i}") for i, (_, p) in enumerate(steps)],
        *([F.col(ts).alias("__wm_ts")] if disorder_horizon is not None else []),
    )

    out_schema = StructType(
        [StructField("u", ev.schema["u"].dataType)]
        + [StructField(f"t_{n}", TimestampType()) for n in names]
    )

    def emit_row(key, t):
        row = {"u": key[0]}
        for i, n in enumerate(names):
            row[f"t_{n}"] = (
                pd.Timestamp(t[i], unit="us") if t[i] is not None else pd.NaT
            )
        return pd.DataFrame([row])

    if disorder_horizon is not None:
        from .disorder import disorder_fold_stream

        def fold(key, ripe, inner):
            t = list(inner) if inner is not None else [None] * k
            t = _advance_chain(t, ripe, k, within_us)
            return [emit_row(key, t)], tuple(t)

        return disorder_fold_stream(
            ev,
            ["u"],
            "e_us",
            [("e_us", "bigint")] + [(f"f{i}", "boolean") for i in range(k)],
            ["e_us"],
            [(f"t{i}", "bigint") for i in range(k)],
            fold,
            out_schema,
        )

    state_schema = StructType([StructField(f"t{i}", LongType()) for i in range(k)])

    def fn(key, pdfs, state):
        t = list(state) if state is not None else [None] * k
        pdf = pd.concat(list(pdfs), ignore_index=True)
        t = _advance_chain(t, pdf, k, within_us)
        return [emit_row(key, t)], tuple(t)

    return stateful_map_stream(ev, ["u"], fn, out_schema, state_schema)
