"""Streaming funnel — the stateful-streaming twin of
operators/funnel.py. One fold (`funnel_stream`'s `fold`) runs on
`stateful_map_stream` (streaming/stateful.py; reference
`StatefulLogic` contract, operators/stateful_map.rs:60-110) in the
default mode, and on `stateful_map_ordered_stream`
(streaming/disorder.py) when a disorder horizon is given.

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
watermark-finalized mode buffers events within the horizon in state
and hands them to the same fold in event-time order when the
watermark passes — exact under ANY microbatch arrival order,
the reference's generate_epochs/on_epoch pattern
(operators/time/generate_epochs.rs:39-127, stateful_op.rs:154-157).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType


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
    """The vectorized min-chaining kernel of the funnel fold: advance
    chain state `t` (k epoch-micros or None) over one batch of events
    (columns e_us, f0..f{k-1})."""
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
    the watermark-finalized mode (`stateful_map_ordered_stream`): events
    buffer per user in state and fold into the chain only once the
    watermark passes them, so a late-but-in-horizon event lands in its
    correct chain position and the result matches the batch operator
    under ANY microbatch arrival order; beyond-horizon events are
    deterministically dropped. The default (None) keeps the
    fill-forward contract: exact while event time never regresses
    across microbatches.

    Watermark scope note: the watermark is set on the step-matching
    events (the plan you want at scale — non-step events never
    shuffle), so it advances on STEP-MATCHING events only.
    If non-step traffic must drive time forward (idle funnels closing
    on unrelated activity), widen a step predicate into a heartbeat or
    pre-aggregate a time signal upstream."""
    import pandas as pd

    from .disorder import stateful_map_ordered_stream
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

    any_step = None
    for _, p in steps:
        any_step = p if any_step is None else (any_step | p)
    # null event times can't order in a chain; both modes drop them
    ev = sdf.filter(any_step & F.col(ts).isNotNull()).select(
        F.col(user).alias("u"),
        F.col(ts).alias("ts"),
        *[p.cast("boolean").alias(f"f{i}") for i, (_, p) in enumerate(steps)],
    )
    out_schema = StructType(
        [StructField("u", ev.schema["u"].dataType)]
        + [StructField(f"t_{n}", TimestampType()) for n in names]
    )
    state_ddl = ", ".join(f"t{i} bigint" for i in range(k))

    def fold(key, pdf, state):
        t = list(state) if state is not None else [None] * k
        e_us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype("int64")
        t = _advance_chain(t, pdf.assign(e_us=e_us), k, within_us)
        row = {"u": key[0]}
        for i, n in enumerate(names):
            row[f"t_{n}"] = pd.NaT if t[i] is None else pd.Timestamp(t[i], unit="us")
        return [pd.DataFrame([row])], tuple(t)

    if disorder_horizon is not None:
        return stateful_map_ordered_stream(
            ev, ["u"], "ts", fold, out_schema, state_ddl, disorder_horizon
        )
    return stateful_map_stream(
        ev, ["u"], lambda key, pdfs, state: fold(key, pd.concat(list(pdfs)), state),
        out_schema, state_ddl,
    )
