"""The keyed stateful kernel: every keyed streaming operator in this
package runs on `stateful_op_stream`, and this module is the only
code that touches Spark's keyed state (`applyInPandasWithState`,
`GroupState`). It is the reference's general `stateful_op` primitive
(operators/stateful_op.rs:14-160) on one engine path:

- `on_data(key, pdfs, state, timer_values) -> (outputs, new_state,
  timers)` runs when records arrive for a key (state update +
  optional output);
- `on_timer(key, fired_at_ms, state) -> (outputs, new_state, timers)`
  runs when the key's timer fires — logic reacting to time passing
  rather than data arriving, including the emit-then-evict pattern
  (return state=None to drop the key). Returned timers RE-ARM the key.

Timers are absolute milliseconds. The timeout mode follows from the
arguments: `on_timer=None` is `NoTimeout` (returning timers raises),
`time_mode="eventTime"` fires when the WATERMARK passes a timer, and
`time_mode="processingTime"` fires when the batch processing time
passes it. `fired_at_ms` is the current watermark or batch processing
time respectively — "the frontier has passed this point": close
everything <= fired_at_ms, not just the timer that fired.

The engine holds ONE pending timer per key: when several timers are
requested the earliest is armed and `on_timer` re-arms the rest.
tests/test_engine_divergence.py pins this against a plain-Python
multi-timer reference that fires every armed timer in expiry order.

Contract invariant (enforced): requesting timers while returning
new_state=None is an error — a key with no state cannot hold a
pending timer. Evict-now-fire-later must keep a (possibly empty)
state.

Scale: state lives in the RocksDB state store (spills, incremental
checkpoints); timers are engine-managed per key — no scan-all-keys
walk per watermark advance.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

_TIME_MODES = ("eventTime", "processingTime")


def stateful_op_stream(
    sdf: DataFrame,
    key_cols: list[str],
    on_data: Callable,
    on_timer: Callable | None,
    output_schema,
    state_schema,
    time_mode: str = "eventTime",
) -> DataFrame:
    """Keyed stateful operator with optional timers (module docstring).

    `on_data(key: tuple, pdfs: iter[pd.DataFrame], state: tuple|None,
    timer_values) -> (iter[pd.DataFrame], new_state: tuple|None,
    timers_ms: list[int])`; state None drops the key. `timer_values`
    exposes `getCurrentWatermarkInMs()` and
    `getCurrentProcessingTimeInMs()` (the batch processing time timers
    are armed against). `on_timer(key, fired_at_ms, state) ->
    (iter[pd.DataFrame], new_state, timers_ms)`, or None for an
    operator without timers.

    With `time_mode="eventTime"` and an `on_timer`, the input must
    carry a watermark (`withWatermark`) — event-time timers are
    meaningless without a frontier.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    if time_mode not in _TIME_MODES:
        raise ValueError(f"time_mode must be one of {_TIME_MODES}, got {time_mode!r}")
    if on_timer is None:
        timeout = GroupStateTimeout.NoTimeout
    elif time_mode == "eventTime":
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    return sdf.groupBy(*key_cols).applyInPandasWithState(
        make_apws_wrapped(on_data, on_timer, time_mode),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def make_apws_wrapped(on_data, on_timer, time_mode: str = "eventTime"):
    """The applyInPandasWithState wrapper function, module-level so the
    engine-divergence tests can drive it against a fake GroupState
    without Spark. It refers to no module global, so it pickles by
    value and Python workers need not import this package."""
    processing_time = time_mode == "processingTime"

    class TimerValues:
        """`on_data`'s timer_values: the key's current watermark and
        the batch processing time timers are armed against."""

        def __init__(self, state):
            self._state = state

        def getCurrentWatermarkInMs(self) -> int:
            return max(int(self._state.getCurrentWatermarkMs()), 0)

        def getCurrentProcessingTimeInMs(self) -> int:
            return int(self._state.getCurrentProcessingTimeMs())

    def commit(state, new_state, timers, hook):
        if new_state is None:
            if timers:
                raise ValueError(
                    f"{hook} returned timers with new_state=None; "
                    "keep a state to hold a pending timer"
                )
            if state.exists:
                state.remove()
            return
        state.update(new_state)
        if not timers:
            return
        if on_timer is None:
            raise ValueError(f"{hook} returned timers but the operator has no on_timer")
        # single pending timer per key in this API: the earliest wins;
        # on_timer re-arms for the rest
        t_ms = int(min(timers))
        if processing_time:
            now_ms = int(state.getCurrentProcessingTimeMs())
            state.setTimeoutDuration(max(1, t_ms - now_ms))
        else:
            state.setTimeoutTimestamp(t_ms)

    def wrapped(key, pdfs, state):
        cur = state.get if state.exists else None
        if state.hasTimedOut:
            fired_at_ms = (
                state.getCurrentProcessingTimeMs()
                if processing_time
                else state.getCurrentWatermarkMs()
            )
            outs, new_state, timers = on_timer(key, fired_at_ms, cur)
            commit(state, new_state, timers, "on_timer")
        else:
            outs, new_state, timers = on_data(key, pdfs, cur, TimerValues(state))
            commit(state, new_state, timers, "on_data")
        yield from outs

    return wrapped
