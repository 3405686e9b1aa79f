"""Kernel pinning for `stateful_op_stream` (SURVEY §2.3 hard part #1;
reference ordering spec stateful_op.rs:14-103,154-157).

The kernel (`applyInPandasWithState`) holds only ONE pending timer per
key, so it arms the earliest and relies on `on_timer` re-arming the
rest. These tests drive its wrapper (`make_apws_wrapped`) against a
fake GroupState — no Spark session — and compare it with
`ReferenceEngine`, a plain-Python model that keeps EVERY armed timer
and fires each one individually in expiry order: the two must produce
IDENTICAL cumulative outputs and state for arbitrary multi-timer
schedules.

`on_timer`'s `fired_at_ms` is the timer's expiry in the reference but
the current watermark in the kernel — logic must treat it as "the
frontier has passed this point" (all shipped operators do); outputs
derived from it pin equality of the SET of closed work, not of the
raw argument.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from malstrom_spark.streaming.stateful_op import make_apws_wrapped, stateful_op_stream

WIN = 100  # window length for the test logic (logical ms)


# ------------------------------------------------------- test logic
# Multi-window-per-key counting: on_data opens a window per ts bucket
# and requests a timer for EVERY open window end (the multi-timer
# case); on_timer closes every window <= fired_at, emits, and re-arms
# for the remainder.
def on_data(key, batches, state, timer_values):
    ends, counts = (list(state[0]), list(state[1])) if state else ([], [])
    for batch in batches:
        for ts in batch:
            end = (ts // WIN) * WIN + WIN
            if end in ends:
                counts[ends.index(end)] += 1
            else:
                ends.append(end)
                counts.append(1)
    return [], (ends, counts), sorted(ends)


def on_timer(key, fired_at_ms, state):
    if state is None:
        return [], None, []
    ends, counts = list(state[0]), list(state[1])
    closed = sorted((i for i, e in enumerate(ends) if e <= fired_at_ms),
                    key=lambda i: ends[i])
    outs = [(key, ends[i], counts[i]) for i in closed]
    keep = [i for i in range(len(ends)) if i not in closed]
    if not keep:
        return outs, None, []
    kept = ([ends[i] for i in keep], [counts[i] for i in keep])
    return outs, kept, sorted(kept[0])


# ------------------------------------------------------------ engines
class ReferenceEngine:
    """Multi-timer reference for one key: every timer the logic returns
    stays armed; on watermark advance each due timer fires individually,
    in expiry order, with fired_at = its expiry (timers armed while
    firing that are already due fire in the same drain). Evicting the
    state drops the key's pending timers. The engine is also the
    `timer_values` handed to `on_data`."""

    def __init__(self, on_data, on_timer):
        self.on_data, self.on_timer = on_data, on_timer
        self._state, self.timers, self.wm = None, set(), 0

    def getCurrentWatermarkInMs(self):
        return self.wm

    def _apply(self, result):
        outs, self._state, timers = result
        self.timers = self.timers | set(timers) if self._state is not None else set()
        return list(outs)

    def data(self, key, batch):
        return self._apply(self.on_data(key, iter([batch]), self._state, self))

    def advance(self, key, wm):
        self.wm = max(self.wm, wm)
        outs = []
        while self.timers and min(self.timers) <= self.wm:
            t = min(self.timers)
            self.timers.discard(t)
            outs += self._apply(self.on_timer(key, t, self._state))
        return outs

    def state(self):
        return self._state


class _FakeGroupState:
    def __init__(self):
        self._v, self._exists = None, False
        self.timeout = None
        self.duration = None
        self.hasTimedOut = False
        self.wm = 0
        self.now = 0

    @property
    def exists(self):
        return self._exists

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self._exists = tuple(v), True

    def remove(self):
        self._v, self._exists, self.timeout = None, False, None

    def setTimeoutTimestamp(self, t_ms):
        self.timeout = int(t_ms)

    def setTimeoutDuration(self, d_ms):
        self.duration = int(d_ms)

    def getCurrentWatermarkMs(self):
        return self.wm

    def getCurrentProcessingTimeMs(self):
        return self.now


class ApwsEngine:
    """applyInPandasWithState semantics: ONE pending timeout per key;
    when the watermark passes it the wrapper runs with hasTimedOut and
    may re-arm; a re-armed timeout already past the watermark fires on
    the next drain iteration (next microbatch in the real engine)."""

    def __init__(self):
        self.wrapped = make_apws_wrapped(on_data, on_timer)
        self.gs = _FakeGroupState()

    def data(self, key, batch):
        self.gs.hasTimedOut = False
        return list(self.wrapped(key, iter([batch]), self.gs))

    def advance(self, key, wm):
        self.gs.wm = wm
        outs = []
        while (
            self.gs.timeout is not None
            and self.gs.timeout <= wm
            and self.gs._exists
        ):
            self.gs.timeout = None  # engine clears before invoking
            self.gs.hasTimedOut = True
            outs += list(self.wrapped(key, iter([]), self.gs))
        self.gs.hasTimedOut = False
        return outs

    def state(self):
        return self.gs._v


def _canon_state(s):
    if s is None:
        return None
    return tuple(sorted(zip(s[0], s[1])))


def _run_both(steps):
    """Drive the reference and the kernel through (kind, payload) steps;
    compare cumulative outputs and canonical state after EVERY step."""
    key = ("k",)
    ref, apws = ReferenceEngine(on_data, on_timer), ApwsEngine()
    out_r, out_a = [], []
    wm = 0
    for kind, payload in steps:
        if kind == "data":
            out_r += ref.data(key, payload)
            out_a += apws.data(key, payload)
        else:
            wm = max(wm, payload)
            out_r += ref.advance(key, wm)
            out_a += apws.advance(key, wm)
        assert out_r == out_a, f"output divergence after {kind}({payload})"
        assert _canon_state(ref.state()) == _canon_state(apws.state())
    return out_r


def test_multi_timer_schedule_deterministic():
    """Three windows opened in one batch; watermark passes them across
    three advances — the 2nd/3rd emissions happen only via re-armed
    timers in the kernel (the key never sees data again)."""
    outs = _run_both(
        [
            ("data", [10, 110, 250, 15]),  # windows 100, 200, 300
            ("wm", 100),                   # closes window 100
            ("wm", 205),                   # closes window 200
            ("wm", 50),                    # no-op (non-monotone ignored)
            ("wm", 300),                   # closes window 300
        ]
    )
    assert outs == [(("k",), 100, 2), (("k",), 200, 1), (("k",), 300, 1)]


def test_single_advance_closes_all_due_windows():
    """One big watermark jump: the reference fires 3 separate expiries,
    the kernel fires once at the watermark — identical cumulative
    output."""
    outs = _run_both([("data", [10, 110, 250]), ("wm", 1000)])
    assert outs == [(("k",), 100, 1), (("k",), 200, 1), (("k",), 300, 1)]


def test_timers_with_none_state_raise_on_both_paths():
    """Contract invariant (stateful_op module docstring): requesting
    timers while returning new_state=None must raise, whether on_data
    or on_timer asks."""

    def bad_on_data(key, batches, state, timer_values):
        return [], None, [123]

    wrapped = make_apws_wrapped(bad_on_data, on_timer)
    with pytest.raises(ValueError, match="on_data returned timers with new_state=None"):
        list(wrapped(("k",), iter([[1]]), _FakeGroupState()))

    def bad_on_timer(key, fired_at_ms, state):
        return [], None, [456]

    wrapped = make_apws_wrapped(on_data, bad_on_timer)
    gs = _FakeGroupState()
    gs.update(([100], [1]))
    gs.hasTimedOut = True
    with pytest.raises(ValueError, match="on_timer returned timers with new_state=None"):
        list(wrapped(("k",), iter([]), gs))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.just("data"),
                st.lists(st.integers(min_value=0, max_value=999), min_size=1, max_size=5),
            ),
            st.tuples(st.just("wm"), st.integers(min_value=0, max_value=1200)),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_property_multi_timer_divergence(steps):
    """Arbitrary interleavings of data batches and (monotone-clamped)
    watermark advances: the kernel must agree with the multi-timer
    reference on cumulative output AND state after every step."""
    _run_both(steps)


# ------------------------------------------------- timeout modes
def test_no_timer_mode_evicts_and_rejects_timers():
    """on_timer=None (NoTimeout): a None state removes the key, and an
    on_data that asks for timers raises instead of arming one."""

    def counting(key, batches, state, timer_values):
        n = (state[0] if state else 0) + sum(len(b) for b in batches)
        return [(key, n)], (None if n >= 3 else (n,)), []

    wrapped = make_apws_wrapped(counting, None)
    gs = _FakeGroupState()
    assert list(wrapped(("k",), iter([[1, 2]]), gs)) == [(("k",), 2)]
    assert gs.exists and gs.get == (2,)
    assert list(wrapped(("k",), iter([[3]]), gs)) == [(("k",), 3)]
    assert not gs.exists and gs.timeout is None and gs.duration is None

    def timed(key, batches, state, timer_values):
        return [], (1,), [500]

    with pytest.raises(ValueError, match="no on_timer"):
        list(make_apws_wrapped(timed, None)(("k",), iter([[1]]), _FakeGroupState()))


def test_processing_time_mode_arms_durations_and_fires():
    """time_mode="processingTime": absolute timers arm
    setTimeoutDuration(t - now), clamped to at least 1 ms, against the
    batch processing time that timer_values also reports; hasTimedOut
    routes to on_timer with that time, and a None result removes the
    state."""
    ttl = 250
    fired = []

    def touch(key, batches, state, timer_values):
        now = timer_values.getCurrentProcessingTimeInMs()
        return [], (now,), [now + ttl, now + 10 * ttl]

    def expire(key, fired_at_ms, state):
        fired.append((fired_at_ms, state))
        if fired_at_ms - state[0] < ttl:
            return [], state, [state[0] + ttl]
        return [("expired", key)], None, []

    wrapped = make_apws_wrapped(touch, expire, time_mode="processingTime")
    gs = _FakeGroupState()
    gs.now = 1_000
    assert list(wrapped(("k",), iter([[1]]), gs)) == []
    assert gs.get == (1_000,) and gs.duration == ttl  # earliest timer wins
    assert gs.timeout is None  # no event-time timestamp armed

    # on_timer re-arms an absolute timer: duration is measured from now
    gs.hasTimedOut, gs.now = True, 1_100
    assert list(wrapped(("k",), iter([]), gs)) == []
    assert fired == [(1_100, (1_000,))] and gs.duration == 150

    # a timer already due at arm time is clamped to 1 ms
    gs.now = 1_500
    rearm_past = make_apws_wrapped(
        touch, lambda key, t, state: ([], state, [t - 5]), time_mode="processingTime"
    )
    assert list(rearm_past(("k",), iter([]), gs)) == []
    assert gs.duration == 1

    assert list(wrapped(("k",), iter([]), gs)) == [("expired", ("k",))]
    assert fired[-1] == (1_500, (1_000,))
    assert not gs.exists


def test_unknown_time_mode_rejected():
    with pytest.raises(ValueError, match="time_mode"):
        stateful_op_stream(None, ["k"], on_data, on_timer, "k string", "n long",
                           time_mode="wallClock")
