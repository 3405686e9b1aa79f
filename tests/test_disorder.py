"""Out-of-order hardening (round 5): the disorder_horizon mode of the
streaming funnel/SCD2 twins buffers per-key events in state and folds
them only when the watermark passes (streaming/disorder.py — the
reference's generate_epochs/on_epoch pattern, operators/time/
generate_epochs.rs:39-127, stateful_op.rs:154-157). These tests replay
the SAME events in shuffled microbatch order through OperatorTester
and pin exact equality with the batch operators — the done-criterion
for round-5 item #1 — plus deterministic drop of beyond-horizon lates
and state survival across a checkpoint restart."""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from malstrom_spark.operators.funnel import funnel_times
from malstrom_spark.operators.scd import scd2_history
from malstrom_spark.streaming.funnel import funnel_stream
from malstrom_spark.streaming.scd import scd2_stream
from malstrom_spark.testing import OperatorTester

BASE = dt.datetime(2024, 3, 1, 12, 0, 0)
SCHEMA = "user_id long, ts timestamp, event_type string"
SENTINEL = 10_000  # noise user whose far-future event flushes the watermark


def _steps():
    return [
        ("a", F.col("event_type") == "a"),
        ("b", F.col("event_type") == "b"),
        ("c", F.col("event_type") == "c"),
    ]


def _gen_events(n_users=18, n_per_user=8, seed=5):
    """Per-user event sequences on a shared minute grid, then a global
    bounded shuffle: every event lands within 5 positions of its grid
    slot, so a 10-minute horizon strictly bounds the disorder."""
    rng = random.Random(seed)
    evs = []
    for u in range(n_users):
        for i in range(n_per_user):
            et = rng.choice(["a", "b", "c", "noise"])
            evs.append((u, BASE + dt.timedelta(minutes=i), et))
    evs.sort(key=lambda e: e[1])
    for i in range(len(evs)):  # bounded perturbation: <= 5 grid slots
        j = min(i + rng.randint(0, 5), len(evs) - 1)
        evs[i], evs[j] = evs[j], evs[i]
    return evs


def _batches(evs, size=23):
    return [evs[i : i + size] for i in range(0, len(evs), size)]


def _final_chains(rows):
    """Latest chain per user from the emission log — max per step is
    exact under fill-forward (operators/funnel.latest_chain_times)."""
    out = {}
    for r in rows:
        cur = out.get(r.u, (None, None, None))
        nxt = tuple(
            max((x for x in (a, b) if x is not None), default=None)
            for a, b in zip(cur, (r.t_a, r.t_b, r.t_c))
        )
        out[r.u] = nxt
    return {u: v for u, v in out.items() if u != SENTINEL}


def _run_funnel_stream(spark, batches, restart_at=None, **kw):
    t = OperatorTester(
        spark,
        SCHEMA,
        op=lambda sdf: funnel_stream(
            sdf, "user_id", "ts", _steps(), disorder_horizon="10 minutes", **kw
        ),
    )
    try:
        rows = []
        for i, b in enumerate(batches):
            if restart_at is not None and i == restart_at:
                t.restart()
            t.send(b)
            rows += [r for batch in t.step() for r in batch]
        # flush: one far-future STEP event (the step filter is pushed
        # below the watermark node, so only step-matching events
        # advance the watermark) fires every pending timer
        t.send([(SENTINEL, BASE + dt.timedelta(days=30), "a")])
        rows += [r for batch in t.step() for r in batch]
        return _final_chains(rows)
    finally:
        t.stop()


def _batch_funnel(spark, evs, **kw):
    df = spark.createDataFrame(evs, SCHEMA)
    out = funnel_times(df, "user_id", "ts", _steps(), **kw)
    return {r.user_id: (r.t_a, r.t_b, r.t_c) for r in out.collect()}


def test_funnel_disorder_matches_batch_under_shuffled_microbatches(spark):
    evs = _gen_events()
    got = _run_funnel_stream(spark, _batches(evs))
    want = _batch_funnel(spark, evs)
    assert len(got) > 0 and any(v[2] is not None for v in got.values())
    assert got == want


def test_funnel_disorder_with_within_bound(spark):
    evs = _gen_events(seed=11)
    got = _run_funnel_stream(spark, _batches(evs), within="3 minutes")
    want = _batch_funnel(spark, evs, within="3 minutes")
    assert got == want


def test_funnel_disorder_survives_restart(spark):
    """Buffered (unfolded) events and chain state both live in the
    checkpoint: a mid-replay restart changes nothing."""
    evs = _gen_events(seed=7)
    batches = _batches(evs, size=31)
    got = _run_funnel_stream(spark, batches, restart_at=len(batches) // 2)
    assert got == _batch_funnel(spark, evs)


def test_funnel_beyond_horizon_late_event_dropped(spark):
    """An event older than the watermark at arrival is dropped
    deterministically — the batch equivalent excludes it."""
    early = [(1, BASE + dt.timedelta(minutes=i), et)
             for i, et in enumerate(["a", "b"])]
    # push the watermark far past BASE (+2h - 10min horizon)
    push = [(2, BASE + dt.timedelta(hours=2), "a")]
    # a 'c' event at BASE+2min is now ~108 min behind the watermark
    late = [(1, BASE + dt.timedelta(minutes=2), "c")]
    got = _run_funnel_stream(spark, [early, push, late])
    want = _batch_funnel(spark, early + push)  # late event excluded
    assert got == want
    assert got[1][2] is None  # the dropped 'c' never completed a chain


# --------------------------------------------------------------- SCD2

SCD_SCHEMA = "user_id long, ts timestamp, event_id long, event_type string"


def _gen_scd_events(n_users=15, n_per_user=9, seed=3):
    rng = random.Random(seed)
    evs = []
    eid = 0
    for u in range(n_users):
        for i in range(n_per_user):
            evs.append((u, BASE + dt.timedelta(minutes=i), eid, rng.choice("xyz")))
            eid += 1
    evs.sort(key=lambda e: e[1])
    for i in range(len(evs)):
        j = min(i + rng.randint(0, 5), len(evs) - 1)
        evs[i], evs[j] = evs[j], evs[i]
    return evs


def _consolidate(rows):
    """Latest version per (key, attr, valid_from): valid_to goes null
    -> close exactly once, so max() recovers the surviving version."""
    out = {}
    for r in rows:
        k = (r.user_id, r.event_type, r.valid_from)
        if k not in out or (out[k] is None and r.valid_to is not None):
            out[k] = r.valid_to
    return {
        (u, et, vf, vt, vt is None)
        for (u, et, vf), vt in out.items()
        if u != SENTINEL
    }


def test_scd2_disorder_matches_batch_under_shuffled_microbatches(spark):
    evs = _gen_scd_events()
    t = OperatorTester(
        spark,
        SCD_SCHEMA,
        op=lambda sdf: scd2_stream(
            sdf, key="user_id", ts="ts", attrs=["event_type"],
            tiebreak="event_id", disorder_horizon="10 minutes",
        ),
    )
    try:
        rows = []
        for b in _batches(evs, size=19):
            t.send(b)
            rows += [r for batch in t.step() for r in batch]
        t.send([(SENTINEL, BASE + dt.timedelta(days=30), 999_999, "x")])
        rows += [r for batch in t.step() for r in batch]
    finally:
        t.stop()
    got = _consolidate(rows)
    batch = scd2_history(
        spark.createDataFrame(evs, SCD_SCHEMA),
        key="user_id", ts="ts", attrs=["event_type"], tiebreak="event_id",
    )
    want = {
        (r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current)
        for r in batch.collect()
    }
    assert len(got) > 20
    assert got == want


def test_scd2_disorder_multibatch_out_of_order_minimal(spark):
    """Round-5 item #8: the minimal multi-batch regression — a late
    change event arriving in a LATER microbatch must open its interval
    in the middle of the chain, closing its predecessor correctly."""
    t = OperatorTester(
        spark,
        SCD_SCHEMA,
        op=lambda sdf: scd2_stream(
            sdf, key="user_id", ts="ts", attrs=["event_type"],
            tiebreak="event_id", disorder_horizon="10 minutes",
        ),
    )
    t0, t1, t2 = (BASE + dt.timedelta(minutes=m) for m in (0, 2, 4))
    try:
        rows = []
        # batch 1: x@t0, z@t2 — batch 2 delivers y@t1 out of order
        t.send([(1, t0, 0, "x"), (1, t2, 2, "z")])
        rows += [r for b in t.step() for r in b]
        t.send([(1, t1, 1, "y")])
        rows += [r for b in t.step() for r in b]
        t.send([(SENTINEL, BASE + dt.timedelta(days=1), 99, "x")])
        rows += [r for b in t.step() for r in b]
    finally:
        t.stop()
    cons = _consolidate(rows)
    assert cons == {
        (1, "x", t0, t1, False),
        (1, "y", t1, t2, False),
        (1, "z", t2, None, True),
    }


# ------------------------------------------- generic ordered stateful map

def test_stateful_map_ordered_running_balance(spark):
    """The reference's event_time.rs monthly-balance pattern as a
    custom fold: per-account running balance emitted per transaction,
    IN EVENT-TIME ORDER, from a shuffled multi-batch replay — the
    general-purpose form of the disorder machinery."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )

    from malstrom_spark.streaming.disorder import stateful_map_ordered_stream

    import pandas as pd

    out_schema = StructType([
        StructField("account", LongType()),
        StructField("ts", TimestampType()),
        StructField("balance", DoubleType()),
    ])

    def fn(key, pdf, state):
        bal = state[0] if state is not None and state[0] is not None else 0.0
        rows = []
        for _, r in pdf.iterrows():
            bal = round(bal + r["amount"], 2)
            rows.append({"account": key[0], "ts": r["ts"], "balance": bal})
        return [pd.DataFrame(rows)], (bal,)

    rng = random.Random(17)
    evs = []
    for acct in range(8):
        for i in range(12):
            evs.append((acct, BASE + dt.timedelta(minutes=i),
                        round(rng.uniform(-50, 100), 2)))
    evs.sort(key=lambda e: e[1])
    for i in range(len(evs)):  # bounded disorder, <= 5 grid slots
        j = min(i + rng.randint(0, 5), len(evs) - 1)
        evs[i], evs[j] = evs[j], evs[i]

    t = OperatorTester(
        spark,
        "account long, ts timestamp, amount double",
        op=lambda sdf: stateful_map_ordered_stream(
            sdf, ["account"], "ts", fn, out_schema,
            "bal double", disorder_horizon="10 minutes",
        ),
    )
    try:
        rows = []
        for b in _batches(evs, size=17):
            t.send(b)
            rows += [r for batch in t.step() for r in batch]
        t.send([(SENTINEL, BASE + dt.timedelta(days=5), 0.0)])
        rows += [r for batch in t.step() for r in batch]
    finally:
        t.stop()
    got = {(r.account, r.ts): r.balance for r in rows if r.account != SENTINEL}

    # batch reference: cumulative sum in event-time order, same rounding
    want = {}
    for acct in range(8):
        bal = 0.0
        for u, ts, amt in sorted((e for e in evs if e[0] == acct),
                                 key=lambda e: e[1]):
            bal = round(bal + amt, 2)
            want[(acct, ts)] = bal
    assert len(got) == 8 * 12
    assert got == want


# ------------------------------- kernel vs multi-timer reference (no Spark)
# Like test_engine_divergence.py for the kernel itself, these drive the
# SAME disorder handlers through the kernel's wrapper (one timeout per
# key, handed the current watermark) and through the plain-Python
# multi-timer reference (each due timer fires individually at its
# expiry), and pin identical outputs and state, plus agreement with a
# plain-Python ordered-fold oracle.

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from malstrom_spark.streaming.disorder import make_disorder_handlers  # noqa: E402
from malstrom_spark.streaming.stateful_op import make_apws_wrapped  # noqa: E402
from tests.test_engine_divergence import ReferenceEngine, _FakeGroupState  # noqa: E402


def _handlers():
    def fold(key, ripe, inner):
        n, total = inner if inner is not None else (0, 0)
        rows = []
        for e, v in zip(ripe["e"], ripe["v"]):
            n, total = n + 1, total + v
            rows.append((key[0], int(e), int(total)))
        return rows, (n, total)

    return make_disorder_handlers("e", ["e", "v"], ["e"], 2, fold)


def _pdf(batch):
    import pandas as pd

    return pd.DataFrame({"e": [e for e, _ in batch], "v": [v for _, v in batch]})


class _ApwsDisorder:
    """apws semantics: ONE pending timeout; on_timer sees the CURRENT
    watermark; setTimeoutTimestamp at-or-below it raises (the real
    engine's rule — the handlers' clamp must keep this impossible)."""

    def __init__(self):
        on_data, on_timer = _handlers()
        self.wrapped = make_apws_wrapped(on_data, on_timer)
        self.gs = _FakeGroupState()
        orig = self.gs.setTimeoutTimestamp

        def strict(t_ms):
            assert t_ms > self.gs.wm, "timer at-or-below watermark"
            orig(t_ms)

        self.gs.setTimeoutTimestamp = strict

    def data(self, key, batch):
        self.gs.hasTimedOut = False
        return list(self.wrapped(key, iter([_pdf(batch)]), self.gs))

    def advance(self, key, wm):
        self.gs.wm = max(self.gs.wm, wm)
        outs = []
        while (
            self.gs.timeout is not None
            and self.gs.timeout <= self.gs.wm
            and self.gs._exists
        ):
            self.gs.timeout = None
            self.gs.hasTimedOut = True
            outs += list(self.wrapped(key, iter([]), self.gs))
        self.gs.hasTimedOut = False
        return outs

    def state(self):
        return self.gs._v


def _canon(state):
    """(inner, sorted buffer) — buffer order is arrival order, which
    the two engines may legitimately interleave differently around
    timer fires; content equality is the contract."""
    if state is None:
        return None
    inner = tuple(state[:2])
    buf = sorted(zip(state[2], state[3]))
    return inner, buf


_EV = st.tuples(
    st.integers(min_value=0, max_value=5_000_000),   # event micros
    st.integers(min_value=-9, max_value=9),          # value
)
_STEP = st.one_of(
    st.tuples(st.just("data"), st.lists(_EV, min_size=1, max_size=5)),
    st.tuples(st.just("wm"), st.integers(min_value=0, max_value=6_000)),  # ms
)


@settings(max_examples=200, deadline=None)
@given(steps=st.lists(_STEP, min_size=1, max_size=12))
def test_disorder_handlers_engine_equivalence(steps):
    key = ("k",)
    ref, apws = ReferenceEngine(*_handlers()), _ApwsDisorder()
    out_r, out_a = [], []
    wm = 0
    accepted = []  # plain-Python oracle: events surviving the drop rule
    for kind, payload in steps:
        if kind == "data":
            accepted += [(e, v) for e, v in payload if e >= wm * 1000]
            out_r += ref.data(key, _pdf(payload))
            out_a += apws.data(key, payload)
        else:
            wm = max(wm, payload)
            out_r += ref.advance(key, wm)
            out_a += apws.advance(key, wm)
        assert out_r == out_a, f"divergence after {kind}({payload})"
        assert _canon(ref.state()) == _canon(apws.state())
    # final flush: everything accepted becomes ripe
    final_wm = 10_000
    out_r += ref.advance(key, final_wm)
    out_a += apws.advance(key, final_wm)
    assert out_r == out_a
    # ordered-fold oracle: running totals over accepted events in
    # (event-time, arrival) order — mergesort stability gives arrival
    # order within equal timestamps in both engines and here
    total, want = 0, []
    for e, v in sorted(accepted, key=lambda ev: ev[0]):
        total += v
        want.append(("k", e, total))
    assert out_r == want


def test_scd2_disorder_nullable_int_attr(spark):
    """Regression (round 5): Arrow->pandas widens a nullable long attr
    to float64 (3 -> 3.0, null -> NaN); unbuffered, array<bigint>
    state nulled the REAL values. The typed buffer coercion must
    round-trip ints exactly and map NA -> None."""
    t = OperatorTester(
        spark,
        "user_id long, ts timestamp, event_id long, tier long",
        op=lambda sdf: scd2_stream(
            sdf, key="user_id", ts="ts", attrs=["tier"],
            tiebreak="event_id", disorder_horizon="10 minutes",
        ),
    )
    t0, t1, t2 = (BASE + dt.timedelta(minutes=m) for m in (0, 1, 2))
    try:
        rows = []
        t.send([(1, t0, 0, 3), (1, t2, 1, None)])
        rows += [r for b in t.step() for r in b]
        t.send([(1, t1, 2, 5)])  # late but in horizon
        rows += [r for b in t.step() for r in b]
        t.send([(SENTINEL, BASE + dt.timedelta(days=1), 9, 0)])
        rows += [r for b in t.step() for r in b]
    finally:
        t.stop()
    got = sorted(
        {(r.user_id, r.tier, r.valid_from, r.valid_to, r.is_current)
         for r in rows if r.user_id != SENTINEL},
        key=lambda x: (x[2], x[3] is None),
    )
    assert got == [
        (1, 3, t0, t1, False),
        (1, 5, t1, t2, False),
        (1, None, t2, None, True),
    ]


def test_scd2_disorder_int_attr_survives_state_roundtrip(spark):
    """Round-5 review repro: a REAL int attr value crossing the state
    boundary after a fold (not just the null) — tier 7 becomes the
    open interval in fold 1; a later unchanged tier-7 event must be a
    no-op, not a spurious (None, ...) interval from a nulled state."""
    t = OperatorTester(
        spark,
        "user_id long, ts timestamp, event_id long, tier long",
        op=lambda sdf: scd2_stream(
            sdf, key="user_id", ts="ts", attrs=["tier"],
            tiebreak="event_id", disorder_horizon="10 minutes",
        ),
    )
    t0, t1, t2, t3 = (BASE + dt.timedelta(minutes=m) for m in (0, 1, 2, 60))
    try:
        rows = []
        t.send([(1, t0, 0, 3), (1, t1, 1, None), (1, t2, 2, 7)])
        rows += [r for b in t.step() for r in b]
        # advance the watermark far enough to finalize all three
        t.send([(SENTINEL, BASE + dt.timedelta(minutes=30), 8, 0)])
        rows += [r for b in t.step() for r in b]
        t.send([(1, t3, 3, 7)])  # unchanged value in a later batch
        rows += [r for b in t.step() for r in b]
        t.send([(SENTINEL, BASE + dt.timedelta(days=1), 9, 0)])
        rows += [r for b in t.step() for r in b]
    finally:
        t.stop()
    latest = {}
    for r in rows:
        if r.user_id == SENTINEL:
            continue
        kk = (r.tier, r.valid_from)
        if kk not in latest or (latest[kk] is None and r.valid_to is not None):
            latest[kk] = r.valid_to
    history = sorted(((vf, tier, vt) for (tier, vf), vt in latest.items()))
    assert history == [(t0, 3, t1), (t1, None, t2), (t2, 7, None)], history


def test_scd2_default_mode_int_attr_survives_state_roundtrip(spark):
    """Same repro on the fill-forward default path: the Arrow-widened
    float 7.0 must pack back to bigint state as 7, not None."""
    t = OperatorTester(
        spark,
        "user_id long, ts timestamp, event_id long, tier long",
        op=lambda sdf: scd2_stream(
            sdf, key="user_id", ts="ts", attrs=["tier"], tiebreak="event_id"
        ),
    )
    t0, t1, t2, t3 = (BASE + dt.timedelta(minutes=m) for m in (0, 1, 2, 60))
    try:
        rows = []
        t.send([(1, t0, 0, 3), (1, t1, 1, None), (1, t2, 2, 7)])
        rows += [r for b in t.step() for r in b]
        t.send([(1, t3, 3, 7)])  # unchanged -> must NOT open an interval
        rows += [r for b in t.step() for r in b]
    finally:
        t.stop()
    latest = {}
    for r in rows:
        kk = (r.tier, r.valid_from)
        if kk not in latest or (latest[kk] is None and r.valid_to is not None):
            latest[kk] = r.valid_to
    history = sorted(((vf, tier, vt) for (tier, vf), vt in latest.items()))
    assert history == [(t0, 3, t1), (t1, None, t2), (t2, 7, None)], history
