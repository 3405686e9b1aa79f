"""Funnel operator (operators/funnel.py): strict-order chaining,
window bound, tie and out-of-order handling."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from malstrom_spark.operators.funnel import funnel_counts, funnel_times


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _steps():
    # built lazily: Column construction needs an active SparkContext
    return [
        ("a", F.col("et") == "a"),
        ("b", F.col("et") == "b"),
        ("c", F.col("et") == "c"),
    ]


def _times(spark, rows, within=None):
    df = spark.createDataFrame([Row(u=u, ts=_ts(t), et=e) for u, t, e in rows])
    out = funnel_times(df, "u", "ts", _steps(), within=within)
    return {r.u: (r.t_a, r.t_b, r.t_c) for r in out.collect()}


def test_basic_chain(spark):
    got = _times(
        spark,
        [
            (1, "2024-01-01 00:00:00", "a"),
            (1, "2024-01-01 01:00:00", "b"),
            (1, "2024-01-01 02:00:00", "c"),
        ],
    )
    assert got[1] == (_ts("2024-01-01 00:00:00"), _ts("2024-01-01 01:00:00"),
                      _ts("2024-01-01 02:00:00"))


def test_order_matters(spark):
    # b before a: prefix (a) completes, (a,b) does not
    got = _times(
        spark,
        [(2, "2024-01-01 00:00:00", "b"), (2, "2024-01-01 01:00:00", "a")],
    )
    assert got[2][0] == _ts("2024-01-01 01:00:00")
    assert got[2][1] is None


def test_equal_ts_cannot_chain(spark):
    got = _times(
        spark,
        [(3, "2024-01-01 00:00:00", "a"), (3, "2024-01-01 00:00:00", "b")],
    )
    assert got[3][1] is None  # strict > required


def test_earliest_anchor_not_best_anchor(spark):
    # earliest 'a' anchors the window even when a later 'a' would let
    # the chain complete — min()-chaining semantics, same as the SQL
    # oracle; the later 'b' falls outside t_a + 1 hour
    got = _times(
        spark,
        [
            (4, "2024-01-01 00:00:00", "a"),
            (4, "2024-01-05 00:00:00", "a"),
            (4, "2024-01-05 00:30:00", "b"),
        ],
        within="1 hour",
    )
    assert got[4][0] == _ts("2024-01-01 00:00:00")
    assert got[4][1] is None


def test_within_bound_inclusive(spark):
    got = _times(
        spark,
        [
            (5, "2024-01-01 00:00:00", "a"),
            (5, "2024-01-01 01:00:00", "b"),  # exactly t_a + within
            (6, "2024-01-01 00:00:00", "a"),
            (6, "2024-01-01 01:00:01", "b"),  # just outside
        ],
        within="1 hour",
    )
    assert got[5][1] == _ts("2024-01-01 01:00:00")
    assert got[6][1] is None


def test_one_event_cannot_fill_two_steps(spark):
    # a then a single 'b and c'-ambiguous event type can't happen with
    # disjoint predicates; use overlapping predicates instead
    steps = [
        ("x", F.col("et").isin("a", "ab")),
        ("y", F.col("et").isin("b", "ab")),
    ]
    df = spark.createDataFrame(
        [Row(u=7, ts=_ts("2024-01-01 00:00:00"), et="ab")]
    )
    out = funnel_times(df, "u", "ts", steps)
    r = out.collect()[0]
    assert r.t_x == _ts("2024-01-01 00:00:00") and r.t_y is None


def test_counts_monotone_on_events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    steps = [
        ("signup", F.col("event_type") == "signup"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    rows = funnel_counts(ev, "user_id", "ts", steps, within="7 days").collect()
    by_idx = {r.step_idx: r.n_users for r in rows}
    assert [r.step for r in sorted(rows, key=lambda r: r.step_idx)] == [
        "signup", "click", "purchase"
    ]
    assert by_idx[1] >= by_idx[2] >= by_idx[3]
    assert by_idx[1] > 0


def test_duplicate_step_names_rejected(spark):
    df = spark.createDataFrame([Row(u=1, ts=_ts("2024-01-01 00:00:00"), et="a")])
    with pytest.raises(ValueError, match="duplicate"):
        funnel_times(df, "u", "ts", [("a", F.col("et") == "a"), ("a", F.col("et") == "b")])


def test_streaming_funnel_matches_batch(spark, sf_dir):
    """Streaming twin parity: the state-store chaining must equal the
    batch fold on the bounded replay (per-user times, not just
    counts)."""
    from malstrom_spark.streaming.funnel import funnel_stream
    from malstrom_spark.streaming.replay import replay_table, run_to_memory

    steps = lambda: [  # noqa: E731 — fresh Columns per DataFrame
        ("signup", F.col("event_type") == "signup"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    stream_out = run_to_memory(
        funnel_stream(
            replay_table(spark, sf_dir, "events"), "user_id", "ts", steps(),
            within="7 days",
        ),
        output_mode="append",
    )
    batch_out = funnel_times(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        "user_id", "ts", steps(), within="7 days",
    )
    got = {r.u: (r.t_signup, r.t_click, r.t_purchase) for r in stream_out.collect()}
    want = {
        r.user_id: (r.t_signup, r.t_click, r.t_purchase) for r in batch_out.collect()
    }
    assert got == want and len(got) > 0


def test_five_step_interleaved(spark):
    """Longer chains: steps interleaved with noise and regressions;
    prefix depth must follow the strict order exactly."""
    steps = [(n, F.col("et") == n) for n in ("a", "b", "c", "d", "e")]
    rows = [
        (1, "2024-01-01 00:00:00", "b"),  # too early, before 'a'
        (1, "2024-01-01 01:00:00", "a"),
        (1, "2024-01-01 02:00:00", "c"),  # skips 'b' -> can't count yet
        (1, "2024-01-01 03:00:00", "b"),
        (1, "2024-01-01 04:00:00", "c"),  # now valid
        (1, "2024-01-01 05:00:00", "e"),  # skips 'd'
        (1, "2024-01-01 06:00:00", "d"),
        (1, "2024-01-01 07:00:00", "e"),  # completes
    ]
    df = spark.createDataFrame(
        [Row(u=u, ts=_ts(t), et=e) for u, t, e in rows]
    )
    out = funnel_times(df, "u", "ts", steps).collect()[0]
    assert (out.t_a, out.t_b, out.t_c, out.t_d, out.t_e) == (
        _ts("2024-01-01 01:00:00"),
        _ts("2024-01-01 03:00:00"),
        _ts("2024-01-01 04:00:00"),
        _ts("2024-01-01 06:00:00"),
        _ts("2024-01-01 07:00:00"),
    )


def test_calendar_within_rejected(spark):
    df = spark.createDataFrame([Row(u=1, ts=_ts("2024-01-01 00:00:00"), et="a")])
    with pytest.raises(ValueError, match="calendar"):
        funnel_times(df, "u", "ts", [("a", F.col("et") == "a")], within="1 month")


def test_null_ts_dropped_both_twins(spark):
    """A null event time must neither poison the batch chain nor
    crash the streaming kernel; both twins drop the row."""
    df = spark.createDataFrame(
        [Row(u=1, ts=None, et="a"), Row(u=1, ts=_ts("2024-01-01 01:00:00"), et="a")],
        "u long, ts timestamp, et string",
    )
    out = funnel_times(df, "u", "ts", [("a", F.col("et") == "a")]).collect()[0]
    assert out.t_a == _ts("2024-01-01 01:00:00")


def test_empty_steps_rejected(spark):
    df = spark.createDataFrame([Row(u=1, ts=_ts("2024-01-01 00:00:00"), et="a")])
    with pytest.raises(ValueError, match="steps must be non-empty"):
        funnel_times(df, "u", "ts", [])


def test_latest_chain_times_consolidates_multibatch_emissions(spark):
    """latest_chain_times recovers the final chain per user from a
    multi-microbatch emission log (fill-forward contract), so
    counts_table stays exact under any replay batching."""
    from malstrom_spark.operators.funnel import counts_table, latest_chain_times

    t1, t2 = _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00")
    emitted = spark.createDataFrame(
        [
            Row(u=1, t_a=t1, t_b=None, t_c=None),  # batch 1
            Row(u=1, t_a=t1, t_b=t2, t_c=None),    # batch 2: chain advanced
            Row(u=2, t_a=t2, t_b=None, t_c=None),
        ],
        "u long, t_a timestamp, t_b timestamp, t_c timestamp",
    )
    latest = latest_chain_times(emitted, "u", ["a", "b", "c"])
    got = {r.u: (r.t_a, r.t_b, r.t_c) for r in latest.collect()}
    assert got == {1: (t1, t2, None), 2: (t2, None, None)}
    counts = {r.step: r.n_users for r in counts_table(latest, ["a", "b", "c"]).collect()}
    assert counts == {"a": 2, "b": 1, "c": 0}


def test_max_events_per_user_exact_when_within_bound(spark):
    """The prune is a no-op (exact equality) whenever every
    (user, step) has <= N matching events — the documented contract."""
    import random

    rng = random.Random(5)
    rows = []
    for u in range(25):
        base = dt.datetime(2024, 1, 1) + dt.timedelta(hours=u)
        n = rng.randint(0, 9)  # max multiplicity per (user, step) <= 3
        ets = (["a"] * 3 + ["b"] * 3 + ["c"] * 3)[:n]
        rng.shuffle(ets)
        for i, e in enumerate(ets):
            rows.append((u, (base + dt.timedelta(minutes=rng.randint(0, 500))).isoformat(sep=" "), e))
    df = spark.createDataFrame([Row(u=u, ts=_ts(t), et=e) for u, t, e in rows])
    want = {r.u: (r.t_a, r.t_b, r.t_c)
            for r in funnel_times(df, "u", "ts", _steps(), within="2 hours").collect()}
    got = {r.u: (r.t_a, r.t_b, r.t_c)
           for r in funnel_times(df, "u", "ts", _steps(), within="2 hours",
                                 max_events_per_user=3).collect()}
    assert got == want


def test_max_events_per_user_caps_hot_user_monotone(spark):
    """On a hot user beyond the cap, t1 stays exact (earliest step-1
    event is always kept) and every pruned chain time is >= the
    unbounded one or null — pruning never invents an earlier chain."""
    rows = []
    base = dt.datetime(2024, 1, 1)
    # hot user: 500 'a' events, then one b, one c late in the tail
    for i in range(500):
        rows.append((1, base + dt.timedelta(seconds=i), "a"))
    rows.append((1, base + dt.timedelta(seconds=600), "b"))
    rows.append((1, base + dt.timedelta(seconds=700), "c"))
    df = spark.createDataFrame([Row(u=u, ts=t, et=e) for u, t, e in rows])
    unbounded = funnel_times(df, "u", "ts", _steps()).collect()[0]
    capped = funnel_times(df, "u", "ts", _steps(), max_events_per_user=10).collect()[0]
    assert capped.t_a == unbounded.t_a == base
    for name in ("t_a", "t_b", "t_c"):
        c, ub = getattr(capped, name), getattr(unbounded, name)
        assert c is None or (ub is not None and c >= ub)
    # b/c come after the pruned 'a' tail but pruning keeps the first
    # 10 a's, so the chain still completes here
    assert capped.t_b == unbounded.t_b and capped.t_c == unbounded.t_c


def test_max_events_per_user_single_exchange(spark, sf_dir):
    """The rank prune shares the fold's shuffle: exactly one Exchange
    on the user key in the whole plan."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = funnel_times(
        ev, "user_id", "ts",
        [("signup", F.col("event_type") == "signup"),
         ("click", F.col("event_type") == "click")],
        max_events_per_user=100,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_composite_key_chains_per_tuple(spark):
    """A (tenant, user) composite key chains per distinct tuple: the
    same user id under two tenants must NOT share a funnel (the bug
    class the single-column form would silently produce)."""
    rows = [
        # tenant 1 / user 1: full a->b->c chain
        (1, 1, "2024-01-01 00:00:00", "a"),
        (1, 1, "2024-01-01 01:00:00", "b"),
        (1, 1, "2024-01-01 02:00:00", "c"),
        # tenant 2 / SAME user id: only the b and c halves -- merging
        # across tenants would wrongly complete this chain
        (2, 1, "2024-01-01 03:00:00", "b"),
        (2, 1, "2024-01-01 04:00:00", "c"),
    ]
    df = spark.createDataFrame(
        [Row(tn=tn, u=u, ts=_ts(t), et=e) for tn, u, t, e in rows]
    )
    out = funnel_times(df, ["tn", "u"], "ts", _steps())
    got = {(r.tn, r.u): (r.t_a, r.t_b, r.t_c) for r in out.collect()}
    assert got[(1, 1)] == (
        _ts("2024-01-01 00:00:00"),
        _ts("2024-01-01 01:00:00"),
        _ts("2024-01-01 02:00:00"),
    )
    assert got[(2, 1)] == (None, None, None)
    # counts twin agrees on the composite form
    counts = {
        r.step: r.n_users
        for r in funnel_counts(
            df, ["tn", "u"], "ts", _steps()
        ).collect()
    }
    assert counts == {"a": 1, "b": 1, "c": 1}


def test_composite_key_empty_rejected(spark):
    df = spark.createDataFrame([Row(u=1, ts=_ts("2024-01-01 00:00:00"), et="a")])
    with pytest.raises(ValueError, match="non-empty"):
        funnel_times(df, [], "ts", _steps())


def test_stream_builder_composite_key_funnel(spark):
    """Stream.funnel_times forwards the FULL key list (regression:
    it used to index key_cols[0], silently merging tenants)."""
    from malstrom_spark import Stream

    df = spark.createDataFrame(
        [
            Row(tn=1, u=1, ts=_ts("2024-01-01 00:00:00"), et="a"),
            Row(tn=2, u=1, ts=_ts("2024-01-01 01:00:00"), et="b"),
        ]
    )
    out = (
        Stream(df)
        .key_by("tn", "u")
        .funnel_times("ts", [("a", F.col("et") == "a"), ("b", F.col("et") == "b")])
        .df
    )
    assert set(out.columns) == {"tn", "u", "t_a", "t_b"}
    got = {(r.tn, r.u): (r.t_a, r.t_b) for r in out.collect()}
    assert got[(1, 1)] == (_ts("2024-01-01 00:00:00"), None)
    assert got[(2, 1)] == (None, None)


def test_advance_chain_object_step_column_warns_nothing():
    """A step column of object dtype holding None (how Arrow hands a
    nullable boolean to pandas) reads None as False without a pandas
    downcasting FutureWarning, which the streaming funnel would
    otherwise print on every call."""
    import warnings

    import pandas as pd

    from malstrom_spark.streaming.funnel import _advance_chain

    pdf = pd.DataFrame({"e_us": [10, 20], "f0": pd.Series([True, None], dtype=object)})
    assert pdf["f0"].dtype == object
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _advance_chain([None], pdf, 1, None) == [10]
