"""SCD2 history builder (operators/scd.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from malstrom_spark.operators.scd import scd2_history


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _hist(spark, rows, **kw):
    df = spark.createDataFrame([Row(k=k, ts=_ts(t), v=v, tb=i) for i, (k, t, v) in enumerate(rows)])
    out = scd2_history(df, key="k", ts="ts", attrs=["v"], tiebreak="tb", **kw)
    return sorted(
        ((r.k, r.v, r.valid_from, r.valid_to, r.is_current) for r in out.collect()),
        key=lambda t: (t[0], t[2]),
    )


def test_intervals_chain_gap_free(spark):
    got = _hist(
        spark,
        [
            (1, "2024-01-01 00:00:00", "a"),
            (1, "2024-01-02 00:00:00", "b"),
            (1, "2024-01-03 00:00:00", "c"),
        ],
    )
    assert got == [
        (1, "a", _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"), False),
        (1, "b", _ts("2024-01-02 00:00:00"), _ts("2024-01-03 00:00:00"), False),
        (1, "c", _ts("2024-01-03 00:00:00"), None, True),
    ]


def test_unchanged_values_open_no_interval(spark):
    got = _hist(
        spark,
        [
            (1, "2024-01-01 00:00:00", "a"),
            (1, "2024-01-02 00:00:00", "a"),  # no-op change
            (1, "2024-01-03 00:00:00", "b"),
        ],
    )
    # the no-op row is absorbed: 'a' runs until the 'b' change
    assert got == [
        (1, "a", _ts("2024-01-01 00:00:00"), _ts("2024-01-03 00:00:00"), False),
        (1, "b", _ts("2024-01-03 00:00:00"), None, True),
    ]
    raw = _hist(
        spark,
        [
            (1, "2024-01-01 00:00:00", "a"),
            (1, "2024-01-02 00:00:00", "a"),
        ],
        drop_unchanged=False,
    )
    assert len(raw) == 2  # audit mode keeps every event


def test_null_transitions_are_changes(spark):
    got = _hist(
        spark,
        [
            (1, "2024-01-01 00:00:00", "a"),
            (1, "2024-01-02 00:00:00", None),
            (1, "2024-01-03 00:00:00", None),  # null -> null: no-op
            (1, "2024-01-04 00:00:00", "a"),
        ],
    )
    assert [v for _, v, *_ in got] == ["a", None, "a"]


def test_single_shuffle_plan(spark, sf_dir):
    """lag-dedup and lead-close share one window spec; the filter in
    between preserves order, so the whole history builds off a single
    Exchange+Sort on the key."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = scd2_history(
        orders, key="o_custkey", ts="o_orderdate",
        attrs=["o_orderpriority"], tiebreak="o_orderkey",
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints Final AND Initial plans; assert on the final only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final
    assert final.count("Sort [") == 1, final
    assert final.count("Window [") == 2, final  # lag pass + lead pass


def test_streaming_scd2_matches_batch(spark, sf_dir):
    """Streaming twin parity: with the bounded replay, the emitted
    interval set must equal the batch scd2_history exactly."""
    from malstrom_spark.streaming.replay import replay_table, run_to_memory
    from malstrom_spark.streaming.scd import scd2_stream

    stream_out = run_to_memory(
        scd2_stream(
            replay_table(spark, sf_dir, "events"),
            key="user_id", ts="ts", attrs=["event_type"], tiebreak="event_id",
        ),
        output_mode="append",
    )
    batch_out = scd2_history(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        key="user_id", ts="ts", attrs=["event_type"], tiebreak="event_id",
    )
    got = {
        (r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current)
        for r in stream_out.collect()
    }
    want = {
        (r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current)
        for r in batch_out.collect()
    }
    assert got == want and len(got) > 0


def test_empty_attrs_rejected(spark):
    import pytest

    from malstrom_spark.operators.scd import scd2_history

    df = spark.createDataFrame([Row(k=1, ts=_ts("2024-01-01 00:00:00"), v="a")])
    with pytest.raises(ValueError, match="attrs must be non-empty"):
        scd2_history(df, key="k", ts="ts", attrs=[])


def test_consolidate_scd2_collapses_superseded_opens(spark):
    """consolidate_scd2 keeps the closed version of an interval that a
    later microbatch superseded, and re-derives is_current."""
    from malstrom_spark.streaming.scd import consolidate_scd2

    t1, t2 = _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00")
    emitted = spark.createDataFrame(
        [
            # batch 1 emitted v=a as the open interval
            Row(k=1, v="a", valid_from=t1, valid_to=None, is_current=True),
            # batch 2 closed it and opened v=b
            Row(k=1, v="a", valid_from=t1, valid_to=t2, is_current=False),
            Row(k=1, v="b", valid_from=t2, valid_to=None, is_current=True),
        ],
        "k long, v string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    got = sorted(
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in consolidate_scd2(emitted, "k", ["v"]).collect()
    )
    assert got == [(1, "a", t1, t2, False), (1, "b", t2, None, True)]


def test_streaming_scd2_nullable_int_attr_default_mode(spark):
    """Default (fill-forward) twin with a nullable long attr: the
    scalar state round-trip must keep real ints and null-close
    correctly (companion to the disorder-mode regression in
    test_disorder.py)."""
    import datetime as dt

    from malstrom_spark.streaming.scd import scd2_stream
    from malstrom_spark.testing import OperatorTester

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    t = OperatorTester(
        spark,
        "user_id long, ts timestamp, event_id long, tier long",
        op=lambda sdf: scd2_stream(
            sdf, key="user_id", ts="ts", attrs=["tier"], tiebreak="event_id"
        ),
    )
    m = lambda k: base + dt.timedelta(minutes=k)  # noqa: E731
    try:
        rows = []
        t.send([(1, m(0), 0, 3), (1, m(2), 1, None)])
        rows += [r for b in t.step() for r in b]
        t.send([(1, m(4), 2, 5)])
        rows += [r for b in t.step() for r in b]
    finally:
        t.stop()
    latest = {}
    for r in rows:
        k = (r.tier, r.valid_from)
        if k not in latest or (latest[k] is None and r.valid_to is not None):
            latest[k] = r.valid_to
    assert sorted(latest.items(), key=lambda kv: kv[0][1]) == [
        ((3, m(0)), m(2)),
        ((None, m(2)), m(4)),
        ((5, m(4)), None),
    ]


@pytest.mark.parametrize("horizon", [None, "10 minutes"])
def test_streaming_scd2_tiebreak_may_be_a_tracked_attr(spark, horizon):
    """Both modes accept a tiebreak that is also a tracked attribute;
    same-ts events then order by it."""
    from malstrom_spark.streaming.scd import scd2_stream
    from malstrom_spark.testing import OperatorTester

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    m = lambda k: base + dt.timedelta(minutes=k)  # noqa: E731
    t = OperatorTester(
        spark,
        "user_id long, ts timestamp, rev long",
        op=lambda sdf: scd2_stream(
            sdf, key="user_id", ts="ts", attrs=["rev"], tiebreak="rev",
            disorder_horizon=horizon,
        ),
    )
    try:
        t.send([(1, m(0), 2), (1, m(0), 1), (1, m(3), 3)])
        t.send([(99, m(600), 0)])  # moves the watermark past every event
        rows = [r for b in t.step() for r in b]
    finally:
        t.stop()
    latest = {}
    for r in rows:
        k = (r.user_id, r.rev, r.valid_from)
        if k not in latest or (latest[k] is None and r.valid_to is not None):
            latest[k] = r.valid_to
    got = sorted((rev, vf, vt) for (u, rev, vf), vt in latest.items() if u == 1)
    assert got == [(1, m(0), m(0)), (2, m(0), m(3)), (3, m(3), None)]


def test_scd2_lookup_point_in_time(spark):
    """scd2_lookup: each fact joins the interval containing its ts;
    facts before the first interval keep null attrs (left); boundary
    semantics are half-open [valid_from, valid_to)."""
    from malstrom_spark.operators.scd import scd2_history, scd2_lookup

    events = spark.createDataFrame(
        [Row(k=1, ts=_ts(t), v=v, tb=i) for i, (t, v) in enumerate([
            ("2024-01-01 00:00:00", "bronze"),
            ("2024-01-10 00:00:00", "silver"),
            ("2024-01-20 00:00:00", "gold"),
        ])]
    )
    dim = scd2_history(events, key="k", ts="ts", attrs=["v"], tiebreak="tb")
    facts = spark.createDataFrame(
        [
            Row(fid=0, k=1, at=_ts("2023-12-25 00:00:00")),  # before history
            Row(fid=1, k=1, at=_ts("2024-01-05 00:00:00")),  # bronze
            Row(fid=2, k=1, at=_ts("2024-01-10 00:00:00")),  # boundary -> silver
            Row(fid=3, k=1, at=_ts("2024-01-19 23:59:59")),  # silver
            Row(fid=4, k=1, at=_ts("2024-06-01 00:00:00")),  # open interval
            Row(fid=5, k=2, at=_ts("2024-01-05 00:00:00")),  # unknown key
        ]
    )
    out = scd2_lookup(facts, dim, key="k", ts="at")
    got = {r.fid: r.v for r in out.collect()}
    assert got == {0: None, 1: "bronze", 2: "silver", 3: "silver",
                   4: "gold", 5: None}
    assert out.count() == facts.count()  # at most one interval matches

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_lookup_streaming_facts(spark):
    """Point-in-time enrichment works with a STREAMING fact side: the
    SCD2 dim is static/broadcastable, the containment predicate rides
    the stream-static left join — per-microbatch lookups, no state."""
    from malstrom_spark.operators.scd import scd2_history, scd2_lookup
    from malstrom_spark.testing import OperatorTester

    events = spark.createDataFrame(
        [Row(k=1, ts=_ts(t), v=v, tb=i) for i, (t, v) in enumerate([
            ("2024-01-01 00:00:00", "bronze"),
            ("2024-01-10 00:00:00", "gold"),
        ])]
    )
    dim = scd2_history(events, key="k", ts="ts", attrs=["v"], tiebreak="tb")

    t = OperatorTester(
        spark,
        "fid long, k long, at timestamp",
        op=lambda sdf: scd2_lookup(sdf, dim, key="k", ts="at"),
    )
    try:
        t.send([(1, 1, _ts("2024-01-05 00:00:00")),
                (2, 1, _ts("2024-02-01 00:00:00")),
                (3, 9, _ts("2024-01-05 00:00:00"))])
        rows = [r for b in t.step() for r in b]
    finally:
        t.stop()
    got = {r.fid: r.v for r in rows}
    assert got == {1: "bronze", 2: "gold", 3: None}


def test_scd2_lookup_rejects_dim_without_intervals(spark):
    """dim lacking valid_from/valid_to is a usage error, not a
    silent AnalysisException deep in the join."""
    import pytest

    from malstrom_spark.operators.scd import scd2_lookup

    facts = spark.createDataFrame([Row(k=1, at=_ts("2024-01-01 00:00:00"))])
    dim = spark.createDataFrame([Row(k=1, v="bronze")])
    with pytest.raises(ValueError, match="valid_from"):
        scd2_lookup(facts, dim, key="k", ts="at")


def test_scd2_lookup_rejects_overlapping_nonkey_columns(spark):
    """facts and dim sharing a non-key column would emit ambiguous
    duplicate output names; raise up front instead."""
    import pytest

    from malstrom_spark.operators.scd import scd2_history, scd2_lookup

    events = spark.createDataFrame(
        [Row(k=1, ts=_ts("2024-01-01 00:00:00"), v="bronze", tb=0)]
    )
    dim = scd2_history(events, key="k", ts="ts", attrs=["v"], tiebreak="tb")
    facts = spark.createDataFrame(
        [Row(k=1, at=_ts("2024-01-05 00:00:00"), v="fact-side")]
    )
    with pytest.raises(ValueError, match="ambiguous|both facts"):
        scd2_lookup(facts, dim, key="k", ts="at")
