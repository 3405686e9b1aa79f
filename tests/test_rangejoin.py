"""Range (interval) join + hypertable rollup (round 4).

Plan-equality pins: the keyed join, the bin join and the broadcast
join must produce identical pair sets; plan shape pins: the bin join
must plan an
equi-join (no BroadcastNestedLoop / CartesianProduct) even with NO
equi-keys, and the hypertable rollup's coarser grains must reuse the
finest grain's aggregate exchange instead of rescanning raw data.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from malstrom_spark.operators.rangejoin import range_join
from malstrom_spark.operators.windows import hypertable_rollup


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def points(spark):
    rows = [
        Row(k=1, pid=1, ts=_ts("2024-01-01 00:30:00")),
        Row(k=1, pid=2, ts=_ts("2024-01-03 12:00:00")),
        Row(k=2, pid=3, ts=_ts("2024-01-03 12:00:00")),
        Row(k=2, pid=4, ts=_ts("2024-02-01 00:00:00")),
        Row(k=3, pid=5, ts=_ts("2024-01-10 00:00:00")),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def intervals(spark):
    rows = [
        # k=1: window covering Jan 1-2, window covering Jan 3-5
        Row(k=1, wid=10, start=_ts("2024-01-01 00:00:00"), end=_ts("2024-01-02 00:00:00")),
        Row(k=1, wid=11, start=_ts("2024-01-03 00:00:00"), end=_ts("2024-01-05 00:00:00")),
        # k=2: overlapping windows both containing Jan 3 12:00
        Row(k=2, wid=20, start=_ts("2024-01-02 00:00:00"), end=_ts("2024-01-04 00:00:00")),
        Row(k=2, wid=21, start=_ts("2024-01-03 00:00:00"), end=_ts("2024-01-06 00:00:00")),
        # k=3: empty window (start == end, half-open -> matches nothing)
        Row(k=3, wid=30, start=_ts("2024-01-10 00:00:00"), end=_ts("2024-01-10 00:00:00")),
        # k=9: no points with this key
        Row(k=9, wid=90, start=_ts("2024-01-01 00:00:00"), end=_ts("2024-12-31 00:00:00")),
    ]
    return spark.createDataFrame(rows)


def _pairs(df):
    return sorted((r.pid, r.wid) for r in df.select("pid", "wid").collect())


EXPECTED = [(1, 10), (2, 11), (3, 20), (3, 21)]


def test_keyed_join_strategy(points, intervals):
    out = range_join(points, intervals, "ts", "start", "end", keys=["k"])
    assert _pairs(out) == EXPECTED
    # half-open: point exactly at end excluded; empty window matches nothing
    out_incl = range_join(
        points, intervals, "ts", "start", "end", keys=["k"], end_inclusive=True
    )
    assert (5, 30) in _pairs(out_incl)


def test_bin_strategy_matches_join(points, intervals):
    for width in ("1 day", "3 days", "90 minutes"):
        out = range_join(points, intervals, "ts", "start", "end", keys=["k"], bin_width=width)
        assert _pairs(out) == EXPECTED, width


def test_unkeyed_bin_matches_broadcast(points, intervals):
    bc = range_join(points, intervals.drop("k"), "ts", "start", "end", broadcast_right=True)
    bn = range_join(points, intervals.drop("k"), "ts", "start", "end", bin_width="2 days")
    assert _pairs(bn) == _pairs(bc)


def test_unkeyed_join_refused(points, intervals):
    """Unkeyed, with neither bin_width nor broadcast_right: refused,
    naming both ways out, rather than planning a nested-loop join."""
    with pytest.raises(ValueError, match="bin_width.*broadcast_right"):
        range_join(points, intervals.drop("k"), "ts", "start", "end")


def test_unkeyed_bin_plan_is_equi_join(points, intervals):
    """The whole point of the bin join: no nested-loop even with zero
    equi-keys — the synthetic bin column carries the join."""
    out = range_join(points, intervals.drop("k"), "ts", "start", "end", bin_width="2 days")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rollup_values_match_direct(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = hypertable_rollup(
        ev, "ts", keys=["event_type"],
        aggs={
            "n": ("count", F.lit(1)),
            "sv": ("sum", F.col("value").cast("decimal(18,6)")),
            "mn": ("min", F.col("value")),
            "mx": ("max", F.col("value")),
        },
        grains=("hour", "day", "week"),
    ).cache()
    try:
        for grain in ("hour", "day", "week"):
            direct = (
                ev.groupBy(
                    F.date_trunc(grain, "ts").alias("bucket"), "event_type"
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
                    F.min("value").alias("mn"),
                    F.max("value").alias("mx"),
                )
            )
            got = out.filter(F.col("grain") == grain).drop("grain")
            sym = got.select(direct.columns).exceptAll(direct).count() + direct.exceptAll(
                got.select(direct.columns)
            ).count()
            assert sym == 0, f"grain {grain} diverges from direct aggregation"
    finally:
        out.unpersist()


def test_rollup_reuses_partial_exchange(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = hypertable_rollup(
        ev, "ts", keys=["event_type"],
        aggs={"n": ("count", F.lit(1))}, grains=("hour", "day", "week"),
    )
    out.collect()  # AQE materializes reuse at runtime -> final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # day AND week branches hang off the hour partials' exchange: one
    # materialized shuffle of raw data, two reuses
    assert plan.count("ReusedExchange") == 2


def test_rollup_rejects_non_decomposable():
    with pytest.raises(ValueError, match="decomposable"):
        hypertable_rollup(None, "ts", [], {"a": ("avg", F.col("x"))})


# ---------------------------------------------------------- property
from hypothesis import given, settings, strategies as st  # noqa: E402

_POINT = st.integers(min_value=0, max_value=500)


@settings(max_examples=8, deadline=None)
@given(
    pts=st.lists(_POINT, min_size=1, max_size=30),
    wins=st.lists(st.tuples(_POINT, st.integers(min_value=0, max_value=60)),
                  min_size=1, max_size=15),
    width=st.sampled_from(["1 minute", "7 minutes", "1 hour"]),
)
def test_bin_equals_reference_on_random_data(spark, pts, wins, width):
    """For ANY point/interval layout and ANY bin width, the bin
    join must produce exactly the pairs a nested-loop (broadcast)
    join produces — including empty, touching and contained
    intervals."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    mins = lambda m: base + dt.timedelta(minutes=int(m))  # noqa: E731
    left = spark.createDataFrame(
        [(i, mins(p)) for i, p in enumerate(pts)], "pid int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(i, mins(s), mins(s + d)) for i, (s, d) in enumerate(wins)],
        "wid int, s timestamp, e timestamp",
    )
    expect = sorted(
        (pi, wi)
        for pi, p in enumerate(pts)
        for wi, (s, d) in enumerate(wins)
        if s <= p < s + d
    )
    got = range_join(left, right, "ts", "s", "e", bin_width=width)
    assert sorted((r.pid, r.wid) for r in got.collect()) == expect


def test_numeric_bin_join(spark):
    """The docstring promises numeric point/interval columns; the bin
    join must honor it (numeric bin_width, no unix_timestamp)."""
    pts = spark.createDataFrame([(1, 5.0), (2, 42.5), (3, -3.0)], "pid int, x double")
    wins = spark.createDataFrame(
        [(10, 0.0, 10.0), (11, 40.0, 45.0), (12, -10.0, 0.0)],
        "wid int, s double, e double",
    )
    out = range_join(pts, wins, "x", "s", "e", bin_width=7.0)
    assert sorted((r.pid, r.wid) for r in out.collect()) == [(1, 10), (2, 11), (3, 12)]
    with pytest.raises(ValueError, match="numeric bin_width"):
        range_join(pts, wins, "x", "s", "e", bin_width="7 days")


def test_subsecond_bin_width(spark):
    """Micros-exact binning: sub-second widths must neither divide by
    zero nor silently coarsen (the old seconds-truncation failure)."""
    base = dt.datetime(2024, 1, 1)
    ms = lambda m: base + dt.timedelta(milliseconds=m)  # noqa: E731
    pts = spark.createDataFrame([(1, ms(100)), (2, ms(900))], "pid int, ts timestamp")
    wins = spark.createDataFrame(
        [(10, ms(0), ms(500)), (11, ms(600), ms(1000))],
        "wid int, s timestamp, e timestamp",
    )
    out = range_join(pts, wins, "ts", "s", "e", bin_width="250 milliseconds")
    assert sorted((r.pid, r.wid) for r in out.collect()) == [(1, 10), (2, 11)]
    with pytest.raises(ValueError, match="calendar unit"):
        range_join(pts, wins, "ts", "s", "e", bin_width="1 month")


def test_rollup_grain_validation(spark):
    """Non-nesting and misordered grain chains fail loudly instead of
    silently emitting wrong buckets (round-5 ADVICE)."""
    aggs = {"n": ("count", F.lit(1))}
    with pytest.raises(ValueError, match="finest -> coarsest"):
        hypertable_rollup(None, "ts", [], aggs, grains=("day", "hour"))
    with pytest.raises(ValueError, match="does not nest"):
        hypertable_rollup(None, "ts", [], aggs, grains=("week", "month"))
    with pytest.raises(ValueError, match="does not nest"):
        hypertable_rollup(None, "ts", [], aggs, grains=("week", "year"))
    with pytest.raises(ValueError, match="unknown grain"):
        hypertable_rollup(None, "ts", [], aggs, grains=("hour", "fortnight"))
    with pytest.raises(ValueError, match="non-empty"):
        hypertable_rollup(None, "ts", [], aggs, grains=())


def test_rollup_mixed_calendar_families_from_day(spark, sf_dir):
    """week AND month may share a chain when the finest grain nests in
    both (day nests in week and in month) — only deriving month FROM
    week is wrong; deriving both from day partials is exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = hypertable_rollup(
        ev, "ts", keys=[], aggs={"n": ("count", F.lit(1))},
        grains=("day", "week", "month"),
    )
    month = {
        (r.bucket, r.n) for r in out.filter(F.col("grain") == "month").collect()
    }
    direct = {
        (r.bucket, r.n)
        for r in ev.groupBy(F.date_trunc("month", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert month == direct


def test_rollup_approx_distinct_sketches(spark, sf_dir):
    """approx_distinct partials are mergeable HLL sketches: every
    grain's estimate tracks the exact COUNT(DISTINCT) within HLL
    error, and the day/week branches derive from the hour partials
    (same ReusedExchange shape as the other kinds)."""
    from malstrom_spark.queries import table

    ev = table(spark, sf_dir, "events")
    out = hypertable_rollup(
        ev, "ts", keys=["event_type"],
        aggs={"users": ("approx_distinct", F.col("user_id")),
              "n": ("count", F.lit(1))},
        grains=("hour", "day", "week"),
    ).cache()
    try:
        for grain in ("hour", "day", "week"):
            exact = {
                (r.bucket, r.event_type): r.u
                for r in ev.groupBy(
                    F.date_trunc(grain, "ts").alias("bucket"), "event_type"
                ).agg(F.countDistinct("user_id").alias("u")).collect()
            }
            got = {
                (r.bucket, r.event_type): r.users
                for r in out.filter(F.col("grain") == grain).collect()
            }
            assert set(got) == set(exact)
            for k, est in got.items():
                # default lgConfigK=12 -> ~1.6% rel err; allow 5%
                assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (
                    grain, k, est, exact[k]
                )
    finally:
        out.unpersist()


def test_rollup_approx_distinct_from_persisted_partials(spark, sf_dir):
    """The continuous-aggregate path holds for sketches too: binary
    HLL partials persist in the bucketed stage table and coarser
    grains derive from them exchange-free with identical estimates."""
    from malstrom_spark.operators.bucketing import persist_stage
    from malstrom_spark.operators.windows import (
        hypertable_from_partials,
        hypertable_partials,
    )
    from malstrom_spark.queries import table

    ev = table(spark, sf_dir, "events")
    aggs = {"users": ("approx_distinct", F.col("user_id"))}
    persist_stage(
        hypertable_partials(ev, "ts", ["event_type"], aggs, grain="hour"),
        "stage_ht_hll", ["event_type"], n_buckets=8,
        sort_cols=["event_type", "bucket"],
    )
    try:
        out = hypertable_from_partials(
            spark.table("stage_ht_hll"), ["event_type"], aggs,
            grains=("hour", "day", "week"),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        direct = hypertable_rollup(
            ev, "ts", ["event_type"], aggs, grains=("hour", "day", "week")
        )
        got = {(r.grain, r.bucket, r.event_type): r.users for r in out.collect()}
        want = {(r.grain, r.bucket, r.event_type): r.users for r in direct.collect()}
        assert got == want  # same sketches -> same estimates
    finally:
        spark.sql("DROP TABLE IF EXISTS stage_ht_hll")
