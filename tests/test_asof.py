"""As-of join: the union+window plan must match hand-computed golden
results in every direction (backward: per-key, tie -> larger
tiebreak)."""

import pytest
from pyspark.sql import functions as F

from malstrom_spark.operators.asof import as_of_join


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [("a", 10, 1), ("a", 20, 2), ("b", 15, 3), ("c", 5, 4)],
        "key string, lts long, lid long",
    )
    right = spark.createDataFrame(
        [("a", 5, 100), ("a", 10, 101), ("a", 18, 102), ("b", 15, 103), ("b", 16, 104)],
        "key string, rts long, rid long",
    )
    return left, right


GOLDEN = {1: 101, 2: 102, 3: 103, 4: None}


def test_asof_window_strategy(sides):
    left, right = sides
    out = as_of_join(
        left, right, "key", "lts", "rts", ["rid"], tiebreak="rid"
    )
    got = {r.lid: r.rid for r in out.collect()}
    assert got == GOLDEN


def test_asof_window_tiebreak(spark):
    """Equal right_ts ties must resolve to the largest tiebreak on the
    window path (the last row seen in (ts, side, tb) order)."""
    left = spark.createDataFrame([("a", 10, 1)], "key string, lts long, lid long")
    right = spark.createDataFrame(
        [("a", 10, 7), ("a", 10, 9), ("a", 10, 8)], "key string, rts long, rid long"
    )
    out = as_of_join(
        left, right, "key", "lts", "rts", ["rid"], tiebreak="rid"
    )
    assert out.collect()[0].rid == 9


def test_asof_window_mixed_ts_types(spark):
    """date right_ts against timestamp left_ts promotes to timestamp
    (inclusive <= at midnight), the coercion an equi-join's `<=` would
    apply implicitly."""
    left = spark.createDataFrame(
        [("a", "2024-01-02 00:00:00", 1), ("a", "2024-01-01 23:59:59", 2)],
        "key string, lts string, lid long",
    ).selectExpr("key", "cast(lts as timestamp) lts", "lid")
    right = spark.createDataFrame(
        [("a", "2024-01-01", 100), ("a", "2024-01-02", 101)],
        "key string, rts string, rid long",
    ).selectExpr("key", "cast(rts as date) rts", "rid")
    out = as_of_join(left, right, "key", "lts", "rts", ["rid"])
    got = {r.lid: r.rid for r in out.collect()}
    assert got == {1: 101, 2: 100}


def test_asof_default_strategy_plans(sides):
    """The plan is the union+window shape (one shuffle, no
    row-expanding left join, no Python)."""
    left, right = sides
    plan_default = as_of_join(
        left, right, "key", "lts", "rts", ["rid"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan_default
    assert "FlatMapCoGroupsInPandas" not in plan_default
    assert "BroadcastHashJoin" not in plan_default and "SortMergeJoin" not in plan_default


# ------------------------------------------------- directions (r4)
# forward golden for the shared fixture: smallest rts >= lts per key
#   lid 1 (a,10): rts 10 -> 101 (inclusive); lid 2 (a,20): none
#   lid 3 (b,15): rts 15 -> 103; lid 4 (c,5): none
GOLDEN_FWD = {1: 101, 2: None, 3: 103, 4: None}
# nearest: lid 2 (a,20) -> 102 (|20-18|=2 beats nothing forward);
# lid 4 stays None (no right rows for key c at all)
GOLDEN_NEAR = {1: 101, 2: 102, 3: 103, 4: None}


def _right_as(right, shape):
    """'join': the right side arrives broadcast-hinted, the small
    dimension shape an equi-join engine would be picked for; 'window':
    the plain input. The union+window plan must give the same golden
    result on both."""
    return F.broadcast(right) if shape == "join" else right


@pytest.mark.parametrize("shape", ["join", "window"])
def test_asof_forward_all_strategies(sides, shape):
    left, right = sides
    out = as_of_join(
        left, _right_as(right, shape), "key", "lts", "rts", ["rid"], tiebreak="rid",
        direction="forward",
    )
    assert {r.lid: r.rid for r in out.collect()} == GOLDEN_FWD


@pytest.mark.parametrize("shape", ["join", "window"])
def test_asof_nearest(sides, shape):
    left, right = sides
    out = as_of_join(
        left, _right_as(right, shape), "key", "lts", "rts", ["rid"], tiebreak="rid",
        direction="nearest",
    )
    assert {r.lid: r.rid for r in out.collect()} == GOLDEN_NEAR


def test_asof_forward_tiebreak(spark):
    """Equal right_ts ties resolve to the SMALLEST tiebreak going
    forward — the mirror of backward's largest."""
    left = spark.createDataFrame([("a", 10, 1)], "key string, lts long, lid long")
    right = spark.createDataFrame(
        [("a", 12, 200), ("a", 12, 201)], "key string, rts long, rid long"
    )
    out = as_of_join(
        left, right, "key", "lts", "rts", ["rid"], tiebreak="rid", direction="forward"
    )
    assert out.collect()[0].rid == 200


def test_asof_nearest_tie_prefers_backward(spark):
    left = spark.createDataFrame([("a", 10, 1)], "key string, lts long, lid long")
    right = spark.createDataFrame(
        [("a", 8, 300), ("a", 12, 301)], "key string, rts long, rid long"
    )
    out = as_of_join(
        left, right, "key", "lts", "rts", ["rid"], tiebreak="rid",
        direction="nearest",
    )
    assert out.collect()[0].rid == 300


def test_nearest_same_named_ts(spark):
    """left_ts == right_ts == 'ts' (the most common shape) must not
    raise AMBIGUOUS_REFERENCE on the nearest path."""
    left = spark.createDataFrame([("a", 10, 1)], "key string, ts long, lid long")
    right = spark.createDataFrame(
        [("a", 8, 300), ("a", 13, 301)], "key string, ts long, rid long"
    )
    out = as_of_join(
        left, right, "key", "ts", "ts", ["rid"], tiebreak="rid",
        direction="nearest",
    )
    assert out.collect()[0].rid == 300  # |10-8| < |13-10|


def test_nearest_on_dates(spark):
    """DATE columns (un-castable to double) must work on the nearest
    distance compare."""
    import datetime as dt

    left = spark.createDataFrame(
        [("a", dt.date(2024, 1, 10), 1)], "key string, d date, lid long"
    )
    right = spark.createDataFrame(
        [("a", dt.date(2024, 1, 1), 300), ("a", dt.date(2024, 1, 12), 301)],
        "key string, rd date, rid long",
    )
    out = as_of_join(
        left, right, "key", "d", "rd", ["rid"], tiebreak="rid", direction="nearest"
    )
    assert out.collect()[0].rid == 301  # 2 days beats 9 days
