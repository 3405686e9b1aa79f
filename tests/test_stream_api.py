"""Stream builder API surface: the wrapper must compose the operator
modules correctly (golden checks on small frames, mirroring the
reference's builder doctests, e.g. map.rs:12-38)."""

from datetime import datetime

from pyspark.sql import functions as F

from malstrom_spark.stream import Stream


def test_salted_agg_via_stream(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "k string, v double"
    )
    out = (
        Stream.from_df(df)
        .key_by("k")
        .salted_agg({"total": ("sum", F.col("v")), "n": ("count", F.col("v"))}, n_salts=4)
    )
    got = {r.k: (r.total, r.n) for r in out.collect()}
    assert got == {"a": (3.0, 2), "b": (5.0, 1)}


def test_sliding_window_via_stream(spark):
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    df = spark.createDataFrame(
        [("u", t(0), 1.0), ("u", t(15), 2.0), ("u", t(25), 4.0)],
        "k string, ts timestamp, v double",
    )
    out = (
        Stream.from_df(df, key_cols=("k",), ts_col="ts")
        .sliding_window("20 seconds", "10 seconds", {"total": F.sum("v")})
        .collect()
    )
    by_start = {r.window_start.second: r.total for r in out}
    # windows sliding by 10s: [-10,10)->1, [0,20)->3, [10,30)->6, [20,40)->4
    assert by_start[0] == 3.0 and by_start[10] == 6.0 and by_start[20] == 4.0


def test_as_of_join_via_stream(spark):
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [("k1", t(10)), ("k1", t(30)), ("k2", t(10))], "key string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("k1", t(5), 100.0), ("k1", t(20), 200.0), ("k2", t(50), 999.0)],
        "key string, rts timestamp, px double",
    )
    out = (
        Stream.from_df(left, key_cols=("key",))
        .as_of_join(Stream.from_df(right), "ts", "rts", ["px"])
        .collect()
    )
    got = {(r.key, r.ts.second): r.px for r in out}
    assert got == {("k1", 10): 100.0, ("k1", 30): 200.0, ("k2", 10): None}


def test_temporal_operators_via_stream(spark):
    """Round-5 fluent surface: funnel, SCD2 (history + point-in-time
    lookup), range join and hypertable rollup compose off the Stream
    builder exactly like their module forms."""
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    ev = spark.createDataFrame(
        [(1, t(0), "a"), (1, t(10), "b"), (1, t(20), "a"), (2, t(5), "a")],
        "u long, ts timestamp, et string",
    )
    s = Stream.from_df(ev, key_cols=("u",), ts_col="ts")

    chain = {
        r.u: (r.t_a, r.t_b)
        for r in s.funnel_times(
            "ts", [("a", F.col("et") == "a"), ("b", F.col("et") == "b")]
        ).collect()
    }
    assert chain == {1: (t(0), t(10)), 2: (t(5), None)}

    hist = s.scd2_history("ts", ["et"])
    assert hist.df.filter("is_current").count() == 2

    dim = hist.map({"state": F.col("et")})
    dim = Stream.from_df(dim.df.select("u", "state", "valid_from", "valid_to"))
    facts = Stream.from_df(
        spark.createDataFrame([(10, 1, t(15))], "fid long, u long, at timestamp"),
        key_cols=("u",),
    )
    looked = facts.scd2_lookup(dim, "at").collect()
    assert [r.state for r in looked] == ["b"]

    windows = Stream.from_df(
        spark.createDataFrame(
            [(1, t(5), t(15), 100)], "u long, s timestamp, e timestamp, wid long"
        )
    )
    rj = s.range_join(windows, "ts", "s", "e").collect()
    assert [(r.ts, r.wid) for r in rj] == [(t(10), 100)]

    roll = Stream.from_df(ev, key_cols=("et",)).hypertable_rollup(
        "ts", {"n": ("count", F.lit(1))}, grains=("hour", "day")
    )
    assert {r.grain for r in roll.collect()} == {"hour", "day"}


def test_key_local_refuses_silent_overwrite(spark):
    """key_local(key, key_col) with key_col naming a DIFFERENT existing
    column would clobber that column's values (the round-6 test-authoring
    trap: key_local("tn", "u") aliased tn INTO u). Guarded since r7."""
    import pytest
    from malstrom_spark.operators import keyed

    df = spark.createDataFrame([(1, 2)], "tn int, u int")
    with pytest.raises(ValueError, match="overwrite"):
        keyed.key_local(df, "tn", "u")
    # self-reference forms stay legal (no-op overwrite)
    assert keyed.key_local(df, "u", "u").columns == ["tn", "u"]
    assert keyed.key_local(df, F.col("u"), "u").columns == ["tn", "u"]
    # fresh key_col stays legal
    assert keyed.key_local(df, "tn", "key").columns == ["tn", "u", "key"]
