"""running_totals_stream over three microbatches: one emission per
touched key per batch, and the last emission per key equal to SQL
COUNT(*) / DECIMAL SUM over all input — across keys that share a key
group, a null key, null values, keys beyond 2^53 and negative values."""

import duckdb
from pyspark.sql import functions as F

from malstrom_spark.streaming.stateful import KEY_GROUPS, running_totals_stream
from malstrom_spark.testing import OperatorTester

BIG = 2**53 + 1


def _batches():
    many = list(range(-150, 150))  # more keys than groups
    b1 = [(k, k * 1.25 - 3.07) for k in many] + [(BIG, 0.01), (-BIG, -99.99)]
    b2 = (
        [(k, -0.5) for k in many[::3]]
        + [(None, 4.2), (None, None), (7, None), (BIG, 12.34), (BIG, None)]
        + [(1_000_003, None), (1_000_003, None)]  # a key whose values are all null
    )
    b3 = [(k, 0.05) for k in many[::7]] + [(None, -1.1), (-BIG, None), (1_000_003, None)]
    return [b1, b2, b3]


def test_running_totals_match_sql(spark, tmp_path):
    batches = _batches()

    # the input really exercises groups holding several touched keys
    keys = spark.createDataFrame([(k,) for k, _ in batches[0]], "user_id long")
    shared = keys.groupBy(F.pmod(F.xxhash64("user_id"), F.lit(KEY_GROUPS))).count()
    assert shared.agg(F.max("count")).first()[0] > 1

    t = OperatorTester(
        spark,
        "user_id long, value double",
        op=lambda sdf: running_totals_stream(sdf, "user_id", "value"),
        work_dir=str(tmp_path / "opt"),
    )
    try:
        emitted = []
        for rows in batches:
            t.send(rows)
            (out,) = t.step()
            emitted.append(out)
    finally:
        t.stop()

    last = {}
    for rows, out in zip(batches, emitted):
        got = [r.user_id for r in out]
        assert len(got) == len(set(got))  # one row per touched key
        assert set(got) == {k for k, _ in rows}
        last.update({r.user_id: (r.n_events, r.total_value) for r in out})

    con = duckdb.connect()
    con.execute("CREATE TABLE ev (user_id BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO ev VALUES (?, ?)", [r for b in batches for r in b])
    want = {
        k: (n, total)
        for k, n, total in con.execute(
            "SELECT user_id, COUNT(*), CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) "
            "FROM ev GROUP BY user_id"
        ).fetchall()
    }
    assert last == want
    assert last[None] == (3, 3.1)
    assert last[1_000_003] == (3, None)
    assert last[BIG] == (3, 12.35) and last[-BIG] == (2, -99.99)
