"""Event-time TTL eviction: a key idle past its TTL relative to the
WATERMARK loses its state when the watermark passes (epoch-driven
expiry — not wall clock). A later record for the key then starts
fresh. Timers only fire in a batch where the key has no data, so the
sequences interleave a second key to advance the watermark.
"""

from datetime import datetime, timezone

import pytest


def t(s):
    return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)


def _run_ttl(spark, tmp_path, name, schema, batches, delay="0 seconds"):
    """Counts per key from a one-file-per-batch replay of `batches`
    through a 10 s event-time TTL on the watermarked `ts`."""
    import pandas as pd

    from malstrom_spark.streaming.stateful import ttl_map_event_stream

    def counting(key, pdfs, state):
        n = state[0] if state else 0
        for pdf in pdfs:
            n += len(pdf)
        out = pd.DataFrame({"k": [key[0]], "n": [n]})
        return [out], (n,)

    staging = tmp_path / "in"
    staging.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(staging / f"b{i}"))

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staging) + "/b*")
        .withWatermark("ts", delay)
    )
    out = ttl_map_event_stream(
        sdf, ["k"], counting, output_schema="k string, n long",
        state_schema="n long", ttl_ms=10_000,
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [(r.k, r.n) for r in spark.table(name).collect()]
    return {k: sorted(n for kk, n in rows if kk == k) for k in ("A", "B")}, rows


def test_event_time_ttl_evicts_idle_key(spark, tmp_path):
    counts, rows = _run_ttl(spark, tmp_path, "ttl_et", "k string, ts timestamp", [
        [("A", t(100))],   # A: state n=1, ttl timer at 100+10=110s
        [("B", t(5000))],  # watermark -> 5000s (far past A's 110s)
        [("B", t(5002))],  # A has no data here -> its TTL fires, state dropped
        [("A", t(5003))],  # A returns: must start fresh at n=1
    ])
    assert counts["A"] == [1, 1], rows  # second visit restarted — state was evicted
    assert counts["B"] == [1, 2], rows  # B stayed within TTL, state survived


def test_event_time_ttl_reads_the_watermarked_column(spark, tmp_path):
    """A timestamp column placed before the watermarked `ts` is not the
    event time: its far-future values must not postpone A's eviction."""
    far = t(4_000_000_000)
    counts, rows = _run_ttl(
        spark, tmp_path, "ttl_et_col", "k string, created timestamp, ts timestamp",
        [
            [("A", far, t(100))],
            [("B", far, t(5000))],
            [("B", far, t(5002))],
            [("A", far, t(5003))],
        ],
    )
    assert counts["A"] == [1, 1], rows


def test_event_time_ttl_timer_never_moves_backwards(spark, tmp_path):
    """A late in-watermark record (A@995 after A@1000) keeps A's
    eviction at last-seen + TTL = 1010 s: a watermark at 1006-1007 s
    must not evict A, so A's third record continues its count."""
    counts, rows = _run_ttl(
        spark, tmp_path, "ttl_et_back", "k string, ts timestamp",
        [
            [("A", t(1000))],  # watermark -> 990 s
            [("A", t(995))],   # in watermark; last-seen stays 1000 s
            [("B", t(1016))],  # watermark -> 1006 s
            [("B", t(1017))],  # watermark -> 1007 s, A idle in this batch
            [("A", t(1018))],
        ],
        delay="10 seconds",
    )
    assert counts["A"] == [1, 2, 3], rows


def test_event_time_ttl_requires_a_watermark(spark):
    from malstrom_spark.streaming.stateful import ttl_map_event_stream

    with pytest.raises(ValueError, match="watermarked"):
        ttl_map_event_stream(
            spark.range(1), ["id"], lambda *a: None, "id long", "n long", 10_000
        )
