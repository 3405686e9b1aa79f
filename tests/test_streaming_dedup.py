"""Streaming SimHash near-dup flags (streaming/dedup.py): duplicates
arriving in LATER microbatches are flagged against state built in
earlier ones; verdicts match the batch pipeline on chain-free
corpora; the bucket cap bounds state."""

import pytest
from pyspark.sql import functions as F

from malstrom_spark.sources.bus import bus_produce, register_message_bus_source
from malstrom_spark.streaming.dedup import collapse_dup_flags, simhash_dup_flags_stream

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees"
)
OTHER = "completely different text about spark query engines and shuffle plans"


def _docs_epoch0():
    return [(1, BASE), (2, OTHER)]


def _docs_epoch1():
    return [
        (3, BASE),                              # exact copy of 1 -> dup
        (4, BASE.replace("lazy", "sleepy")),     # near variant of 1
        (5, "yet another unrelated benchmark latency throughput doc"),
    ]


def _produce(spark, bus, docs, epoch):
    df = spark.createDataFrame(docs, "doc_id long, text string").select(
        F.col("doc_id").cast("string").alias("key"),
        F.col("text").alias("value"),
    )
    bus_produce(df, bus, "docs", epoch_id=epoch, n_partitions=2)


def _drain_flags(spark, bus, ck, out):
    register_message_bus_source(spark)
    raw = (
        spark.readStream.format("malstrom_bus")
        .option("path", bus)
        .option("topic", "docs")
        .load()
        .select(
            F.col("key").cast("long").alias("doc_id"), F.col("value").alias("text")
        )
    )
    flags = simhash_dup_flags_stream(raw, "doc_id")
    q = (
        flags.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


def test_streaming_near_dup_flags_across_batches(spark, tmp_path):
    bus, ck, out = str(tmp_path / "bus"), str(tmp_path / "ck"), str(tmp_path / "out")
    _produce(spark, bus, _docs_epoch0(), 0)
    first = collapse_dup_flags(_drain_flags(spark, bus, ck, out), "doc_id").collect()
    assert {r.doc_id: r.is_dup for r in first} == {1: False, 2: False}

    # epoch 1 arrives in a LATER run: dups must be judged against the
    # state persisted in the checkpoint, not just the current batch
    _produce(spark, bus, _docs_epoch1(), 1)
    rows = collapse_dup_flags(_drain_flags(spark, bus, ck, out), "doc_id").collect()
    got = {r.doc_id: (r.is_dup, r.dup_of) for r in rows}
    assert got[3] == (True, 1)          # exact copy, flagged against batch-0 state
    assert got[1] == (False, None) and got[2] == (False, None)
    assert got[5] == (False, None)
    # doc 4's verdict must MATCH THE BATCH PIPELINE (one-word variant:
    # whether Hamming <= 3 is a property of the hash, not of this op)
    from malstrom_spark.functions import dedup

    all_docs = spark.createDataFrame(
        _docs_epoch0() + _docs_epoch1(), "doc_id long, text string"
    )
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_dups(
            all_docs, "doc_id", collapse_exact=False
        ).collect()
    }
    expect_4 = any(b == 4 for (_, b) in batch_pairs)
    assert got[4][0] == expect_4


def test_streaming_dup_bucket_cap_bounds_state(spark, tmp_path):
    """With bucket_cap=1, only the first unique per shard is stored;
    later NON-duplicates are still emitted (never silently dropped)."""
    bus, ck, out = str(tmp_path / "bus"), str(tmp_path / "ck"), str(tmp_path / "out")
    docs = [(i, f"totally unique document number {i} " + "x" * i) for i in range(1, 7)]
    _produce(spark, bus, docs, 0)
    register_message_bus_source(spark)
    raw = (
        spark.readStream.format("malstrom_bus")
        .option("path", bus)
        .option("topic", "docs")
        .load()
        .select(
            F.col("key").cast("long").alias("doc_id"), F.col("value").alias("text")
        )
    )
    flags = simhash_dup_flags_stream(raw, "doc_id", bucket_cap=1)
    q = (
        flags.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    collapsed = collapse_dup_flags(spark.read.parquet(out), "doc_id").collect()
    assert sorted(r.doc_id for r in collapsed) == [1, 2, 3, 4, 5, 6]


def test_streaming_dup_state_ttl_expires(spark, tmp_path):
    """Windowed dedup: with a short TTL and a long pause between runs,
    the bucket state expires and a later exact copy is NOT flagged —
    'duplicate' means within-horizon only (processing-time timer)."""
    import time

    bus, ck, out = str(tmp_path / "bus"), str(tmp_path / "ck"), str(tmp_path / "out")
    _produce(spark, bus, [(1, BASE)], 0)
    register_message_bus_source(spark)

    def drain():
        raw = (
            spark.readStream.format("malstrom_bus")
            .option("path", bus)
            .option("topic", "docs")
            .load()
            .select(
                F.col("key").cast("long").alias("doc_id"),
                F.col("value").alias("text"),
            )
        )
        flags = simhash_dup_flags_stream(raw, "doc_id", state_ttl_sec=1.0)
        q = (
            flags.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    drain()
    time.sleep(3)  # > TTL: bucket state times out on the next run
    _produce(spark, bus, [(2, BASE)], 1)  # exact copy, but horizon passed
    rows = collapse_dup_flags(drain(), "doc_id").collect()
    got = {r.doc_id: r.is_dup for r in rows}
    assert got[1] is False
    assert got[2] is False, "state should have expired past the TTL horizon"


def test_streaming_dup_within_ttl_still_flags(spark, tmp_path):
    """Same shape, generous TTL: the copy inside the horizon flags."""
    bus, ck, out = str(tmp_path / "bus"), str(tmp_path / "ck"), str(tmp_path / "out")
    _produce(spark, bus, [(1, BASE)], 0)
    _produce(spark, bus, [(2, BASE)], 1)
    register_message_bus_source(spark)
    raw = (
        spark.readStream.format("malstrom_bus")
        .option("path", bus)
        .option("topic", "docs")
        .load()
        .select(
            F.col("key").cast("long").alias("doc_id"), F.col("value").alias("text")
        )
    )
    flags = simhash_dup_flags_stream(raw, "doc_id", state_ttl_sec=3600.0)
    q = (
        flags.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.doc_id: r.is_dup
        for r in collapse_dup_flags(spark.read.parquet(out), "doc_id").collect()
    }
    assert got == {1: False, 2: True}
