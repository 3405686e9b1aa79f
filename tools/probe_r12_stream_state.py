"""Round-12 streaming state-cardinality probe (VERDICT r11 #4): the
streaming twins bound PER-KEY state (bucket_cap, TTL horizons, MG
summaries), but no probe had grown distinct-KEY cardinality against
the RocksDB store. This grows keys 100x at a FIXED event count and
books, per operator:

  - wall time (per-event cost must stay ~flat: the work is per event,
    not per stored key),
  - state rows from the final StreamingQueryProgress
    (`numRowsTotal`): linear in keys for running totals (that IS the
    operator's contract), CONSTANT for Misra-Gries heavy hitters
    (k x shards regardless of cardinality), bounded by
    buckets x bucket_cap for streaming simhash dedup,
  - on-disk RocksDB store size (checkpoint state/ bytes).

Methodology: synthesized parquet replay (the bench.py harness shape),
availableNow trigger, RocksDB provider from session.py, one untimed
warm-up run per operator, solo.

Usage: python tools/probe_r12_stream_state.py [totals|heavy|dedup ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from malstrom_spark.session import build_session  # noqa: E402

N_EVENTS = 2_000_000
N_DOCS = 100_000  # dedup probe: simhash is compute-heavy per event
KEY_SCALES = [1_000, 10_000, 100_000]
STAGE = "/tmp/malstrom_probe_state_in"
CKPT_ROOT = "/tmp/malstrom_probe_state_ckpt"


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _drain(build_sink, ckpt: str):
    q = (
        build_sink()
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = None
    for p in reversed(q.recentProgress):
        d = json.loads(p.json) if hasattr(p, "json") else p
        ops = d.get("stateOperators") or []
        if ops and ops[0].get("numRowsTotal") is not None:
            rows = ops[0]["numRowsTotal"]
            break
    return rows


def _stage_events(spark, n_keys: int):
    shutil.rmtree(STAGE, ignore_errors=True)
    spark.range(N_EVENTS).select(
        (F.col("id") % n_keys).alias("user_id"),
        (F.col("id") % 97).cast("double").alias("value"),
    ).repartition(8).write.parquet(STAGE)
    return spark.read.parquet(STAGE).schema


def _stage_docs(spark, n_keys: int):
    # n_keys DISTINCT texts replicated to N_DOCS rows: state is keyed
    # by simhash chunk buckets, so distinct-content growth is what
    # stresses the store
    shutil.rmtree(STAGE, ignore_errors=True)
    words = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"w{j}x"), ((F.col("id") % n_keys) * (j + 1) % 9973).cast("string"))
            for j in range(12)
        ],
    )
    spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"), words.alias("text")
    ).repartition(8).write.parquet(STAGE)
    return spark.read.parquet(STAGE).schema


def _run(name: str, stage_fn, sink_fn, spark, warmed: set):
    print(f"== {name} ==", flush=True)
    for n_keys in KEY_SCALES:
        schema = stage_fn(spark, n_keys)
        sdf = spark.readStream.format("parquet").schema(schema).load(STAGE)

        def go():
            ckpt = f"{CKPT_ROOT}_{name}_{n_keys}_{time.monotonic_ns()}"
            t0 = time.perf_counter()
            rows = _drain(lambda: sink_fn(sdf), ckpt)
            dt = time.perf_counter() - t0
            size = _du(os.path.join(ckpt, "state"))
            shutil.rmtree(ckpt, ignore_errors=True)
            return dt, rows, size

        if name not in warmed:
            go()  # session one-time costs, untimed
            warmed.add(name)
        dt, rows, size = min((go() for _ in range(2)), key=lambda r: r[0])
        n_in = N_DOCS if name == "dedup" else N_EVENTS
        print(
            f"  keys={n_keys:>7} | wall={dt:6.2f}s | {n_in / dt / 1e3:8.1f}k ev/s "
            f"| state rows={rows} | store={size / 1e6:.1f} MB",
            flush=True,
        )


def main():
    only = set(sys.argv[1:])
    spark = build_session(app_name="probe-r12-state")

    def totals_sink(sdf):
        from malstrom_spark.streaming.stateful import running_totals_stream

        return (
            running_totals_stream(sdf, "user_id", "value")
            .writeStream.format("noop").outputMode("append")
        )

    def heavy_sink(sdf):
        from malstrom_spark.streaming.heavy import heavy_hitter_candidates_stream

        return (
            heavy_hitter_candidates_stream(
                sdf.select(F.col("user_id").cast("string").alias("item")),
                "item", k=30,
            )
            .writeStream.format("noop").outputMode("append")
        )

    def dedup_sink(sdf):
        from malstrom_spark.streaming.dedup import simhash_dup_flags_stream

        return (
            simhash_dup_flags_stream(sdf, "doc_id", "text", bucket_cap=256)
            .writeStream.format("noop").outputMode("append")
        )

    warmed: set = set()
    if not only or "totals" in only:
        _run("totals", _stage_events, totals_sink, spark, warmed)
    if not only or "heavy" in only:
        _run("heavy", _stage_events, heavy_sink, spark, warmed)
    if not only or "dedup" in only:
        _run("dedup", _stage_docs, dedup_sink, spark, warmed)


if __name__ == "__main__":
    main()
