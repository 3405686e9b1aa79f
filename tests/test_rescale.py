"""Rescale parity (SURVEY §2.9): the reference proves keyed state
survives a change in the worker set — state is re-routed to the new
workers on resume (keyed/distributed/message_router.rs:86-125,
rescale integration in runtime tests). Spark's analog: state-store
partitions are *logical* (spark.sql.shuffle.partitions at first
start), decoupled from physical executors, so changing cluster size
needs zero app-level state movement — any executor can load any
state partition from the checkpoint.

This test restarts a checkpointed keyed running-total under a
DIFFERENT physical parallelism (local[8] -> local[2]) and a different
requested shuffle-partition count, each incarnation in its own JVM:

- run 1: local[8], shuffle.partitions=8, first half of the input
- run 2: local[2], shuffle.partitions=3, remaining input

Asserts:
- final per-key totals equal the batch ground truth (exactly-once
  state across the rescale — every record counted once);
- run 2 appended to run 1's output (resumed, not reprocessed);
- the state-store partition count is pinned by the checkpoint (8,
  from run 1) regardless of run 2's conf — Spark's documented
  semantic: physical workers rescale freely, logical state
  partitioning is fixed at first start (why session.py defaults it
  high: AQE coalesces, state spreads).
"""

import pathlib
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

INCARNATION = """
import sys
from malstrom_spark.session import build_session
from malstrom_spark.streaming.stateful import running_totals_stream

master, nshuf, stage, in_dir, out_dir, ckpt = sys.argv[1:7]
spark = build_session(
    app_name="rescale-" + master, master=master, shuffle_partitions=int(nshuf)
)
schema = spark.read.parquet(stage).schema
sdf = (
    spark.readStream.format("parquet")
    .schema(schema)
    .option("maxFilesPerTrigger", "2")
    .load(in_dir)
)
q = (
    running_totals_stream(sdf, key_col="user_id", value_col="value")
    .writeStream.format("parquet")
    .option("path", out_dir)
    .option("checkpointLocation", ckpt)
    .outputMode("append")
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
spark.stop()
"""


def _run_incarnation(master, nshuf, stage, in_dir, out_dir, ckpt):
    proc = subprocess.run(
        [sys.executable, "-c", INCARNATION, master, str(nshuf), stage, in_dir, out_dir, ckpt],
        cwd=pathlib.Path(__file__).resolve().parent.parent,  # `-c` imports from cwd
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"incarnation {master} failed:\n{proc.stderr[-4000:]}"


def test_state_survives_parallelism_change(spark, sf_dir, tmp_path):
    from malstrom_spark.queries import table

    events = table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    stage = str(tmp_path / "stage")
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    events.repartition(8).write.parquet(stage)
    parts = sorted(pathlib.Path(stage).glob("part-*.parquet"))
    assert len(parts) == 8
    (tmp_path / "in").mkdir()
    for p in parts[:4]:
        shutil.copy(p, in_dir)

    _run_incarnation("local[8]", 8, stage, in_dir, out_dir, ckpt)
    rows_run1 = spark.read.parquet(out_dir).count()
    assert rows_run1 > 0

    for p in parts[4:]:
        shutil.copy(p, in_dir)

    # rescaled incarnation: 2 cores instead of 8, different conf
    _run_incarnation("local[2]", 3, stage, in_dir, out_dir, ckpt)

    # state partition count pinned from run 1's conf, not run 2's
    state_parts = [
        p for p in (pathlib.Path(ckpt) / "state" / "0").iterdir() if p.name.isdigit()
    ]
    assert len(state_parts) == 8

    out = spark.read.parquet(out_dir)
    assert out.count() > rows_run1  # appended, not reprocessed

    from pyspark.sql.window import Window

    final = (
        out.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("n_events"))),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )
    truth = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in final.collect()}
    want = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in truth.collect()}
    assert got == want  # exactly-once across the rescale
