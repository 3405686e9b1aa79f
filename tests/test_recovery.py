"""Checkpoint/recovery parity with the reference's snapshot story
(SURVEY §3.3): the reference persists per-operator state via ABS
barriers and resumes from the last committed version (coordinator
commit, snapshot/mod.rs:50-87; recovery proof test
sources/stateful.rs:418-467). In Spark that guarantee is the
checkpointLocation: offsets WAL + state store commit per microbatch.

The test drives a keyed running-total (stateful_map analog) over a
file stream in TWO separate query incarnations sharing one
checkpoint: run 1 sees half the input files, terminates; more files
arrive; run 2 resumes from the checkpoint and processes ONLY the new
files with restored state. Final per-key totals must equal the batch
ground truth computed over all input — i.e. every record affected
state exactly once across the restart. Run 1 writes its checkpoint
with Spark's default FileContext manager and run 2 resumes it with the
session's FileSystem manager; both keep the Hadoop .crc checksums.
"""

import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from malstrom_spark.streaming.stateful import running_totals_stream


_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


def test_session_checkpoints_through_the_filesystem_api(spark, tmp_path):
    jvm = spark.sparkContext._jvm
    manager = getattr(jvm, _CHECKPOINTING + "CheckpointFileManager").create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"


def _assert_offsets_checksummed(ckpt):
    offsets = [p for p in (pathlib.Path(ckpt) / "offsets").iterdir() if p.name.isdigit()]
    assert offsets
    for p in offsets:
        assert (p.parent / f".{p.name}.crc").is_file(), p


@pytest.fixture()
def events_batch(spark, sf_dir):
    from malstrom_spark.queries import table

    return table(spark, sf_dir, "events").select("event_id", "user_id", "value")


def _start_totals_query(spark, in_dir, out_dir, ckpt_dir, schema):
    sdf = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "2")
        .load(in_dir)
    )
    totals = running_totals_stream(sdf, key_col="user_id", value_col="value")
    return (
        totals.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def test_restart_resumes_state_exactly_once(spark, events_batch, tmp_path):
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    stage = str(tmp_path / "stage")

    # 8 input files staged; first run sees 4, second run the rest
    events_batch.repartition(8).write.parquet(stage)
    parts = sorted(pathlib.Path(stage).glob("part-*.parquet"))
    assert len(parts) == 8
    (tmp_path / "in").mkdir()
    for p in parts[:4]:
        shutil.copy(p, in_dir)

    schema = spark.read.parquet(stage).schema

    # run 1 under Spark's default manager; `unset` would also drop the
    # session's value, so the session's own value is set back
    session_manager = spark.conf.get(_MANAGER_CONF)
    spark.conf.set(_MANAGER_CONF, _CHECKPOINTING + "FileContextBasedCheckpointFileManager")
    try:
        q1 = _start_totals_query(spark, in_dir, out_dir, ckpt, schema)
        q1.awaitTermination()
    finally:
        spark.conf.set(_MANAGER_CONF, session_manager)
    _assert_offsets_checksummed(ckpt)

    rows_run1 = spark.read.parquet(out_dir).count()
    assert rows_run1 > 0

    for p in parts[4:]:
        shutil.copy(p, in_dir)

    q2 = _start_totals_query(spark, in_dir, out_dir, ckpt, schema)
    q2.awaitTermination()
    _assert_offsets_checksummed(ckpt)

    # final totals per key = the emission with the highest n_events
    out = spark.read.parquet(out_dir)
    final = (
        out.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "user_id"
                ).orderBy(F.desc("n_events"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )
    truth = events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in final.collect()}
    want = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in truth.collect()}
    assert got == want  # exactly-once state across the restart

    # run 2 really resumed (appended beyond run 1's output) rather
    # than reprocessing from scratch into a fresh state
    assert out.count() > rows_run1
