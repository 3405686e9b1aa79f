"""Bounded-replay helpers: drive a Structured Streaming query from the
driver's parquet tables and run it to completion.

This is the Spark analog of the reference's bounded-source pattern —
`SingleIteratorSource` emits a `usize::MAX` epoch at end of input
(sources/single_iterator.rs:41-84), terminating the job; here the
parquet file source + `availableNow` trigger plays that role
(SURVEY §3.2 step 5).
"""

from __future__ import annotations

import pathlib
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession


def replay_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming DataFrame replaying a driver test table. Schema comes
    from a batch peek (file streams need explicit schemas)."""
    from ..queries import _ensure_conf, events_ts

    _ensure_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    # the file stream source wants a DIRECTORY; stage a symlink dir
    stage = pathlib.Path(tempfile.gettempdir()) / "malstrom_replay" / sf_dir.strip("/").replace("/", "_") / name
    stage.mkdir(parents=True, exist_ok=True)
    link = stage / "part-00000.parquet"
    if not link.exists():
        link.symlink_to(path)
    schema = spark.read.parquet(path).schema
    sdf = spark.readStream.format("parquet").schema(schema).load(str(stage))
    return events_ts(sdf) if name == "events" else sdf


def replay_table_multibatch(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    n_files: int = 8,
    order_col: str = "ts",
    flush_rows: list | None = None,
) -> DataFrame:
    """Streaming DataFrame replaying a driver table as n_files
    SEQUENTIAL microbatches ordered by `order_col` ranges (file k's
    values all precede file k+1's; order WITHIN a file is arbitrary),
    plus an optional final flush file — the realistic multi-batch
    shape the watermark-finalized (disorder_horizon) operators need:
    the watermark advances between batches and fires the buffered
    folds, and the flush rows push it past everything at the end.

    Staged once per (sf, table, n) under /tmp; construction writes the
    staging files eagerly (same construction-time contract as the
    collapse/probe pipelines)."""
    import hashlib
    import shutil as _shutil

    from ..queries import _ensure_conf, table

    _ensure_conf(spark)
    # cache key covers EVERY argument that shapes the staged files —
    # a different flush/order must never reuse another call's staging
    arg_key = hashlib.md5(
        repr((order_col, flush_rows)).encode()
    ).hexdigest()[:10]
    stage = (
        pathlib.Path(tempfile.gettempdir())
        / "malstrom_replay_mb"
        / f"{sf_dir.strip('/').replace('/', '_')}_{name}_{n_files}_{arg_key}"
    )
    done = stage / "_STAGED"
    if not done.exists():
        # a crash mid-staging leaves partial batch files; start clean
        _shutil.rmtree(stage, ignore_errors=True)
        stage.mkdir(parents=True, exist_ok=True)
        df = table(spark, sf_dir, name)
        tmp = str(stage / "raw")
        df.repartitionByRange(n_files, order_col).write.mode("overwrite").parquet(tmp)
        parts = sorted(pathlib.Path(tmp).glob("part-*.parquet"))
        # range partitions come back in order_col order under the
        # default ascending range partitioner; land them under
        # monotone names so listing order == time order
        import os as _os
        import time as _time

        # the file stream source orders by modification time: stamp
        # strictly increasing mtimes so batch order == time order
        t0 = _time.time()
        for i, p in enumerate(parts):
            dst = stage / f"batch-{i:06d}.parquet"
            p.rename(dst)
            _os.utime(dst, (t0 + i, t0 + i))
        if flush_rows:
            fdf = spark.createDataFrame(flush_rows, df.schema)
            ftmp = str(stage / "flush")
            fdf.coalesce(1).write.mode("overwrite").parquet(ftmp)
            fpart = next(pathlib.Path(ftmp).glob("part-*.parquet"))
            dst = stage / f"batch-{n_files:06d}.parquet"
            fpart.rename(dst)
            _os.utime(dst, (t0 + n_files, t0 + n_files))
        import shutil as _sh

        _sh.rmtree(tmp, ignore_errors=True)
        _sh.rmtree(str(stage / "flush"), ignore_errors=True)
        done.touch()
    schema = spark.read.parquet(str(stage / "batch-000000.parquet")).schema
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(str(stage))
    )


def run_to_memory(
    sdf: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) into an
    in-memory table; returns the result as a batch DataFrame."""
    qname = name or f"replay_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = sdf.sparkSession
    return spark.table(qname)
