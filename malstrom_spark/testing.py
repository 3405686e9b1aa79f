"""Operator test harness — parity with the reference's public
`testing` module (`malstrom-core/src/testing/`): `OperatorTester`
(operator_tester.rs:23-91) drives ONE operator with hand-fed messages
and reads its outputs message-by-message; `CapturingPersistenceBackend`
(testing/mod.rs:40-75) lets tests snapshot and restore state between
runs. The Spark analogs:

- `OperatorTester` here feeds a streaming operator one MICROBATCH per
  `send()` (file source, maxFilesPerTrigger=1 — the microbatch is
  Spark's message granularity) and returns each batch's outputs from
  `step()`. Any `DataFrame -> DataFrame` streaming transformation is
  testable — the same closure-shaped surface the reference tests.
- `restart()` is the capturing-persistence analog: stop the query and
  resume from the SAME checkpoint; keyed state and source offsets
  come back from disk, so cross-restart state continuity is one
  assertion away (the recovery proofs in tests/ use exactly this).

Driver-side capture uses foreachBatch, which in local mode runs in
this process — outputs land in a plain Python list. This is a TEST
harness: it trades throughput for stepwise determinism, exactly like
the reference's single-threaded test runtime (testing/mod.rs:26-38).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class OperatorTester:
    """Drive a streaming operator batch-by-batch.

    Usage::

        t = OperatorTester(
            spark, "user_id long, value double",
            op=lambda sdf: running_totals_stream(sdf, "user_id", "value"),
        )
        t.send([(1, 2.0), (2, 3.0)])   # one microbatch
        out = t.step()                  # [[Row(...), ...]] new batches
        t.restart()                     # resume from the same checkpoint
        t.send([(1, 1.0)])
        out2 = t.step()                 # state survived the restart
        t.stop()
    """

    def __init__(
        self,
        spark: SparkSession,
        schema: str,
        op: Callable[[DataFrame], DataFrame],
        output_mode: str = "append",
        work_dir: str | None = None,
    ):
        self.spark = spark
        self.schema = schema
        self.op = op
        self.output_mode = output_mode
        self.dir = work_dir or tempfile.mkdtemp(prefix="malstrom_optest_")
        self.in_dir = os.path.join(self.dir, "in")
        self.ckpt = os.path.join(self.dir, "ckpt")
        os.makedirs(self.in_dir, exist_ok=True)
        self._n_sent = 0
        self._batches: list[list] = []
        self._lock = threading.Lock()
        self._query = None
        self._start()

    # ---- the reference's send_local / recv_local ----

    def send(self, rows: list) -> None:
        """Enqueue one microbatch of rows (send_local analog)."""
        df = self.spark.createDataFrame(rows, self.schema)
        tmp = os.path.join(self.dir, f"stage-{self._n_sent:06d}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet")
        )
        # the file stream source lists FILES; land the single part file
        # atomically under a monotone name so each send = one batch
        os.replace(
            os.path.join(tmp, part),
            os.path.join(self.in_dir, f"batch-{self._n_sent:06d}.parquet"),
        )
        shutil.rmtree(tmp, ignore_errors=True)
        self._n_sent += 1

    def step(self, drain: bool = True) -> list[list]:
        """Process everything enqueued; return the NEW batches'
        collected rows, one list per microbatch (recv_local analog —
        batch granularity, which is Spark's message granularity)."""
        self._query.processAllAvailable()
        with self._lock:
            out, self._batches = self._batches, []
        return out

    # ---- the capturing-persistence analog ----

    def restart(self) -> None:
        """Stop and resume from the same checkpoint: source offsets
        and keyed state restore from disk (testing/mod.rs:40-75
        capture->restore, done by Spark's own persistence)."""
        self._query.stop()
        self._query.awaitTermination()
        self._start()

    def stop(self, cleanup: bool = True) -> None:
        self._query.stop()
        self._query.awaitTermination()
        if cleanup:
            shutil.rmtree(self.dir, ignore_errors=True)

    def _start(self) -> None:
        sdf = (
            self.spark.readStream.format("parquet")
            .schema(self.schema)
            .option("maxFilesPerTrigger", "1")
            .load(self.in_dir)
        )
        out = self.op(sdf)

        def capture(batch_df: DataFrame, epoch_id: int) -> None:
            rows = batch_df.collect()
            if rows:
                with self._lock:
                    self._batches.append(rows)

        self._query = (
            out.writeStream.foreachBatch(capture)
            .outputMode(self.output_mode)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
