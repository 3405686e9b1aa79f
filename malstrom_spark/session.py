"""SparkSession factory tuned for the malstrom-spark engine.

The reference runtime (malstrom-core/src/runtime/threaded/multi.rs:44-120)
spins up N identical workers; on Spark the equivalent knob set is the
master URL + shuffle partitioning + AQE. Everything here is plain
configuration — Structured Streaming supplies snapshots/recovery
(reference: malstrom-core/src/snapshot/mod.rs) via checkpointLocation.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing + skew-join splitting replaces hand tuning.
- shuffle.partitions defaults to cores locally; on a real cluster set it
  ~2-3x total cores or rely on AQE coalescing from a high initial value.
- Arrow on: every Python-side operator (pandas UDFs) moves columnar.
- RocksDB state store: keyed state spills to disk, unlike the
  reference's in-memory IndexMap (stateful_op.rs:115), so stateful
  streaming survives key cardinalities far beyond RAM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ensure_driver_memory() -> None:
    """In local mode the driver JVM hosts every executor thread, and
    PySpark's default heap is 1g — 32 concurrent tasks OOM on any
    multi-GB shuffle. spark.driver.memory only takes effect at JVM
    launch, so it must ride PYSPARK_SUBMIT_ARGS, not the builder conf.
    No-op once a JVM is up or when the caller already set the env."""
    if "PYSPARK_SUBMIT_ARGS" in os.environ:
        return
    from pyspark import SparkContext

    if SparkContext._jvm is not None:  # JVM already launched
        return
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"


def build_session(
    app_name: str = "malstrom-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults applied.
    ``SPARK_GRAFT_CPUS`` (default 32) sizes both ``local[N]`` and the
    default shuffle partition count; it is read once, here."""
    _ensure_driver_memory()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # round-12: prefer shuffled-hash over sort-merge when the
        # planner's size conditions hold, and let AQE rewrite SMJ ->
        # SHJ at runtime when every post-shuffle partition is under
        # 64 MB (measured: every build side fits by construction).
        # Interleaved A/B at sf0.1: doc_host_reputation -45%,
        # doc_bm25_updated -23%, customer_fuzzy_pairs -20%,
        # dedup_containment -18%, q9 -17%, no regressions. Scale-safe:
        # both gates are PER-PARTITION size bounds (not cluster-size
        # bounds) — a <=64 MB partition builds a <=64 MB hash map on
        # any cluster, and AQE skew-split keeps partitions bounded;
        # sort-merge remains the fallback whenever the conditions
        # fail. (Guide §3.1/§9 baseline.)
        # Round 13 (VERDICT r12 #7): the adversarial case, measured at
        # sf1 (OPTIMIZATION_r13.md, "SHJ skew story at sf1"): when the
        # STREAM side of a join is skewed enough for AQE's skew
        # split, the SMJ->SHJ rewrite
        # still fires (its size gate checks the BUILD side only) and
        # every stream split re-builds the per-partition hash map —
        # 12.9 s (SMJ control) vs 34.0 s at default split granularity,
        # 65 s at advisory=4m. No OOM (maps stay <= threshold by
        # construction); SMJ remains the fallback wherever a build
        # partition exceeds the threshold (plans show SortMergeJoin in
        # the initial plan and SHJ only where the gate passed). Jobs
        # with a known skewed stream side should set
        # spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold to 0
        # (extra_conf here, or spark.conf.set at run time).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read naive parquet timestamps as LTZ(=UTC session): keeps
        # unix_micros/date_format/watermarks on the standard type
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Spark has no TIMESTAMP(NANOS) support (SPARK-40819): read as
        # long; loaders convert ns->us explicitly (queries/__init__.table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        .config("spark.ui.enabled", "false")
        # A file-stream micro-batch of more than this many files
        # (default 32) makes FileStreamSource.getBatch list them with a
        # Spark job of one task per file. Under local[N] those tasks
        # run on this same host, so the job only adds scheduling:
        # 550-680 ms of getBatch per 50-file catch-up batch, against
        # 15-27 ms when they are listed in-process.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # round-12: PySpark's DataFrame-debugging origin capture does
        # THREE extra py4j round-trips (conf read + PySparkCurrentOrigin
        # set/clear) plus a Python stack walk on EVERY DataFrame/Column
        # API call — measured as a material share of driver-side plan
        # construction across the 109-query bench. It only enriches
        # error messages with Python call sites; semantics unchanged.
        # Scale-neutral: plan-construction cost is driver-side on any
        # cluster size. Re-enable ad hoc when debugging a query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_spark() -> SparkSession:
    """Return the active session or build one with defaults."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()
