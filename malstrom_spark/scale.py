"""Scale policy: every decision that depends on input size or core count.

The reference runtime has one scale input, the worker count
(malstrom-core/src/runtime/threaded/multi.rs:44-120), and no size
heuristics. Where this package overrides Spark's own planning (the
parallelism floor, the exact-collapse gate, IVF join salting, the
edge count under which connected components finish on the driver,
the Bloom filter size under which it probes as a plan literal, the
host count under which crawl budgets ride as a literal map) it asks
this module: the core count is read here only, and every size floor
is a constant here.

Each gate call logs one DEBUG record on this module's logger: the gate,
its inputs and estimate, and its decision (the record's ``gate`` and
``decision`` attributes). With DEBUG off the record is never built.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Input-size floor of the exact-collapse probe (Catalyst's estimate
#: of the source plan). Below it the probe job and the collapse are
#: both skipped: even a maximally dup-heavy input cannot repay the
#: probe there, and candidate blow-up is already bounded by the
#: hot-bucket caps. Measured at sf1 (10x replica name clusters):
#: customer_fuzzy_pairs 117.8 s with the probe skipped vs 22.4 s with
#: it on, entity_groups 22.4 -> 6.5 s, containment 28.1 -> 10.2 s,
#: while the probe costs one ~0.3 s job. 1 MiB keeps every sf0.1 probe
#: skipped (the largest sf0.1 dedup input, embeddings, estimates
#: 799 KiB) and runs it from sf1 up (smallest probing input estimates
#: 1.04 MiB). Opaque lineage estimates default to huge, so an unknown
#: size fails open to the probe.
COLLAPSE_PROBE_MIN_BYTES = 1 << 20

#: Duplicate share under which the probe skips the collapse: with
#: fewer duplicates the extra checkpoint and joins cost more than the
#: rows they remove (sf0.1, 0.16% dups: +28 s for nothing). A floor
#: of 0 or less skips the probe job and always collapses.
COLLAPSE_MIN_DUP_RATIO = 0.05


#: Edge count at or under which connected components finish on the
#: driver: one collect of the canonical edges and a union-find replace
#: the remaining large-star/small-star rounds and their fixpoint tests.
#: Measured on 4 vCPUs with local[2], median of 3, random graph | path
#: with shuffled ids, collect + union-find + local frame against ONE
#: round: 10^4 edges 0.12 | 0.10 s vs 1.56 | 0.89 s; 10^5 0.22 | 0.18 s
#: vs 1.63 | 1.13 s; 10^6 1.45 | 1.42 s vs 7.42 | 6.41 s. The finish
#: wins by 4.5x or more at every size measured, so the bound is set
#: just above the largest size measured: 2^20 edges hold 16 MiB of
#: (u, v) longs on the driver.
CC_DRIVER_MAX_EDGES = 1 << 20

#: Filter size (bits) at or under which a Bloom probe densifies the
#: filter into one array literal evaluated as k `element_at` +
#: bitwiseAND codegen probes per row; above it the dense words ship
#: once per executor as a broadcast numpy array probed in one
#: Arrow-batched pandas_udf stage. The literal probe wins below the
#: crossover, so the gate stays. MEASURED (BASELINE.md round 9): on a
#: 6M-row prune the literal probe costs 1.7-1.9 s at 2^14-2^16 bits
#: but 3.3 s at 2^18 and 9.5 s at 2^20 (a large array literal is a
#: heavy per-row plan node), while the broadcast path is flat ~5 s at
#: any size — the crossover sits at ~2^18, and billion-gram blocklists
#: (~10^10 bits) live far on the broadcast side.
BLOOM_LITERAL_MAX_BITS = 1 << 18

#: Overridden-host count at or under which crawl budget overrides ride
#: as one literal map + `element_at` beside the rank window; above it
#: they broadcast-join as a (host, budget) table, so a map of tens of
#: thousands of hosts does not bloat analysis and codegen.
CRAWL_OVERRIDES_LITERAL_MAX = 1024

_log = logging.getLogger(__name__)


def _decided(gate: str, decision, **inputs) -> None:
    """Log one gate decision at DEBUG."""
    if _log.isEnabledFor(logging.DEBUG):
        shown = " ".join(f"{k}={v}" for k, v in inputs.items())
        _log.debug(
            "%s %s -> %s", gate, shown, decision,
            extra={"gate": gate, "decision": decision},
        )


def _estimate_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the file scan's partition count from driver-side file
    metadata — replaces the old `df.rdd.getNumPartitions()` probe,
    which converted the whole plan to an RDD on every pipeline
    construction. Mirrors Spark's FilePartition packing: each file
    contributes ceil(size / maxPartitionBytes) splits, and small files
    bin-pack at (size + openCostInBytes) per file. Returns None when
    the plan has no file scan (in-memory/stream input) — callers leave
    those untouched."""
    import math
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    as_bytes = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    max_bytes = as_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    open_cost = as_bytes(spark.conf.get("spark.sql.files.openCostInBytes", "4MB"))
    splits, packed_bytes = 0, 0
    hconf = None
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme in ("file", ""):
            try:
                size = os.path.getsize(unquote(parsed.path or f))
            except OSError:
                size = max_bytes
        else:
            if hconf is None:
                hconf = spark.sparkContext._jsc.hadoopConfiguration()
            jpath = jvm.org.apache.hadoop.fs.Path(f)
            size = jpath.getFileSystem(hconf).getFileStatus(jpath).getLen()
        if size > max_bytes:
            splits += math.ceil(size / max_bytes)
        else:
            packed_bytes += size + open_cost
    return splits + max(1, math.ceil(packed_bytes / max_bytes)) if packed_bytes else max(1, splits)


def ensure_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Parallelism floor for CPU-heavy per-row work fused onto a scan
    (shingle hashing, tokenize+explode, Python kernels).

    The scan's task count is estimated from file sizes with Spark's
    FilePartition packing: byte-range splits of ``maxPartitionBytes``,
    small files bin-packed at ``openCostInBytes`` each; row groups are
    not counted. One local-sized file estimates one task. Spark may
    plan a few more byte-range splits for it (it shrinks the split size
    toward bytes-per-core), but a row group is read only by the split
    holding its midpoint, so a single-row-group file (every table in
    this repo, sf1's 5.4 MB documents included) is read by one task
    either way, and every row fused before the first exchange runs on
    one core. When the estimate is under min(defaultParallelism,
    shuffle.partitions), repartition to the session's parallelism
    (round-robin, or hashed on ``key_cols``): a small shuffle buys a
    cores-wide stage. At cluster scale the scan already has >= cores
    partitions and this is a no-op. In-memory and streaming inputs
    (no file scan) are left untouched. Round-robin reorders rows, so
    use it only on dataflows whose result is order-free (integer or
    decimal aggregation, per-row kernels)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    est = _estimate_scan_partitions(df)
    floor = None if est is None else min(target, int(spark.conf.get("spark.sql.shuffle.partitions")))
    keep = est is None or est >= floor
    _decided(
        "ensure_parallelism", "keep" if keep else "repartition",
        scan_partitions=est, floor=floor, target=target, keys=list(key_cols),
    )
    if keep:
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols]) if key_cols else df.repartition(target)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the plan (bytes) — file-size-based
    for scans/projections, a huge default for opaque lineage (so a
    size GATE fails open to the conservative path). None on any
    introspection error."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


def collapse_exact_groups(
    source: DataFrame,
    fingerprints: Callable[[], DataFrame],
    id_col: str,
    min_dup_ratio: float | None = None,
) -> tuple[DataFrame, DataFrame] | None:
    """The exact-duplicate collapse gate: group exact duplicates by
    fingerprint and elect min(id) as each group's representative, or
    decline when collapsing cannot pay.

    ``fingerprints()`` builds a frame of ``id_col`` and ``__fp`` (a
    byte-exact fingerprint: md5 of the text or of the vector). The
    gate decides in two steps, each read from this module at call
    time. First, when ``source`` (the frame whose lineage is the scan)
    estimates under `COLLAPSE_PROBE_MIN_BYTES`, the collapse is skipped
    and ``fingerprints`` is never called. Then one narrow job counts
    fingerprints, and the collapse is skipped when fewer than
    ``min_dup_ratio`` of the rows are duplicates (default
    `COLLAPSE_MIN_DUP_RATIO`; at 0 or less there is no count and the
    collapse always runs). Callers' output is identical either way;
    only the cost differs. No caller can force either branch; tests do
    it by setting the two module constants.

    Returns None when skipped, else ``(reps, members)``: ``reps`` maps
    each fingerprint to its representative (``__fp``, ``__rep``), and
    ``members`` maps every id to its representative (``id_col``,
    ``__rep``). ``members`` feeds several downstream joins, so it is
    EAGERLY localCheckpoint'ed (computed once, lineage truncated).
    Lazy checkpoints are a trap here: branches of the single final
    action race to materialize them and each recomputes the full plan
    (measured 39 s one-shot vs 12.5 s with eager checkpoints at
    sf0.1)."""
    gate = "collapse_exact_groups"
    size = _plan_size_bytes(source)
    if size is not None and size < COLLAPSE_PROBE_MIN_BYTES:
        _decided(gate, "skip", size_bytes=size, min_bytes=COLLAPSE_PROBE_MIN_BYTES)
        return None
    if min_dup_ratio is None:
        min_dup_ratio = COLLAPSE_MIN_DUP_RATIO
    fps = fingerprints()
    dup_ratio = None
    if min_dup_ratio > 0:
        total, distinct = fps.agg(
            F.count(F.lit(1)), F.approx_count_distinct("__fp", 0.02)
        ).first()
        dup_ratio = (total - distinct) / total if total else 0.0
        if dup_ratio < min_dup_ratio:
            _decided(gate, "skip", size_bytes=size, dup_ratio=dup_ratio, min_dup_ratio=min_dup_ratio)
            return None
    _decided(gate, "collapse", size_bytes=size, dup_ratio=dup_ratio, min_dup_ratio=min_dup_ratio)
    reps = fps.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    members = (
        fps.join(reps, "__fp")
        .select(F.col(id_col), F.col("__rep"))
        .localCheckpoint(eager=True)
    )
    return reps, members


def ivf_salt(spark: SparkSession, n_cells: int) -> int:
    """Salt factor for an IVF cell join over ``n_cells`` quantizer
    cells: about two join tasks per core. A cell-keyed join runs on at
    most ``n_cells`` tasks, and its candidate set is quadratic in cell
    occupancy; salting spreads it over the cores with an identical
    pair set. Once ``n_cells`` reaches twice the core count
    (production quantizers) the factor is 1 and salting vanishes."""
    cores = spark.sparkContext.defaultParallelism
    salt = max(1, (2 * cores) // n_cells)
    _decided("ivf_salt", salt, n_cells=n_cells, parallelism=cores)
    return salt


def cc_finish_on_driver(n_edges: int) -> bool:
    """Whether connected components finish on the driver now: the edge
    set holds at most `CC_DRIVER_MAX_EDGES` edges (read at call time)."""
    finish = n_edges <= CC_DRIVER_MAX_EDGES
    _decided(
        "cc_finish_on_driver", "driver" if finish else "rounds",
        n_edges=n_edges, max_edges=CC_DRIVER_MAX_EDGES,
    )
    return finish


def bloom_literal_probe(n_bits: int) -> bool:
    """Whether a Bloom filter of ``n_bits`` probes as a plan literal:
    it holds at most `BLOOM_LITERAL_MAX_BITS` bits (read at call time);
    else it probes through a broadcast variable."""
    literal = n_bits <= BLOOM_LITERAL_MAX_BITS
    _decided(
        "bloom_literal_probe", "literal" if literal else "broadcast",
        n_bits=n_bits, max_bits=BLOOM_LITERAL_MAX_BITS,
    )
    return literal


def crawl_overrides_literal(n_hosts: int) -> bool:
    """Whether ``n_hosts`` crawl budget overrides ride as a literal
    map: at most `CRAWL_OVERRIDES_LITERAL_MAX` hosts (read at call
    time); else they broadcast-join as a table."""
    literal = n_hosts <= CRAWL_OVERRIDES_LITERAL_MAX
    _decided(
        "crawl_overrides_literal", "literal" if literal else "broadcast",
        n_hosts=n_hosts, max_hosts=CRAWL_OVERRIDES_LITERAL_MAX,
    )
    return literal
