"""Scale-policy parity (`malstrom_spark/scale.py`).

Parallelism floor (`scale.ensure_parallelism`): the floor fires on a
one-file scan and not on a scan already split across the cores, and the
pipelines that use it return the same rows either way.

Each table is laid out twice: as the reference single parquet file, and
rewritten as 2 * target part files (target = the floor's
min(defaultParallelism, shuffle.partitions)). The floor estimates scan
partitions with Spark's file packing, where each small file costs
``openCostInBytes``; the queries are built with that cost at half of
``maxPartitionBytes``, so each part file counts as half a scan partition
and the split layout estimates at least target partitions.

Exact-duplicate collapse gate (`scale.collapse_exact_groups`): forced
both ways by the `collapse_gate` fixture, a gated function returns the
same rows. The driver heap default (`session._ensure_driver_memory`)
fits the host.
"""

import io
import os
import shutil
from contextlib import contextmanager, redirect_stdout
from itertools import combinations

import pytest

from malstrom_spark import scale
from malstrom_spark.functions import dedup, linkage
from malstrom_spark.queries import full_registry, table

TABLES = ("documents", "lineitem")


def _target(spark) -> int:
    return min(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


@contextmanager
def _file_costs_half_a_partition(spark):
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64MB")  # maxPartitionBytes default: 128MB
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _floor_fired(df) -> bool:
    """The floor's exchange is the plan's only user repartition."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return "REPARTITION_BY_NUM" in buf.getvalue()


@pytest.fixture(scope="module")
def layouts(spark, sf_dir, tmp_path_factory):
    if _target(spark) < 2:
        pytest.skip("one core: the floor cannot fire")
    single = tmp_path_factory.mktemp("single")
    split = tmp_path_factory.mktemp("split")
    for name in TABLES:
        shutil.copy(f"{sf_dir}/{name}.parquet", single / f"{name}.parquet")
        spark.read.parquet(f"{sf_dir}/{name}.parquet").repartition(
            2 * _target(spark)
        ).write.parquet(str(split / f"{name}.parquet"))
    return str(single), str(split)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_floor_fires_only_on_under_partitioned_scan(spark, layouts):
    single, split = layouts
    with _file_costs_half_a_partition(spark):
        one = table(spark, single, "documents")
        many = table(spark, split, "documents")
        assert len(many.inputFiles()) >= spark.sparkContext.defaultParallelism
        assert _floor_fired(scale.ensure_parallelism(one))
        assert scale.ensure_parallelism(many) is many


@pytest.mark.parametrize(
    "build",
    [
        pytest.param(
            lambda spark, d: dedup.near_dup_pairs_minhash(
                table(spark, d, "documents"), "doc_id", portable=True
            ),
            id="near_dup_pairs_minhash",
            marks=pytest.mark.medium,
        ),
        pytest.param(
            lambda spark, d: full_registry()["lineitem_stats_by_flag"].fn(spark, d),
            id="lineitem_stats_by_flag",
        ),
    ],
)
def test_floor_branches_return_same_rows(spark, layouts, build):
    single, split = layouts
    with _file_costs_half_a_partition(spark):
        floored = build(spark, single)
        unfloored = build(spark, split)
    assert _floor_fired(floored)
    assert not _floor_fired(unfloored)
    assert _rows(floored) == _rows(unfloored)


def _levenshtein(a: str, b: str) -> int:
    row = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, row[0] = row[0], i
        for j, cb in enumerate(b, 1):
            prev, row[j] = row[j], min(row[j] + 1, row[j - 1] + 1, prev + (ca != cb))
    return row[-1]


def test_collapse_gate_both_ways_same_rows(spark, collapse_gate):
    """Forced on or off, the exact-duplicate collapse is invisible in
    `fuzzy_self_pairs`' output: both modes return the cross-join
    answer over the lowercased names."""
    names = ["Smith", "smith", "SMITH", "Smyth", "smyth", "Jones", "Jonas", "Other", None]
    rows = list(enumerate(names))
    df = spark.createDataFrame(rows, "id long, name string")
    got = sorted(
        tuple(r) for r in linkage.fuzzy_self_pairs(df, "id", "name", max_distance=1).collect()
    )
    collapse_gate.assert_decided()
    low = [(i, n.lower()) for i, n in rows if n is not None]
    want = sorted(
        (i, j, a, b, _levenshtein(a, b))
        for (i, a), (j, b) in combinations(low, 2)
        if _levenshtein(a, b) <= 1
    )
    assert got == want


def test_driver_heap_default_fits_the_host(monkeypatch):
    """With neither PYSPARK_SUBMIT_ARGS nor SPARK_GRAFT_DRIVER_MEM set,
    the driver heap asked for is at most the host's physical memory;
    SPARK_GRAFT_DRIVER_MEM still overrides it."""
    from pyspark import SparkContext

    from malstrom_spark import session

    def driver_memory() -> str:
        # set, then delete: teardown restores the variable the call writes
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "")
        monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
        session._ensure_driver_memory()
        args = os.environ["PYSPARK_SUBMIT_ARGS"].split()
        return args[args.index("--driver-memory") + 1]

    monkeypatch.setattr(SparkContext, "_jvm", None)  # as before a JVM launch
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = driver_memory()
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem.endswith("m") and 0 < int(mem[:-1]) << 20 <= host
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
