"""Parallelism-floor parity (`scale.ensure_parallelism`): the floor
fires on a one-file scan and not on a scan already split across the
cores, and the pipelines that use it return the same rows either way.

Each table is laid out twice: as the reference single parquet file, and
rewritten as 2 * target part files (target = the floor's
min(defaultParallelism, shuffle.partitions)). The floor estimates scan
partitions with Spark's file packing, where each small file costs
``openCostInBytes``; the queries are built with that cost at half of
``maxPartitionBytes``, so each part file counts as half a scan partition
and the split layout estimates at least target partitions.
"""

import io
import shutil
from contextlib import contextmanager, redirect_stdout

import pytest

from malstrom_spark import scale
from malstrom_spark.functions import dedup
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
