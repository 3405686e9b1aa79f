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

Connected-components finish (`scale.CC_DRIVER_MAX_EDGES`): the driver
union-find labels a long path with shuffled ids and a star, and takes
over from the Spark rounds once contraction brings the edge count under
the bound.

Every gate logs one DEBUG decision record per call, and nothing when
DEBUG is off.
"""

import io
import logging
import os
import random
import shutil
from contextlib import contextmanager, redirect_stdout
from itertools import combinations

import pytest
from conftest import force_cc_finish

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


def test_empty_texts_pair_at_jaccard_one(spark, collapse_gate):
    """An empty text hashes one shingle, so two empty-text docs (and a
    whitespace-only one) are exact near-duplicates in every MinHash
    consumer, collapsed or not: Jaccard 1.0 pairs, one cluster, and
    containment 1.0 both ways."""
    df = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "   "), (3, "an unrelated document about query engines")],
        "doc_id long, text string",
    )
    twins = [(0, 1), (0, 2), (1, 2)]
    pairs = sorted(tuple(r) for r in dedup.near_dup_pairs_minhash(df, "doc_id").collect())
    assert pairs == [(a, b, 1.0) for a, b in twins]
    groups = {r.doc_id: r.group_id for r in dedup.dedup_clusters(df, "doc_id").collect()}
    assert groups == {0: 0, 1: 0, 2: 0, 3: 3}
    contained = sorted(tuple(r) for r in dedup.containment_pairs(df, "doc_id").collect())
    assert contained == sorted(
        (x, y, 1.0, 1.0) for a, b in twins for x, y in ((a, b), (b, a))
    )
    collapse_gate.assert_decided()


def _cc_labels(spark, edges, nodes):
    ids = spark.createDataFrame([(i,) for i in nodes], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r.doc_id: r.group_id for r in dedup.dedup_groups(pairs, ids, "doc_id").collect()}


def _shuffled_ids(n: int, seed: int) -> list[int]:
    return random.Random(seed).sample(range(10 * n), n)


def test_cc_driver_finish_shuffled_path(spark):
    """A 10^4-node path whose ids are shuffled (no id order along the
    path) is one component labeled by its minimum id, with no Spark
    round; ids without an edge keep their own."""
    path = _shuffled_ids(10_000, seed=7)
    lonely = [-1, 10**9]
    with force_cc_finish("driver") as cc:
        got = _cc_labels(spark, list(zip(path, path[1:])), path + lonely)
    cc.assert_path()
    assert got == {i: min(path) for i in path} | {i: i for i in lonely}


def test_cc_driver_finish_star(spark):
    """A star whose hub has the largest id: every leaf and the hub take
    the smallest leaf's id."""
    leaves = _shuffled_ids(5_000, seed=11)
    hub = 10**9
    with force_cc_finish("driver") as cc:
        got = _cc_labels(spark, [(hub, leaf) for leaf in leaves], leaves + [hub])
    cc.assert_path()
    assert got == {i: min(leaves) for i in leaves + [hub]}


def test_cc_hands_off_to_driver_after_one_round(spark):
    """With the bound between the first and the second round's edge
    counts, one Spark round runs and the driver finishes the rest. A
    random graph with five times more edges than nodes contracts in
    round 1 (a tree would keep its edge count)."""
    from pyspark.sql import functions as F

    rng = random.Random(3)
    nodes = _shuffled_ids(300, seed=5)
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(1_500)]
    canon = (
        spark.createDataFrame(edges, "id_a long, id_b long")
        .select(F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    n_edges = canon.count()
    after_one = dedup._small_star(dedup._large_star_raw(canon)).count()
    assert 0 < after_one < n_edges
    with force_cc_finish("rounds") as cc, pytest.MonkeyPatch.context() as mp:
        mp.setattr(scale, "CC_DRIVER_MAX_EDGES", after_one)
        got = _cc_labels(spark, edges, nodes)
    assert (cc.rounds, cc.finishes) == (1, 1)
    parent = {i: i for i in nodes}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    assert got == {i: find(i) for i in nodes}


def test_every_gate_logs_one_decision_at_debug(spark, sf_dir, monkeypatch, caplog):
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents")
    small = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id long, t string")
    monkeypatch.setattr(scale, "COLLAPSE_PROBE_MIN_BYTES", 0)

    def every_gate():
        scale.ensure_parallelism(docs)
        scale.collapse_exact_groups(
            small, lambda: small.select("id", F.md5("t").alias("__fp")), "id",
            min_dup_ratio=0.0,
        )
        scale.ivf_salt(spark, 8)
        scale.cc_finish_on_driver(10)
        scale.bloom_literal_probe(1 << 10)
        scale.crawl_overrides_literal(scale.CRAWL_OVERRIDES_LITERAL_MAX + 1)

    with caplog.at_level(logging.INFO, logger=scale.__name__):
        every_gate()
    assert not caplog.records
    with caplog.at_level(logging.DEBUG, logger=scale.__name__):
        every_gate()
    got = {r.gate: (r.decision, r.getMessage()) for r in caplog.records}
    assert len(caplog.records) == len(got) == 6
    assert got["ensure_parallelism"][0] in ("keep", "repartition")
    assert "scan_partitions=" in got["ensure_parallelism"][1]
    assert got["collapse_exact_groups"][0] == "collapse"
    assert got["ivf_salt"][0] == max(1, 2 * spark.sparkContext.defaultParallelism // 8)
    bound = scale.CC_DRIVER_MAX_EDGES
    assert got["cc_finish_on_driver"] == (
        "driver", f"cc_finish_on_driver n_edges=10 max_edges={bound} -> driver"
    )
    assert got["bloom_literal_probe"] == (
        "literal",
        f"bloom_literal_probe n_bits=1024 max_bits={scale.BLOOM_LITERAL_MAX_BITS} -> literal",
    )
    hosts = scale.CRAWL_OVERRIDES_LITERAL_MAX
    assert got["crawl_overrides_literal"] == (
        "broadcast",
        f"crawl_overrides_literal n_hosts={hosts + 1} max_hosts={hosts} -> broadcast",
    )
