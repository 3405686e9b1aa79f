"""Distributed Bloom filter (functions/bloom.py): no false
negatives, bounded false positives, mergeability, and the
bloom-prefiltered decontamination's exact-output contract."""

import pytest

from pyspark.sql import functions as F

from malstrom_spark import scale
from malstrom_spark.functions import bloom
from malstrom_spark.functions.dedup import contaminated_ids


N_BITS = 1 << 13


def _build(spark, values, **kw):
    df = spark.createDataFrame([(v,) for v in values], "v long")
    return bloom.bloom_build(df, "v", n_bits=N_BITS, **kw)


def test_no_false_negatives(spark):
    filt = _build(spark, range(2000), n_hashes=5)
    words = bloom.bloom_words_literal(filt, N_BITS)
    probe = spark.createDataFrame([(i,) for i in range(2000)], "v long")
    n = probe.where(
        bloom.bloom_might_contain(F.col("v"), words, N_BITS, 5)).count()
    assert n == 2000  # every inserted member MUST probe true


def test_false_positive_rate_bounded(spark):
    filt = _build(spark, range(500), n_hashes=7)
    words = bloom.bloom_words_literal(filt, N_BITS)
    probe = spark.createDataFrame(
        [(i,) for i in range(10_000, 20_000)], "v long")
    fp = probe.where(
        bloom.bloom_might_contain(F.col("v"), words, N_BITS, 7)).count()
    # 500 keys in 8192 bits with 7 hashes -> theoretical FP ~0.7%;
    # allow generous slack, but far below "everything matches"
    assert fp < 300


def test_merge_equals_union_build(spark):
    a = _build(spark, range(0, 300), n_hashes=5)
    b = _build(spark, range(300, 600), n_hashes=5)
    merged = bloom.bloom_merge(a, b)
    direct = _build(spark, range(0, 600), n_hashes=5)
    got = {(r["word_idx"], r["word"]) for r in merged.collect()}
    want = {(r["word_idx"], r["word"]) for r in direct.collect()}
    assert got == want


def test_null_probes_false_and_nulls_skipped_in_build(spark):
    df = spark.createDataFrame([(1,), (None,)], "v long")
    filt = bloom.bloom_build(df, "v", n_bits=N_BITS, n_hashes=3)
    words = bloom.bloom_words_literal(filt, N_BITS)
    got = df.select(
        bloom.bloom_might_contain(F.col("v"), words, N_BITS, 3).alias("m")
    ).collect()
    assert [r["m"] for r in got] == [True, False]


def test_sizing_validation(spark):
    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom.bloom_build(df, "v", n_bits=100)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom.bloom_build(df, "v", n_bits=128, n_hashes=0)
    with pytest.raises(ValueError, match="at least one"):
        bloom.bloom_merge()


def test_build_plan_single_exchange_partial_combine(spark):
    df = spark.createDataFrame([(1,)], "v long")
    plan = bloom.bloom_build(df, "v", n_bits=N_BITS)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "partial_bit_or" in plan.split("Exchange")[-1]


def test_bloom_decontaminate_matches_exact(spark, sf_dir):
    """The whole point: bloom output == exact contaminated_ids, with
    a deliberately tiny (collision-heavy) filter so the exact verify
    is actually exercised on false positives."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    exact = {r["doc_id"] for r in
             contaminated_ids(docs, bench, "doc_id").collect()}
    got = {r["doc_id"] for r in bloom.bloom_contaminated_ids(
        docs, bench, "doc_id", n_bits=256, n_hashes=2).collect()}
    assert got == exact
    assert len(exact) > 0


def test_bloom_filtered_join_equals_plain_join(spark, sf_dir):
    import pyspark.sql.functions as SF

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_suppkey", "l_orderkey")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet") \
        .where(SF.col("s_suppkey") % 4 == 0).select("s_suppkey")
    # tiny collision-heavy filter: the join must still be exact
    got = bloom.bloom_filtered_join(
        li, supp, "l_suppkey", "s_suppkey", n_bits=128, n_hashes=2)
    want = li.join(supp, li.l_suppkey == supp.s_suppkey, "inner")
    assert got.count() == want.count()
    g = {(r["l_orderkey"], r["l_suppkey"]) for r in got.collect()}
    w = {(r["l_orderkey"], r["l_suppkey"]) for r in want.collect()}
    assert g == w and len(g) > 0


def test_bloom_filtered_join_rejects_outer(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="drop required rows"):
        bloom.bloom_filtered_join(df, df, "k", how="left")


def test_bloom_filtered_join_prunes_at_scan(spark):
    """The filter must appear BELOW the join in the fact branch."""
    fact = spark.createDataFrame([(i,) for i in range(100)], "k long")
    dim = spark.createDataFrame([(1,), (2,)], "d long")
    plan = bloom.bloom_filtered_join(fact, dim, "k", "d") \
        ._jdf.queryExecution().executedPlan().toString()
    # the probe expression (xxhash64-based forall) sits in a Filter
    # on the fact side, not post-join
    join_pos = plan.find("Join")
    filt_pos = plan.find("xxhash64")
    assert join_pos != -1 and filt_pos != -1 and filt_pos > join_pos


def test_broadcast_probe_identical_to_literal_probe(spark, monkeypatch):
    """The size-dispatched probe must be output-identical on both
    sides of the threshold (round 9: the broadcast path closes the
    'literal probe vs billions-of-grams motivation' gap)."""
    vals = spark.range(2000).select((F.col("id") * 37 % 1500).alias("v"))
    members = spark.range(400).select((F.col("id") * 3).alias("v"))
    n_bits, k = 1 << 12, 5
    filt = bloom.bloom_build(members, "v", n_bits, k)

    lit_hits = vals.where(bloom.bloom_might_contain(
        F.col("v"), bloom.bloom_words_literal(filt, n_bits), n_bits, k))
    bc_hits = vals.where(bloom.bloom_might_contain_broadcast(
        F.col("v"), filt, n_bits, k))
    assert sorted(r["v"] for r in lit_hits.collect()) == \
        sorted(r["v"] for r in bc_hits.collect())

    # the scale gate picks each side by its constant and stays identical
    monkeypatch.setattr(scale, "BLOOM_LITERAL_MAX_BITS", n_bits)
    low = vals.where(bloom.bloom_probe(F.col("v"), filt, n_bits, k))
    assert "ArrowEvalPython" not in low._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(scale, "BLOOM_LITERAL_MAX_BITS", n_bits - 64)
    high = vals.where(bloom.bloom_probe(F.col("v"), filt, n_bits, k))
    assert "ArrowEvalPython" in high._jdf.queryExecution().executedPlan().toString()
    assert sorted(r["v"] for r in low.collect()) == \
        sorted(r["v"] for r in high.collect()) == \
        sorted(r["v"] for r in lit_hits.collect())


def test_broadcast_probe_null_input_probes_false(spark):
    df = spark.createDataFrame([(1, 7), (2, None)], "id long, v long")
    members = spark.range(10).select(F.col("id").alias("v"))
    filt = bloom.bloom_build(members, "v", 1 << 10, 5)
    got = df.where(bloom.bloom_might_contain_broadcast(
        F.col("v"), filt, 1 << 10, 5))
    assert [r["id"] for r in got.collect()] == [1]


def test_broadcast_probe_plan_has_no_giant_literal(spark, monkeypatch):
    """Above the threshold the plan must carry NO densified array
    literal — the words ride as a broadcast variable, the plan stays
    O(1) regardless of n_bits."""
    vals = spark.range(100).select(F.col("id").alias("v"))
    members = spark.range(10).select(F.col("id").alias("v"))
    n_bits = 1 << 12  # 64 words — tiny, but forced over the threshold
    filt = bloom.bloom_build(members, "v", n_bits, 5)
    monkeypatch.setattr(scale, "BLOOM_LITERAL_MAX_BITS", 64)
    probed = vals.where(bloom.bloom_probe(F.col("v"), filt, n_bits, 5))
    plan = probed._jdf.queryExecution().analyzed().toString()
    assert plan.count(",") < 64, "densified literal leaked into the plan"
    assert "ArrowEvalPython" in probed._jdf.queryExecution() \
        .executedPlan().toString()
