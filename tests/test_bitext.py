"""Margin-based bitext mining (functions/bitext.py)."""

import pytest
from pyspark.sql import functions as F

from malstrom_spark.functions.bitext import (
    SIM_SCALE,
    mine_bitext_exact,
    mine_bitext_from_knn,
)


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<float>"
    )


def test_identical_vectors_align(spark):
    # a0 == b1 exactly; a2 == b3 exactly; one decoy per side.
    a = _emb(spark, [(0, [1, 0, 0]), (2, [0, 1, 0]), (4, [0.5, 0.5, 0.7])])
    b = _emb(spark, [(1, [1, 0, 0]), (3, [0, 1, 0]), (5, [-1, 0.2, 0.1])])
    got = mine_bitext_exact(a, b, k=2, threshold=1.0).collect()
    aligned = {(r.x_id, r.y_id) for r in got}
    assert (0, 1) in aligned and (2, 3) in aligned
    for r in got:
        if (r.x_id, r.y_id) in {(0, 1), (2, 3)}:
            assert r.sim_q == SIM_SCALE - 1 or r.sim_q == SIM_SCALE  # floor(~1.0 * 1e6)
            assert r.margin > 1.0


def test_mutual_best_is_one_to_one(spark):
    # A hub in B (close to every A vector) can win at most one x —
    # the mutual filter makes the output a partial matching.
    a = _emb(spark, [(0, [1, 0.1, 0]), (2, [1, -0.1, 0]), (4, [1, 0, 0.1])])
    b = _emb(spark, [(1, [1, 0, 0]), (3, [0, 0, 1])])
    got = mine_bitext_exact(a, b, k=2, threshold=0.0).collect()
    xs = [r.x_id for r in got]
    ys = [r.y_id for r in got]
    assert len(xs) == len(set(xs)) and len(ys) == len(set(ys))


def test_margin_integer_arithmetic_exact(spark):
    # Hand-built kNN edges with known micro-sims: margin must equal
    # 2k * sim_q / (sum_x + sum_y) computed on exact integers.
    k = 2
    fwd = spark.createDataFrame(
        [(0, 1, 0.900000), (0, 3, 0.500000), (2, 1, 0.400000), (2, 3, 0.300000)],
        "x_id long, y_id long, sim double",
    )
    bwd = spark.createDataFrame(
        [(0, 1, 0.900000), (2, 1, 0.400000), (0, 3, 0.500000), (2, 3, 0.300000)],
        "x_id long, y_id long, sim double",
    )
    got = {(r.x_id, r.y_id): r for r in mine_bitext_from_knn(fwd, bwd, threshold=0.0).collect()}
    # x=0: sum_x = 900000+500000; y=1: sum_y = 900000+400000
    r = got[(0, 1)]
    assert r.sim_q == 900000
    assert r.margin == pytest.approx(4 * 900000 / (1400000 + 1300000), abs=0)
    # x=2: margin(2,1) = 1600000/2000000 and margin(2,3) =
    # 1200000/1500000 tie at exactly 0.8; the y_id tie-break picks
    # y=1, whose own best is x=0 — so x=2 stays unmatched (mutual-best
    # is a single matching round, not stable marriage).
    assert set(got) == {(0, 1)}


def test_zero_norm_vectors_dropped(spark):
    a = _emb(spark, [(0, [0, 0, 0]), (2, [1, 0, 0])])
    b = _emb(spark, [(1, [1, 0, 0]), (3, [0, 0, 0])])
    got = mine_bitext_exact(a, b, k=1, threshold=0.0).collect()
    ids = {r.x_id for r in got} | {r.y_id for r in got}
    assert 0 not in ids and 3 not in ids
    assert {(r.x_id, r.y_id) for r in got} == {(2, 1)}


def test_threshold_filters(spark):
    a = _emb(spark, [(0, [1, 0, 0]), (2, [0, 1, 0])])
    b = _emb(spark, [(1, [1, 0, 0]), (3, [0.6, 0.8, 0])])
    all_pairs = mine_bitext_exact(a, b, k=2, threshold=0.0).collect()
    high = mine_bitext_exact(a, b, k=2, threshold=1.2).collect()
    assert len(high) <= len(all_pairs)
    for r in high:
        assert r.margin >= 1.2


@pytest.mark.parametrize("salt_n", [1, 3])
def test_ivf_bitext_with_full_probe_equals_exact(spark, salt_n):
    # n_probe = n_cells => every query probes every cell => candidate
    # set is all pairs => IVF mining must reproduce the exact kernel,
    # with or without the salted cell join (each pair meets at one salt).
    from pyspark.sql import functions as F

    from malstrom_spark.functions.bitext import mine_bitext_ivf
    from malstrom_spark.queries import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    exact = mine_bitext_exact(a, b, k=3, threshold=1.0)
    ivf_full = mine_bitext_ivf(
        a, b, cents, k=3, n_probe=4, threshold=1.0, salt_n=salt_n
    )
    e = {(r.x_id, r.y_id, r.sim_q) for r in exact.collect()}
    i = {(r.x_id, r.y_id, r.sim_q) for r in ivf_full.collect()}
    assert e == i and len(e) > 0


def test_ivf_bitext_partial_probe_subset_recall(spark):
    # with fewer probes the mined set may shrink but every pair it
    # emits must carry the same exact sim_q the full-probe run has
    from pyspark.sql import functions as F

    from malstrom_spark.functions.bitext import mine_bitext_ivf
    from malstrom_spark.queries import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    part = mine_bitext_ivf(a, b, cents, k=3, n_probe=1, threshold=1.0).collect()
    sims = {
        (r.x_id, r.y_id): r.sim_q
        for r in mine_bitext_ivf(a, b, cents, k=3, n_probe=4, threshold=0.0).collect()
    }
    for r in part:
        if (r.x_id, r.y_id) in sims:
            assert sims[(r.x_id, r.y_id)] == r.sim_q


def test_arrow_twins_bitwise_identical(spark):
    # The Arrow kernels must reproduce the Column kernels BITWISE
    # (sequential-fold numpy; pairwise/BLAS summation would break the
    # oracle contract) — sets compared on every column incl. the
    # float margin.
    from pyspark.sql import functions as F

    from malstrom_spark.queries import full_registry

    fr = full_registry()
    sf = "/root/testdata/sf0.001"
    for col_row, arrow_row in (
        ("embedding_bitext_mining", "embedding_bitext_arrow"),
        ("embedding_bitext_ivf", "embedding_bitext_ivf_arrow"),
    ):
        a = {tuple(r) for r in fr[col_row].fn(spark, sf).collect()}
        b = {tuple(r) for r in fr[arrow_row].fn(spark, sf).collect()}
        assert a == b and len(a) > 0, (col_row, len(a), len(b))


def test_margin_uses_actual_neighbor_counts(spark):
    # a node with ONE mediocre neighbor scores margin exactly 1.0
    # (its own average), not k/cnt-inflated above threshold
    fwd = spark.createDataFrame(
        [(0, 1, 0.300000)], "x_id long, y_id long, sim double"
    )
    bwd = spark.createDataFrame(
        [(0, 1, 0.300000)], "x_id long, y_id long, sim double"
    )
    got = mine_bitext_from_knn(fwd, bwd, threshold=0.0, mutual=True).collect()
    assert len(got) == 1 and got[0].margin == 1.0
    # and asymmetric counts: x has 2 neighbors, y has 1
    fwd2 = spark.createDataFrame(
        [(0, 1, 0.600000), (0, 3, 0.200000), (2, 3, 0.100000)],
        "x_id long, y_id long, sim double",
    )
    bwd2 = spark.createDataFrame(
        [(0, 1, 0.600000), (0, 3, 0.200000), (2, 3, 0.100000)],
        "x_id long, y_id long, sim double",
    )
    got2 = {(r.x_id, r.y_id): r for r in mine_bitext_from_knn(
        fwd2, bwd2, threshold=0.0, mutual=False
    ).collect()}
    # margin(0,1): cnt_x=2 (sum 800000), cnt_y=1 (sum 600000)
    # = 2*600000*2*1 / (800000*1 + 600000*2) = 2400000/2000000 = 1.2
    assert got2[(0, 1)].margin == 1.2


def test_exact_kernel_refuses_oversized_side_a(spark):
    # the exact kernels collect/broadcast side A by contract; above
    # the cap they must fail loudly with a pointer to mine_bitext_ivf
    # instead of OOMing the driver
    from malstrom_spark.functions.bitext import mine_bitext_exact_arrow

    a = _emb(spark, [(i, [1, 0, 0]) for i in range(5)])
    b = _emb(spark, [(9, [1, 0, 0])])
    for kernel in (mine_bitext_exact, mine_bitext_exact_arrow):
        with pytest.raises(ValueError, match="mine_bitext_ivf"):
            kernel(a, b, k=2, max_side_a_rows=3)
        # at/below the cap the same input mines fine
        got = kernel(a, b, k=2, threshold=0.0, max_side_a_rows=5).collect()
        assert len(got) > 0


def test_from_knn_drops_null_and_nan_sims(spark):
    # NULL/NaN sims from arbitrary producers must not inflate the
    # neighbor counts in the margin denominator (public entry point)
    fwd = spark.createDataFrame(
        [(0, 1, 0.300000), (0, 3, None), (0, 5, float("nan"))],
        "x_id long, y_id long, sim double",
    )
    bwd = spark.createDataFrame(
        [(0, 1, 0.300000), (2, 1, None)], "x_id long, y_id long, sim double"
    )
    got = mine_bitext_from_knn(fwd, bwd, threshold=0.0, mutual=True).collect()
    # with the junk edges dropped, (0,1) is each side's only neighbor:
    # margin is exactly 1.0 (its own average), cnt_x = cnt_y = 1
    assert len(got) == 1 and got[0].margin == 1.0


def test_ivf_bitext_hier_all_supers_equals_flat(spark):
    """Routing bitext assignment through the two-level quantizer with
    every super probed must mine the IDENTICAL pair set as the flat
    form — the hierarchy only prunes candidates (round 12; the
    sub-quadratic escape from the flat-assignment sf100 wall)."""
    from malstrom_spark.functions.bitext import mine_bitext_ivf
    from malstrom_spark.functions.similarity import assign_leaves_to_supers
    from malstrom_spark.queries import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    supers = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaves = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaves = assign_leaves_to_supers(leaves, supers)
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    flat = mine_bitext_ivf(a, b, leaves, k=3, n_probe=2, threshold=1.0)
    hier = mine_bitext_ivf(
        a, b, leaves, k=3, n_probe=2, threshold=1.0,
        super_centroids=supers, n_probe_super=2,
    )
    f = {(r.x_id, r.y_id, r.sim_q) for r in flat.collect()}
    h = {(r.x_id, r.y_id, r.sim_q) for r in hier.collect()}
    assert f == h and len(f) > 0


def test_ivf_bitext_hier_partial_descent_mines_pairs(spark):
    """Partial super descent (the production configuration) still
    mines a non-empty pair set honoring the margin threshold and
    one-to-one mutuality. (No subset relation to the flat form is
    asserted: partial descent changes the kNN neighbor sets, hence
    margins and mutual-best outcomes — the standard recall trade.)"""
    from malstrom_spark.functions.bitext import mine_bitext_ivf
    from malstrom_spark.functions.similarity import assign_leaves_to_supers
    from malstrom_spark.queries import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    supers = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaves = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaves = assign_leaves_to_supers(leaves, supers)
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    part = mine_bitext_ivf(
        a, b, leaves, k=3, n_probe=2, threshold=1.0,
        super_centroids=supers, n_probe_super=1,
    ).collect()
    assert len(part) > 0
    assert all(r.margin >= 1.0 for r in part)
    xs = [r.x_id for r in part]
    ys = [r.y_id for r in part]
    assert len(xs) == len(set(xs)) and len(ys) == len(set(ys))
