"""Hierarchical (two-level) coarse quantizer — round 12.

Flat IVF assignment is O(n_vectors * n_lists); with n_lists scaled to
the corpus (constant cell size) that term is quadratic — the measured
sf100 wall in the round-12 bitext probe (BASELINE.md round-12 #3).
The two-level quantizer bounds assignment at O(n * 2 sqrt(n_lists)).

Pinned contracts:
- portable hier assignment with n_probe_super = n_super EQUALS flat
  `ivf_assign` over the same leaf table (the hierarchy prunes
  candidates, it does not change the leaf argmin);
- hier top-k with full probing EQUALS brute-force cosine top-k;
- the Arrow probe path with n_probe_super = n_super matches the flat
  Arrow `with_probe_lists` over the same leaves;
- partial probing keeps sane recall.
"""

import pytest
from pyspark.sql import functions as F

from malstrom_spark.functions import similarity
from malstrom_spark.queries import table


def _sides(spark, sf_dir, n_queries=8):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return emb, queries, corpus


def _frozen_hierarchy(emb, n_super=3, n_leaves=9):
    """Frozen head-row quantizer (the similarity_ann_ivf pattern):
    supers = first n_super embeddings, leaves = first n_leaves, each
    leaf attached to its integer-argmin super."""
    supers = emb.filter(F.col("vec_id") < n_super).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaves = emb.filter(F.col("vec_id") < n_leaves).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaves = similarity.assign_leaves_to_supers(leaves, supers)
    return supers, leaves


def test_hier_assign_all_supers_equals_flat(spark, sf_dir):
    """With every super probed the candidate set is every leaf, so the
    two-level assignment must equal flat ivf_assign over the leaf
    table — same cells, same ranks, same tie-breaks."""
    emb, _, corpus = _sides(spark, sf_dir)
    supers, leaves = _frozen_hierarchy(emb)
    flat = {
        (r.c_id, r.cell, r.rk)
        for r in similarity.ivf_assign(
            corpus, leaves, 3, "c_vec", rank_col="rk"
        ).collect()
    }
    hier = {
        (r.c_id, r.cell, r.rk)
        for r in similarity.ivf_assign_hier(
            corpus, supers, leaves, 3, "c_vec", n_probe_super=3, rank_col="rk"
        ).collect()
    }
    assert hier == flat


def test_hier_topk_full_probe_is_exact(spark, sf_dir):
    """n_probe = n_leaves and n_probe_super = n_super: every corpus
    cell is probed, so the result must equal brute-force top-k."""
    emb, queries, corpus = _sides(spark, sf_dir, n_queries=4)
    supers, leaves = _frozen_hierarchy(emb)
    exact = {
        (r.q_id, r.rank): r.c_id
        for r in similarity.cosine_topk(queries, corpus, k=3).collect()
    }
    hier = {
        (r.q_id, r.rank): r.c_id
        for r in similarity.ivf_topk_hier_portable(
            queries, corpus, supers, leaves, k=3, n_probe=9, n_probe_super=3
        ).collect()
    }
    assert hier == exact


def test_hier_topk_partial_probe_recall(spark, sf_dir):
    """Partial probing (2 of 3 supers, 3 of 9 leaves) keeps recall
    above the flat-IVF sanity bound."""
    emb, queries, corpus = _sides(spark, sf_dir)
    supers, leaves = _frozen_hierarchy(emb)
    exact = {
        (r.q_id, r.c_id)
        for r in similarity.cosine_topk(queries, corpus, k=3).collect()
    }
    approx = {
        (r.q_id, r.c_id)
        for r in similarity.ivf_topk_hier_portable(
            queries, corpus, supers, leaves, k=3, n_probe=3, n_probe_super=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"hier IVF recall {recall:.2f} below sanity bound"


def test_hier_probe_arrow_matches_flat_all_supers(spark, sf_dir):
    """Float engine: with n_probe_super = n_super the hier probe set
    must equal the flat Arrow probe set over the same leaf matrix
    (same (distance, leaf id) tie-break)."""
    emb, queries, _ = _sides(spark, sf_dir)
    sup_rows = emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    leaf_rows = emb.filter(F.col("vec_id") < 9).orderBy("vec_id").collect()
    supers = [[float(x) for x in r.embedding] for r in sup_rows]
    leaves = [[float(x) for x in r.embedding] for r in leaf_rows]
    import numpy as np

    S = np.asarray(supers)
    leaf_super = []
    for lv in leaves:
        d = ((S - np.asarray(lv)[None, :]) ** 2).sum(axis=1)
        leaf_super.append(int(np.argmin(d)))
    hq = similarity.HierQuantizer(supers, leaves, leaf_super)
    flat = {
        (r.q_id, r.list_id)
        for r in similarity.with_probe_lists(
            queries, "q_vec", leaves, 4
        ).select("q_id", "list_id").collect()
    }
    hier = {
        (r.q_id, r.list_id)
        for r in similarity.with_probe_lists_hier(
            queries, "q_vec", hq, 4, n_probe_super=3
        ).select("q_id", "list_id").collect()
    }
    assert hier == flat


def test_hier_nearest_single_super_matches_flat(spark, sf_dir):
    """Float engine: a 1-super hierarchy degrades to flat assignment
    over its leaves (every leaf is always a candidate)."""
    emb, _, corpus = _sides(spark, sf_dir)
    leaf_rows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    leaves = [[float(x) for x in r.embedding] for r in leaf_rows]
    hq = similarity.HierQuantizer([leaves[0]], leaves, [0] * len(leaves))
    flat = {
        (r.c_id, r.list_id)
        for r in similarity.with_nearest_list(
            corpus, "c_vec", leaves
        ).select("c_id", "list_id").collect()
    }
    hier = {
        (r.c_id, r.list_id)
        for r in similarity.with_nearest_list_hier(corpus, "c_vec", hq)
        .select("c_id", "list_id")
        .collect()
    }
    assert hier == flat


def test_hier_nearest_null_vector(spark):
    """Null vectors assign NULL (the flat engines' convention), and
    probe rows for them vanish at the explode."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None)], "c_id long, c_vec array<double>"
    )
    hq = similarity.HierQuantizer(
        [[1.0, 0.0], [0.0, 1.0]],
        [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.1, 0.9]],
        [0, 0, 1, 1],
    )
    got = {
        r.c_id: r.list_id
        for r in similarity.with_nearest_list_hier(emb, "c_vec", hq).collect()
    }
    assert got == {0: 0, 1: None}
    probed = similarity.with_probe_lists_hier(emb, "c_vec", hq, 2, 1).collect()
    assert {r.c_id for r in probed} == {0}


# 2-dim vectors: (id, vector) with a NULL element, the wrong length
# (1 and 3 elements) and NULL, next to two well-formed rows
_MALFORMED = [
    (0, [1.0, 0.0]), (1, [1.0, None]), (2, [1.0]), (3, [0.0, 1.0, 0.0]),
    (4, None), (5, [0.0, 1.0]),
]


def test_malformed_vectors_assign_null(spark):
    """Every nearest-centroid kernel, float or integer, treats a vector
    with a NULL element or a length other than the centroids' like a
    NULL vector: NULL cell (or cluster/dist2), no probe or cell rows.
    Arrow hands a NULL element over as NaN, which would take a real
    cell, and a ragged batch would fail the whole job in np.stack."""
    df = spark.createDataFrame(_MALFORMED, "c_id long, c_vec array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    hq = similarity.HierQuantizer(
        [[1.0, 0.0], [0.0, 1.0]],
        [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.1, 0.9]],
        [0, 0, 1, 1],
    )
    want = {0: 0, 1: None, 2: None, 3: None, 4: None, 5: 1}
    want_hier = {0: 0, 1: None, 2: None, 3: None, 4: None, 5: 2}

    def cells(out):
        return {r.c_id: r.list_id for r in out.collect()}

    def probed(out):
        return {r.c_id for r in out.collect()}

    assert cells(similarity.with_nearest_list(df, "c_vec", cents)) == want
    assert probed(similarity.with_probe_lists(df, "c_vec", cents, 2)) == {0, 5}
    assert cells(similarity.with_nearest_list_hier(df, "c_vec", hq)) == want_hier
    assert probed(similarity.with_probe_lists_hier(df, "c_vec", hq, 2, 1)) == {0, 5}
    in_super = similarity._with_leaf_in_super(
        df.withColumn("super_id", F.lit(1)), "c_vec", "super_id", hq
    )
    assert {r.c_id: r.leaf_id for r in in_super.collect()} == {
        0: 3, 1: None, 2: None, 3: None, 4: None, 5: 2
    }

    icents = [[1 << 20, 0], [0, 1 << 20]]
    flat = similarity._assign_cells_int(df, "c_id", "c_vec", icents)
    hier = similarity._assign_cells_int(
        df, "c_id", "c_vec", icents, [icents[0]]
    )
    for out in (flat, hier):
        got = {r.c_id: (r.cluster, r.dist2) for r in out.collect()}
        assert got == {0: (0, 0), 1: (None, None), 2: (None, None),
                       3: (None, None), 4: (None, None), 5: (1, 0)}

    # the integer IVF assigners: a malformed vector emits no cell rows,
    # also as a leaf centroid being attached to its super
    def cent_table(rows):
        return spark.createDataFrame(rows, "cent_id long, cent_vec array<double>")

    supers = cent_table([(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    leaves = similarity.assign_leaves_to_supers(
        cent_table([(10, [1.0, 0.0]), (11, [0.9, 0.1]), (12, [0.0, 1.0]),
                    (13, [0.1, 0.9])]),
        supers,
    )
    attached = similarity.assign_leaves_to_supers(
        df.withColumnRenamed("c_id", "cent_id").withColumnRenamed("c_vec", "cent_vec"),
        supers,
    )
    assert {r.cent_id: r.super_id for r in attached.collect()} == {0: 0, 5: 1}

    def assigned(out):
        return {(r.c_id, r.cell, r.rk) for r in out.collect()}

    assert assigned(
        similarity.ivf_assign(df, supers, 2, "c_vec", rank_col="rk")
    ) == {(0, 0, 1), (0, 1, 2), (5, 1, 1), (5, 0, 2)}
    assert assigned(
        similarity.ivf_assign_hier(
            df, supers, leaves, 2, "c_vec", rank_col="rk"
        )
    ) == {(0, 10, 1), (0, 11, 2), (5, 12, 1), (5, 13, 2)}


@pytest.mark.slow
def test_hier_build_and_topk_recall(spark, sf_dir):
    """End-to-end fitted hierarchy (two-level k-means) keeps recall at
    partial probing — the production configuration."""
    emb, queries, corpus = _sides(spark, sf_dir)
    exact = {
        (r.q_id, r.c_id)
        for r in similarity.cosine_topk(queries, corpus, k=3).collect()
    }
    approx = {
        (r.q_id, r.c_id)
        for r in similarity.ivf_topk_hier(
            queries, corpus, k=3, n_lists=9, n_probe=4, n_probe_super=2,
            n_iters=1,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"fitted hier recall {recall:.2f} below bound"


@pytest.mark.slow
def test_hier_build_assignment_cost_shape(spark, sf_dir):
    """The fitted hierarchy's structure is sane: ~sqrt(n_lists)
    supers, every leaf mapped to a live super, and every corpus
    vector assigned a leaf that exists."""
    emb, _, corpus = _sides(spark, sf_dir)
    hq = similarity.ivf_build_hier_centroids(corpus, "c_vec", n_lists=16, n_iters=1)
    assert len(hq.supers) == 4
    assert len(hq.leaves) <= 16 + len(hq.supers)
    assert all(0 <= s < len(hq.supers) for s in hq.leaf_super)
    assigned = similarity.with_nearest_list_hier(corpus, "c_vec", hq)
    ids = {r.list_id for r in assigned.select("list_id").distinct().collect()}
    assert ids <= set(range(len(hq.leaves)))


@pytest.mark.slow
def test_hier_partitioned_serving_prunes_cells(spark, sf_dir, tmp_path):
    """The persisted-assignment serving path accepts the two-level
    quantizer end-to-end: write partitions by global leaf id, the
    probed query batch prunes the scan to its cells, and ranks equal
    the in-memory hier serve with the same hierarchy."""
    import io
    from contextlib import redirect_stdout

    emb, queries, corpus = _sides(spark, sf_dir, n_queries=4)
    hq = similarity.ivf_build_hier_centroids(corpus, "c_vec", n_lists=9, n_iters=1)
    path = str(tmp_path / "ivf_hier_cells")
    similarity.ivf_write_assignments(corpus, hq, path)

    served = similarity.ivf_topk_partitioned(
        spark, path, queries, hq, k=3, n_probe=2, n_probe_super=2
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        served.explain("formatted")
    pf = buf.getvalue().split("PartitionFilters")[1].split("\n")[0]
    assert "list_id" in pf, f"no partition pruning: {pf}"

    want = {
        (r.q_id, r.rank): r.c_id
        for r in similarity.ivf_topk_hier(
            queries, corpus, k=3, n_probe=2, n_probe_super=2, hq=hq
        ).collect()
    }
    got = {(r.q_id, r.rank): r.c_id for r in served.collect()}
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_hier_update_assignments_equals_rebuild(spark, sf_dir):
    """Delete-and-replace maintenance under a frozen HierQuantizer:
    updating a base assignment table must equal a from-scratch rebuild
    over the post-update vector set (the update_ivf_assignments
    contract extended to the two-level representation)."""
    emb, _, corpus = _sides(spark, sf_dir)
    hq = similarity.ivf_build_hier_centroids(corpus, "c_vec", n_lists=9, n_iters=1)
    base = similarity.with_nearest_list_hier(corpus, "c_vec", hq)
    vec_t = corpus.schema["c_vec"].dataType
    src = corpus.select(
        F.col("c_id").alias("s_id"), F.col("c_vec").alias("s_vec")
    )
    fresh = (
        corpus.where(F.col("c_id") % 5 == 0)
        .select("c_id", F.expr("c_id div 5").alias("s_id"))
        .join(src, "s_id")
        .select(
            "c_id",
            F.when(F.col("c_id") % 25 == 0, F.lit(None).cast(vec_t))
            .otherwise(F.col("s_vec"))
            .alias("c_vec"),
        )
    )
    deleted = corpus.where(
        (F.col("c_id") % 9 == 1) & (F.col("c_id") % 5 != 0)
    ).select("c_id")
    updated = similarity.update_ivf_assignments(
        base, fresh, hq, deleted_ids=deleted
    )
    post = (
        corpus.join(fresh.select("c_id"), "c_id", "left_anti")
        .unionByName(fresh.where(F.col("c_vec").isNotNull()))
        .join(deleted, "c_id", "left_anti")
    )
    rebuilt = similarity.with_nearest_list_hier(post, "c_vec", hq)
    u = {(r.c_id, r.list_id) for r in updated.collect()}
    rb = {(r.c_id, r.list_id) for r in rebuilt.collect()}
    assert u == rb and len(u) > 0


def test_hier_build_tolerates_null_vectors(spark):
    """A corpus carrying NULL-vector tombstones (the maintenance
    convention) must refit cleanly — nulls are excluded from the fit
    set instead of crashing the seed sort."""
    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)]
    rows += [(100, None), (101, None)]
    corpus = spark.createDataFrame(rows, "c_id long, c_vec array<double>")
    hq = similarity.ivf_build_hier_centroids(corpus, "c_vec", n_lists=4, n_iters=1)
    assert len(hq.leaves) >= 1
    assigned = similarity.with_nearest_list_hier(corpus, "c_vec", hq)
    got = {r.c_id: r.list_id for r in assigned.collect()}
    assert got[100] is None and got[101] is None
    assert all(v is not None for k, v in got.items() if k < 100)


def test_hier_dead_super_never_wins_descent(spark, sf_dir):
    """A super-cell with zero leaves (possible in a hand-built
    hierarchy) must never capture a vector — the float engine masks it
    to +inf, the portable engine ranks only live supers — so every
    non-null vector still gets a cell instead of silently vanishing."""
    emb, _, corpus = _sides(spark, sf_dir)
    n = corpus.count()
    # float engine: super 1 is nearest for many vectors but has no leaves
    leaf_rows = emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    leaves = [[float(x) for x in r.embedding] for r in leaf_rows]
    dead = [0.0] * len(leaves[0])
    hq = similarity.HierQuantizer([leaves[0], dead], leaves, [0] * len(leaves))
    assigned = similarity.with_nearest_list_hier(corpus, "c_vec", hq)
    assert assigned.where(F.col("list_id").isNotNull()).count() == n
    probed = similarity.with_probe_lists_hier(corpus, "c_vec", hq, 2, 1)
    assert probed.select("c_id").distinct().count() == n
    # portable engine: super table contains an id absent from the leaf
    # table's super_id column
    supers = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaf_t = emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 7)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaf_t = similarity.assign_leaves_to_supers(leaf_t, supers)
    live = {r.super_id for r in leaf_t.select("super_id").distinct().collect()}
    if len(live) == 3:
        leaf_t = leaf_t.where(F.col("super_id") != sorted(live)[0])
    out = similarity.ivf_assign_hier(
        corpus, supers, leaf_t, 1, "c_vec", n_probe_super=1
    )
    assert out.count() == n


def test_semdedup_hier_one_super_equals_flat(spark, sf_dir):
    """SemDeDup routed through the two-level integer argmin with ONE
    super must produce row-identical output to the flat path (every
    leaf cluster is always a candidate)."""
    emb, _, _ = _sides(spark, sf_dir)
    df = emb.limit(400)
    cents = similarity.semdedup_head_centroids(df, "vec_id", "embedding", 6)
    flat = {
        (r.vec_id, r.cluster, r.dist2, r.group_id, r.is_keeper)
        for r in similarity.semdedup(
            df, "vec_id", "embedding", cents, threshold=0.9
        ).collect()
    }
    hier = {
        (r.vec_id, r.cluster, r.dist2, r.group_id, r.is_keeper)
        for r in similarity.semdedup(
            df, "vec_id", "embedding", cents, threshold=0.9,
            super_centroids=[cents[0]],
        ).collect()
    }
    assert hier == flat and len(hier) > 0


def test_semdedup_hier_partial_descent_valid(spark, sf_dir):
    """Multi-super descent keeps the SemDeDup output contract: one row
    per vector, clusters inside the leaf range, exact dist2 to the
    assigned cluster, one keeper per duplicate group."""
    emb, _, _ = _sides(spark, sf_dir)
    df = emb.limit(400)
    sup, cents = similarity.semdedup_hier_centroids(
        df, "embedding", n_clusters=8, n_iters=1, n_super=3
    )
    out = similarity.semdedup(
        df, "vec_id", "embedding", cents, threshold=0.9,
        super_centroids=sup,
    ).collect()
    assert len(out) == 400
    assert all(0 <= r.cluster < len(cents) for r in out if r.cluster is not None)
    by_group = {}
    for r in out:
        by_group.setdefault(r.group_id, []).append(r.is_keeper)
    assert all(sum(ks) == 1 for ks in by_group.values())
    # dist2 is the exact integer distance to the assigned leaf
    import numpy as np

    C = np.asarray(cents, dtype=np.int64)
    rows = {r.vec_id: r for r in out}
    # engine-quantized vectors (Spark round is HALF_UP; Python's
    # round() is half-to-even — recompute via the engine)
    sample = (
        emb.limit(20)
        .select("vec_id", similarity.quantize_vec(F.col("embedding")).alias("q"))
        .collect()
    )
    for r in sample:
        q = np.asarray(r.q, dtype=np.int64)
        got = rows[r.vec_id]
        want = int(((q - C[got.cluster]) ** 2).sum())
        assert got.dist2 == want
