"""Similarity search: brute-force top-k golden on constructed vectors;
LSH variant recall against brute force on clustered data."""

import math

import pytest
from pyspark.sql import functions as F

from malstrom_spark.functions import similarity


def _vec(angle, dim=8):
    v = [0.0] * dim
    v[0] = math.cos(angle)
    v[1] = math.sin(angle)
    return v


@pytest.fixture(scope="module")
def corpus(spark):
    # vectors at increasing angles from the x-axis
    rows = [(i, _vec(i * 0.1)) for i in range(20)]
    return spark.createDataFrame(rows, "c_id long, c_vec array<float>")


@pytest.fixture(scope="module")
def queries(spark):
    return spark.createDataFrame([(0, _vec(0.0))], "q_id long, q_vec array<float>")


def test_cosine_topk_golden(queries, corpus):
    out = similarity.cosine_topk(queries, corpus, k=3).collect()
    ranked = [r.c_id for r in sorted(out, key=lambda r: r.rank)]
    # nearest by angle: 0 (identical), then 1, then 2
    assert ranked == [0, 1, 2]
    sims = {r.c_id: r.sim for r in out}
    assert abs(sims[0] - 1.0) < 1e-9
    assert abs(sims[1] - math.cos(0.1)) < 1e-6


def test_lsh_topk_recall(queries, corpus):
    exact = {r.c_id for r in similarity.cosine_topk(queries, corpus, k=5).collect()}
    approx = {
        r.c_id
        for r in similarity.lsh_topk(queries, corpus, dim=8, k=5, n_planes=4).collect()
    }
    # low plane count -> big buckets -> should recover most of exact top-5
    assert len(exact & approx) >= 3


def test_embedding_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
    ]
    df = spark.createDataFrame(rows, "vid long, vec array<float>")
    pairs = similarity.embedding_near_dups(df, "vid", "vec", dim=4, threshold=0.99, n_planes=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got
    assert all(2 not in p for p in got)


def test_ivf_exact_when_probing_all_lists(spark, sf_dir):
    """n_probe = n_lists must reproduce brute-force top-k exactly."""
    from malstrom_spark.functions import similarity
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    exact = {
        (r.q_id, r.rank): r.c_id
        for r in similarity.cosine_topk(queries, corpus, k=3).collect()
    }
    ivf_all = {
        (r.q_id, r.rank): r.c_id
        for r in similarity.ivf_topk(
            queries, corpus, k=3, n_lists=4, n_probe=4, n_iters=1
        ).collect()
    }
    assert ivf_all == exact


def test_ivf_partial_probe_recall(spark, sf_dir):
    """Probing half the cells should still recover most true
    neighbors (sanity bound, deterministic centroids)."""
    from malstrom_spark.functions import similarity
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    exact = {
        (r.q_id, r.c_id)
        for r in similarity.cosine_topk(queries, corpus, k=3).collect()
    }
    approx = {
        (r.q_id, r.c_id)
        for r in similarity.ivf_topk(
            queries, corpus, k=3, n_lists=8, n_probe=4, n_iters=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below sanity bound"


def test_cosine_topk_pandas_matches_hof(spark, sf_dir):
    """The Arrow/numpy scorer must produce the same (q_id, c_id, rank)
    assignment as the HOF fold — float sums differ only in summation
    order, far below ranking granularity on real data."""
    from malstrom_spark.functions import similarity
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    hof = similarity.cosine_topk(queries, corpus, k=5)
    arrow = similarity.cosine_topk_pandas(queries, corpus, k=5)
    a = {(r.q_id, r.c_id): r.rank for r in hof.collect()}
    b = {(r.q_id, r.c_id): r.rank for r in arrow.collect()}
    assert a == b
    # sims numerically equal to fp-reassociation tolerance
    sa = {(r.q_id, r.c_id): r.sim for r in hof.collect()}
    sb = {(r.q_id, r.c_id): r.sim for r in arrow.collect()}
    assert all(abs(sa[k_] - sb[k_]) < 1e-9 for k_ in sa)


def test_cosine_topk_degenerate_inputs(spark, queries, corpus):
    """Zero-norm vectors (NaN cosine) are excluded on BOTH scorer
    paths, and an empty query set returns an empty frame instead of a
    (dim, 0) matmul error (ADVICE r02)."""
    rows = [(98, [0.0] * 8), (99, [1.0] + [0.0] * 7)]
    weird = spark.createDataFrame(rows, "c_id long, c_vec array<float>")
    both = corpus.unionByName(weird)
    hof = similarity.cosine_topk(queries, both, k=30).collect()
    arrow = similarity.cosine_topk_pandas(queries, both, k=30).collect()
    assert all(r.c_id != 98 for r in hof), "zero-norm corpus row leaked (HOF)"
    assert all(r.c_id != 98 for r in arrow), "zero-norm corpus row leaked (numpy)"
    assert {(r.q_id, r.c_id, r.rank) for r in hof} == {
        (r.q_id, r.c_id, r.rank) for r in arrow
    }
    empty_q = queries.filter(F.col("q_id") < 0)
    assert similarity.cosine_topk_pandas(empty_q, both, k=3).count() == 0
    # zero-norm QUERY yields no rows rather than NaN ranks
    zq = spark.createDataFrame([(7, [0.0] * 8)], "q_id long, q_vec array<float>")
    assert similarity.cosine_topk(zq, both, k=3).count() == 0
    assert similarity.cosine_topk_pandas(zq, both, k=3).count() == 0


@pytest.mark.parametrize("n_planes", [6, 8])
def test_lsh_bucket_matches_portable_probe_bucket(spark, sf_dir, n_planes):
    """The numpy-matmul `with_lsh_bucket` equals the n_probe=1 base
    bucket of `with_probe_buckets_portable`, an independent Column
    computation of the same integer dots (the one the ann_lsh oracle
    replays), on every testdata embedding — and on the rows where no
    dot is defined (NULL vector, NULL element, wrong length: bucket 0)
    and on quantization ties at exactly .5 (HALF_UP, not half-even)."""
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    half = 0.5 / (1 << 20)
    odd = spark.createDataFrame(
        [
            (-1, None),
            (-2, [1.0] + [None] * 63),
            (-3, [1.0, -1.0]),
            (-4, [half * (1 if i % 3 else -3) for i in range(64)]),
        ],
        "vec_id long, embedding array<float>",
    )
    both = emb.unionByName(odd)
    plain = similarity.with_lsh_bucket(both, "embedding", dim=64, n_planes=n_planes)
    probed1 = similarity.with_probe_buckets_portable(
        both, "embedding", dim=64, n_planes=n_planes, n_probe=1
    )
    a = {r.vec_id: r.bucket for r in plain.collect()}
    b = {r.vec_id: r.bucket for r in probed1.collect()}
    assert a == b
    assert a[-1] == a[-2] == a[-3] == 0
    assert len(set(a.values())) > n_planes


def test_lsh_multi_probe_lifts_recall(spark, sf_dir):
    """Query-directed multi-probe: probed bucket sets are supersets by
    construction, so recall is monotone in n_probe; pin a STRICT and
    material lift on the testdata (measured 0.225 -> 0.362 recall@5 at
    6 planes going 1 -> 8 probes; absolute recall is capped by the
    near-uniform synthetic embeddings, which is why the assertion is
    relative, not an absolute floor)."""
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    exact = {
        (r.q_id, r.c_id)
        for r in similarity.cosine_topk(queries, corpus, k=5).collect()
    }

    def recall(n_probe):
        got = {
            (r.q_id, r.c_id)
            for r in similarity.lsh_topk(
                queries, corpus, dim=64, k=5, n_planes=6, n_probe=n_probe
            ).collect()
        }
        return len(exact & got) / len(exact)

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8, f"recall not monotone in n_probe: {r1} {r4} {r8}"
    assert r8 >= 1.3 * r1, f"multi-probe lift too small: {r1:.3f} -> {r8:.3f}"


def test_portable_multi_probe_lifts_recall(spark, sf_dir):
    """Integer-exact multi-probe (with_probe_buckets_portable): probed
    sets are supersets, recall monotone and strictly lifted on the
    testdata (n_probe=1 equals the plain bucketing, pinned by
    test_lsh_bucket_matches_portable_probe_bucket)."""
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    exact = {
        (r.q_id, r.c_id)
        for r in similarity.cosine_topk(queries, corpus, k=5).collect()
    }

    def recall(n_probe):
        got = {
            (r.q_id, r.c_id)
            for r in similarity.lsh_topk_portable(
                queries, corpus, dim=64, k=5, n_planes=6, n_probe=n_probe
            ).collect()
        }
        return len(exact & got) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 > r1, f"portable multi-probe added nothing: {r1:.3f} -> {r4:.3f}"


def test_ivf_multi_probe_recall_sweep(spark, sf_dir):
    """IVF recall is monotone in n_probe (probed cell sets are
    supersets) and materially lifted by probing more cells — the IVF
    counterpart of the LSH multi-probe pin; n_probe = n_lists is exact
    (pinned separately by test_ivf_exact_when_probing_all_lists)."""
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    exact = {
        (r.q_id, r.c_id)
        for r in similarity.cosine_topk(queries, corpus, k=5).collect()
    }
    cents = similarity.ivf_build_centroids(corpus, "c_vec", n_lists=8, n_iters=1)

    def recall(n_probe):
        got = {
            (r.q_id, r.c_id)
            for r in similarity.ivf_topk(
                queries, corpus, k=5, n_lists=8, n_probe=n_probe, centroids=cents
            ).collect()
        }
        return len(exact & got) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, f"IVF recall not monotone: {r1} {r2} {r4}"
    assert r4 > r1, f"probing 4 cells added nothing over 1: {r1:.3f}"
    assert r4 >= 0.5, f"recall@5 with half the cells probed: {r4:.3f}"


def test_ivf_sample_fraction_fit(spark, sf_dir):
    """Round-4 VERDICT #7: the k-means fit can run on a seeded sample
    of the corpus (the 100 TB fit path) — sample_fraction=1.0 is
    bit-identical to the full fit, a 0.5 sample is deterministic and
    still yields usable recall with half the cells probed."""
    from malstrom_spark.functions import similarity
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))

    full = similarity.ivf_build_centroids(corpus, "c_vec", n_lists=8, n_iters=1)
    one = similarity.ivf_build_centroids(
        corpus, "c_vec", n_lists=8, n_iters=1, sample_fraction=1.0
    )
    assert full == one  # fraction >= 1.0 IS the full fit

    half_a = similarity.ivf_build_centroids(
        corpus, "c_vec", n_lists=8, n_iters=1, sample_fraction=0.5
    )
    half_b = similarity.ivf_build_centroids(
        corpus, "c_vec", n_lists=8, n_iters=1, sample_fraction=0.5
    )
    assert half_a == half_b  # seeded sample -> deterministic fit

    exact = {
        (r.q_id, r.c_id)
        for r in similarity.cosine_topk(queries, corpus, k=3).collect()
    }
    approx = {
        (r.q_id, r.c_id)
        for r in similarity.ivf_topk(
            queries, corpus, k=3, n_lists=8, n_probe=4, centroids=half_a
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"sampled-fit IVF recall {recall:.2f} below sanity bound"


def test_embedding_dedup_clusters_matches_union_find(spark, sf_dir):
    """Cluster labels must equal union-find over the pair pipeline's
    output (pairs are the verified semantics), singletons included."""
    from malstrom_spark.functions import similarity
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    pairs = [
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups_portable(
            emb, "vec_id", "embedding", dim=64, threshold=0.35, n_planes=8
        ).collect()
    ]
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in ids}
    got = {
        r.vec_id: (r.group_id, r.is_keeper)
        for r in similarity.embedding_dedup_clusters(
            emb, "vec_id", "embedding", dim=64, threshold=0.35, n_planes=8,
            portable=True,
        ).collect()
    }
    assert {k: v[0] for k, v in got.items()} == want
    assert all(keeper == (k == grp) for k, (grp, keeper) in got.items())


def test_ivf_partitioned_serving_prunes_cells(spark, sf_dir, tmp_path):
    """The persisted-assignment serving path reads ONLY the probed
    cells (partition pruning on list_id) and returns exactly the same
    ranks as in-memory ivf_topk with the same centroids."""
    import io
    from contextlib import redirect_stdout

    from malstrom_spark.functions import similarity
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    cents = similarity.ivf_build_centroids(corpus, "c_vec", n_lists=8, n_iters=1)
    path = str(tmp_path / "ivf_cells")
    similarity.ivf_write_assignments(corpus, cents, path)

    served = similarity.ivf_topk_partitioned(
        spark, path, queries, cents, k=3, n_probe=2
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "list_id" in pf, f"no partition pruning: {pf}"

    want = {
        (r.q_id, r.rank): r.c_id
        for r in similarity.ivf_topk(
            queries, corpus, k=3, n_lists=8, n_probe=2, centroids=cents
        ).collect()
    }
    got = {(r.q_id, r.rank): r.c_id for r in served.collect()}
    assert got == want and len(got) > 0


def test_ivf_arrow_assign_matches_literal(spark, sf_dir):
    """The broadcast-centroid Arrow scorer (the production path for
    big quantizers, VERDICT r5 item #2) must produce IDENTICAL cell
    assignments and probe lists to the literal-expression path —
    same squared-L2 math, same first-min / stable-sort tie-breaks."""
    from malstrom_spark.functions import similarity
    from malstrom_spark.queries import table

    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    cents = similarity.ivf_build_centroids(emb, "c_vec", n_lists=8, n_iters=1)

    lit = {
        r.c_id: r.list_id
        for r in similarity.with_nearest_list(
            emb, "c_vec", cents, use_arrow=False
        ).collect()
    }
    arw = {
        r.c_id: r.list_id
        for r in similarity.with_nearest_list(
            emb, "c_vec", cents, use_arrow=True
        ).collect()
    }
    assert arw == lit and len(lit) > 0

    lit_p = {
        (r.c_id, r.list_id)
        for r in similarity.with_probe_lists(
            emb, "c_vec", cents, n_probe=3, use_arrow=False
        ).collect()
    }
    arw_p = {
        (r.c_id, r.list_id)
        for r in similarity.with_probe_lists(
            emb, "c_vec", cents, n_probe=3, use_arrow=True
        ).collect()
    }
    assert arw_p == lit_p


def test_ivf_arrow_null_vector_matches_literal(spark):
    """Null vectors: literal path propagates NULL list_id (and the
    explode drops the row on the probe side); arrow path must agree."""
    from malstrom_spark.functions import similarity

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "c_id long, c_vec array<float>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    for use_arrow in (False, True):
        got = {
            r.c_id: r.list_id
            for r in similarity.with_nearest_list(
                df, "c_vec", cents, use_arrow=use_arrow
            ).collect()
        }
        assert got == {0: 0, 1: None, 2: 1}, (use_arrow, got)
        probed = {
            (r.c_id, r.list_id)
            for r in similarity.with_probe_lists(
                df, "c_vec", cents, n_probe=2, use_arrow=use_arrow
            ).collect()
        }
        assert probed == {(0, 0), (0, 1), (2, 1), (2, 0)}, (use_arrow, probed)


def test_ivf_large_quantizer_uses_arrow_and_plans_fast(spark):
    """n_lists=1024 x dim=256 (262k literal nodes — above
    IVF_LITERAL_MAX_NODES): auto-dispatch must pick the Arrow scorer,
    whose plan carries ONE udf node regardless of quantizer size, and
    assignment over a small corpus must complete promptly. The
    literal path at this size would inline 262k literal nodes into
    the plan (analysis/codegen blowup — the r5 scale-killer)."""
    import time

    from malstrom_spark.functions import similarity

    dim, n_lists = 256, 1024
    # deterministic centroid grid: unit basis bumps, no RNG
    cents = [
        [1.0 if j == (i % dim) else 0.001 * ((i * 7 + j) % 5) for j in range(dim)]
        for i in range(n_lists)
    ]
    assert n_lists * dim > similarity.IVF_LITERAL_MAX_NODES
    rows = [(i, [float((i + j) % 13) for j in range(dim)]) for i in range(64)]
    df = spark.createDataFrame(rows, "c_id long, c_vec array<float>")

    t0 = time.perf_counter()
    assigned = similarity.with_nearest_list(df, "c_vec", cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    n = assigned.count()
    dt = time.perf_counter() - t0
    assert "ArrowEvalPython" in plan or "pythonUDF" in plan.lower(), plan[:2000]
    assert n == 64
    # generous bound: the point is it finishes in seconds, not minutes
    assert dt < 60, f"arrow assignment took {dt:.1f}s"


def test_ivf_arrow_nan_vector_matches_literal(spark):
    """NaN-poisoned vectors (r6 ADVICE): Spark orders NaN greater than
    everything, so a NaN distance loses the argmin in the literal
    path; the arrow scorers mask NaN distances to +inf to match. A
    vector that is ALL NaN has every distance NaN — both engines then
    pick cell 0 (first-min of equal keys)."""
    from malstrom_spark.functions import similarity

    nan = float("nan")
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [nan, nan]), (2, [0.0, 1.0])],
        "c_id long, c_vec array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    results = {}
    for use_arrow in (False, True):
        results[use_arrow] = {
            r.c_id: r.list_id
            for r in similarity.with_nearest_list(
                df, "c_vec", cents, use_arrow=use_arrow
            ).collect()
        }
    assert results[True] == results[False], results
    probe_results = {}
    for use_arrow in (False, True):
        probe_results[use_arrow] = sorted(
            (r.c_id, r.list_id)
            for r in similarity.with_probe_lists(
                df, "c_vec", cents, n_probe=2, use_arrow=use_arrow
            ).collect()
        )
    assert probe_results[True] == probe_results[False], probe_results


def test_centroid_broadcast_cached_per_matrix(spark):
    """r6 ADVICE: repeated arrow-path calls with the same quantizer
    must reuse ONE broadcast (long-lived serving sessions previously
    accumulated executor broadcast blocks per call); a different
    matrix gets its own entry, and the cache stays bounded."""
    from malstrom_spark.functions import similarity

    c1 = [[1.0, 0.0], [0.0, 1.0]]
    b1 = similarity._centroid_bc(spark, c1)
    b2 = similarity._centroid_bc(spark, c1)
    assert b1 is b2
    b3 = similarity._centroid_bc(spark, [[2.0, 0.0], [0.0, 2.0]])
    assert b3 is not b1
    # equal CONTENT from a fresh list object still hits the cache
    assert similarity._centroid_bc(spark, [list(r) for r in c1]) is b1
    # bounded: churn past the cap; the cache never exceeds it
    for i in range(similarity._CENTROID_BC_MAX + 3):
        similarity._centroid_bc(spark, [[float(i + 10), 1.0]])
    assert len(similarity._centroid_bc_cache) <= similarity._CENTROID_BC_MAX


# ---------------------------- SemDeDup (round 10)
def _semdedup_python(vecs, centroids, threshold):
    """Independent brute-force reference (the oracle replays the same
    dataflow, so correctness pins against THIS, not just the SQL)."""
    import numpy as np

    Q = 1 << 20
    qv = {i: np.round(np.asarray(v) * Q).astype(np.int64)
          for i, v in vecs.items()}
    cents = [np.asarray(c, dtype=np.int64) for c in centroids]
    assign, dist2 = {}, {}
    for i, q in qv.items():
        d = [int(((q - c) ** 2).sum()) for c in cents]
        cell = min(range(len(cents)), key=lambda j: (d[j], j))
        assign[i], dist2[i] = cell, d[cell]
    ids = sorted(vecs)
    adj = {i: {i} for i in ids}
    for x in ids:
        for y in ids:
            if x < y and assign[x] == assign[y]:
                a, b = np.asarray(vecs[x]), np.asarray(vecs[y])
                sim = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
                if sim >= threshold:
                    adj[x].add(y)
                    adj[y].add(x)
    group = {}
    for i in ids:
        if i in group:
            continue
        stack, comp = [i], set()
        while stack:
            n = stack.pop()
            if n in comp:
                continue
            comp.add(n)
            stack.extend(adj[n] - comp)
        g = min(comp)
        for n in comp:
            group[n] = g
    keeper = {}
    for g in set(group.values()):
        members = [i for i in ids if group[i] == g]
        keeper[g] = max(members, key=lambda i: (dist2[i], -i))
    return {
        i: (assign[i], dist2[i], group[i], i == keeper[group[i]])
        for i in ids
    }


def test_semdedup_matches_python_reference(spark):
    import numpy as np
    from malstrom_spark.functions import similarity as sim

    rng = np.random.RandomState(3)
    # 3 anchor directions; members = anchor + small noise -> dup groups
    anchors = [rng.normal(0, 1, 8) for _ in range(3)]
    vecs = {}
    for i in range(24):
        base = anchors[i % 3]
        v = base + rng.normal(0, 0.05 if i < 18 else 2.0, 8)
        vecs[i] = [float(x) for x in np.round(v / np.linalg.norm(v), 6)]
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>")
    cents = sim.semdedup_head_centroids(df, "vec_id", "embedding", 4)
    got = {r["vec_id"]: (r["cluster"], r["dist2"], r["group_id"],
                         r["is_keeper"])
           for r in sim.semdedup(df, "vec_id", "embedding", cents,
                                 threshold=0.9).collect()}
    want = _semdedup_python(vecs, cents, 0.9)
    assert got == want
    # sanity: dup groups exist and keepers are unique per group
    groups = {}
    for i, (_, _, g, k) in got.items():
        groups.setdefault(g, []).append((i, k))
    assert any(len(m) > 1 for m in groups.values())
    for g, members in groups.items():
        assert sum(1 for _, k in members if k) == 1


def test_semdedup_learned_centroids_same_dataflow(spark):
    """The production path: float Lloyd centroids, quantized, through
    the identical operator — output still matches the brute force
    run with THOSE centroids."""
    import numpy as np
    from malstrom_spark.functions import similarity as sim

    rng = np.random.RandomState(9)
    vecs = {i: [float(x) for x in np.round(rng.normal(0, 1, 8), 6)]
            for i in range(40)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>")
    cents = sim.semdedup_learned_centroids(df, "embedding", 8, 4, n_iters=3)
    assert len(cents) == 4 and all(len(c) == 8 for c in cents)
    got = {r["vec_id"]: (r["cluster"], r["dist2"], r["group_id"],
                         r["is_keeper"])
           for r in sim.semdedup(df, "vec_id", "embedding", cents,
                                 threshold=0.95).collect()}
    assert got == _semdedup_python(vecs, cents, 0.95)


def test_semdedup_validation(spark):
    import pytest
    from malstrom_spark.functions import similarity as sim

    df = spark.createDataFrame([(1, [0.1, 0.2])],
                               "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="centroid"):
        sim.semdedup(df, "vec_id", "embedding", [], threshold=0.9)
    with pytest.raises(ValueError, match="head rows"):
        sim.semdedup_head_centroids(df, "vec_id", "embedding", 5)


def test_semdedup_assign_arrow_matches_literal(spark):
    """The two _assign_cells_int engines (literal codegen vs Arrow
    broadcast matmul) are value-identical — cluster, dist2, and null
    propagation. The Arrow path scores the JVM-quantized array, so
    quantization cannot diverge by construction; this pins the
    argmin/tie-break/None handling."""
    import numpy as np
    from malstrom_spark.functions import similarity as sim

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in np.round(rng.normal(0, 1, 8), 6)])
            for i in range(30)]
    rows.append((30, None))  # null vector: null cluster/dist2 both paths
    # an exact-tie row: equidistant from centroids 0 and 1 by symmetry
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.semdedup_head_centroids(
        df.where("embedding is not null"), "vec_id", "embedding", 4)
    lit = {r["vec_id"]: (r["cluster"], r["dist2"]) for r in
           sim._assign_cells_int(df, "vec_id", "embedding", cents,
                                 use_arrow=False).collect()}
    arw = {r["vec_id"]: (r["cluster"], r["dist2"]) for r in
           sim._assign_cells_int(df, "vec_id", "embedding", cents,
                                 use_arrow=True).collect()}
    assert lit == arw
    assert lit[30] == (None, None)
    # tie-break: a vector EQUAL to centroid 2's quantized value picks 2
    tie = spark.createDataFrame(
        [(0, [x / sim.QUANT_SCALE for x in cents[2]])],
        "vec_id long, embedding array<double>")
    for ua in (False, True):
        r = sim._assign_cells_int(tie, "vec_id", "embedding", cents,
                                  use_arrow=ua).collect()[0]
        assert (r["cluster"], r["dist2"]) == (2, 0)


def test_semdedup_exact_collapse_identical_output(spark):
    """The adaptive exact-copy collapse path is output-identical to
    the uncollapsed pipeline on a dup-heavy corpus (the discipline's
    contract), and null vectors never merge through the collapse."""
    import numpy as np
    from malstrom_spark.functions import similarity as sim

    rng = np.random.RandomState(5)
    base = [[float(x) for x in np.round(rng.normal(0, 1, 8), 6)]
            for _ in range(6)]
    rows = []
    for i in range(60):  # 10 exact copies of each of 6 vectors
        rows.append((i, base[i % 6]))
    rows += [(100, None), (101, None)]  # null vecs: singleton groups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.semdedup_head_centroids(
        df.where("embedding is not null"), "vec_id", "embedding", 3)

    def run(collapse):
        return sorted(
            (r["vec_id"], r["cluster"], r["dist2"], r["group_id"],
             r["is_keeper"])
            for r in sim.semdedup(df, "vec_id", "embedding", cents,
                                  threshold=0.9,
                                  collapse_exact=collapse).collect()
        )

    plain = run(False)
    collapsed = run(True)
    adaptive = run(None)  # 90% dup mass -> probe turns collapse ON
    assert plain == collapsed == adaptive
    # the two null-vector rows are singleton groups, never merged
    by_id = {t[0]: t for t in plain}
    assert by_id[100][3] != by_id[101][3]
    # copies share groups (cosine 1 >= threshold)
    assert by_id[0][3] == by_id[6][3] == by_id[54][3]


def test_semdedup_zero_norm_vectors_never_collapse(spark):
    """Byte-identical ZERO vectors must behave the same in the collapse
    and uncollapsed paths: cosine(0, anything) is NULL -> below every
    threshold, so the plain pair join never links them. The collapse
    must not star-edge them into one group (round-11 ADVICE fix)."""
    import numpy as np
    from malstrom_spark.functions import similarity as sim

    rng = np.random.RandomState(7)
    base = [[float(x) for x in np.round(rng.normal(0, 1, 4), 6)]
            for _ in range(3)]
    rows = []
    for i in range(30):  # heavy dup mass so the adaptive probe fires
        rows.append((i, base[i % 3]))
    zero = [0.0, 0.0, 0.0, 0.0]
    rows += [(200, zero), (201, zero), (202, zero)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.semdedup_head_centroids(df, "vec_id", "embedding", 2)

    def run(collapse):
        return sorted(
            (r["vec_id"], r["group_id"], r["is_keeper"])
            for r in sim.semdedup(df, "vec_id", "embedding", cents,
                                  threshold=0.9,
                                  collapse_exact=collapse).collect()
        )

    plain = run(False)
    collapsed = run(True)
    adaptive = run(None)
    assert plain == collapsed == adaptive
    # the three zero vectors are pairwise-unlinked singletons
    by_id = {t[0]: t for t in plain}
    groups = {by_id[200][1], by_id[201][1], by_id[202][1]}
    assert len(groups) == 3
    # and every singleton is its own keeper
    assert by_id[200][2] and by_id[201][2] and by_id[202][2]


def test_update_ivf_assignments_equals_rebuild(spark):
    # delete-and-replace against the frozen quantizer must serve
    # exactly what a from-scratch rebuild over the updated vector set
    # serves: same assignments, same top-k
    from pyspark.sql import functions as F

    from malstrom_spark.functions import similarity as sim

    def emb(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    base_rows = [(i, [1.0 * (i % 4), 1.0, 0.1 * i]) for i in range(12)]
    base_vecs = emb(base_rows)
    cents = emb([(0, [0, 1, 0]), (1, [1, 1, 0]), (2, [3, 1, 1])]).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    corpus = base_vecs.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    assignments = sim.ivf_assign(corpus, cents, 1, "c_vec", "c_id")

    # re-embed 3 and 7, tombstone 5 (NULL vector), delete 9 outright
    fresh = spark.createDataFrame(
        [(3, [9.0, 9.0, 9.0]), (7, [0.0, 0.5, 0.2]), (5, None)],
        "c_id long, c_vec array<float>",
    )
    deleted = spark.createDataFrame([(9,)], "c_id long")
    updated = sim.update_ivf_assignments(
        assignments, fresh, cents, deleted_ids=deleted
    )

    survivors = {i for i, _ in base_rows} - {5, 9}
    new_vec = {3: [9.0, 9.0, 9.0], 7: [0.0, 0.5, 0.2]}
    rebuilt_rows = [
        (i, new_vec.get(i, dict(base_rows)[i])) for i in sorted(survivors)
    ]
    rebuilt = sim.ivf_assign(
        emb(rebuilt_rows).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
        ),
        cents, 1, "c_vec", "c_id",
    )
    as_set = lambda df: {  # noqa: E731
        (r.c_id, tuple(r.c_vec), r.cell) for r in df.collect()
    }
    assert as_set(updated) == as_set(rebuilt)

    # served top-k from the updated table == ivf_topk_portable rebuild
    queries = emb([(100, [1.0, 1.0, 0.0]), (101, [9.0, 8.0, 9.0])]).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    served = sim.ivf_topk_from_assignments(
        updated, queries, cents, k=3, n_probe=2
    )
    rebuilt_topk = sim.ivf_topk_portable(
        queries,
        emb(rebuilt_rows).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
        ),
        cents, k=3, n_probe=2,
    )
    key = lambda df: sorted(  # noqa: E731
        (r.q_id, r.rank, r.c_id, round(r.sim, 12)) for r in df.collect()
    )
    assert key(served) == key(rebuilt_topk)
    # the deleted and tombstoned ids must not serve
    assert not {r.c_id for r in served.collect()} & {5, 9}
