"""Product quantization: encode/ADC against numpy references,
malformed-vector handling, codebook fit determinism, IVF-PQ
composition, recall floor, and plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from malstrom_spark.functions import pq
from malstrom_spark.functions.similarity import cosine_topk, quantize_vec
from malstrom_spark.queries import table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def learned_books(emb):
    return pq.pq_fit_codebooks(emb, "embedding", 64, m=8, k=16, n_iters=3)


def _quantized(vec_col, out_col):
    """The gate row's pre-quantized input: round(x * 2^20) as doubles."""
    return quantize_vec(F.col(vec_col)).cast("array<double>").alias(out_col)


def test_head_codebooks_self_encode(spark, emb):
    """Head vectors ARE codebook entries, so each must encode to its
    own index in every subspace and ADC-score itself at distance 0
    (the similarity_ann_pq form: pre-quantized vectors, the integer
    head codebooks as floats)."""
    cbs = pq.pq_head_codebooks(emb, "embedding", "vec_id", 64, m=8, k=16)
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8
    fbs = [[[float(x) for x in e] for e in b] for b in cbs]
    qemb = emb.select("vec_id", _quantized("embedding", "qv"))
    enc = pq.pq_encode(qemb, "qv", fbs, 64)
    head = {r.vec_id: list(r.codes) for r in enc.where(F.col("vec_id") < 16).collect()}
    assert head == {i: [i] * 8 for i in range(16)}
    q = qemb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_vec")
    )
    codes = enc.select(F.col("vec_id").alias("c_id"), "codes")
    top = pq.pq_adc_topk(q, codes, fbs, 64, k=1).collect()
    assert {(r.q_id, r.c_id, r.d2) for r in top} == {(i, i, 0) for i in range(4)}


def test_fit_deterministic_and_geometry(emb, learned_books):
    again = pq.pq_fit_codebooks(emb, "embedding", 64, m=8, k=16, n_iters=3)
    assert learned_books == again
    assert len(learned_books) == 8
    assert all(len(b) == 16 and all(len(c) == 8 for c in b) for b in learned_books)
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_fit_codebooks(emb, "embedding", 64, m=7)


def _np_encode(vec, books):
    """Driver-side reference code: per subspace the first-min argmin
    of the full squared L2 to each codebook entry."""
    x = np.asarray(vec, dtype=np.float64)
    C = np.asarray(books, dtype=np.float64)
    m, _, dsub = C.shape
    return [
        int(np.argmin(((x[s * dsub:(s + 1) * dsub] - C[s]) ** 2).sum(axis=1)))
        for s in range(m)
    ]


def test_encode_matches_numpy_reference(emb, learned_books):
    rows = emb.collect()
    got = {
        r.vec_id: list(r.codes)
        for r in pq.pq_encode(emb, "embedding", learned_books, 64).collect()
    }
    want = {r.vec_id: _np_encode(r.embedding, learned_books) for r in rows}
    assert got == want and len(got) == len(rows)


def test_encode_null_vector_encodes_null(spark, learned_books):
    df = spark.createDataFrame(
        [(1, [0.0] * 64), (2, None)], "id long, embedding array<float>"
    )
    got = {
        r.id: r.codes
        for r in pq.pq_encode(df, "embedding", learned_books, 64).collect()
    }
    assert got[2] is None and got[1] is not None


def test_malformed_vectors_encode_null_and_queries_drop(spark, learned_books):
    """A vector with a NULL element or a length other than `dim` is
    treated like a NULL vector: it encodes NULL (not code 0 from a
    NaN-masked argmin) and, as a query, is dropped — and a ragged
    batch no longer fails the whole job."""
    df = spark.createDataFrame(
        [(1, [0.1] * 64), (2, [0.1] * 63 + [None]), (3, [0.1] * 63),
         (4, [0.1] * 65), (5, None)],
        "id long, embedding array<float>",
    )
    got = {
        r.id: r.codes
        for r in pq.pq_encode(df, "embedding", learned_books, 64).collect()
    }
    assert got == {1: _np_encode([0.1] * 64, learned_books),
                   2: None, 3: None, 4: None, 5: None}
    codes = spark.createDataFrame([(7, got[1])], "c_id long, codes array<int>")
    queries = df.select(F.col("id").alias("q_id"), F.col("embedding").alias("q_vec"))
    top = pq.pq_adc_topk(queries, codes, learned_books, 64, k=1).collect()
    assert {r.q_id for r in top} == {1}


def test_adc_matches_numpy_reference(emb, learned_books):
    """ADC distances and ranks equal a driver-side LUT-free reference:
    d2 = sum_s ||q_s - cb[s][code_s]||^2, ranked by (d2, c_id)."""
    enc = pq.pq_encode(emb, "embedding", learned_books, 64)
    q = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    codes = enc.select(F.col("vec_id").alias("c_id"), "codes")
    got = sorted(
        (r.q_id, r.rank, r.c_id, r.d2)
        for r in pq.pq_adc_topk(q, codes, learned_books, 64, k=5).collect()
    )
    C = np.asarray(learned_books, dtype=np.float64)
    m, _, dsub = C.shape
    corpus = [(r.c_id, r.codes) for r in codes.collect()]
    want = []
    for qr in q.collect():
        x = np.asarray(qr.q_vec, dtype=np.float64).reshape(m, dsub)
        scored = sorted(
            (float(sum(((x[s] - C[s][cd[s]]) ** 2).sum() for s in range(m))), cid)
            for cid, cd in corpus
        )
        want += [(qr.q_id, rk + 1, cid, d2) for rk, (d2, cid) in enumerate(scored[:5])]
    want.sort()
    assert [t[:3] for t in got] == [t[:3] for t in want]
    assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(got, want))


def test_adc_recall_vs_exact(emb, learned_books):
    """PQ is lossy; assert recall@10 of ADC against exact cosine
    top-10 clears a floor on the near-uniform synthetic embeddings
    (weak structure -> modest bar, same rationale as the LSH tests)."""
    enc = pq.pq_encode(emb, "embedding", learned_books, 64)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    codes = enc.select(F.col("vec_id").alias("c_id"), "codes")
    approx = pq.pq_adc_topk(q, codes, learned_books, 64, k=10)
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    exact = cosine_topk(q, corpus, k=10)
    a = {(r.q_id, r.c_id) for r in approx.collect()}
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    # m=8 x 16 codes = 32-bit codes on structureless vectors: the
    # honest bar is "far above chance" (random recall@10 = 10/500 =
    # 0.02), not high absolute recall
    assert len(a & e) / len(e) >= 0.2


def test_ivf_pq_topk_smoke_and_refine(emb, learned_books):
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    adc = pq.ivf_pq_topk(
        q, corpus, 64, k=3, n_lists=4, n_probe=4, codebooks=learned_books
    )
    rows = adc.collect()
    assert {r.q_id for r in rows} == {0, 1, 2, 3}
    assert all(r.rank <= 3 for r in rows)
    # self-hit at rank 1 with full probing (d2 to own code is minimal
    # but may tie; accept membership in top-3)
    by_q = {qid: {r.c_id for r in rows if r.q_id == qid} for qid in range(4)}
    assert all(qid in by_q[qid] for qid in range(4))
    refined = pq.ivf_pq_topk(
        q, corpus, 64, k=3, n_lists=4, n_probe=4,
        codebooks=learned_books, refine=20,
    ).collect()
    # exact re-rank puts the exact self-match (sim 1.0) at rank 1
    firsts = {r.q_id: (r.c_id, r.sim) for r in refined if r.rank == 1}
    assert all(firsts[qid][0] == qid and abs(firsts[qid][1] - 1.0) < 1e-9
               for qid in range(4))


def test_encode_is_shuffle_free_projection(emb, learned_books):
    """Encode must fuse into the scan: no Exchange in the plan (the
    100 TB contract — codes append map-side)."""
    plan = (
        pq.pq_encode(emb, "embedding", learned_books, 64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_adc_arrow_shuffles_only_topk(emb, learned_books):
    """ADC: corpus scoring is map-side (local top-k), the only
    exchange is the k*|Q|-row global top-k window."""
    enc = pq.pq_encode(emb, "embedding", learned_books, 64)
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    codes = enc.select(F.col("vec_id").alias("c_id"), "codes")
    plan = (
        pq.pq_adc_topk(q, codes, learned_books, 64, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_geometry_validation(spark, emb):
    bad = [[[0.0] * 8] * 16] * 7  # m=7 does not tile 64... (7*8=56)
    with pytest.raises(ValueError, match="does not tile"):
        pq.pq_encode(emb, "embedding", bad, 64)


def test_adc_arrow_null_and_empty_queries(spark, emb, learned_books):
    """Degenerate query sets: NULL query vectors drop and an
    all-null / empty query set returns an empty result, not a
    crash."""
    enc = pq.pq_encode(emb, "embedding", learned_books, 64)
    codes = enc.select(F.col("vec_id").alias("c_id"), "codes")
    one_null = spark.createDataFrame(
        [(0, None)], "q_id long, q_vec array<float>"
    ).unionByName(
        emb.where(F.col("vec_id") == 1).selectExpr(
            "vec_id as q_id", "cast(embedding as array<float>) as q_vec"
        )
    )
    got = pq.pq_adc_topk(one_null, codes, learned_books, 64, k=3).collect()
    assert {r.q_id for r in got} == {1}, got
    all_null = spark.createDataFrame([(0, None)], "q_id long, q_vec array<float>")
    assert pq.pq_adc_topk(all_null, codes, learned_books, 64).count() == 0
