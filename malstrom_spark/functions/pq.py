"""Product quantization (PQ) ANN — the compressed-domain serving tier
the 100 TB embedding store actually runs on (Jégou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
FAISS IVFADC layout).

North-star operator set (absent from the reference, SURVEY §2.8 —
extends the cosine/LSH/IVF family in `functions.similarity`). A
128-dim float32 vector is 512 bytes; its PQ code with m=16 subspaces
is 16 bytes — a 32x compression that turns a 100 TB vector corpus
into ~3 TB of codes that fit the executors' page cache, while
asymmetric-distance (ADC) scoring stays a table lookup per subspace.

One engine per kernel: encode (`pq_encode`) and ADC (`pq_adc_topk`)
are Arrow-batched pandas kernels against a BROADCAST codebook tensor
— O(1) plan size, one vectorized matmul/gather per batch. Codebooks
come in two kinds:

- learned (production): per-subspace k-means fit distributedly
  (`pq_fit_codebooks`, one `applyInPandas` group per subspace over a
  seeded Bernoulli sample).
- portable (`pq_head_codebooks`): QUANTIZED head-row subvectors
  (round(x * 2^20) as int64). The gate row `similarity_ann_pq` feeds
  them as floats, with pre-quantized vectors, to the same kernels.
  Every input is then an integer and every float64 sum stays below
  2^53, so codes, ADC distances and ranks are exact and a DuckDB
  oracle reproduces them bit-for-bit.

Literal-expression engines and an `integer=` int64 tier computed the
same rows slower (the gate row took 1.31 s vs 0.73 s at sf0.01 and
2.81 s vs 0.83 s at sf0.1; 4 vCPU, 2 Spark cores) and are deleted.

Scale shape (100 TB): fitting reads a bounded sample; encoding is a
pure per-row projection (zero shuffle — the codes column appends to
the corpus scan); ADC scoring is map-side with per-batch local top-k
so the only shuffle is the final k*|Q|-row global top-k merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import (
    _nearest,
    _probe_lists,
    _stack,
    _well_formed,
    content_keyed_broadcast,
    quantize_vec,
)


def _codebook_bc(spark, codebooks):
    """One broadcast per distinct codebook tensor per SparkContext —
    shares similarity.content_keyed_broadcast's lifetime discipline
    (content-keyed, FIFO-bounded, unpersist on eviction). Value:
    (tensor (m, k, dsub), ||c||^2 (m, k))."""
    C = np.asarray(codebooks, dtype=np.float64)
    return content_keyed_broadcast(
        spark, "pq-codebooks", C, lambda C: (C, (C * C).sum(axis=2))
    )


def _check_geometry(dim: int, codebooks) -> tuple[int, int, int]:
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    if m * dsub != dim:
        raise ValueError(
            f"codebook geometry {m} x {k} x {dsub} does not tile dim={dim}"
        )
    return m, k, dsub


# ------------------------------------------------------------ fitting

def pq_head_codebooks(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
) -> list[list[list[int]]]:
    """Portable codebooks: subspace s's codebook = the s-th QUANTIZED
    subvector of the first `k` corpus rows by `id_col`. No learning —
    deterministic, engine-exact, the analogue of the IVF gate row's
    first-k-vectors quantizer. Collect is construction-time small
    (k rows)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    rows = (
        corpus.where(F.col(id_col) < k)
        .select(F.col(id_col).alias("_i"), quantize_vec(F.col(vec_col)).alias("_q"))
        .orderBy("_i")
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need {k} head rows with {id_col} < {k}, got {len(rows)}")
    return [
        [[int(x) for x in r._q[s * dsub : (s + 1) * dsub]] for r in rows]
        for s in range(m)
    ]


def pq_fit_codebooks(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    n_iters: int = 4,
    sample_fraction: float | None = None,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Learned codebooks: independent k-means per subspace, fit
    DISTRIBUTEDLY — the (sampled) corpus explodes into one row per
    (subspace, subvector) and `applyInPandas` runs one in-memory
    numpy Lloyd per subspace group. The driver only ever receives the
    m x k x dsub codebook tensor (a few hundred KB at FAISS-default
    m=16, k=256).

    Determinism: group rows are sorted by (xxhash64 of the subvector,
    then the subvector bytes) before seeding, so seeds and float
    summation order are independent of partitioning; ties in Lloyd
    assignment break by code index (np.argmin first-min).

    ``sample_fraction`` is the 100 TB fit path (seeded Bernoulli
    sample bounds fit cost; encode always runs on the full corpus).
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    fit = (
        corpus
        if sample_fraction is None or sample_fraction >= 1.0
        else corpus.sample(fraction=sample_fraction, seed=seed)
    )
    sub = fit.select(
        F.posexplode(
            F.array(*[
                F.slice(F.col(vec_col).cast("array<double>"), s * dsub + 1, dsub)
                for s in range(m)
            ])
        ).alias("sub", "sv")
    ).where(F.col("sv").isNotNull()).withColumn(
        "h", F.xxhash64(F.col("sv").cast("string"))
    )

    def lloyd(pdf: pd.DataFrame) -> pd.DataFrame:
        s = int(pdf["sub"].iloc[0])
        X = np.stack(pdf["sv"].to_numpy())  # (n, dsub) float64
        order = np.lexsort(
            tuple(X[:, d] for d in range(X.shape[1] - 1, -1, -1))
            + (pdf["h"].to_numpy(),)
        )
        X = X[order]
        kk = min(k, len(X))
        C = X[:kk].copy()
        for _ in range(n_iters):
            d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d, axis=1)
            for j in range(kk):
                mask = a == j
                if mask.any():
                    C[j] = X[mask].mean(axis=0)
        return pd.DataFrame(
            {"sub": s, "code": range(kk), "cv": [list(map(float, c)) for c in C]}
        )

    out = (
        sub.repartition(m, "sub")
        .groupBy("sub")
        .applyInPandas(lloyd, "sub int, code int, cv array<double>")
        .collect()
    )
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(out, key=lambda r: (r.sub, r.code)):
        books[r.sub].append([float(x) for x in r.cv])
    if any(not b for b in books):
        raise ValueError("empty subspace codebook — corpus smaller than 1 row?")
    return books


# ----------------------------------------------------------- encoding

def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks,
    dim: int,
    out_col: str = "codes",
) -> DataFrame:
    """Append the PQ code (array<int>, length m): per subspace, the
    index of the nearest codebook entry (squared L2, first-min
    tie-break). A pandas_udf against the broadcast codebook tensor,
    one batched `similarity._nearest` per subspace — a pure
    projection, zero shuffle. NULL and malformed vectors
    (`similarity._well_formed`) encode NULL; a NaN distance ranks
    last."""
    m, k, dsub = _check_geometry(dim, codebooks)
    bc = _codebook_bc(df.sparkSession, codebooks)

    @F.pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        C, n2 = bc.value  # (m, k, dsub), (m, k)
        rows, X = _stack(v, dim)
        Xs = X.reshape(len(X), m, dsub)
        codes = np.empty((len(X), m), dtype=np.int64)
        for s in range(m):
            codes[:, s] = _nearest(Xs[:, s, :], C[s], n2[s], 1)[0][:, 0]
        return _probe_lists(len(v), rows, codes)

    return df.withColumn(out_col, enc(_well_formed(F.col(vec_col), dim)))


# ------------------------------------------------------- ADC scoring

def pq_adc_topk(
    queries: DataFrame,
    codes_df: DataFrame,
    codebooks,
    dim: int,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays a full vector, the
    corpus is its codes; approx distance = sum_s ||q_s - cb[s][code_s]||^2.
    Output (q_id, c_id, d2, rank) with rank by (d2 asc, c_id asc).

    The FAISS shape: per batch, one LUT gather. All queries' LUTs
    (|Q| x m x k) are computed ONCE per task from the broadcast
    codebook; scoring is LUT[q, s, code] summed over s, with a
    per-batch local top-k so only k rows per (query, batch) reach the
    final global top-k window. NULL and malformed query vectors
    (`similarity._well_formed`) are dropped.

    Scale: corpus-side work is map-only over the codes column; the
    single shuffle is the k*|Q|-row top-k merge. Queries must be
    broadcast-small (retrieval-eval shape); corpus x corpus joins
    belong to the near-dup pipelines instead.
    """
    m, kk, dsub = _check_geometry(dim, codebooks)
    w = Window.partitionBy(q_id).orderBy(F.asc("d2"), F.asc(c_id))
    spark = queries.sparkSession
    bc = _codebook_bc(spark, codebooks)
    # broadcast-small query set; NULL and malformed vectors drop here
    qrows = [
        r
        for r in queries.select(q_id, _well_formed(F.col(q_vec), dim)).collect()
        if r[1] is not None
    ]
    id_field = codes_df.schema[c_id].dataType.simpleString()
    qid_field = queries.schema[q_id].dataType.simpleString()
    out_schema = f"{q_id} {qid_field}, {c_id} {id_field}, d2 double"
    if not qrows:
        empty = spark.createDataFrame([], out_schema)
        return empty.withColumn("rank", F.lit(1)).where(F.lit(False))
    # the query matrix rides the task closure, NOT sc.broadcast: a
    # per-call broadcast would accumulate executor blocks for the
    # session lifetime (the _centroid_bc leak class), and unlike the
    # codebook the query set is different every call, so caching
    # can't help — closure shipping is the right lifetime
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qids = [r[0] for r in qrows]

    def score(batches):
        C, _ = bc.value  # (m, k, dsub)
        Qm = Q.reshape(len(qids), m, dsub)  # (|Q|, m, dsub)
        # LUT[q, s, j] = ||q_s - c_sj||^2 — once per task, not per row
        lut = ((Qm[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3)
        for pdf in batches:
            mask = pdf[codes_col].notna().to_numpy()
            if not mask.any():
                continue
            codes = np.stack(pdf[codes_col][mask].to_numpy()).astype(np.int64)
            cids = pdf[c_id].to_numpy()[mask]
            n = len(codes)
            # d2[i, q] = sum_s LUT[q, s, codes[i, s]]
            d2 = np.zeros((n, len(qids)))
            for s in range(m):
                d2 += lut[:, s, codes[:, s]].T
            # local top-k per query bounds the shuffle to k rows/batch.
            # lexsort on (d2, c_id), not argpartition: equal-d2 ties at
            # the k boundary must keep the smallest c_id or the global
            # window's (d2, c_id) order could see a different candidate
            # set than an exact engine
            top = min(k, n)
            out = {q_id: [], c_id: [], "d2": []}
            for qi, qid in enumerate(qids):
                order = np.lexsort((cids, d2[:, qi]))[:top]
                for i in order:
                    out[q_id].append(qid)
                    out[c_id].append(cids[i])
                    out["d2"].append(float(d2[i, qi]))
            yield pd.DataFrame(out)

    scored = codes_df.select(c_id, codes_col).mapInPandas(score, out_schema)
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ------------------------------------------------- IVF-PQ composition

def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    refine: int = 0,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    centroids=None,
    codebooks=None,
) -> DataFrame:
    """FAISS-IVFADC composition: coarse IVF cells bound the candidate
    set, PQ-ADC scores candidates in the compressed domain, and an
    optional exact re-rank (`refine` > 0, the IndexRefineFlat
    pattern) rescores the top `refine` ADC candidates per query with
    true cosine over the original vectors, returning top-k of those.

    Output: (q_id, c_id, d2, rank) — or (q_id, c_id, sim, rank) when
    refining (sim = exact cosine, rank by sim desc).

    Scale: corpus side is encode (map-only projection) + one bucket
    equi-join against the broadcast probed queries; re-rank joins
    only |Q| * refine candidate ids back to the corpus — broadcast-
    small by construction. Pass precomputed `centroids`/`codebooks`
    for the two-job serving pattern (fit offline — on a sample via the
    fit functions' `sample_fraction` at corpus scale — and serve
    repeatedly).
    """
    from .similarity import ivf_build_centroids, with_nearest_list

    if centroids is None:
        centroids = ivf_build_centroids(corpus, c_vec, n_lists=n_lists)
    if codebooks is None:
        codebooks = pq_fit_codebooks(corpus, c_vec, dim, m=m, k=k_codes)

    cb = with_nearest_list(corpus.select(c_id, c_vec), c_vec, centroids, "cell")
    cb = pq_encode(cb, c_vec, codebooks, dim).select(c_id, "cell", "codes")
    return ivf_pq_topk_encoded(
        queries, cb, centroids, codebooks, dim,
        k=k, n_probe=n_probe, refine=refine,
        refine_corpus=corpus if refine > 0 else None,
        q_id=q_id, c_id=c_id, q_vec=q_vec, c_vec=c_vec,
    )


def ivf_pq_topk_encoded(
    queries: DataFrame,
    corpus_codes: DataFrame,
    centroids,
    codebooks,
    dim: int,
    k: int = 5,
    n_probe: int = 4,
    refine: int = 0,
    refine_corpus: DataFrame | None = None,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """The SERVING half of IVFADC against a pre-built index:
    `corpus_codes` is the persisted (c_id, cell, codes) relation (job
    1 writes it partitioned by cell so probing prunes partitions),
    `centroids`/`codebooks` are the persisted quantizers. Queries
    probe `n_probe` cells, ADC-score only those cells' codes, and
    optionally refine against `refine_corpus` (the original vectors,
    fetched by id for the top `refine` candidates only). The corpus
    is never re-encoded or re-scanned beyond the probed cells."""
    from .similarity import with_probe_lists

    qb = with_probe_lists(queries.select(q_id, q_vec), q_vec, centroids, n_probe, "cell")
    cand = corpus_codes.join(F.broadcast(qb), "cell")
    m_, kk, dsub = _check_geometry(dim, codebooks)
    bc = _codebook_bc(queries.sparkSession, codebooks)

    @F.pandas_udf("double")
    def adc(qv: pd.Series, codes: pd.Series) -> pd.Series:
        C, _ = bc.value
        res = np.full(len(qv), np.nan)
        mask = (qv.notna() & codes.notna()).to_numpy()
        if mask.any():
            Qm = np.stack(
                [np.asarray(x, dtype=np.float64) for x in qv[mask]]
            ).reshape(-1, m_, dsub)
            Cd = np.stack(codes[mask].to_numpy()).astype(np.int64)
            d2 = np.zeros(len(Cd))
            for s in range(m_):
                d2 += ((Qm[:, s, :] - C[s][Cd[:, s]]) ** 2).sum(axis=1)
            res[mask] = d2
        return pd.Series(res)

    scored = cand.select(
        q_id, c_id, adc(F.col(q_vec), F.col("codes")).alias("d2")
    ).where(~F.isnan("d2"))
    w = Window.partitionBy(q_id).orderBy(F.asc("d2"), F.asc(c_id))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine <= 0:
        return ranked.filter(F.col("rank") <= k)
    if refine_corpus is None:
        raise ValueError("refine > 0 requires refine_corpus (original vectors)")

    from .similarity import cosine

    corpus = refine_corpus
    cand_ids = ranked.filter(F.col("rank") <= refine).select(q_id, c_id, "d2")
    rejoined = (
        cand_ids.join(corpus.select(c_id, c_vec), c_id)
        .join(F.broadcast(queries.select(q_id, q_vec)), q_id)
        .select(q_id, c_id, cosine(F.col(q_vec), F.col(c_vec)).alias("sim"))
        .where(F.col("sim").isNotNull())
    )
    w2 = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return rejoined.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )
