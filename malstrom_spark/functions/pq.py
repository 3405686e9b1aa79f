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

Three tiers, mirroring `functions.similarity`'s design:

- portable (integer-exact, oracle-checkable): codebooks are QUANTIZED
  subvectors (round(x * 2^20) as int64), encode/ADC run in exact
  integer arithmetic as native Column expressions — a DuckDB oracle
  reproduces code assignments, ADC distances, and ranks bit-for-bit.
- learned (production): per-subspace k-means codebooks fit
  distributedly (one `applyInPandas` group per subspace over a seeded
  Bernoulli sample), float64 encode/ADC.
- arrow (production scale): encode and ADC as Arrow-batched pandas
  UDFs against a BROADCAST codebook tensor — O(1) plan size, one
  vectorized gather/matmul per batch; rank-identical to the literal
  path on the same codebooks (pytest-pinned).

Scale shape (100 TB): fitting reads a bounded sample; encoding is a
pure per-row projection (zero shuffle — the codes column appends to
the corpus scan); ADC scoring is map-side with per-batch local top-k
so the only shuffle is the final k*|Q|-row global top-k merge.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .similarity import quantize_vec

# Same plan-size ceiling as IVF: above this many literal nodes
# (m * k * dsub), dispatch to the Arrow engine.
PQ_LITERAL_MAX_NODES = 64 * 1024

def _codebook_bc(spark, codebooks):
    """One broadcast per distinct codebook tensor per SparkContext —
    shares similarity.content_keyed_broadcast's lifetime discipline
    (content-keyed, FIFO-bounded, unpersist on eviction). Value:
    (tensor (m, k, dsub), ||c||^2 (m, k))."""
    import numpy as np

    from .similarity import content_keyed_broadcast

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
        import numpy as np

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

def _sq_l2_int(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two int arrays (long fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _codebook_lits(book, cast: str, to_num) -> tuple[Column, Column]:
    """One subspace codebook as two literals: the k x dsub entry
    matrix and the k-vector of ||c||^2 — ONE py4j call each via the
    constant-folded from_json form (round-12 session 4: nested-list
    F.lit still paid one round-trip per ELEMENT; see
    functions/litutil.py), cast wide so int products can't overflow."""
    from .litutil import json_lit_array

    entries = [[to_num(x) for x in e] for e in book]
    n2 = [sum(x * x for x in e) for e in entries]
    cb2d = json_lit_array(entries, f"array<{cast}>")
    c2s = json_lit_array(n2, cast)
    return cb2d, c2s


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks,
    dim: int,
    out_col: str = "codes",
    use_arrow: bool | None = None,
    integer: bool = False,
) -> DataFrame:
    """Append the PQ code (array<int>, length m): per subspace, the
    index of the nearest codebook entry (squared L2, first-min
    tie-break). Two rank-identical engines (pytest-pinned):

    - literal (m * k * dsub <= PQ_LITERAL_MAX_NODES): pure native
      projection — -2<s,c> + ||c||^2 per entry over the sliced
      subvector, argmin via array_position(array_min). Zero Python,
      zero shuffle; fuses into the scan.
    - arrow: pandas_udf against the broadcast codebook tensor; one
      batched matmul per subspace. O(1) plan size.

    ``integer=True`` switches the literal path to exact int64
    arithmetic over `quantize_vec` vectors with INTEGER codebooks
    (`pq_head_codebooks`) — the oracle-checkable portable tier. Null
    vectors encode NULL on every path.
    """
    m, k, dsub = _check_geometry(dim, codebooks)
    if integer and use_arrow:
        # the arrow engine scores vec_col AS-IS; with integer=True the
        # caller expects in-operator quantization, which it would
        # silently skip — pre-quantize explicitly (the pq_arrow gate
        # row's pattern) and pass integer=False instead
        raise ValueError("integer=True requires the literal engine "
                         "(pre-quantize the column for the arrow path)")
    if use_arrow is None:
        use_arrow = (not integer) and m * k * dsub > PQ_LITERAL_MAX_NODES

    if not use_arrow:
        if integer:
            v = quantize_vec(F.col(vec_col))
            cast, to_num = "long", int
        else:
            v = F.col(vec_col).cast("array<double>")
            cast, to_num = "double", float
        # materialize the (quantized) vector and each subvector slice
        # as their own columns: each slice is referenced k times (once
        # per codebook entry), so CollapseProject keeps them — the
        # quantize transform and slicing run once per row, not m*k
        # times, and the plan tree stays O(m*k*dsub) instead of
        # O(m*k*dim) (inlining measured 30 s -> sub-second on the
        # gate row)
        qdf = df.withColumn("__pq_v", v)
        subs = []
        for s in range(m):
            sc = f"__pq_s{s}"
            qdf = qdf.withColumn(sc, F.slice(F.col("__pq_v"), s * dsub + 1, dsub))
            subs.append(sc)
        codes = []
        for s in range(m):
            sub = F.col(subs[s])
            # whole codebook as ONE nested literal + one zip_with:
            # d_j = -2<s, c_j> + ||c_j||^2 (||s||^2 constant-dropped).
            # One py4j call per subspace instead of one per entry —
            # query CONSTRUCTION time is real at m*k scale.
            cb2d, c2s = _codebook_lits(codebooks[s], cast, to_num)
            darr = F.zip_with(
                cb2d,
                c2s,
                lambda c, n2: F.lit(to_num(-2))
                * F.aggregate(
                    F.zip_with(sub, c, lambda x, y: x * y),
                    F.lit(to_num(0)).cast(cast),
                    lambda acc, x: acc + x,
                )
                + n2,
            )
            codes.append((F.array_position(darr, F.array_min(darr)) - 1).cast("int"))
        return qdf.withColumn(
            out_col,
            F.when(F.col(vec_col).isNotNull(), F.array(*codes)),
        ).drop("__pq_v", *subs)

    import numpy as np

    bc = _codebook_bc(df.sparkSession, codebooks)

    @F.pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        C, n2 = bc.value  # (m, k, dsub), (m, k)
        res: list = [None] * len(v)
        mask = v.notna().to_numpy()
        if mask.any():
            X = np.stack([np.asarray(x, dtype=np.float64) for x in v[mask]])
            Xs = X.reshape(len(X), m, dsub)
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                d = -2.0 * (Xs[:, s, :] @ C[s].T) + n2[s][None, :]
                d[np.isnan(d)] = np.inf  # Spark NaN-last ordering
                codes[:, s] = np.argmin(d, axis=1)
            for pos, row in zip(np.nonzero(mask)[0], codes):
                res[pos] = [int(x) for x in row]
        return pd.Series(res)

    return df.withColumn(out_col, enc(F.col(vec_col)))


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
    use_arrow: bool | None = None,
    integer: bool = False,
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays a full vector, the
    corpus is its codes; approx distance = sum_s ||q_s - cb[s][code_s]||^2.
    Output (q_id, c_id, d2, rank) with rank by (d2 asc, c_id asc).

    - literal engine: broadcast the (small) query set against the
      codes relation; per subspace the chosen centroid is
      element_at(literal 2D array, code+1) and the distance a native
      fold. `integer=True` = exact int64 tier (oracle row).
    - arrow engine: the FAISS shape — per batch, one LUT gather.
      All queries' LUTs (|Q| x m x k) are computed ONCE per batch
      from the broadcast codebook; scoring is LUT[q, s, code] summed
      over s, with a per-batch local top-k so only k rows per (query,
      batch) reach the final global top-k window.

    Scale: corpus-side work is map-only over the codes column; the
    single shuffle is the k*|Q|-row top-k merge. Queries must be
    broadcast-small (retrieval-eval shape); corpus x corpus joins
    belong to the near-dup pipelines instead.
    """
    m, kk, dsub = _check_geometry(dim, codebooks)
    if integer and use_arrow:
        raise ValueError("integer=True requires the literal engine "
                         "(pre-quantize the column for the arrow path)")
    if use_arrow is None:
        use_arrow = (not integer) and m * kk * dsub > PQ_LITERAL_MAX_NODES
    w = Window.partitionBy(q_id).orderBy(F.asc("d2"), F.asc(c_id))

    if not use_arrow:
        if integer:
            qv = quantize_vec(F.col(q_vec))
            cast, to_num = "long", int
        else:
            qv = F.col(q_vec).cast("array<double>")
            cast, to_num = "double", float
        q = queries.select(F.col(q_id), qv.alias("_qq"))
        joined = codes_df.select(F.col(c_id), F.col(codes_col)).crossJoin(
            F.broadcast(q)
        )
        total = F.lit(to_num(0)).cast(cast)
        for s in range(m):
            cb_s, _ = _codebook_lits(codebooks[s], cast, to_num)
            chosen = F.element_at(cb_s, F.element_at(F.col(codes_col), s + 1) + 1)
            sub_q = F.slice(F.col("_qq"), s * dsub + 1, dsub)
            if integer:
                total = total + _sq_l2_int(sub_q, chosen)
            else:
                total = total + F.aggregate(
                    F.zip_with(sub_q, chosen, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
        scored = joined.select(q_id, c_id, total.alias("d2")).where(
            F.col("d2").isNotNull()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    import numpy as np

    spark = queries.sparkSession
    bc = _codebook_bc(spark, codebooks)
    # broadcast-small query set; NULL query vectors drop here, exactly
    # as the literal engine's null d2 filter drops them (engine parity)
    qrows = [
        r for r in queries.select(q_id, q_vec).collect() if r[1] is not None
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
    sample_fraction: float | None = None,
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
    for the two-job serving pattern (fit offline, serve repeatedly).
    """
    from .similarity import ivf_build_centroids, with_nearest_list

    if centroids is None:
        centroids = ivf_build_centroids(
            corpus, c_vec, n_lists=n_lists, sample_fraction=sample_fraction
        )
    if codebooks is None:
        codebooks = pq_fit_codebooks(
            corpus, c_vec, dim, m=m, k=k_codes, sample_fraction=sample_fraction
        )

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
    import numpy as np

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
