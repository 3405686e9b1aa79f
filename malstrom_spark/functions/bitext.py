"""Bitext / parallel-pair mining over embedding spaces: margin-based
scoring (Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining
with Multilingual Sentence Embeddings"; the CCMatrix / NLLB data
pipeline's alignment stage). Given two embedded sides A and B (two
languages, two crawl snapshots, two modalities), score candidate
pairs by the RATIO margin

    margin(x, y) = cos(x, y) /
        ( avg_{z in NNk(x,B)} cos(x, z) / 2 + avg_{z in NNk(y,A)} cos(y, z) / 2 )

and keep pairs that are MUTUAL best matches above a threshold — the
margin normalizes away hubness (a vector close to everything scores
no pair highly), which raw cosine thresholds cannot do.

The reference engine has no alignment operator; the algorithm is the
published form. Spark-first decomposition:

- kNN production is PLUGGABLE: the core `mine_bitext_from_knn` takes
  the two directed top-k edge sets as DataFrames and is pure
  window/join relational algebra (one shuffle per side keyed by id).
  At 100 TB the edges come from the ANN family
  (`similarity.ivf_topk_partitioned` — partition-pruned IVF serving);
  for verification and small sides `mine_bitext_exact` produces them
  with a brute-force numpy kernel (`bitext_edges_pandas`) over a
  broadcast side A.
- Engine portability (hash-exact oracle): cosines are deterministic
  sequential-fold doubles (the `similarity.dot` order in both the
  Column and the numpy kernels), quantized to integer
  micro-sims (FLOOR(sim * 1e6), the BM25/PMI discipline) BEFORE any
  aggregation. The margin denominator is then an exact BIGINT sum of
  k micro-sims per side and the margin itself ONE division of exact
  integers — bit-identical in any engine, no order-sensitive float
  sums anywhere.
- Neighbor-set selection orders by the RAW double sim (bit-identical
  across engines) with id tie-break, so the top-k sets — and hence
  the sums — are reproducible, not merely close.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: micro-sim quantization: FLOOR(cos * SIM_SCALE) as BIGINT
SIM_SCALE = 1_000_000

#: exact-kernel contract: side A is collected/broadcast to every
#: task, so it must be dimension-table-sized. Above this row count
#: the exact kernels refuse loudly instead of OOMing the driver —
#: corpus x corpus sides belong on `mine_bitext_ivf`.
MAX_EXACT_SIDE_A_ROWS = 2_000_000


def _micro(sim_col) -> F.Column:
    return F.floor(sim_col * F.lit(float(SIM_SCALE))).cast("long")


def _guard_exact_side_a(side_a: DataFrame, max_rows: int) -> None:
    """Refuse driver-sized side-A inputs before collecting or
    broadcasting them. The probe is a column-pruned limit(max+1)
    count — it stops scanning after max_rows+1 rows, so the guard
    costs O(max_rows) regardless of the true side size."""
    cols = side_a.columns
    probe = side_a.select(cols[0]).limit(max_rows + 1).count()
    if probe > max_rows:
        raise ValueError(
            f"exact bitext kernel: side A has more than {max_rows} rows; "
            "it is collected/broadcast by contract. Use mine_bitext_ivf "
            "(cell-keyed shuffle joins, neither side broadcast) for "
            "corpus x corpus mining, or raise max_side_a_rows explicitly."
        )


def mine_bitext_from_knn(
    fwd: DataFrame,
    bwd: DataFrame,
    threshold: float = 1.0,
    mutual: bool = True,
) -> DataFrame:
    """Margin-score and align from directed kNN edge sets.

    fwd: (x_id, y_id, sim) — for each x in A its top-k neighbors in B,
    bwd: (y_id, x_id, sim) — for each y in B its top-k neighbors in A.
    Both must be true top-k by (sim DESC, neighbor id ASC); sims must
    be the same deterministic cosine on both sides (cos is symmetric,
    and the fold evaluates positionally, so fwd and bwd agree bitwise
    on a shared pair).

    Returns (x_id, y_id, sim_q, margin): mutual-best pairs with
    margin >= threshold. The margin divides by each node's ACTUAL
    neighbor count, not k — margin = sim / ((sum_x/cnt_x +
    sum_y/cnt_y) / 2) = 2*sim_q*cnt_x*cnt_y / (sum_x*cnt_y +
    sum_y*cnt_x), exact integer products and ONE double division. A
    node with fewer than k neighbors (sparse ANN cell, |B| < k, NULL
    sims dropped) would otherwise have its margin inflated by up to
    k/cnt: a lone mediocre pair at cos 0.3 scores margin 1.0 (its
    own average), not 4.0. When every node has exactly k neighbors
    this reduces to the fixed-2k form verbatim.

    Shape: two map-side-combinable integer sums keyed by id, one
    distinct over <= 2k|A| candidate edges, two id-keyed broadcast-or
    -shuffle joins, two window top-1 passes. Nothing is ever
    all-pairs; feed ANN edges and it runs at corpus scale.
    """
    # NULL/NaN sims from arbitrary producers are dropped HERE, not
    # just by convention upstream: F.sum skips NULLs while count()
    # counts the row, so an unfiltered NULL edge would inflate
    # cnt_x/cnt_y and skew the margin denominator (in-repo producers
    # pre-filter, but this is a public ANN-agnostic entry point).
    ok = F.col("sim").isNotNull() & ~F.isnan("sim")
    f = fwd.where(ok).select("x_id", "y_id", _micro(F.col("sim")).alias("sim_q"))
    b = bwd.where(ok).select("x_id", "y_id", _micro(F.col("sim")).alias("sim_q"))

    # Exact integer neighborhood mass + size per node.
    sum_x = f.groupBy("x_id").agg(
        F.sum("sim_q").alias("sum_x"), F.count(F.lit(1)).alias("cnt_x")
    )
    sum_y = b.groupBy("y_id").agg(
        F.sum("sim_q").alias("sum_y"), F.count(F.lit(1)).alias("cnt_y")
    )

    denom = F.col("sum_x") * F.col("cnt_y") + F.col("sum_y") * F.col("cnt_x")
    cands = f.unionByName(b).distinct()
    scored = (
        cands.join(sum_x, "x_id")
        .join(sum_y, "y_id")
        .where(denom > 0)
        .withColumn(
            "margin",
            (F.lit(2) * F.col("sim_q") * F.col("cnt_x") * F.col("cnt_y"))
            .cast("double")
            / denom.cast("double"),
        )
    )

    wx = Window.partitionBy("x_id").orderBy(F.desc("margin"), F.asc("y_id"))
    wy = Window.partitionBy("y_id").orderBy(F.desc("margin"), F.asc("x_id"))
    best = (
        scored.withColumn("rx", F.row_number().over(wx))
        .withColumn("ry", F.row_number().over(wy))
    )
    if mutual:
        best = best.where((F.col("rx") == 1) & (F.col("ry") == 1))
    else:
        best = best.where(F.col("rx") == 1)
    return best.where(F.col("margin") >= F.lit(float(threshold))).select(
        "x_id", "y_id", "sim_q", "margin"
    )


def mine_bitext_exact(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_side_a_rows: int = MAX_EXACT_SIDE_A_ROWS,
) -> DataFrame:
    """Exact-kNN bitext mining — the validation kernel (swap in ANN
    edges via `mine_bitext_from_knn` when both sides are
    corpus-sized). The pair matrix is scored once by the
    sequential-fold numpy kernel in `bitext_edges_pandas`, so every
    sim is bit-identical to the `similarity.dot` fold order. A Column
    (zip_with/aggregate) form of the same kernel made the gate row
    take 3.25 s vs 1.67 s at sf0.01 and 25.65 s vs 1.62 s at sf0.1;
    it is deleted."""
    fwd, bwd = bitext_edges_pandas(
        side_a, side_b, k, id_col, vec_col, max_side_a_rows=max_side_a_rows
    )
    return mine_bitext_from_knn(fwd, bwd, threshold=threshold)


def mine_bitext_ivf(
    side_a: DataFrame,
    side_b: DataFrame,
    centroids: DataFrame,
    k: int = 4,
    n_probe: int = 3,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    super_centroids: DataFrame | None = None,
    n_probe_super: int = 1,
    salt_n: int = 1,
) -> DataFrame:
    """Bitext mining with IVF-approximate kNN — the corpus-scale
    shape: both sides share ONE coarse quantizer (they live in the
    same embedding space), each side assigns to a single cell as
    corpus and probes `n_probe` cells as queries, and every kNN join
    is a CELL-keyed shuffle equi-join (`broadcast_queries=False` —
    neither side is broadcast, unlike the exact kernel which must
    broadcast a whole side). Cell assignment is exact integer L2 over
    quantized vectors, so the candidate sets — and hence the mined
    pairs — are engine-reproducible, not just approximately right.
    With n_probe = number of centroids it degrades gracefully to the
    exact kernel's output (pytest-pinned).

    Each side is assigned ONCE (one Arrow `ivf_assign` pass) with
    ranks kept and eagerly checkpointed; the corpus role of each
    direction is the rank-1 slice, the query role the full n_probe
    set, so no side pays the O(n_vectors x n_lists) quantizer scan
    twice.

    The flat-assignment limit (BASELINE.md round-12 #3): even a
    SINGLE flat scan is O(n x n_lists), quadratic when n_lists scales
    with the corpus. Pass `super_centroids` (and `centroids` carrying
    a `super_id` column — see `assign_leaves_to_supers`) to route
    assignment through the two-level quantizer: O(n x (n_super +
    n_probe_super * leaves_per_super)) ~ O(n x 2 sqrt(n_lists)). With
    n_probe_super = n_super the mined pairs are IDENTICAL to the flat
    form (pytest-pinned); smaller n_probe_super trades boundary
    recall for the sub-quadratic scan, exactly like n_probe."""
    from .similarity import _ivf_score_assigned, ivf_assign, ivf_assign_hier

    def _assign(df, vc):
        if super_centroids is None:
            return ivf_assign(df, centroids, n_probe, vc, rank_col="__rk")
        return ivf_assign_hier(
            df, super_centroids, centroids, n_probe, vc,
            n_probe_super=n_probe_super, rank_col="__rk",
        )

    a = side_a.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
    b = side_b.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
    ap = _assign(a, "a_vec").localCheckpoint(eager=True)
    bp = _assign(b, "b_vec").localCheckpoint(eager=True)
    fwd = _ivf_score_assigned(
        bp.where(F.col("__rk") == 1).select(
            F.col("b_id").alias("c_id"), F.col("b_vec").alias("c_vec"), "cell"
        ),
        ap.select(
            F.col("a_id").alias("q_id"), F.col("a_vec").alias("q_vec"), "cell"
        ),
        k, "q_id", "c_id", "q_vec", "c_vec", broadcast_queries=False,
        salt_n=salt_n,
    ).select(F.col("q_id").alias("x_id"), F.col("c_id").alias("y_id"), "sim")
    bwd = _ivf_score_assigned(
        ap.where(F.col("__rk") == 1).select(
            F.col("a_id").alias("c_id"), F.col("a_vec").alias("c_vec"), "cell"
        ),
        bp.select(
            F.col("b_id").alias("q_id"), F.col("b_vec").alias("q_vec"), "cell"
        ),
        k, "q_id", "c_id", "q_vec", "c_vec", broadcast_queries=False,
        salt_n=salt_n,
    ).select(F.col("c_id").alias("x_id"), F.col("q_id").alias("y_id"), "sim")
    return mine_bitext_from_knn(fwd, bwd, threshold=threshold)


def bitext_edges_pandas(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_block: int = 512,
    max_side_a_rows: int = MAX_EXACT_SIDE_A_ROWS,
) -> tuple[DataFrame, DataFrame]:
    """(fwd, bwd) directed kNN edge sets for bitext mining, scored by
    an Arrow/numpy kernel whose sims are BIT-IDENTICAL to the
    `similarity.dot` fold — not merely rank-identical like
    `similarity.cosine_topk`: products are elementwise IEEE doubles and
    the reduction is a strict left-to-right axpy fold, so every sim —
    and hence every floor-quantized micro-sim downstream — is
    reproducible (the row's DuckDB oracle pins it). BLAS matmul would
    be ~2x faster again but sums pairwise, breaking the oracle
    contract. NULL vectors are dropped (their cosine is undefined),
    as are non-finite sims (zero-norm sides).

    One pass over B's partitions scores BOTH directions: each
    partition holds complete rows of the pair matrix, so per-y top-k
    (bwd) is exact locally, and per-x candidates reduce to k per
    partition before one global window merge (the `cosine_topk`
    merge shape). Side A is collected and broadcast (the exact-kernel
    contract; corpus-x-corpus sides belong on `mine_bitext_ivf`); the
    broadcast is destroyed once the edge set is checkpointed, so no
    call pins |A| x dim doubles for the rest of the session."""
    import numpy as np

    def _fold_norms(m: "np.ndarray") -> "np.ndarray":
        # strict left fold over squares: 64 vectorized adds, same
        # association as the HOF fold (np.add.reduce would sum
        # PAIRWISE — bit-different)
        acc = m[..., 0] * m[..., 0]
        for t in range(1, m.shape[-1]):
            acc = acc + m[..., t] * m[..., t]
        return np.sqrt(acc)

    def _fold_dots(y_mat: "np.ndarray", x_blk: "np.ndarray") -> "np.ndarray":
        # (n, d) x (b, d) -> (n, b) exact left-fold dot: d axpy steps
        # over the (n, b) output — the cheapest memory shape that
        # preserves the fold's addition order bit-for-bit
        acc = y_mat[:, 0, None] * x_blk[None, :, 0]
        for t in range(1, y_mat.shape[1]):
            acc = acc + y_mat[:, t, None] * x_blk[None, :, t]
        return acc

    _guard_exact_side_a(side_a, max_side_a_rows)
    side_a = side_a.where(F.col(vec_col).isNotNull())
    side_b = side_b.where(F.col(vec_col).isNotNull())
    a_rows = side_a.select(id_col, vec_col).collect()
    spark = side_b.sparkSession
    if not a_rows:
        empty = spark.createDataFrame([], "x_id long, y_id long, sim double")
        return empty, empty
    x_ids = np.array([r[0] for r in a_rows], dtype=np.int64)
    x_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in a_rows])
    x_norm = _fold_norms(x_mat)
    bx = spark.sparkContext.broadcast((x_ids, x_mat, x_norm))

    out_schema = "direction string, x_id long, y_id long, sim double"

    def score(batches):
        import pandas as pd

        ids_x, mat_x, nrm_x = bx.value
        m = len(ids_x)
        # deterministic x tie-break order for the bwd top-k
        x_order = np.argsort(ids_x, kind="stable")
        for pdf in batches:
            if pdf.empty:
                continue
            y_ids = pdf[id_col].to_numpy(dtype=np.int64)
            y_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            y_norm = _fold_norms(y_mat)
            n = len(y_ids)
            sims = np.empty((n, m), dtype=np.float64)
            for j0 in range(0, m, q_block):
                j1 = min(j0 + q_block, m)
                dots = _fold_dots(y_mat, mat_x[j0:j1])
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims[:, j0:j1] = dots / (nrm_x[None, j0:j1] * y_norm[:, None])
            valid = np.isfinite(sims)
            neg = np.where(valid, sims, -np.inf)

            def _topk(mat, vmask, id_order, chunk=2048):
                # Vectorized top-k per ROW of `mat` by (value DESC,
                # neighbor id ASC): reorder columns by ascending id
                # once, then a STABLE argsort on the negated values
                # keeps ascending-id order among ties — the exact
                # selection the former per-row Python loop made.
                # Chunked so the argsort scratch stays O(chunk x m),
                # not a second full matrix.
                kk = min(k, mat.shape[1])
                r_idx, c_idx = [], []
                for i0 in range(0, mat.shape[0], chunk):
                    sv = mat[i0 : i0 + chunk][:, id_order]
                    ordc = np.argsort(-sv, axis=1, kind="stable")[:, :kk]
                    cols = id_order[ordc]
                    ri = np.repeat(
                        np.arange(i0, i0 + cols.shape[0]), cols.shape[1]
                    )
                    cj = cols.ravel()
                    keep = vmask[ri, cj]
                    r_idx.append(ri[keep])
                    c_idx.append(cj[keep])
                return np.concatenate(r_idx), np.concatenate(c_idx)

            # bwd: top-k per y over ALL x — exact within this partition
            bi, bj = _topk(neg, valid, x_order)
            # fwd candidates: per x, local top-k over this partition's y
            y_order = np.argsort(y_ids, kind="stable")
            fj, fi = _topk(neg.T, valid.T, y_order)
            n_b, n_f = len(bi), len(fi)
            if n_b + n_f:
                yield pd.DataFrame(
                    {
                        "direction": np.repeat(
                            np.array(["b", "f"]), [n_b, n_f]
                        ),
                        "x_id": np.concatenate([ids_x[bj], ids_x[fj]]),
                        "y_id": np.concatenate([y_ids[bi], y_ids[fi]]),
                        "sim": np.concatenate(
                            [sims[bi, bj], sims[fi, fj]]
                        ),
                    }
                )

    edges = side_b.select(id_col, vec_col).mapInPandas(score, out_schema)
    edges = edges.localCheckpoint(eager=True)
    bx.destroy()
    wx = Window.partitionBy("x_id").orderBy(F.desc("sim"), F.asc("y_id"))
    fwd = (
        edges.where(F.col("direction") == "f")
        .withColumn("__r", F.row_number().over(wx))
        .where(F.col("__r") <= k)
        .select("x_id", "y_id", "sim")
    )
    bwd = edges.where(F.col("direction") == "b").select("x_id", "y_id", "sim")
    return fwd, bwd
