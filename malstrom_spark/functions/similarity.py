"""Similarity search over embedding columns (array<float>).

North-star operator set (absent from the reference, SURVEY §2.8).
Three search shapes:

- `cosine_topk`: exact brute force — broadcast the (small) query set
  as a numpy matrix and score each Arrow batch of the corpus with one
  BLAS matmul, per-query top-k via a local cut and a window merge.
  Scale: O(|Q| * |corpus|) but embarrassingly parallel; right answer
  for |Q| small (retrieval eval, dedup probes).
- `lsh_topk_portable`: approximate — random-hyperplane LSH buckets
  the corpus once (signature = sign bits over fixed Rademacher
  hyperplanes) and probes only matching buckets. Scale path for
  corpus x corpus joins: the bucket join replaces the full cross
  product; recall tunable via hyperplanes and multi-probe.
- IVF (`ivf_topk`, the `_portable` and hierarchical families):
  vectors fall into k-means Voronoi cells and queries probe their
  nearest cells.

Embedding near-dup (cosine >= threshold pairs,
`embedding_near_dups_portable`) composes `with_lsh_bucket` with a
verified pair join, mirroring the MinHash pipeline shape in
`functions.dedup`.

LSH buckets are integer-exact: vectors are quantized to integers and
every bucketing decision is made in int64 arithmetic, so a DuckDB
oracle reproduces them row for row. Every nearest-centroid assignment
runs one kernel per geometry: `_nearest` (flat top-n cells) and
`_nearest_hier` (rank the supers, then the pooled leaves of the
nearest ones), each inside an Arrow pandas_udf against a broadcast
numpy matrix. Both take float64 (`with_nearest_list`,
`with_probe_lists`, their hierarchical forms) or int64 over quantized
vectors (`ivf_assign`, `ivf_assign_hier`, SemDeDup), where every
distance is exact. Each treats a vector with a NULL element or the
wrong length like a NULL vector (`_well_formed`).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np  # module-level: one-call ndarray literals (litutil)
import pandas as pd  # module-level: pandas_udf type hints ('pd.Series'
                     # under future-annotations) resolve via __globals__

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import scale


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double — deterministic
    (fixed FP order), JVM-native, no UDF."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; a zero-norm side yields NULL (try_divide)
    rather than an ANSI divide-by-zero error — the top-k scorers drop
    such rows (undefined similarity) and the near-dup pipelines
    coalesce them below any threshold."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector: (q_id, c_id, sim,
    rank). The query set is small by contract and is broadcast as one
    numpy matrix; each corpus partition streams through mapInPandas as
    Arrow batches, scores a (batch × dim) @ (dim × n_queries) BLAS
    matmul, and emits its LOCAL top-k per query; the global top-k is a
    tiny (partitions × queries × k) window merge. The corpus never
    shuffles, and Python sees Arrow batches, never rows.

    Ties on sim break by ascending c_id. Zero-norm, NULL, NULL-element
    and wrong-length vectors are dropped (undefined similarity), and an
    empty query set returns an empty result instead of a (dim, 0)
    matmul error."""
    import pandas as pd

    # id columns keep their input types (not hardcoded long), so the
    # empty-query early return and the scored path agree on schema
    q_id_t = queries.schema[q_id].dataType.simpleString()
    c_id_t = corpus.schema[c_id].dataType.simpleString()
    out_schema = f"{q_id} {q_id_t}, {c_id} {c_id_t}, sim double"

    # query side: small by contract; a NULL query vector matches nothing
    q_rows = [r for r in queries.select(q_id, q_vec).collect() if r[1] is not None]
    spark = corpus.sparkSession
    if not q_rows:
        return spark.createDataFrame([], out_schema + ", rank int")
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    dim = q_mat.shape[1]
    q_norm = np.linalg.norm(q_mat, axis=1)
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def score(batches):
        ids_b, mat_b, nrm_b = bq.value
        for pdf in batches:
            rows, c_mat = _stack(pdf[c_vec], dim)
            if not len(rows):
                continue
            cids = pdf[c_id].to_numpy()[rows]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (c_mat @ mat_b.T) / (
                    np.linalg.norm(c_mat, axis=1)[:, None] * nrm_b[None, :]
                )
            # zero-norm rows/queries -> NaN sim: excluded (-inf sorts
            # last and is filtered out)
            sims = np.where(np.isnan(sims), -np.inf, sims)
            out_q, out_c, out_s = [], [], []
            top = min(k, len(cids))
            for j in range(len(ids_b)):
                col = sims[:, j]
                # local top-k: argpartition then exact (sim desc, c_id asc)
                cand = np.argpartition(-col, top - 1)[:top] if top < len(cids) else np.arange(len(cids))
                order = cand[np.lexsort((cids[cand], -col[cand]))]
                order = order[~np.isinf(col[order])]
                out_q.extend([ids_b[j]] * len(order))
                out_c.extend(cids[order])
                out_s.extend(col[order])
            yield pd.DataFrame({q_id: out_q, c_id: out_c, "sim": out_s})

    # a NULL, NULL-element or wrong-length corpus vector has no cosine
    # with the queries: it arrives NULL and is skipped
    local = corpus.select(
        c_id, _well_formed(F.col(c_vec), dim).alias(c_vec)
    ).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return local.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --------------------------------------------- oracle-portable ANN
# Floating-point bucket boundaries are the one thing a cross-engine
# oracle cannot reproduce bit-for-bit (summation order). The portable
# variants therefore quantize embeddings to integers (round(x * 2^20))
# and make every *bucketing* decision in exact 64-bit integer
# arithmetic — identical in Spark and DuckDB — while the emitted
# similarity stays true float cosine. Quantization only perturbs
# bucket membership, which is the approximate part of ANN anyway.

QUANT_SCALE = 1 << 20


def quantize_vec(vec: Column) -> Column:
    """array<bigint> round(x * 2^20) — exact in both engines; |x|<=~1e3
    keeps every downstream product far from i64 overflow."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))


def _rademacher_signs(dim: int, n_planes: int) -> list[list[int]]:
    """Fixed +-1 hyperplanes from an LCG — sign-of-dot with a
    Rademacher plane is a valid random-hyperplane LSH family, and the
    integer dot makes the bucket decision engine-exact."""
    x = 0x2545F4914F6CDD1D
    planes = []
    for _ in range(n_planes):
        signs = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            signs.append(1 if (x >> 63) else -1)
        planes.append(signs)
    return planes


def with_lsh_bucket(
    df: DataFrame, vec_col: str, dim: int, n_planes: int, out_col: str = "bucket"
) -> DataFrame:
    """df + engine-exact bucket column: per Arrow batch, one
    (batch x dim) @ (dim x n_planes) int64 matmul against the literal
    Rademacher plane matrix decides every sign bit at once.
    Quantization is HALF_UP like Spark's F.round and DuckDB's round
    (numpy's .round() is round-half-even, so this rounds via
    floor(|x|*s + 0.5)*sign), and every product stays in exact int64,
    so the oracle's integer dots reproduce each bucket bit for bit.
    A NULL vector, a NULL element or a length other than `dim` gives
    bucket 0 (no plane's dot is defined). A per-plane zip_with/
    aggregate Column fold computed the same buckets 3.7-4.3x slower
    at 2k-40k vectors (BASELINE.md round 3) and is deleted. Zero
    shuffle: one mapInPandas."""
    signs = np.array(_rademacher_signs(dim, n_planes), dtype=np.int64).T  # dim×planes
    masks = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
    if out_col in df.columns:
        raise ValueError(f"{out_col} already present")

    def bucketize(batches):
        for pdf in batches:
            v = np.zeros((len(pdf), dim), dtype=np.float64)
            ok = np.zeros(len(pdf), dtype=bool)
            for i, x in enumerate(pdf[vec_col]):
                if x is not None and len(x) == dim:
                    v[i] = np.asarray(x, dtype=np.float64)
                    ok[i] = True
            ok &= ~np.isnan(v).any(axis=1)
            # HALF_UP quantization matching F.round(x * 2^20)
            scaled = np.where(ok[:, None], v, 0.0) * QUANT_SCALE
            q = (np.floor(np.abs(scaled) + 0.5) * np.sign(scaled)).astype(np.int64)
            bucket = ((q @ signs > 0) * masks).sum(axis=1, dtype=np.int64)
            out = pdf.copy()
            out[out_col] = np.where(ok, bucket, 0)
            yield out

    schema_str = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out_col}` bigint"
    return df.mapInPandas(bucketize, schema=schema_str)


def with_probe_buckets_portable(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_probe: int,
    out_col: str = "bucket",
) -> DataFrame:
    """Query-directed multi-probe expansion: each row explodes into
    `n_probe` rows — its own LSH bucket plus the (n_probe-1) buckets
    reached by flipping the sign bits of the planes the vector lies
    CLOSEST to (smallest |dot|), the bits most likely to have split
    true neighbors across buckets (Lv et al., multi-probe LSH,
    VLDB'07). Per-plane INTEGER dots over the quantized vector decide
    both the base bucket and the flip order, so a SQL oracle
    reproduces the probed bucket set bit-for-bit. Flip order is
    encoded portably as ``|dot| * n_planes + plane`` (|dot| <= dim *
    2^20, so the key fits a 64-bit integer exactly in any engine) —
    ascending sort = closest hyperplane first, plane index as the
    deterministic tiebreak."""
    qdf = df.withColumn("__q", quantize_vec(F.col(vec_col)))
    planes = _rademacher_signs(dim, n_planes)
    dots = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("__q"),
                    F.lit(list(signs)).cast("array<bigint>"),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for signs in planes
        ]
    )
    ddf = qdf.withColumn("__dots", dots)
    base = F.lit(0).cast("long")
    for i in range(n_planes):
        base = base.bitwiseOR(
            F.when(
                F.element_at("__dots", i + 1) > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
    ddf = ddf.withColumn("__base", base)
    if n_probe <= 1:
        return ddf.withColumn(out_col, F.col("__base")).drop("__q", "__dots", "__base")
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda i: F.abs(F.element_at("__dots", i + 1)) * n_planes + i,
    )
    flips = F.slice(F.array_sort(keys), 1, min(n_probe - 1, n_planes))
    masks = F.lit((np.int64(1) << np.arange(n_planes, dtype=np.int64))).cast("array<bigint>")
    buckets = F.concat(
        F.array(F.col("__base")),
        F.transform(
            flips,
            lambda k: F.col("__base").bitwiseXOR(
                F.element_at(masks, (k % n_planes).cast("int") + 1)
            ),
        ),
    )
    return ddf.withColumn(out_col, F.explode(buckets)).drop("__q", "__dots", "__base")


def lsh_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's probed
    LSH bucket(s) are scored. Single equi-join on the bucket id — at
    100 TB a hash join on a uniform key instead of a cross product;
    the emitted sim is float cosine of the original vectors. Recall
    levers: fewer `n_planes` (bigger buckets for EVERY vector) or a
    higher `n_probe` (each query also probes the buckets behind its
    closest hyperplanes via integer-exact flip ordering,
    `with_probe_buckets_portable` — cost on the query side only). The
    corpus is bucketed once either way."""
    cb = with_lsh_bucket(corpus, c_vec, dim, n_planes)
    if n_probe <= 1:
        qb = with_lsh_bucket(queries, q_vec, dim, n_planes)
    else:
        qb = with_probe_buckets_portable(queries, q_vec, dim, n_planes, n_probe)
    cand = cb.join(F.broadcast(qb), "bucket")
    if n_probe > 1:
        cand = cand.dropDuplicates([q_id, c_id])
    scored = cand.select(
        F.col(q_id), F.col(c_id), cosine(F.col(q_vec), F.col(c_vec)).alias("sim")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _quantized_rows(cents: DataFrame, cent_id: str, cent_vec: str, *extra):
    """(rows, ids, int64 matrix) of a centroid table sorted by id: one
    quantizer-sized collect, quantized JVM-side by `quantize_vec` (so
    engine-identical); each row also carries the `extra` columns."""
    rows = sorted(
        cents.select(
            *extra, F.col(cent_id).alias("_id"), quantize_vec(F.col(cent_vec)).alias("_q")
        ).collect(),
        key=lambda r: r._id,
    )
    ids = np.asarray([r._id for r in rows], dtype=np.int64)
    return rows, ids, np.asarray([r._q for r in rows], dtype=np.int64)


def _explode_cells(vecs, probes, vec_col, dim, cell_type, rank_col):
    """`vecs` + one row per probed cell: `probes` is an array<long>
    pandas_udf over the quantized well-formed vector; its position
    gives the 1-based `rank_col`."""
    qv = quantize_vec(_well_formed(F.col(vec_col), dim))
    extra = [(F.col("_pos") + 1).alias(rank_col)] if rank_col else []
    return vecs.select("*", F.posexplode(probes(qv)).alias("_pos", "_cell")).select(
        *vecs.columns, F.col("_cell").cast(cell_type).alias("cell"), *extra
    )


def ivf_assign(
    vecs: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    vec_col: str,
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
    rank_col: str | None = None,
) -> DataFrame:
    """Assign each vector its `n_probe` nearest centroid cells by
    exact integer L2 over quantized vectors (ties by centroid id).
    The centroid table (k rows) is collected once and broadcast as an
    int64 matrix, so assignment is a pure map over the corpus — one
    Arrow `_nearest` pass, no join, no window, no shuffle — the
    production IVF shape where the quantizer comes from an offline
    fit. Output: input cols + cell [+ `rank_col`, 1 = nearest]. A
    NULL or malformed vector (`_well_formed`) emits no rows."""
    _, ids, C = _quantized_rows(centroids, cent_id, cent_vec)
    bc = content_keyed_broadcast(
        vecs.sparkSession, f"ivf-int-{C.shape}", np.concatenate([ids, C.ravel()]),
        lambda _: (ids, C, (C * C).sum(axis=1)),
    )

    @F.pandas_udf("array<long>")
    def probes(q: pd.Series) -> pd.Series:
        ids, C, n2 = bc.value
        rows, Q = _stack(q, C.shape[1], np.int64)
        return _probe_lists(len(q), rows, _nearest(Q, C, n2, n_probe)[0], ids)

    return _explode_cells(
        vecs, probes, vec_col, C.shape[1], centroids.schema[cent_id].dataType, rank_col
    )


def ivf_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """IVF top-k against an externally supplied centroid table:
    corpus -> 1 cell each, queries probe `n_probe` cells, bucket
    equi-join against the broadcast queries, exact cosine, window
    top-k. Every bucketing decision is integer-exact, so a DuckDB
    oracle reproduces the identical result set; `ivf_topk` (k-means
    fit) remains the self-contained variant. Corpus-sized query sides
    (bitext mining) enter `_ivf_score_assigned` without the
    broadcast."""
    # norms projected once per VECTOR, not once per candidate pair —
    # cosine = dot / (norm_q * norm_c) is the same IEEE ops in a
    # cheaper place (bit-identical sims, 3x fewer folds per pair)
    cb = ivf_assign(corpus, centroids, 1, c_vec)
    return _ivf_score_cells(
        cb, queries, centroids, k, n_probe, q_id, c_id, q_vec, c_vec
    )


def _ivf_score_cells(
    cb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    n_probe: int,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
) -> DataFrame:
    """Shared IVF serve tail: probe-assign the queries, cell
    equi-join against an already-assigned corpus `cb` (columns
    c_id, c_vec, cell) with the queries broadcast, exact cosine,
    window top-k."""
    qb = ivf_assign(queries, centroids, n_probe, q_vec)
    return _ivf_score_assigned(
        cb, qb, k, q_id, c_id, q_vec, c_vec, broadcast_queries=True
    )


def _ivf_score_assigned(
    cb: DataFrame,
    qb: DataFrame,
    k: int,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
    broadcast_queries: bool,
    salt_n: int = 1,
) -> DataFrame:
    """Score tail over PRE-ASSIGNED sides (cb: c_id, c_vec, cell;
    qb: q_id, q_vec, cell with n_probe rows per query) — callers that
    reuse one assignment pass for several roles (bitext mining's
    fwd/bwd) enter here so the O(n_vectors x n_lists) quantizer scan
    never runs more than once per side.

    ``salt_n`` (round 13, guide §2.5 hot keys): the shuffle form's
    join key is `cell`, whose cardinality is the quantizer's n_lists —
    when that is SMALLER than the cluster's core count every pair
    cosine of the quadratic candidate set is folded inside at most
    n_lists join tasks while the rest of the cluster idles (Catalyst
    rightly projects `sim` before the window exchange to avoid
    shipping vectors, so the window's q_id repartition cannot rescue
    parallelism). With salt_n > 1 the corpus side is salted by a
    DETERMINISTIC hash of its id (retry-safe, see SPARK-38388) and the
    query side is exploded across all salts — the matched (q, c) pair
    set is exactly unchanged (each pair meets at exactly one salt), so
    sims, ranks and results are identical; only the join's task count
    changes. Callers derive salt_n from cores / n_lists, which goes to
    1 by itself once n_lists scales past the core count (production),
    making the query-side replication a no-op exactly where it would
    cost. Ignored under broadcast_queries (that join is already a map
    over corpus partitions)."""
    cb = cb.withColumn("__cn", norm(F.col(c_vec)))
    qb = qb.withColumn("__qn", norm(F.col(q_vec)))
    if broadcast_queries:
        qb = F.broadcast(qb)
    join_on = ["cell"]
    if not broadcast_queries and salt_n > 1:
        cb = cb.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col(c_id)), F.lit(salt_n)).cast("int"),
        )
        qb = qb.withColumn(
            "__salt",
            F.explode(F.sequence(F.lit(0), F.lit(int(salt_n) - 1))),
        )
        join_on = ["cell", "__salt"]
    if not broadcast_queries:
        # corpus-sized sides meet in a cell-keyed shuffle join even when
        # a checkpointed side's size estimate falls under the broadcast
        # threshold (an Arrow-assigned side's estimate does at sf1)
        qb = qb.hint("merge")
    scored = cb.join(qb, join_on).select(
        F.col(q_id),
        F.col(c_id),
        F.try_divide(
            dot(F.col(q_vec), F.col(c_vec)), F.col("__qn") * F.col("__cn")
        ).alias("sim"),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def update_ivf_assignments(
    assignments: DataFrame,
    fresh_vectors: DataFrame,
    centroids,
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    deleted_ids: DataFrame | None = None,
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
) -> DataFrame:
    """Delete-and-replace maintenance for an IVF cell-assignment
    table against a FROZEN coarse quantizer — the
    search.update_index / multimodal.update_phash_index discipline
    applied to the ANN family (it was the one incremental asymmetry
    left, VERDICT r11 #5): every id present in `fresh_vectors` (a
    re-embedded item) or `deleted_ids` has its old assignment row
    anti-joined away before the freshly assigned batch unions in, so
    the served index is exactly what a full rebuild over the updated
    vector set would produce (cell assignment is a pure per-vector
    function of the frozen centroids — pinned by test and by the
    similarity_ann_ivf_updated registry row's rebuild oracle).

    Tombstones in both forms: an id in `deleted_ids`, and a fresh
    row whose vector is NULL (the item was deleted upstream or
    stopped embedding) — the id is touched so its old assignment
    vanishes, and the NULL contributes no new row. Re-training the
    quantizer itself is a REBUILD by definition (every cell boundary
    moves); this maintains assignments under the standing quantizer,
    which is how production IVF serves between refits.

    100 TB shape: the touched-id set is broadcast (a daily re-embed
    batch is small next to the accumulated index), so the anti-join
    is a broadcast hash join — a map-side filter that preserves the
    persisted index's list_id-partitioned layout with no exchange;
    fresh rows stay unpartitioned until the next
    ivf_write_assignments compaction, like any LSM delta.

    Works with ALL quantizer representations, matching whichever
    built the index (mixing them would corrupt cell membership):
    a centroid DataFrame assigns via the exact-integer `ivf_assign`
    (cell column ``cell``), a list-of-lists quantizer via
    `with_nearest_list`, and a `HierQuantizer` via
    `with_nearest_list_hier` — the float forms behind
    `ivf_write_assignments` (cell column ``list_id``). All three run
    the same Arrow nearest-centroid kernels."""
    touched = fresh_vectors.select(c_id).distinct()
    if deleted_ids is not None:
        touched = touched.unionByName(deleted_ids.select(c_id)).distinct()
    touched = F.broadcast(touched)
    live = fresh_vectors.where(F.col(c_vec).isNotNull()).select(c_id, c_vec)
    if isinstance(centroids, DataFrame):
        fresh_rows = ivf_assign(live, centroids, 1, c_vec, cent_id, cent_vec)
    elif isinstance(centroids, HierQuantizer):
        fresh_rows = with_nearest_list_hier(live, c_vec, centroids)
    else:
        fresh_rows = with_nearest_list(live, c_vec, centroids)
    return (
        assignments.join(touched, c_id, "left_anti")
        .select(*assignments.columns)
        .unionByName(fresh_rows.select(*assignments.columns))
    )


def ivf_topk_from_assignments(
    assignments: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """IVF top-k served FROM a maintained assignment table (columns
    c_id, c_vec, cell — `ivf_assign(corpus, cents, 1, ...)` output,
    possibly after `update_ivf_assignments` rounds) without
    re-assigning the corpus: the ivf_topk_portable join/score tail
    verbatim, so ranks equal a full rebuild over the same vector set
    with the same centroids."""
    return _ivf_score_cells(
        assignments, queries, centroids, k, n_probe, q_id, c_id, q_vec, c_vec
    )


def embedding_near_dups_portable(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.35,
    n_planes: int = 8,
) -> DataFrame:
    """Corpus x corpus near-duplicate pairs by cosine >= threshold,
    LSH-bucketed so the self-join never materializes all pairs.
    Bucketing is engine-exact (`with_lsh_bucket`): the oracle
    recomputes the same buckets, so the emitted (id_a, id_b, sim)
    pairs hash-match instead of being rows-only. Each vector is
    bucketed once: both join sides read one bucket-keyed shuffle of
    the bucketed frame, which the planner reuses (ReusedExchange);
    without it each side runs its own `bucketize` Python pass."""
    b = with_lsh_bucket(
        df.select(F.col(id_col), F.col(vec_col)), vec_col, dim, n_planes
    ).repartition("bucket")
    l, r = b.alias("l"), b.alias("r")
    pairs = l.join(
        r,
        (F.col("l.bucket") == F.col("r.bucket")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        # coalesce -> non-nullable: the >= threshold filter otherwise
        # infers isnotnull(sim) and pushdown inlines the norm fold
        # into each scan (see dedup.md5_prefix_hash docstring); null
        # vectors score the -2 sentinel and never pass the threshold
        F.coalesce(
            cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")), F.lit(-2.0)
        ).alias("sim"),
    )
    return pairs.filter(F.col("sim") >= threshold)


# ---------------------------------------------------------------- IVF
def ivf_build_centroids(
    corpus: DataFrame,
    vec_col: str = "c_vec",
    n_lists: int = 16,
    n_iters: int = 2,
    sample_fraction: float | None = None,
    seed: int = 42,
) -> list[list[float]]:
    """Coarse quantizer for IVF: k-means with deterministic seeding
    (first k vectors in xxhash order) and `n_iters` Lloyd iterations
    executed as DataFrame aggregations. Only the k x dim centroid
    matrix ever reaches the driver (a few KB) — assignments stay
    distributed.

    ``sample_fraction`` is the 100 TB fit path: Lloyd iterations scan
    the corpus once per round, so fitting on a Bernoulli `sample()`
    (seeded — deterministic per input) bounds fit cost independently
    of corpus size while the coarse cell structure (what k-means
    estimates) converges with the sample, not the corpus. Assignments
    and probing always run on the FULL corpus. None/1.0 = fit on
    everything (identical seeds and means, pytest-pinned)."""
    fit = (
        corpus
        if sample_fraction is None or sample_fraction >= 1.0
        else corpus.sample(fraction=sample_fraction, seed=seed)
    ).select(F.col(vec_col).alias("v"))
    # the fit set is scanned once for seeding plus once per Lloyd
    # round — persist it (spill-safe) so each round reads the cached
    # sample instead of re-scanning + re-sampling the corpus
    persisted = n_iters > 0
    if persisted:
        fit = fit.persist()
    try:
        seeds = (
            fit.select("v", F.xxhash64(F.col("v").cast("array<double>").cast("string")).alias("h"))
            .orderBy("h")
            .limit(n_lists)
            .collect()
        )
        centroids = [[float(x) for x in r.v] for r in seeds]
        for _ in range(n_iters):
            assigned = with_nearest_list(fit, "v", centroids)
            # mean per (list, dim): posexplode -> two-level agg; k*dim rows out
            means = (
                assigned.select("list_id", F.posexplode(F.col("v").cast("array<double>")).alias("pos", "x"))
                .groupBy("list_id", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            by_list: dict[int, dict[int, float]] = {}
            for r in means:
                by_list.setdefault(r.list_id, {})[r.pos] = r.m
            for lid, dims in by_list.items():
                centroids[lid] = [dims[i] for i in range(len(centroids[lid]))]
    finally:
        if persisted:
            fit.unpersist()
    return centroids


# One broadcast per distinct centroid MATRIX per SparkContext, not per
# call: ivf_build_centroids assigns once per Lloyd round and serving
# calls with_nearest_list/with_probe_lists repeatedly with the same
# quantizer — naive per-call broadcasts accumulate executor blocks for
# a long-lived session's lifetime. Keyed on a content digest (id()
# recycles); evicted entries are unpersist()ed, which frees executor
# blocks while staying safe for any in-flight plan (Spark lazily
# re-broadcasts from the driver copy on next use — only destroy()
# would invalidate them).
_CENTROID_BC_MAX = 8
_centroid_bc_cache: dict = {}


def content_keyed_broadcast(spark, tag: str, arr, build):
    """One broadcast per distinct (tag, array CONTENT) per
    SparkContext — the shared lifetime discipline for quantizer-style
    broadcast state (IVF centroids, PQ codebooks): repeated serving
    calls with the same matrix reuse one broadcast instead of
    accumulating executor blocks for the session lifetime. Keyed on a
    content digest (id() recycles); evicted entries are unpersist()ed
    (FIFO, bounded), which frees executor blocks while staying safe
    for in-flight plans (Spark lazily re-broadcasts from the driver
    copy on next use — only destroy() would invalidate them).
    ``build(arr)`` produces the broadcast value."""
    import hashlib

    sc = spark.sparkContext
    key = (sc.applicationId, tag, arr.shape,
           hashlib.sha1(arr.tobytes()).hexdigest())
    bc = _centroid_bc_cache.get(key)
    if bc is None:
        bc = sc.broadcast(build(arr))
        # drop stale contexts' entries, then bound the live set (FIFO)
        for k in [k for k in _centroid_bc_cache if k[0] != sc.applicationId]:
            del _centroid_bc_cache[k]
        while len(_centroid_bc_cache) >= _CENTROID_BC_MAX:
            _centroid_bc_cache.pop(next(iter(_centroid_bc_cache))).unpersist()
        _centroid_bc_cache[key] = bc
    return bc


def _centroid_bc(spark, centroids: list[list[float]]):

    C = np.asarray(centroids, dtype=np.float64)
    return content_keyed_broadcast(
        spark, "ivf-centroids", C, lambda C: (C, (C * C).sum(axis=1))
    )


def _well_formed(vec: Column, dim: int) -> Column:
    """`vec` if it has exactly `dim` elements and none is NULL, else
    NULL. Arrow hands a NULL element to pandas as NaN and a ragged
    batch cannot be stacked, so every Arrow nearest-centroid kernel
    scores this guarded column: a malformed vector is treated like a
    NULL one (NULL cell, no probe rows) while a real NaN keeps the
    NaN-ranks-last convention."""
    return F.when(
        (F.size(vec) == dim) & ~F.exists(vec, lambda x: x.isNull()), vec
    )


def _stack(v: pd.Series, dim: int, dtype=np.float64):
    """(positions, rows x `dim` matrix) of the non-NULL vectors of an
    Arrow batch."""
    rows = np.nonzero(v.notna().to_numpy())[0]
    if not len(rows):
        return rows, np.empty((0, dim), dtype=dtype)
    return rows, np.stack([np.asarray(x, dtype=dtype) for x in v.iloc[rows]])


def _nearest(M: np.ndarray, C: np.ndarray, n2: np.ndarray, n: int):
    """The flat nearest-centroid kernel: each row of `M`'s top-`n`
    cells of `C` (squared norms `n2`) by (distance, cell index) —
    `argmin` (first min) when n = 1, else a stable argsort. Distances
    are -2 M@C^T + ||c||^2: a row's own ||m||^2 is the same for every
    cell, so it cannot change the order. float64 or int64 alike: a
    float NaN distance is masked to +inf (Spark's NaN-last ordering),
    int64 is exact. Returns (cell indices, distances), rows x
    min(n, k)."""
    d = -2 * (M @ C.T) + n2[None, :]
    if d.dtype.kind == "f":
        d[np.isnan(d)] = np.inf
    if n == 1:
        idx = np.argmin(d, axis=1)[:, None]
    else:
        idx = np.argsort(d, axis=1, kind="stable")[:, :n]
    return idx, np.take_along_axis(d, idx, axis=1)


def _hier_tables(S: np.ndarray, L: np.ndarray, leaf_super: np.ndarray):
    """The hierarchy `_nearest_hier` ranks against: (S, ||s||^2, L,
    ||l||^2, sorted leaf indices per super). A super with no leaves
    gets a +inf (float) or +2^62 (int64) norm penalty, so the descent
    never chooses an empty cell and drops a vector."""
    by_super = [np.nonzero(leaf_super == s)[0] for s in range(len(S))]
    penalty = np.inf if S.dtype.kind == "f" else np.int64(1) << 62
    dead = np.where([len(b) == 0 for b in by_super], penalty, 0)
    return S, (S * S).sum(axis=1) + dead, L, (L * L).sum(axis=1), by_super


def _nearest_hier(M: np.ndarray, H: tuple, n_super: int, n: int, sup=None):
    """The two-level nearest-centroid kernel: rank the supers of `H`
    (`_hier_tables`) with `_nearest`, pool the leaves of each row's
    `n_super` nearest — or of its given super-cells `sup` (rows x s) —
    and take the top-`n` pooled leaves by (distance, leaf index), one
    `_nearest` per distinct super tuple in the batch. With every super
    pooled this is `_nearest` over all leaves. Returns (leaf indices,
    distances), rows x n, index -1 past a row's candidates."""
    S, Sn2, L, Ln2, by_super = H
    if sup is None:
        sup = _nearest(M, S, Sn2, n_super)[0]
    idx = np.full((len(M), n), -1, dtype=np.int64)
    d = np.zeros((len(M), n), dtype=Ln2.dtype)
    tuples, inverse = np.unique(sup, axis=0, return_inverse=True)
    inverse = np.asarray(inverse).reshape(-1)  # numpy 2.0 axis quirk
    for t, supers in enumerate(tuples):
        cand = np.sort(np.concatenate([by_super[s] for s in supers]))
        if len(cand):
            sel = inverse == t
            loc, dist = _nearest(M[sel], L[cand], Ln2[cand], n)
            idx[sel, : loc.shape[1]] = cand[loc]
            d[sel, : loc.shape[1]] = dist
    return idx, d


def _first_cells(n_rows: int, rows: np.ndarray, idx: np.ndarray) -> pd.Series:
    """Int32 Series of each row's nearest cell: NULL for a NULL vector
    or a row without candidates."""
    cell = np.full(n_rows, -1, dtype=np.int32)
    cell[rows] = idx[:, 0]
    return pd.Series(pd.arrays.IntegerArray(cell, cell < 0))


def _probe_lists(n_rows: int, rows: np.ndarray, idx: np.ndarray, ids=None) -> pd.Series:
    """Series of each row's probed cells in rank order (NULL for a
    NULL vector), mapped through `ids` when given."""
    res: list = [None] * n_rows
    cells = (idx if ids is None else ids[idx]).tolist()
    for pos, row, w in zip(rows, cells, (idx >= 0).sum(axis=1).tolist()):
        res[pos] = row[:w]
    return pd.Series(res)


def with_nearest_list(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    out_col: str = "list_id",
) -> DataFrame:
    """Nearest-centroid assignment: squared-L2 argmin, first-min
    tie-break (the lower list id wins). A pandas_udf scores
    -2 v@C^T + ||c||^2 against a BROADCAST numpy centroid matrix, so
    plan size is O(1) in the quantizer and per-batch cost is one BLAS
    matmul. A NULL or malformed vector (`_well_formed`) assigns NULL.
    NaN distances are masked to +inf, so a NaN-poisoned cell ranks
    last (Spark's NaN ordering) and an all-NaN vector takes cell 0.
    Residual caveat: a vector whose distances mix genuine +inf with
    NaN ties them, where Spark orders inf before NaN — reachable only
    via overflowing inputs. A literal-expression engine (the centroid
    matrix inlined as Column folds) lost at every measured size —
    ivf_topk at n_lists=16 took 2.90 s vs 1.61 s at sf0.01, at
    n_lists=256 34.7 s vs 2.35 s (4 vCPU, 2 Spark cores) — and is
    deleted."""
    bc = _centroid_bc(df.sparkSession, centroids)

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        C, n2 = bc.value
        rows, M = _stack(v, C.shape[1])
        return _first_cells(len(v), rows, _nearest(M, C, n2, 1)[0])

    return df.withColumn(
        out_col, assign(_well_formed(F.col(vec_col), len(centroids[0])))
    )


def with_probe_lists(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    n_probe: int,
    out_col: str = "list_id",
) -> DataFrame:
    """Explode each row into its `n_probe` nearest cells — the query
    side of IVF probing. Same broadcast engine, NULL/malformed-vector
    handling (no probe rows) and NaN masking as `with_nearest_list`;
    ties break by distance asc, then list id asc
    (np.argsort(kind='stable'))."""
    bc = _centroid_bc(df.sparkSession, centroids)

    @F.pandas_udf("array<int>")
    def probes(v: pd.Series) -> pd.Series:
        C, n2 = bc.value
        rows, M = _stack(v, C.shape[1])
        return _probe_lists(len(v), rows, _nearest(M, C, n2, n_probe)[0])

    return df.withColumn(
        out_col,
        F.explode(probes(_well_formed(F.col(vec_col), len(centroids[0])))),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed into
    `n_lists` Voronoi cells once; each query probes its `n_probe`
    nearest cells. The join is a bucket equi-join — the scan fraction
    is ~n_probe/n_lists of brute force, and recall rises with n_probe
    (n_probe = n_lists degrades gracefully to exact brute force).
    Pass precomputed `centroids` to amortize the fit across queries
    (at scale: persist assignments as a bucketed table, and bound the
    fit cost with `ivf_build_centroids(sample_fraction=...)`)."""
    cents = centroids or ivf_build_centroids(corpus, c_vec, n_lists, n_iters)
    cb = with_nearest_list(corpus, c_vec, cents)
    qb = with_probe_lists(queries, q_vec, cents, n_probe)
    scored = cb.join(F.broadcast(qb), "list_id").select(
        F.col(q_id), F.col(c_id), cosine(F.col(q_vec), F.col(c_vec)).alias("sim")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_dedup_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    max_iters: int = 10,
) -> DataFrame:
    """Cluster-output embedding near-dup dedup — the `dedup_clusters`
    of the vector family: LSH-bucketed cosine pairs
    (`embedding_near_dups_portable`, integer-exact buckets an SQL
    oracle reproduces) contract to one (id, group_id, is_keeper) row
    per vector via large-star/small-star connected components
    (functions/dedup.dedup_groups), so output is LINEAR in corpus
    size where the pair form is quadratic in duplicate-cluster depth.
    group_id = minimum id of the cluster; singletons keep their own
    id."""
    from .dedup import dedup_groups

    pairs = embedding_near_dups_portable(
        df, id_col, vec_col, dim, threshold, n_planes
    )
    labels = dedup_groups(
        pairs.select("id_a", "id_b"), df.select(id_col), id_col, max_iters=max_iters
    )
    return labels.withColumn("is_keeper", F.col(id_col) == F.col("group_id"))


def ivf_write_assignments(
    corpus: DataFrame,
    centroids,
    path: str,
    c_vec: str = "c_vec",
) -> None:
    """Persist IVF cell assignments as a parquet table PARTITIONED BY
    list_id — the serving-side layout for corpus-scale ANN: each
    Voronoi cell is its own partition directory, so a query batch that
    probes n_probe of n_lists cells READS only those directories
    (partition pruning), ~n_probe/n_lists of the bytes, with no
    shuffle and no recomputed quantizer map per query batch. The
    assignment pass itself is one pure map over the corpus.

    `centroids` is a flat list-of-lists quantizer OR a
    `HierQuantizer` — at corpus-scaled n_lists the two-level form
    keeps this (the biggest single pass in the index lifecycle)
    sub-quadratic; leaf ids are global either way, so the on-disk
    layout is identical."""
    if isinstance(centroids, HierQuantizer):
        assigned = with_nearest_list_hier(corpus, c_vec, centroids)
    else:
        assigned = with_nearest_list(corpus, c_vec, centroids)
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(path)


def ivf_topk_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    centroids,
    k: int = 5,
    n_probe: int = 4,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    n_probe_super: int = 2,
) -> DataFrame:
    """IVF top-k against persisted `ivf_write_assignments` output:
    the query batch's probed cells form a LITERAL IN-list filter, so
    the scan prunes to exactly those partition directories (verify:
    PartitionFilters in the plan — tests/test_similarity.py). Rank
    results are identical to `ivf_topk` with the same centroids
    (scoring and probing logic are shared). With a `HierQuantizer`
    the query batch probes through the two-level structure
    (`n_probe_super` supers, then `n_probe` leaves) — same pruned
    scan, sub-quadratic probe assignment."""
    if isinstance(centroids, HierQuantizer):
        qb = with_probe_lists_hier(queries, q_vec, centroids, n_probe, n_probe_super)
    else:
        qb = with_probe_lists(queries, q_vec, centroids, n_probe)
    probed = sorted({r.list_id for r in qb.select("list_id").distinct().collect()})
    cb = spark.read.parquet(path).where(F.col("list_id").isin(probed))
    scored = cb.join(F.broadcast(qb), "list_id").select(
        F.col(q_id), F.col(c_id), cosine(F.col(q_vec), F.col(c_vec)).alias("sim")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------- hierarchical (two-level) IVF (round 12)
#
# Flat coarse quantization is O(n_vectors * n_lists) per assignment
# pass. Production IVF scales n_lists WITH the corpus (constant cell
# size keeps the probe join linear), which makes the flat scan
# quadratic — the measured sf100 wall in the round-12 bitext probe
# (BASELINE.md round-12 #3). The escalation every billion-vector
# system uses (IMI / two-level residual quantizers) is a hierarchy:
# ~sqrt(n_lists) super-cells, each holding ~sqrt(n_lists) leaf cells;
# a vector scans the supers, descends into its nearest super(s), and
# scans only those leaves — O(n * 2 sqrt(n_lists)) total. The LEAF id
# is the served cell, so everything downstream (cell equi-joins,
# partitioned layouts, incremental maintenance) is unchanged: the
# hierarchy only changes how a vector FINDS its cell.


def assign_leaves_to_supers(
    leaf_cents: DataFrame,
    super_cents: DataFrame,
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
    super_col: str = "super_id",
) -> DataFrame:
    """Attach each leaf centroid to its nearest super centroid (exact
    integer L2 over quantized vectors, ties by super id — the same
    argmin `ivf_assign` uses, so an SQL oracle reproduces the tree
    exactly). Output: leaf_cents columns + `super_col`; a leaf with a
    NULL or malformed vector gets no row. Both tables are
    quantizer-sized (k rows) — negligible next to any corpus pass."""
    out = ivf_assign(leaf_cents, super_cents, 1, cent_vec, cent_id, cent_vec)
    return out.withColumnRenamed("cell", super_col)


def ivf_assign_hier(
    vecs: DataFrame,
    super_cents: DataFrame,
    leaf_cents: DataFrame,
    n_probe: int,
    vec_col: str,
    n_probe_super: int = 1,
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
    super_col: str = "super_id",
    rank_col: str | None = None,
) -> DataFrame:
    """Two-level cell assignment: each vector ranks the SUPER
    centroids (exact integer L2, ties by id), descends into its
    `n_probe_super` nearest super-cells, and ranks only THOSE cells'
    leaf centroids — emitting its `n_probe` nearest leaves among the
    candidates. Output contract is identical to `ivf_assign` (input
    cols + `cell` [+ rank]), so every serve/maintenance path
    (`_ivf_score_assigned`, `update_ivf_assignments`) composes
    unchanged.

    `leaf_cents` must carry `super_col` (see `assign_leaves_to_supers`
    — or any externally-fit hierarchy). Both centroid tables are
    collected (quantizer-sized) and broadcast as int64 matrices, and one
    Arrow `_nearest_hier` pass assigns every vector (no join, window
    or shuffle); a super without leaves never wins the descent, and a
    NULL or malformed vector emits no rows. Per-vector work is O(n_super +
    n_probe_super * leaves_per_super) ~ O(2 sqrt(n_lists)) instead of
    the flat O(n_lists) — sub-quadratic when n_lists scales with the
    corpus.

    Exactness contract (pytest-pinned): with n_probe_super = n_super
    every leaf is a candidate, and the output row set EQUALS
    `ivf_assign(vecs, leaf_cents, n_probe)` — the hierarchy is a
    candidate-pruning structure over the same leaf argmin, not a
    different geometry. With n_probe_super < n_super a vector near a
    super-cell boundary may miss a leaf across the boundary — the
    standard two-level recall trade, recovered by raising
    n_probe_super (exactly like n_probe in flat IVF)."""
    _, sup_ids, S = _quantized_rows(super_cents, cent_id, cent_vec)
    leaf, leaf_ids, L = _quantized_rows(
        leaf_cents, cent_id, cent_vec, F.col(super_col).alias("_s")
    )
    # a leaf whose super is not in `super_cents` is never a candidate
    sup_index = {s: i for i, s in enumerate(sup_ids.tolist())}
    ls = np.asarray([sup_index.get(r._s, -1) for r in leaf], dtype=np.int64)
    bc = content_keyed_broadcast(
        vecs.sparkSession, f"ivf-int-hier-{S.shape}-{L.shape}",
        np.concatenate([S.ravel(), L.ravel(), leaf_ids, ls]),
        lambda _: (leaf_ids, _hier_tables(S, L, ls)),
    )

    @F.pandas_udf("array<long>")
    def probes(q: pd.Series) -> pd.Series:
        leaf_ids, H = bc.value
        rows, Q = _stack(q, H[2].shape[1], np.int64)
        idx = _nearest_hier(Q, H, n_probe_super, n_probe)[0]
        return _probe_lists(len(q), rows, idx, leaf_ids)

    return _explode_cells(
        vecs, probes, vec_col, L.shape[1], leaf_cents.schema[cent_id].dataType, rank_col
    )


def ivf_topk_hier_portable(
    queries: DataFrame,
    corpus: DataFrame,
    super_cents: DataFrame,
    leaf_cents: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    n_probe_super: int = 1,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """`ivf_topk_portable` served through the two-level quantizer:
    corpus descends to 1 leaf cell, queries probe `n_probe` leaves
    under their `n_probe_super` nearest supers, then the identical
    cell equi-join / exact-cosine / window top-k tail. Integer-exact
    bucketing end to end, so a DuckDB oracle reproduces the result
    set (registry row `similarity_ann_ivf_hier`)."""
    cb = ivf_assign_hier(
        corpus, super_cents, leaf_cents, 1, c_vec, n_probe_super=n_probe_super
    )
    qb = ivf_assign_hier(
        queries, super_cents, leaf_cents, n_probe, q_vec, n_probe_super=n_probe_super
    )
    return _ivf_score_assigned(
        cb, qb, k, q_id, c_id, q_vec, c_vec, broadcast_queries=True
    )


class HierQuantizer(NamedTuple):
    """Two-level coarse quantizer: `supers` (n_super x dim),
    `leaves` (n_leaves x dim, globally indexed — the served cell
    ids), `leaf_super[i]` = the super-cell leaf i lives under."""

    supers: list[list[float]]
    leaves: list[list[float]]
    leaf_super: list[int]


def ivf_build_hier_centroids(
    corpus: DataFrame,
    vec_col: str = "c_vec",
    n_lists: int = 64,
    n_iters: int = 2,
    sample_fraction: float | None = None,
    seed: int = 42,
    n_super: int | None = None,
) -> HierQuantizer:
    """Fit the two-level quantizer: k-means over `n_super` ~
    sqrt(n_lists) super-cells (reusing `ivf_build_centroids`), then
    PER-SUPER-CELL k-means over ceil(n_lists/n_super) leaves — seeds
    by xxhash order WITHIN each super-cell (deterministic), Lloyd
    rounds as grouped DataFrame aggregations keyed by (leaf, dim).
    Only the centroid matrices reach the driver; every corpus-sized
    pass is distributed. `sample_fraction` bounds fit cost exactly as
    in `ivf_build_centroids` (the 100 TB fit path). A super-cell the
    sample never hits would get zero leaves, yet UNSAMPLED corpus
    vectors can still argmin to it at assignment time — so dead
    supers are DROPPED from the returned quantizer (leaf ids stay
    dense; super ids renumber, which is invisible downstream since
    the served cell is the leaf id)."""
    fit = (
        corpus
        if sample_fraction is None or sample_fraction >= 1.0
        else corpus.sample(fraction=sample_fraction, seed=seed)
    ).select(F.col(vec_col).alias("v")).where(F.col("v").isNotNull())
    # not persisted here: ivf_build_centroids persists its own copy
    # for the super fit (double-caching the sample would evict other
    # storage at the 100 TB sample sizes this path exists for); the
    # one extra sample scan below is the cheaper trade
    n_super = n_super or max(2, int(round(n_lists**0.5)))
    n_leaf = max(1, -(-n_lists // n_super))  # ceil division
    supers = ivf_build_centroids(fit, "v", n_super, n_iters)
    assigned = with_nearest_list(fit, "v", supers, "super_id").persist()
    try:
        ws = Window.partitionBy("super_id").orderBy("h")
        seeds = (
            assigned.withColumn(
                "h",
                F.xxhash64(F.col("v").cast("array<double>").cast("string")),
            )
            .withColumn("rk", F.row_number().over(ws))
            .filter(F.col("rk") <= n_leaf)
            .select("super_id", "rk", "v")
            .collect()
        )
        # global leaf ids: dense enumeration in (super, seed-rank)
        # order — stable across runs (hash order is deterministic)
        seeds.sort(key=lambda r: (r.super_id, r.rk))
        leaves = [[float(x) for x in r.v] for r in seeds]
        leaf_super = [int(r.super_id) for r in seeds]
        for _ in range(n_iters):
            hq = HierQuantizer(supers, leaves, leaf_super)
            reassigned = _with_leaf_in_super(assigned, "v", "super_id", hq)
            means = (
                reassigned.select(
                    "leaf_id",
                    F.posexplode(F.col("v").cast("array<double>")).alias("pos", "x"),
                )
                .groupBy("leaf_id", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            by_leaf: dict[int, dict[int, float]] = {}
            for r in means:
                by_leaf.setdefault(r.leaf_id, {})[r.pos] = r.m
            for lid, dims in by_leaf.items():
                leaves[lid] = [dims[i] for i in range(len(leaves[lid]))]
    finally:
        assigned.unpersist()
    # drop dead supers (no leaves: the sample never reached them) so
    # assignment can never descend into an empty cell and silently
    # NULL-out a vector; leaf order — hence leaf ids — is unchanged
    live = sorted(set(leaf_super))
    if len(live) < len(supers):
        remap = {old: new for new, old in enumerate(live)}
        supers = [supers[s] for s in live]
        leaf_super = [remap[s] for s in leaf_super]
    return HierQuantizer(supers, leaves, leaf_super)


def _hier_bc(spark, hq: HierQuantizer):
    """Broadcast the hierarchy's float `_hier_tables` once per distinct
    content (the `content_keyed_broadcast` discipline). Supers with no
    leaves (possible in a hand-built HierQuantizer;
    `ivf_build_hier_centroids` drops them) never win the descent."""

    S = np.asarray(hq.supers, dtype=np.float64)
    L = np.asarray(hq.leaves, dtype=np.float64)
    ls = np.asarray(hq.leaf_super, dtype=np.int64)
    packed = np.concatenate([S.ravel(), L.ravel(), ls.astype(np.float64)])
    return content_keyed_broadcast(
        spark, f"ivf-hier-{S.shape}-{L.shape}", packed,
        lambda _: _hier_tables(S, L, ls),
    )


def _with_leaf_in_super(
    df: DataFrame, vec_col: str, super_col: str, hq: HierQuantizer,
    out_col: str = "leaf_id",
) -> DataFrame:
    """Nearest leaf WITHIN an already-chosen super-cell (the Lloyd
    re-assignment inner step): `_nearest_hier` with each row's super
    given, one matmul per distinct super id in the batch. A NULL super
    id or a NULL or malformed vector (`_well_formed`) assigns NULL."""
    bc = _hier_bc(df.sparkSession, hq)

    @F.pandas_udf("int")
    def assign(v: pd.Series, sup: pd.Series) -> pd.Series:
        H = bc.value
        rows, M = _stack(v.where(sup.notna()), H[2].shape[1])
        given = sup.iloc[rows].to_numpy(dtype=np.int64)[:, None]
        return _first_cells(len(v), rows, _nearest_hier(M, H, 1, 1, given)[0])

    vec = _well_formed(F.col(vec_col), len(hq.leaves[0]))
    return df.withColumn(out_col, assign(vec, F.col(super_col)))


def with_nearest_list_hier(
    df: DataFrame, vec_col: str, hq: HierQuantizer, out_col: str = "list_id"
) -> DataFrame:
    """`with_nearest_list` through the hierarchy (`_nearest_hier`): one
    batched matmul against the supers (argmin), then one per distinct
    super in the batch against only ITS leaves — O(batch x (n_super +
    leaves_per_super)) where the flat assigner is O(batch x n_lists).
    Output cell ids are GLOBAL leaf ids, so persisted layouts
    (`ivf_write_assignments`-style partitionBy) and the maintenance
    path compose unchanged. NULL and malformed vectors
    (`_well_formed`) assign NULL; NaN distances rank last (the flat
    engines' convention)."""
    bc = _hier_bc(df.sparkSession, hq)

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        H = bc.value
        rows, M = _stack(v, H[2].shape[1])
        return _first_cells(len(v), rows, _nearest_hier(M, H, 1, 1)[0])

    return df.withColumn(
        out_col, assign(_well_formed(F.col(vec_col), len(hq.leaves[0])))
    )


def with_probe_lists_hier(
    df: DataFrame,
    vec_col: str,
    hq: HierQuantizer,
    n_probe: int,
    n_probe_super: int = 2,
    out_col: str = "list_id",
) -> DataFrame:
    """Query-side hierarchical probing (`_nearest_hier`): rank the
    supers (stable), take the `n_probe_super` nearest, pool THEIR
    leaves as candidates, emit the `n_probe` nearest candidates by
    (distance, leaf id) — the exact tie-break `with_probe_lists` uses,
    so with n_probe_super = n_super the probe set equals the flat
    probe set over the same leaves (pytest-pinned). One candidate
    matmul per distinct super tuple per batch. NULL and malformed
    vectors (`_well_formed`) emit no probe rows."""
    bc = _hier_bc(df.sparkSession, hq)

    @F.pandas_udf("array<int>")
    def probes(v: pd.Series) -> pd.Series:
        H = bc.value
        rows, M = _stack(v, H[2].shape[1])
        return _probe_lists(len(v), rows, _nearest_hier(M, H, n_probe_super, n_probe)[0])

    vec = _well_formed(F.col(vec_col), len(hq.leaves[0]))
    return df.withColumn(out_col, F.explode(probes(vec)))


def ivf_topk_hier(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 64,
    n_probe: int = 4,
    n_probe_super: int = 2,
    n_iters: int = 2,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    hq: HierQuantizer | None = None,
) -> DataFrame:
    """`ivf_topk` with the two-level quantizer — the configuration for
    corpus-scaled n_lists where the flat assignment scan is the
    quadratic term. Same serve tail (cell equi-join against the
    broadcast queries, exact cosine, window top-k). Pass a
    precomputed `hq` to amortize the fit (`ivf_build_hier_centroids`,
    whose `sample_fraction` bounds its cost)."""
    hq = hq or ivf_build_hier_centroids(corpus, c_vec, n_lists, n_iters)
    cb = with_nearest_list_hier(corpus, c_vec, hq, "cell").select(
        F.col(c_id), F.col(c_vec), "cell"
    )
    qb = with_probe_lists_hier(queries, q_vec, hq, n_probe, n_probe_super, "cell").select(
        F.col(q_id), F.col(q_vec), "cell"
    )
    return _ivf_score_assigned(
        cb, qb, k, q_id, c_id, q_vec, c_vec, broadcast_queries=True
    )


# --------------------------------------------- SemDeDup (round 10)


def semdedup_head_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_clusters: int
) -> list[list[int]]:
    """Portable centroids: the QUANTIZED vectors of the first
    `n_clusters` rows by id — no learning, engine-exact, the same
    deterministic-quantizer pattern as the IVF/PQ gate rows
    (pq_head_codebooks). Collect is construction-time small."""
    rows = (
        df.where(F.col(id_col) < n_clusters)
        .select(F.col(id_col).alias("_i"),
                quantize_vec(F.col(vec_col)).alias("_q"))
        .orderBy("_i")
        .collect()
    )
    if len(rows) < n_clusters:
        raise ValueError(
            f"need {n_clusters} head rows with {id_col} < {n_clusters}, "
            f"got {len(rows)}")
    return [[int(x) for x in r._q] for r in rows]


def semdedup_learned_centroids(
    df: DataFrame, vec_col: str, dim: int, n_clusters: int,
    n_iters: int = 4, sample_fraction: float | None = None,
) -> list[list[int]]:
    """Learned centroids: full-dim k-means (pq_fit_codebooks with
    m=1 — one 'subspace' covering the whole vector), quantized to the
    integer grid so cluster ASSIGNMENT is deterministic and
    engine-exact while the fit itself uses true float Lloyd."""
    from .pq import pq_fit_codebooks

    book = pq_fit_codebooks(
        df, vec_col, dim, m=1, k=n_clusters, n_iters=n_iters,
        sample_fraction=sample_fraction,
    )[0]
    return [[int(round(x * QUANT_SCALE)) for x in c] for c in book]


def _assign_cells_int(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[int]],
    super_centroids: list[list[int]] | None = None,
) -> DataFrame:
    """SemDeDup's exact-INTEGER nearest-centroid assignment with zero
    shuffle: (id, __v float vector, cluster, dist2) where cluster is
    the argmin of squared L2 between the JVM-QUANTIZED vector and the
    integer centroids (first-min tie-break = smaller cell index) and
    dist2 is that minimum. One Arrow pandas_udf against a broadcast
    int64 matrix runs `_nearest` and adds ||q||^2 back for dist2 —
    exact int64 ((q-c)^2 <= 2^42 per dim at QUANT_SCALE for
    unit-range inputs, no overflow at any realistic dim). A NULL or
    malformed vector (`_well_formed`) assigns NULL cluster/dist2. A
    literal-expression engine computed the same rows and lost
    (embedding_semdedup 1.79 s vs 1.73 s at sf0.01, 2.48 s vs 2.21 s
    at sf0.1); it is deleted.

    `super_centroids` routes through the two-level integer hierarchy
    (`_nearest_hier` into the nearest super) — SemDeDup's escape from the
    flat-assignment wall when the cluster count scales with the
    corpus (the paper's regime: constant mean cluster size),
    O(n x 2 sqrt(k)) instead of O(n x k). Each leaf attaches to its
    integer-argmin super, computed driver-side over the two
    quantizer-sized matrices. With ONE super every leaf is always a
    candidate and the output equals the flat form exactly
    (pytest-pinned); with more supers a vector near a super boundary
    may land in a neighboring cluster — cluster granularity is the
    approximate part of SemDeDup anyway. A super with no leaves never
    captures a vector (`_hier_tables`)."""
    C = np.asarray(centroids, dtype=np.int64)
    dim, hier = C.shape[1], super_centroids is not None
    if hier:
        S = np.asarray(super_centroids, dtype=np.int64)
        ls = _nearest(C, S, (S * S).sum(axis=1), 1)[0][:, 0]
        bc = content_keyed_broadcast(
            df.sparkSession, "semdedup-hier", np.concatenate([S.ravel(), C.ravel(), ls]),
            lambda _: _hier_tables(S, C, ls),
        )
    else:
        bc = content_keyed_broadcast(
            df.sparkSession, "semdedup-centroids", C,
            lambda C: (C, (C * C).sum(axis=1)),
        )

    @F.pandas_udf("struct<cluster:long,dist2:long>")
    def assign(qv: pd.Series) -> pd.DataFrame:
        rows, Q = _stack(qv, dim, np.int64)
        idx, d = _nearest_hier(Q, bc.value, 1, 1) if hier else _nearest(Q, *bc.value, 1)
        cell = np.full(len(qv), -1, dtype=np.int64)
        d2 = np.zeros(len(qv), dtype=np.int64)
        cell[rows] = idx[:, 0]
        d2[rows] = d[:, 0] + (Q * Q).sum(axis=1)
        return pd.DataFrame({
            "cluster": pd.arrays.IntegerArray(cell, cell < 0),
            "dist2": pd.arrays.IntegerArray(d2, cell < 0),
        })

    qv = quantize_vec(_well_formed(F.col(vec_col), dim))
    return (
        df.select(F.col(id_col), F.col(vec_col).alias("__v"), qv.alias("__q"))
        .withColumn("__a", assign(F.col("__q")))
        .select(id_col, "__v",
                F.col("__a.cluster").alias("cluster"),
                F.col("__a.dist2").alias("dist2"))
    )


def semdedup_hier_centroids(
    df: DataFrame,
    vec_col: str,
    n_clusters: int,
    n_iters: int = 2,
    sample_fraction: float | None = None,
    n_super: int | None = None,
) -> tuple[list[list[int]], list[list[int]]]:
    """Production fit for hierarchical SemDeDup: two-level k-means
    (`ivf_build_hier_centroids`) quantized to the exact-integer
    representation `semdedup` assigns against. Returns (super_ints,
    leaf_ints); the leaf->super attachment is recomputed by integer
    argmin inside `_assign_cells_int`, so the served tree is
    self-consistent with the integer geometry."""
    hq = ivf_build_hier_centroids(
        df.select(F.col(vec_col).alias("c_vec")), "c_vec", n_clusters,
        n_iters, sample_fraction=sample_fraction, n_super=n_super,
    )

    def qz(M):
        return [[int(round(x * QUANT_SCALE)) for x in c] for c in M]

    return qz(hq.supers), qz(hq.leaves)


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[int]],
    threshold: float = 0.9,
    max_iters: int = 10,
    super_centroids: list[list[int]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic dedup by
    k-means clustering + WITHIN-CLUSTER cosine pruning — the member
    of the dedup family that catches paraphrases exact/MinHash/
    SimHash can't see and that all-pairs cosine can't afford. Output:
    one row per vector — (id, cluster, dist2, group_id, is_keeper).
    Keeper policy is the paper's: within each duplicate group keep
    the vector FARTHEST from its cluster centroid (integer sq-L2,
    ties to the smaller id) — the most 'extreme' representative —
    unlike the min-id keeper of the other dedup families.

    `centroids` are QUANTIZED integer vectors (semdedup_head_centroids
    for the oracle-exact gate path, semdedup_learned_centroids for
    production): assignment is exact integer argmin (ties to the
    smaller centroid index), so reruns and the SQL oracle agree;
    the similarity itself stays true float cosine.

    100 TB shape: assignment is a SHUFFLE-FREE projection over the
    corpus (one Arrow pandas_udf against a broadcast int64 centroid
    matrix, `_assign_cells_int`; a NULL or malformed vector gets NULL
    cluster/dist2 and pairs with nothing); candidate pairs come
    from a self-join ON CLUSTER ONLY (the paper's point — choose k so
    the mean cluster is constant-sized and pair work stays linear);
    CC is the same alternating-star contraction every dedup family
    uses; keeper selection is one window over groups. One vector-
    keyed shuffle (the cluster join), one group window.

    Exact-copy collapse (the functions/dedup._collapse_exact
    discipline applied to vectors): byte-identical float vectors
    always pair at cosine 1 >= threshold, so when the scale gate
    (`scale.collapse_exact_groups`: input-size floor, then
    duplicate-mass probe) says it pays, the within-cluster pair
    join runs on DISTINCT vectors only and the copies rejoin their
    representative's component via star edges — output provably
    identical (every star edge is a real threshold-passing pair; any
    full-graph edge maps to a rep-rep edge with the same cosine). In
    a dup-heavy corpus — the case semantic dedup exists for — pair
    work drops with the square of the mean copy count. Never tried
    when threshold > 1 (no pair is guaranteed then); null AND
    zero-norm vectors are
    never collapsed (cosine with a zero vector is NULL -> below any
    threshold, so they pair with nothing in the plain path; merging
    byte-identical zero vectors via star edges would invent groups
    the uncollapsed path never emits)."""
    k = len(centroids)
    if k < 1:
        raise ValueError("need at least one centroid")
    # assignment is referenced by BOTH pair-join sides, the collapse
    # probe/members, and the final label join — without an eager
    # checkpoint each reference re-runs the k x dim argmin over the
    # whole corpus (the dedup-family lineage discipline; measured
    # sf10 k=800: 633 s -> see BASELINE round-10).
    # `super_centroids` routes through the two-level integer argmin
    # (O(n x 2 sqrt(k))) — the opt-in for corpus-scaled k, where the
    # flat scan is the quadratic term (see _assign_cells_int).
    assigned = _assign_cells_int(
        df, id_col, vec_col, centroids, super_centroids
    ).localCheckpoint(eager=True)

    members = None
    if threshold <= 1.0:
        def fingerprints():
            return assigned.where(
                F.col("__v").isNotNull()
                # zero-norm vectors have NULL cosine with everything (the
                # try_divide -> coalesce(-2) path), so the plain pair join
                # never links them; keep them out of the collapse too or
                # byte-identical zero vectors would be star-edged into a
                # group the uncollapsed path provably never produces
                & F.exists("__v", lambda x: x != F.lit(0))
            ).select(
                F.col(id_col), F.md5(F.col("__v").cast("string")).alias("__fp")
            )

        # gate on the SOURCE frame, not the checkpointed assignment: a
        # localCheckpoint is a LogicalRDD whose size estimate is not
        # scan-derived, so it lands on the wrong side of a file-size
        # floor; `df`'s lineage is the scan
        groups = scale.collapse_exact_groups(df, fingerprints, id_col)
        if groups is not None:
            members = groups[1]
    pair_src = assigned
    if members is not None:
        pair_src = assigned.join(
            members.where(F.col(id_col) == F.col("__rep"))
            .select(id_col),
            id_col,
            "left_semi",
        )
    a = pair_src.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("va"), "cluster"
    )
    b = pair_src.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("vb"), "cluster"
    )
    pairs = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "__sim",
            F.coalesce(cosine(F.col("va"), F.col("vb")), F.lit(-2.0)),
        )
        .where(F.col("__sim") >= threshold)
        .select("id_a", "id_b")
    )
    if members is not None:
        # rep = min(id) of its copy set, so rep < copy: edge order holds
        stars = members.where(F.col(id_col) != F.col("__rep")).select(
            F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
        )
        pairs = pairs.union(stars)
    from .dedup import dedup_groups

    labels = dedup_groups(
        pairs, df.select(id_col), id_col, max_iters=max_iters
    )
    w_keep = Window.partitionBy("group_id").orderBy(
        F.desc("dist2"), F.asc(id_col)
    )
    return (
        assigned.join(labels, id_col)
        .withColumn("__kr", F.row_number().over(w_keep))
        .select(
            id_col, "cluster", "dist2", "group_id",
            (F.col("__kr") == 1).alias("is_keeper"),
        )
    )
