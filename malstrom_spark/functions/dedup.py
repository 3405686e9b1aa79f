"""Deduplication operators for training-data pipelines.

Not present in the reference (its surface is general stateful
primitives, SURVEY §2.8); first-class here per the north star. All
stages are native DataFrame ops — shingling/hashing/banding happen
JVM-side; nothing collects to the driver.

Scale design (100 TB of documents):
- exact dedup: one hash-shuffle on the fingerprint. Map-side partial
  aggregation cuts shuffle volume; AQE coalesces the output.
- MinHash+LSH: tokenize ONCE into a materialized column, hash word
  n-grams directly with multi-arg xxhash64 (no n-gram strings are
  ever built), per-doc signature via ONE groupBy (32 min-aggregates
  computed together) -> band hashes -> self-join on (band, bandhash)
  buckets. Shuffle keys are band hashes (uniform by construction, no
  skew). Candidate verification joins hashed shingle sets only for
  candidate pairs, never all pairs.
- SimHash: one traversal of the token-hash array with an array<int>
  accumulator (zip_with) — not 64 separate passes; Hamming distance
  via bit_count(xor) — all codegen'd.

PERF NOTE (hot-path rule): never reference an expensive expression
(regex split, xxhash chain) from inside a higher-order-function
lambda — codegen subexpression elimination does not reach lambda
bodies, so the expression is re-evaluated per element. Materialize it
as a named column in a preceding select; every function below follows
this rule (measured 10x on the signature stage at sf0.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text, tokens

# Deterministic MinHash parameters (Mersenne prime scheme). 2^31-1 so
# h*a fits in a 64-bit long under ANSI overflow checking.
_MERSENNE = (1 << 31) - 1

# Field separator for multi-part portable hashing (ASCII unit sep —
# cannot appear in whitespace-split tokens).
_SEP = "\x1f"


def md5_prefix_hash(*cols: Column) -> Column:
    """Engine-portable 60-bit hash: BIGINT of the first 15 hex chars of
    md5. Bit-identical in DuckDB as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — this is what makes the
    MinHash/SimHash/winnowing pipelines fully oracle-checkable (the
    oracle recomputes the same signatures, bands and buckets in SQL).
    Multi-arg inputs are concat_ws-joined on chr(31), same both sides.

    Still JVM-side codegen (md5+conv are native exprs); the xxhash64
    variants stay as the scale path (no hex-string materialization).

    NON-NULLABLE by construction (coalesce to 0): when this hash is a
    join key, a nullable expression makes the join infer an
    isnotnull(key) filter whose pushdown inlines the whole defining
    chain (signature fold + shingles + tokenizer) into a scan-level
    filter, re-evaluated interpreted per row — the same pathology as
    the InferFiltersFromGenerate trap (see contaminated_ids). xxhash64
    is already non-nullable, which is why the scale path never hit it.
    The input string is only null for null text, which hashes to 0 on
    both engines' pipelines (no real corpus row is null-keyed into a
    bucket that survives verification).
    """
    s = cols[0] if len(cols) == 1 else F.concat_ws(_SEP, *cols)
    return F.coalesce(
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        F.lit(0).cast("long"),
    )


def md5_prefix_hash_sql(expr: str) -> str:
    """The DuckDB-side twin of `md5_prefix_hash` for oracle strings.
    Mirrors the Python side's NULL->0 coalesce so the two twins stay
    bit-identical BY CONSTRUCTION (not by caller discipline) even if a
    null string ever reaches the hash (ADVICE r02)."""
    return f"COALESCE(('0x' || substr(md5({expr}), 1, 15))::BIGINT, 0)"


def _perm_params(n_hashes: int) -> list[tuple[int, int]]:
    """Fixed, reproducible (a, b) permutation params derived from a
    simple LCG — no runtime randomness, identical across runs/sessions."""
    params = []
    x = 0x9E3779B97F4A7C15
    for _ in range(n_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (_MERSENNE - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _MERSENNE
        params.append((a, b))
    return params


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text (array<string>).

    WARNING: as a bare Column expr the tokenizer is re-evaluated per
    shingle (see PERF NOTE above); for DataFrame-level work use
    `shingle_strings` / `shingle_hash_sets`, which materialize the
    token array first. Kept for small/probe-set use and API parity.
    """
    t = tokens(normalize_text(col))
    return _shingles_from_tokens(t, n)


def _shingles_from_tokens(t: Column, n: int) -> Column:
    # try_element_at: docs shorter than n tokens yield one truncated
    # shingle (nulls skipped by concat_ws) — same as SQL list indexing
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.try_element_at(t, i + j + 1) for j in range(n)])
        )
    )


def _estimate_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the file scan's partition count from driver-side file
    metadata — replaces the old `df.rdd.getNumPartitions()` probe,
    which converted the whole plan to an RDD on every pipeline
    construction. Mirrors Spark's FilePartition packing: each file
    contributes ceil(size / maxPartitionBytes) splits, and small files
    bin-pack at (size + openCostInBytes) per file. Returns None when
    the plan has no file scan (in-memory/stream input) — callers leave
    those untouched."""
    import math
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    as_bytes = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    max_bytes = as_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    open_cost = as_bytes(spark.conf.get("spark.sql.files.openCostInBytes", "4MB"))
    splits, packed_bytes = 0, 0
    hconf = None
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme in ("file", ""):
            try:
                size = os.path.getsize(unquote(parsed.path or f))
            except OSError:
                size = max_bytes
        else:
            if hconf is None:
                hconf = spark.sparkContext._jsc.hadoopConfiguration()
            jpath = jvm.org.apache.hadoop.fs.Path(f)
            size = jpath.getFileSystem(hconf).getFileStatus(jpath).getLen()
        if size > max_bytes:
            splits += math.ceil(size / max_bytes)
        else:
            packed_bytes += size + open_cost
    return splits + max(1, math.ceil(packed_bytes / max_bytes)) if packed_bytes else max(1, splits)


def ensure_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition CPU-heavy per-row pipelines up to the session's
    parallelism when the input arrives under-partitioned (one small
    parquet file = one unsplittable row-group = one core doing all
    the hashing). At cluster scale the input already has >= cores
    partitions and this is a no-op — the shuffle only ever happens
    when the source was too small for it to matter. Partition count is
    estimated from file metadata (no DataFrame->RDD plan conversion)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    est = _estimate_scan_partitions(df)
    if est is None or est >= min(target, int(spark.conf.get("spark.sql.shuffle.partitions"))):
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols]) if key_cols else df.repartition(target)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the plan (bytes) — file-size-based
    for scans/projections, a huge default for opaque lineage (so a
    size GATE fails open to the conservative path). None on any
    introspection error."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


def _collapse_probe_min_bytes() -> int:
    # Round 13: floor lowered 256 MiB -> 1 MiB. The round-12 floor
    # assumed "below it even a maximally dup-heavy input cannot repay
    # the probe job" — MEASURED FALSE at sf1: the 10x replica's name
    # clusters put customer_fuzzy_pairs at 117.8 s with the probe
    # skipped (member-level variant buckets go quadratic in copy
    # depth) vs 22.4 s with it on, entity_groups 22.4 -> 6.5 s,
    # containment 28.1 -> 10.2 s, while the probe costs one ~0.3 s
    # job. 1 MiB keeps every round-12 bench-scale win (the largest
    # sf0.1 dedup input, embeddings, estimates 799 KiB — all sf0.1
    # probes stay skipped, jobs unchanged) and restores the probe from
    # sf1 up (smallest probing input estimates 1.04 MiB; anything
    # bigger clears the floor further). Worst-case regret below the
    # floor is bounded: <=1 MiB of collapsed rows whose candidate
    # blow-up the levenshtein/band verify chews through in seconds.
    # Opaque lineage still fails OPEN to the probe.
    import os

    return int(
        os.environ.get(
            "SPARK_GRAFT_COLLAPSE_PROBE_MIN_BYTES",
            str(1024 * 1024),
        )
    )


def _collapse_exact(df: DataFrame, id_col: str, text_col: str, min_dup_ratio: float = 0.05):
    """Exact-duplicate collapse: group byte-identical texts on
    md5(text) and elect min(id) as the group representative.

    ADAPTIVE: first probes the duplicate mass with one narrow
    (fingerprint count-distinct) aggregation. When fewer than
    ``min_dup_ratio`` of the docs are byte-duplicates the collapse
    machinery costs more than it saves (extra checkpoints + joins with
    near-zero row reduction), so the probe returns ``(df, None)`` and
    the caller runs the pipeline uncollapsed — output-identical either
    way. Measured at sf0.1 (0.16% dups): collapse costs +28 s for
    nothing; at sf1 with 10x-deep clusters it saves ~120 s — the probe
    is what makes the choice data-driven, same spirit as AQE.

    Returns ``(rep_docs, members)`` where ``rep_docs`` is the input
    restricted to representatives and ``members`` maps every id to its
    representative (``__rep``). Near-dup pipelines run signature /
    candidate / verify stages on representatives only — in a real
    corpus the duplicate mass is exactly what makes verify quadratic
    per cluster, so collapsing first is the 100 TB design, not just a
    benchmark trick. Cost: one narrow (id, fp) shuffle plus a semi-join
    of the corpus against the (smaller) rep-id set.

    ``members`` feeds three downstream joins, so it is EAGERLY
    localCheckpoint'ed (computed once, lineage truncated). Lazy
    (eager=False) checkpoints are a trap here: branches of the single
    final action race to materialize them and each recomputes the
    full plan (measured 39 s one-shot vs 12.5 s with eager
    checkpoints at sf0.1). Callers checkpoint their own narrow
    signature tables the same way. This is the local-mode stand-in
    for the materialized stage table a 100 TB deployment writes
    between the exact and near-dup passes."""
    # The probe itself is one Spark job. Below an input-size floor
    # (round-12 session 4, same rationale as queries.spread) even a
    # maximally dup-heavy input cannot repay that job — candidate
    # blow-up is already bounded by the hot-bucket caps at such sizes
    # — so skip probe AND collapse outright; output is identical
    # either way. Opaque lineage estimates default to huge, so an
    # unknown size fails open to the probe.
    size = _plan_size_bytes(df)
    if size is not None and size < _collapse_probe_min_bytes():
        return df, None
    fps = df.select(F.col(id_col), F.md5(F.col(text_col).cast("string")).alias("__fp"))
    total, distinct = fps.agg(
        F.count(F.lit(1)), F.approx_count_distinct("__fp", 0.02)
    ).first()
    if total == 0 or (total - distinct) / total < min_dup_ratio:
        return df, None
    reps = fps.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    members = (
        fps.join(reps, "__fp")
        .select(F.col(id_col), F.col("__rep"))
        .localCheckpoint(eager=True)
    )
    rep_docs = df.join(
        reps.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
    )
    return rep_docs, members


def _expand_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    id_col: str,
    score_col: str,
    intra_score: Column,
    intra_reps: DataFrame | None = None,
) -> DataFrame:
    """Expand representative-level near-dup pairs back to member-level
    pairs, plus all intra-group pairs (byte-identical texts are always
    bucket candidates — identical text => identical signature => same
    buckets — scoring ``intra_score``). Output is provably identical
    to running the uncollapsed pipeline: candidacy and score are pure
    functions of the text. ``intra_reps`` (one ``__rep`` column)
    optionally restricts which groups emit intra pairs — MinHash needs
    this because two byte-identical docs with EMPTY shingle sets score
    Jaccard 0.0 (0/max(0,1)) in the uncollapsed pipeline, not 1.0."""
    ma = members.select(F.col("__rep").alias("__ra"), F.col(id_col).alias("__ida"))
    mb = members.select(F.col("__rep").alias("__rb"), F.col(id_col).alias("__idb"))
    intra_a = ma if intra_reps is None else ma.join(
        intra_reps.select(F.col("__rep").alias("__ra")), "__ra", "left_semi"
    )
    inter = (
        rep_pairs.join(ma, F.col("id_a") == F.col("__ra"))
        .join(mb, F.col("id_b") == F.col("__rb"))
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            score_col,
        )
    )
    intra = intra_a.join(
        mb, (F.col("__ra") == F.col("__rb")) & (F.col("__ida") < F.col("__idb"))
    ).select(
        F.col("__ida").alias("id_a"),
        F.col("__idb").alias("id_b"),
        intra_score.alias(score_col),
    )
    return inter.unionByName(intra)


def _tokens_cheap(col: Column) -> Column:
    """split(trim(lower(x)), '\\s+') — one regex pass; token-identical
    to tokens(normalize_text(x)) since splitting on \\s+ already
    collapses whitespace runs."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def shingle_strings(
    df: DataFrame, id_col: str, text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """(id, sh: array<string>) distinct word n-grams; token array is
    materialized as a column so the regex tokenizer runs once per doc."""
    toks = df.select(id_col, _tokens_cheap(F.col(text_col)).alias("_toks"))
    return toks.select(id_col, _shingles_from_tokens(F.col("_toks"), shingle_n).alias("sh"))


def shingle_hash_sets(
    df: DataFrame, id_col: str, text_col: str = "text", shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id, sh: array<bigint>) distinct 64-bit shingle hashes. The
    n-gram is hashed directly from its n token cells via multi-arg
    xxhash64 — no n-gram string is ever materialized, so the scan
    stays cheap at 100 TB (no quadratic string building).

    ``portable=True`` switches to the 60-bit md5-prefix hash (identical
    in DuckDB) so the downstream MinHash/LSH stages can be
    oracle-checked end to end. concat_ws skips nulls in both engines,
    so short docs hash their truncated shingle identically."""
    hash_fn = md5_prefix_hash if portable else F.xxhash64
    toks = df.select(id_col, _tokens_cheap(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - shingle_n, F.lit(0)))
    # try_element_at: xxhash64/concat_ws ignore null inputs, so a doc
    # shorter than n tokens hashes its truncated shingle
    sh = F.array_distinct(
        F.transform(
            idx, lambda i: hash_fn(*[F.try_element_at(t, i + j + 1) for j in range(shingle_n)])
        )
    )
    return toks.select(id_col, sh.alias("sh"))


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups on normalized text: emits one row per
    distinct text with the surviving (minimum) id and the copy count.
    One shuffle on the md5 fingerprint; never shuffles the text body."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str = "text", n_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """(id, signature: array<bigint>) via hashed shingles -> explode ->
    one groupBy with n_hashes min-aggregates (one shuffle, map-side
    partial mins). Permutations = (a*h+b) mod 2^31-1, native exprs."""
    hs = shingle_hash_sets(df, id_col, text_col, shingle_n)
    return _signature_from_hash_sets(hs, id_col, n_hashes)


def _signature_from_hash_sets(hash_sets: DataFrame, id_col: str, n_hashes: int) -> DataFrame:
    """ZERO-SHUFFLE signatures: ONE traversal of the shingle hash
    array folds all n_hashes running minima at once (accumulator =
    array<long> of per-perm mins, zip_with against a literal
    (a, b)-param array). At 100 TB this is a pure map over the corpus
    scan. A per-perm array_min(transform(...)) formulation is 10-30x
    slower: Catalyst collapses projections, so the shingle-hash array
    expression gets inlined and re-evaluated once per permutation
    (measured 9.7 s -> 0.9 s at 50k docs, file-backed input)."""
    # one py4j call for the whole (a, b) param array (round-12): the
    # per-element F.struct/F.lit form cost one round-trip per node
    params = F.expr(
        "array(" + ",".join(
            f"named_struct('a',{a}L,'b',{b}L)"
            for (a, b) in _perm_params(n_hashes)
        ) + ")"
    )
    m = F.lit(_MERSENNE)
    init = F.array_repeat(m.cast("long"), n_hashes)
    sig = F.aggregate(
        F.col("sh"),
        init,
        lambda acc, h: F.zip_with(
            acc, params, lambda ac, p: F.least(ac, F.pmod(F.pmod(h, m) * p.a + p.b, m))
        ),
    )
    return hash_sets.select(id_col, sig.alias("signature"))


def _bucket_candidate_pairs(
    bucketed: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    payload_cols: tuple[str, ...] = (),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs from a bucket self-join,
    with an optional HOT-BUCKET CAP — the guard against the one
    data-dependent scale killer in LSH-family candidate generation:
    bucket *keys* are uniform hashes (skew-free shuffle), but bucket
    *population* follows the data, and a template cluster of
    near-identical (non-byte-identical, so `_collapse_exact` doesn't
    fire) documents shares band/chunk hashes and forms a single bucket
    emitting |B|^2/2 pairs.

    With ``max_bucket_size=B``: bucket populations are counted with
    one NARROW aggregation (bucket key + map-side-combined count/min —
    the full bucketed table is never re-shuffled), and the tiny set of
    OVERSIZED bucket keys broadcast-joins back. Rows in small buckets
    self-join exactly as before; oversized buckets emit STAR
    candidates only — every member paired with the bucket's minimum
    id — so an oversized bucket contributes |B|-1 candidates instead
    of ~|B|^2/2. Downstream verification still runs on every emitted
    pair, so false-positive mega-buckets (hash coincidence without
    similarity) still verify to nothing; for TRUE near-dup
    mega-buckets the representative pairs keep the cluster connected
    for `dedup_clusters` (rep-member similarity is what formed the
    bucket). Recall caveat: a pair inside an oversized bucket that is
    similar to each other but NOT to the bucket minimum is only found
    if some other band/chunk puts it in a small bucket — the standard
    bounded-candidates trade, documented not silent.

    When no bucket exceeds the cap — the common case outside template
    corpora, and the one the cap's round-5 default-ON makes hot — an
    EAGER PROBE (one narrow aggregation job at DataFrame-construction
    time, same eager-construction contract as the collapse pre-pass)
    detects it and returns the exact uncapped plan unchanged, so the
    guard costs only the probe instead of threading a broadcast join
    through both self-join sides (measured sf0.1: the always-guarded
    plan cost +0.75-2 s per pair query for identical output; the
    probe form returns that). ``payload_cols`` ride along as
    ``<col>_a``/``<col>_b`` (e.g. SimHash values for the verify)."""

    pair_cols = [
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        *[F.col(f"l.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(f"r.{c}").alias(f"{c}_b") for c in payload_cols],
    ]

    def _full_pairs(t: DataFrame) -> DataFrame:
        l, r = t.alias("l"), t.alias("r")
        cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
        for c in bucket_cols:
            cond = (F.col(f"l.{c}") == F.col(f"r.{c}")) & cond
        return l.join(r, cond).select(*pair_cols)

    if max_bucket_size is None:
        return _full_pairs(bucketed).distinct()

    oversized = (
        bucketed.groupBy(*bucket_cols)
        .agg(
            F.count(F.lit(1)).alias("__bn"),
            F.min(
                F.struct(F.col(id_col), *[F.col(c) for c in payload_cols])
            ).alias("__bmin"),
        )
        .where(F.col("__bn") > max_bucket_size)
        .select(*bucket_cols, "__bmin")
    )
    if oversized.isEmpty():
        return _full_pairs(bucketed).distinct()
    t = bucketed.join(F.broadcast(oversized), bucket_cols, "left")
    small = _full_pairs(t.where(F.col("__bmin").isNull()).drop("__bmin"))
    big = t.where(
        F.col("__bmin").isNotNull() & (F.col(id_col) != F.col("__bmin")[id_col])
    ).select(
        F.col("__bmin")[id_col].alias("id_a"),
        F.col(id_col).alias("id_b"),
        *[F.col("__bmin")[c].alias(f"{c}_a") for c in payload_cols],
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    return small.unionByName(big).distinct()


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_bands: int = 8,
    portable: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature and self-join on (band, band_hash) buckets.
    Returns distinct candidate (id_a < id_b) pairs. Bucket keys are
    hashes — uniformly distributed, so the self-join shuffle is
    skew-free by construction; bucket POPULATION is data-dependent —
    pass ``max_bucket_size`` to bound mega-bucket blowup (see
    `_bucket_candidate_pairs`). ``portable=True`` hashes the band slice
    via md5-prefix of the chr(31)-joined decimal values (DuckDB twin:
    array_to_string(list_slice(sig, ...), chr(31)))."""
    banded = band_table(signatures, id_col, n_bands, portable)
    return _bucket_candidate_pairs(
        banded, id_col, ["band", "bhash"], max_bucket_size=max_bucket_size
    )


def band_table(
    signatures: DataFrame, id_col: str, n_bands: int = 8, portable: bool = False
) -> DataFrame:
    """(id, band, bhash) rows from a (id, signature) table — the LSH
    bucket keys themselves, exposed so they can be PERSISTED as an
    incremental dedup store (see `minhash_band_table`) as well as
    self-joined (`lsh_candidate_pairs`)."""

    def band_hash(slice_col):
        if portable:
            return md5_prefix_hash(
                F.array_join(F.transform(slice_col, lambda x: x.cast("string")), _SEP)
            )
        return F.xxhash64(slice_col)

    # explode FIRST, hash once per (doc, band) row: hashing inside an
    # explode(transform(...)) re-evaluates the whole band array per
    # emitted row after projection collapse (measured 14 s -> 2 s at
    # 50k docs for the md5 portable path)
    rows_per_band = F.floor(F.size("signature") / n_bands).cast("int")
    return (
        signatures.select(
            F.col(id_col),
            "signature",
            F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
        )
        .select(
            id_col,
            "band",
            band_hash(
                F.slice("signature", F.col("band") * rows_per_band + F.lit(1), rows_per_band)
            ).alias("bhash"),
        )
    )


def ngram_jaccard(df_pairs: DataFrame, docs: DataFrame, id_col: str, text_col: str = "text",
                  shingle_n: int = 3) -> DataFrame:
    """Exact Jaccard over word-shingle STRING sets for given
    (id_a, id_b) pairs — oracle-reproducible (no hashing). Joins
    shingle arrays onto the (small) candidate set, never all pairs."""
    sh = shingle_strings(docs, id_col, text_col, shingle_n)
    return _jaccard_join(df_pairs, sh, id_col)


def hash_jaccard(df_pairs: DataFrame, hash_sets: DataFrame, id_col: str) -> DataFrame:
    """Exact Jaccard over hashed shingle sets (array<bigint>) — the
    scale path: long arrays shuffle ~an order of magnitude less than
    n-gram strings and compare faster. Collision probability at 64-bit
    is negligible for verification purposes."""
    return _jaccard_join(df_pairs, hash_sets, id_col)


def _jaccard_join(df_pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = df_pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    uni = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select(
        "id_a", "id_b", (inter / F.greatest(uni, F.lit(1.0))).alias("jaccard")
    )


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.8,
    portable: bool = False,
    collapse_exact: bool = True,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: hashed shingle sets ->
    signatures -> banded candidates -> exact hash-set-Jaccard verify
    >= threshold. The shingle stage is a pure map and is recomputed by
    the two consumers rather than cached (caching leaked across
    registry runs; at cluster scale this stage is a materialized
    parquet stage table instead). ``portable=True`` uses the
    md5-prefix hash throughout so a DuckDB oracle can recompute the
    identical signatures, buckets and candidate set.

    ``collapse_exact`` (default) first collapses byte-identical texts
    and runs the pipeline on distinct-text representatives only, then
    expands pairs back — output-identical (candidacy and Jaccard are
    functions of the text) but verify cost scales with the number of
    DISTINCT near-dup texts instead of quadratically with duplicate
    cluster sizes. At sf1 (50k docs, 10x dup clusters): 133.6 s ->
    13.8 s for the identical 250,600-pair output (BASELINE.md). This
    is the 100 TB shape: exact dedup is always the first pass of a
    near-dup pipeline.

    EAGER-CONSTRUCTION CONTRACT: when the collapse pre-pass fires, its
    duplicate-mass probe and stage-table checkpoints execute Spark
    jobs at DataFrame-CONSTRUCTION time (not first action), and the
    collapse decision is frozen against the input as of construction —
    build this plan only against already-written inputs.

    SCALE NOTE: pair output is inherently quadratic in duplicate
    cluster depth (a 10k-copy cluster = ~50M pairs). For corpus-scale
    dedup prefer `dedup_clusters`, which emits one (id, group_id,
    is_keeper) row per document — output linear in corpus size.

    ``max_bucket_size`` defaults ON (4096, round 5): buckets above the
    cap emit star edges instead of all pairs, so a mega-bucket cannot
    blow up candidate generation; pairs bridged only by a capped
    bucket may be missed (recall trade documented at
    `_bucket_candidate_pairs`). Pass ``max_bucket_size=None`` for the
    exact uncapped pair set."""
    verified, members, hs = _minhash_verified(
        df, id_col, text_col, n_hashes, n_bands, threshold, portable, collapse_exact,
        max_bucket_size,
    )
    if members is None:
        return verified
    nonempty = hs.where(F.size("sh") > 0).select(F.col(id_col).alias("__rep"))
    expanded = _expand_pairs(
        verified, members, id_col, "jaccard", F.lit(1.0), intra_reps=nonempty
    )
    return expanded.filter(F.col("jaccard") >= threshold)


def _minhash_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    n_bands: int,
    threshold: float,
    portable: bool,
    collapse_exact: bool,
    max_bucket_size: int | None = None,
):
    """Shared MinHash-LSH core: returns (verified representative-level
    pairs, members-or-None, hash-set stage table). Consumers either
    expand pairs to members (`near_dup_pairs_minhash`) or contract them
    to cluster labels (`dedup_clusters`) — the signature/candidate/
    verify stages are identical."""
    df = ensure_parallelism(df, id_col)
    if collapse_exact:
        rep_docs, members = _collapse_exact(df, id_col, text_col)
    else:
        rep_docs, members = df, None
    hs = shingle_hash_sets(rep_docs, id_col, text_col, portable=portable)
    if members is not None:
        # narrow (id, array<long>) stage table consumed by 4 branches
        # (signatures, both verify sides, intra-group filter): compute
        # once, truncate lineage — see _collapse_exact docstring
        hs = hs.localCheckpoint(eager=True)
    sigs = _signature_from_hash_sets(hs, id_col, n_hashes)
    if max_bucket_size is not None:
        # the hot-bucket guard adds an extra consumer of the signature
        # fold (the eager oversized-bucket probe, plus the broadcast
        # side when a mega-bucket exists) — materialize the narrow
        # (id, array<long>) signature table once instead of re-folding
        # shingles per consumer; the probe makes this path eager at
        # construction regardless, so the checkpoint adds no new
        # contract (applies with or without the collapse pre-pass —
        # collapse_exact=False would otherwise recompute the whole
        # pipeline for the probe and again for the join)
        sigs = sigs.localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(
        sigs, id_col, n_bands, portable=portable, max_bucket_size=max_bucket_size
    )
    verified = hash_jaccard(cands, hs, id_col).filter(F.col("jaccard") >= threshold)
    return verified, members, hs


def token_hash_sets(
    df: DataFrame, id_col: str, text_col: str = "text", portable: bool = False
) -> DataFrame:
    """(id, th: array<bigint>) distinct per-token hashes — shared
    input for SimHash; tokenizer runs once per doc (see PERF NOTE).
    ``portable=True`` -> 60-bit md5-prefix hashes (DuckDB-identical)."""
    hash_fn = md5_prefix_hash if portable else F.xxhash64
    toks = df.select(id_col, F.array_distinct(_tokens_cheap(F.col(text_col))).alias("_toks"))
    return toks.select(
        id_col, F.transform(F.col("_toks"), lambda x: hash_fn(x)).alias("th")
    )


def simhash(col: Column, bits: int = 64) -> Column:
    """64-bit SimHash of the token set as a bare Column (bigint). For
    DataFrame-level work use `simhash_df` (single-traversal,
    materialized intermediates)."""
    t = F.array_distinct(tokens(normalize_text(col)))
    h = F.transform(t, lambda x: F.xxhash64(x))
    return _simhash_fold(_simhash_bit_sums(h, bits))


def _bit_masks(bits: int = 64) -> Column:
    """array<long> literal [1, 2, 4, ...]; bit 63 (only present when
    bits=64) is the long sign bit (INT64_MIN) — bitwiseAND with it
    still tests the bit correctly."""
    vals = [(1 << i) if i < 63 else -(1 << 63) for i in range(bits)]
    return F.lit(vals).cast("array<bigint>")  # one py4j call (round-12)


def _simhash_bit_sums(h: Column, bits: int = 64) -> Column:
    """One traversal of the token-hash array: accumulator is an
    array<int> of per-bit sign sums, merged via zip_with against a
    literal mask array (shift amounts can't be lambda Columns)."""
    zero = F.array_repeat(F.lit(0), bits)
    masks = _bit_masks(bits)
    bit_vec = lambda hv: F.transform(  # noqa: E731
        masks,
        lambda m: F.when(hv.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
    )
    return F.aggregate(h, zero, lambda acc, hv: F.zip_with(acc, bit_vec(hv), lambda a, b: a + b))


def _simhash_fold(sums: Column, bits: int = 64) -> Column:
    """Fold per-bit sign sums into the final bigint: bit i set iff
    sum > 0. `sums` is referenced once (zip_with) — safe in a lambda."""
    bit_terms = F.zip_with(
        sums,
        _bit_masks(bits),
        lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        bit_terms, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x)
    )


def simhash_df(
    df: DataFrame, id_col: str, text_col: str = "text", portable: bool = False
) -> DataFrame:
    """(id, sh: bigint) SimHash with every intermediate materialized as
    a column: token hashes -> per-bit sums -> folded bigint. Three
    narrow projections, zero shuffles, one pass over each array.
    ``portable=True`` -> 60-bit md5-prefix token hashes and a 60-bit
    SimHash, recomputable bit-for-bit by a DuckDB oracle."""
    bits = 60 if portable else 64
    th = token_hash_sets(df, id_col, text_col, portable=portable)
    sums = th.select(id_col, _simhash_bit_sums(F.col("th"), bits).alias("_sums"))
    # coalesce -> non-nullable: downstream Hamming filters otherwise
    # infer isnotnull(sh) and pushdown inlines this whole fold into a
    # scan filter (see md5_prefix_hash docstring). Null text folds to
    # 0; near-dup callers pre-filter null texts to keep the
    # null-never-pairs semantics.
    return sums.select(
        id_col,
        F.coalesce(_simhash_fold(F.col("_sums"), bits), F.lit(0).cast("long")).alias("sh"),
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    portable: bool = False,
    collapse_exact: bool = True,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """SimHash near-dup pairs: band the hash into 4 chunks (16 bits
    each for the 64-bit hash, 15 for the portable 60-bit one; any pair
    within Hamming<=3 shares at least one exact chunk by pigeonhole),
    bucket-join on chunks, verify with bit_count(xor).

    ``collapse_exact`` (default) runs hashing/bucketing/verify on
    distinct-text representatives and expands pairs back (identical
    text => identical SimHash => Hamming 0, always a chunk candidate)
    — output-identical, cost scales with distinct texts.

    EAGER-CONSTRUCTION CONTRACT: when the collapse pre-pass fires, its
    duplicate-mass probe and stage-table checkpoints execute Spark
    jobs at DataFrame-CONSTRUCTION time (not first action), and the
    collapse decision is frozen against the input as of construction —
    build this plan only against already-written inputs.

    SCALE NOTE: pair output is quadratic in duplicate cluster depth
    (the sf10 probe emitted 1.009B pairs, BASELINE.md); prefer
    `dedup_clusters` at corpus scale — one label row per document.

    ``max_bucket_size`` defaults ON (4096, round 5): oversized chunk
    buckets emit star edges instead of all pairs (recall trade
    documented at `_bucket_candidate_pairs`); pass ``None`` for the
    exact uncapped pair set."""
    verified, members = _simhash_verified(
        df, id_col, text_col, max_hamming, portable, collapse_exact, max_bucket_size
    )
    if members is None:
        return verified
    expanded = _expand_pairs(
        verified, members, id_col, "hamming", F.lit(0).cast("integer")
    )
    return expanded.filter(F.col("hamming") <= max_hamming)


def _simhash_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    portable: bool,
    collapse_exact: bool,
    max_bucket_size: int | None = None,
):
    """Shared SimHash core: returns (verified representative-level
    pairs, members-or-None). Null-text docs are pre-filtered (they
    never pair); `dedup_clusters` re-adds them as singletons."""
    chunk_bits = 15 if portable else 16
    chunk_mask = (1 << chunk_bits) - 1
    # null text never pairs (its SimHash would be null); kept as an
    # explicit cheap scan filter now that simhash_df folds null to 0
    df = df.where(F.col(text_col).isNotNull())
    df = ensure_parallelism(df, id_col)
    if collapse_exact:
        rep_docs, members = _collapse_exact(df, id_col, text_col)
    else:
        rep_docs, members = df, None
    sh = simhash_df(rep_docs, id_col, text_col, portable=portable)
    if members is not None or max_bucket_size is not None:
        # narrow (id, bigint) stage table feeding both self-join sides
        # (and, with the cap on, the eager oversized-bucket probe —
        # which would otherwise re-run the whole SimHash fold once for
        # the probe and again per join side when collapse is off)
        sh = sh.localCheckpoint(eager=True)
    chunks = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        # coalesce -> non-nullable join key: else the
                        # self-join infers isnotnull(chunk) and pushdown
                        # inlines the whole SimHash fold into a scan
                        # filter (see md5_prefix_hash docstring)
                        F.coalesce(
                            F.shiftright("sh", i * chunk_bits).bitwiseAND(F.lit(chunk_mask)),
                            F.lit(-1),
                        ).alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "sh", "c.chunk_id", "c.chunk")
    cands = _bucket_candidate_pairs(
        chunks,
        id_col,
        ["chunk_id", "chunk"],
        payload_cols=("sh",),
        max_bucket_size=max_bucket_size,
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    verified = cands.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
    return verified, members


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    ngram_n: int = 13,
    portable: bool = False,
) -> DataFrame:
    """Benchmark decontamination: ids of training docs sharing ANY word
    ``ngram_n``-gram with the benchmark/eval set (the standard
    pre-training hygiene pass; 13-grams is the usual published choice).

    100 TB shape: the benchmark side is small (eval suites are MBs), so
    its distinct n-gram hashes BROADCAST; the corpus side is one pure
    map (tokenize -> hash n-grams -> explode) feeding a broadcast
    LEFT SEMI join — the corpus text is never shuffled, and only the
    (tiny) matching id set reaches the final distinct. ``portable=True``
    uses the md5-prefix hash so a DuckDB oracle reproduces the match
    set exactly; the scale path is xxhash64.
    """
    docs = ensure_parallelism(docs, id_col)  # hashing is the hot loop
    doc_grams = shingle_hash_sets(docs, id_col, text_col, shingle_n=ngram_n, portable=portable)
    bench = benchmark.select(F.lit(0).alias("__bid"), F.col(bench_text_col).alias("__btext"))
    # explode_OUTER everywhere an expensive array is exploded:
    # InferFiltersFromGenerate gives plain explode a size(arr)>0
    # pre-filter, and predicate pushdown inlines the array's WHOLE
    # defining expression into that filter below the repartition —
    # re-tokenizing per gram PER TOKEN REFERENCE, interpreted, on the
    # scan's few input partitions (observed: one core, ~10^9 regex
    # splits at 500k docs). Gram sets are never empty (truncated-gram
    # rule), so outer is output-identical; null grams can't match the
    # semi join anyway.
    bench_grams = (
        shingle_hash_sets(bench, "__bid", "__btext", shingle_n=ngram_n, portable=portable)
        .select(F.explode_outer("sh").alias("g"))
        .distinct()
    )
    exploded = doc_grams.select(F.col(id_col), F.explode_outer("sh").alias("g"))
    return (
        exploded.join(F.broadcast(bench_grams), "g", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    ngram_n: int = 13,
    portable: bool = False,
) -> DataFrame:
    """The corpus minus every doc flagged by `contaminated_ids` —
    one anti join against the (small) contaminated id set."""
    bad = contaminated_ids(
        docs, benchmark, id_col, text_col, bench_text_col, ngram_n, portable
    )
    return docs.join(bad, id_col, "left_anti")


def dedup_groups(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    max_iters: int = 10,
    algorithm: str = "alternating",
) -> DataFrame:
    """Connected components over near-dup pairs: every document gets
    the MINIMUM id of its duplicate cluster as `group_id` (the keeper;
    singletons keep their own id).

    Two algorithms, identical output:

    - ``"alternating"`` (default): large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14). Each round applies large-star (every node hangs its
      strictly-larger neighbors off the minimum of its closed
      neighborhood) then small-star (every node hangs its smaller
      neighbors and itself off its minimum neighbor); the edge set
      contracts to min-rooted stars in O(log n) rounds REGARDLESS of
      cluster diameter — a 50-hop duplicate chain converges in ~5
      rounds where label propagation needs 50. Each half-round is one
      self-shuffle of the (shrinking) edge list; this is the 100 TB
      default.
    - ``"label"``: iterative min-label propagation — each round joins
      labels across the edge set and takes the min of neighbor labels;
      O(diameter) rounds. Kept for cross-checking (the property test
      pins both algorithms to the same fixpoint).

    Both fail loudly on non-convergence within ``max_iters`` instead of
    returning silently-wrong labels.

    `pairs`: (id_a, id_b) near-dup edges (from MinHash/SimHash/cosine).
    `all_ids`: one row per document id (so singletons appear).
    """
    if algorithm == "alternating":
        return _groups_alternating(pairs, all_ids, id_col, max_iters)
    if algorithm == "label":
        return _groups_label_propagation(pairs, all_ids, id_col, max_iters)
    raise ValueError(f"unknown dedup_groups algorithm: {algorithm!r}")


def _large_star_raw(edges: DataFrame) -> DataFrame:
    """One large-star round over canonical (u > v) edges: for every
    node, connect each strictly-larger neighbor to the minimum of the
    node's closed neighborhood. Output is canonical by construction
    (the new target m <= u < v). One groupBy + one join on the edge
    list — both shuffles on node ids, map-side-combinable min.

    No trailing distinct — exact because the output feeds _small_star
    directly (round 13, guide §2.4 "remove shuffles outright"):
    _small_star's groupBy(u).min is duplicate-insensitive, its leaf
    join only multiplies rows that its own final .distinct() removes,
    and no step in between counts rows. Dropping the intra-round
    distinct removes one full (u,v) hash-aggregate exchange per CC
    round; duplicate multiplicity is bounded by one round (every round
    still ends with _small_star's distinct)."""
    bidir = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = bidir.groupBy("u").agg(F.min("v").alias("m"))
    mins = mins.select("u", F.least("m", F.col("u")).alias("m"))
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over canonical (u > v) edges: for every
    node, connect its smaller neighbors AND itself to its minimum
    neighbor. Leaf-leaf edges need re-canonicalizing (v vs m order is
    data-dependent); the self edge (u, m) is canonical already."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    leaf = (
        edges.join(mins, "u")
        .select(
            F.greatest(F.col("v"), F.col("m")).alias("u"),
            F.least(F.col("v"), F.col("m")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
    )
    return leaf.unionAll(mins.select("u", F.col("m").alias("v"))).distinct()


def _free_local_checkpoint(df: DataFrame) -> None:
    """Deterministically release a localCheckpoint's storage blocks.

    `DataFrame.unpersist()` only touches cacheManager entries, not
    checkpoint RDDs, and waiting for the ContextCleaner means executor
    storage grows with CC rounds on slow-converging graphs. The
    checkpointed RDD is the `rdd` field of the LogicalRDD the
    checkpoint produced — a direct JVM field read, NOT a
    DataFrame->RDD plan conversion (no `.rdd` property)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # best-effort: ContextCleaner frees blocks on GC otherwise


def _groups_alternating(
    pairs: DataFrame, all_ids: DataFrame, id_col: str, max_iters: int
) -> DataFrame:
    # LAZY localCheckpoint + a count() action: one job materializes
    # the checkpoint (count computes every partition) AND yields the
    # edge count the per-round fixpoint test needs (round-12: the
    # eager-checkpoint-then-isEmpty shape paid 2 jobs + 2 exceptAll
    # shuffles per round; this shape pays 1 job + 1 join per round).
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)  # truncate upstream pipeline lineage
    )
    n_edges = edges.count()
    for _ in range(max_iters):
        new_edges = _small_star(_large_star_raw(edges)).localCheckpoint(eager=False)
        # Fixpoint test is EXACT (both sides are distinct sets):
        # |new| == |old| AND new ⊆ old <=> set equality — evaluated as
        # ONE aggregate per round whose job also materializes the lazy
        # checkpoint (the left-join's map stage computes every
        # new_edges partition). A checksum compare would risk a silent
        # wrong-label convergence; this containment test cannot.
        n_new, n_matched = new_edges.join(
            edges.select("u", "v", F.lit(1).alias("__old")), ["u", "v"], "left"
        ).agg(F.count(F.lit(1)), F.count("__old")).first()
        converged = n_new == n_edges and n_matched == n_new
        # new_edges is materialized and the fixpoint test has run: the
        # prior round's checkpoint blocks are dead — free them now so
        # executor storage stays O(1) in rounds, not O(rounds).
        _free_local_checkpoint(edges)
        n_edges, edges = n_new, new_edges
        if converged:
            break
    else:
        raise RuntimeError(
            f"dedup_groups(alternating) did not converge in {max_iters} rounds; "
            "raise max_iters"
        )
    # At the fixpoint the edge set is a union of min-rooted stars:
    # every non-root node carries exactly one (node, component_min) edge.
    star = edges.select(F.col("u").alias("__node"), F.col("v").alias("__grp"))
    return (
        all_ids.select(F.col(id_col).alias("__node"))
        .join(star, "__node", "left")
        .select(
            F.col("__node").alias(id_col),
            F.coalesce("__grp", F.col("__node")).alias("group_id"),
        )
    )


def _groups_label_propagation(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    max_iters: int = 10,
) -> DataFrame:
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = all_ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("group_id"))
    for _ in range(max_iters):
        # min label among each node's neighbors (and itself)
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("group_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("group_id"), F.coalesce(F.col("nbr_min"), F.col("group_id"))
                ).alias("group_id"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # truncate lineage per round
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.group_id") != F.col("o.group_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Loop exhausted max_iters with the last round still changing
        # labels: a duplicate chain longer than max_iters hops would
        # silently get a non-minimum group_id. Fail loudly instead.
        raise RuntimeError(
            f"dedup_groups(label) did not converge in {max_iters} rounds; "
            "raise max_iters (clusters deeper than expected)"
        )
    return labels.select(F.col("node").alias(id_col), "group_id")


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    method: str = "minhash",
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.8,
    max_hamming: int = 3,
    portable: bool = False,
    collapse_exact: bool = True,
    max_iters: int = 10,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Corpus-scale near-dup deduplication with LINEAR output: one
    (id, group_id, is_keeper) row per input document, where group_id
    is the minimum id of the document's near-duplicate cluster and
    is_keeper marks the minimum itself (the reference's exact_dedup
    keeps min-id the same way; min-label keeper selection).

    This is the documented default at 100 TB. The pair-emitting
    pipelines (`near_dup_pairs_*`) are inherently quadratic in
    duplicate cluster depth — the sf10 probe emitted 1.009B SimHash
    PAIRS from 500k docs (BASELINE.md) — while this entry point never
    materializes an intra-cluster pair at any stage:

    1. exact-collapse (adaptive) groups byte-identical texts and keeps
       one representative per distinct text;
    2. LSH candidates + verify run on REPRESENTATIVES only, emitting
       rep-level pairs (bounded by distinct-text near-dup structure,
       not cluster sizes);
    3. connected components (large-star/small-star, O(log n) rounds —
       see `dedup_groups`) contract rep pairs to rep labels;
    4. members join their representative's LABEL (one row each) — the
       expansion that `near_dup_pairs_*` does to pairs happens here to
       labels, so a 10k-copy cluster costs 10k rows, not ~50M.

    Semantics match running CC over the uncollapsed pair pipeline:
    byte-identical nonempty texts always share a cluster (Jaccard 1 /
    Hamming 0 pairs); null-text docs (and, for MinHash, byte-identical
    docs whose shingle set is empty — their uncollapsed Jaccard is 0)
    are singletons. The registry row `dedup_clusters` pins this
    against a DuckDB recursive-CTE oracle over the uncollapsed
    portable pair set.

    EAGER-CONSTRUCTION CONTRACT: same as `near_dup_pairs_*` — the
    collapse probe, stage checkpoints and CC rounds all execute jobs
    at construction time; build against already-written inputs.

    ``max_bucket_size`` (default 4096 — ON here, unlike the pair
    APIs) caps LSH/SimHash bucket population: oversized buckets emit
    representative STAR candidates instead of all pairs, bounding the
    one data-dependent quadratic left in candidate generation (a
    template cluster of near-identical non-byte-identical docs shares
    band/chunk hashes). Verified star edges keep true clusters
    connected through CC; see `_bucket_candidate_pairs` for the recall
    trade. The cap never fires on corpora whose buckets are smaller
    than it, where output is bit-identical to ``None``.
    """
    if method == "minhash":
        verified, members, hs = _minhash_verified(
            df, id_col, text_col, n_hashes, n_bands, threshold, portable, collapse_exact,
            max_bucket_size,
        )
        rep_ids = hs.select(id_col)
        # MinHash-specific: byte-identical docs with EMPTY shingle
        # sets (null text) score Jaccard 0 uncollapsed — their members
        # must NOT inherit a shared label (see _expand_pairs).
        share_reps = hs.where(F.size("sh") > 0).select(F.col(id_col).alias("__rep"))
    elif method == "simhash":
        verified, members = _simhash_verified(
            df, id_col, text_col, max_hamming, portable, collapse_exact, max_bucket_size
        )
        base = df.where(F.col(text_col).isNotNull())
        rep_ids = (
            base.select(id_col)
            if members is None
            else members.select(F.col("__rep").alias(id_col)).distinct()
        )
        share_reps = None  # identical text => Hamming 0, always shared
    else:
        raise ValueError(f"unknown dedup_clusters method: {method!r}")

    rep_labels = dedup_groups(
        verified.select("id_a", "id_b"), rep_ids, id_col, max_iters=max_iters
    )
    if members is None:
        labeled = rep_labels
    else:
        rl = rep_labels.select(F.col(id_col).alias("__rep"), F.col("group_id"))
        if share_reps is not None:
            rl = rl.join(share_reps, "__rep", "left_semi")
        labeled = members.join(rl, "__rep").select(F.col(id_col), "group_id")
    out = (
        df.select(id_col)
        .join(labeled, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("group_id", F.col(id_col)).alias("group_id"),
        )
    )
    return out.withColumn("is_keeper", F.col(id_col) == F.col("group_id"))


# ------------------------------------------ incremental (daily-batch)


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """(id, band, bhash) LSH bucket rows for a corpus — the PERSISTED
    HISTORY STORE of incremental dedup. A 100 TB corpus builds this
    once (and each daily batch appends its own rows after flagging);
    write it via `persist_stage(..., bucket_cols=["band", "bhash"])`
    so every future batch's probe join shuffles ONLY the batch side.

    ``max_bucket_size`` caps degenerate buckets AT BUILD TIME: a
    bucket over the cap keeps only its minimum-id row as a
    representative, so a boilerplate bhash shared by millions of docs
    costs one row in the store and one candidate per probing doc
    instead of a fan-out — the store-side analog of the hot-bucket
    star-edge guard (`_bucket_candidate_pairs`). Batches colliding
    with such a bucket still flag (they verify against the
    representative); only dup-of attribution WITHIN the mega-bucket
    is coarsened. None = exact, unbounded."""
    sig = minhash_signature_portable(df, id_col, text_col, n_hashes, shingle_n) \
        if portable else minhash_signature(df, id_col, text_col, n_hashes, shingle_n)
    banded = band_table(sig, id_col, n_bands, portable)
    if max_bucket_size is None:
        return banded
    w_counts = banded.groupBy("band", "bhash").agg(
        F.count(F.lit(1)).alias("__n"), F.min(id_col).alias("__rep")
    )
    over = w_counts.filter(F.col("__n") > max_bucket_size)
    kept = banded.join(
        F.broadcast(over.select("band", "bhash")), ["band", "bhash"], "left_anti"
    )
    reps = over.select(F.col("__rep").alias(id_col), "band", "bhash")
    return kept.unionByName(reps)


def minhash_signature_portable(
    df: DataFrame, id_col: str, text_col: str = "text", n_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """`minhash_signature` on the md5-prefix 60-bit hash (DuckDB twin)
    — the oracle-checkable variant used by portable pipelines."""
    hs = shingle_hash_sets(df, id_col, text_col, shingle_n, portable=True)
    return _signature_from_hash_sets(hs, id_col, n_hashes)


def dedup_against_history(
    new_docs: DataFrame,
    history_bands: DataFrame,
    history_hash_sets: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Flag a NEW batch's near-dups of an EXISTING corpus — the
    incremental form every production ingest needs: yesterday's 100 TB
    history is NOT re-deduped per day; the daily batch probes the
    persisted band store and verifies against the persisted hash-set
    store. Output: one row per flagged new doc — (id, dup_of =
    minimum matching history id, n_matches). Unflagged docs are
    absent (left-join the batch to keep them).

    Plan shape: batch -> signatures -> band rows (pure map) ->
    equi-join the band store on (band, bhash) -> distinct candidate
    (new, hist) pairs -> hash-set Jaccard verify against the hash-set
    store -> per-new-doc aggregate. With both stores written by
    `persist_stage` (bands bucketed on [band, bhash], hash sets on
    [id]), the only shuffles are the batch's own: history is read
    pre-bucketed on both join keys (plan-asserted in
    tests/test_dedup.py). Within-batch duplicates are a separate
    `near_dup_pairs_minhash`/`dedup_clusters` pass on the batch;
    ids must be disjoint from history ids (new corpora allocate
    monotone ids).

    Same verify semantics as `near_dup_pairs_minhash` (exact Jaccard
    over hashed shingle sets); candidacy requires sharing >=1 of
    n_bands buckets, so recall matches the batch pipeline's for the
    same parameters."""
    nb = minhash_band_table(
        new_docs, id_col, text_col, n_hashes, n_bands, shingle_n, portable,
        max_bucket_size=None,
    )
    cand = (
        nb.alias("n")
        .join(
            history_bands.alias("h"),
            (F.col("n.band") == F.col("h.band")) & (F.col("n.bhash") == F.col("h.bhash")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"), F.col(f"h.{id_col}").alias("id_b")
        )
        .distinct()
    )
    new_sh = shingle_hash_sets(new_docs, id_col, text_col, shingle_n, portable)
    a = new_sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = history_hash_sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    uni = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / F.greatest(uni, F.lit(1.0))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.groupBy(F.col("id_a").alias(id_col)).agg(
        F.min("id_b").alias("dup_of"), F.count(F.lit(1)).alias("n_matches")
    )


# ----------------------------------- exact-substring (token windows)


def window_hash_positions(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 16,
    portable: bool = False,
) -> DataFrame:
    """(id, pos, whash): hash of the ``window``-token window starting
    at 0-based token position pos, ONE ROW PER POSITION — the exact-
    substring dedup primitive (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": repeated ~50-token
    spans, not whole near-dup documents, drive memorization). Same
    hashing discipline as `shingle_hash_sets` (multi-arg hash straight
    from token cells — no window string is built; docs shorter than
    the window hash their one truncated window via null-skipping
    concat_ws, identical in SQL).

    Scale: output is ~one row per corpus TOKEN — the same volume every
    production exact-substring pass (Dolma, RefinedWeb) shuffles. The
    hash keys are uniform, so the downstream groupBy is skew-free."""
    hash_fn = md5_prefix_hash if portable else F.xxhash64
    toks = df.select(id_col, _tokens_cheap(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - window, F.lit(0)))
    ws = F.transform(
        idx, lambda i: hash_fn(*[F.try_element_at(t, i + j + 1) for j in range(window)])
    )
    return toks.select(id_col, F.posexplode(ws).alias("pos", "whash"))


def repeated_window_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 16,
    min_docs: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Positions of token windows that recur in >= ``min_docs``
    DISTINCT documents: (id, pos, whash, n_docs). Pipelines mask or
    cut these spans (they are the memorization surface the doc-level
    near-dup passes cannot see — two mostly-different docs sharing one
    boilerplate paragraph). Two shuffles, both on uniform hash keys:
    count-distinct per window hash, then the flag join back."""
    wh = window_hash_positions(df, id_col, text_col, window, portable)
    rep = (
        wh.groupBy("whash")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return wh.join(rep, "whash").select(id_col, "pos", "whash", "n_docs")


def substring_repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 16,
    min_docs: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Per-doc exact-substring exposure: (id, n_windows,
    n_repeated_windows, repeated_frac) where a window counts as
    repeated when it appears in >= ``min_docs`` distinct docs. The
    doc-level gate form of `repeated_window_spans` (drop or re-rank
    docs above a repeated_frac threshold); same two uniform-key
    shuffles plus the per-doc aggregate."""
    wh = window_hash_positions(df, id_col, text_col, window, portable)
    rep = (
        wh.groupBy("whash")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("whash")
    )
    flagged = wh.join(rep.withColumn("__rep", F.lit(1)), "whash", "left")
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.coalesce(F.col("__rep"), F.lit(0))).cast("long").alias("n_repeated_windows"),
        (
            F.sum(F.coalesce(F.col("__rep"), F.lit(0)))
            / F.count(F.lit(1))
        ).alias("repeated_frac"),
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 16,
    min_docs: int = 2,
    portable: bool = False,
) -> DataFrame:
    """The TRANSFORM `repeated_window_spans` implies: cut every
    repeated ``window``-token span out of each document and re-emit
    the cleaned text (Lee et al. 2022 — removing the repeated
    substrings, not just flagging them, is what reduces memorization).
    Overlapping/adjacent flagged windows merge into maximal spans; a
    span covers tokens [pos, pos + window) for every flagged pos.

    Window hashes are computed on the NORMALIZED token stream (the
    dedup family's lower+\\s+ tokenizer, so two spans differing only
    in case still match), but removal applies to the ORIGINAL-case
    token stream — the two splits are position-aligned by
    construction. Reconstruction joins surviving tokens with single
    spaces: an unflagged document round-trips to exactly
    ' '.join(text.split()) (whitespace-normalized, case preserved).

    Shape: the two uniform-hash-key shuffles of
    `repeated_window_spans` plus one groupBy(id) to gather each doc's
    flagged positions; the cut itself is pure per-doc Column work
    (index-aware filter + exists over the position list — no Python,
    no extra shuffle). Flagged-position lists are bounded by doc
    length, so per-doc cost is O(tokens x flagged) worst case and
    ~O(tokens) on real corpora where flags are sparse.

    Output: (id, n_tokens, n_removed, n_spans, cleaned)."""
    flagged = repeated_window_spans(
        df, id_col, text_col, window, min_docs, portable
    ).select(id_col, "pos")
    return _cut_flagged_positions(df, id_col, text_col, flagged, window)


def _cut_flagged_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    flagged: DataFrame,
    window: int,
) -> DataFrame:
    """Shared removal tail for the exact-substring family: gather each
    doc's flagged window-start positions, interval-union overlapping/
    adjacent windows into maximal spans, cut those token ranges out of
    the ORIGINAL-case split, and re-emit
    (id, n_tokens, n_removed, n_spans, cleaned). One groupBy(id) to
    gather positions; the cut itself is pure per-doc Column work."""
    w = F.lit(window)
    ps = flagged.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("_ps")
    )
    orig = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), orig.alias("_ot"))
    j = base.join(ps, id_col, "left").withColumn(
        "_ps", F.coalesce(F.col("_ps"), F.array().cast("array<int>"))
    )
    pcol = F.col("_ps")

    def _removed(i):
        return F.exists(pcol, lambda p: (p <= i) & (i < p + w))

    kept = F.filter(F.col("_ot"), lambda x, i: ~_removed(i))
    # a flagged pos STARTS a maximal span iff no earlier flagged pos
    # reaches it (q + window >= p would make the removed regions
    # contiguous)
    starts = F.filter(
        pcol, lambda p: ~F.exists(pcol, lambda q: (q < p) & (q + w >= p))
    )
    return j.select(
        id_col,
        F.size("_ot").cast("long").alias("n_tokens"),
        (F.size("_ot") - F.size(kept)).cast("long").alias("n_removed"),
        F.size(starts).cast("long").alias("n_spans"),
        F.array_join(kept, " ").alias("cleaned"),
    )


def exact_substring_positions(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_len: int = 50,
    portable: bool = False,
) -> DataFrame:
    """ExactSubstr candidate table (Lee et al. 2022 §4.1, the
    suffix-array pass of "Deduplicating Training Data Makes Language
    Models Better", re-expressed as a sorted-fingerprint shuffle):
    one row per token position whose ``min_len``-token window is
    duplicated ANYWHERE in the corpus — in another document or later
    in the SAME document (occurrence count, NOT the distinct-doc
    count `repeated_window_spans` uses; self-repetition is exactly
    what the distinct-doc form cannot see). Output
    (id, pos, whash, n_occurrences, is_canonical) where the CANONICAL
    occurrence of each window value is the globally first one
    (smallest id, then smallest pos) — the copy `exact_substring_dedup`
    keeps when keep_first is set.

    A duplicated span of L >= min_len tokens contributes its
    L - min_len + 1 window positions, which interval-union back to
    exactly [pos, pos + L) downstream — the standard windowed
    equivalent of the paper's length-threshold suffix-array match.
    Docs shorter than min_len hash one truncated window (the
    window_hash_positions contract), so byte-identical short docs
    still register as duplicated; partial matches shorter than
    min_len never do.

    Scale: one row per corpus token; the per-hash aggregate is
    map-side combinable (count + min(struct)) so boilerplate hashes
    shared by millions of positions never skew a join — the flag
    join back is against the ONE-ROW-PER-HASH aggregate.

    Reference: malstrom-core exact-substring surface (the same
    min_len=50 operating point the paper ships)."""
    wh = window_hash_positions(df, id_col, text_col, min_len, portable)
    canon = (
        wh.groupBy("whash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__c"),
        )
        .where(F.col("n_occurrences") >= 2)
    )
    return wh.join(canon, "whash").select(
        id_col,
        "pos",
        "whash",
        "n_occurrences",
        (
            (F.col(f"__c.{id_col}") == F.col(id_col))
            & (F.col("__c.pos") == F.col("pos"))
        ).alias("is_canonical"),
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_len: int = 50,
    keep_first: bool = True,
    portable: bool = False,
) -> DataFrame:
    """Cross-document ExactSubstr dedup (Lee et al. 2022): cut every
    duplicated >= ``min_len``-token span, keeping the corpus's FIRST
    occurrence (smallest id, then position) when ``keep_first`` —
    the content-preserving form: exactly one copy of every duplicated
    passage survives somewhere. With keep_first=False every
    occurrence is cut (the paper's released tool's behavior, which
    removes slightly more than needed but guarantees no duplicated
    span remains anywhere).

    Differs from `remove_repeated_spans` in both triggers and policy:
    duplication is counted by OCCURRENCE (a span repeated twice
    within one doc is cut — the distinct-doc form is blind to it)
    and the canonical copy is spared. When sharing sets overlap
    (three docs sharing staggered sub-spans), each window
    independently spares its own globally-first occurrence, so the
    kept copy can be split across docs at the overlap boundary —
    deterministic, and never keeps more than one copy per window.

    Shape: the window-hash shuffle (one row per token, uniform
    keys), one map-side-combinable per-hash aggregate, the flag join
    back, then `remove_repeated_spans`' interval-union cut — three
    uniform-key shuffles plus the per-doc gather, no Python in the
    hot path.

    Output: (id, n_tokens, n_removed, n_spans, cleaned)."""
    occ = exact_substring_positions(df, id_col, text_col, min_len, portable)
    if keep_first:
        occ = occ.where(~F.col("is_canonical"))
    flagged = occ.select(id_col, "pos")
    return _cut_flagged_positions(df, id_col, text_col, flagged, min_len)


def decontaminate_fuzzy(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """FUZZY benchmark decontamination (the GPT-3 appendix-C /
    FineWeb discipline): flag training documents that are NEAR-dups
    of any evaluation document, not just exact 13-gram hits — the
    channel `decontaminate`'s exact n-gram match cannot see
    (paraphrased or lightly-edited benchmark leakage).

    Composition of the incremental-dedup machinery with the eval set
    playing the history corpus: eval docs band into a (band, bhash)
    store (tiny — benchmark-sized — so the probe join broadcasts),
    train docs probe it, candidates verify by exact shingle-set
    Jaccard against the eval hash sets. Returns ONE ROW PER TRAIN
    DOC: (id, is_contaminated, matched_eval = min matching eval id
    or NULL, n_matches) — filter on ~is_contaminated for the kept
    corpus, keep the flagged rows for the contamination report.

    Train-side cost is exactly one banding pass + one bounded probe;
    the 100 TB train corpus never self-joins."""
    bands = minhash_band_table(
        eval_docs, id_col, text_col, n_hashes, n_bands, shingle_n, portable,
        max_bucket_size=None,
    )
    hsets = shingle_hash_sets(eval_docs, id_col, text_col, shingle_n, portable)
    flagged = dedup_against_history(
        train, bands, hsets, id_col, text_col, threshold,
        n_hashes, n_bands, shingle_n, portable,
    )
    return train.select(id_col).join(flagged, id_col, "left").select(
        id_col,
        F.col("dup_of").isNotNull().alias("is_contaminated"),
        F.col("dup_of").alias("matched_eval"),
        F.coalesce(F.col("n_matches"), F.lit(0).cast("long")).alias("n_matches"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
    max_bucket_size: int | None = 4096,
    collapse_exact: bool = True,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle-set CONTAINMENT —
    |A ∩ B| / |A| — the quote/aggregator/boilerplate-wrapper signal
    symmetric Jaccard cannot see: a short article fully embedded in a
    long aggregator page has containment ~1 but Jaccard ~|A|/|B|,
    below any sane symmetric threshold (the C4/news-dedup use case).

    Output: one row per ORDERED pair (contained_id, container_id,
    containment DOUBLE, jaccard DOUBLE) with containment >= threshold
    (both directions of a candidate pair are tested; a true mutual
    near-dup emits both orders).

    Candidates come from the SAME MinHash band store as
    `near_dup_pairs_minhash` (shared discipline incl. the hot-bucket
    cap), so recall follows the Jaccard banding curve: a containment
    pair with tiny Jaccard (|A| << |B|) may not share a band — the
    documented MinHash-LSH blind spot; size-stratified banding is the
    escalation when that tail matters. Verification is exact set
    arithmetic over the hashed shingle sets.

    ``collapse_exact`` (default ON, the near_dup_pairs_minhash
    discipline): byte-identical texts collapse to one representative
    before signatures/candidates/verify and the output expands back —
    provably identical rows (identical text => identical shingle set
    => candidacy and both containment directions are exactly 1.0, one
    exact division of equal integers), adaptively skipped when the
    duplicate mass is negligible (`_collapse_exact` probe). Without
    it, duplicate-cluster depth makes the verify join quadratic: the
    round-12 sf100 probe (1000x replicas) SPILLED THE DISK shuffling
    shingle arrays for intra-cluster candidate pairs before this
    pre-pass existed."""
    src = df
    members = None
    if collapse_exact:
        src, members = _collapse_exact(df, id_col, text_col)
    bands = minhash_band_table(
        src, id_col, text_col, n_hashes, n_bands, shingle_n, portable,
        max_bucket_size=None,
    )
    cand = _bucket_candidate_pairs(
        bands, id_col, ["band", "bhash"], max_bucket_size=max_bucket_size
    )
    sh = shingle_hash_sets(src, id_col, text_col, shingle_n, portable)
    if members is not None:
        # narrow (id, array<long>) stage table consumed by both verify
        # sides + the intra-group filter: compute once
        sh = sh.localCheckpoint(eager=True)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    uni = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    sized = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            inter.alias("__i"), uni.alias("__u"),
            F.size("sh_a").cast("double").alias("__na"),
            F.size("sh_b").cast("double").alias("__nb"),
        )
    )
    t = F.lit(float(threshold))
    # ONE pass over the verified pairs: both direction rows explode
    # from the same computed row — a unionByName of two selects would
    # duplicate the whole candidate-join + set-arithmetic subtree
    # (ReuseExchange shares shuffles but not post-join projections),
    # doubling the expensive verify at corpus scale
    ca = F.col("__i") / F.greatest(F.col("__na"), F.lit(1.0))
    cb = F.col("__i") / F.greatest(F.col("__nb"), F.lit(1.0))
    jac = F.col("__i") / F.greatest(F.col("__u"), F.lit(1.0))
    both = sized.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    ca.alias("containment"),
                    jac.alias("jaccard"),
                ),
                F.struct(
                    F.col("id_b").alias("contained_id"),
                    F.col("id_a").alias("container_id"),
                    cb.alias("containment"),
                    jac.alias("jaccard"),
                ),
            )
        ).alias("__r")
    )
    out = both.select("__r.*").where(F.col("containment") >= t)
    if members is None:
        return out
    # expand representative-level ORDERED pairs back to member level:
    # candidacy and both scores are pure functions of the text, so
    # every (contained member, container member) combination inherits
    # its rep pair's row verbatim
    ma = members.select(
        F.col("__rep").alias("__rc"), F.col(id_col).alias("__idc")
    )
    mb = members.select(
        F.col("__rep").alias("__rk"), F.col(id_col).alias("__idk")
    )
    inter = (
        out.join(ma, F.col("contained_id") == F.col("__rc"))
        .join(mb, F.col("container_id") == F.col("__rk"))
        .select(
            F.col("__idc").alias("contained_id"),
            F.col("__idk").alias("container_id"),
            "containment", "jaccard",
        )
    )
    if threshold > 1.0:
        return inter  # intra pairs score exactly 1.0 — below threshold
    # intra-group ordered pairs (x != y, both directions): identical
    # NON-EMPTY shingle sets score containment = jaccard = 1.0 exactly
    # in the uncollapsed pipeline; empty-set twins score 0/1 = 0.0
    # there, so they must not be emitted here either
    nonempty = sh.where(F.size("sh") > 0).select(F.col(id_col).alias("__rc"))
    intra = (
        ma.join(nonempty, "__rc", "left_semi")
        .join(mb, (F.col("__rc") == F.col("__rk")) & (F.col("__idc") != F.col("__idk")))
        .select(
            F.col("__idc").alias("contained_id"),
            F.col("__idk").alias("container_id"),
            F.lit(1.0).alias("containment"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return inter.unionByName(intra)
