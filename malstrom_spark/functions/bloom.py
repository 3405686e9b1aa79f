"""Distributed Bloom filter — a DataFrame-native, mergeable
approximate-membership structure, and the bloom-prefiltered
decontamination pass built on it.

Why this exists at 100 TB: `contaminated_ids` (dedup.py) broadcasts
the benchmark's DISTINCT gram-hash set. That is right while eval
suites are MBs, but a multi-benchmark blocklist (every eval suite +
held-out shards + customer opt-outs) reaches billions of grams —
too big to broadcast as an exact set. A Bloom filter compresses the
set to n_bits total (1% FP at ~10 bits/element), broadcasts in KBs-
MBs, and prunes the corpus map-side; the few candidate hits are then
verified against the exact set, so FALSE POSITIVES NEVER REACH THE
OUTPUT — the filter is invisible in the answer (same architecture as
the histogram in cap_per_key_skew_safe and the MG sketch in
heavy_hitters), which is why the registry row reuses the exact
decontamination oracle verbatim.

Representation: the filter is a plain DataFrame of (word_idx INT,
word BIGINT) — the non-zero 64-bit words of the bit array. That
makes it mergeable (union + bit_or re-group = the OR of the filters,
exactly how per-shard filters combine on a cluster), persistable as
parquet, and buildable with ONE aggregation whose partial combine
ORs map-side (at most n_bits/64 rows per task cross the shuffle,
regardless of input size). Probing is size-dispatched (`bloom_probe`):
up to BLOOM_LITERAL_MAX_BITS (2^18 — the MEASURED crossover, see the
constant) the words densify into one array literal evaluated as k
`element_at` + bitwiseAND codegen probes per row; above it, the words
ship once per executor as a broadcast numpy array probed in a single
Arrow-batched pandas_udf stage — big array literals are heavy per-row
plan nodes, so the broadcast path is FASTER beyond the crossover, not
just feasible.

Bit layout: position_i(x) = pmod(xxhash64(x, seed, i), n_bits),
word_idx = pos div 64, mask = 1 << (pos mod 64). xxhash64 keeps
build and probe JVM-side; the filter never needs an engine-portable
hash because it never touches an oracle-visible value.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _check(n_bits: int, n_hashes: int) -> None:
    if n_bits < 64 or n_bits % 64 != 0:
        raise ValueError("n_bits must be a positive multiple of 64")
    if not 1 <= n_hashes <= 32:
        raise ValueError("n_hashes must be in [1, 32]")


def _pos(col: Column, i: Column | int, n_bits: int, seed: int) -> Column:
    return F.pmod(F.xxhash64(col, F.lit(seed), i), F.lit(n_bits))


def bloom_build(
    df: DataFrame,
    col: str | Column,
    n_bits: int,
    n_hashes: int = 7,
    seed: int = 0,
) -> DataFrame:
    """Build the filter over every (non-null) value of `col`: returns
    the sparse (word_idx, word) DataFrame. One aggregation; the
    partial bit_or combines map-side, so shuffle volume is capped at
    n_bits/64 rows per task however large the input."""
    _check(n_bits, n_hashes)
    c = F.col(col) if isinstance(col, str) else col
    pos = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda i: _pos(c, i, n_bits, seed),
        )
    ).alias("__pos")
    return (
        df.where(c.isNotNull())
        .select(pos)
        .select(
            (F.col("__pos") / 64).cast("int").alias("word_idx"),
            # call_function, not F.shiftleft: the builtin only takes a
            # Python-int shift, and the shift here is a Column
            F.call_function("shiftleft", F.lit(1).cast("long"), (F.col("__pos") % 64).cast("int")).alias("__m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__m").alias("word"))
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """OR together filters built with the SAME (n_bits, n_hashes,
    seed) — e.g. per-day or per-shard filters combined into the
    global blocklist without touching the original data."""
    if not filters:
        raise ValueError("bloom_merge needs at least one filter")
    u = filters[0]
    for f in filters[1:]:
        u = u.unionByName(f)
    return u.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


# Above this many bits the densified filter stops being a sane plan
# literal and probing dispatches to a broadcast-variable numpy array +
# Arrow-batched pandas_udf instead. Unlike the ANN kernels, whose
# literal engines lost at every size and are deleted, the literal
# probe wins below the crossover, so the gate stays. The threshold is
# MEASURED, not guessed (BASELINE.md round-9): on a 6M-row prune the
# literal probe costs 1.7-1.9 s at 2^14-2^16 bits but 3.3 s at 2^18
# and 9.5 s at 2^20 (a large array literal is a heavy per-row plan
# node), while the broadcast path is flat ~5 s at any size — the
# crossover sits at ~2^18, and the module's own motivation (billions
# of grams => ~10^10 bits) lives far on the broadcast side.
BLOOM_LITERAL_MAX_BITS = 1 << 18


def bloom_words_literal(bloom: DataFrame, n_bits: int) -> Column:
    """Densify the sparse filter into ONE array<long> literal for
    probing. Construction-time collect of <= n_bits/64 rows (the
    filter, not the data) — the same small-collect class as the
    IVF/PQ codebooks. Right for n_bits <= BLOOM_LITERAL_MAX_BITS;
    `bloom_probe` dispatches away from it above that."""
    n_words = n_bits // 64
    dense = [0] * n_words
    for r in bloom.select("word_idx", "word").collect():
        dense[r["word_idx"]] = r["word"]
    return F.lit(dense).cast("array<long>")


def _bloom_dense_numpy(bloom: DataFrame, n_bits: int):
    """Dense int64 word array of the filter (driver-side, bounded by
    n_bits/64 — the filter, never the data)."""
    import numpy as np

    dense = np.zeros(n_bits // 64, dtype=np.int64)
    for r in bloom.select("word_idx", "word").collect():
        dense[r["word_idx"]] = r["word"]
    return dense


def bloom_might_contain_broadcast(
    col: Column,
    bloom: DataFrame,
    n_bits: int,
    n_hashes: int = 7,
    seed: int = 0,
) -> Column:
    """Membership probe for filters too big to be a plan literal: the
    dense word array ships ONCE per executor as a Spark broadcast
    (torrent blocks, not a per-task plan node), bit positions are
    still computed JVM-side (xxhash64 — Python has no twin of Spark's
    hash), and an Arrow-batched pandas_udf checks the k bits against
    the broadcast numpy array. Output-identical to
    `bloom_might_contain` (pytest-pinned); NULL input probes False."""
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    _check(n_bits, n_hashes)
    spark = SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast(_bloom_dense_numpy(bloom, n_bits))

    @pandas_udf("boolean")
    def _probe(positions: pd.Series) -> pd.Series:
        words = bc.value

        def check(ps) -> bool:
            if ps is None:
                return False
            p = np.asarray(ps, dtype=np.int64)
            # arithmetic >> keeps low bits identical to logical, so
            # bit `off` of a signed word is ((w >> off) & 1) verbatim
            return bool(np.all((words[p // 64] >> (p % 64)) & 1))

        return positions.map(check)

    # positions JVM-side; NULL value -> NULL array (Spark's xxhash64
    # SKIPS null inputs rather than returning null, which would
    # otherwise probe junk positions)
    pos_arr = F.when(
        col.isNotNull(),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda i: _pos(col, i, n_bits, seed),
        ),
    )
    return _probe(pos_arr)


def bloom_probe(
    col: Column,
    bloom: DataFrame,
    n_bits: int,
    n_hashes: int = 7,
    seed: int = 0,
    literal_max_bits: int = BLOOM_LITERAL_MAX_BITS,
) -> Column:
    """Size-dispatched membership probe: plan-literal codegen probe up
    to `literal_max_bits`, broadcast-variable pandas_udf probe above
    it. Both are output-identical; callers never pick a mechanism."""
    if n_bits <= literal_max_bits:
        return bloom_might_contain(
            col, bloom_words_literal(bloom, n_bits), n_bits, n_hashes, seed
        )
    return bloom_might_contain_broadcast(col, bloom, n_bits, n_hashes, seed)


def bloom_might_contain(
    col: Column,
    words: Column,
    n_bits: int,
    n_hashes: int = 7,
    seed: int = 0,
) -> Column:
    """Pure-Column membership probe against a densified filter
    (`bloom_words_literal`). True = maybe present (FP rate set by
    sizing); False = definitely absent. NULL input probes false."""
    _check(n_bits, n_hashes)

    def hit(i: Column) -> Column:
        pos = _pos(col, i, n_bits, seed)
        word = F.element_at(words, (pos / 64).cast("int") + 1)
        mask = F.call_function("shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int"))
        return word.bitwiseAND(mask) == mask

    probes = F.forall(F.sequence(F.lit(0), F.lit(n_hashes - 1)), hit)
    return F.when(col.isNotNull(), probes).otherwise(F.lit(False))


def bloom_contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    ngram_n: int = 13,
    n_bits: int = 1 << 17,
    n_hashes: int = 7,
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Exactly `dedup.contaminated_ids`, with a Bloom prefilter in
    front of the exact verify: benchmark gram hashes build the filter
    (one bit_or aggregation), the corpus's exploded grams are pruned
    map-side by the broadcast-free literal probe, and only surviving
    candidates reach the exact broadcast semi join. Output is
    IDENTICAL to the exact pass (FPs die in the verify; the filter
    has no false negatives), so the registry oracle is the exact
    decontamination SQL unchanged."""
    from ..scale import ensure_parallelism
    from .dedup import shingle_hash_sets

    docs = ensure_parallelism(docs, id_col)
    doc_grams = shingle_hash_sets(
        docs, id_col, text_col, shingle_n=ngram_n, portable=portable
    )
    bench = benchmark.select(
        F.lit(0).alias("__bid"), F.col(bench_text_col).alias("__btext")
    )
    bench_grams = (
        shingle_hash_sets(bench, "__bid", "__btext", shingle_n=ngram_n,
                          portable=portable)
        .select(F.explode_outer("sh").alias("g"))
        .distinct()
    )
    filt = bloom_build(bench_grams, "g", n_bits, n_hashes, seed)

    exploded = doc_grams.select(
        F.col(id_col), F.explode_outer("sh").alias("g")
    )
    candidates = exploded.where(
        bloom_probe(F.col("g"), filt, n_bits, n_hashes, seed)
    )
    return (
        candidates.join(F.broadcast(bench_grams), "g", "left_semi")
        .select(id_col)
        .distinct()
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    **kwargs,
) -> DataFrame:
    """The corpus minus every contaminated doc, bloom-prefiltered."""
    bad = bloom_contaminated_ids(docs, benchmark, id_col, **kwargs)
    return docs.join(bad, id_col, "left_anti")


def bloom_filtered_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    how: str = "inner",
    n_bits: int = 1 << 18,
    n_hashes: int = 7,
    seed: int = 0,
) -> DataFrame:
    """The classic distributed bloom join (runtime-filter pushdown):
    build a Bloom filter over the dimension's join keys, prune fact
    rows MAP-SIDE before they reach the join's shuffle, then run the
    real join — output is identical to the plain join (the join
    itself eliminates bloom false positives; the filter has no false
    negatives), so the registry oracle is the plain join SQL.

    Why it matters at 100 TB: when a selective dimension (after its
    own filters) joins a huge fact, the plain plan shuffles EVERY
    fact row; here the fact side drops non-matching rows at the scan,
    shrinking the shuffle by the dimension's selectivity — the same
    idea as Spark's own runtime-filter feature, but available to any
    build side and persistable/mergeable like every filter in this
    module. Only inner/left_semi joins are eligible (outer joins need
    the non-matching rows).

    The default n_bits (2^18, ~26k dim keys at 10 bits/key) sits AT
    the literal/broadcast crossover deliberately: default callers keep
    the pure-JVM codegen probe (no pandas/pyarrow executor dependency
    in the default path); size n_bits up consciously for bigger dims
    and the probe dispatches to the broadcast path (faster there, but
    an Arrow stage)."""
    if how not in ("inner", "left_semi", "semi", "leftsemi"):
        raise ValueError(
            f"bloom_filtered_join: '{how}' would drop required rows — "
            "only inner/left_semi joins can prefilter the fact side"
        )
    dk = dim_key or fact_key
    # xxhash64 is TYPE-sensitive: hashing an int dim key but probing a
    # bigint fact key yields disjoint bit positions — silent false
    # negatives that drop matching rows. Integral keys are therefore
    # hashed through a common long cast on BOTH sides; other type
    # mismatches are rejected rather than silently mis-probed.
    ft = dict(fact.dtypes)[fact_key]
    dt = dict(dim.dtypes)[dk]
    ints = {"tinyint", "smallint", "int", "bigint"}
    if ft in ints and dt in ints:
        build_col = F.col(dk).cast("long")
        probe_col = F.col(fact_key).cast("long")
    elif ft == dt:
        build_col = F.col(dk)
        probe_col = F.col(fact_key)
    else:
        raise ValueError(
            f"bloom_filtered_join: key types differ ({fact_key}:{ft} vs "
            f"{dk}:{dt}) — xxhash64 is type-sensitive; cast them equal first"
        )
    filt = bloom_build(dim.select(build_col.alias(dk)), dk, n_bits, n_hashes, seed)
    pruned = fact.where(
        bloom_probe(probe_col, filt, n_bits, n_hashes, seed)
    )
    if dim_key and dim_key != fact_key:
        return pruned.join(dim, pruned[fact_key] == dim[dim_key], how)
    return pruned.join(dim, fact_key, how)
