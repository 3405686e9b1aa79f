"""Fuzzy record linkage — find all pairs of records whose key strings
are within a bounded edit distance, without ever forming the
quadratic cross product. The blocker is the symmetric-delete
(SymSpell / FastSS) neighborhood: two strings s, t with
levenshtein(s, t) <= d ALWAYS share at least one member of their
<=d-character-deletion neighborhoods, so an equi-join on deletion
variants is a COMPLETE candidate generator — the final
`levenshtein() <= d` verify makes the output exactly the set a naive
cross join would produce, which is why the registry oracle IS the
naive cross join (the blocker is invisible in the answer, like the
histogram in cap_per_key_skew_safe and the sketch in heavy_hitters).

The reference engine has no linkage operator; this fills the entity-
resolution step of a training-data pipeline (merging near-identical
author/source/site records before per-entity caps and dedup) with
the same bucketed-candidates-then-verify architecture as the MinHash
family (functions/dedup.py).

Physical shape (100 TB):
- variant generation is pure Column work (nested `transform` +
  `flatten` over substrings — zero Python, fuses into the scan);
  a string of length L yields 1 + L + L(L-1)/2 variants at d=2,
  so the exploded relation is ~L²/2 rows per record — linear in
  the corpus, never quadratic;
- candidates come from ONE equi-join shuffle keyed on the variant;
  bucket sizes are bounded by how many records share a deletion
  variant (AQE skew-join splits oversized buckets);
- verify runs once per DISTINCT candidate pair, after a distinct
  that collapses the (common) multi-variant duplicates.

`prefix_len` truncates strings before variant generation (the
SymSpell prefix optimization): variant counts stop growing with
string length, at the cost of completeness beyond the prefix — only
pairs that already agree on everything after the prefix are then
guaranteed. Leave it None (default) for the exact contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _one_deletion(v: Column) -> Column:
    """Array of every string formed by deleting exactly one character
    of v (empty array for the empty string)."""
    n = F.length(v)
    gen = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            F.substring(v, F.lit(1), i - 1),
            F.substring(v, i + 1, F.length(v)),
        ),
    )
    return F.when(n >= 1, gen).otherwise(F.array().cast("array<string>"))


def deletion_neighborhood(col: Column, max_distance: int = 2) -> Column:
    """All distinct strings reachable from `col` by deleting at most
    `max_distance` characters (including col itself). Pure Column
    expression — no UDF, no shuffle."""
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    level = F.array(col)
    out = level
    for _ in range(max_distance):
        level = F.array_distinct(F.flatten(F.transform(level, _one_deletion)))
        out = F.array_union(out, level)
    return out


def _norm(df: DataFrame, id_col: str, s_col: str, lowercase: bool) -> DataFrame:
    s = F.col(s_col)
    if lowercase:
        s = F.lower(s)
    return df.where(F.col(s_col).isNotNull()).select(
        F.col(id_col).alias("__id"), s.alias("__s")
    )


def _variant_hashes(norm: DataFrame, d: int, prefix_len: int | None) -> DataFrame:
    """(id, 64-bit variant hash). Hashing the variants (xxhash64)
    cuts the candidate shuffle to fixed-width longs — a hash
    collision can only ADD a candidate pair, and the levenshtein
    verify kills it, so exactness is unaffected."""
    key_src = F.substring(F.col("__s"), 1, prefix_len) if prefix_len else F.col("__s")
    return norm.select(
        "__id",
        F.explode(deletion_neighborhood(key_src, d)).alias("__v"),
    ).select("__id", F.xxhash64("__v").alias("__h"))


def _verified(cand: DataFrame, names_l: DataFrame, names_r: DataFrame,
              l_id: str, r_id: str, d: int) -> DataFrame:
    """Join the (small-per-pair) distinct id pairs back to their
    strings and verify. Strings never ride through the candidate
    shuffle — only (id, id) pairs do."""
    out = (
        cand.join(names_l, l_id)
        .join(names_r, r_id)
    )
    dist = F.levenshtein(F.col("s_l"), F.col("s_r"))
    return out.where(dist <= d).select(
        l_id, r_id, "s_l", "s_r", dist.cast("long").alias("dist")
    )


def _self_pairs_core(
    norm: DataFrame, max_distance: int, prefix_len: int | None
) -> DataFrame:
    """Verified (id_l, id_r, s_l, s_r, dist) self-pairs over a
    normalized (__id, __s) frame: variant-hash candidates, two name
    lookups, one levenshtein verify per distinct pair."""
    v = _variant_hashes(norm, max_distance, prefix_len)
    cand = (
        v.select(F.col("__id").alias("id_l"), "__h")
        .join(v.select(F.col("__id").alias("id_r"),
                       F.col("__h").alias("__h2")),
              (F.col("__h") == F.col("__h2"))
              & (F.col("id_l") < F.col("id_r")))
        .select("id_l", "id_r")
        .distinct()
    )
    names_l = norm.select(F.col("__id").alias("id_l"), F.col("__s").alias("s_l"))
    names_r = norm.select(F.col("__id").alias("id_r"), F.col("__s").alias("s_r"))
    return _verified(cand, names_l, names_r, "id_l", "id_r", max_distance)


def fuzzy_entity_edges(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_distance: int = 2,
    prefix_len: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """CC-SUFFICIENT fuzzy-match edge set (id_a, id_b): rep-level
    verified pairs over DISTINCT normalized keys plus (rep, member)
    star edges for collapsed identical keys — feed `dedup_groups`
    for entity resolution at corpus scale.

    Connected components over these edges equal components over the
    full member-level pair set (`fuzzy_self_pairs`): members of an
    identical-key cluster are mutually connected through their rep
    star edges, and any member-level cross edge (x, y) exists iff
    the rep edge (rep(x), rep(y)) is here (candidacy and the verify
    are pure functions of the normalized strings). Edge count is
    LINEAR in corpus size plus pairs over distinct keys — the
    member-level pair list is quadratic in copy-cluster depth by
    contract (a 1000-deep name cluster alone is 500k pairs), which
    is the wrong input to iterated CC shuffles; this is the same
    rep-level contraction `dedup_clusters` applies to MinHash
    near-dup groups. min_dup_ratio=0 keeps the contraction on for any
    duplicate mass, with no probe job; below the gate's input-size
    floor (round-12 session 4) the collapse is skipped and
    CC runs on member-level pairs — components identical, and at such
    sizes the quadratic term cannot bite."""
    from .dedup import _collapse_exact

    norm = _norm(df, id_col, s_col, lowercase)
    rep_norm, members = _collapse_exact(norm, "__id", "__s", min_dup_ratio=0.0)
    if members is None:  # empty input
        rep_norm, members = norm, None
    pairs = _self_pairs_core(rep_norm, max_distance, prefix_len).select(
        F.col("id_l").alias("id_a"), F.col("id_r").alias("id_b")
    )
    if members is None:
        return pairs
    stars = members.where(F.col("__id") != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col("__id").alias("id_b")
    )
    return pairs.unionByName(stars)


def fuzzy_self_pairs(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_distance: int = 2,
    prefix_len: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """All unordered pairs (id_l < id_r) of rows whose `s_col` values
    are within `max_distance` edits. Output: id_l, id_r, s_l, s_r,
    dist (BIGINT). Exact (equals the cross-join answer) when
    prefix_len is None.

    Shuffle diet: candidates are generated as (id, id) pairs joined
    on 8-byte variant HASHES (strings stay out of the equi-join and
    the distinct entirely — near-identical strings share ~L²/2
    variants, so every byte carried per candidate row is multiplied
    by that duplication factor); the two name lookups and the
    levenshtein verify run once per DISTINCT pair.

    Exact-copy collapse (the dedup-family discipline): rows with
    IDENTICAL normalized strings collapse to one representative before
    variant generation and the output expands back — provably
    identical rows (candidacy, the verify and both string columns are
    pure functions of the normalized string; identical strings are
    always within any max_distance >= 0 at dist 0). The scale gate
    (`scale.collapse_exact_groups`) skips it on small inputs and when
    the duplicate mass is negligible. Without it, duplicated keys make
    the variant join quadratic per copy cluster: a 1000-deep
    identical-name cluster shares ALL ~L²/2 variants, so each variant
    bucket alone yields 500k candidate rows — the round-12 sf100
    probe's entity-resolution wall (replica names are 1000-deep by
    construction, and real corpora duplicate author/site names just
    the same)."""
    from .dedup import _collapse_exact

    norm, members = _collapse_exact(_norm(df, id_col, s_col, lowercase), "__id", "__s")
    pairs = _self_pairs_core(norm, max_distance, prefix_len)
    if members is None:
        return pairs
    # expand representative-level pairs back to member level. The
    # id_l < id_r order must hold on MEMBER ids, and each string
    # column follows its id's group, so a swapped pair swaps strings.
    ma = members.select(F.col("__rep").alias("__rl"), F.col("__id").alias("__il"))
    mb = members.select(F.col("__rep").alias("__rr"), F.col("__id").alias("__ir"))
    swap = F.col("__il") > F.col("__ir")
    inter = (
        pairs.join(ma, F.col("id_l") == F.col("__rl"))
        .join(mb, F.col("id_r") == F.col("__rr"))
        .select(
            F.least("__il", "__ir").alias("id_l"),
            F.greatest("__il", "__ir").alias("id_r"),
            F.when(swap, F.col("s_r")).otherwise(F.col("s_l")).alias("s_l"),
            F.when(swap, F.col("s_l")).otherwise(F.col("s_r")).alias("s_r"),
            "dist",
        )
    )
    # intra-group pairs: identical normalized strings, dist exactly 0
    reps_s = norm.select(F.col("__id").alias("__rl"), F.col("__s").alias("__rs"))
    intra = (
        ma.join(reps_s, "__rl")
        .join(mb, (F.col("__rl") == F.col("__rr")) & (F.col("__il") < F.col("__ir")))
        .select(
            F.col("__il").alias("id_l"),
            F.col("__ir").alias("id_r"),
            F.col("__rs").alias("s_l"),
            F.col("__rs").alias("s_r"),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    return inter.unionByName(intra)


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    prefix_len: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """Two-table linkage: every (left, right) pair within
    `max_distance` edits. Output: <left_id>, <right_id>, s_l, s_r,
    dist. Same completeness contract (and shuffle diet) as
    fuzzy_self_pairs, including the exact-copy collapse: each side's
    identical normalized keys collapse independently, the candidate
    join runs rep x rep, and every (left member, right member)
    combination inherits its rep pair verbatim (pure-function-of-
    the-strings argument; the scale gate decides per side)."""
    from .dedup import _collapse_exact

    ln, lm = _collapse_exact(_norm(left, left_id, left_col, lowercase), "__id", "__s")
    rn, rm = _collapse_exact(_norm(right, right_id, right_col, lowercase), "__id", "__s")
    lv = _variant_hashes(ln, max_distance, prefix_len)
    rv = _variant_hashes(rn, max_distance, prefix_len)
    cand = (
        lv.select(F.col("__id").alias(left_id), "__h")
        .join(rv.select(F.col("__id").alias(right_id),
                        F.col("__h").alias("__h2")),
              F.col("__h") == F.col("__h2"))
        .select(left_id, right_id)
        .distinct()
    )
    names_l = ln.select(F.col("__id").alias(left_id), F.col("__s").alias("s_l"))
    names_r = rn.select(F.col("__id").alias(right_id), F.col("__s").alias("s_r"))
    pairs = _verified(cand, names_l, names_r, left_id, right_id, max_distance)
    if lm is not None:
        pairs = (
            pairs.withColumnRenamed(left_id, "__rep")
            .join(lm, "__rep")
            .drop("__rep")
            .withColumnRenamed("__id", left_id)
        )
    if rm is not None:
        pairs = (
            pairs.withColumnRenamed(right_id, "__rep")
            .join(rm, "__rep")
            .drop("__rep")
            .withColumnRenamed("__id", right_id)
        )
    return pairs.select(left_id, right_id, "s_l", "s_r", "dist")
