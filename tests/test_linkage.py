"""Fuzzy record linkage (functions/linkage.py): the symmetric-delete
blocker must be COMPLETE for levenshtein <= d — output identical to
the brute-force cross join."""

import random

import pytest

from pyspark.sql import functions as F

from malstrom_spark.functions.linkage import (
    deletion_neighborhood,
    fuzzy_join,
    fuzzy_self_pairs,
)


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_neighborhood_includes_self_and_empty(spark):
    df = spark.createDataFrame([("abc",), ("",)], "s string")
    got = df.select(
        deletion_neighborhood(F.col("s"), 2).alias("v")).collect()
    assert set(got[0]["v"]) == {"abc", "ab", "ac", "bc", "a", "b", "c"}
    assert got[1]["v"] == [""]  # self at 0 deletions, nothing else


def test_self_pairs_equal_brute_force(spark):
    rng = random.Random(8)
    alphabet = "abcde"
    strings = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 7)))
               for _ in range(60)]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "id long, s string")
    got = {(r["id_l"], r["id_r"], r["dist"])
           for r in fuzzy_self_pairs(df, "id", "s", 2).collect()}
    want = {(i, j, _lev(strings[i], strings[j]))
            for i in range(len(strings)) for j in range(i + 1, len(strings))
            if _lev(strings[i], strings[j]) <= 2}
    assert got == want
    assert len(want) > 0  # the test actually exercised matches


def test_two_table_join_equal_brute_force(spark):
    left = [(1, "spark"), (2, "flink"), (3, "duck")]
    right = [(10, "sparc"), (11, "blink"), (12, "goose"), (13, "ducks")]
    ldf = spark.createDataFrame(left, "lid long, name string")
    rdf = spark.createDataFrame(right, "rid long, name string")
    got = {(r["lid"], r["rid"]) for r in fuzzy_join(
        ldf, rdf, "lid", "rid", "name", "name", max_distance=2).collect()}
    want = {(li, ri) for li, ls in left for ri, rs in right
            if _lev(ls, rs) <= 2}
    assert got == want == {(1, 10), (2, 11), (3, 13)}


def test_lowercase_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, "ABC"), (2, "abc"), (3, None)], "id long, s string")
    got = fuzzy_self_pairs(df, "id", "s", 1).collect()
    assert [(r["id_l"], r["id_r"], r["dist"]) for r in got] == [(1, 2, 0)]
    exact = fuzzy_self_pairs(df, "id", "s", 1, lowercase=False).collect()
    assert len(exact) == 0  # ABC vs abc is distance 3 raw


def test_prefix_len_blocks_on_truncated_key(spark):
    # same 4-char prefix, huge differing tails: prefix blocking still
    # pairs them for the verify, which then rejects (dist > 2)
    df = spark.createDataFrame(
        [(1, "abcdzzzz"), (2, "abcdzzzy")], "id long, s string")
    got = fuzzy_self_pairs(df, "id", "s", 2, prefix_len=4).collect()
    assert [(r["id_l"], r["id_r"], r["dist"]) for r in got] == [(1, 2, 1)]


def test_negative_distance_raises(spark):
    with pytest.raises(ValueError, match=">= 0"):
        deletion_neighborhood(F.lit("x"), -1)


def test_plan_has_no_cartesian_product(spark):
    """Scale shape: candidates must come from the variant equi-join —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    df = spark.createDataFrame([(1, "abc"), (2, "abd")], "id long, s string")
    plan = fuzzy_self_pairs(df, "id", "s", 2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_entity_resolution_composition(spark):
    """fuzzy pairs -> CC: transitive chains collapse to one entity
    with the min id canonical."""
    from malstrom_spark.functions import dedup

    df = spark.createDataFrame(
        [(1, "hello"), (2, "helloo"), (3, "hellooo"),  # chain 1-2-3
         (4, "world"), (5, "warld"),                   # pair 4-5
         (6, "unique-string")],
        "id long, s string",
    )
    pairs = fuzzy_self_pairs(df, "id", "s", max_distance=1).select(
        F.col("id_l").alias("id_a"), F.col("id_r").alias("id_b"))
    groups = {r["id"]: r["group_id"] for r in dedup.dedup_groups(
        pairs, df.select("id"), "id").collect()}
    # 1-2 dist 1, 2-3 dist 1, 1-3 dist 2: transitivity via CC
    assert groups == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_fuzzy_self_pairs_collapse_equals_uncollapsed(spark, collapse_gate):
    # identical-key clusters collapse to a representative; the
    # expanded output must equal the uncollapsed pipeline row for row
    # (id order, string columns following their ids, dist values)
    from malstrom_spark.functions.linkage import fuzzy_self_pairs

    rows = [
        (1, "Smith"), (2, "Smyth"), (3, "Wholly Different"),
        # deep exact-copy cluster (case-folds equal under lowercase)
        (10, "smith"), (11, "Smith"), (12, "SMITH"), (13, "smith"),
        (20, "Smyth"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")

    col = sorted(
        tuple(r) for r in fuzzy_self_pairs(df, "id", "name", max_distance=1).collect()
    )
    collapse_gate.assert_decided()
    collapse_gate.assert_same_rows(col)
    assert len(col) > 0
    got = {(a, b): (sl, sr, d) for a, b, sl, sr, d in col}
    # intra-cluster pairs at dist 0, strings normalized
    assert got[(1, 10)] == ("smith", "smith", 0)
    assert got[(10, 11)] == ("smith", "smith", 0)
    # cross-cluster pairs inherited by every member, dist 1
    assert got[(2, 12)] == ("smyth", "smith", 1)
    assert got[(12, 20)] == ("smith", "smyth", 1)
    assert not any(3 in p for p in got)


def test_fuzzy_join_collapse_equals_uncollapsed(spark, collapse_gate):
    from malstrom_spark.functions.linkage import fuzzy_join

    left = spark.createDataFrame(
        [(1, "Smith"), (2, "smith"), (3, "SMITH"), (4, "Jones")],
        "lid long, lname string",
    )
    right = spark.createDataFrame(
        [(10, "Smyth"), (11, "smyth"), (12, "Other")],
        "rid long, rname string",
    )

    col = sorted(
        tuple(r) for r in fuzzy_join(
            left, right, "lid", "rid", "lname", "rname", max_distance=1,
        ).collect()
    )
    collapse_gate.assert_decided()
    collapse_gate.assert_same_rows(col)
    got = {(a, b) for a, b, *_ in col}
    # every smith-variant left row pairs with every smyth right row
    assert got == {(l, r) for l in (1, 2, 3) for r in (10, 11)}


def test_fuzzy_entity_edges_components_equal_member_level(spark):
    # CC over the rep+star edge set must equal CC over the full
    # member-level pair set
    from malstrom_spark.functions.dedup import dedup_groups
    from malstrom_spark.functions.linkage import (
        fuzzy_entity_edges,
        fuzzy_self_pairs,
    )

    rows = [
        (1, "Smith"), (2, "Smyth"), (3, "Wholly Different"),
        (10, "smith"), (11, "SMITH"), (20, "Smyth"), (21, "smythe"),
        (30, None),  # null key: isolated, own group
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    ids = df.select("id")

    member_pairs = fuzzy_self_pairs(
        df, "id", "name", max_distance=1
    ).select(F.col("id_l").alias("id_a"), F.col("id_r").alias("id_b"))
    want = {r.id: r.group_id for r in dedup_groups(member_pairs, ids, "id").collect()}

    edges = fuzzy_entity_edges(df, "id", "name", max_distance=1)
    got = {r.id: r.group_id for r in dedup_groups(edges, ids, "id").collect()}
    assert got == want
    # one merged smith/smyth entity labeled by the min member id
    assert got[21] == 1 and got[10] == 1 and got[20] == 1
    assert got[3] == 3 and got[30] == 30
