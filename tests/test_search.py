"""Inverted index + BM25 (functions/search.py)."""

import math

from pyspark.sql import functions as F

from malstrom_spark.functions import search


DOCS = [
    (1, "spark joins data fast"),
    (2, "spark spark spark streaming"),
    (3, "duck db runs sql"),
    (4, "data data joins"),
    (5, "  Mixed   CASE   spark  "),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_inverted_index_counts(spark):
    got = {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
           for r in search.inverted_index(_docs(spark), "doc_id").collect()}
    assert got[("spark", 2)] == (3, 4)
    assert got[("spark", 5)] == (1, 3)  # lowercased, whitespace collapsed
    assert got[("data", 4)] == (2, 3)
    assert ("db", 3) in got and got[("db", 3)] == (1, 4)
    # df via the helper
    df = {r["term"]: r["df"] for r in search.term_doc_frequency(
        search.inverted_index(_docs(spark), "doc_id")).collect()}
    assert df["spark"] == 3 and df["joins"] == 2


def _bm25_python(docs, queries, k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in docs}
    toks = {i: t for i, t in toks.items() if t}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    out = {}
    for qid, q in queries:
        scores = {}
        for term in sorted(set(q.lower().split())):
            hits = {i: t.count(term) for i, t in toks.items() if term in t}
            if not hits:
                continue
            dfreq = len(hits)
            idf_q = math.floor(
                math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0) * 10000.0)
            for i, tf in hits.items():
                dl = len(toks[i])
                part = (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * (dl / avgdl)))
                scores[i] = scores.get(i, 0) + math.floor(idf_q * part * 100.0)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        out[qid] = [(rank + 1, i, s / 1e6)
                    for rank, (i, s) in enumerate(ranked)]
    return out


def test_bm25_matches_python_reference(spark):
    queries = [(1, "spark data"), (2, "sql"), (3, "nothing matches this")]
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    got = {}
    for r in search.bm25_topk(_docs(spark), qdf, "doc_id", k=10).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qid in got:
        got[qid].sort()
    want = _bm25_python(DOCS, queries)
    assert got[1] == want[1]
    assert got[2] == want[2]
    assert 3 not in got  # no term matches -> no rows


def test_bm25_tf_and_rarity_ordering(spark):
    queries = [(1, "spark")]
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    rows = search.bm25_topk(_docs(spark), qdf, "doc_id", k=3).collect()
    ranked = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert ranked[0] == 2  # tf=3 beats tf=1


def test_topk_per_key_exact_and_ties(spark):
    df = spark.createDataFrame(
        [(k, v) for k in ("a", "b") for v in range(100)],
        "k string, v long").repartition(8)
    top = search.topk_per_key(df, ["k"], [F.desc("v")], 5).collect()
    got = {}
    for r in top:
        got.setdefault(r["k"], []).append((r["rank"], r["v"]))
    for k in got:
        assert sorted(got[k]) == [(i + 1, 99 - i) for i in range(5)]


def test_bm25_corpus_not_shuffled_before_scoring(spark):
    """The corpus reaches the query broadcast join without its own
    Exchange: tf is an array filter on the scan side."""
    qdf = spark.createDataFrame([(1, "spark")], "query_id long, query string")
    plan = search.bm25_topk(_docs(spark), qdf, "doc_id")._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # the tiny-side cross join
    # the real scale claim: token arrays (__t) never cross an Exchange
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "__t" not in line


# ---------------------- incremental index maintenance (round 9)
def test_index_serving_equals_scan_path(spark):
    """bm25_topk_from_index over a merged two-batch index must equal
    bm25_topk over the full corpus byte-for-byte — the lossless-merge
    + serving-arithmetic proof."""
    from malstrom_spark.functions import search as s

    docs = spark.createDataFrame(
        [(i, f"term{i % 7} common filler word{i % 3} "
             f"{'vector stream ' * (i % 4)}") for i in range(60)],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "vector stream"), (2, "term3 word1")],
        "query_id long, query string",
    )
    scan = s.bm25_topk(docs, queries, "doc_id", k=5).collect()

    hist = docs.where("doc_id % 3 != 0")
    delta = docs.where("doc_id % 3 = 0")
    postings, ds = s.merge_index(
        [s.inverted_index(hist, "doc_id"), s.inverted_index(delta, "doc_id")],
        [s.doc_stats(hist, "doc_id"), s.doc_stats(delta, "doc_id")],
    )
    served = s.bm25_topk_from_index(postings, ds, queries, "doc_id", k=5) \
        .collect()
    assert sorted(map(tuple, served), key=lambda t: (t[0], t[1])) == \
        sorted(map(tuple, scan), key=lambda t: (t[0], t[1]))


def test_doc_stats_matches_postings_dl(spark):
    from malstrom_spark.functions import search as s

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "   "), (4, "x")],
        "doc_id long, text string",
    )
    ds = {r["doc_id"]: r["dl"] for r in s.doc_stats(docs, "doc_id").collect()}
    # null text excluded; whitespace-only tokenizes to [''] (dl=1) —
    # the established _tokens_cheap semantics inverted_index/bm25 share
    assert ds == {1: 3, 3: 1, 4: 1}


def test_merge_index_validation(spark):
    import pytest
    from malstrom_spark.functions import search as s

    with pytest.raises(ValueError, match="at least one part"):
        s.merge_index([], [])


def test_index_serving_pushes_terms_to_scan(spark, tmp_path):
    """The serving path must read a persisted postings table only
    where the query's terms live: the isin filter reaches the parquet
    reader as a PushedFilter (not just the broadcast join)."""
    from malstrom_spark.functions import search as s

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 5}") for i in range(40)],
        "doc_id long, text string")
    path = str(tmp_path / "postings")
    s.inverted_index(docs, "doc_id").write.parquet(path)
    postings = spark.read.parquet(path)
    ds = s.doc_stats(docs, "doc_id")
    queries = spark.createDataFrame([(1, "alpha gamma2")],
                                    "query_id long, query string")
    out = s.bm25_topk_from_index(postings, ds, queries, "doc_id", k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "In(term" in plan and "PushedFilters" in plan, plan[:2000]
    assert out.count() > 0


# ---------------------- index UPDATE maintenance (round 10)
def test_update_index_equals_full_rebuild(spark):
    """Delete-and-replace: a stale index (wrong texts for some docs +
    ghost docs) repaired by update_index must equal a full rebuild
    over the true corpus byte-for-byte — serving included."""
    from malstrom_spark.functions import search as s

    true_docs = spark.createDataFrame(
        [(i, f"term{i % 7} common filler word{i % 3} "
             f"{'vector stream ' * (i % 4)}") for i in range(60)],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "vector stream"), (2, "term3 word1")],
        "query_id long, query string",
    )
    # stale: every %5 doc polluted with query terms; 3 ghosts that are
    # pure query-term spam (would rank top if their postings survived)
    stale = true_docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 5 = 0 THEN concat(text, ' vector stream term3')"
        " ELSE text END AS text",
    ).unionByName(spark.createDataFrame(
        [(1000 + i, "vector stream term3 word1") for i in range(3)],
        "doc_id long, text string",
    ))
    p0 = s.inverted_index(stale, "doc_id")
    s0 = s.doc_stats_from_postings(p0, "doc_id")
    fresh = true_docs.where("doc_id % 5 = 0")
    ghosts = spark.createDataFrame(
        [(1000 + i,) for i in range(3)], "doc_id long")
    p, ds = s.update_index(p0, s0, fresh, "doc_id", deleted_ids=ghosts)

    rebuilt_p = s.inverted_index(true_docs, "doc_id")
    want_p = sorted(map(tuple, rebuilt_p.collect()))
    assert sorted(map(tuple, p.collect())) == want_p
    want_s = sorted(map(tuple,
                        s.doc_stats_from_postings(rebuilt_p, "doc_id")
                        .collect()))
    assert sorted(map(tuple, ds.collect())) == want_s

    served = s.bm25_topk_from_index(p, ds, queries, "doc_id", k=5).collect()
    scan = s.bm25_topk(true_docs, queries, "doc_id", k=5).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, scan))


def test_update_index_empty_text_is_tombstone(spark):
    """A re-crawled doc whose new text is NULL or empty (404'd) must
    have its old postings and doc-stats vanish without an explicit
    deleted_ids entry."""
    from malstrom_spark.functions import search as s

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon")],
        "doc_id long, text string")
    p0 = s.inverted_index(old, "doc_id")
    s0 = s.doc_stats_from_postings(p0, "doc_id")
    fresh = spark.createDataFrame(
        [(2, None), (3, "zeta eta")], "doc_id long, text string")
    p, ds = s.update_index(p0, s0, fresh, "doc_id")
    terms = {r["term"] for r in p.collect()}
    assert terms == {"alpha", "beta", "zeta", "eta"}
    assert {r["doc_id"] for r in ds.collect()} == {1, 3}


def test_update_index_delete_then_reinsert(spark):
    """Tombstone a doc, then re-insert it in a later update — the
    final state must be the re-inserted version only (no resurrection
    of pre-delete postings, no duplicates)."""
    from malstrom_spark.functions import search as s

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string")
    p0 = s.inverted_index(old, "doc_id")
    s0 = s.doc_stats_from_postings(p0, "doc_id")
    # update 1: delete doc 1
    none = spark.createDataFrame([], "doc_id long, text string")
    p1, s1 = s.update_index(
        p0, s0, none, "doc_id",
        deleted_ids=spark.createDataFrame([(1,)], "doc_id long"))
    assert {r["doc_id"] for r in p1.collect()} == {2}
    # update 2: re-insert doc 1 with new text
    fresh = spark.createDataFrame([(1, "omega")], "doc_id long, text string")
    p2, s2 = s.update_index(p1, s1, fresh, "doc_id")
    got = sorted((r["term"], r["doc_id"], r["tf"], r["dl"])
                 for r in p2.collect())
    assert got == [("gamma", 2, 1, 1), ("omega", 1, 1, 1)]
    assert sorted((r["doc_id"], r["dl"]) for r in s2.collect()) == \
        [(1, 1), (2, 1)]


def test_update_index_antijoin_is_broadcast_no_exchange(spark, tmp_path):
    """The 100 TB claim: with the touched-id set broadcast, the
    delete-and-replace anti-join is a broadcast hash join — the
    persisted index side is filtered map-side, never shuffled."""
    from malstrom_spark.functions import search as s

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 5}") for i in range(40)],
        "doc_id long, text string")
    path = str(tmp_path / "postings")
    s.inverted_index(docs, "doc_id").write.parquet(path)
    postings = spark.read.parquet(path)
    ds = s.doc_stats_from_postings(postings, "doc_id")
    fresh = docs.where("doc_id % 10 = 0")
    p, _ = s.update_index(postings, ds, fresh, "doc_id")
    # isolate the anti-join side: the fresh-batch union half has its
    # own (legitimate) index-build exchange, and touched.distinct()
    # its own small-side one — pin the INDEX side of the plan with a
    # pre-deduped local touched set, mirroring what update_index's
    # broadcast does to the persisted relation
    touched = spark.createDataFrame([(i,) for i in range(0, 40, 10)],
                                    "doc_id long")
    plan = postings.join(
        F.broadcast(touched), "doc_id",
        "left_anti")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    # and the composed update still computes the right survivors
    assert {r["doc_id"] for r in p.select("doc_id").distinct().collect()} \
        == set(range(40))


# ---------------------------------------- positional / phrase search (r11)
def _phrase_docs(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "quick brown quick brown fox"),
            (2, "fox brown quick"),
            (3, None),
            (4, "the the the"),
        ],
        "doc_id long, text string",
    )


def test_positional_postings_positions_are_one_based(spark):
    from malstrom_spark.functions.search import positional_postings

    p = positional_postings(_phrase_docs(spark), "doc_id")
    rows = {(r.term, r.doc_id, r.pos) for r in p.where("doc_id = 2").collect()}
    assert rows == {("fox", 2, 1), ("brown", 2, 2), ("quick", 2, 3)}


def test_phrase_matches_basic_and_overlapping(spark):
    from malstrom_spark.functions.search import phrase_matches, positional_postings

    p = positional_postings(_phrase_docs(spark), "doc_id")
    phrases = spark.createDataFrame(
        [(0, ["quick", "brown"]), (1, ["the", "the"]), (2, ["brown", "fox"])],
        "phrase_id long, terms array<string>",
    )
    got = {
        (r.phrase_id, r.doc_id, r.start_pos)
        for r in phrase_matches(p, phrases, "doc_id").collect()
    }
    # doc 1 has "quick brown" at 1 and 3; doc 0 at 2
    assert (0, 0, 2) in got and (0, 1, 1) in got and (0, 1, 3) in got
    # repeated-word phrase: "the the" overlaps at 1 and 2 in doc 4
    assert (1, 4, 1) in got and (1, 4, 2) in got
    # "brown fox" in docs 0 (pos 3) and 1 (pos 4), NOT doc 2 (reversed)
    assert (2, 0, 3) in got and (2, 1, 4) in got
    assert not any(pid == 2 and d == 2 for pid, d, _ in got)


def test_phrase_longer_than_doc_no_match(spark):
    from malstrom_spark.functions.search import phrase_matches, positional_postings

    p = positional_postings(_phrase_docs(spark), "doc_id")
    phrases = spark.createDataFrame(
        [(0, ["fox", "brown", "quick", "fox"])], "phrase_id long, terms array<string>"
    )
    assert phrase_matches(p, phrases, "doc_id").count() == 0


def test_proximity_matches_window(spark):
    from malstrom_spark.functions.search import positional_postings, proximity_matches

    p = positional_postings(_phrase_docs(spark), "doc_id")
    got = {
        (r.doc_id, r.pos_a, r.pos_b)
        for r in proximity_matches(p, "quick", "fox", window=2).collect()
    }
    # doc 0: quick@2, fox@4 (dist 2); doc 1: quick@1,3 fox@5 (3->5 ok, 1->5 not)
    assert (0, 2, 4) in got and (1, 3, 5) in got and (1, 1, 5) not in got
    # doc 2: quick@3, fox@1 (dist 2, order-agnostic)
    assert (2, 3, 1) in got


def test_phrase_search_plan_prunes_to_query_terms(spark, sf_dir):
    from malstrom_spark.queries import full_registry

    df = full_registry()["doc_phrase_search"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
