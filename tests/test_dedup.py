"""Dedup operators over planted duplicates: exact groups, MinHash-LSH
recall on near-identical docs, SimHash Hamming pairs."""

import pyspark.sql.functions as F
import pytest

from malstrom_spark.functions import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different text about spark query engines and shuffles here today"),
        (4, "Yet another unrelated document mentioning benchmarks latency and throughput numbers"),
        (5, BASE + " extra tail words appended"),  # near dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, "doc_id").collect()
    groups = {r.keeper_id: r.n_copies for r in out}
    assert groups[0] == 2  # docs 0 and 1 collapse
    assert len(out) == 5  # 5 distinct texts


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.near_dup_pairs_minhash(
        docs, "doc_id", n_hashes=32, n_bands=16, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found  # exact dup always found
    assert (0, 2) in found or (1, 2) in found  # one-word change
    # unrelated docs never pair
    assert not any(3 in p or 4 in p for p in found)


def test_minhash_jaccard_values(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.near_dup_pairs_minhash(
            docs, "doc_id", n_hashes=32, n_bands=16, threshold=0.1
        ).collect()
    }
    assert pairs.get((0, 1)) == 1.0  # identical shingle sets


def test_simhash_near_dups(docs):
    pairs = dedup.simhash_near_dups(docs, "doc_id", max_hamming=10).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found.get((0, 1)) == 0  # identical -> distance 0
    assert not any((3 in p or 4 in p) and found[p] <= 3 for p in found)


def test_ngram_jaccard_kernel(docs, spark):
    pairs = spark.createDataFrame([(0, 1), (0, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard(pairs, docs, "doc_id").collect()}
    assert out[(0, 1)] == 1.0
    assert out[(0, 3)] < 0.05


def test_collapse_and_uncollapsed_outputs_identical(docs, collapse_gate):
    """The exact-collapse pre-pass must be invisible in the output:
    with the scale gate forced either way, both pair pipelines emit the
    same pairs with the same scores."""
    def rows(df):
        return sorted(map(tuple, df.collect()))

    minhash = rows(dedup.near_dup_pairs_minhash(
        docs, "doc_id", n_hashes=32, n_bands=16, threshold=0.1
    ))
    simhash = rows(dedup.simhash_near_dups(docs, "doc_id", max_hamming=10))
    collapse_gate.assert_decided()
    collapse_gate.assert_same_rows(minhash, "minhash")
    collapse_gate.assert_same_rows(simhash, "simhash")
    assert (0, 1, 1.0) in minhash and (0, 1, 0) in simhash  # the exact dup


def test_collapse_probe_skips_on_distinct_corpus(spark):
    """All-distinct corpus: the adaptive probe must decide NOT to
    collapse (members is None) — the collapse machinery would be pure
    overhead."""
    distinct_docs = spark.createDataFrame(
        [(i, f"unique document number {i} with its own words") for i in range(40)],
        "doc_id long, text string",
    )
    _, members = dedup._collapse_exact(distinct_docs, "doc_id", "text")
    assert members is None
    # and the planted-duplicates fixture (1 exact dup in 6) does collapse
    dup_docs = spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, "other")], "doc_id long, text string"
    )
    _, members = dedup._collapse_exact(dup_docs, "doc_id", "text")
    assert members is not None
    assert {(r[0], r[1]) for r in members.collect()} == {(0, 0), (1, 0), (2, 2)}


def test_collapse_probe_size_gate(spark, tmp_path, monkeypatch):
    """For FILE-backed inputs below the size floor
    (`scale.COLLAPSE_PROBE_MIN_BYTES`, 1 MiB) the probe job and the
    collapse are both skipped (the probe cannot repay itself there) —
    even on a maximally dup-heavy corpus — and a floor of 0 restores
    the probe, which then collapses. In-memory inputs have no size
    estimate and always fail open to the probe (pinned by
    test_collapse_probe_skips_on_distinct_corpus)."""
    from malstrom_spark import scale

    p = str(tmp_path / "dups.parquet")
    spark.createDataFrame(
        [(i, BASE) for i in range(6)] + [(6, "other")],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    # default floor: tiny scan -> no probe, uncollapsed
    _, members = dedup._collapse_exact(docs, "doc_id", "text")
    assert members is None
    # floor 0: probe runs and the dup-heavy corpus collapses
    monkeypatch.setattr(scale, "COLLAPSE_PROBE_MIN_BYTES", 0)
    _, members = dedup._collapse_exact(docs, "doc_id", "text")
    assert members is not None
    assert {(r[0], r[1]) for r in members.collect()} == {
        (i, 0) for i in range(6)
    } | {(6, 6)}


def test_semdedup_collapse_floor_output_identical(spark, tmp_path, monkeypatch):
    """semdedup shares the collapse helper: on a file-backed, dup-heavy
    input its output is identical with the size floor at its default
    (collapse skipped) and at 0 (probe runs and collapses)."""
    import numpy as np

    from malstrom_spark import scale
    from malstrom_spark.functions import similarity as sim

    rng = np.random.RandomState(11)
    base = [[float(x) for x in np.round(rng.normal(0, 1, 8), 6)] for _ in range(5)]
    p = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        [(i, base[i % 5]) for i in range(40)] + [(99, None)],
        "vec_id long, embedding array<double>",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    cents = sim.semdedup_head_centroids(df, "vec_id", "embedding", 3)

    decisions = []
    real = scale.collapse_exact_groups

    def spy(*args, **kwargs):
        groups = real(*args, **kwargs)
        decisions.append(groups is not None)
        return groups

    monkeypatch.setattr(scale, "collapse_exact_groups", spy)

    def run():
        return sorted(
            tuple(r) for r in sim.semdedup(df, "vec_id", "embedding", cents).collect()
        )

    default = run()
    monkeypatch.setattr(scale, "COLLAPSE_PROBE_MIN_BYTES", 0)
    floor0 = run()
    assert decisions == [False, True]
    assert default == floor0
    by_id = {t[0]: t for t in default}
    assert by_id[0][3] == by_id[5][3] == by_id[35][3]  # copies share a group


def test_decontaminate_flags_ngram_overlap(spark):
    """Docs sharing a 5-gram window with the benchmark set are removed;
    docs with fewer than 5 shared consecutive tokens survive. Short
    docs (< n tokens) hash one truncated gram and only match equally
    short benchmark docs."""
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),  # contains bench window
            (1, "zeta eta unrelated words that share nothing consecutive here"),
            (2, "alpha beta gamma delta words broken up beta gamma delta epsilon zero"),
            (3, "tiny doc"),
            (4, "totally clean document about other things entirely today"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "prefix words alpha beta gamma delta epsilon more tail"), (1, "tiny doc")],
        "bid long, text string",
    )
    bad = {
        r.doc_id
        for r in dedup.contaminated_ids(corpus, bench, "doc_id", ngram_n=5).collect()
    }
    # doc 0 shares 'alpha beta gamma delta epsilon'; doc 3 is an exact
    # short-doc match; docs 1/2/4 share at most 4 consecutive tokens
    assert bad == {0, 3}
    kept = {r.doc_id for r in dedup.decontaminate(corpus, bench, "doc_id", ngram_n=5).collect()}
    assert kept == {1, 2, 4}
    # portable and scale hashing agree on the match set
    bad_p = {
        r.doc_id
        for r in dedup.contaminated_ids(corpus, bench, "doc_id", ngram_n=5, portable=True).collect()
    }
    assert bad_p == bad


def test_dedup_groups_transitive_closure(spark, cc_finish):
    """A-B and B-C near-dup edges must put A, B, C in ONE group labeled
    min(id), even though A-C was never emitted as a pair; isolated
    docs keep their own id. Both CC finishes."""
    from malstrom_spark.functions.dedup import dedup_groups

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.group_id for r in dedup_groups(pairs, ids, "doc_id").collect()}
    assert got == {0: 0, 3: 0, 5: 0, 1: 1, 2: 1, 4: 4}
    cc_finish.assert_path()


def test_dedup_groups_path_chain(spark, cc_finish):
    """A 50-hop duplicate chain (path graph): large-star/small-star
    must converge in O(log n) rounds where min-label propagation needs
    O(diameter). 8 rounds suffice for alternating (the driver finish
    needs none); label propagation capped at 5 rounds must fail loudly
    rather than mislabel."""
    from malstrom_spark.functions.dedup import dedup_groups

    n = 50
    ids = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r.doc_id: r.group_id
        for r in dedup_groups(pairs, ids, "doc_id", max_iters=8).collect()
    }
    assert got == {i: 0 for i in range(n)} | {n: n}
    cc_finish.assert_path()
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_groups(pairs, ids, "doc_id", max_iters=5, algorithm="label")


def test_dedup_groups_algorithms_agree(spark, cc_finish):
    """Both CC algorithms reach the identical fixpoint on a graph with
    chains, a triangle, reversed/duplicate/self edges and singletons,
    with either CC finish."""
    from malstrom_spark.functions.dedup import dedup_groups

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (5, 0), (7, 6), (8, 7), (9, 9), (2, 1), (2, 1), (10, 4)],
        "id_a long, id_b long",
    )
    alt = {r.doc_id: r.group_id for r in dedup_groups(pairs, ids, "doc_id").collect()}
    lab = {
        r.doc_id: r.group_id
        for r in dedup_groups(pairs, ids, "doc_id", algorithm="label").collect()
    }
    assert alt == lab
    assert alt == {0: 0, 3: 0, 5: 0, 6: 6, 7: 6, 8: 6, 9: 9, 1: 1, 2: 1, 4: 4, 10: 4, 11: 11}
    cc_finish.assert_path()


def _uf_labels(n_ids, pairs):
    """Python union-find ground truth: min-id label per component."""
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


@pytest.fixture(scope="module")
def dup_heavy_docs(spark):
    """Dup-heavy corpus (fires the collapse probe): 3 exact copies of
    BASE, 2 copies of a near variant, an appended-tail variant, two
    unrelated docs, two null-text docs, and two empty-text docs."""
    rows = [
        (0, BASE),
        (1, BASE),
        (2, BASE),
        (3, BASE.replace("lazy", "sleepy")),
        (4, BASE.replace("lazy", "sleepy")),
        (5, BASE + " extra tail words appended"),
        (6, "completely different text about spark query engines and shuffles here"),
        (7, "yet another unrelated document mentioning benchmarks latency and throughput"),
        (8, None),
        (9, None),
        (10, ""),
        (11, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_clusters_matches_pair_pipeline_minhash(dup_heavy_docs, collapse_gate):
    """dedup_clusters must equal union-find over the pair pipeline's
    output (the pair pipeline is the hash-verified semantics), with the
    scale gate forced either way — including null-text docs
    (singletons) and byte-identical docs (always clustered)."""
    kw = {"n_hashes": 32, "n_bands": 16, "threshold": 0.5}
    pairs = [
        (r.id_a, r.id_b)
        for r in dedup.near_dup_pairs_minhash(dup_heavy_docs, "doc_id", **kw).collect()
    ]
    expected = _uf_labels(range(12), pairs)
    out = dedup.dedup_clusters(
        dup_heavy_docs, "doc_id", method="minhash", **kw
    ).collect()
    collapse_gate.assert_decided()
    got = {r.doc_id: r.group_id for r in out}
    assert got == expected
    assert {r.doc_id: r.is_keeper for r in out} == {
        i: (expected[i] == i) for i in range(12)
    }
    collapse_gate.assert_same_rows(sorted(got.items()))


def test_dedup_clusters_matches_pair_pipeline_simhash(dup_heavy_docs, collapse_gate):
    pairs = [
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_dups(
            dup_heavy_docs, "doc_id", max_hamming=3
        ).collect()
    ]
    expected = _uf_labels(range(12), pairs)
    got = {
        r.doc_id: r.group_id
        for r in dedup.dedup_clusters(
            dup_heavy_docs, "doc_id", method="simhash", max_hamming=3,
        ).collect()
    }
    collapse_gate.assert_decided()
    assert got == expected
    collapse_gate.assert_same_rows(sorted(got.items()))


# ---- hot-bucket skew guard (round-4 VERDICT #1) --------------------


@pytest.fixture(scope="module")
def template_docs(spark):
    """Pathological template cluster: 1,200 docs sharing a 40-word
    template, each differing by ONE injected token — near-identical
    but never byte-identical, so `_collapse_exact` can't fire and
    every doc shares band/chunk hashes with every other. Uncapped,
    this is ONE mega-bucket emitting ~n^2/2 candidate pairs."""
    words = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(words[:20] + [f"uniq{i}"] + words[20:])) for i in range(1200)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(8)


def test_lsh_hot_bucket_cap_bounds_candidates(template_docs):
    """Capped candidate count is ~linear in n on the template cluster;
    uncapped is quadratic. (Counted at the candidate stage, before
    verification.)"""
    n = 1200
    sigs = dedup.minhash_signature(template_docs, "doc_id", n_hashes=32)
    capped = dedup.lsh_candidate_pairs(sigs, "doc_id", n_bands=8, max_bucket_size=64)
    n_capped = capped.count()
    # every oversized bucket contributes <= n-1 star edges; 8 bands +
    # small-bucket remainder => well under 10n (uncapped: ~n^2/2 = 719k)
    assert n_capped <= 10 * n, f"capped candidates not linear: {n_capped}"
    uncapped = dedup.lsh_candidate_pairs(sigs, "doc_id", n_bands=8)
    assert uncapped.count() > (n * (n - 1)) // 4  # genuinely pathological input


def test_simhash_hot_bucket_cap_bounds_candidates(template_docs):
    n = 1200
    capped = dedup.simhash_near_dups(
        template_docs, "doc_id", max_hamming=60, max_bucket_size=64,
    )
    # hamming bound 60/64 accepts every candidate -> output == candidates
    assert capped.count() <= 10 * n


def test_dedup_clusters_cap_preserves_cluster(template_docs):
    """With the cap firing hard (64 << 1200), the verified star edges
    must keep the true near-dup cluster CONNECTED: labels identical to
    the uncapped run — all 1,200 template docs in one min-id group."""
    kw = {"n_hashes": 32, "n_bands": 8, "threshold": 0.5}
    capped = {
        r.doc_id: r.group_id
        for r in dedup.dedup_clusters(
            template_docs, "doc_id", max_bucket_size=64, **kw
        ).collect()
    }
    assert set(capped.values()) == {0}, "template cluster must stay connected"
    uncapped = {
        r.doc_id: r.group_id
        for r in dedup.dedup_clusters(
            template_docs, "doc_id", max_bucket_size=None, **kw
        ).collect()
    }
    assert capped == uncapped


def test_cap_identical_output_when_not_firing(dup_heavy_docs):
    """On a corpus whose buckets are all below the cap, the capped
    path is output-identical to the uncapped one (pairs AND scores)."""
    kw = {"n_hashes": 32, "n_bands": 16, "threshold": 0.5}
    base = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.near_dup_pairs_minhash(dup_heavy_docs, "doc_id", **kw).collect()
    }
    capped = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.near_dup_pairs_minhash(
            dup_heavy_docs, "doc_id", max_bucket_size=4096, **kw
        ).collect()
    }
    assert base == capped


# ------------------------------ incremental dedup (round 7) ---------


def test_dedup_against_history_flags_and_attribution(spark):
    """A new batch probing a history store: batch docs that near-dup a
    history doc are flagged with dup_of = min matching history id;
    novel docs are absent."""
    from malstrom_spark.functions import dedup

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    hist_rows = [
        (10, base), (11, base + " extra"), (20, "completely different text "
        "about spark catalyst optimizer internals and shuffle exchanges"),
    ]
    batch_rows = [
        (100, base),                      # dup of 10 (and 11)
        (101, "totally novel content never seen in the history corpus "
              "with unique words like zanzibar quokka"),
    ]
    hist = spark.createDataFrame(hist_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    bands = dedup.minhash_band_table(hist, "doc_id", max_bucket_size=None)
    hsets = dedup.shingle_hash_sets(hist, "doc_id")
    out = {
        r.doc_id: (r.dup_of, r.n_matches)
        for r in dedup.dedup_against_history(
            batch, bands, hsets, "doc_id", threshold=0.5
        ).collect()
    }
    assert 100 in out and out[100][0] == 10 and out[100][1] >= 1
    assert 101 not in out


def test_minhash_band_table_mega_bucket_representative(spark):
    """Store-side cap: a bucket over max_bucket_size keeps ONE
    representative (min id) row, so batches still flag against it."""
    from malstrom_spark.functions import dedup

    text = "same boilerplate text repeated across many documents here now"
    hist = spark.createDataFrame(
        [(i, text) for i in range(10, 30)], "doc_id long, text string"
    )
    capped = dedup.minhash_band_table(hist, "doc_id", max_bucket_size=4)
    uncapped = dedup.minhash_band_table(hist, "doc_id", max_bucket_size=None)
    # 20 identical docs -> every band bucket holds 20 rows > cap of 4
    assert uncapped.count() == 20 * 8 and capped.count() == 8
    assert {r.doc_id for r in capped.collect()} == {10}
    # a batch dup still flags, attributed to the representative
    batch = spark.createDataFrame([(100, text)], "doc_id long, text string")
    out = dedup.dedup_against_history(
        batch, capped, dedup.shingle_hash_sets(hist, "doc_id"), "doc_id",
        threshold=0.5,
    ).collect()
    assert len(out) == 1 and out[0].dup_of == 10


def test_dedup_against_history_bucketed_store_shuffles_batch_only(spark):
    """With the stores written via persist_stage (bands bucketed on
    [band, bhash], hash sets on [doc_id]), the history side of both
    joins reads pre-bucketed: every Exchange in the plan hangs off the
    BATCH lineage (bounded by batch size), none re-shuffles history."""
    import io
    from contextlib import redirect_stdout

    from malstrom_spark.functions import dedup
    from malstrom_spark.operators.bucketing import persist_stage

    hist = spark.createDataFrame(
        [(i, f"history document number {i} with some shared words") for i in range(50)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "history document number 7 with some shared words")],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bands = persist_stage(
            dedup.minhash_band_table(hist, "doc_id", max_bucket_size=None),
            "stage_hist_bands", ["band", "bhash"], n_buckets=8,
        )
        hsets = persist_stage(
            dedup.shingle_hash_sets(hist, "doc_id"),
            "stage_hist_hsets", ["doc_id"], n_buckets=8,
        )
        out = dedup.dedup_against_history(
            batch, bands, hsets, "doc_id", threshold=0.5
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        # both history scans are bucketed reads: SelectedBucketsCount
        # appears for each, and no Exchange feeds off them (exchanges
        # exist only on the batch lineage + the final aggregate)
        assert plan.count("SelectedBucketsCount") >= 2, plan
        got = out.collect()
        assert len(got) == 1 and got[0].dup_of == 7
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS stage_hist_bands")
        spark.sql("DROP TABLE IF EXISTS stage_hist_hsets")


# --------------------------- exact-substring windows (round 7) ------


def test_repeated_window_spans_cross_doc_only(spark):
    """Windows shared across >= min_docs DISTINCT docs flag, at the
    right token positions; a window repeated only WITHIN one doc does
    not (min_docs counts documents, not occurrences)."""
    from malstrom_spark.functions import dedup

    shared = "alpha beta gamma delta"
    rows = [
        (1, f"{shared} unique one tail words here"),
        (2, f"prefix words {shared} other ending"),
        (3, "self repeat self repeat self repeat self repeat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup.repeated_window_spans(df, "doc_id", window=4, min_docs=2).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, set()).add(r.pos)
    # doc 1: shared window at token 0; doc 2: at token 2
    assert 0 in by_doc.get(1, set())
    assert 2 in by_doc.get(2, set())
    # doc 3's intra-doc repeats span only one document -> no flags
    assert 3 not in by_doc
    assert all(r.n_docs == 2 for r in spans)


def test_substring_repetition_stats_fractions(spark):
    from malstrom_spark.functions import dedup

    shared = "one two three four"
    rows = [
        (1, f"{shared} aa bb"),        # 6 tokens -> 3 windows, 1 repeated
        (2, f"{shared} cc dd ee"),     # 7 tokens -> 4 windows, 1 repeated
        (3, "totally different words everywhere still going"),  # 6 -> 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_windows, r.n_repeated_windows, round(r.repeated_frac, 4))
        for r in dedup.substring_repetition_stats(
            df, "doc_id", window=4, min_docs=2
        ).collect()
    }
    assert got[1] == (3, 1, 0.3333)
    assert got[2] == (4, 1, 0.25)
    assert got[3] == (3, 0, 0.0)


def test_remove_repeated_spans_cuts_boilerplate(spark):
    """Docs sharing one boilerplate paragraph lose exactly that span
    (overlapping flagged windows merged into one maximal span);
    unflagged docs round-trip whitespace-normalized and
    case-preserved."""
    from malstrom_spark.functions.dedup import remove_repeated_spans

    boiler = "Subscribe TO our newsletter for daily updates and offers today"
    docs = [
        (1, "alpha beta gamma " + boiler + " delta epsilon"),
        (2, "one two three four " + boiler.lower() + " five six"),
        (3, "totally unique  text\nwith No repeats at all whatsoever here"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {
        r.doc_id: r
        for r in remove_repeated_spans(df, "doc_id", window=5, min_docs=2).collect()
    }
    # the 10-token boilerplate (differing in CASE between docs — the
    # hash tokenizer lowercases) is cut from both docs as ONE span
    assert (out[1].n_removed, out[1].n_spans) == (10, 1)
    assert out[1].cleaned == "alpha beta gamma delta epsilon"
    assert (out[2].n_removed, out[2].n_spans) == (10, 1)
    assert out[2].cleaned == "one two three four five six"
    # unflagged doc: zero spans, original CASE kept, whitespace
    # normalized to the single-space form
    assert (out[3].n_removed, out[3].n_spans) == (0, 0)
    assert out[3].cleaned == " ".join(docs[2][1].split())


def test_remove_repeated_spans_merges_disjoint_and_overlapping(spark):
    from malstrom_spark.functions.dedup import remove_repeated_spans

    rep1 = "r1a r1b r1c r1d"
    rep2 = "r2a r2b r2c r2d"
    docs = [
        (1, rep1 + " mid1 mid2 mid3 mid4 mid5 " + rep2),
        (2, rep1 + " x1 x2 x3 x4 x5 " + rep2),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {
        r.doc_id: r
        for r in remove_repeated_spans(df, "doc_id", window=4, min_docs=2).collect()
    }
    # two separated repeated regions -> two maximal spans each
    assert out[1].n_spans == 2
    assert out[1].cleaned == "mid1 mid2 mid3 mid4 mid5"
    assert out[2].cleaned == "x1 x2 x3 x4 x5"


def test_remove_repeated_spans_fully_duplicated_doc(spark):
    from malstrom_spark.functions.dedup import remove_repeated_spans

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id int, text string"
    )
    out = remove_repeated_spans(df, "doc_id", window=4, min_docs=2).collect()
    for r in out:
        assert r.n_removed == r.n_tokens == 6
        assert r.cleaned == ""


def test_exact_substring_dedup_keep_first(spark):
    """ExactSubstr (Lee et al.): duplicated >= min_len spans are cut
    from every occurrence EXCEPT the globally first (smallest id,
    then pos); unrelated text round-trips whitespace-normalized."""
    from malstrom_spark.functions import dedup

    shared = "alpha bravo charlie delta echo"  # 5 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro one {shared} tail one"),
            (2, f"different start {shared} and different end"),
            (3, "nothing in common with anyone at all here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.exact_substring_dedup(
        docs, "doc_id", min_len=5).collect()}
    # doc 1 is canonical: untouched
    assert out[1].n_removed == 0 and out[1].n_spans == 0
    assert out[1].cleaned == f"intro one {shared} tail one"
    # doc 2 loses exactly the shared span
    assert out[2].n_removed == 5 and out[2].n_spans == 1
    assert out[2].cleaned == "different start and different end"
    # doc 3 untouched
    assert out[3].n_removed == 0
    assert out[3].cleaned == "nothing in common with anyone at all here"

    # keep_first=False: the paper's tool cuts EVERY occurrence
    all_cut = {r.doc_id: r for r in dedup.exact_substring_dedup(
        docs, "doc_id", min_len=5, keep_first=False).collect()}
    assert all_cut[1].n_removed == 5 and all_cut[2].n_removed == 5


def test_exact_substring_dedup_same_doc_repetition(spark):
    """Occurrence counting catches a span repeated WITHIN one doc —
    the distinct-doc form (remove_repeated_spans) is blind to it."""
    from malstrom_spark.functions import dedup

    rep = "one two three four"
    docs = spark.createDataFrame(
        [(7, f"{rep} filler a b c {rep} closing words")],
        "doc_id long, text string",
    )
    got = dedup.exact_substring_dedup(
        docs, "doc_id", min_len=4).collect()[0]
    assert got.n_removed == 4 and got.n_spans == 1
    assert got.cleaned == f"{rep} filler a b c closing words"
    # contrast: the distinct-doc form leaves it alone
    old = dedup.remove_repeated_spans(
        docs, "doc_id", window=4, min_docs=2).collect()[0]
    assert old.n_removed == 0


def test_exact_substring_dedup_longer_span_interval_union(spark):
    """A shared span LONGER than min_len interval-unions to exactly
    one maximal cut of the full span length."""
    from malstrom_spark.functions import dedup

    span = "t1 t2 t3 t4 t5 t6 t7 t8 t9"  # 9 tokens, min_len 4
    docs = spark.createDataFrame(
        [(1, f"{span} unique tail"), (2, f"other head {span}")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.exact_substring_dedup(
        docs, "doc_id", min_len=4).collect()}
    assert out[1].n_removed == 0
    assert out[2].n_removed == 9 and out[2].n_spans == 1
    assert out[2].cleaned == "other head"


def test_exact_substring_positions_canonical_flags(spark):
    """The positions table marks exactly one canonical occurrence per
    duplicated window value, at the smallest (id, pos)."""
    from malstrom_spark.functions import dedup

    docs = spark.createDataFrame(
        [(5, "z z q w e r"), (9, "q w e r z z"), (11, "totally other")],
        "doc_id long, text string",
    )
    rows = dedup.exact_substring_positions(
        docs, "doc_id", min_len=4).collect()
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r.whash, []).append(r)
    assert by_hash  # the q w e r window duplicates across 5 and 9
    for grp in by_hash.values():
        canon = [r for r in grp if r.is_canonical]
        assert len(canon) == 1
        best = min((r.doc_id, r.pos) for r in grp)
        assert (canon[0].doc_id, canon[0].pos) == best
        assert all(r.n_occurrences == len(grp) for r in grp)


# ------------------------------------------ fuzzy decontamination (r11)
def test_decontaminate_fuzzy_flags_near_dup_of_eval(spark):
    from malstrom_spark.functions.dedup import decontaminate_fuzzy

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame(
        [
            (1, base),                          # exact copy of eval doc 100
            (2, base.replace("kappa", "mu")),   # near-dup (1 token changed)
            (3, "completely different words about ships and harbors now"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, base)], "doc_id long, text string")
    got = {r.doc_id: r for r in decontaminate_fuzzy(
        train, ev, "doc_id", threshold=0.5, portable=True
    ).collect()}
    assert set(got) == {1, 2, 3}  # one row per train doc
    assert got[1].is_contaminated and got[1].matched_eval == 100
    assert got[2].is_contaminated and got[2].n_matches >= 1
    assert not got[3].is_contaminated and got[3].matched_eval is None
    assert got[3].n_matches == 0


# ---------------------------------------------- containment pairs (r11)
def test_containment_pairs_detects_embedded_excerpt(spark):
    from malstrom_spark.functions.dedup import containment_pairs

    # excerpt = 32 of 36 tokens so the pair still shares a MinHash
    # band (shingle Jaccard ~0.88; at J~0.3 banding recall is ~4% —
    # the documented containment-vs-band blind spot)
    long_text = " ".join(f"w{i}" for i in range(36))
    excerpt = " ".join(f"w{i}" for i in range(32))   # strict prefix
    docs = spark.createDataFrame(
        [(1, long_text), (2, excerpt), (3, "entirely different tokens here now ok yes")],
        "doc_id long, text string",
    )
    got = {(r.contained_id, r.container_id): r for r in containment_pairs(
        docs, "doc_id", threshold=0.9, portable=True, max_bucket_size=None
    ).collect()}
    # prefix 3-grams are a subset of the full doc's -> containment 1.0
    assert (2, 1) in got and got[(2, 1)].containment == 1.0
    # the reverse direction is nowhere near containment 0.9
    assert (1, 2) not in got
    # jaccard is symmetric and strictly below the containment score
    assert got[(2, 1)].jaccard < got[(2, 1)].containment


def test_containment_collapse_equals_uncollapsed(spark, collapse_gate):
    # byte-identical copies collapse to a representative; the expanded
    # output must equal the uncollapsed pipeline ROW FOR ROW (ordered
    # pairs, exact 1.0 scores for identical non-empty shingle sets)
    from malstrom_spark.functions.dedup import containment_pairs

    long_text = " ".join(f"w{i}" for i in range(36))
    excerpt = " ".join(f"w{i}" for i in range(32))
    rows = [
        (1, long_text), (2, excerpt),
        (3, "entirely different tokens here now ok yes"),
        # deep exact-copy cluster of the long doc + one of the excerpt
        *[(10 + i, long_text) for i in range(4)],
        (20, excerpt),
        # empty-text twins: the tokenizer yields one empty token, so
        # the shingle set is a SINGLETON (hash of ""), identical for
        # both — containment 1.0 in the uncollapsed pipeline, and the
        # collapse path must reproduce that, not drop them
        (30, ""), (31, ""),
        # null-text twins never pair, collapsed or not
        (40, None), (41, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    col = {
        (r.contained_id, r.container_id): (r.containment, r.jaccard)
        for r in containment_pairs(
            docs, "doc_id", threshold=0.9, portable=True, max_bucket_size=None,
        ).collect()
    }
    collapse_gate.assert_decided()
    collapse_gate.assert_same_rows(sorted(col.items()))
    assert len(col) > 0
    # copies of the long doc contain each other (both directions)
    assert col[(1, 10)] == (1.0, 1.0) and col[(10, 1)] == (1.0, 1.0)
    # every copy inherits the excerpt-containment edge
    assert (2, 13) in col and (20, 1) in col
    # empty twins pair with each other (singleton empty-token shingle
    # set, identical both sides) but with nothing else
    assert col[(30, 31)] == (1.0, 1.0) and col[(31, 30)] == (1.0, 1.0)
    assert not any((30 in p or 31 in p) and not {30, 31} >= set(p) for p in col)
    assert not any(40 in p or 41 in p for p in col)
