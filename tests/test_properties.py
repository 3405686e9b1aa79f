"""Property-based tests (reference test layer 3, SURVEY §5: proptest
on routing invariants). Here the invariants are the vectorized
operators themselves: each property checks the JVM-side expression
against a plain-Python reimplementation on hypothesis-generated data.
ASCII-only alphabets: Java's \\s is ASCII while Python's is Unicode,
and the engine contract is defined by the JVM regex.
"""

import string
from datetime import datetime, timezone

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

ASCII_TEXT = st.text(alphabet=string.ascii_letters + string.digits + " .,!?-", max_size=80)


def _py_tokens(s: str) -> list[str]:
    import re

    return re.split(r"\s+", s.strip())


@settings(max_examples=10, deadline=None)
@given(st.lists(ASCII_TEXT, min_size=1, max_size=8))
def test_token_count_matches_python(spark, texts):
    from malstrom_spark.functions import text as T

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {
        r.id: r.n for r in df.select("id", T.token_count(F.col("text")).alias("n")).collect()
    }
    want = {i: len(_py_tokens(t)) for i, t in enumerate(texts)}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(ASCII_TEXT, min_size=2, max_size=8))
def test_exact_dedup_partitions_input(spark, texts):
    """Copy counts sum to the input size and each keeper is the min id
    of its normalized-text group."""
    from malstrom_spark.functions.dedup import exact_dedup

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = exact_dedup(df, "doc_id").collect()
    assert sum(r.n_copies for r in rows) == len(texts)
    norm = lambda s: " ".join(_py_tokens(s.lower())).strip()  # noqa: E731
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(norm(t), []).append(i)
    want_keepers = sorted(min(v) for v in groups.values())
    assert sorted(r.keeper_id for r in rows) == want_keepers


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=20),
    st.integers(min_value=1, max_value=60),
)
def test_split_late_matches_reference_rule(spark, ts_seconds, delay):
    """Batch late-split vs a direct Python simulation of the reference
    rule: late iff ts <= (max ts of PRIOR arrivals on the same shard)
    - delay. Lateness is judged per shard (reference: per worker,
    time/util.rs), so the simulation replays each shard's arrival
    order independently; shard assignment (xxhash64) is read back from
    Spark since it is not Python-reproducible."""
    import pyspark.sql.functions as F

    from malstrom_spark.operators.eventtime import split_late

    n_shards = 4  # small so hypothesis inputs actually share shards
    rows = [
        (i, datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None))
        for i, s in enumerate(ts_seconds)
    ]
    df = spark.createDataFrame(rows, "arrival long, ts timestamp")
    # shard on the arrival/identity column explicitly (round-4: the
    # default shard key is ALL input columns, matching the streaming
    # twin; the simulation below hashes arrival only)
    on_time, late = split_late(
        df, "ts", f"INTERVAL {delay} SECONDS", ["arrival"], n_shards=n_shards,
        shard_cols=["arrival"],
    )
    got_late = {r.arrival for r in late.collect()}
    got_on_time = {r.arrival for r in on_time.collect()}

    shard_of = {
        r.arrival: r.shard
        for r in df.select(
            "arrival", F.pmod(F.xxhash64("arrival"), F.lit(n_shards)).alias("shard")
        ).collect()
    }
    frontier: dict = {}
    want_late = set()
    for i, s in enumerate(ts_seconds):
        sh = shard_of[i]
        if sh in frontier and s <= frontier[sh] - delay:
            want_late.add(i)
        frontier[sh] = max(frontier.get(sh, s), s)
    assert got_late == want_late
    assert got_on_time == set(range(len(ts_seconds))) - want_late


@settings(max_examples=8, deadline=None)
@given(st.lists(ASCII_TEXT, min_size=1, max_size=6))
def test_minhash_identical_texts_identical_signatures(spark, texts):
    """Duplicated docs must produce identical signatures (and thus
    collide in every LSH band)."""
    from malstrom_spark.functions.dedup import minhash_signature

    doubled = [(i, t) for i, t in enumerate(texts)] + [
        (i + 1000, t) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(doubled, "doc_id long, text string")
    sigs = {r.doc_id: tuple(r.signature) for r in minhash_signature(df, "doc_id").collect()}
    for i in range(len(texts)):
        assert sigs[i] == sigs[i + 1000]


# Tiny vocabulary so hypothesis-generated docs actually share n-grams.
_VOCAB_DOC = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=1,
    max_size=12,
).map(" ".join)


def _py_grams(s: str, n: int) -> set[tuple[str, ...]]:
    """Plain-Python twin of shingle_hash_sets' gram windows: full
    n-grams, or ONE truncated gram for docs shorter than n tokens."""
    t = _py_tokens(s.lower())
    if len(t) >= n:
        return {tuple(t[i : i + n]) for i in range(len(t) - n + 1)}
    return {tuple(t)}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(_VOCAB_DOC, min_size=1, max_size=8),
    st.lists(_VOCAB_DOC, min_size=1, max_size=3),
)
def test_decontaminate_matches_python_ngram_overlap(spark, corpus, bench):
    """The flagged id set equals a plain-Python n-gram-overlap
    computation, and decontaminate() is its exact complement."""
    from malstrom_spark.functions.dedup import contaminated_ids, decontaminate

    n = 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    bdf = spark.createDataFrame([(i, t) for i, t in enumerate(bench)], "bid long, text string")
    bench_grams = set().union(*(_py_grams(t, n) for t in bench))
    want = {i for i, t in enumerate(corpus) if _py_grams(t, n) & bench_grams}
    got = {r.doc_id for r in contaminated_ids(docs, bdf, "doc_id", ngram_n=n).collect()}
    assert got == want
    kept = {r.doc_id for r in decontaminate(docs, bdf, "doc_id", ngram_n=n).collect()}
    assert kept == set(range(len(corpus))) - want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=24), st.integers(min_value=0, max_value=24)),
        min_size=0,
        max_size=40,
    )
)
def test_dedup_groups_matches_union_find(spark, edge_list):
    """Connected-component labels (large-star/small-star) vs a
    plain-Python union-find on arbitrary hypothesis graphs — including
    self-loops, duplicate and reversed edges, and isolated nodes — with
    the CC forced to finish on the driver and in Spark rounds."""
    from conftest import force_cc_finish

    from malstrom_spark.functions.dedup import dedup_groups

    n = 25
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}

    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edge_list] or [(0, 0)], "id_a long, id_b long"
    )
    for mode in ("driver", "rounds"):
        with force_cc_finish(mode) as cc:
            got = {r.doc_id: r.group_id for r in dedup_groups(pairs, ids, "doc_id").collect()}
        assert got == want, mode
        cc.assert_path()


_LINE = st.lists(
    st.sampled_from(["alpha", "beta", "gamma.", "x!", "javascript", "ok?", '"q"', "{"]),
    min_size=0,
    max_size=6,
).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_LINE, min_size=1, max_size=5))
def test_clean_lines_matches_python(spark, lines):
    """clean_lines vs a plain-Python reimplementation of the C4 rules
    on hypothesis-generated multi-line docs."""
    import re

    from malstrom_spark.functions.corpus import clean_lines

    text = "\n".join(lines)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = {r.doc_id: (r.n_lines, r.n_kept, r.cleaned) for r in clean_lines(df, "doc_id").collect()}

    lt = text.lower()
    if "lorem ipsum" in lt or "{" in lt:
        want = {}
    else:
        kept = [
            ln
            for ln in text.split("\n")
            if len(re.split(r"\s+", ln.strip())) >= 3
            and re.search(r'[.!?"]$', ln)
            and "javascript" not in ln.lower()
        ]
        want = {0: (len(text.split("\n")), len(kept), "\n".join(kept))} if kept else {}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=30))
def test_pack_sequences_matches_python(spark, token_counts):
    """pack_sequences (single shard) vs a plain-Python concat-and-chunk
    layout, including zero-token docs and boundary-straddling docs."""
    from malstrom_spark.functions.corpus import pack_sequences

    seq_len = 128
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(token_counts)], "doc_id long, n_tokens long"
    )
    got = {
        r.doc_id: (r.seq_id, r.start_offset, r.crosses_boundary)
        for r in pack_sequences(df, "doc_id", "n_tokens", seq_len, n_shards=1).collect()
    }
    acc, want = 0, {}
    for i, n in enumerate(token_counts):
        start, end = acc, acc + n
        want[i] = (
            start // seq_len,
            start % seq_len,
            n > 0 and (end - 1) // seq_len > start // seq_len,
        )
        acc = end
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["alpha beta.", "gamma delta.", "shared para.", "  ", "x y z."]),
            min_size=0,
            max_size=4,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_dedup_paragraphs_matches_python(spark, doc_paras):
    """Paragraph dedup vs a direct Python replay of the rule: first
    (doc_id, idx) occurrence of each non-blank paragraph wins."""
    from malstrom_spark.functions.corpus import dedup_paragraphs

    sep = "\n\n"
    rows = [(i, sep.join(ps)) for i, ps in enumerate(doc_paras)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_paras, r.n_kept, r.cleaned)
        for r in dedup_paragraphs(df, "doc_id").collect()
    }

    seen: set = set()
    want = {}
    for i, text in rows:
        paras = [(j, p) for j, p in enumerate(text.split(sep)) if p.strip() != ""]
        kept = []
        for j, p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        if kept:
            want[i] = (len(paras), len(kept), sep.join(kept))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6),
        min_size=1,
        max_size=6,
    )
)
def test_lm_surprisal_matches_python(spark, token_lists):
    """Whole-bit surprisal vs a direct Python replay: fit on the docs
    themselves with no top-k truncation (tables small enough), score
    the same docs."""
    import math

    from malstrom_spark.functions.corpus import fit_bigram_lm, lm_surprisal

    rows = [(i, " ".join(ts)) for i, ts in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uni, bi = fit_bigram_lm(df, top_bigrams=1000, top_unigrams=1000)
    got = {
        r.doc_id: (r.n_bigrams, r.sum_bits)
        for r in lm_surprisal(df, "doc_id", uni, bi).collect()
    }

    # python model: same tokenizer (split on whitespace of trimmed
    # lower text; empty text -> [''])
    def toks(s):
        import re

        return re.split(r"\s+", s.strip().lower())

    uni_c: dict = {}
    bi_c: dict = {}
    for _, t in rows:
        ws = toks(t)
        for w in ws:
            uni_c[w] = uni_c.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bi_c[(a, b)] = bi_c.get((a, b), 0) + 1
    ut, bt = sum(uni_c.values()), sum(bi_c.values())

    def bits(total, cnt):
        return int(math.floor(math.log2(total / cnt)))

    want = {}
    for i, t in rows:
        ws = toks(t)
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            continue
        s = 0
        for a, b in pairs:
            if (a, b) in bi_c:
                s += bits(bt, bi_c[(a, b)])
            elif b in uni_c:
                s += 4 + bits(ut, uni_c[b])
            else:
                s += 24
        want[i] = (len(pairs), s)
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.lists(ASCII_TEXT, min_size=4, max_size=10), st.data())
def test_incremental_dedup_matches_batch_mode(spark, texts, data):
    """`dedup_against_history` (round 7) must flag exactly the batch
    docs that the from-scratch pair pipeline links across the
    history/batch split at the same parameters — the incremental store
    changes WHERE the joins happen, never the answer. Texts are drawn
    with replacement so cross-split duplicates actually occur."""
    from pyspark.sql import functions as F

    from malstrom_spark.functions import dedup

    n_docs = data.draw(st.integers(min_value=4, max_value=12))
    docs = [
        (i, data.draw(st.sampled_from(texts)))
        for i in range(n_docs)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    hist = df.filter(F.col("doc_id") % 3 != 0)
    batch = df.filter(F.col("doc_id") % 3 == 0)
    got = {
        r.doc_id: r.dup_of
        for r in dedup.dedup_against_history(
            batch,
            dedup.minhash_band_table(hist, "doc_id", max_bucket_size=None),
            dedup.shingle_hash_sets(hist, "doc_id"),
            "doc_id",
            threshold=0.5,
        ).collect()
    }
    pairs = dedup.near_dup_pairs_minhash(
        df, "doc_id", threshold=0.5, max_bucket_size=None
    ).collect()
    want = {}
    for r in pairs:
        for b, h in ((r.id_a, r.id_b), (r.id_b, r.id_a)):
            if b % 3 == 0 and h % 3 != 0:
                want[b] = min(want.get(b, h), h)
    assert got == want
