"""Full-text retrieval primitives: inverted-index build and BM25
top-k scoring — the retrieval side of a training-data platform
(dedup-aware corpus search, eval-set leakage triage, "find every doc
mentioning X" audits). The reference engine has no search operator;
the algorithms are the public textbook forms (Robertson/Spärck Jones
BM25 with the standard k1/b parameterization).

Engine-portability design (what makes the registry row hash-exact):
BM25 is a sum of per-term floating contributions, and floating SUMS
are order-sensitive — a naive double aggregation cannot match any
oracle. Here every (query-term, doc) contribution is computed from
bit-identical doubles (only correctly-rounded IEEE ops: the one
`ln` is quantized to 1e-4 immediately, so a last-ulp libm
disagreement would need to land within 1e-12 of a quantization
boundary to surface), floored to an integer micro-score, and SUMMED
AS BIGINT — exact and order-free. avgdl is likewise derived as
exact-BIGINT sum / exact count (one correctly-rounded division), not
a double AVG.

100 TB shape:
- `inverted_index` is one explode + one (term, doc) count whose
  partial combine runs map-side; doc length rides along from
  `size(tokens)` (no second pass over text).
- `bm25_topk` never materializes the corpus-wide df table: the query
  relation (a handful of rows) CROSS-broadcasts onto the corpus, tf
  comes from a pure Column filter over the token array (zero
  shuffle), df is counted only for query terms, and corpus stats are
  a one-row broadcast. The only data-sized shuffle is the candidate
  top-k reduction, which `topk_per_key` does skew-safely: a first
  row_number window keyed by (query, input-partition) bounds any
  single task at partition size, a second window sees <= k rows per
  (query, partition) — no mega-query single-task sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _tokens_cheap


def inverted_index(
    docs: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Postings: one row per (term, doc) with the term frequency and
    the document length. ONE shuffle (the (term, doc) count; partial
    combine map-side); dl is computed before the explode so no second
    text pass is needed."""
    toks = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), _tokens_cheap(F.col(text_col)).alias("__t")
    ).where(F.size("__t") > 0)
    return (
        toks.select(
            id_col,
            F.size("__t").cast("long").alias("dl"),
            F.explode("__t").alias("term"),
        )
        .groupBy("term", id_col)
        .agg(F.count("*").cast("long").alias("tf"), F.first("dl").alias("dl"))
        .select("term", id_col, "tf", "dl")
    )


def term_doc_frequency(postings: DataFrame) -> DataFrame:
    """(term, df) from a postings relation — one count aggregation."""
    return postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))


def doc_stats(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, dl) for every indexable doc (non-null text, >= 1 token) —
    the doc-level half of the index state: N and avgdl derive from it
    by one tiny aggregation at serving time. Same tokenizer and same
    emptiness rule as `inverted_index`, so the pair is consistent.
    When the postings already exist, use `doc_stats_from_postings`
    instead — it derives the same relation WITHOUT a second tokenize
    pass over the text."""
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), _tokens_cheap(F.col(text_col)).alias("__t"))
        .where(F.size("__t") > 0)
        .select(id_col, F.size("__t").cast("long").alias("dl"))
    )


def doc_stats_from_postings(postings: DataFrame, id_col: str) -> DataFrame:
    """(id, dl) derived from a postings relation — every indexable doc
    has >= 1 posting row carrying its dl, so this is one distinct over
    two small columns instead of re-tokenizing the corpus (the second
    text pass the index build otherwise pays twice)."""
    return postings.select(id_col, "dl").distinct()


def merge_index(
    postings_parts: list[DataFrame], doc_stats_parts: list[DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """Combine per-batch index states into one: postings and doc-stats
    union by name — NO aggregation needed, because (term, doc) rows
    from disjoint doc batches cannot collide. Contract: batch doc sets
    are disjoint (re-crawled/updated docs must be cdc-compacted to
    latest images BEFORE indexing, exactly like dedup_against_history
    expects a deduped batch). This is what makes the search index an
    incrementally-maintainable view: a daily batch contributes its own
    postings; history is never re-tokenized — the incremental.py
    merge discipline applied to retrieval. Persist both parts via
    persist_stage (postings bucketed on term) so serving joins prune."""
    if not postings_parts or not doc_stats_parts:
        raise ValueError("merge_index needs at least one part on each side")
    p = postings_parts[0]
    for x in postings_parts[1:]:
        p = p.unionByName(x)
    s = doc_stats_parts[0]
    for x in doc_stats_parts[1:]:
        s = s.unionByName(x)
    return p, s


def update_index(
    postings: DataFrame,
    doc_stats_df: DataFrame,
    fresh_docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    deleted_ids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Delete-and-replace index maintenance for RE-CRAWLED docs —
    the update path `merge_index` cannot take (its batches must be
    doc-disjoint). Every doc id present in `fresh_docs` (or in
    `deleted_ids`) has its OLD postings and doc-stats anti-joined
    away before the freshly-indexed batch is unioned in: the
    cdc-compaction discipline applied to the index itself, so the
    served index is exactly what a full rebuild over the updated
    corpus would produce (pinned by the doc_bm25_updated registry row
    reusing the full-corpus oracle verbatim).

    Tombstones come in two forms, both handled: an id in
    `deleted_ids` (explicit delete), and a fresh doc whose new text
    is NULL/empty (a re-crawl that 404'd) — the id is touched, so old
    postings vanish, and the empty doc contributes no new rows. This
    is why the function takes the fresh DOCS, not pre-built fresh
    postings: the touched set must be the re-crawled ID set,
    which a postings relation would silently drop empty docs from.

    100 TB shape: the touched-id set is broadcast (a daily recrawl
    batch is small next to the accumulated index), so the anti-joins
    are broadcast hash joins, i.e. a map-side filter that preserves
    the persisted postings' term-bucketed layout with NO exchange;
    the union'd fresh rows are not term-bucketed until the next
    compaction (persist_stage rewrite), exactly like any LSM-shaped
    delta."""
    touched = fresh_docs.select(id_col).distinct()
    if deleted_ids is not None:
        touched = touched.unionByName(
            deleted_ids.select(id_col)
        ).distinct()
    touched = F.broadcast(touched)
    fresh_p = inverted_index(fresh_docs, id_col, text_col)
    fresh_s = doc_stats_from_postings(fresh_p, id_col)
    # USING joins move the key column to the front — restore the
    # input column order so updated state unions cleanly with
    # previously persisted index parts
    p = (
        postings.join(touched, id_col, "left_anti")
        .select(*postings.columns)
        .unionByName(fresh_p.select(*postings.columns))
    )
    s = (
        doc_stats_df.join(touched, id_col, "left_anti")
        .select(*doc_stats_df.columns)
        .unionByName(fresh_s.select(*doc_stats_df.columns))
    )
    return p, s


def bm25_topk_from_index(
    postings: DataFrame,
    doc_stats_df: DataFrame,
    queries: DataFrame,
    id_col: str,
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k served FROM THE INDEX instead of the raw corpus —
    the production serving path once `inverted_index`/`doc_stats`
    states are persisted: tf comes straight off the postings rows
    (query terms broadcast-joined onto them — with term-bucketed
    postings the scan prunes to the query's terms), df is one count
    over those matches, corpus stats are one tiny aggregate of the
    doc-stats table. The scoring arithmetic is BIT-IDENTICAL to
    `bm25_topk` (same quantized-idf micro-integer contributions, same
    skew-safe top-k), so serving from a merged incremental index
    returns EXACTLY the full-corpus answer — proven by the
    doc_bm25_incremental registry row reusing doc_bm25_search's
    oracle verbatim."""
    stats = doc_stats_df.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("dl").alias("__sumdl"),
    )
    qterms = (
        queries.select(
            F.col(query_id_col),
            F.explode(_tokens_cheap(F.col(query_text_col))).alias("term"),
        )
        .distinct()
    )
    # Push the query's terms INTO the postings scan: queries are a
    # handful of rows by contract (bm25_topk already broadcasts them),
    # so this collect is construction-time-bounded, and the isin
    # filter reaches the parquet reader as a PushedFilter — a
    # persisted postings table is then read only where the query's
    # terms live, instead of scanning the whole index to feed the
    # broadcast join (plan-pinned in tests/test_search.py). The
    # collect snapshots `queries` at construction time and launches a
    # job — the queries relation must therefore be DETERMINISTIC
    # (re-evaluation contract).
    terms_local = sorted(
        {r["term"] for r in qterms.select("term").distinct().collect()}
    )
    pruned = postings.where(F.col("term").isin(terms_local))
    matches = (
        pruned.join(F.broadcast(qterms), "term")
        .select(
            query_id_col, "term", id_col,
            F.col("dl").alias("__dl"), F.col("tf"),
        )
    )
    dft = matches.groupBy(query_id_col, "term").agg(
        F.count("*").cast("long").alias("__df")
    )
    n = F.col("__n").cast("double")
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")
    idf_q = F.floor(
        F.log((n - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
              + F.lit(1.0)) * F.lit(10000.0)
    ).cast("long")
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("__dl") / avgdl))
    )
    contrib = F.floor(idf_q.cast("double") * tf_part * F.lit(100.0)).cast("long")

    scored = (
        matches.join(F.broadcast(dft), [query_id_col, "term"])
        .crossJoin(F.broadcast(stats))
        .select(query_id_col, id_col, contrib.alias("__c"))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__c").alias("__s"))
    )
    top = topk_per_key(
        scored, [query_id_col], [F.desc("__s"), F.asc(id_col)], k
    )
    return top.select(
        query_id_col,
        F.col("rank").cast("long").alias("rank"),
        id_col,
        (F.col("__s").cast("double") / F.lit(1_000_000.0)).alias("score"),
    )


def topk_per_key(
    df: DataFrame, key_cols: list[str], order_by: list[Column], k: int
) -> DataFrame:
    """Exact top-k per key without a mega-key single-task sort:
    stage 1 ranks within (key, spark_partition_id) — every task sees
    at most one input partition; stage 2 ranks the <= k-per-partition
    survivors. order_by must be a TOTAL order (add a unique tiebreak)
    or ranks are nondeterministic."""
    w1 = Window.partitionBy(*key_cols, "__pid").orderBy(*order_by)
    local = (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__rn", F.row_number().over(w1))
        .where(F.col("__rn") <= k)
        .drop("__pid", "__rn")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        local.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k docs per query by BM25. Output: query_id, rank, doc_id
    (named `id_col`), score (DOUBLE, exact micro-integer sum / 1e6).

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)), quantized to
    floor(idf * 1e4); per-term contribution floored to micro units
    and summed as BIGINT (see module doc for why).

    The corpus is scanned three times (matches, df-count, stats) —
    Catalyst does not dedupe common DataFrame subtrees — but each
    scan is column-pruned to the text column and fully codegen; the
    token arrays themselves never cross an Exchange, which is what
    matters at 100 TB (scans parallelize for free, shuffles don't)."""
    toks = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), _tokens_cheap(F.col(text_col)).alias("__t")
    ).where(F.size("__t") > 0)
    d = toks.select(id_col, "__t", F.size("__t").cast("long").alias("__dl"))

    stats = d.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__dl").alias("__sumdl"),
    )

    qterms = (
        queries.select(
            F.col(query_id_col),
            F.explode(_tokens_cheap(F.col(query_text_col))).alias("term"),
        )
        .distinct()
    )

    # tf for query terms only: broadcast cross join + array filter —
    # the corpus is scanned once and never shuffled here
    matches = (
        d.crossJoin(F.broadcast(qterms))
        .select(
            query_id_col,
            "term",
            id_col,
            "__dl",
            F.size(
                F.filter("__t", lambda x: x == F.col("term"))
            ).cast("long").alias("tf"),
        )
        .where(F.col("tf") > 0)
    )

    dft = matches.groupBy(query_id_col, "term").agg(
        F.count("*").cast("long").alias("__df")
    )

    n = F.col("__n").cast("double")
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")
    idf_q = F.floor(
        F.log((n - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
              + F.lit(1.0)) * F.lit(10000.0)
    ).cast("long")
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("__dl") / avgdl))
    )
    contrib = F.floor(idf_q.cast("double") * tf_part * F.lit(100.0)).cast("long")

    scored = (
        matches.join(F.broadcast(dft), [query_id_col, "term"])
        .crossJoin(F.broadcast(stats))
        .select(query_id_col, id_col, contrib.alias("__c"))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__c").alias("__s"))
    )
    top = topk_per_key(
        scored, [query_id_col], [F.desc("__s"), F.asc(id_col)], k
    )
    return top.select(
        query_id_col,
        F.col("rank").cast("long").alias("rank"),
        id_col,
        (F.col("__s").cast("double") / F.lit(1_000_000.0)).alias("score"),
    )


# --------------------------------------------- positional / phrase search
def positional_postings(
    docs: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Position-augmented postings: one row per token OCCURRENCE —
    (term, id, pos) with pos 1-based. The phrase/proximity operators
    need positions, which the tf-only `inverted_index` deliberately
    drops. Same tokenizer as the whole retrieval family
    (`_tokens_cheap`), one explode, no shuffle; persist bucketed by
    term for repeated serving (persist_stage discipline)."""
    toks = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.posexplode(_tokens_cheap(F.col(text_col))).alias("__p", "term")
    )
    return toks.select(
        "term", id_col, (F.col("__p") + 1).cast("long").alias("pos")
    )


def phrase_matches(
    postings: DataFrame,
    phrases: DataFrame,
    id_col: str,
    phrase_id_col: str = "phrase_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Exact phrase occurrences for a batch of phrases in ONE pass.

    phrases: (phrase_id, terms array<string>) — small by contract
    (a query workload), broadcast.

    Relational form (no per-phrase join chain): explode each phrase
    into (phrase_id, off, term, n_terms); an occurrence of phrase p
    starting at position s exists iff for EVERY offset o the posting
    (term = p[o], pos = s + o) exists — i.e. the (postings ⋈ terms)
    rows grouped by (phrase_id, doc, s = pos - off) cover all
    n_terms DISTINCT offsets (distinct handles repeated words inside
    a phrase). One broadcast join on term (Catalyst prunes the
    postings scan to query terms) + one count-distinct aggregation —
    phrase length never adds joins, and nothing is corpus-quadratic.

    Returns (phrase_id, id, start_pos) per occurrence.
    """
    q = phrases.select(
        phrase_id_col,
        F.size(terms_col).cast("long").alias("__n_terms"),
        F.posexplode(terms_col).alias("__off", "term"),
    )
    hits = postings.join(F.broadcast(q), "term").select(
        phrase_id_col,
        F.col(id_col),
        (F.col("pos") - F.col("__off")).alias("start_pos"),
        "__off",
        "__n_terms",
    ).where(F.col("start_pos") >= 1)
    return (
        hits.groupBy(phrase_id_col, id_col, "start_pos")
        .agg(
            F.countDistinct("__off").alias("__hit"),
            F.first("__n_terms").alias("__n_terms"),
        )
        .where(F.col("__hit") == F.col("__n_terms"))
        .select(phrase_id_col, id_col, "start_pos")
    )


def proximity_matches(
    postings: DataFrame,
    term_a: str,
    term_b: str,
    window: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Co-occurrence within a token window: (id, pos_a, pos_b) for
    every pair of occurrences with |pos_a - pos_b| <= window and
    pos_a <> pos_b. Term filters push to the postings scan; the join
    is doc-keyed over the two tiny filtered slices."""
    a = postings.where(F.col("term") == term_a).select(id_col, F.col("pos").alias("pos_a"))
    b = postings.where(F.col("term") == term_b).select(id_col, F.col("pos").alias("pos_b"))
    return a.join(b, id_col).where(
        (F.abs(F.col("pos_a") - F.col("pos_b")) <= window)
        & (F.col("pos_a") != F.col("pos_b"))
    )
