"""Unigram-LM (SentencePiece-style) subword tokenization — the
likelihood-based alternative to functions/bpe.py's merge-based BPE
(Kudo 2018, "Subword Regularization: Improving Neural Network
Translation Models with Multiple Subword Candidates"; the `unigram`
model type of the public SentencePiece library).

Where BPE grows a vocabulary bottom-up by merging frequent pairs, the
unigram model starts from a LARGE seed vocabulary of candidate pieces
and fits piece probabilities by EM, encoding each word as its single
most-probable segmentation (Viterbi). This module is the Spark-first
rendering:

- **fit** mirrors bpe_fit's 100 TB shape: the only corpus-sized work
  is ONE word-count shuffle (map-side combined, optionally sampled);
  seeding and every EM round run over the BOUNDED word-type table
  (top `max_words` by count). EM rounds are distributed — each round
  broadcasts the current integer score table, computes per-word-type
  Viterbi piece counts in an Arrow mapInPandas pass, and aggregates
  them with a map-side-combinable integer SUM — so a round costs one
  bounded shuffle, and the per-round collect is bounded by the seed
  vocabulary size by contract (the k-means/PQ centroid discipline).
- **hard (Viterbi) EM, integer counts**: the E-step uses the argmax
  segmentation's counts, not the forward-backward posterior. That is
  a deliberate trade from Kudo's soft EM: integer occurrence counts
  are ORDER-FREE under distributed summation, so the distributed fit
  is bit-identical to the pure-Python twin (`unigram_fit_local`) —
  the langid/BM25 integer-exactness discipline. (Soft EM's float
  partial sums depend on reduction order.)
- **integer-quantized log-probs**: after each M-step, piece
  log-probabilities are quantized to MICRO-NATS (round(ln(c/C)*1e6)
  as BIGINT), so Viterbi comparisons everywhere — the encode UDF,
  the pure-Python reference, and the DuckDB oracle's unrolled DP —
  are integer arithmetic and agree bit for bit.
- **encode** is an Arrow pandas_udf with a per-batch distinct-word
  cache (the bpe_encode shape): Viterbi DP per distinct word, Zipf
  makes the cache hit rate ~= 1.

Determinism contract (pinned by tests and the SQL oracle):
- Viterbi tie-break: higher score, then the LONGER last piece.
- Characters outside the vocabulary segment as single-char pieces at
  `UNK_SCORE` (a penalty far below any real path, so real pieces are
  always preferred; coverage is total — encoding never fails).
- Words longer than `max_word_chars` bypass segmentation and emit
  whole as ONE piece (they are URLs/garbage in practice; the bound
  is what lets the oracle unroll the DP to a fixed depth).

The reference has no tokenizer (its surface is general closures,
SURVEY §2.8); this is north-star LLM-pipeline capability alongside
functions/bpe.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd  # noqa: F401  (pandas_udf closures resolve here)

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: log-prob quantization: micro-nats per unit
SCORE_SCALE = 1_000_000
#: per-character penalty for out-of-vocabulary characters — far below
#: any real piece score (ln p >= -35 for any piece seen once in 1e15
#: tokens), so UNK chars never displace a real segmentation
UNK_SCORE = -100 * SCORE_SCALE


@dataclass(frozen=True)
class UnigramModel:
    #: piece -> quantized log-prob (micro-nats, negative BIGINTs)
    scores: dict[str, int]
    max_piece_len: int
    max_word_chars: int


def _quantize(count: int, total: int) -> int:
    return round((math.log(count) - math.log(total)) * SCORE_SCALE)


def viterbi_word(
    word: str,
    scores: dict[str, int],
    max_piece_len: int,
    max_word_chars: int,
) -> list[str]:
    """The shared Viterbi core: best segmentation of one word under
    integer piece scores. Used verbatim by the encode UDF, the local
    fit twin, the distributed E-step, and the tests' reference."""
    n = len(word)
    if n == 0:
        return []
    if n > max_word_chars:
        return [word]
    # best[j] = (score, start_of_last_piece) for prefix word[:j]
    best_score = [0] * (n + 1)
    best_start = [0] * (n + 1)
    for j in range(1, n + 1):
        top_s: int | None = None
        top_i = 0
        # L ascending + >= replacement == tie-break to the LONGER
        # last piece (larger L wins ties)
        for L in range(1, min(j, max_piece_len) + 1):
            i = j - L
            piece = word[i:j]
            ps = scores.get(piece)
            if ps is None:
                if L != 1:
                    continue
                ps = UNK_SCORE
            sc = best_score[i] + ps
            if top_s is None or sc >= top_s:
                top_s, top_i = sc, i
        best_score[j] = top_s  # type: ignore[assignment]
        best_start[j] = top_i
    out: list[str] = []
    j = n
    while j > 0:
        i = best_start[j]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


# ------------------------------------------------------------- fit


def _viterbi_counts_local(
    word_counts: dict[str, int],
    scores: dict[str, int],
    max_piece_len: int,
    max_word_chars: int,
) -> dict[str, int]:
    """Hard-EM E-step over a word-frequency table: integer occurrence
    counts of each piece in each word's best segmentation, weighted
    by word count."""
    out: dict[str, int] = {}
    for w, c in word_counts.items():
        for p in viterbi_word(w, scores, max_piece_len, max_word_chars):
            out[p] = out.get(p, 0) + c
    return out


def _mstep(
    piece_counts: dict[str, int],
    seed_singles: set[str],
) -> dict[str, int]:
    """M-step: drop unused multi-char pieces, floor every seed single
    char at count 1 (total coverage survives pruning), re-quantize.
    Pure integer inputs -> deterministic scores."""
    counts = {
        p: c for p, c in piece_counts.items() if c > 0 and len(p) >= 1
    }
    for ch in seed_singles:
        counts.setdefault(ch, 1)
    total = sum(counts.values())
    return {p: _quantize(c, total) for p, c in sorted(counts.items())}


def _prune(
    piece_counts: dict[str, int],
    seed_singles: set[str],
    vocab_size: int,
) -> dict[str, int]:
    """Keep every single char plus the top multi-char pieces by
    (count DESC, piece ASC) until vocab_size."""
    singles = {p: c for p, c in piece_counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in piece_counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )
    room = max(vocab_size - len(singles) - len(seed_singles - set(singles)), 0)
    kept = dict(multi[:room])
    kept.update(singles)
    return kept


def _seed_counts_local(
    word_counts: dict[str, int],
    max_piece_len: int,
    seed_size: int,
) -> tuple[dict[str, int], set[str]]:
    """Seed vocabulary: every substring of length <= max_piece_len of
    every word type, weighted by word count; top seed_size by
    (count DESC, piece ASC) plus ALL single characters."""
    sub: dict[str, int] = {}
    for w, c in word_counts.items():
        n = len(w)
        for i in range(n):
            for L in range(1, min(max_piece_len, n - i) + 1):
                p = w[i : i + L]
                sub[p] = sub.get(p, 0) + c
    singles = {p for p in sub if len(p) == 1}
    ranked = sorted(sub.items(), key=lambda pc: (-pc[1], pc[0]))
    kept = dict(ranked[:seed_size])
    for ch in singles:
        kept.setdefault(ch, sub[ch])
    return kept, singles


def unigram_fit_local(
    word_counts: dict[str, int],
    vocab_size: int = 512,
    n_iters: int = 4,
    max_piece_len: int = 6,
    max_word_chars: int = 16,
    seed_size: int = 4096,
) -> UnigramModel:
    """Pure-Python fit twin over a word-frequency table — the
    import-time oracle-model builder (the train_merges role) and the
    reference the distributed fit is pinned bit-identical to."""
    seed, singles = _seed_counts_local(word_counts, max_piece_len, seed_size)
    scores = _mstep(seed, singles)
    for r in range(n_iters):
        counts = _viterbi_counts_local(
            word_counts, scores, max_piece_len, max_word_chars
        )
        if r == n_iters - 1:
            counts = _prune(counts, singles, vocab_size)
        scores = _mstep(counts, singles)
    return UnigramModel(scores, max_piece_len, max_word_chars)


def _word_counts_df(
    df: DataFrame,
    text_col: str,
    max_words: int,
    sample_fraction: float | None,
    seed: int,
    lowercase: bool,
) -> DataFrame:
    """(word, cnt) — the ONE corpus-sized aggregation (bpe_fit's
    shape), capped to the top max_words types by (cnt DESC, word
    ASC). limit() keeps it a DataFrame: EM rounds run over it
    distributed."""
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    words = df.where(F.col(text_col).isNotNull()).select(
        F.explode(toks).alias("word")
    )
    if lowercase:
        words = words.select(F.lower(F.col("word")).alias("word"))
    if sample_fraction is not None and sample_fraction < 1.0:
        words = words.sample(fraction=sample_fraction, seed=seed)
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(max_words)
    )


def unigram_fit(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 512,
    n_iters: int = 4,
    max_piece_len: int = 6,
    max_word_chars: int = 16,
    seed_size: int = 4096,
    max_words: int = 65536,
    sample_fraction: float | None = None,
    seed: int = 7,
    lowercase: bool = False,
) -> UnigramModel:
    """Distributed unigram-LM fit. Corpus-sized work: the one
    word-count shuffle. Everything after runs on the bounded
    word-type table: seeding is one substring-explode aggregate
    (JVM-side transform, no Python), each EM round one Arrow
    mapInPandas Viterbi-count pass + one integer-sum aggregate.
    Every collect is bounded (seed_size pieces / max_words types) by
    contract. Bit-identical to `unigram_fit_local` on the same word
    counts (integer counts are order-free; pinned by test)."""
    # LAZY checkpoint: materialized by the seeding collect below (its
    # scan computes every partition), so fit actions drop from 5 to 4;
    # EM rounds then read the same materialized blocks as before
    # (round 13, guide §1.2 fewer passes — OPTIMIZATION_r13.md,
    # "doc_tokenizer_fertility").
    wc = _word_counts_df(
        df, text_col, max_words, sample_fraction, seed, lowercase
    ).localCheckpoint(eager=False)  # reused by seeding + every round

    # seed: substring explode, JVM-side
    w = F.col("word")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.length(w) - i + 1),
                ),
                lambda L: F.substring(w, i, L),
            ),
        )
    )
    sub_counts = (
        wc.select(F.explode(subs).alias("piece"), F.col("cnt"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("c"))
    )
    # ONE action collects singles + top seed pieces (round-12: was
    # two). Both sides stay bounded (alphabet + seed_size); the true
    # top-seed_size set is recovered exactly on the driver — adding
    # the singles rows to the pool cannot change which pieces rank in
    # the top seed_size by (c desc, piece asc).
    pool_rows = (
        sub_counts.orderBy(F.desc("c"), F.asc("piece"))
        .limit(seed_size)
        .unionByName(sub_counts.where(F.length("piece") == 1))
        .collect()
    )
    pool = {r["piece"]: r["c"] for r in pool_rows}
    top = sorted(pool.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size]
    seed_counts = dict(top)
    singles = {p for p in pool if len(p) == 1}
    for p in singles:
        seed_counts.setdefault(p, pool[p])
    scores = _mstep(seed_counts, singles)

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [StructField("piece", StringType()), StructField("c", LongType())]
    )
    for r in range(n_iters):
        scores_local = dict(scores)  # closure-shipped (bounded)

        def estep(it):
            for pdf in it:
                agg: dict[str, int] = {}
                for word, cnt in zip(pdf["word"], pdf["cnt"]):
                    for p in viterbi_word(
                        word, scores_local, max_piece_len, max_word_chars
                    ):
                        agg[p] = agg.get(p, 0) + int(cnt)
                yield pd.DataFrame(
                    {"piece": list(agg), "c": list(agg.values())}
                )

        counts_rows = (
            wc.mapInPandas(estep, schema=out_schema)
            .groupBy("piece")
            .agg(F.sum("c").cast("long").alias("c"))
            .collect()
        )  # bounded by current vocab size
        counts = {r["piece"]: r["c"] for r in counts_rows}
        if r == n_iters - 1:
            counts = _prune(counts, singles, vocab_size)
        scores = _mstep(counts, singles)
    return UnigramModel(scores, max_piece_len, max_word_chars)


# ---------------------------------------------------------- encode


def unigram_encode(
    df: DataFrame,
    text_col: str,
    model: UnigramModel,
    out_col: str = "unigram_tokens",
    lowercase: bool = False,
) -> DataFrame:
    """Add `out_col` (array<string>): Viterbi pieces of the
    whitespace-pre-tokenized text (the bpe_encode shape — JVM-side
    split, Arrow pandas_udf per-word DP with a distinct-word cache).
    NULL text -> NULL; empty/whitespace-only -> empty array."""
    from pyspark.sql.functions import pandas_udf

    scores = dict(model.scores)
    mpl, mwc = model.max_piece_len, model.max_word_chars

    @pandas_udf("array<string>")
    def _enc(words_arr: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc_doc(words):
            if words is None:
                return None
            out: list[str] = []
            for w in words:
                t = cache.get(w)
                if t is None:
                    t = cache[w] = viterbi_word(w, scores, mpl, mwc)
                out.extend(t)
            return out

        return words_arr.map(enc_doc)

    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    lowered = F.transform(words, F.lower) if lowercase else words
    return df.withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
            _enc(lowered)
        ),
    )


# ------------------------------------------------------ persistence

#: bump when the (piece, score) layout changes; unigram_load refuses
#: newer-layout tables instead of mis-reading them
UNIGRAM_FORMAT_VERSION = 1


def _clear_orphaned_location(spark, table_name: str) -> None:
    """Remove a managed-table LOCATION left by a killed writer: the
    fresh (in-memory) catalog does not know the table, so DROP TABLE
    is a no-op, but saveAsTable still refuses to CREATE over the
    existing directory (LOCATION_ALREADY_EXISTS). Only fires when the
    catalog does NOT have the table — a registered table is handled
    by the DROP + overwrite path, never deleted behind the catalog's
    back."""
    import os
    import shutil
    import warnings
    from urllib.parse import urlparse

    if spark.catalog.tableExists(table_name):
        return
    parsed = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if parsed.scheme not in ("", "file"):
        # remote warehouse (hdfs://, s3://, ...): shutil cannot reach
        # it, and parsed.path would alias an unrelated LOCAL path —
        # never delete there; the writer will surface
        # LOCATION_ALREADY_EXISTS for the operator to resolve.
        return
    wh = parsed.path
    if not wh:
        return
    # managed-table layout: <wh>/<table> for the default database,
    # <wh>/<db>.db/<table> otherwise; the name may be db-qualified
    if "." in table_name:
        db, _, t = table_name.rpartition(".")
    else:
        db, t = spark.catalog.currentDatabase(), table_name
    sub = t.lower() if db == "default" else f"{db.lower()}.db/{t.lower()}"
    loc = f"{wh.rstrip('/')}/{sub}"
    if os.path.isdir(loc):
        warnings.warn(f"removing orphaned managed-table location {loc}")
        shutil.rmtree(loc, ignore_errors=True)


def unigram_save(spark, model: UnigramModel, table_name: str) -> None:
    """Persist the quantized model as a versioned stage table
    (piece, score, max_piece_len, max_word_chars, format_version) —
    the bpe_save/persist_stage discipline: fit once, every later
    encode job loads the table."""
    if not model.scores:
        raise ValueError("refusing to persist an empty model")
    rows = [
        (p, s, model.max_piece_len, model.max_word_chars,
         UNIGRAM_FORMAT_VERSION)
        for p, s in sorted(model.scores.items())
    ]
    df = spark.createDataFrame(
        rows,
        "piece string, score long, max_piece_len int, "
        "max_word_chars int, format_version int",
    )
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    _clear_orphaned_location(spark, table_name)
    df.write.mode("overwrite").format("parquet").saveAsTable(table_name)


def unigram_load(spark, table_name: str) -> UnigramModel:
    """Load a model persisted by `unigram_save`, validated: known
    format version, consistent params, non-null pieces — a
    partial/corrupt write fails loudly, never tokenizes differently."""
    rows = spark.table(table_name).collect()
    if not rows:
        raise ValueError(f"{table_name}: empty model table")
    vers = {r["format_version"] for r in rows}
    if vers != {UNIGRAM_FORMAT_VERSION}:
        raise ValueError(
            f"{table_name}: format_version {sorted(vers)} != "
            f"{UNIGRAM_FORMAT_VERSION} — refusing to mis-read"
        )
    mpls = {r["max_piece_len"] for r in rows}
    mwcs = {r["max_word_chars"] for r in rows}
    if len(mpls) != 1 or len(mwcs) != 1:
        raise ValueError(f"{table_name}: inconsistent model params")
    if any(r["piece"] is None or r["score"] is None for r in rows):
        raise ValueError(f"{table_name}: NULL piece/score row")
    return UnigramModel(
        {r["piece"]: r["score"] for r in rows}, mpls.pop(), mwcs.pop()
    )


# -------------------------------------------------- oracle plumbing


def unigram_sql_values(model: UnigramModel) -> str:
    """Render the quantized score table as DuckDB VALUES rows
    `(piece, ps)` for the oracle's Viterbi replay."""
    if not model.scores:
        raise ValueError("empty model has no SQL rendering")

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    return ", ".join(
        f"({q(p)}, {s})" for p, s in sorted(model.scores.items())
    )


def viterbi_sql_steps(model: UnigramModel) -> str:
    """Chained-CTE rendering of the IDENTICAL Viterbi DP for oracles
    (the pagerank_sql unrolling discipline): assumes CTEs
    `words(word)` (distinct, non-empty) and `v(piece, ps)` are in
    scope; emits CTEs d0..d{max_word_chars} plus `seg(word, toks)` —
    the best segmentation per word, with words longer than
    max_word_chars bypassing whole (the package contract). Step j
    unions one branch per piece length L (INNER join to v for L > 1,
    LEFT join + UNK fallback for L = 1) and keeps the best candidate
    by (score DESC, longer-last-piece DESC) — the exact tie-break
    viterbi_word implements."""
    mwc, mpl = model.max_word_chars, model.max_piece_len
    # MATERIALIZED is load-bearing: each d{i} is referenced by up to
    # max_piece_len later steps; DuckDB inlines plain CTEs per
    # reference, which re-executes the whole upstream tree (and
    # re-opens the scanned parquet) exponentially in depth
    ctes = [
        "d0 AS MATERIALIZED (SELECT word, CAST([] AS VARCHAR[]) AS toks,"
        " CAST(0 AS BIGINT) AS score FROM words)"
    ]
    for j in range(1, mwc + 1):
        branches = []
        for L in range(1, min(j, mpl) + 1):
            i = j - L
            sub = f"substr(p.word, {i + 1}, {L})"
            if L == 1:
                branches.append(f"""
      SELECT p.word, list_append(p.toks, {sub}) AS toks,
             p.score + coalesce(v.ps, {UNK_SCORE}) AS score
      FROM d{i} p LEFT JOIN v ON v.piece = {sub}
      WHERE length(p.word) >= {j}""")
            else:
                branches.append(f"""
      SELECT p.word, list_append(p.toks, {sub}) AS toks,
             p.score + v.ps AS score
      FROM d{i} p JOIN v ON v.piece = {sub}
      WHERE length(p.word) >= {j}""")
        union = " UNION ALL ".join(branches)
        ctes.append(f"""d{j} AS MATERIALIZED (
      SELECT word, toks, score FROM (
        SELECT word, toks, score,
               row_number() OVER (
                 PARTITION BY word
                 ORDER BY score DESC,
                          length(toks[len(toks)]) DESC) AS rn
        FROM ({union})
      ) WHERE rn = 1
    )""")
    finals = [
        f"SELECT word, toks FROM d{j} WHERE length(word) = {j}"
        for j in range(1, mwc + 1)
    ]
    finals.append(
        f"SELECT word, [word] AS toks FROM words WHERE length(word) > {mwc}"
    )
    ctes.append("seg AS (" + " UNION ALL ".join(finals) + ")")
    return ",\n    ".join(ctes)
