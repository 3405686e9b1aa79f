"""Trained character-n-gram language identifier.

`text.lang_guess` is a stopword-marker heuristic; production
pipelines run a TRAINED model (CCNet/cld3/fastText-style). This is
the Spark-first equivalent at 100 TB: a multinomial naive-Bayes
model over character n-grams whose log-probabilities are quantized
to INTEGERS at fit time, so inference is pure int64 arithmetic —
bit-identical on every engine (no float drift at all, a strictly
stronger portability trick than the quality classifier's
ordered-double sums) and therefore oracle-exact.

Fit (distributed): one groupBy over (lang, gram) counts of the
labeled corpus, capped to the top `top_grams` grams per language
(bounded TakeOrdered collect — same construction-time-small shape as
bpe_fit / k-means), then pure-Python weight derivation:

    w[lang][gram] = round(SCALE * ln((c+1) / (N_lang + V)))
    oov[lang]     = round(SCALE * ln(  1   / (N_lang + V)))
    prior[lang]   = round(SCALE * ln(N_lang / N))

with V = |global gram vocabulary| (add-one smoothing). The floats
exist only on the driver during fit; the MODEL is integers.

Apply (zero shuffle): `lang_id_arrow`, one Arrow-batched pandas_udf.
Per language, score = prior + sum over the doc's gram positions of
weight[gram] (oov for unseen grams), looked up in a broadcast
gram -> weight-vector dict; argmax with a fixed language-order
tie-break. Scoring by POSITION makes per-gram counting unnecessary
(sum of weights over positions == sum of count*weight over distinct
grams). The DuckDB rendering of the same model (`lang_id_sql_values`,
`lang_id_sql_consts`) is the oracle.

The reference has no language ID (SURVEY §2.8 — absent scalar
library); north-star capability like functions/text.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1000


@dataclass(frozen=True)
class LangIdModel:
    """Integer-weight char-n-gram NB model. `langs` order is the
    argmax tie-break (first wins)."""

    n: int
    langs: tuple[str, ...]
    weights: dict[str, dict[str, int]] = field(repr=False)
    oov: dict[str, int] = field(repr=False)
    prior: dict[str, int] = field(repr=False)


def _normalize(col: Column) -> Column:
    """lower + whitespace runs collapsed to one space + trim — the
    gram alphabet every engine reproduces byte-for-byte."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fit_from_counts(
    counts: dict[tuple[str, str], int], n: int, langs: list[str] | None = None
) -> LangIdModel:
    """Pure-Python core shared by the distributed fit and the oracle
    side: (lang, gram) -> count table in, integer model out.
    Deterministic: sorted iteration everywhere, round-half-even on
    the quantization (Python round on a float — both sides call THIS
    function, so even the rounding mode is shared, not re-derived)."""
    if langs is None:
        langs = sorted({lang for lang, _ in counts})
    vocab = sorted({g for _, g in counts})
    v = len(vocab)
    n_lang = {
        lang: sum(c for (l1, _), c in counts.items() if l1 == lang)
        for lang in langs
    }
    n_total = sum(n_lang.values())
    if n_total == 0:
        raise ValueError("empty training counts")
    weights: dict[str, dict[str, int]] = {}
    oov: dict[str, int] = {}
    prior: dict[str, int] = {}
    for lang in langs:
        denom = n_lang[lang] + v
        weights[lang] = {
            g: round(SCALE * math.log((counts.get((lang, g), 0) + 1) / denom))
            for g in vocab
        }
        oov[lang] = round(SCALE * math.log(1.0 / denom))
        prior[lang] = round(
            SCALE * math.log(max(n_lang[lang], 1) / n_total)
        )
    return LangIdModel(n, tuple(langs), weights, oov, prior)


def fit_ngram_lang_id(
    df: DataFrame,
    text_col: str,
    lang_col: str,
    n: int = 2,
    top_grams: int = 256,
) -> LangIdModel:
    """Distributed fit: normalize, explode positional char n-grams,
    ONE (lang, gram) count aggregation, top `top_grams` grams per
    language (count DESC, gram ASC — deterministic), bounded collect,
    then `fit_from_counts`. The corpus-sized work is exactly one
    shuffle; everything after is O(langs x top_grams)."""
    s = _normalize(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - n + 1, F.lit(0))),
        lambda i: F.substring(s, i, n),
    )
    from pyspark.sql import Window

    counted = (
        df.where(F.col(text_col).isNotNull() & F.col(lang_col).isNotNull())
        .select(F.col(lang_col).alias("lang"), F.explode(grams).alias("gram"))
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("gram"))
    rows = (
        counted.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= top_grams)
        .collect()
    )
    return fit_from_counts({(r.lang, r.gram): r.cnt for r in rows}, n)


def lang_id_arrow(
    df: DataFrame,
    text_col: str,
    model: LangIdModel,
    out_col: str = "lang_pred",
) -> DataFrame:
    """Predicted language per row: one Arrow-batched pandas_udf
    scoring against a BROADCAST {gram -> weight-vector} dict — O(1)
    hash lookups per gram position. (A Column form that folded over a
    literal gram map paid a linear scan of the vocabulary per
    position: 6.42 s vs 1.72 s on the sf0.1 gate row; it is deleted.)
    Integer arithmetic end to end, so predictions equal the DuckDB
    rendering of the model (`lang_id_sql_values`) bit for bit.
    Normalization is lower, whitespace runs to one space, trim;
    ties break to the earlier entry in model.langs; NULL text and
    text shorter than n after normalization -> 'und'."""
    import re as _re

    import numpy as np

    langs = list(model.langs)
    n = model.n
    vocab = sorted(set().union(*(model.weights[l] for l in langs)))
    W = {
        g: np.array(
            [model.weights[l].get(g, model.oov[l]) for l in langs],
            dtype=np.int64,
        )
        for g in vocab
    }
    oov = np.array([model.oov[l] for l in langs], dtype=np.int64)
    prior = np.array([model.prior[l] for l in langs], dtype=np.int64)
    bc = df.sparkSession.sparkContext.broadcast((W, oov, prior, langs, n))
    # re.ASCII: Java's \s is ASCII-only while Python's is unicode-aware
    # — a NBSP must survive both engines identically; likewise Spark's
    # trim strips SPACES only, hence strip(' ') not strip()
    ws_re = _re.compile(r"\s+", _re.ASCII)

    @F.pandas_udf("string")
    def _score(texts: pd.Series) -> pd.Series:
        Wd, oovv, priorv, ls, nn = bc.value
        out = []
        for t in texts:
            if t is None:
                out.append("und")
                continue
            s = ws_re.sub(" ", t.lower()).strip(" ")
            if len(s) < nn:
                out.append("und")
                continue
            tot = priorv.copy()
            for i in range(len(s) - nn + 1):
                tot += Wd.get(s[i:i + nn], oovv)
            # first-max = earlier-language tie-break
            out.append(ls[int(np.argmax(tot))])
        return pd.Series(out)

    return df.withColumn(out_col, _score(F.col(text_col)))


def lang_id_sql_values(model: LangIdModel) -> str:
    """Render (lang, gram, w) weight rows as DuckDB VALUES — the
    oracle joins doc grams against this and adds the per-language
    oov/prior rendered by `lang_id_sql_consts`."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = []
    for lang in model.langs:
        for g in sorted(model.weights[lang]):
            rows.append(f"({q(lang)}, {q(g)}, {model.weights[lang][g]})")
    return ", ".join(rows)


def lang_id_sql_consts(model: LangIdModel) -> str:
    """Render (lang, ord, oov, prior) VALUES rows (ord = tie-break
    rank in model.langs order)."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    return ", ".join(
        f"({q(lang)}, {i}, {model.oov[lang]}, {model.prior[lang]})"
        for i, lang in enumerate(model.langs)
    )


def fit_ngram_lang_id_local(
    texts_by_lang: dict[str, list[str]],
    n: int = 2,
    top_grams: int = 256,
) -> LangIdModel:
    """Pure-Python twin of `fit_ngram_lang_id` (same normalization,
    same positional grams, same per-language top-grams cap with the
    same (count DESC, gram ASC) tie-break) — the oracle side derives
    the model with THIS at import time; a pytest pins it equal to the
    distributed fit over the same corpus."""
    import re

    counts: dict[tuple[str, str], int] = {}
    for lang in sorted(texts_by_lang):
        for t in texts_by_lang[lang]:
            s = re.sub(r"\s+", " ", t.lower()).strip()
            for i in range(len(s) - n + 1):
                g = s[i : i + n]
                counts[(lang, g)] = counts.get((lang, g), 0) + 1
    capped: dict[tuple[str, str], int] = {}
    for lang in sorted(texts_by_lang):
        items = sorted(
            ((g, c) for (l1, g), c in counts.items() if l1 == lang),
            key=lambda x: (-x[1], x[0]),
        )[:top_grams]
        for g, c in items:
            capped[(lang, g)] = c
    return fit_from_counts(capped, n)
