"""Trained char-n-gram language ID: fit parity, classification, and
agreement with the DuckDB rendering of the integer model."""

import duckdb
from pyspark.sql import functions as F

from malstrom_spark.functions.langid import (
    fit_from_counts,
    fit_ngram_lang_id,
    fit_ngram_lang_id_local,
    lang_id_arrow,
    lang_id_sql_consts,
    lang_id_sql_values,
)

CORPUS = {
    "en": [
        "the quick brown fox jumps over the lazy dog",
        "this is a simple english sentence with common words",
    ],
    "es": [
        "el rapido zorro marron salta sobre el perro perezoso",
        "esta es una frase sencilla con palabras comunes",
    ],
    "de": [
        "der schnelle braune fuchs springt uber den faulen hund",
        "dies ist ein einfacher satz mit haufigen wortern",
    ],
}


def test_distributed_fit_equals_local(spark):
    rows = [(lang, s) for lang, ss in sorted(CORPUS.items()) for s in ss]
    df = spark.createDataFrame(rows, "lang string, text string").repartition(4)
    dist = fit_ngram_lang_id(df, "text", "lang", n=2, top_grams=64)
    local = fit_ngram_lang_id_local(CORPUS, n=2, top_grams=64)
    assert dist == local


def test_classifies_unseen_sentences(spark):
    model = fit_ngram_lang_id_local(CORPUS, n=2)
    tests = [
        ("the cat sat on the mat and looked out of the window", "en"),
        ("el gato esta sobre la mesa y mira por la ventana", "es"),
        ("die katze sitzt auf dem tisch und schaut aus dem fenster", "de"),
    ]
    df = spark.createDataFrame(tests, "text string, want string")
    for r in lang_id_arrow(df, "text", model, out_col="pred").collect():
        assert r.pred == r.want, (r.want, r.pred)


def test_null_and_short_text_is_und(spark):
    model = fit_ngram_lang_id_local(CORPUS, n=2)
    rows = [(0, None), (1, ""), (2, "x"), (3, "   "), (4, " x\t ")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = [r.lang_pred for r in lang_id_arrow(df, "text", model).orderBy("id").collect()]
    assert got == ["und"] * len(rows)


def test_fit_from_counts_empty_raises():
    import pytest

    with pytest.raises(ValueError, match="empty"):
        fit_from_counts({}, 2)


def test_lang_id_is_shuffle_free(spark):
    model = fit_ngram_lang_id_local(CORPUS, n=2, top_grams=32)
    df = spark.createDataFrame([("hello there",)] * 3, "text string")
    plan = (
        lang_id_arrow(df, "text", model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_agreement_with_heuristic_on_documents(spark):
    """Both identifiers agree on clearly-English text; the trained
    model additionally separates the seeded es/de/fr sentences the
    marker heuristic has no markers for (numbers booked in
    BASELINE.md round-8)."""
    from malstrom_spark.functions.text import lang_guess

    model = fit_ngram_lang_id_local(CORPUS, n=2)
    df = spark.createDataFrame(
        [("the data table is fast and the query is simple",)],
        "text string",
    )
    r = lang_id_arrow(df, "text", model, out_col="trained").select(
        "trained", lang_guess(F.col("text")).alias("heur")
    ).collect()[0]
    assert r.trained == "en" and r.heur == "en"


def _duckdb_lang_id(model, rows):
    """{id: label} from the DuckDB rendering of `model` — the same
    normalization, gram-count join and (score DESC, language order)
    argmax the doc_lang_id_arrow oracle runs."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, txt VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = rf"""
    WITH w(lang, gram, wt) AS (VALUES {lang_id_sql_values(model)}),
    consts(lang, ord, oov, prior) AS (VALUES {lang_id_sql_consts(model)}),
    norm AS (
      SELECT id, trim(regexp_replace(lower(txt), '\s+', ' ', 'g')) AS s
      FROM t
    ),
    g AS (
      SELECT id, unnest(list_transform(
               range(1, greatest(length(s) - {model.n - 1}, 0) + 1),
               i -> substr(s, i, {model.n}))) AS gram
      FROM norm
    ),
    gc AS (SELECT id, gram, count(*) AS cnt FROM g GROUP BY id, gram),
    sc AS (
      SELECT gc.id, c.lang, c.ord,
             c.prior + sum(gc.cnt * coalesce(w.wt, c.oov)) AS score
      FROM gc CROSS JOIN consts c
      LEFT JOIN w ON w.lang = c.lang AND w.gram = gc.gram
      GROUP BY gc.id, c.lang, c.ord, c.prior
    ),
    pick AS (
      SELECT id, lang, row_number() OVER (
               PARTITION BY id ORDER BY score DESC, ord ASC) AS rk
      FROM sc
    )
    SELECT n.id, CASE WHEN length(n.s) < {model.n} THEN 'und'
                      ELSE coalesce(p.lang, 'und') END
    FROM norm n LEFT JOIN pick p ON n.id = p.id AND p.rk = 1
    """
    return dict(con.execute(sql).fetchall())


def test_lang_id_arrow_matches_duckdb_model(spark):
    """The Arrow scorer on the gate model equals the DuckDB rendering
    of the same integer model on every seed sentence and on the edge
    cases: NULL, empty and too-short text, whitespace collapse, a NBSP
    that must survive normalization, and upper case."""
    from malstrom_spark.queries.pipeline import (
        _LANGID_SENTENCES, _LANGID_TOP_GRAMS,
    )

    model = fit_ngram_lang_id_local(
        _LANGID_SENTENCES, n=2, top_grams=_LANGID_TOP_GRAMS
    )
    texts = [s for sents in _LANGID_SENTENCES.values() for s in sents]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [
        (900, None), (901, ""), (902, "x"),           # und paths
        (903, "  le chat  est\tsur le tapis  "),       # ws collapse
        (904, "der\u00a0hund ist hier"),               # NBSP survives
        (905, "THE CAT SAT ON THE MAT"),               # lower()
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.lang_pred for r in lang_id_arrow(df, "text", model).collect()}
    assert got == _duckdb_lang_id(model, rows)
    assert [got[i] for i in (900, 901, 902)] == ["und"] * 3
    assert (got[903], got[904], got[905]) == ("fr", "de", "en")
    assert all(got[i] == lang for i, lang in enumerate(
        lang for lang, sents in _LANGID_SENTENCES.items() for _ in sents
    ))


def test_lang_id_arrow_tie_breaks_to_earlier_language(spark):
    """Two languages with identical counts score every text equally;
    the earlier entry of model.langs wins, on both engines."""
    counts = {("aa", "ab"): 3, ("aa", "ba"): 1, ("bb", "ab"): 3, ("bb", "ba"): 1}
    rows = [(0, "abab"), (1, "zz top")]
    df = spark.createDataFrame(rows, "id long, text string")
    for langs in (["aa", "bb"], ["bb", "aa"]):
        model = fit_from_counts(counts, 2, langs=langs)
        got = {r.id: r.lang_pred for r in lang_id_arrow(df, "text", model).collect()}
        assert got == {0: langs[0], 1: langs[0]}
        assert got == _duckdb_lang_id(model, rows)
