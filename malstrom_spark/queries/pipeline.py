"""LLM-data-pipeline query surface: text analysis, deduplication,
similarity search over the driver's `documents` and `embeddings`
tables. Oracles are pure-SQL re-derivations in DuckDB where the
algorithm is portable; hash-based ops (MinHash/SimHash, xxhash64
inside) get rows-only checks, with their *verification* stages
(exact Jaccard / Hamming) oracle-checked separately where possible.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import bpe as _bpe
from ..functions import corpus, dedup, multimodal, similarity, text
from ..scale import ensure_parallelism, ivf_salt
from . import REGISTRY, register, table
from ._oracle_sql import (
    H60 as _H60,
)
from ._oracle_sql import (
    ann_ivf_hier_oracle,
    ann_ivf_oracle,
    ann_ivf_updated_oracle,
    ann_lsh_oracle,
    ann_pq_oracle,
    decontaminate_oracle,
    dedup_clusters_oracle,
    embedding_near_dup_lsh_oracle,
    fingerprint_sketch_oracle,
    exact_substring_dedup_oracle,
    fuzzy_decontaminate_oracle,
    incremental_minhash_oracle,
    minhash_lsh_oracle,
    remove_repeated_spans_oracle,
    repeated_windows_oracle,
    simhash_oracle,
    training_pipeline_oracle,
)


# ------------------------------------------------- text statistics
@register(
    "doc_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS token_count,
           CAST(length(text) AS BIGINT) AS char_count,
           CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS alpha_ratio,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_count,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def doc_text_stats(spark, sf_dir):
    """Text-analysis operators (functions/text.py): token/char counts,
    alpha ratio, digit count, md5 fingerprint — all native Column
    exprs, zero Python, so the 100 TB scan stays in codegen."""
    docs = table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(c).alias("token_count"),
        text.char_count(c).alias("char_count"),
        text.alpha_ratio(c).alias("alpha_ratio"),
        text.digit_count(c).alias("digit_count"),
        text.fingerprint(c).alias("fingerprint"),
    )


# ------------------------------------------------- language ID
@register(
    "doc_lang_guess",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_intersect(string_split_regex(trim(lower(text)), '\\s+'),
            ['the','and','of','to','a','in','is'])) AS s_en,
        len(list_intersect(string_split_regex(trim(lower(text)), '\\s+'),
            ['el','la','de','que','y','en','los'])) AS s_es,
        len(list_intersect(string_split_regex(trim(lower(text)), '\\s+'),
            ['der','die','und','das','ist','ein','nicht'])) AS s_de,
        len(list_intersect(string_split_regex(trim(lower(text)), '\\s+'),
            ['le','la','les','et','des','un','est'])) AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                ELSE 'fr' END AS lang_guess
    FROM scored
    """,
)
def doc_lang_guess(spark, sf_dir):
    """Heuristic language ID (functions/text.py lang_guess): marker-set
    intersection scoring, fixed tie order en>es>de>fr."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", text.lang_guess(F.col("text")).alias("lang_guess"))


# ------------------------------------------------- exact dedup
@register(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_docs(spark, sf_dir):
    """Exact dedup (functions/dedup.py exact_dedup): one shuffle on the
    md5 fingerprint, min-id survivor per duplicate group."""
    docs = table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id")


# ------------------------------------------------- near-dup: jaccard verify
@register("dedup_minhash_lsh", oracle=minhash_lsh_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pipeline (functions/dedup.py): shingle ->
    32-perm signature -> 8-band buckets -> exact-Jaccard verify >=0.5.
    Portable 60-bit md5-prefix hashing end to end, so the DuckDB
    oracle recomputes the identical signatures, buckets and candidate
    set — the LSH *mechanism* itself is hash-checked, not just the
    verified output."""
    docs = table(spark, sf_dir, "documents")
    return dedup.near_dup_pairs_minhash(
        docs, "doc_id", n_hashes=32, n_bands=8, threshold=0.5, portable=True
    )


@register("dedup_incremental", oracle=incremental_minhash_oracle())
def dedup_incremental(spark, sf_dir):
    """Incremental (daily-batch) near-dup dedup (functions/dedup.py
    dedup_against_history, round 7): documents split into history
    (doc_id % 5 != 0) and a new batch (% 5 == 0); the batch probes the
    history BAND STORE on (band, bhash) and verifies by exact
    shingle-set Jaccard against the history HASH-SET STORE — the shape
    where yesterday's 100 TB corpus is never re-deduped. Portable
    md5 hashing end to end, so the oracle recomputes the identical
    stores and candidate set."""
    docs = table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    bands = dedup.minhash_band_table(
        history, "doc_id", n_hashes=32, n_bands=8, portable=True,
        max_bucket_size=None,
    )
    hsets = dedup.shingle_hash_sets(history, "doc_id", portable=True)
    return dedup.dedup_against_history(
        batch, bands, hsets, "doc_id", threshold=0.5,
        n_hashes=32, n_bands=8, portable=True,
    )


@register("doc_repeated_windows", oracle=repeated_windows_oracle())
def doc_repeated_windows(spark, sf_dir):
    """Exact-substring dedup stats (functions/dedup.py
    substring_repetition_stats, round 7): per-doc fraction of 8-token
    windows that recur in >= 2 distinct documents — the
    span-granularity memorization surface doc-level near-dup passes
    cannot see (Lee et al. 2022). Portable md5 window hashes, so the
    oracle recomputes the identical positional hash stream."""
    docs = table(spark, sf_dir, "documents")
    return dedup.substring_repetition_stats(
        docs, "doc_id", window=8, min_docs=2, portable=True
    )


@register("dedup_simhash", oracle=simhash_oracle())
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs within Hamming distance 3 (functions/
    dedup.py simhash_near_dups): 60-bit portable SimHash, 15-bit chunk
    pigeonhole banding + bit_count verify — oracle recomputes the same
    hashes and chunks in SQL."""
    docs = table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs, "doc_id", max_hamming=3, portable=True)


@register("dedup_clusters", oracle=dedup_clusters_oracle())
def dedup_clusters(spark, sf_dir):
    """Cluster-output near-dup dedup (functions/dedup.py
    dedup_clusters) — the documented 100 TB default: one (doc_id,
    group_id, is_keeper) row per document, output LINEAR in corpus
    size (pair enumeration is quadratic in cluster depth — the sf10
    probe emitted 1.009B pairs). Pipeline: adaptive exact-collapse ->
    MinHash-LSH candidates + Jaccard verify on representatives ->
    large-star/small-star connected components (O(log n) rounds) ->
    member label join. Oracle: recursive-CTE transitive closure over
    the uncollapsed portable pair set."""
    docs = table(spark, sf_dir, "documents")
    return dedup.dedup_clusters(
        docs, "doc_id", method="minhash", n_hashes=32, n_bands=8,
        threshold=0.5, portable=True,
    )


# Scale-path twins of the two near-dup pipelines: identical dataflow
# but xxhash64 instead of the md5-prefix hash. The md5 variant exists
# ONLY so the DuckDB oracle can recompute signatures/buckets bit-for-
# bit (md5 is the one hash both engines share); a production corpus
# run uses these — xxhash64 is a single JVM intrinsic vs md5's
# digest + hex + base-conv chain (~3x cheaper per shingle, measured
# 3.9 s vs 11.6 s at sf0.1). bench.py times the scale path; the gate
# checks the portable twin end to end. Not oracle-expressible (DuckDB
# has no xxhash64), so oracle=None — candidacy/score logic is already
# hash-verified via the portable twins.
@register("dedup_minhash_lsh_scale", oracle=None)
def dedup_minhash_lsh_scale(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return dedup.near_dup_pairs_minhash(
        docs, "doc_id", n_hashes=32, n_bands=8, threshold=0.5, portable=False
    )


@register("dedup_simhash_scale", oracle=None)
def dedup_simhash_scale(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs, "doc_id", max_hamming=3, portable=False)


@register("dedup_clusters_scale", oracle=None)
def dedup_clusters_scale(spark, sf_dir):
    """xxhash64 SimHash-based cluster labeling — the production-path
    twin of `dedup_clusters` on the pipeline whose PAIR form blew up
    to 1.009B rows at sf10; cluster output stays one row per doc."""
    docs = table(spark, sf_dir, "documents")
    return dedup.dedup_clusters(
        docs, "doc_id", method="simhash", max_hamming=3, portable=False
    )


# ------------------------------------------------- repetition signals
@register(
    "doc_repetition_signals",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
    ),
    s AS (SELECT doc_id, t, len(t) AS n FROM tok),
    tstat AS (
      SELECT doc_id, n,
             CASE WHEN n >= 3 THEN n - 2 ELSE 0 END AS tt,
             CASE WHEN n >= 3 THEN len(list_distinct(list_transform(range(1, n - 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) ELSE 0 END AS td
      FROM s
    ),
    bi AS (
      SELECT doc_id, unnest(CASE WHEN n >= 2
        THEN list_transform(range(1, n), i -> concat_ws(' ', t[i], t[i+1]))
        ELSE [NULL] END) AS g
      FROM s
    ),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    top AS (
      SELECT doc_id, COALESCE(MAX(CASE WHEN g IS NOT NULL THEN c END), 0) AS topc
      FROM cnt GROUP BY 1
    )
    SELECT tstat.doc_id,
           topc * 2.0 / greatest(n, 1) AS top_bigram_frac,
           CASE WHEN tt > 0 THEN 1.0 - td / CAST(tt AS DOUBLE) ELSE 0.0 END
             AS dup_trigram_frac
    FROM tstat JOIN top ON tstat.doc_id = top.doc_id
    """,
)
def doc_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals (functions/text.py
    repetition_signals): top-bigram coverage + duplicate-trigram
    fraction per doc — the standard boilerplate/spam filter inputs.
    Trigram stats are per-row expressions; the bigram mode is one
    (doc, gram) count + per-doc max, both map-side combinable."""
    docs = table(spark, sf_dir, "documents")
    return text.repetition_signals(docs, "doc_id")


# ------------------------------------------------- decontamination
@register("doc_decontaminate", oracle=decontaminate_oracle())
def doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination (functions/dedup.py decontaminate):
    drop every training doc sharing any word 13-gram with the
    benchmark slice (doc_id % 97 == 0 stands in for an eval suite).
    Scale shape: benchmark gram hashes broadcast; the corpus is one
    pure map + broadcast semi join — corpus text never shuffles.
    Portable md5-prefix hashing so the oracle recomputes the same
    match set; production uses portable=False (xxhash64)."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = dedup.decontaminate(docs, bench, "doc_id", ngram_n=13, portable=True)
    return out.select("doc_id")


# ------------------------------------------------- ngram jaccard (portable)
@register(
    "doc_pair_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(
                 regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), '\\s+')) - 2, 1) + 1),
               i -> concat_ws(' ',
                 string_split_regex(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), '\\s+')[i],
                 string_split_regex(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), '\\s+')[i+1],
                 string_split_regex(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), '\\s+')[i+2])
             )) AS sh
      FROM documents WHERE doc_id < 40
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    """,
)
def doc_pair_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard similarity on a bounded probe set (doc_id <
    40) — the oracle-checkable verify kernel that MinHash-LSH composes
    with at scale."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    pairs = (
        docs.select(F.col("doc_id").alias("id_a"))
        .crossJoin(docs.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return dedup.ngram_jaccard(pairs, docs, "doc_id")


# ------------------------------------------------- similarity search
@register(
    "similarity_topk_cosine",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id AS c_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
    ), scored AS (
      SELECT q_id, c_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
      FROM q, c
      WHERE q_id <> c_id
    ), ranked AS (
      SELECT q_id, c_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT q_id, c_id, round(sim, 6) AS sim, rank FROM ranked WHERE rank <= 5
    """,
)
def similarity_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k (functions/similarity.py cosine_topk):
    broadcast query set, native zip_with/aggregate dot products, window
    top-k. sim rounded to 6dp for engine portability of the float sum."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.cosine_topk(queries, corpus, k=6)
    # exclude self-match then re-rank to top5
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    out = (
        out.filter(F.col("q_id") != F.col("c_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )
    return out.select("q_id", "c_id", F.round("sim", 6).alias("sim"), "rank")


@register("similarity_ann_lsh", oracle=ann_lsh_oracle(n_probe=2))
def similarity_ann_lsh(spark, sf_dir):
    """Approximate NN via random-hyperplane LSH buckets (functions/
    similarity.py lsh_topk_portable) — the 100 TB scale path: one
    bucket equi-join instead of a cross product, with query-directed
    MULTI-PROBE (n_probe=2: each query also probes the bucket behind
    its closest hyperplane). Buckets AND the probe flip order are
    decided in exact integer arithmetic over quantized vectors
    (Rademacher planes), so the DuckDB oracle reproduces the identical
    probed bucket set; emitted sim stays true float cosine."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return similarity.lsh_topk_portable(
        queries, corpus, dim=64, k=5, n_planes=8, n_probe=2
    ).select(
        "q_id", "c_id", F.round("sim", 6).alias("sim"), F.col("rank").cast("long").alias("rank")
    )


# ------------------------------------------------- multimodal plumbing
MULTIMODAL_ORACLE = """
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS len
  FROM documents WHERE doc_id < 200
)
SELECT 'image' AS part, doc_id,
       CAST(16 + (len % 1024) AS BIGINT) AS a,
       CAST(16 + ((len * 31) % 512) AS BIGINT) AS b,
       'RGB' AS c, CAST(len AS BIGINT) AS d
FROM d
UNION ALL
SELECT 'frame' AS part, doc_id,
       CAST(i AS BIGINT) AS a,
       CAST(LEAST(16, len - i * 16) AS BIGINT) AS b,
       NULL AS c, NULL AS d
FROM (
  SELECT doc_id, len,
         unnest(range(0, GREATEST(LEAST(len // 16, 8), 1))) AS i
  FROM d WHERE doc_id < 50
) f
UNION ALL
SELECT 'audio' AS part, doc_id,
       CAST(len * 8 AS BIGINT) AS a,
       CAST((len * 37 + 13) % 256 AS BIGINT) AS b,
       NULL AS c, NULL AS d
FROM d WHERE doc_id < 50
"""


@register("multimodal_pipeline", oracle=MULTIMODAL_ORACLE)
def multimodal_pipeline(spark, sf_dir):
    """All three multimodal paths (image meta, video frame sampling,
    audio features — functions/multimodal.py) in one canonical union
    so one driver row hash-verifies the whole mapInPandas/Arrow
    plumbing: the stub kernels are pure functions of the payload byte
    length, so the oracle reproduces them with octet_length
    arithmetic. Columns: part, doc_id, a, b (numeric features), c
    (string feature), d (extra numeric)."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    wp = multimodal.attach_binary_column(docs, "text").drop("text")
    probe = wp.filter(F.col("doc_id") < 50)
    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("long")
    img = multimodal.extract_image_meta(wp).select(
        F.lit("image").alias("part"),
        "doc_id",
        F.col("width").cast("long").alias("a"),
        F.col("height").cast("long").alias("b"),
        F.col("mode").alias("c"),
        F.col("n_bytes").cast("long").alias("d"),
    )
    frames = multimodal.frame_sample(probe, every_n=16).select(
        F.lit("frame").alias("part"),
        "doc_id",
        F.col("frame_idx").cast("long").alias("a"),
        F.length("frame").cast("long").alias("b"),
        ns.alias("c"),
        nl.alias("d"),
    )
    audio = multimodal.audio_features(probe).select(
        F.lit("audio").alias("part"),
        "doc_id",
        F.col("duration_ms").cast("long").alias("a"),
        F.col("rms").cast("long").alias("b"),
        ns.alias("c"),
        nl.alias("d"),
    )
    return img.unionAll(frames).unionAll(audio)


# ------------------------------------------------- embedding near-dup
@register(
    "embedding_near_dup_cosine",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 300
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    """,
)
def embedding_near_dup_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact brute-force on a bounded
    probe set (vec_id < 300) — the oracle-checkable kernel that the
    LSH-bucketed variant below composes with at scale. Norms are
    computed once per side in a materialized column, not per pair."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    e = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        similarity.norm(F.col("embedding")).alias("nrm"),
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    sim = similarity.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim_raw", sim)
        .filter(F.col("sim_raw") >= 0.35)
        .select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))
    )


def _semdedup_oracle():
    from ._oracle_sql import semdedup_oracle

    return semdedup_oracle(dim=64, n_clusters=8, threshold=0.5, id_max=600)


@register("embedding_semdedup", oracle=_semdedup_oracle())
def embedding_semdedup(spark, sf_dir):
    """SemDeDup (functions/similarity.py semdedup, round 10 — Abbas
    et al. 2023): semantic dedup by k-means clustering + within-
    cluster cosine pruning, the published method for catching
    paraphrase-level duplicates the token-hash families miss, with
    pair work bounded by cluster size instead of corpus size. Gate
    form uses the deterministic head-centroid quantizer (the IVF/PQ
    gate pattern) on a bounded probe set so every stage — integer
    argmin assignment, cosine pairs, CC groups, and the paper's
    farthest-from-centroid keeper — is hash-exact against the
    first-principles SQL replay. Production swaps in
    semdedup_learned_centroids (float Lloyd, then the same quantized
    assignment) with the identical dataflow."""
    emb = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 600)
    cents = similarity.semdedup_head_centroids(emb, "vec_id", "embedding", 8)
    return similarity.semdedup(
        emb, "vec_id", "embedding", cents, threshold=0.5
    )


@register("dedup_embedding_cosine", oracle=embedding_near_dup_lsh_oracle())
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup at corpus scale: random-hyperplane LSH
    buckets replace the all-pairs cross join (functions/similarity.py
    embedding_near_dups_portable). Engine-exact integer bucketing, so
    the oracle recomputes the same buckets and the emitted pairs
    hash-match."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dups_portable(
        emb, "vec_id", "embedding", dim=64, threshold=0.35, n_planes=8
    ).select("id_a", "id_b", F.round("sim", 6).alias("sim"))


# ------------------------------------------------- quality scoring
@register(
    "doc_quality_scores",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS toks,
             string_split_regex(trim(lower(text)), '\\s+') AS ltoks,
             length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS n_alpha,
             length(text) AS n_chars
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS token_count,
             CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) AS alpha_ratio,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / greatest(len(toks), 1) AS avg_token_len,
             CAST(len(list_filter(ltoks, x -> list_contains(
                 ['the','and','of','to','a','in','is'], x))) AS DOUBLE)
               / greatest(len(ltoks), 1) AS stopword_ratio
      FROM t
    )
    SELECT doc_id, token_count,
           round(alpha_ratio, 6) AS alpha_ratio,
           round(avg_token_len, 6) AS avg_token_len,
           round(stopword_ratio, 6) AS stopword_ratio,
           round((least(CAST(token_count AS DOUBLE) / 100.0, 1.0)
                  + alpha_ratio
                  + (1.0 - least(abs(avg_token_len - 5.0) / 5.0, 1.0))) / 3.0,
                 6) AS quality_score
    FROM m
    """,
)
def doc_quality_scores(spark, sf_dir):
    """Quality scoring for corpus filtering (functions/text.py
    quality_score): composite of length, alpha-ratio and token-length
    terms — all native Column arithmetic, reproducible in ANSI SQL."""
    docs = table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(c).alias("token_count"),
        F.round(text.alpha_ratio(c), 6).alias("alpha_ratio"),
        F.round(text.avg_token_len(c), 6).alias("avg_token_len"),
        F.round(text.stopword_ratio(c), 6).alias("stopword_ratio"),
        F.round(text.quality_score(c), 6).alias("quality_score"),
    )


# ------------------------------------------------- BPE-ish tokenizer
@register(
    "doc_word_tokens",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS BIGINT) AS n_number_tokens,
           array_to_string(toks[1:5], '|') AS first_tokens
    FROM t
    """,
)
def doc_word_tokens(spark, sf_dir):
    """GPT-2-style pre-tokenization (functions/text.py word_tokens):
    letter runs, digit runs, single punctuation — one vectorized
    regexp_extract_all per row; counts and a head sample."""
    docs = table(spark, sf_dir, "documents")
    toks = text.word_tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_bpe_tokens"),
        F.size(F.filter(F.col("toks"), lambda x: x.rlike("^[0-9]+$")))
        .cast("long")
        .alias("n_number_tokens"),
        F.array_join(F.slice(F.col("toks"), 1, 5), "|").alias("first_tokens"),
    )


# ------------------------------------------------- winnowing sketch
@register("doc_fingerprint_sketch", oracle=fingerprint_sketch_oracle())
def doc_fingerprint_sketch(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing): min shingle
    hash per sliding window of 4 over the positional shingle-hash
    sequence -> distinct sorted sketch, exploded to one row per sketch
    value (scalar columns — the driver canonicalizer can hash them).
    The local minima are stable under single-token edits, so shared
    sketch values locate overlapping passages across a 100 TB corpus
    with one explode + groupBy. Portable md5-prefix hashing makes the
    whole sketch oracle-checkable."""
    docs = table(spark, sf_dir, "documents")
    w = 4
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("_toks")
    )
    t = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - 3, F.lit(0)))
    seq = toks.select(
        "doc_id",
        F.transform(
            idx,
            lambda i: dedup.md5_prefix_hash(
                *[F.try_element_at(t, i + j + 1) for j in range(3)]
            ),
        ).alias("s"),
    )
    # Row-based winnowing: posexplode the hash sequence once (the md5
    # per shingle is evaluated exactly once — nested HOF slices would
    # re-evaluate it per window after projection collapse, measured
    # 20x slower), then the per-window minimum is a frame-bounded
    # window min and the sketch is one groupBy(doc_id) collect_set.
    # posexplode_OUTER: plain posexplode gets an inferred size(s)>0
    # pre-filter whose pushdown inlines the whole md5-transform (and
    # its tokenizer, once per token reference) below the scan — the
    # InferFiltersFromGenerate trap (see dedup.contaminated_ids).
    # s is never empty, so outer is row-identical.
    rows = seq.select(
        "doc_id", F.size("s").alias("n"), F.posexplode_outer("s").alias("pos", "h")
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    winmins = rows.select(
        "doc_id", "n", "pos", F.min("h").over(win).alias("wmin")
    ).filter(F.col("pos") <= F.greatest(F.col("n") - w, F.lit(0)))
    sk = winmins.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("wmin")).alias("sketch")
    )
    return sk.select(
        "doc_id",
        F.explode("sketch").alias("sketch_value"),
        F.size("sketch").cast("long").alias("sketch_size"),
    )


@register("similarity_ann_ivf", oracle=ann_ivf_oracle())
def similarity_ann_ivf(spark, sf_dir):
    """IVF approximate NN (functions/similarity.py ivf_topk_portable):
    coarse-quantizer cells + n_probe cell search — the classic ANN
    index shape, all assignment via a broadcast centroid-table join
    (nothing collects to the driver). The centroid table here is the
    first 8 embeddings (a production IVF reads its quantizer from an
    offline-fit table the same way; `ivf_topk` keeps the in-engine
    k-means fit, pytest-covered), and cell assignment is exact integer
    arithmetic — fully oracle-checkable."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    return similarity.ivf_topk_portable(queries, corpus, centroids, k=5, n_probe=3).select(
        "q_id", "c_id", F.round("sim", 6).alias("sim"), F.col("rank").cast("long").alias("rank")
    )


@register("similarity_ann_ivf_updated", oracle=ann_ivf_updated_oracle())
def similarity_ann_ivf_updated(spark, sf_dir):
    """Incremental IVF index maintenance (functions/similarity.py
    update_ivf_assignments, round 12 — the one incremental asymmetry
    left in the index family, VERDICT r11 #5): a base cell-assignment
    table is built against a frozen head-row quantizer, then a
    re-embed batch (every 5th vector gets vector (vec_id div 5)'s
    embedding; every 25th a NULL tombstone — the re-crawl 404) and an
    explicit delete set update it via delete-and-replace; top-k is
    served FROM THE UPDATED ASSIGNMENTS. The oracle rebuilds from
    scratch over the post-update vector set — if any replaced or
    deleted vector's old assignment lingered, stale neighbors would
    surface and hash-mismatch (the image_phash_index_updated
    discipline applied to ANN)."""
    emb = table(spark, sf_dir, "embeddings")
    vec_t = emb.schema["embedding"].dataType
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    base = similarity.ivf_assign(corpus, centroids, 1, "c_vec", "c_id")
    src = emb.select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_vec")
    )
    fresh = (
        emb.where(F.col("vec_id") % 5 == 0)
        .select(
            F.col("vec_id").alias("c_id"),
            F.expr("vec_id div 5").alias("s_id"),
        )
        .join(src, "s_id")
        .select(
            "c_id",
            F.when(F.col("c_id") % 25 == 0, F.lit(None).cast(vec_t))
            .otherwise(F.col("s_vec"))
            .alias("c_vec"),
        )
    )
    deleted = emb.where(
        (F.col("vec_id") % 9 == 1) & (F.col("vec_id") % 5 != 0)
    ).select(F.col("vec_id").alias("c_id"))
    updated = similarity.update_ivf_assignments(
        base, fresh, centroids, deleted_ids=deleted
    )
    queries = updated.where(F.col("c_id") < 8).select(
        F.col("c_id").alias("q_id"), F.col("c_vec").alias("q_vec")
    )
    out = similarity.ivf_topk_from_assignments(
        updated, queries, centroids, k=5, n_probe=3
    )
    return out.select(
        "q_id", "c_id", F.round("sim", 6).alias("sim"),
        F.col("rank").cast("long").alias("rank"),
    )


@register("similarity_ann_ivf_hier", oracle=ann_ivf_hier_oracle())
def similarity_ann_ivf_hier(spark, sf_dir):
    """Two-level (hierarchical) coarse quantization
    (functions/similarity.py ivf_assign_hier / ivf_topk_hier_portable,
    round 12): flat IVF assignment is O(n x n_lists), quadratic once
    n_lists scales with the corpus — the measured sf100 wall in the
    round-12 bitext probe. Here each vector ranks ~sqrt(n_lists)
    SUPER-cells and descends into only its probed supers' leaves,
    O(n x 2 sqrt(n_lists)), and the served cell is still the global
    leaf id so every downstream join/maintenance path is unchanged.
    Frozen head-row hierarchy (supers = first 3 embeddings, leaves =
    first 9, leaf->super by integer argmin) keeps every bucketing
    decision integer-exact; the oracle rebuilds the full tree in SQL."""
    emb = table(spark, sf_dir, "embeddings")
    supers = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaves = emb.filter(F.col("vec_id") < 9).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    leaves = similarity.assign_leaves_to_supers(leaves, supers)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.ivf_topk_hier_portable(
        queries, corpus, supers, leaves, k=5, n_probe=3, n_probe_super=2
    )
    return out.select(
        "q_id", "c_id", F.round("sim", 6).alias("sim"),
        F.col("rank").cast("long").alias("rank"),
    )


@register("similarity_ann_pq", oracle=ann_pq_oracle())
def similarity_ann_pq(spark, sf_dir):
    """Product-quantization ANN (functions/pq.py): corpus vectors
    compress to m=8 one-byte codes (64x smaller than the float
    vectors — the compressed serving tier a 100 TB embedding store
    keeps hot), queries score them by asymmetric distance (per-
    subspace codebook lookup). This gated row runs the PORTABLE tier:
    integer-quantized arithmetic with head-row codebooks, so encode,
    ADC distances, and ranks are reproduced bit-for-bit by the DuckDB
    oracle; the learned k-means codebooks + Arrow LUT engines
    (`pq_fit_codebooks`, use_arrow=True) are pytest-pinned
    rank-identical and carry production. Encode is a zero-shuffle
    projection; ADC is map-side with the top-k window as the only
    exchange."""
    from ..functions import pq

    emb = table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    cbs = pq.pq_head_codebooks(emb, "embedding", "vec_id", 64, m=8, k=16)
    codes = pq.pq_encode(
        emb.select(F.col("vec_id").alias("c_id"), "embedding"),
        "embedding", cbs, 64, integer=True,
    ).select("c_id", "codes")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return pq.pq_adc_topk(queries, codes, cbs, 64, k=5, integer=True).select(
        "q_id", "c_id", "d2", F.col("rank").cast("long").alias("rank")
    )


@register("similarity_ann_pq_arrow", oracle=ann_pq_oracle())
def similarity_ann_pq_arrow(spark, sf_dir):
    """Arrow/LUT engine twin of `similarity_ann_pq`: same head-row
    quantized codebooks, but encode runs as the broadcast-tensor
    pandas_udf and ADC as the mapInPandas LUT scorer with per-batch
    local top-k (functions/pq.py use_arrow=True) — the production
    engines. BIT-IDENTICAL to the portable row by construction: the
    quantized inputs are integers, every float64 product/sum stays
    below 2^53 (exact), and the local top-k lexsorts on (d2, c_id),
    so the same oracle hashes both."""
    from ..functions import pq

    emb = table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    cbs = pq.pq_head_codebooks(emb, "embedding", "vec_id", 64, m=8, k=16)
    fbs = [[[float(x) for x in e] for e in b] for b in cbs]
    qcorpus = emb.select(
        F.col("vec_id").alias("c_id"),
        similarity.quantize_vec(F.col("embedding")).cast("array<double>").alias("qv"),
    )
    codes = pq.pq_encode(qcorpus, "qv", fbs, 64, use_arrow=True).select("c_id", "codes")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        similarity.quantize_vec(F.col("embedding")).cast("array<double>").alias("q_vec"),
    )
    return pq.pq_adc_topk(queries, codes, fbs, 64, k=5, use_arrow=True).select(
        "q_id", "c_id", F.col("d2").cast("long").alias("d2"),
        F.col("rank").cast("long").alias("rank"),
    )


# ------------------------------------------------- dedup groups (CC)
@register(
    "dedup_groups_probe",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)), '\\s+')) - 2, 1) + 1),
               i -> concat_ws(' ',
                 string_split_regex(trim(lower(text)), '\\s+')[i],
                 string_split_regex(trim(lower(text)), '\\s+')[i+1],
                 string_split_regex(trim(lower(text)), '\\s+')[i+2])
             )) AS sh
      FROM documents WHERE doc_id < 40
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM sh
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY node
    """,
)
def dedup_groups_probe(spark, sf_dir):
    """Near-dup CLUSTERS, not just pairs: connected components over
    the >= 0.5-Jaccard edge set (functions/dedup.py dedup_groups,
    iterative min-label propagation); every doc labeled with its
    cluster's minimum id. Oracle = DuckDB recursive CTE reachability
    on a bounded probe set (doc_id < 40)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    ids = docs.select("doc_id")
    all_pairs = (
        ids.select(F.col("doc_id").alias("id_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    edges = dedup.ngram_jaccard(all_pairs, docs, "doc_id").filter(F.col("jaccard") >= 0.5)
    return dedup.dedup_groups(edges, ids, "doc_id")


# ------------------------------------------------- PII scrub
@register(
    "doc_pii_scrub",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1 (555) 010-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
               AS text
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\\+?[0-9][0-9() .-]{7,}[0-9]')) AS BIGINT) AS n_phones,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9() .-]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
    FROM seeded
    """,
)
def doc_pii_scrub(spark, sf_dir):
    """PII detection + redaction (functions/text.py scrub_pii): the
    docs table carries no natural PII, so each probe row is seeded
    with a deterministic synthetic email and phone derived from its
    id (same construction in the oracle), then counted and scrubbed
    with RE2-portable patterns."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    n_email, n_phone = text.pii_counts(F.col("text"))
    return seeded.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        text.scrub_pii(F.col("text")).alias("scrubbed"),
    )


# ------------------------------------------------- clean-corpus pipeline
@register(
    "clean_corpus_pipeline",
    oracle="""
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
    ), scored AS (
      SELECT d.doc_id, d.text,
             CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS token_count,
             CAST(length(regexp_replace(d.text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
               / greatest(length(d.text), 1) AS alpha_ratio,
             CAST(list_sum(list_transform(string_split_regex(trim(d.text), '\\s+'),
                                          x -> length(x))) AS DOUBLE)
               / greatest(len(string_split_regex(trim(d.text), '\\s+')), 1) AS avg_token_len,
             len(list_intersect(string_split_regex(trim(lower(d.text)), '\\s+'),
                 ['the','and','of','to','a','in','is'])) AS s_en,
             len(list_intersect(string_split_regex(trim(lower(d.text)), '\\s+'),
                 ['el','la','de','que','y','en','los'])) AS s_es,
             len(list_intersect(string_split_regex(trim(lower(d.text)), '\\s+'),
                 ['der','die','und','das','ist','ein','nicht'])) AS s_de,
             len(list_intersect(string_split_regex(trim(lower(d.text)), '\\s+'),
                 ['le','la','les','et','des','un','est'])) AS s_fr
      FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
    ), final AS (
      SELECT doc_id, token_count,
             (least(CAST(token_count AS DOUBLE) / 100.0, 1.0)
              + alpha_ratio
              + (1.0 - least(abs(avg_token_len - 5.0) / 5.0, 1.0))) / 3.0 AS q,
             CASE WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                  ELSE 'fr' END AS lang_guess
      FROM scored
    )
    SELECT doc_id, lang_guess, token_count, round(q, 6) AS quality
    FROM final
    WHERE q >= 0.4 AND lang_guess <> 'und' AND token_count >= 10
    """,
)
def clean_corpus_pipeline(spark, sf_dir):
    """The end-to-end training-corpus cleaning pipeline in ONE
    composed query: exact dedup (keep min-id per normalized text) ->
    quality gate -> language gate -> surviving docs with metadata.
    Composes functions/dedup.exact semantics with functions/text
    scoring, all native expressions — the full pass is scan + one
    fingerprint shuffle + one semi join, nothing per-row in Python.
    At 100 TB each stage is the same plan, just wider."""
    docs = table(spark, sf_dir, "documents")
    keepers = dedup.exact_dedup(docs, "doc_id").select(F.col("keeper_id").alias("doc_id"))
    kept = docs.join(F.broadcast(keepers), "doc_id", "left_semi")
    c = F.col("text")
    scored = kept.select(
        "doc_id",
        text.lang_guess(c).alias("lang_guess"),
        text.token_count(c).alias("token_count"),
        text.quality_score(c).alias("q"),
    )
    return scored.filter(
        (F.col("q") >= 0.4) & (F.col("lang_guess") != "und") & (F.col("token_count") >= 10)
    ).select("doc_id", "lang_guess", "token_count", F.round("q", 6).alias("quality"))


# ------------------------------------------------- corpus n-gram stats
@register(
    "corpus_top_trigrams",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)), '\\s+')) - 2, 1) + 1),
               i -> concat_ws(' ',
                 string_split_regex(trim(lower(text)), '\\s+')[i],
                 string_split_regex(trim(lower(text)), '\\s+')[i+1],
                 string_split_regex(trim(lower(text)), '\\s+')[i+2])
             )) AS grams
      FROM documents
    )
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM (SELECT doc_id, unnest(grams) AS gram FROM sh)
    GROUP BY gram
    ORDER BY doc_freq DESC, gram
    LIMIT 50
    """,
)
def corpus_top_trigrams(spark, sf_dir):
    """Corpus-wide n-gram document frequency, top 50 — the
    explode-then-aggregate shape behind contamination checks and
    boilerplate detection. Distinct per-doc trigrams (doc frequency,
    not term frequency) -> explode -> count -> TakeOrdered; at 100 TB
    the count is map-side combined on uniformly distributed gram keys
    and only the global top-k crosses the final exchange."""
    docs = table(spark, sf_dir, "documents")
    sh = dedup.shingle_strings(docs, "doc_id", "text", 3)
    return (
        # explode_outer: sidestep the InferFiltersFromGenerate trap
        # (see dedup.contaminated_ids); gram arrays are never empty
        sh.select(F.explode_outer("sh").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(50)
    )


# ------------------------------------------------- heavy hitters
@register(
    "corpus_heavy_tokens",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents WHERE text IS NOT NULL
    ), nn AS (
      SELECT token FROM toks WHERE token <> ''
    ), t AS (SELECT count(*) AS n FROM nn)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt,
           round(CAST(count(*) AS DOUBLE) / any_value(t.n), 6) AS share
    FROM nn, t
    GROUP BY token
    HAVING count(*) > 0.03 * any_value(t.n)
    """,
)
def corpus_heavy_tokens(spark, sf_dir):
    """phi-heavy-hitters over the corpus token stream
    (functions/corpus.py heavy_hitters): a mergeable Misra-Gries
    sketch proposes candidates in one map-side pass, a second pass
    recounts candidates exactly — output is EXACT (phi = 3% of token
    occurrences), so the sketch never leaks into the answer and the
    oracle is a plain GROUP BY/HAVING. The vocabulary-scale heavy-key
    query (stopword discovery, boilerplate tokens, tokenizer-table
    seeding) that at 100 TB never shuffles the full token stream —
    only <= k counters per partition plus the candidate recount."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    return corpus.heavy_hitters(toks, "token", phi=0.03)


# ------------------------------------------------- corpus assembly
# Registered OUTSIDE the 50-row driver gate (it is full): checked by
# tools/oracle_check.py (full_registry) and pytest instead.
@register(
    "doc_line_clean",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || chr(10) || 'Good sentence number ' || CAST(doc_id AS VARCHAR)
                  || ' stays here.' || chr(10) || 'short line' || chr(10)
                  || 'Enable javascript to continue browsing now.'
                  || CASE WHEN doc_id % 31 = 0 THEN chr(10) || 'lorem ipsum filler here.' ELSE '' END
               AS text
      FROM documents
    ), l AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines, lower(text) AS lt FROM seeded
    ), f AS (
      SELECT doc_id, lines,
             list_filter(lines, ln ->
               len(string_split_regex(trim(ln), '\\s+')) >= 3
               AND regexp_matches(ln, '[.!?"]$')
               AND NOT contains(lower(ln), 'javascript')) AS kept
      FROM l
      WHERE NOT contains(lt, 'lorem ipsum') AND NOT contains(lt, '{')
    )
    SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, chr(10)) AS cleaned
    FROM f WHERE len(kept) > 0
    """,
)
def doc_line_clean(spark, sf_dir):
    """C4-style line-level cleaning (functions/corpus.py clean_lines):
    the docs table is single-line, so each probe row is seeded with a
    deterministic multi-line suffix exercising every rule — a kept
    sentence, a dropped short line, a dropped 'javascript' line, and a
    page-level 'lorem ipsum' marker on every 31st doc (whole-doc
    drop). Same construction in the oracle."""
    docs = table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nGood sentence number "),
            F.col("doc_id").cast("string"),
            F.lit(" stays here.\nshort line\nEnable javascript to continue browsing now."),
            F.when(F.col("doc_id") % 31 == 0, F.lit("\nlorem ipsum filler here.")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return corpus.clean_lines(seeded, "doc_id")


@register(
    "doc_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt,
             COALESCE(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, 0) % 8
               AS shard
      FROM documents
    ), c AS (
      SELECT doc_id, shard, nt,
             SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cend
      FROM t
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST((cend - nt) // 2048 AS BIGINT) AS seq_id,
           CAST((cend - nt) % 2048 AS BIGINT) AS start_offset,
           (nt > 0 AND (cend - 1) // 2048 > (cend - nt) // 2048) AS crosses_boundary
    FROM c
    """,
)
def doc_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (functions/corpus.py
    pack_sequences): token counts laid back to back per shard, cut
    into 2048-token training sequences; per-doc (shard, seq_id,
    start_offset, crosses_boundary). Portable md5 sharding so the
    oracle reproduces identical shards; production uses xxhash64."""
    docs = table(spark, sf_dir, "documents")
    counted = docs.select("doc_id", text.token_count(F.col("text")).alias("n_tokens"))
    return corpus.pack_sequences(
        counted, "doc_id", "n_tokens", seq_len=2048, n_shards=8, portable=True
    )


@register(
    "doc_sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE (COALESCE(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, 0)
           % 1000000)
          < (CASE lang WHEN 'en' THEN 1.0 WHEN 'es' THEN 0.5 WHEN 'de' THEN 0.25
                       ELSE 0.0 END) * 1000000
    """,
)
def doc_sample_stratified(spark, sf_dir):
    """Deterministic stratified downsampling (functions/corpus.py
    sample_stratified): the data-mixing pass — keep all en, half of
    es, a quarter of de, drop the rest, decided by hash(doc_id) so
    the cut is reproducible across runs/engines (resumable pipelines
    need this; rand() is not it)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return corpus.sample_stratified(
        docs, "lang", "doc_id",
        rates={"en": 1.0, "es": 0.5, "de": 0.25}, portable=True,
    )


@register(
    "doc_rare_token_rate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
      FROM documents WHERE text IS NOT NULL
    ), vocab AS (
      SELECT t FROM (
        SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t
        ORDER BY df DESC, t LIMIT 500
      )
    ), scored AS (
      SELECT tok.doc_id, COUNT(*) AS n_tokens,
             SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS n_rare
      FROM tok LEFT JOIN vocab ON tok.t = vocab.t
      GROUP BY tok.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_rare AS BIGINT) AS n_rare,
           n_rare / CAST(greatest(n_tokens, 1) AS DOUBLE) AS rare_rate
    FROM scored
    """,
)
def doc_rare_token_rate(spark, sf_dir):
    """Vocabulary-based quality scoring (functions/corpus.py
    rare_token_rate): fraction of token occurrences outside the
    corpus top-500 vocabulary — the integer-exact stand-in for an LM
    perplexity filter. Vocab is one agg + top-k that broadcasts;
    corpus text never shuffles."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return corpus.rare_token_rate(docs, "doc_id", vocab_k=500)


@register("training_data_pipeline", oracle=training_pipeline_oracle())
def training_data_pipeline(spark, sf_dir):
    """FLAGSHIP composition — the complete prepare-training-data pass
    in one declarative plan: exact-dedup keepers (one fingerprint
    shuffle) -> quality + language gate (pure Column exprs) -> 13-gram
    benchmark decontamination (bench grams broadcast, corpus text
    never shuffles) -> concat-and-chunk sequence packing (per-shard
    window). Each stage's portable primitive is individually
    hash-verified by its standalone oracle row; the composition is
    verified end to end by `training_pipeline_oracle`."""
    docs = table(spark, sf_dir, "documents")
    keepers = dedup.exact_dedup(docs, "doc_id").select(
        F.col("keeper_id").alias("doc_id")
    )
    kept = docs.join(F.broadcast(keepers), "doc_id", "left_semi")
    c = F.col("text")
    scored = kept.select(
        "doc_id",
        "text",
        text.lang_guess(c).alias("lang_guess"),
        text.token_count(c).alias("token_count"),
        text.quality_score(c).alias("q"),
    )
    gated = scored.filter(
        (F.col("q") >= 0.4) & (F.col("lang_guess") != "und") & (F.col("token_count") >= 10)
    ).select("doc_id", "text", "token_count")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    clean = dedup.decontaminate(gated, bench, "doc_id", ngram_n=13, portable=True)
    return corpus.pack_sequences(
        clean.select("doc_id", "token_count"), "doc_id", "token_count",
        seq_len=2048, n_shards=8, portable=True,
    )


@register("training_data_pipeline_scale", oracle=None)
def training_data_pipeline_scale(spark, sf_dir):
    """Production-hash twin of `training_data_pipeline` (xxhash64 for
    decontamination grams and packing shards — ~3x cheaper per gram
    than the md5-portable chain the oracle needs); identical dataflow,
    timed by bench.py."""
    docs = table(spark, sf_dir, "documents")
    keepers = dedup.exact_dedup(docs, "doc_id").select(
        F.col("keeper_id").alias("doc_id")
    )
    kept = docs.join(F.broadcast(keepers), "doc_id", "left_semi")
    c = F.col("text")
    scored = kept.select(
        "doc_id",
        "text",
        text.lang_guess(c).alias("lang_guess"),
        text.token_count(c).alias("token_count"),
        text.quality_score(c).alias("q"),
    )
    gated = scored.filter(
        (F.col("q") >= 0.4) & (F.col("lang_guess") != "und") & (F.col("token_count") >= 10)
    ).select("doc_id", "text", "token_count")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    clean = dedup.decontaminate(gated, bench, "doc_id", ngram_n=13, portable=False)
    return corpus.pack_sequences(
        clean.select("doc_id", "token_count"), "doc_id", "token_count",
        seq_len=2048, n_shards=8, portable=False,
    )


@register("similarity_topk_cosine_arrow", oracle=None)
def similarity_topk_cosine_arrow(spark, sf_dir):
    """Arrow/BLAS twin of `similarity_topk_cosine` (functions/
    similarity.py cosine_topk_pandas): per-batch matmul + local top-k.
    Rank-identical to the HOF fold (pytest-pinned); float sums differ
    ~1e-12 in association order, so the md5 hash gate keeps the HOF
    row and this twin is the benched scale path — 8× faster at sf1
    (0.41 vs 3.26 s, flat in corpus size up to 20k vectors)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.cosine_topk_pandas(queries, corpus, k=6)
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    out = (
        out.filter(F.col("q_id") != F.col("c_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )
    return out.select("q_id", "c_id", F.round("sim", 6).alias("sim"), "rank")


@register(
    "doc_paragraph_dedup",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || chr(10)||chr(10)
                  || 'Shared boilerplate: subscribe to our newsletter today.'
                  || chr(10)||chr(10) || 'Unique paragraph number '
                  || CAST(doc_id AS VARCHAR) || ' closes the page.' AS text
      FROM documents
    ), p AS (
      SELECT doc_id, u.para, u.idx
      FROM seeded, LATERAL (
        SELECT UNNEST(string_split(text, chr(10)||chr(10))) AS para,
               UNNEST(range(len(string_split(text, chr(10)||chr(10))))) AS idx
      ) u
      WHERE trim(u.para) <> ''
    ), f AS (
      SELECT doc_id, para, idx,
             row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) = 1
               AS keep
      FROM p
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(para, chr(10)||chr(10) ORDER BY idx)
                    FILTER (WHERE keep), '') AS cleaned
    FROM f GROUP BY doc_id HAVING n_kept > 0
    """,
)
def doc_paragraph_dedup(spark, sf_dir):
    """Cross-document paragraph dedup (functions/corpus.py
    dedup_paragraphs — the CCNet/RefinedWeb boilerplate pass): the
    docs table is single-paragraph, so each probe row is seeded with
    a corpus-wide SHARED boilerplate paragraph (only the minimum
    doc keeps it) plus a unique closing paragraph (always kept);
    duplicate base texts dedup their first paragraph too. Same
    construction in the oracle."""
    docs = table(spark, sf_dir, "documents")
    sep = "\n\n"
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(
                sep + "Shared boilerplate: subscribe to our newsletter today."
                + sep + "Unique paragraph number "
            ),
            F.col("doc_id").cast("string"),
            F.lit(" closes the page."),
        ).alias("text"),
    )
    return corpus.dedup_paragraphs(seeded, "doc_id")


@register(
    "doc_lm_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    uni_c AS (
      SELECT u.w, count(*) AS cnt FROM toks, UNNEST(t) u(w) GROUP BY u.w
    ),
    uni AS (
      SELECT w, cnt, (SELECT sum(cnt) FROM uni_c) AS total
      FROM uni_c ORDER BY cnt DESC, w LIMIT 2000
    ),
    big AS (
      SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2
      FROM toks, UNNEST(range(len(t)-1)) u(i)
    ),
    bi_c AS (
      SELECT w1, w2, count(*) AS cnt FROM big GROUP BY w1, w2
    ),
    bi AS (
      SELECT w1, w2, cnt, (SELECT sum(cnt) FROM bi_c) AS total
      FROM bi_c ORDER BY cnt DESC, w1, w2 LIMIT 5000
    ),
    scored AS (
      SELECT g.doc_id,
        COALESCE(
          (length(bin(b.total)) - length(bin(b.cnt)))
            - CASE WHEN b.total <
                (b.cnt << (length(bin(b.total)) - length(bin(b.cnt))))
              THEN 1 ELSE 0 END,
          4 + (length(bin(u.total)) - length(bin(u.cnt)))
            - CASE WHEN u.total <
                (u.cnt << (length(bin(u.total)) - length(bin(u.cnt))))
              THEN 1 ELSE 0 END,
          24) AS bits
      FROM big g
      LEFT JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
      LEFT JOIN uni u ON g.w2 = u.w
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(bits) AS BIGINT) AS sum_bits,
           CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
    FROM scored GROUP BY doc_id
    """,
)
def doc_lm_surprisal(spark, sf_dir):
    """Perplexity-style quality scoring (functions/corpus.py
    fit_bigram_lm + lm_surprisal): stupid-backoff bigram LM fitted on
    the corpus itself (probe setup; production fits on a clean
    reference corpus), scores every doc's mean bigram surprisal in
    whole bits — integer-exact, so the oracle reproduces it
    bit-for-bit where float log() would drift."""
    docs = table(spark, sf_dir, "documents")
    uni, bi = corpus.fit_bigram_lm(docs, top_bigrams=5000, top_unigrams=2000)
    return corpus.lm_surprisal(docs, "doc_id", uni, bi)


def _embedding_clusters_oracle() -> str:
    """Recursive-CTE reachability over the portable embedding pair set
    — same first-principles transitive-closure pin as
    dedup_clusters_oracle, over vectors instead of texts."""
    pairs_sql = embedding_near_dup_lsh_oracle(dim=64, n_planes=8, threshold=0.35)
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM ({pairs_sql}) p
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS vec_id, MIN(lbl) AS group_id, (node = MIN(lbl)) AS is_keeper
    FROM reach GROUP BY node
    """


@register("embedding_dedup_clusters", oracle=_embedding_clusters_oracle())
def embedding_dedup_clusters(spark, sf_dir):
    """Cluster-output embedding near-dup (functions/similarity.py
    embedding_dedup_clusters): LSH-bucketed cosine pairs contracted by
    large-star/small-star CC to one (vec_id, group_id, is_keeper) row
    per vector — linear output, the vector-family counterpart of
    dedup_clusters; pinned against recursive-CTE reachability."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.embedding_dedup_clusters(
        emb, "vec_id", "embedding", dim=64, threshold=0.35, n_planes=8, portable=True
    )


@register(
    "doc_source_cap",
    oracle="""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 30
    """,
)
def doc_source_cap(spark, sf_dir):
    """Per-source corpus cap (functions/corpus.py cap_per_key): keep
    the 30 longest docs per source (ties by doc_id — total order, so
    the cut is deterministic and engine-reproducible). The data-mixing
    companion of sample_stratified: rates downweight, caps bound."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return corpus.cap_per_key(
        docs, ["source"], 30, [F.desc("n_chars"), F.asc("doc_id")]
    )


@register(
    "doc_mixture_upsample",
    # the Bernoulli coin reuses the shared H60 template + concat_ws on
    # BOTH engines (null-skipping on both), so the twins stay
    # bit-identical by construction, not caller discipline (ADVICE r02)
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             CASE WHEN source IN ('src0','src1','src2') THEN 2.5
                  WHEN source IN ('src3','src4') THEN 0.4
                  ELSE 1.0 END AS wt,
             ({_H60.format(x="concat_ws(chr(31), doc_id, '7')")}
              % 1000000) / 1000000.0 AS u
      FROM documents
    ), n AS (
      SELECT doc_id, source,
             CAST(FLOOR(wt) AS INT)
               + CASE WHEN u < wt - FLOOR(wt) THEN 1 ELSE 0 END AS n_copies
      FROM w
    )
    SELECT doc_id, source, CAST(unnest(range(0, n_copies)) AS INT) AS copy_idx
    FROM n
    WHERE n_copies > 0
    """,
)
def doc_mixture_upsample(spark, sf_dir):
    """Deterministic fractional upsampling (functions/corpus.py
    upsample_by_weight, round 5): LLaMA-style domain mixture — src0-2
    repeated 2.5x, src3-4 downweighted to 0.4x, the rest 1x; the
    fractional Bernoulli coin is a pure md5 hash of (doc_id, seed) so
    the oracle reproduces the exact draws. Zero shuffle: repeat count
    and explode are map-side; `cap_per_key` is the downsampling
    companion."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    weight = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 2.5)
        .when(F.col("source").isin("src3", "src4"), 0.4)
        .otherwise(1.0)
    )
    return corpus.upsample_by_weight(
        docs, "doc_id", weight, seed=7, portable=True
    )


@register(
    "doc_shuffle_shard",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             CAST({_H60.format(x="concat_ws(chr(31), '42', doc_id)")}
                  % 8 AS INT) AS shard,
             {_H60.format(x="concat_ws(chr(31), '43', doc_id)")} AS ord
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY ord, doc_id) - 1
                AS BIGINT) AS pos
    FROM h
    """,
)
def doc_shuffle_shard(spark, sf_dir):
    """Deterministic global training shuffle (functions/corpus.py
    shuffle_shard, round 7): every doc lands in one of 8 shards at a
    stable position, the whole permutation a pure function of
    (seed=42, doc_id) — two independent md5 draws (shard and
    within-shard order), one hash shuffle + per-shard window, no
    global sort. The oracle reproduces the exact permutation, so this
    row pins both the shard balance hash and the position ranks."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return corpus.shuffle_shard(docs, "doc_id", seed=42, n_shards=8, portable=True)


@register(
    "doc_gopher_filter",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 11 = 0 THEN ' ######## ## # ## # # # ## #' ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN
                  chr(10) || '- bullet one' || chr(10) || '* bullet two'
                  || chr(10) || '- bullet three' ELSE '' END
             || CASE WHEN doc_id % 17 = 0 THEN
                  chr(10) || 'trailing thought...' || chr(10) || 'another one...'
                ELSE '' END
               AS text
      FROM documents WHERE text IS NOT NULL
    ), t AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS toks,
             string_split(text, chr(10)) AS lines
      FROM seeded
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / greatest(len(toks), 1) AS mean_len,
             len(regexp_replace(text, '[^#…]', '', 'g')) AS n_symbols,
             greatest(len(lines), 1) AS nl,
             len(list_filter(lines, l -> starts_with(trim(l), '•')
                 OR starts_with(trim(l), '-') OR starts_with(trim(l), '*')))
               AS n_bullets,
             len(list_filter(lines, l -> ends_with(trim(l), '…')
                 OR ends_with(trim(l), '...'))) AS n_ellipsis,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
                 ['the','be','to','of','and','that','have','with'])) AS stop_hits,
             len(toks) AS n
      FROM t
    )
    SELECT doc_id, n_words,
           (n >= 50 AND n <= 100000) AS pass_word_count,
           (mean_len >= 3.0 AND mean_len <= 10.0) AS pass_mean_word_len,
           (CAST(n_symbols AS DOUBLE) / greatest(n, 1) <= 0.1) AS pass_symbol_ratio,
           (CAST(n_bullets AS DOUBLE) / nl < 0.9) AS pass_bullet_lines,
           (CAST(n_ellipsis AS DOUBLE) / nl <= 0.3) AS pass_ellipsis_lines,
           (CAST(n_alpha AS DOUBLE) / greatest(n, 1) >= 0.8) AS pass_alpha_words,
           (stop_hits >= 2) AS pass_stopwords,
           ((n >= 50 AND n <= 100000)
            AND (mean_len >= 3.0 AND mean_len <= 10.0)
            AND (CAST(n_symbols AS DOUBLE) / greatest(n, 1) <= 0.1)
            AND (CAST(n_bullets AS DOUBLE) / nl < 0.9)
            AND (CAST(n_ellipsis AS DOUBLE) / nl <= 0.3)
            AND (CAST(n_alpha AS DOUBLE) / greatest(n, 1) >= 0.8)
            AND (stop_hits >= 2)) AS keep
    FROM m
    """,
)
def doc_gopher_filter(spark, sf_dir):
    """Composite Gopher quality filter (functions/text.py
    gopher_filter — Rae et al. 2021 appendix A rule set): each probe
    row is seeded so every rule fires somewhere — a '#' burst on every
    11th doc (symbol ratio), bullet lines on every 13th, ellipsis
    lines on every 17th; word-count/mean-length/stopword rules judge
    the natural text. Same construction in the oracle."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" ######## ## # ## # # # ## #")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.lit("\n- bullet one\n* bullet two\n- bullet three"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 17 == 0,
                F.lit("\ntrailing thought...\nanother one..."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.gopher_filter(seeded, "doc_id")


# -------------------------------------- trained linear quality filter
@register(
    "doc_quality_classifier",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS toks,
             string_split_regex(trim(lower(text)), '\\s+') AS ltoks,
             length(text) AS n_chars
      FROM documents
      WHERE text IS NOT NULL
    ), f AS (
      SELECT doc_id,
             CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
               / greatest(n_chars, 1) AS alpha_ratio,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / greatest(len(toks), 1) AS avg_token_len,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / greatest(n_chars, 1) AS digit_ratio,
             least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS length_term,
             CAST(len(list_filter(ltoks, x -> list_contains(
                 ['the','and','of','to','a','in','is'], x))) AS DOUBLE)
               / greatest(len(ltoks), 1) AS stopword_ratio
      FROM t
    ), s AS (
      SELECT doc_id, alpha_ratio, avg_token_len, digit_ratio,
             length_term, stopword_ratio,
             -1.2 + 2.0 * alpha_ratio + -0.15 * avg_token_len
                  + -4.0 * digit_ratio + 1.5 * length_term
                  + 3.0 * stopword_ratio AS logit
      FROM f
    )
    SELECT doc_id,
           round(alpha_ratio, 6) AS alpha_ratio,
           round(avg_token_len, 6) AS avg_token_len,
           round(digit_ratio, 6) AS digit_ratio,
           round(length_term, 6) AS length_term,
           round(stopword_ratio, 6) AS stopword_ratio,
           round(logit, 6) AS logit,
           logit >= 0.0 AS keep
    FROM s
    """,
)
def doc_quality_classifier(spark, sf_dir):
    """Trained linear quality classifier (functions/text.py
    linear_classifier): logistic-regression inference over engineered
    text features as ONE codegen'd projection — the model-based filter
    pass (CCNet/DCLM-style) that runs after the heuristic rules.
    Weights here stand in for coefficients fit offline on a labeled
    sample; the oracle re-derives every feature and the exact
    sorted-order logit sum in SQL, so this row is hash-exact including
    the keep decision."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = text.linear_classifier(
        docs,
        "doc_id",
        weights={
            "alpha_ratio": 2.0,
            "avg_token_len": -0.15,
            "digit_ratio": -4.0,
            "length_term": 1.5,
            "stopword_ratio": 3.0,
        },
        bias=-1.2,
        threshold=0.0,
        keep_features=True,
    )
    return scored.select(
        "doc_id",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("length_term", 6).alias("length_term"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("logit", 6).alias("logit"),
        "keep",
    )


# ------------------------------------------------- URL analysis
@register(
    "doc_url_stats",
    oracle=r"""
    WITH u AS (
      SELECT doc_id,
             concat(
               CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END, '://',
               CASE WHEN doc_id % 7 = 0 THEN 'crawler@' ELSE '' END,
               source, CAST(doc_id % 5 AS VARCHAR), '.Example',
               CASE WHEN doc_id % 4 = 0 THEN '.co.UK' ELSE '.COM' END,
               CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,
               CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN '/a' ELSE '/a/b/' END,
               CASE WHEN doc_id % 2 = 1 THEN '?b=2&a=1' ELSE '' END,
               '#frag') AS url
      FROM documents
    ), x AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host,
             regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+:([0-9]+)(?:[/?#]|$)', 1) AS port_s,
             regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
             regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS query
      FROM u
    ), y AS (
      SELECT doc_id, url, scheme, host,
             CASE WHEN port_s <> '' THEN CAST(port_s AS INTEGER) END AS port,
             CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
             query,
             string_split(host, '.') AS parts
      FROM x
    ), z AS (
      SELECT doc_id, url, scheme, host, port, path, query,
             CAST(len(list_filter(string_split(path, '/'), s -> s <> ''))
                  AS INTEGER) AS path_depth,
             concat(parts[-2], '.', parts[-1]) AS last2,
             CASE
               WHEN len(parts) <= 1 THEN host
               WHEN concat(parts[-2], '.', parts[-1]) IN
                    ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
                     'org.au','co.jp','ne.jp','or.jp','com.br','com.cn',
                     'com.mx','co.in','co.kr','co.za')
                    AND len(parts) >= 3
               THEN concat(parts[-3], '.', parts[-2], '.', parts[-1])
               ELSE concat(parts[-2], '.', parts[-1])
             END AS domain
      FROM y
    )
    SELECT doc_id,
           concat(scheme, '://', host,
                  CASE WHEN port IS NOT NULL
                            AND NOT (scheme = 'http' AND port = 80)
                            AND NOT (scheme = 'https' AND port = 443)
                       THEN concat(':', CAST(port AS VARCHAR)) ELSE '' END,
                  path,
                  CASE WHEN query <> '' THEN concat('?', query) ELSE '' END)
             AS url_norm,
           host, domain, path_depth
    FROM z
    """,
)
def doc_url_stats(spark, sf_dir):
    """URL analysis kit (functions/url.py) over SEEDED per-doc URLs
    (the corpus has no URL column; the synthesis covers every
    normalization branch: mixed-case scheme/host, userinfo, default
    vs non-default port against both schemes, empty/deep/trailing
    paths, query, fragment, .co.uk two-level suffix). All pure
    regex/string Columns chosen to evaluate identically under Java
    regex and RE2, so normalization, host, registrable domain and
    path depth are hash-exact against the oracle. These are the keys
    for per-domain caps (cap_per_key) and URL-level dedup at crawl
    scale — zero-shuffle projections."""
    from ..functions import url as U

    d = F.col("doc_id")
    docs = table(spark, sf_dir, "documents")
    u = docs.select(
        "doc_id",
        F.concat(
            F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP")),
            F.lit("://"),
            F.when(d % 7 == 0, F.lit("crawler@")).otherwise(F.lit("")),
            F.col("source"), (d % 5).cast("string"), F.lit(".Example"),
            F.when(d % 4 == 0, F.lit(".co.UK")).otherwise(F.lit(".COM")),
            F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.when(d % 3 == 0, F.lit(""))
            .when(d % 3 == 1, F.lit("/a"))
            .otherwise(F.lit("/a/b/")),
            F.when(d % 2 == 1, F.lit("?b=2&a=1")).otherwise(F.lit("")),
            F.lit("#frag"),
        ).alias("url"),
    )
    c = F.col("url")
    return u.select(
        "doc_id",
        U.url_normalize(c).alias("url_norm"),
        U.url_host(c).alias("host"),
        U.registrable_domain(U.url_host(c)).alias("domain"),
        U.url_path_depth(c).alias("path_depth"),
    )


# ------------------------------------------------- context chunking
@register(
    "doc_text_chunks",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, toks,
             greatest(len(toks) - 1 - 8, 0)
               - (greatest(len(toks) - 1 - 8, 0) % 24) AS last
      FROM t
    ), e AS (
      SELECT doc_id, toks, unnest(range(0, last + 1, 24)) AS i FROM s
    )
    SELECT doc_id,
           CAST(i // 24 AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, i + 1, i + 32)) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, i + 1, i + 32), ' ') AS chunk
    FROM e
    """,
)
def doc_text_chunks(spark, sf_dir):
    """Context-window chunking (functions/corpus.py chunk_text):
    32-token windows, 8-token overlap — the splitter in front of
    embedding/retrieval-index builds and fixed-window training
    corpora. Pure split -> sequence -> posexplode -> slice pipeline
    (zero Python, zero shuffle, fuses into the scan); window starts,
    short tails and the overlap algebra are reproduced exactly by the
    oracle, so every chunk string hash-matches."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return corpus.chunk_text(docs, "doc_id", max_tokens=32, overlap=8)


# ------------------------------------------------- unicode hygiene
@register(
    "doc_unicode_normalize",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' cafe' || chr(769) || ' ' || chr(1) || 'x' || chr(127) || 'end' AS raw
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           nfc_normalize(regexp_replace(raw,
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS cleaned,
           CAST(length(nfc_normalize(regexp_replace(raw,
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))) AS BIGINT)
             AS n_chars,
           CAST(length(raw) AS BIGINT) AS n_chars_raw
    FROM seeded
    """,
)
def doc_unicode_normalize(spark, sf_dir):
    """Unicode hygiene (functions/text.py strip_control_chars +
    nfc_normalize): the corpus is SEEDED with a decomposed accent
    (e + U+0301), a C0 control and DEL, so the row proves both the
    control strip and canonical composition (NFC shortens e+combining
    to the precomposed char) — Python unicodedata and DuckDB
    nfc_normalize implement the same UCD algorithm, hash-exact.
    Without this pass, byte-different equal-text duplicates slip
    through every hash-based dedup."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # NB: DECOMPOSED accent (explicit escape so no editor can
    # silently re-compose it) — must match the oracle's chr(769)
    raw = F.concat(F.col("text"), F.lit(" cafe\u0301 \x01x\x7fend"))
    cleaned = text.nfc_normalize(text.strip_control_chars(raw))
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        F.length(cleaned).cast("long").alias("n_chars"),
        F.length(raw).cast("long").alias("n_chars_raw"),
    )


# -------------------------------------- skew-safe per-source cap
@register(
    "doc_source_cap_skew_safe",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def doc_source_cap_skew_safe(spark, sf_dir):
    """Skew-safe per-source cap (functions/corpus.py
    cap_per_key_skew_safe): keep the 10 shortest docs per source via
    histogram threshold + exact window on survivors — the plan that
    survives a mega-domain at crawl scale (no single-task sort of the
    big key; the per-key window only ever sees ~n + one bin of rows).
    Output EXACTLY equals the plain windowed cap, so the oracle is
    the plain SQL ROW_NUMBER form — the sketch is invisible in the
    answer, like the heavy-hitter rows."""
    docs = table(spark, sf_dir, "documents")
    return corpus.cap_per_key_skew_safe(
        docs.select("doc_id", "source", "n_chars"),
        ["source"], 10, "n_chars", "doc_id", lo=0, hi=1024, n_bins=64,
    )


# ------------------------------------------------- BPE tokenization

# Fixed seeded training corpus for the BPE gate row: the synthetic
# corpus vocabulary plus morphological variants, with LITERAL counts
# (not data-derived, so the row never silently couples to a testdata
# regeneration). The Spark side runs the DISTRIBUTED fit over a
# DataFrame realizing these counts; the oracle embeds the merges the
# pure-Python core derives from the same table at import time — if
# the distributed fit ever diverged from the core, every encoded
# token would hash-mismatch and the gate would catch it.
_BPE_SEED_COUNTS: dict[str, int] = {
    "join": 9, "hash": 9, "row": 9, "batch": 9, "scan": 8,
    "customer": 8, "column": 8, "filter": 8, "small": 8, "slow": 7,
    "merge": 7, "order": 7, "vector": 7, "line": 7, "data": 7,
    "table": 7, "agg": 6, "value": 6, "key": 6, "stream": 6,
    "window": 6, "spark": 6, "a": 6, "group": 6, "part": 6, "big": 6,
    "sort": 5, "query": 5, "fast": 5, "the": 5, "dup": 2,
    "joins": 3, "hashing": 3, "rows": 3, "batches": 3, "scanning": 2,
    "filters": 2, "merges": 2, "ordering": 2, "tables": 2,
    "streaming": 3, "windows": 2, "sorting": 2, "queries": 2,
    "faster": 2, "grouping": 2, "parts": 2, "keys": 2, "values": 2,
}
_BPE_N_MERGES = 60
_BPE_SEED_MERGES = _bpe.train_merges(_BPE_SEED_COUNTS, _BPE_N_MERGES)


@register(
    "doc_bpe_tokens",
    oracle=rf"""
    WITH RECURSIVE m(rank, pat, rep) AS (
      VALUES {_bpe.merges_sql_values(_BPE_SEED_MERGES)}
    ),
    d AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    wpos AS (
      SELECT doc_id, unnest(ws) AS word,
             generate_subscripts(ws, 1) AS pos
      FROM d
    ),
    words AS (SELECT DISTINCT word FROM wpos),
    base AS (
      SELECT word,
             '  ' || array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> word[i]), '  ')
             || '  </w>  ' AS s
      FROM words
    ),
    enc AS (
      SELECT word, s, 0 AS r FROM base
      UNION ALL
      SELECT e.word, replace(e.s, m.pat, m.rep), e.r + 1
      FROM enc e JOIN m ON m.rank = e.r + 1
    ),
    tok AS (
      SELECT word,
             regexp_replace(trim(s), ' +', ' ', 'g') AS toks,
             len(string_split(regexp_replace(trim(s), ' +', ' ', 'g'),
                              ' ')) AS n_tok
      FROM enc WHERE r = {len(_BPE_SEED_MERGES)}
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(t.n_tok) AS BIGINT) AS n_bpe_tokens,
           string_agg(t.toks, ' ' ORDER BY w.pos) AS tokens
    FROM wpos w JOIN tok t ON w.word = t.word
    GROUP BY w.doc_id
    """,
)
def doc_bpe_tokens(spark, sf_dir):
    """Subword (BPE) tokenization (functions/bpe.py) — train end to
    end through the DISTRIBUTED fit (one word-count groupBy + bounded
    top-M collect + the incremental merge loop), then encode every
    document with the Arrow pandas_udf apply. The oracle re-derives
    the SAME merges with the pure-Python core and replays the encode
    as a recursive CTE of string `replace` steps — the double-space
    boundary representation makes replace reproduce token-level
    leftmost-nonoverlapping merging exactly (functions/bpe.py module
    doc), so every token of every document is hash-exact, not just
    counts. This is the tokenizer the token-budgeted operators
    (pack_sequences, chunk_text) plug into for subword budgeting."""
    seed = spark.createDataFrame(
        [(" ".join([w] * c),) for w, c in sorted(_BPE_SEED_COUNTS.items())],
        "text string",
    )
    merges = _bpe.bpe_fit(seed, "text", n_merges=_BPE_N_MERGES)
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    enc = _bpe.bpe_encode(docs, "text", merges)
    ws = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    return (
        enc.select(
            "doc_id",
            F.size(ws).cast("long").alias("n_words"),
            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.array_join("bpe_tokens", " ").alias("tokens"),
        )
        .where(F.col("n_words") > 0)
    )


# ------------------------------------- unigram-LM tokenization
from ..functions import unigram as _ug  # noqa: E402

# Same fixed literal seed table as the BPE row (the synthetic corpus
# vocabulary + morphological variants) — the two tokenizers train on
# identical evidence so their rows differ only by ALGORITHM. The
# oracle embeds the model the pure-Python twin derives at import
# time; the Spark side runs the DISTRIBUTED fit (pinned bit-identical
# by test_unigram) — any divergence hash-mismatches the gate.
_UNI_MODEL = _ug.unigram_fit_local(
    _BPE_SEED_COUNTS, vocab_size=160, n_iters=3,
    max_piece_len=6, max_word_chars=16, seed_size=1024,
)


@register(
    "doc_unigram_tokens",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    wpos AS (
      SELECT doc_id, unnest(ws) AS word,
             generate_subscripts(ws, 1) AS pos
      FROM d
    ),
    words AS MATERIALIZED (SELECT DISTINCT word FROM wpos),
    v(piece, ps) AS MATERIALIZED (
      VALUES {_ug.unigram_sql_values(_UNI_MODEL)}),
    {_ug.viterbi_sql_steps(_UNI_MODEL)},
    tok AS (
      SELECT word, array_to_string(toks, ' ') AS toks,
             len(toks) AS n_tok
      FROM seg
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(t.n_tok) AS BIGINT) AS n_pieces,
           string_agg(t.toks, ' ' ORDER BY w.pos) AS tokens
    FROM wpos w JOIN tok t ON w.word = t.word
    GROUP BY w.doc_id
    """,
)
def doc_unigram_tokens(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) tokenization
    (functions/unigram.py, round 11 — Kudo 2018), the
    likelihood-based alternative to doc_bpe_tokens' merge-based BPE:
    the DISTRIBUTED fit (one word-count shuffle, substring-explode
    seeding, hard-EM rounds with order-free integer counts, final
    prune) followed by the Arrow Viterbi encode of every document.
    Scores are integer-quantized micro-nat log-probs, so the oracle
    replays the EXACT same DP as unrolled chained CTEs (score DESC,
    longer-last-piece tie-break) — every piece of every document
    hash-exact, an EM-trained tokenizer made gate-checkable."""
    seed = spark.createDataFrame(
        [(" ".join([w] * c),) for w, c in sorted(_BPE_SEED_COUNTS.items())],
        "text string",
    )
    model = _ug.unigram_fit(
        seed, "text", vocab_size=160, n_iters=3,
        max_piece_len=6, max_word_chars=16, seed_size=1024,
    )
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    enc = _ug.unigram_encode(docs, "text", model)
    ws = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    return (
        enc.select(
            "doc_id",
            F.size(ws).cast("long").alias("n_words"),
            F.size("unigram_tokens").cast("long").alias("n_pieces"),
            F.array_join("unigram_tokens", " ").alias("tokens"),
        )
        .where(F.col("n_words") > 0)
    )


@register(
    "doc_repeated_span_removal", oracle=remove_repeated_spans_oracle()
)
def doc_repeated_span_removal(spark, sf_dir):
    """Repeated-span REMOVAL (functions/dedup.py remove_repeated_spans,
    round 8): the transform `doc_repeated_windows` only flagged —
    overlapping repeated 8-token windows merge into maximal spans and
    are cut out of the original-case token stream, cleaned text
    re-emitted. Portable md5 window hashes; the oracle replays the
    interval union and the cut with index lambdas, so every surviving
    token of every document is hash-exact."""
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return dedup.remove_repeated_spans(
        docs, "doc_id", window=8, min_docs=2, portable=True
    )


@register(
    "doc_exact_substring_dedup", oracle=exact_substring_dedup_oracle()
)
def doc_exact_substring_dedup(spark, sf_dir):
    """Cross-document ExactSubstr dedup (functions/dedup.py
    exact_substring_dedup, round 11 — Lee et al. 2022 §4.1):
    duplication counted by OCCURRENCE (same-doc repeats included,
    unlike doc_repeated_span_removal's distinct-doc trigger), the
    corpus's globally-first copy of every duplicated span SPARED,
    the rest interval-unioned into maximal spans and cut. Portable
    md5 window hashes; the oracle replays the canonical min-(id,pos)
    struct selection and the cut, so every surviving token is
    hash-exact."""
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return dedup.exact_substring_dedup(
        docs, "doc_id", min_len=8, keep_first=True, portable=True
    )


# ----------------------------- incremental pHash index maintenance

# deterministic 64-bit "phash" seeding, identical in both engines:
# groups of 7 docs share a base hash (dup groups), the group leader's
# low bit flips (hamming-1 near-dups); all four 16-bit chunks carry
# entropy so no chunk value is corpus-wide hot
_PHIDX_BASE = (
    "((({g} * 40009) % 65536)"
    " + (({g} * 40013) % 65536) * 65536"
    " + (({g} * 40031) % 65536) * 4294967296"
    " + (({g} * 40037) % 32768) * 281474976710656)"
)


@register(
    "image_phash_index_updated",
    oracle=f"""
    WITH ph AS MATERIALIZED (
      SELECT doc_id,
             CASE
               WHEN doc_id % 5 = 0 THEN
                 CASE WHEN doc_id % 25 = 0 THEN NULL
                      ELSE {_PHIDX_BASE.format(g="(doc_id // 35)")}
                 END
               WHEN doc_id % 9 = 1 THEN NULL
               ELSE xor({_PHIDX_BASE.format(g="(doc_id // 7)")},
                        CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
             END AS phv
      FROM documents
    ),
    live AS MATERIALIZED (SELECT doc_id, phv FROM ph WHERE phv IS NOT NULL)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phv, b.phv)) AS BIGINT) AS hamming
    FROM live a JOIN live b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phv, b.phv)) <= 3
    """,
)
def image_phash_index_updated(spark, sf_dir):
    """Incremental pHash index maintenance (functions/multimodal.py
    update_phash_index, round 11): the search.update_index
    delete-and-replace discipline applied to the image near-dup
    family. A base banded index is built, then a re-crawl batch
    (every 5th image, with every 25th a NULL-phash tombstone — the
    404 re-crawl) and an explicit delete set update it; near-dup
    pairs are served FROM THE UPDATED INDEX. The oracle computes the
    pairs of a from-scratch REBUILD over the post-update image set
    directly (for hamming <= 3 of 4 chunks, pigeonhole makes the
    banded candidates provably complete, so rebuild pairs == served
    pairs) — if any replaced or deleted image's old bands lingered,
    stale pairs would surface and hash-mismatch. Synthetic
    SQL-expressible 64-bit hashes stand in for DCT output so the
    MAINTENANCE semantics get a full-value oracle; the DCT itself is
    covered rows-only by the multimodal rows."""
    from ..functions import multimodal as mm

    d = F.col("doc_id")

    def base_ph(g):
        return (
            (g * 40009) % 65536
            + ((g * 40013) % 65536) * F.lit(65536)
            + ((g * 40031) % 65536) * F.lit(4294967296)
            + ((g * 40037) % 32768) * F.lit(281474976710656)
        )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    base = docs.select(
        "doc_id",
        base_ph(F.expr("doc_id div 7"))
        .bitwiseXOR(F.when(d % 7 == 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("phash"),
    )
    index = mm.phash_band_index(base, "doc_id")
    fresh = docs.where(d % 5 == 0).select(
        "doc_id",
        F.when(d % 25 == 0, F.lit(None).cast("long"))
        .otherwise(base_ph(F.expr("doc_id div 35")).cast("long"))
        .alias("phash"),
    )
    deleted = docs.where((d % 9 == 1) & (d % 5 != 0)).select("doc_id")
    updated = mm.update_phash_index(
        index, fresh, "doc_id", deleted_ids=deleted
    )
    return mm.phash_pairs_from_index(updated, "doc_id")


# ------------------------------------------------- PSL eTLD+1
from ..functions.url import psl_rules_sql as _psl_rules_sql  # noqa: E402


@register(
    "doc_url_psl",
    oracle=rf"""
    WITH rules(kind, suffix, nl) AS (VALUES {_psl_rules_sql()}),
    u AS (
      SELECT doc_id,
             CASE doc_id % 10
               WHEN 0 THEN concat('www.', source, '.co.uk')
               WHEN 1 THEN concat(source, '.example.com.tr')
               WHEN 2 THEN concat('deep.sub.', source, '.com')
               WHEN 3 THEN 'foo.ck'
               WHEN 4 THEN concat('bar.', source, '.ck')
               WHEN 5 THEN 'www.ck'
               WHEN 6 THEN 'a.city.kawasaki.jp'
               WHEN 7 THEN 'x.y.kawasaki.jp'
               WHEN 8 THEN concat(source, '.github.io')
               ELSE 'localhost'
             END AS host
      FROM documents
    ),
    p AS (
      SELECT doc_id, host, string_split(host, '.') AS parts,
             len(string_split(host, '.')) AS n
      FROM u
    ),
    cand AS (
      SELECT p.doc_id, p.n, t.k,
             array_to_string(list_slice(parts, n - t.k + 1, n), '.') AS c
      FROM p, range(1, 5) t(k) WHERE t.k <= p.n
    ),
    sel AS (
      SELECT c.doc_id,
             max(CASE WHEN r.kind = 'x' THEN r.nl - 1 END) AS exc_ps,
             max(CASE WHEN r.kind = 'e' THEN r.nl END) AS ex_ps,
             max(CASE WHEN r.kind = 'w' AND c.n >= r.nl + 1
                      THEN r.nl + 1 END) AS w_ps
      FROM cand c JOIN rules r ON c.c = r.suffix
      GROUP BY c.doc_id
    ),
    fin AS (
      SELECT p.doc_id, p.host, p.n, p.parts,
             coalesce(s.exc_ps,
                      greatest(coalesce(s.ex_ps, 1),
                               coalesce(s.w_ps, 1), 1)) AS ps
      FROM p LEFT JOIN sel s ON p.doc_id = s.doc_id
    )
    SELECT doc_id, host,
           array_to_string(list_slice(parts, n - ps + 1, n), '.')
             AS public_suffix,
           CASE WHEN host <> '' AND n > ps
                THEN array_to_string(list_slice(parts, n - ps, n), '.')
           END AS domain
    FROM fin
    """,
)
def doc_url_psl(spark, sf_dir):
    """Full Public-Suffix-List eTLD+1 (functions/url.py
    registrable_domain_psl, round 8) over SEEDED hosts covering every
    rule class: exact multi-level suffixes (co.uk, com.tr), the
    implicit `*` default, wildcard rules (*.ck, *.kawasaki.jp),
    exception rules (!www.ck, !city.kawasaki.jp), private-section
    entries (github.io), and unregistrable hosts (a bare public
    suffix / localhost -> NULL domain). Spark side = zero-shuffle
    literal-map lookups; oracle re-derives the prevailing rule in SQL
    (candidate last-k suffix join + exception-wins/longest-match)
    from the SAME rendered rule table — hash-exact, including the
    NULLs."""
    from ..functions import url as U

    d = F.col("doc_id")
    docs = table(spark, sf_dir, "documents")
    u = docs.select(
        "doc_id",
        (
            F.when(d % 10 == 0, F.concat(F.lit("www."), F.col("source"), F.lit(".co.uk")))
            .when(d % 10 == 1, F.concat(F.col("source"), F.lit(".example.com.tr")))
            .when(d % 10 == 2, F.concat(F.lit("deep.sub."), F.col("source"), F.lit(".com")))
            .when(d % 10 == 3, F.lit("foo.ck"))
            .when(d % 10 == 4, F.concat(F.lit("bar."), F.col("source"), F.lit(".ck")))
            .when(d % 10 == 5, F.lit("www.ck"))
            .when(d % 10 == 6, F.lit("a.city.kawasaki.jp"))
            .when(d % 10 == 7, F.lit("x.y.kawasaki.jp"))
            .when(d % 10 == 8, F.concat(F.col("source"), F.lit(".github.io")))
            .otherwise(F.lit("localhost"))
        ).alias("host"),
    )
    h = F.col("host")
    parts = F.split(h, r"\.")
    ps = U.public_suffix_len(h)
    return u.select(
        "doc_id",
        "host",
        F.array_join(F.slice(parts, -ps, ps), ".").alias("public_suffix"),
        U.registrable_domain_psl(h).alias("domain"),
    )


# ------------------------------------------------- trained language ID
from ..functions import langid as _langid  # noqa: E402

_LANGID_SENTENCES: dict[str, list[str]] = {
    "en": [
        "the quick brown fox jumps over the lazy dog and runs to the river",
        "data tables and queries make the engine fast and simple to use",
        "this is a plain english sentence about streams windows and joins",
        "we count tokens and words to measure the quality of each document",
    ],
    "es": [
        "el rapido zorro marron salta sobre el perro perezoso y corre hacia el rio",
        "las tablas de datos y las consultas hacen que el motor sea rapido y simple",
        "esta es una frase sencilla en espanol sobre flujos ventanas y uniones",
        "contamos palabras y simbolos para medir la calidad de cada documento",
    ],
    "de": [
        "der schnelle braune fuchs springt uber den faulen hund und lauft zum fluss",
        "datentabellen und abfragen machen die engine schnell und einfach zu bedienen",
        "dies ist ein einfacher deutscher satz uber strome fenster und verknupfungen",
        "wir zahlen worter und zeichen um die qualitat jedes dokuments zu messen",
    ],
    "fr": [
        "le rapide renard brun saute par dessus le chien paresseux et court vers la riviere",
        "les tables de donnees et les requetes rendent le moteur rapide et simple",
        "ceci est une phrase simple en francais sur les flux fenetres et jointures",
        "nous comptons les mots et les signes pour mesurer la qualite de chaque document",
    ],
}
_LANGID_TOP_GRAMS = 128
_LANGID_MODEL = _langid.fit_ngram_lang_id_local(
    _LANGID_SENTENCES, n=2, top_grams=_LANGID_TOP_GRAMS
)
# 16 deterministic (lang_true, text) test docs: two consecutive
# sentences of one language, cycled by doc_id % 16 on BOTH engines
_LANGID_CASES = [
    (
        lang,
        _LANGID_SENTENCES[lang][i] + " " + _LANGID_SENTENCES[lang][(i + 1) % 4],
    )
    for i in range(4)
    for lang in sorted(_LANGID_SENTENCES)
]


def _langid_case_sql(col_expr: str, which: int) -> str:
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    arms = "".join(
        f" WHEN {k} THEN {q(c[which])}" for k, c in enumerate(_LANGID_CASES)
    )
    return f"CASE {col_expr} % 16{arms} END"


# the DuckDB replay of the integer model: gram-count join + argmax
_LANGID_ORACLE = rf"""
    WITH w(lang, gram, wt) AS (
      VALUES {_langid.lang_id_sql_values(_LANGID_MODEL)}
    ),
    consts(lang, ord, oov, prior) AS (
      VALUES {_langid.lang_id_sql_consts(_LANGID_MODEL)}
    ),
    u AS (
      SELECT doc_id,
             {_langid_case_sql("doc_id", 0)} AS lang_true,
             {_langid_case_sql("doc_id", 1)} AS txt
      FROM documents
    ),
    norm AS (
      SELECT doc_id, lang_true,
             trim(regexp_replace(lower(txt), '\s+', ' ', 'g')) AS s
      FROM u
    ),
    g AS (
      SELECT doc_id, unnest(list_transform(
               range(1, greatest(length(s) - 1, 0) + 1),
               i -> substr(s, i, 2))) AS gram
      FROM norm
    ),
    gc AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
    sc AS (
      SELECT gc.doc_id, c.lang, c.ord,
             c.prior + sum(gc.cnt * coalesce(w.wt, c.oov)) AS score
      FROM gc CROSS JOIN consts c
      LEFT JOIN w ON w.lang = c.lang AND w.gram = gc.gram
      GROUP BY gc.doc_id, c.lang, c.ord, c.prior
    ),
    pick AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, ord ASC) AS rk
      FROM sc
    )
    SELECT n.doc_id, n.lang_true,
           CASE WHEN length(n.s) < 2 THEN 'und'
                ELSE coalesce(p.lang, 'und') END AS lang_pred,
           (n.lang_true = CASE WHEN length(n.s) < 2 THEN 'und'
                               ELSE coalesce(p.lang, 'und') END) AS correct
    FROM norm n LEFT JOIN pick p ON n.doc_id = p.doc_id AND p.rk = 1
    """


@register("doc_lang_id_arrow", oracle=_LANGID_ORACLE)
def doc_lang_id_arrow(spark, sf_dir):
    """TRAINED char-bigram language identifier (functions/langid.py,
    round 8): naive-Bayes weights quantized to integers at fit time,
    scored by one Arrow-batched pandas_udf against a broadcast
    gram -> weight-vector dict, so predictions are bit-identical
    across engines. The query runs the DISTRIBUTED fit (one
    (lang, gram) count shuffle + per-language top-grams cap + bounded
    collect) over the seeded multilingual corpus and classifies 16
    deterministic two-sentence test docs cycled over the documents
    table; the oracle re-derives the SAME integer model via the
    pure-Python twin and replays the scoring as a gram-count join +
    argmax — hash-exact. Agreement vs the stopword heuristic is
    booked in BASELINE.md round-8."""
    rows = [
        (lang, s)
        for lang, sents in sorted(_LANGID_SENTENCES.items())
        for s in sents
    ]
    seed = spark.createDataFrame(rows, "lang string, text string")
    model = _langid.fit_ngram_lang_id(
        seed, "text", "lang", n=2, top_grams=_LANGID_TOP_GRAMS
    )
    d = F.col("doc_id")
    lang_true = F.lit(None).cast("string")
    txt = F.lit(None).cast("string")
    for k, (lang, t) in enumerate(_LANGID_CASES):
        lang_true = F.when(d % 16 == k, F.lit(lang)).otherwise(lang_true)
        txt = F.when(d % 16 == k, F.lit(t)).otherwise(txt)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", lang_true.alias("lang_true"), txt.alias("txt")
    )
    scored = _langid.lang_id_arrow(docs, "txt", model, out_col="lang_pred")
    return scored.select(
        "doc_id",
        "lang_true",
        "lang_pred",
        (F.col("lang_true") == F.col("lang_pred")).alias("correct"),
    )


# ---------------------------------------- bloom decontamination
@register("doc_decontaminate_bloom", oracle=decontaminate_oracle())
def doc_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination (functions/bloom.py): the
    SAME answer as doc_decontaminate — survivors after dropping docs
    sharing any 13-gram with the benchmark slice — but the benchmark
    gram set rides as a Bloom filter (one bit_or aggregation whose
    partial combine caps shuffle volume at n_bits/64 rows per task;
    probing is k element_at+AND codegen probes against ONE array
    literal). Only bloom-candidate grams reach the exact verify semi
    join, so false positives never surface and the oracle is the
    exact decontamination SQL verbatim. This is the shape that keeps
    decontamination broadcast-able when the blocklist outgrows an
    exact broadcast set (multi-benchmark + opt-out lists)."""
    from ..functions import bloom

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = bloom.bloom_decontaminate(
        docs, bench, "doc_id", ngram_n=13, portable=True,
        n_bits=1 << 16, n_hashes=7,
    )
    return out.select("doc_id")


# ----------------------------------- temperature-balanced sampling
@register(
    "corpus_lang_temperature_sample",
    oracle=f"""
    WITH cnt AS (
      SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
    ),
    cm AS (SELECT MIN(c) AS cmin FROM cnt),
    w AS (
      SELECT lang,
             LEAST(sqrt(CAST(cmin AS DOUBLE) / CAST(c AS DOUBLE)) * 2.5,
                   64.0) AS w
      FROM cnt, cm
    ),
    d AS (
      SELECT doc_id, d.lang, w.w,
             {_H60.format(x="CAST(doc_id AS VARCHAR)")} % 1000000 AS u
      FROM documents d JOIN w USING (lang)
    ),
    n AS (
      SELECT doc_id, lang,
             CAST(FLOOR(w) AS BIGINT)
               + CASE WHEN u < (w - FLOOR(w)) * 1000000 THEN 1 ELSE 0 END
               AS n
      FROM d
    )
    SELECT doc_id, lang, CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy_idx
    FROM n WHERE n >= 1
    """,
)
def corpus_lang_temperature_sample(spark, sf_dir):
    """Temperature-based language rebalancing (functions/corpus.py
    temperature_sample, alpha=0.5, boost=2.5): expected copies per
    doc = 2.5 * sqrt(p_min / p_lang) — the rarest language (fr) gets
    2.5x upsampled, the head (en, 3.4x larger) ~1.35x, exercising
    BOTH the floor(w) guaranteed copies and the hash-Bernoulli
    fractional copy in one row. alpha=0.5 keeps the weight math on
    sqrt (IEEE-exact both engines); the per-doc Bernoulli is the
    md5-prefix hash modulo 1e6, so every emitted (doc_id, copy_idx)
    row is hash-exact. Plan: weight table = tiny groupBy x one-row
    min (both broadcast); documents never shuffle."""
    docs = table(spark, sf_dir, "documents")
    out = corpus.temperature_sample(
        docs.select("doc_id", "lang"), "lang", "doc_id",
        alpha=0.5, boost=2.5, portable=True,
    )
    return out.select("doc_id", "lang", "copy_idx")


# ------------------------------------------------ z-order layout
from ..functions import layout as _layout  # noqa: E402

_ZSPECS_SQL = _layout.zorder_sql(
    [("user_id", 0, 2047), ("CAST(FLOOR(value * 100) AS BIGINT)", 0, 65535)],
    bits=16,
)


@register(
    "events_zorder_key",
    oracle=f"""
    SELECT event_id, {_ZSPECS_SQL} AS zkey
    FROM events
    """,
)
def events_zorder_key(spark, sf_dir):
    """Z-order clustering key (functions/layout.py zorder_key): the
    Morton interleave of (user_id, value-cents), 16 bits each — the
    write-time layout key that gives parquet min/max pruning on BOTH
    dimensions at read time (repartition_by_zorder range-partitions
    on it; this row checks the key itself). Pure integer Column
    arithmetic (quantize = clamped integer scale, interleave =
    shifts+masks), whole-stage codegen, zero shuffle — the oracle
    renders the IDENTICAL expression via zorder_sql, so every key is
    bit-exact."""
    ev = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        _layout.zorder_key(
            [(F.col("user_id"), 0, 2047), (cents, 0, 65535)], bits=16
        ).alias("zkey"),
    )


# ------------------------------------------------ search / BM25
from ..functions import search as _search  # noqa: E402

_BM25_QUERIES = [
    (1, "vector stream"),
    (2, "customer query"),
    (3, "merge sort window"),
    (4, "slow scan"),
]
_BM25_Q_SQL = ", ".join(f"({i}, '{q}')" for i, q in _BM25_QUERIES)


@register(
    "doc_inverted_postings",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), d AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
      FROM toks WHERE len(t) > 0
    )
    SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf, dl
    FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
    GROUP BY term, doc_id, dl
    """,
)
def doc_inverted_postings(spark, sf_dir):
    """Inverted-index build (functions/search.py inverted_index):
    one row per (term, doc) with term frequency and doc length — the
    retrieval index every corpus-audit query probes. ONE shuffle (the
    (term, doc) count, partial combine map-side); dl rides along from
    size(tokens), so the text is tokenized exactly once. Fully
    integer output, hash-exact."""
    docs = table(spark, sf_dir, "documents")
    return _search.inverted_index(docs, "doc_id")


@register(
    "doc_bm25_search",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), d AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
      FROM toks WHERE len(t) > 0
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(dl) AS sumdl FROM d
    ),
    q0(query_id, qtext) AS (VALUES {_BM25_Q_SQL}),
    q AS (
      SELECT DISTINCT query_id,
             unnest(string_split_regex(trim(lower(qtext)), '\s+')) AS term
      FROM q0
    ),
    m AS (
      SELECT q.query_id, q.term, d.doc_id, d.dl,
             CAST(len(list_filter(d.t, x -> x = q.term)) AS BIGINT) AS tf
      FROM d CROSS JOIN q
    ),
    mm AS (SELECT * FROM m WHERE tf > 0),
    dft AS (
      SELECT query_id, term, CAST(COUNT(*) AS BIGINT) AS dfreq
      FROM mm GROUP BY query_id, term
    ),
    sc AS (
      SELECT mm.query_id, mm.doc_id,
             SUM(CAST(FLOOR(
               CAST(CAST(FLOOR(ln(
                 (CAST(n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5) + 1.0
               ) * 10000.0) AS BIGINT) AS DOUBLE)
               * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
               * 100.0
             ) AS BIGINT)) AS s
      FROM mm
      JOIN dft USING (query_id, term)
      CROSS JOIN stats
      GROUP BY mm.query_id, mm.doc_id
    ),
    r AS (
      SELECT query_id, doc_id, s,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id) AS rank
      FROM sc
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(rank AS BIGINT) AS rank,
           doc_id,
           CAST(s AS DOUBLE) / 1000000.0 AS score
    FROM r WHERE rank <= 10
    """,
)
def doc_bm25_search(spark, sf_dir):
    """BM25 top-10 retrieval (functions/search.py bm25_topk) for four
    fixed queries over the documents table. Scoring is the textbook
    Robertson formula with the per-term contribution integer-
    quantized BEFORE the per-doc sum (BIGINT addition is order-free,
    double addition is not — the same exactness discipline as the
    decimal money sums and the quantized NB language ID). Plan: query
    terms broadcast onto the corpus (tf = array filter, zero shuffle),
    df counted for query terms only, one-row stats broadcast, and the
    top-k reduction two-stage skew-safe (no mega-query single-task
    sort)."""
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return _search.bm25_topk(docs, queries, "doc_id", k=10)


# ------------------------------------------------ PageRank
from ..functions import graph as _graph  # noqa: E402


@register(
    "customer_pagerank",
    oracle=_graph.pagerank_sql(
        "SELECT o_custkey AS src, o_orderkey % 1024 AS dst FROM orders",
        n_iter=5,
    ),
)
def customer_pagerank(spark, sf_dir):
    """Fixed-point PageRank (functions/graph.py pagerank), 5 rounds
    over a seeded order graph (edge o_custkey -> o_orderkey % 1024 —
    the seeding is arbitrary by design; the row exercises the
    ITERATIVE operator). The whole fixed-point runs in BIGINT
    micro-units ((x * 17) div (20 * out) damping, SCALE // N
    teleport), so integer sums are order-free and the oracle replays
    the identical five iterations as chained CTEs — every rank
    bit-exact, the usually-unverifiable 'iterative algorithm on
    Spark' made gate-checkable. Per round: one rank-onto-edges join +
    one groupBy(dst) sum with map-side combine; no collect, no
    driver loop over data."""
    o = table(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 1024).alias("dst"),
    )
    return _graph.pagerank(edges, n_iter=5)


@register(
    "customer_pagerank_dangling",
    oracle=_graph.pagerank_sql(
        "SELECT o_custkey AS src, o_orderkey % 1024 AS dst FROM orders",
        n_iter=5,
        redistribute_dangling=True,
    ),
)
def customer_pagerank_dangling(spark, sf_dir):
    """PageRank with EXACT dangling-mass redistribution (round 9):
    same integer fixed-point as customer_pagerank plus one broadcast
    scalar per round ((dmass * 17) div (20 * N), the q11 one-row
    pattern), so ranks form the standard probability distribution —
    total mass conserves to SCALE up to floor dust (property-pinned
    in tests/test_graph.py). Checkpointed every 3 rounds, proving the
    lineage-cut flag inside an oracle-exact row (a checkpoint is a
    materialization boundary, not a semantic change)."""
    o = table(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 1024).alias("dst"),
    )
    return _graph.pagerank(
        edges, n_iter=5, checkpoint_every=3, redistribute_dangling=True
    )


# ---------------------------------------------- PMI collocations
@register(
    "corpus_pmi_bigrams",
    oracle=r"""
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), tt AS (SELECT t FROM toks WHERE len(t) >= 2),
    pairs AS (
      SELECT t[i] AS a, t[i + 1] AS b
      FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tt)
    ),
    big AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM pairs GROUP BY a, b HAVING COUNT(*) >= 5
    ),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_tok
      FROM (SELECT unnest(t) AS tok FROM tt) GROUP BY tok
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS T FROM pairs),
    scored AS (
      SELECT a, b, c_ab,
             CAST(FLOOR(ln(CAST(c_ab * T AS DOUBLE)
                           / CAST(ua.c_tok * ub.c_tok AS DOUBLE))
                        * 10000.0) AS BIGINT) AS pmi_q
      FROM big
      JOIN uni ua ON ua.tok = big.a
      JOIN uni ub ON ub.tok = big.b
      CROSS JOIN tot
    ),
    r AS (
      SELECT a, b, c_ab, pmi_q,
             ROW_NUMBER() OVER (ORDER BY pmi_q DESC, a, b) AS rank
      FROM scored
    )
    SELECT a, b, c_ab, pmi_q, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 50
    """,
)
def corpus_pmi_bigrams(spark, sf_dir):
    """PMI collocation mining (functions/corpus.py pmi_bigrams):
    top-50 adjacent-token pairs by pointwise mutual information
    (min count 5) — multiword-expression discovery / tokenizer-merge
    candidates. Counts are exact BIGINTs; the one ln is quantized at
    1e-4 immediately (the BM25 idf discipline), so ranking and output
    hash-match the oracle. min_count prunes before the two
    token-keyed joins onto the unigram counts; top-k reduction is the
    two-stage skew-safe form."""
    docs = table(spark, sf_dir, "documents")
    return corpus.pmi_bigrams(docs, min_count=5, top_k=50)


# -------------------------------- DSIR importance resampling (r10)
_H60 = "COALESCE(('0x' || substr(md5({x}), 1, 15))::BIGINT, 0)"
_DSIR_FEATS = (
    "unnest(list_concat("
    "list_transform(t, x -> " + _H60.format(x="x") + "), "
    "CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)), "
    "i -> " + _H60.format(x="t[i] || chr(31) || t[i + 1]") + ") "
    "ELSE []::BIGINT[] END)) AS h"
)


@register(
    "doc_dsir_selected",
    oracle=rf"""
    WITH ttoks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
      WHERE lang = 'en' AND doc_id % 3 = 0 AND text IS NOT NULL
    ),
    rtoks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    tfeat AS (SELECT {_DSIR_FEATS} FROM ttoks WHERE len(t) > 0),
    rfeat AS (SELECT {_DSIR_FEATS} FROM rtoks WHERE len(t) > 0),
    tcnt AS (SELECT h % 8192 AS bucket, CAST(COUNT(*) AS BIGINT) AS tc
             FROM tfeat GROUP BY 1),
    rcnt AS (SELECT h % 8192 AS bucket, CAST(COUNT(*) AS BIGINT) AS rc
             FROM rfeat GROUP BY 1),
    tot AS (SELECT (SELECT CAST(SUM(tc) AS BIGINT) FROM tcnt) AS T,
                   (SELECT CAST(SUM(rc) AS BIGINT) FROM rcnt) AS R),
    lam AS (
      SELECT bucket,
             CAST(FLOOR(ln(
               CAST((COALESCE(tc, 0) + 1) * (R + 8192) AS DOUBLE)
               / CAST((COALESCE(rc, 0) + 1) * (T + 8192) AS DOUBLE)
             ) * 10000.0) AS BIGINT) AS lam_q
      FROM tcnt FULL OUTER JOIN rcnt USING (bucket) CROSS JOIN tot
    ),
    dfeat AS (
      SELECT doc_id, {_DSIR_FEATS}
      FROM (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents WHERE text IS NOT NULL
      ) WHERE len(t) > 0
    ),
    dscore AS (
      SELECT doc_id, CAST(SUM(lam_q) AS BIGINT) AS sq
      FROM (SELECT doc_id, h % 8192 AS bucket FROM dfeat) f
      JOIN lam USING (bucket)
      GROUP BY doc_id
    ),
    keyed AS (
      SELECT d.doc_id, d.source, COALESCE(sq, 0) AS dsir_q,
             COALESCE(sq, 0) + CAST(FLOOR(-ln(-ln(
               ({_H60.format(x="CAST(d.doc_id AS VARCHAR)")} % 1000000
                + 0.5) / 1000000.0
             )) * 10000.0) AS BIGINT) AS key_q
      FROM documents d LEFT JOIN dscore s ON s.doc_id = d.doc_id
    ),
    r AS (
      SELECT doc_id, source, dsir_q,
             ROW_NUMBER() OVER (ORDER BY key_q DESC, doc_id) AS rank
      FROM keyed
    )
    SELECT doc_id, source, dsir_q, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 150
    """,
)
def doc_dsir_selected(spark, sf_dir):
    """DSIR importance resampling (functions/corpus.py dsir_*, round
    10 — Xie et al. 2023): select 150 documents whose hashed-n-gram
    distribution looks like a target corpus (here the English
    doc_id%3 slice standing in for the quality reference). Fit = two
    bounded feature-count tables (mergeable across shards); weight =
    integer-quantized Laplace log-ratio per bucket (the langid/BM25
    discipline — one ln, floored immediately); score = exact BIGINT
    sum of bucket weights; resample = Gumbel-top-k with HASH-derived
    noise (floor-quantized to the same units), so the published
    sampling scheme becomes deterministic, resumable, and hash-exact
    against the full SQL replay. Completes the mixing toolbox
    (temperature/stratified/caps) with the importance-based selection
    method labs actually use. Plan: two bucket-bounded count shuffles
    for the fit, one broadcast of the <= 8192-row weight table, one
    (doc, partial-sum) shuffle for scoring, skew-safe two-stage
    top-k."""
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    target = docs.where((F.col("lang") == "en") & (F.col("doc_id") % 3 == 0))
    w = corpus.dsir_fit(target, docs, n_buckets=8192, portable=True)
    sel = corpus.dsir_resample(
        docs, w, "doc_id", n=150, n_buckets=8192, portable=True
    )
    return sel.select("doc_id", "source", "dsir_q", "rank")


# ------------------------------------------- image pHash near-dup
def _seeded_image_batches(it):
    """Deterministic REAL images: base pattern = doc_id % 40 (blurred
    noise seeded by the base — BROADBAND spectra, so pHash bits sit
    far from the median, unlike the r8 sinusoids whose near-DC-only
    spectra tied half the bits at the median), plus a tiny per-doc
    brightness offset — docs sharing a base are near-duplicate
    images, different bases are unrelated. Deterministic per doc_id
    (the RandomState seed IS the base). Round 10: containers cycle
    doc_id % 3 over BMP / PNG (all five scanline filters) / baseline
    JPEG q95 — all three real decode paths in one row; measured
    margins on this seeding: same-base pairs <= 2 bits apart (JPEG
    requantization included), cross-base >= 20."""
    import numpy as np
    import pandas as pd

    from ..functions import multimodal as mm

    def blur(a, k=2):
        out = a.astype(float)
        for _ in range(k):
            out = (np.roll(out, 1, 0) + np.roll(out, -1, 0)
                   + np.roll(out, 1, 1) + np.roll(out, -1, 1) + out) / 5.0
        return out

    for pdf in it:
        payloads = []
        for did in pdf["doc_id"]:
            did = int(did)
            base = did % 40
            r = np.random.RandomState(base)
            lum = (blur(r.randint(0, 256, (48, 48))) + (did % 5)).clip(
                0, 255).astype(np.uint8)
            px = np.stack([lum] * 3, axis=2)
            m = did % 3
            if m == 0:
                payloads.append(mm.make_bmp(px))
            elif m == 1:
                payloads.append(mm.make_png(px))
            else:
                payloads.append(mm.make_jpeg(px, quality=95))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


@register("image_phash_near_dup", oracle=None)
def image_phash_near_dup(spark, sf_dir):
    """REAL pixel-path image dedup (functions/multimodal.py): decode
    24-bit BMPs, PNGs (all five filters) and baseline JPEGs (round
    10 — Huffman + dequant + IDCT, the format crawl images actually
    use), 64-bit perceptual hash (block-mean resize -> 2D DCT ->
    median bits), near-dup pairs via the SimHash chunk-banding join
    (candidates from a chunk equi-join, never all-pairs). Rows-only
    by necessity — a DCT has no SQL re-derivation — but the pytest
    suite pins banding output equal to the brute-force numpy
    reference on the same seeded images. This is the image twin of
    dedup_simhash: same banding, pixels instead of tokens."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from ..functions import multimodal as mm

    # The probe set survives in ONE scan partition (documents.parquet
    # is a single small file), so without an exchange the whole
    # encode+decode+DCT chain runs serially in one task (~4.2 s of
    # kernel CPU at sf0.1). ensure_parallelism round-robins the
    # bounded id list across the cores first (scan-size-adaptive).
    docs = ensure_parallelism(
        table(spark, sf_dir, "documents").select("doc_id").where(
            F.col("doc_id") < 400
        )
    )
    schema = StructType([
        StructField("doc_id", LongType()), StructField("payload", BinaryType()),
    ])
    imgs = docs.mapInPandas(_seeded_image_batches, schema)
    # eager checkpoint: the banded index self-joins, i.e. TWO passes
    # over this row's synthesized decode+DCT lineage without it (the
    # audio row's r12 attribution, same shape). hashed is tiny
    # (doc_id, phash) — the checkpoint stores hashes, not pixels.
    hashed = (
        mm.image_phash(imgs, "payload").drop("payload")
        .localCheckpoint(eager=True)
    )
    return mm.phash_near_dup_pairs(hashed, "doc_id", max_hamming=3)


def _seeded_wav_batches(it):
    """Deterministic REAL audio: each doc becomes a 2-second mono
    16-bit WAV of a 3-tone mixture chosen by doc_id % 15 (the base),
    at a per-doc amplitude — docs sharing a base are the same
    recording at different levels (the fingerprint is amplitude-
    invariant), different bases are unrelated audio."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    rate, n = 8000, 16000
    t = np.arange(n) / rate
    for pdf in it:
        payloads = []
        for did in pdf["doc_id"]:
            did = int(did)
            base = did % 15
            freqs = [300 + 97 * base, 800 + 61 * base, 1900 + 131 * base]
            x = sum(np.sin(2 * np.pi * f * t + i)
                    for i, f in enumerate(freqs)) / 3.0
            amp = 0.2 + 0.15 * (did % 5)
            pcm = (np.clip(x * amp, -1, 1) * 32767).astype("<i2")
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(pcm.tobytes())
            payloads.append(buf.getvalue())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


@register("audio_fingerprint_pairs", oracle=None)
def audio_fingerprint_pairs(spark, sf_dir):
    """Audio near-dup detection (functions/multimodal.py, round 10 —
    Wang 2003 constellation hashing): seeded WAV clips -> STFT peak
    landmarks hashed to BIGINT (amplitude-invariant) ->
    audio_match_pairs (fp equi-join candidates, offset-mode
    alignment score). The audio twin of the pHash image row: same
    candidates-then-verify shape, spectra instead of pixels.
    Rows-only by necessity (no SQL FFT); pytest pins amplitude
    invariance, re-encode matching and non-matching clips."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from ..functions import multimodal as mm

    # No ensure_parallelism here, unlike the sibling multimodal rows:
    # the WAV+STFT chain is only ~0.3 s of serial kernel CPU at sf0.1
    # and the interleaved A/B measured the extra exchange as a net LOSS
    # (1.76 -> 1.96 s); the landmark-join shuffle already parallelizes
    # the heavy part.
    docs = table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 150
    )
    schema = StructType([
        StructField("doc_id", LongType()), StructField("payload", BinaryType()),
    ])
    clips = docs.mapInPandas(_seeded_wav_batches, schema)
    # eager checkpoint: audio_match_pairs consumes the fingerprint
    # frame five times (collapse signature, rep semi-join, hot-fp
    # count, both self-join sides), and this row's fingerprints are
    # an expensive synthesized lineage (WAV gen + STFT) that Spark
    # would otherwise recompute per consumer — the r11 +49% bench
    # move, attributed by interleaved A/B (BASELINE.md, Round-12
    # "audio_fingerprint_pairs 2.44 -> 3.63 s": lazy 2.65 s,
    # collapse-off 1.78 s, checkpointed 1.18 s at sf0.1). Production
    # fingerprint TABLES (parquet-backed) don't need this; it belongs
    # to the lineage, not the operator.
    fps = mm.audio_fingerprints(clips, "payload").localCheckpoint(eager=True)
    return mm.audio_match_pairs(fps, "doc_id", min_matches=8)


def _seeded_avi_batches(it):
    """Deterministic REAL videos: each doc becomes a 4-frame MJPEG
    AVI whose frames are the doc's base image (blurred noise seeded
    by doc_id % 20) under a growing brightness ramp — same seeding
    discipline as _seeded_image_batches, one container level up."""
    import numpy as np
    import pandas as pd

    from ..functions import multimodal as mm

    def blur(a, k=2):
        out = a.astype(float)
        for _ in range(k):
            out = (np.roll(out, 1, 0) + np.roll(out, -1, 0)
                   + np.roll(out, 1, 1) + np.roll(out, -1, 1) + out) / 5.0
        return out

    for pdf in it:
        payloads = []
        for did in pdf["doc_id"]:
            did = int(did)
            r = np.random.RandomState(did % 20)
            base = blur(r.randint(0, 256, (32, 32)))
            frames = [
                np.stack([(base + 3 * i).clip(0, 255).astype(np.uint8)] * 3,
                         axis=2)
                for i in range(4)
            ]
            payloads.append(mm.make_avi_mjpeg(frames, fps=4, quality=95))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


@register("video_frame_phash", oracle=None)
def video_frame_phash(spark, sf_dir):
    """REAL video pipeline (functions/multimodal.py, round 10): seeded
    MJPEG-in-AVI payloads -> RIFF demux + every-2nd-frame sampling
    (frame_sample_mjpeg — no ffmpeg; each frame IS a baseline JPEG)
    -> perceptual hash per kept frame via the SAME image_phash the
    still-image path uses. Output (doc_id, frame_idx, phash) is the
    per-frame fingerprint table a video near-dup pass joins on.
    Rows-only by necessity (DCT pHash has no SQL re-derivation); the
    pytest suite pins demux/roundtrip/stride and the near-dup margin
    on re-encoded videos."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from ..functions import multimodal as mm

    # Round 13 (VERDICT r12 #3): no ensure_parallelism on this row. It
    # was added when the MJPEG encode+decode chain was ~6.5 s of kernel CPU;
    # after the round-12 kernel work (batched DCT/IDCT, LUT Huffman,
    # inlined bit reader — sha256-identical output) the whole chain is
    # ~2 s serial, and in a churned 109-query session the 32-way
    # round-robin exchange + python-worker fan-out costs MORE than it
    # buys: interleaved F/T/F/T A/B after a 40-query bench prefix
    # (OPTIMIZATION_r13.md) measured floor off 1.70/1.92/2.13 s vs
    # floor on 3.21/3.70/3.82 s. The driver bench read 4.91 s (r12)
    # and 7.48 s (r13 baseline) for this row with the floor on.
    docs = table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 200
    )
    schema = StructType([
        StructField("doc_id", LongType()), StructField("payload", BinaryType()),
    ])
    vids = docs.mapInPandas(_seeded_avi_batches, schema)
    frames = mm.frame_sample_mjpeg(vids, "payload", every_n=2)
    hashed = mm.image_phash(
        frames.withColumnRenamed("frame", "payload"), "payload"
    )
    return hashed.select("doc_id", "frame_idx", "phash")


# --------------------------------------------- raw-HTML extraction
@register(
    "doc_html_extract",
    oracle="""
    WITH s0 AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               lower(substr(text, 1, 120)), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g')) AS sraw
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             CASE WHEN length(sraw) = 0 THEN 'blank page' ELSE sraw END AS s,
             doc_id % 4 AS m
      FROM s0
    ),
    e AS (
      SELECT doc_id,
        CASE m
          WHEN 0 THEN 'T' || CAST(doc_id AS VARCHAR) || chr(10) || s
                       || chr(10) || 'alpha & beta'
          WHEN 1 THEN 'first line' || chr(10) || 'second line' || chr(10)
                       || 'item one' || chr(10) || 'item two' || chr(10) || s
          WHEN 2 THEN 'unclosed bold text' || chr(10) || s
          ELSE 'spaced out' || chr(10)
                || 'verbatim "quoted" and &amp; done' || chr(10) || s
        END AS text
      FROM s1
    )
    SELECT doc_id, text,
           CAST(length(text) - length(replace(text, chr(10), '')) + 1
                AS BIGINT) AS n_lines
    FROM e
    """,
)
def doc_html_extract(spark, sf_dir):
    """Raw-HTML -> text extraction (functions/html.py, round 9 — the
    stage a real crawl pipeline needs upstream of WET): each document
    is wrapped into one of four seeded HTML shapes (full page with
    head/title/style/script, nested lists with comments and <br>,
    malformed uppercase/unclosed tags, whitespace torture with pre/
    noscript and chained entity references &quot; &#97; &amp;amp;),
    and the REAL stdlib-parser extractor runs over the markup in an
    Arrow-batched pandas_udf. The oracle knows the generative
    structure, so it states the expected extraction directly in SQL
    from the same base text — the Spark side sees only the HTML
    string and must parse correctly: script/style/noscript content
    dropped, comments dropped, block elements breaking lines, inline
    tags stripped in place, entities decoded exactly once, lines
    whitespace-collapsed. Hash-exact over every doc. Zero shuffles —
    a scan-parallel projection (100 TB shape: extraction cost is
    linear in bytes and embarrassingly parallel)."""
    from ..functions.html import html_to_text

    docs = table(spark, sf_dir, "documents")
    sraw = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.substring(F.col("text"), 1, 120)), "[^a-z0-9 ]", ""
            ),
            " +",
            " ",
        )
    )
    s = F.when(F.length(sraw) == 0, F.lit("blank page")).otherwise(sraw)
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    html = (
        F.when(m == 0, F.concat(
            F.lit("<html><head><title>T"), did,
            F.lit("</title><style>p {color: red}</style></head><body><h1>"),
            s,
            F.lit('</h1><script>var q = "<p>ignore</p>";</script>'
                  "<p>alpha &amp; beta</p></body></html>"),
        ))
        .when(m == 1, F.concat(
            F.lit("<div> first line<br>second line </div>"
                  "<!-- hidden comment --><ul><li> item one </li>"
                  "<li>item two</li></ul><p>"),
            s, F.lit("</p>"),
        ))
        .when(m == 2, F.concat(
            F.lit("<P CLASS=X>unclosed <b>bold</i> text<p>"), s,
        ))
        .otherwise(F.concat(
            F.lit("<body>  \n\t<pre>  spaced   out  </pre>"
                  "<noscript>NOJS</noscript>"
                  "verbatim &quot;quoted&quot; &#97;nd &amp;amp; done<p>"),
            s, F.lit("</p></body>"),
        ))
    )
    ext = html_to_text(html)
    return docs.select(
        "doc_id",
        ext.alias("text"),
    ).withColumn("n_lines", F.size(F.split(F.col("text"), "\n")).cast("long"))


# ------------------------------------------ HTML link extraction
@register(
    "doc_html_links",
    oracle="""
    WITH b AS (
      SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS s FROM documents
    )
    SELECT doc_id, 1 AS link_rank,
           'https://site' || s || '.example.com/root.html' AS href,
           'Root link' AS anchor FROM b
    UNION ALL SELECT doc_id, 2,
           'https://site' || s || '.example.com/a/b/rel/child.html',
           'child page' FROM b
    UNION ALL SELECT doc_id, 3, 'https://other.org/x?q=1', 'absolute' FROM b
    UNION ALL SELECT doc_id, 4, 'https://cdn.example.net/lib.js',
           'proto relative' FROM b
    UNION ALL SELECT doc_id, 5,
           'https://site' || s || '.example.com/a/b/page2.html',
           'frag stripped' FROM b
    """,
)
def doc_html_links(spark, sf_dir):
    """Link extraction from raw HTML (functions/html.py extract_links,
    round 9) — the crawl-frontier / link-graph feed: anchors parsed by
    the real stdlib parser, hrefs resolved per RFC 3986 (stdlib
    urljoin) against a per-doc base URL, non-http schemes and
    fragment-only hrefs dropped, fragments stripped. The seeded page
    exercises rooted, relative-path, absolute, protocol-relative,
    javascript: and #fragment hrefs plus inline markup inside the
    anchor; the oracle states each resolution generatively — the
    Spark side sees only markup and must parse AND resolve correctly.
    Zero shuffles (scan-parallel projection + posexplode)."""
    from ..functions.html import extract_links

    docs = table(spark, sf_dir, "documents")
    s = (F.col("doc_id") % 3).cast("string")
    base = F.concat(F.lit("https://site"), s,
                    F.lit(".example.com/a/b/page.html"))
    page = F.lit(
        '<p>No link here</p>'
        '<a href="/root.html">Root <b>link</b></a>'
        '<a href="rel/child.html">child page</a>'
        '<a href="https://other.org/x?q=1">absolute</a>'
        '<a href="//cdn.example.net/lib.js">proto relative</a>'
        '<a href="javascript:void(0)">dropped</a>'
        '<a href="#frag">dropped too</a>'
        '<a href="page2.html#sec">frag stripped</a>'
    )
    links = docs.select(
        "doc_id", F.posexplode(extract_links(page, base)).alias("pos", "l")
    )
    return links.select(
        "doc_id",
        (F.col("pos") + 1).cast("int").alias("link_rank"),
        F.col("l.href").alias("href"),
        F.col("l.anchor").alias("anchor"),
    )


# ------------------------------------------ HTML metadata
@register(
    "doc_html_meta",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN 'T' || CAST(doc_id AS VARCHAR) || ' page'
                ELSE 'A & B' END AS title,
           CASE WHEN doc_id % 2 = 0 THEN 'Desc & more'
                ELSE NULL END AS description,
           CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE NULL END AS lang
    FROM documents
    """,
)
def doc_html_meta(spark, sf_dir):
    """Page-metadata extraction (functions/html.py html_meta, round
    9): first <title> (whitespace-collapsed, entities decoded), first
    <meta name=description> content, <html lang> attribute — the
    fields crawl pipelines key language routing and snippeting on.
    Even docs carry a full head; odd docs a titled-but-bare head
    (entity in the title, no description, no lang) so the NULL paths
    are oracle-checked too. Zero shuffles."""
    from ..functions.html import html_meta

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<html lang="en"><head><title> T'), did,
            F.lit('  page </title>'
                  '<meta name="description" content=" Desc &amp; more ">'
                  "</head><body>x</body></html>"),
        ),
    ).otherwise(
        F.lit("<html><head><title>A &amp; B</title></head><body>y</body></html>")
    )
    m = html_meta(html)
    return docs.select(
        "doc_id",
        m["title"].alias("title"),
        m["description"].alias("description"),
        m["lang"].alias("lang"),
    )


# ------------------------------------- main-content extraction
@register(
    "doc_html_main_text",
    oracle="""
    WITH s0 AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               lower(substr(text, 1, 120)), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g')) AS sraw
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             CASE WHEN length(sraw) = 0 THEN 'blank page' ELSE sraw END AS s
      FROM s0
    )
    SELECT doc_id,
           'Article title T' || CAST(doc_id AS VARCHAR) || chr(10)
             || s || ' plain words' AS text
    FROM s1
    """,
)
def doc_html_main_text(spark, sf_dir):
    """Main-content extraction (functions/html.py main_content_text,
    round 9 — the boilerpipe/jusText link-density heuristic): the
    seeded page wraps each document's text in an article body
    surrounded by a nav bar (link density 100%), a Prev|Next pager
    (67%) and a related-links box (80%); the extractor must keep
    exactly the title and article blocks and drop all three
    boilerplate blocks. Block split + word/link-word counts are the
    one Python hop; the classification (integer link-density
    threshold) and the join are pure Column HOFs. The oracle states
    the surviving text generatively. Zero shuffles."""
    from ..functions.html import main_content_text

    docs = table(spark, sf_dir, "documents")
    sraw = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.substring(F.col("text"), 1, 120)), "[^a-z0-9 ]", ""
            ),
            " +",
            " ",
        )
    )
    s = F.when(F.length(sraw) == 0, F.lit("blank page")).otherwise(sraw)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<div><a href="/h">Home</a> <a href="/n">News</a> '
              '<a href="/s">Sports</a></div><h1>Article title T'),
        did,
        F.lit("</h1><p>"),
        s,
        F.lit(' plain words</p><div><a href="/p">Prev</a> | '
              '<a href="/n2">Next</a></div>'
              '<p>Related: <a href="/r1">one</a> <a href="/r2">two</a> '
              '<a href="/r3">three</a> <a href="/r4">four</a></p>'),
    )
    return docs.select(
        "doc_id", main_content_text(html).alias("text")
    )


# ------------------------------------------ robots.txt politeness
_ROBOTS_SEED = """
User-agent: *
Disallow: /private/
Allow: /private/ok.html
Disallow: /*.pdf$
"""


@register(
    "doc_robots_filter",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'https://a.example/private/doc'
                           || CAST(doc_id AS VARCHAR) || '.html'
               WHEN 1 THEN 'https://a.example/private/ok.html'
               WHEN 2 THEN 'https://a.example/papers/file'
                           || CAST(doc_id AS VARCHAR) || '.pdf'
               ELSE 'https://open.example/page/'
                           || CAST(doc_id AS VARCHAR)
             END AS url
      FROM documents
    )
    SELECT doc_id, url,
           CASE doc_id % 4 WHEN 0 THEN FALSE WHEN 2 THEN FALSE
                ELSE TRUE END AS allowed
    FROM u
    """,
)
def doc_robots_filter(spark, sf_dir):
    """robots.txt politeness evaluation (functions/robots.py, round
    9): per-doc frontier URLs checked against a seeded RFC 9309 rule
    set — Disallow prefix, longer-Allow override, wildcard+$ anchor,
    and a host with no robots entry — via the broadcast-dict Arrow
    probe (zero shuffle, zero join). The oracle states each verdict
    generatively; the Spark side must parse the rules and run the
    longest-match evaluation correctly."""
    from ..functions.robots import robots_allowed

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(
            F.lit("https://a.example/private/doc"), did, F.lit(".html")))
        .when(m == 1, F.lit("https://a.example/private/ok.html"))
        .when(m == 2, F.concat(
            F.lit("https://a.example/papers/file"), did, F.lit(".pdf")))
        .otherwise(F.concat(F.lit("https://open.example/page/"), did))
    )
    return docs.select(
        "doc_id", url.alias("url"),
        robots_allowed(url, {"a.example": _ROBOTS_SEED}).alias("allowed"),
    )


# ------------------------------------ crawl frontier (round 10)
@register(
    "crawl_frontier_batch",
    oracle="""
    WITH seeds AS (
      SELECT DISTINCT
        'https://h' || CAST(doc_id % 4 AS VARCHAR) || '.example.com'
          || CASE WHEN doc_id % 10 = 7 THEN '/private/d' ELSE '/p/d' END
          || CAST((doc_id // 4) % 50 AS VARCHAR) AS url,
        'h' || CAST(doc_id % 4 AS VARCHAR) || '.example.com' AS host,
        'example.com' AS domain,
        (doc_id // 4) % 50 AS pid,
        doc_id % 10 = 7 AS priv
      FROM documents
    ),
    fresh AS (
      SELECT url, host, domain FROM seeds
      WHERE NOT (host = 'h1.example.com' AND priv)  -- robots disallow
        AND pid % 5 <> 0                            -- fetch history
    ),
    ordered AS (
      SELECT url, host, domain,
             COALESCE(('0x' || substr(md5(url), 1, 15))::BIGINT, 0)
               % 2147483648 AS o
      FROM fresh
    ),
    r AS (
      SELECT url, host, domain,
             ROW_NUMBER() OVER (PARTITION BY host ORDER BY o, url) AS rn
      FROM ordered
    )
    SELECT url, host, domain FROM r WHERE rn <= 25
    """,
)
def crawl_frontier_batch(spark, sf_dir):
    """Crawl-frontier maintenance (functions/crawl.py crawl_frontier,
    round 10): seeded candidate links (mixed-case scheme/host, :443
    default port, fragments — the normalizer must collapse them), a
    robots.txt disallowing /private/ on one of the four hosts, a
    fetch history covering every pid%5==0 URL, and a 25-per-host
    budget chosen by the portable URL hash. The Spark side runs the
    real operator chain (url_normalize -> RFC 9309 evaluation ->
    within-batch dedup -> history anti-join -> hash-ordered cap); the
    oracle states normalization and the robots verdict generatively
    (the seeding is controlled) and REPLAYS the hash budget — so the
    surviving fetch list is hash-exact end to end."""
    from ..functions.crawl import crawl_frontier

    d = F.col("doc_id")
    m4 = (d % 4).cast("string")
    pid_n = F.expr("doc_id div 4") % 50
    pid = pid_n.cast("string")
    seg = F.when(d % 10 == 7, F.lit("/private/d")).otherwise(F.lit("/p/d"))
    docs = table(spark, sf_dir, "documents")
    links = docs.select(
        F.concat(
            F.lit("HTTPS://H"), m4, F.lit(".Example.COM:443"),
            seg, pid, F.lit("#frag"),
        ).alias("url")
    )
    hist = docs.where(pid_n % 5 == 0).select(
        F.concat(
            F.lit("https://h"), m4, F.lit(".example.com"), seg, pid
        ).alias("url")
    ).distinct()
    return crawl_frontier(
        links,
        fetched_history=hist,
        robots_by_host={
            "h1.example.com": "User-agent: *\nDisallow: /private/"
        },
        user_agent="trainingcrawler",
        per_host_budget=25,
        portable=True,
    )


# --------------------------------- incremental search-index serving
@register(
    "doc_bm25_incremental",
    oracle=None,  # replaced below: shares doc_bm25_search's oracle
)
def doc_bm25_incremental(spark, sf_dir):
    """Incrementally-maintained search index (functions/search.py
    merge_index + bm25_topk_from_index, round 9): documents split into
    'history' (doc_id % 5 != 0) and 'delta' (doc_id % 5 == 0) batches,
    each indexed SEPARATELY (postings + doc stats), merged by plain
    union (disjoint doc sets — the incremental.py discipline applied
    to retrieval: history is never re-tokenized), then BM25 top-10 is
    served OFF THE MERGED INDEX. The oracle is doc_bm25_search's
    full-corpus SQL verbatim, so a hash match proves both the serving
    path's arithmetic and the merge's losslessness at once."""
    from ..functions import search as s

    docs = table(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 5 != 0)
    delta = docs.where(F.col("doc_id") % 5 == 0)
    p_hist = s.inverted_index(hist, "doc_id")
    p_delta = s.inverted_index(delta, "doc_id")
    postings, dstats = s.merge_index(
        [p_hist, p_delta],
        # dl already rides on every posting row — deriving doc stats
        # from postings avoids a second tokenize pass over the text
        [s.doc_stats_from_postings(p_hist, "doc_id"),
         s.doc_stats_from_postings(p_delta, "doc_id")],
    )
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return s.bm25_topk_from_index(postings, dstats, queries, "doc_id", k=10)


# the serving row must agree with the scan row BYTE-FOR-BYTE — one
# oracle, two independent dataflows
REGISTRY["doc_bm25_incremental"].oracle = REGISTRY["doc_bm25_search"].oracle


@register("doc_bm25_updated")
def doc_bm25_updated(spark, sf_dir):
    """Index UPDATE maintenance (functions/search.py update_index,
    round 10): a STALE index is built over a corrupted corpus — every
    doc_id % 7 == 0 doc's text polluted with extra query-term tokens,
    plus 50 GHOST docs (doc_id + 10_000_000) made entirely of query
    terms, so stale state left behind would provably change the
    top-10 — then repaired by delete-and-replace: the re-crawled docs'
    fresh texts replace their postings/doc-stats (broadcast anti-join,
    no exchange over the index side), the ghosts are tombstoned via
    deleted_ids, and BM25 top-10 is served off the repaired index.
    The oracle is doc_bm25_search's TRUE-corpus SQL verbatim: a hash
    match proves the old postings vanished, the doc-stats (N, avgdl)
    were restored exactly, and the serving arithmetic is unchanged —
    the re-crawl path every living search index needs."""
    from ..functions import search as s

    docs = table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    # ghost ids are NEGATIVE (-(doc_id+1)): real doc_ids are
    # non-negative at every sf, so the tombstone set can never
    # collide with a corpus doc (review catch: +10M offsets collide
    # once the table outgrows them)
    ghost_id = -(k + 1)
    stale_docs = docs.select(
        "doc_id",
        F.when(
            k % 7 == 0,
            F.concat(F.col("text"), F.lit(" stream customer scan stale")),
        ).otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.where(k % 97 == 3).select(
            ghost_id.alias("doc_id"),
            F.lit("vector stream customer query merge sort window "
                  "slow scan").alias("text"),
        )
    )
    p0 = s.inverted_index(stale_docs, "doc_id")
    s0 = s.doc_stats_from_postings(p0, "doc_id")
    fresh = docs.where(k % 7 == 0).select("doc_id", "text")
    ghosts = docs.where(k % 97 == 3).select(ghost_id.alias("doc_id"))
    postings, dstats = s.update_index(
        p0, s0, fresh, "doc_id", deleted_ids=ghosts
    )
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return s.bm25_topk_from_index(postings, dstats, queries, "doc_id", k=10)


# repaired index must equal a full rebuild over the true corpus
REGISTRY["doc_bm25_updated"].oracle = REGISTRY["doc_bm25_search"].oracle


@register(
    "customer_pagerank_weighted",
    oracle=_graph.pagerank_sql(
        "SELECT o_custkey AS src, o_orderkey % 1024 AS dst, "
        "o_orderkey % 7 + 1 AS w FROM orders",
        n_iter=5,
        weighted=True,
    ),
)
def customer_pagerank_weighted(spark, sf_dir):
    """WEIGHTED PageRank (round 9): contributions split by integer
    edge weight ((rank * 17 * w) div (20 * out-strength)) — the form
    link graphs actually need (multi-link hosts, click counts). Same
    all-BIGINT fixed-point, same chained-CTE oracle, every rank
    hash-exact; weight seeded deterministically from the order key."""
    o = table(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 1024).alias("dst"),
        (F.col("o_orderkey") % 7 + 1).alias("w"),
    )
    return _graph.pagerank(edges, n_iter=5, weight="w")


_HOSTREP_SITE = "'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'"
_HOSTREP_EDGES = f"""
    SELECT src, dst, COUNT(*) AS w FROM (
      SELECT {_HOSTREP_SITE} AS src,
             'site' || CAST((doc_id + 1) % 5 AS VARCHAR)
               || '.example.com' AS dst
      FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT {_HOSTREP_SITE},
             'site' || CAST((doc_id + 2) % 5 AS VARCHAR) || '.example.com'
      FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT {_HOSTREP_SITE}, 'hub.example.org'
      FROM documents WHERE text IS NOT NULL
    ) GROUP BY src, dst
"""


@register(
    "doc_host_reputation",
    oracle=f"""
    WITH pr AS (
      SELECT * FROM ({_graph.pagerank_sql(_HOSTREP_EDGES, n_iter=5,
                                          weighted=True)})
    ),
    t AS (
      SELECT doc_id, text, {_HOSTREP_SITE} AS host,
             string_split_regex(trim(text), '\\s+') AS toks,
             string_split_regex(trim(lower(text)), '\\s+') AS ltoks,
             length(text) AS n_chars
      FROM documents WHERE text IS NOT NULL
    ),
    q AS (
      SELECT doc_id, host,
             (-1.2
              + 2.0 * CAST(length(regexp_replace(text, '[^A-Za-z ]', '',
                  'g')) AS DOUBLE) / greatest(n_chars, 1)
              + -0.15 * CAST(list_sum(list_transform(toks,
                  x -> length(x))) AS DOUBLE) / greatest(len(toks), 1)
              + -4.0 * CAST(length(regexp_replace(text, '[^0-9]', '',
                  'g')) AS DOUBLE) / greatest(n_chars, 1)
              + 1.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
              + 3.0 * CAST(len(list_filter(ltoks, x -> list_contains(
                  ['the','and','of','to','a','in','is'], x))) AS DOUBLE)
                  / greatest(len(ltoks), 1)
             ) >= 0.0 AS keep
      FROM t
    ),
    stats AS (
      SELECT host, COUNT(*) AS n_docs,
             SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep
      FROM q GROUP BY host
    ),
    hosts AS (
      SELECT coalesce(p.node, s.host) AS host,
             coalesce(p.rank, 0) AS rank,
             coalesce(s.n_docs, 0) AS n_docs,
             coalesce(s.n_keep, 0) AS n_keep
      FROM pr p FULL OUTER JOIN stats s ON p.node = s.host
    ),
    rep AS (
      SELECT host, rank,
             CAST((CAST(rank AS HUGEINT) * (1 + n_keep))
                  // (1 + n_docs) AS BIGINT) AS reputation
      FROM hosts
    )
    SELECT q.doc_id, q.host,
           CAST(coalesce(r.rank, 0) AS BIGINT) AS host_rank,
           CAST(coalesce(r.reputation, 0) AS BIGINT) AS host_reputation
    FROM q LEFT JOIN rep r ON r.host = q.host
    """,
)
def doc_host_reputation(spark, sf_dir):
    """Host-reputation propagation (functions/reputation.py, round 11)
    — the CCNet/Dolma-style SOURCE prior, composed end to end from
    real pieces: per-doc raw HTML is parsed by the stdlib parser and
    RFC 3986-resolved (html.extract_links), hosts extracted
    (url.url_host), the host-level weighted link graph run through
    the integer-exact weighted PageRank fixed point (graph.pagerank),
    per-host quality rolled up from the trained linear classifier's
    keep verdicts (text.linear_classifier), and the combined integer
    prior ((rank * (1 + n_keep)) div (1 + n_docs)) joined BACK onto
    every document as a broadcast — the docs side never reshuffles
    (plan-pinned in test_plans). The seeded pages link each host to
    its two successor sites (one absolute href, one protocol-relative)
    plus a shared hub, and carry a same-host link that the self-link
    rule must drop; the oracle replays the link structure
    generatively, the five PageRank rounds as chained CTEs, and the
    classifier features in SQL — every rank and reputation BIGINT
    hash-exact."""
    from ..functions import reputation as _rep
    from ..functions.html import extract_links
    from ..functions.url import url_host

    d = F.col("doc_id")
    s = (d % 5).cast("string")
    s1 = ((d + 1) % 5).cast("string")
    s2 = ((d + 2) % 5).cast("string")
    url = F.concat(
        F.lit("https://site"), s, F.lit(".example.com/p/"),
        d.cast("string"), F.lit(".html"),
    )
    page = F.concat(
        F.lit('<p>body</p><a href="https://site'), s1,
        F.lit('.example.com/next.html">next</a>'),
        F.lit('<a href="//site'), s2,
        F.lit('.example.com/two.html">proto relative</a>'),
        F.lit('<a href="/local.html">same host, dropped</a>'),
        F.lit('<a href="https://hub.example.org/index.html">hub</a>'),
    )
    # Round 13: parallelism floor on the doc scan — the stdlib HTML
    # link parse (Arrow mapInPandas) and the classifier features fuse
    # onto the scan, which is ONE task for any local-sized file (see
    # ensure_parallelism: even sf1's 5.4 MB file is one 128 MB split). sf1 c8/c32 ratio was 1.05 —
    # the corpus-sized Python work ran serially at any core count.
    # Integer-exact dataflow throughout (BIGINT ranks/quality sums).
    docs = (
        ensure_parallelism(table(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select("doc_id", "text", url.alias("url"), page.alias("page"))
    )
    links = docs.select(
        "url", F.explode(extract_links(F.col("page"), F.col("url"))).alias("l")
    ).select("url", F.col("l.href").alias("href"))
    edges = _rep.host_edges_from_links(links, "url", "href")
    scored = text.linear_classifier(
        docs,
        "url",
        weights={
            "alpha_ratio": 2.0,
            "avg_token_len": -0.15,
            "digit_ratio": -4.0,
            "length_term": 1.5,
            "stopword_ratio": 3.0,
        },
        bias=-1.2,
        threshold=0.0,
    )
    stats = _rep.host_quality_stats(scored, "url", "keep")
    prior = _rep.host_reputation(edges, stats, n_iter=5)
    per_doc = _rep.with_host_reputation(
        docs.select("doc_id", "url"), "url", prior
    )
    return per_doc.select(
        "doc_id",
        url_host(F.col("url")).alias("host"),
        F.col("host_rank"),
        F.col("host_reputation"),
    )


@register(
    "customer_triangles",
    oracle=_graph.triangle_count_sql(
        "SELECT o_custkey AS src, o_orderkey % 256 AS dst FROM orders"
    ),
)
def customer_triangles(spark, sf_dir):
    """Per-node triangle counts (functions/graph.py triangle_count,
    round 9) over the seeded order graph — the degree-oriented wedge
    join (Suri & Vassilvitskii 2011): edges oriented from the
    (degree, id)-smaller endpoint, wedges built only at each
    triangle's minimum vertex, closed by one more join. Orientation
    bounds every out-neighborhood at O(sqrt(E)) REGARDLESS of skew —
    the shape that survives celebrity hubs where naive wedge
    enumeration goes quadratic. All-integer, so the oracle replays it
    exactly."""
    o = table(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 256).alias("dst"),
    )
    return _graph.triangle_count(edges)


# ------------------------------------------ sitemap discovery (r10)
def _seeded_sitemap_batches(it):
    """Deterministic REAL sitemap payloads, one per doc — the shape
    picked by doc_id % 5: XML urlset (0), the same gzipped WITH a
    cross-host injected loc that enforce_host must drop (1),
    sitemapindex (2), plain-text list (3), malformed XML that the
    quarantine contract turns into zero rows (4). changefreq is
    seeded UPPERCASE on every third URL to exercise lowercasing."""
    import gzip as _gzip

    import pandas as pd

    for pdf in it:
        payloads, urls = [], []
        for did in pdf["doc_id"]:
            did = int(did)
            host = f"https://h{did % 7}.example"
            m = did % 5
            if m in (0, 1):
                items = []
                for i in range(did % 3 + 1):
                    freq = ["DAILY", "weekly", "monthly"][i % 3]
                    items.append(
                        f"<url><loc>{host}/p{did}/{i}</loc>"
                        f"<lastmod>2026-01-{did % 28 + 1:02d}</lastmod>"
                        f"<changefreq>{freq}</changefreq>"
                        f"<priority>{(did + i) % 10 / 10:.1f}</priority>"
                        "</url>"
                    )
                if m == 1:
                    items.append(
                        f"<url><loc>https://evil.example/x{did}</loc></url>"
                    )
                body = (
                    '<?xml version="1.0" encoding="UTF-8"?><urlset '
                    'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                    + "".join(items) + "</urlset>"
                ).encode()
                payloads.append(_gzip.compress(body) if m == 1 else body)
            elif m == 2:
                body = (
                    '<sitemapindex xmlns="http://www.sitemaps.org/'
                    'schemas/sitemap/0.9">'
                    + "".join(
                        f"<sitemap><loc>{host}/sm{did}-{i}.xml.gz</loc>"
                        + ("<lastmod>2026-02-01</lastmod>" if i == 0 else "")
                        + "</sitemap>"
                        for i in range(2)
                    )
                    + "</sitemapindex>"
                ).encode()
                payloads.append(body)
            elif m == 3:
                payloads.append(
                    f"{host}/t{did}/0\n\n{host}/t{did}/1\n".encode()
                )
            else:
                payloads.append(b"<urlset><url><loc>https://h")
            urls.append(f"{host}/sitemap.xml")
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "sitemap_url": urls,
             "payload": payloads}
        )


@register(
    "doc_sitemap_discovery",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 400),
    us AS (
      SELECT doc_id,
             unnest(range(0, doc_id % 3 + 1)) AS i
      FROM d WHERE doc_id % 5 IN (0, 1)
    ),
    u AS (
      SELECT doc_id, 'urlset' AS kind,
             'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/p'
               || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR) AS loc,
             '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
               AS lastmod,
             (['daily', 'weekly', 'monthly'])[(i % 3) + 1] AS changefreq,
             CAST((doc_id + i) % 10 AS DOUBLE) / 10 AS priority
      FROM us
    ),
    idx AS (
      SELECT doc_id, 'index' AS kind,
             'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/sm'
               || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
               || '.xml.gz' AS loc,
             CASE WHEN i = 0 THEN '2026-02-01' END AS lastmod,
             CAST(NULL AS VARCHAR) AS changefreq,
             CAST(NULL AS DOUBLE) AS priority
      FROM (SELECT doc_id, unnest([0, 1]) AS i FROM d WHERE doc_id % 5 = 2)
    ),
    txt AS (
      SELECT doc_id, 'text' AS kind,
             'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/t'
               || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR) AS loc,
             CAST(NULL AS VARCHAR) AS lastmod,
             CAST(NULL AS VARCHAR) AS changefreq,
             CAST(NULL AS DOUBLE) AS priority
      FROM (SELECT doc_id, unnest([0, 1]) AS i FROM d WHERE doc_id % 5 = 3)
    )
    SELECT * FROM u
    UNION ALL SELECT * FROM idx
    UNION ALL SELECT * FROM txt
    """,
)
def doc_sitemap_discovery(spark, sf_dir):
    """Sitemap URL discovery (functions/sitemap.py, round 10 — the
    sitemaps.org protocol): seeded payloads covering every protocol
    shape — XML urlset, gzipped urlset with a cross-host injected loc
    (the cross-submission rule must drop it), sitemapindex, the
    plain-text form, and a malformed file the quarantine contract
    turns into zero rows — exploded by one Arrow mapInPandas into
    (kind, loc, lastmod, changefreq, priority) frontier rows. The
    oracle states every expected row generatively; the Spark side
    must gunzip, parse, enforce the host rule, lowercase changefreq,
    and quarantine correctly to hash-match. Completes the crawl
    front-end: robots_sitemap_urls pulls these URLs out of
    robots.txt, this row turns fetched payloads into crawl_frontier
    candidates."""
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType,
    )

    from ..functions import sitemap as _sm

    docs = table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 400
    )
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("sitemap_url", StringType()),
        StructField("payload", BinaryType()),
    ])
    seeded = docs.mapInPandas(_seeded_sitemap_batches, schema)
    return _sm.sitemap_entries(
        seeded, "payload", sitemap_url_col="sitemap_url"
    ).drop("sitemap_url")


# ------------------------------------- leakage-safe split (r10)
@register(
    "doc_leakage_safe_split",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             COALESCE(('0x' || substr(md5(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g')), 1, 15))::BIGINT, 0) AS group_id
      FROM documents
    ),
    a AS (
      SELECT doc_id, group_id,
             COALESCE(('0x' || substr(md5('7' || chr(31)
               || CAST(group_id AS VARCHAR)), 1, 15))::BIGINT, 0)
               % 1000000 AS u
      FROM g
    )
    SELECT doc_id, group_id,
           CASE WHEN u < 100000 THEN 'test'
                WHEN u < 900000 THEN 'train'
                ELSE 'validation' END AS split
    FROM a
    """,
)
def doc_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split (functions/corpus.py
    split_by_group, round 10): the assignment unit is the exact-dup
    GROUP (md5 of whitespace/case-normalized text), so duplicate
    documents can never straddle train and eval — the contamination
    channel Lee et al. 2021 measured in row-level splits. Zero
    shuffle end to end: group id and split are two hash projections.
    The oracle replays both hashes and the cumulative cutoffs in SQL
    — assignment is engine-exact, and every duplicate pair lands in
    one split by construction (group_id is the only hash input)."""
    from ..functions.corpus import split_by_group
    from ..functions.dedup import md5_prefix_hash

    docs = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    grouped = docs.select(
        "doc_id", md5_prefix_hash(norm).alias("group_id")
    )
    return split_by_group(
        grouped, "group_id",
        {"train": 0.8, "validation": 0.1, "test": 0.1},
        seed=7, portable=True,
    )


# -------------------------- crawl frontier w/ crawl-delay budgets
@register(
    "crawl_frontier_politeness",
    oracle="""
    WITH seeds AS (
      SELECT DISTINCT
        'https://h' || CAST(doc_id % 4 AS VARCHAR) || '.example.com'
          || CASE WHEN doc_id % 10 = 7 THEN '/private/d' ELSE '/p/d' END
          || CAST((doc_id // 4) % 50 AS VARCHAR) AS url,
        'h' || CAST(doc_id % 4 AS VARCHAR) || '.example.com' AS host,
        'example.com' AS domain,
        doc_id % 10 = 7 AS priv
      FROM documents
    ),
    fresh AS (
      SELECT url, host, domain FROM seeds
      WHERE NOT (host = 'h1.example.com' AND priv)  -- robots disallow
    ),
    ordered AS (
      SELECT url, host, domain,
             COALESCE(('0x' || substr(md5(url), 1, 15))::BIGINT, 0)
               % 2147483648 AS o
      FROM fresh
    ),
    r AS (
      SELECT url, host, domain,
             ROW_NUMBER() OVER (PARTITION BY host ORDER BY o, url) AS rn
      FROM ordered
    )
    SELECT url, host, domain FROM r
    WHERE rn <= CASE host
                  WHEN 'h0.example.com' THEN 6   -- delay 10 -> 60/10
                  WHEN 'h2.example.com' THEN 0   -- delay 120 > window
                  ELSE 25                        -- no delay: default
                END
    """,
)
def crawl_frontier_politeness(spark, sf_dir):
    """Crawl-delay-aware frontier (functions/robots.py crawl_delay +
    functions/crawl.py delay_host_budgets/host_budget_overrides,
    round 10): the same seeded link batch as crawl_frontier_batch,
    but per-host fetch budgets now come from the hosts' OWN
    Crawl-delay directives over a 60 s politeness window — h0
    declares delay 10 (budget 6), h2 declares delay 120 (longer than
    the window: budget 0, excluded this batch), h1 keeps its
    /private/ disallow from the same file, h3 publishes no robots
    and takes the default 25. The budget map is parsed driver-side
    from the robots dict and rides as a literal element_at lookup on
    the SAME rank window — no extra shuffle; the oracle replays the
    budgets per host."""
    from ..functions.crawl import crawl_frontier, delay_host_budgets

    d = F.col("doc_id")
    m4 = (d % 4).cast("string")
    pid = (F.expr("doc_id div 4") % 50).cast("string")
    seg = F.when(d % 10 == 7, F.lit("/private/d")).otherwise(F.lit("/p/d"))
    docs = table(spark, sf_dir, "documents")
    links = docs.select(
        F.concat(
            F.lit("HTTPS://H"), m4, F.lit(".Example.COM:443"),
            seg, pid, F.lit("#frag"),
        ).alias("url")
    )
    robots = {
        "h0.example.com": "User-agent: *\nCrawl-delay: 10\n",
        "h1.example.com": "User-agent: *\nDisallow: /private/",
        "h2.example.com": "User-agent: *\nCrawl-delay: 120\n",
    }
    return crawl_frontier(
        links,
        robots_by_host=robots,
        user_agent="trainingcrawler",
        per_host_budget=25,
        host_budget_overrides=delay_host_budgets(
            robots, window_seconds=60, user_agent="trainingcrawler"
        ),
        portable=True,
    )


# ------------------------------------------ corpus datasheet (r10)
@register(
    "corpus_datasheet",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(regexp_replace(trim(lower(text)),
             '\\s+', ' ', 'g'))) AS n_distinct_texts,
           CAST(SUM(len(regexp_split_to_array(trim(lower(text)),
             '\\s+'))) AS BIGINT) AS total_words,
           MIN(len(regexp_split_to_array(trim(lower(text)), '\\s+')))
             AS min_words,
           MAX(len(regexp_split_to_array(trim(lower(text)), '\\s+')))
             AS max_words,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY source
    """,
)
def corpus_datasheet_q(spark, sf_dir):
    """Per-source datasheet metrics (functions/corpus.py
    corpus_datasheet, round 10): doc counts, exact distinct-text
    counts (the per-source exact-dup volume), word totals/extremes on
    the shared tokenizer, char totals and language counts — the
    data-card table a mixing decision starts from, in one exact
    map-side-combinable aggregation pass (one shuffle on source).
    Every number is exact, so the whole report hash-matches the SQL
    replay."""
    from ..functions.corpus import corpus_datasheet

    return corpus_datasheet(table(spark, sf_dir, "documents"))


# ------------------------------------- bitext / parallel-pair mining (r11)
_BITEXT_K = 4


def _bitext_margin_tail(threshold: float) -> str:
    """Shared margin/mutual-best SQL tail (the oracle twin of
    mine_bitext_from_knn) over CTEs fk/bk: per-node exact integer
    sums AND counts, margin = 2*sim_q*cnt_x*cnt_y /
    (sum_x*cnt_y + sum_y*cnt_x) — divides by ACTUAL neighbor counts
    so sparse-neighborhood nodes are not inflated (reduces to the
    fixed-2k form when every node has k neighbors). One definition
    for both the exact and the IVF oracle rows."""
    return f"""sx AS (SELECT x_id, SUM(sim_q) AS sum_x,
                      COUNT(*) AS cnt_x FROM fk GROUP BY x_id),
    sy AS (SELECT y_id, SUM(sim_q) AS sum_y,
           COUNT(*) AS cnt_y FROM bk GROUP BY y_id),
    cands AS (
      SELECT DISTINCT x_id, y_id, sim_q FROM (
        SELECT x_id, y_id, sim_q FROM fk
        UNION ALL SELECT x_id, y_id, sim_q FROM bk)
    ),
    scored AS MATERIALIZED (
      SELECT c.x_id, c.y_id, c.sim_q,
             CAST(2 * c.sim_q * sx.cnt_x * sy.cnt_y AS DOUBLE)
               / CAST(sx.sum_x * sy.cnt_y + sy.sum_y * sx.cnt_x AS DOUBLE)
               AS margin
      FROM cands c
      JOIN sx ON sx.x_id = c.x_id
      JOIN sy ON sy.y_id = c.y_id
      WHERE sx.sum_x * sy.cnt_y + sy.sum_y * sx.cnt_x > 0
    ),
    best AS (
      SELECT x_id, y_id, sim_q, margin,
             ROW_NUMBER() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS rx,
             ROW_NUMBER() OVER (PARTITION BY y_id ORDER BY margin DESC, x_id) AS ry
      FROM scored
    )
    SELECT x_id, y_id, sim_q, margin
    FROM best WHERE rx = 1 AND ry = 1 AND margin >= {threshold}"""


def _bitext_oracle(k: int = _BITEXT_K, threshold: float = 1.0) -> str:
    return f"""
    WITH av AS MATERIALIZED (
      SELECT vec_id AS x_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xv
      FROM embeddings WHERE vec_id % 2 = 0
    ), bv AS MATERIALIZED (
      SELECT vec_id AS y_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS yv
      FROM embeddings WHERE vec_id % 2 = 1
    ), pairs AS MATERIALIZED (
      SELECT x_id, y_id,
             list_dot_product(xv, yv)
               / (sqrt(list_dot_product(xv, xv))
                  * sqrt(list_dot_product(yv, yv))) AS sim
      FROM av, bv
      WHERE sqrt(list_dot_product(xv, xv))
            * sqrt(list_dot_product(yv, yv)) > 0
    ), q AS MATERIALIZED (
      SELECT x_id, y_id, sim,
             CAST(FLOOR(sim * 1000000.0) AS BIGINT) AS sim_q
      FROM pairs
    ),
    fk AS MATERIALIZED (
      SELECT x_id, y_id, sim_q FROM (
        SELECT x_id, y_id, sim_q,
               ROW_NUMBER() OVER (PARTITION BY x_id ORDER BY sim DESC, y_id) AS r
        FROM q) WHERE r <= {k}
    ),
    bk AS MATERIALIZED (
      SELECT x_id, y_id, sim_q FROM (
        SELECT x_id, y_id, sim_q,
               ROW_NUMBER() OVER (PARTITION BY y_id ORDER BY sim DESC, x_id) AS r
        FROM q) WHERE r <= {k}
    ),
    {_bitext_margin_tail(threshold)}
    """


@register("embedding_bitext_mining", oracle=_bitext_oracle())
def embedding_bitext_mining(spark, sf_dir):
    """Margin-based bitext mining (functions/bitext.py, Artetxe &
    Schwenk 2019): the embeddings table split into two sides by
    vec_id parity (standing in for two languages), exact kNN both
    directions, ratio-margin scoring, mutual-best alignment. Cosines
    quantize to integer micro-sims before the per-node neighborhood
    sums, so the margin is one division of exact BIGINTs and the row
    hash-matches the SQL replay. The margin core is ANN-agnostic
    (mine_bitext_from_knn) — at corpus scale the kNN edges come from
    the IVF serving path instead of the brute-force kernel used
    here."""
    from ..functions.bitext import mine_bitext_exact

    emb = table(spark, sf_dir, "embeddings")
    side_a = emb.filter(F.col("vec_id") % 2 == 0)
    side_b = emb.filter(F.col("vec_id") % 2 == 1)
    return mine_bitext_exact(side_a, side_b, k=_BITEXT_K, threshold=1.0)


# --------------------------------------- positional phrase search (r11)
_PHRASES: list[tuple[int, list[str]]] = [
    (0, ["slow", "hash", "batch"]),
    (1, ["row", "column", "sort"]),
    (2, ["big", "order", "scan"]),
    (3, ["group", "slow", "spark"]),
    (4, ["spark", "window", "join"]),
    (5, ["table", "value"]),
    (6, ["join", "customer", "a"]),
]


def _phrase_oracle() -> str:
    vals = ", ".join(
        f"({pid}, {off}, '{term}', {len(terms)})"
        for pid, terms in _PHRASES
        for off, term in enumerate(terms)
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    pos AS MATERIALIZED (
      SELECT doc_id, i AS pos, t[i] AS term
      FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)
    ),
    ph(phrase_id,off, term, n_terms) AS (VALUES {vals}),
    hits AS (
      SELECT ph.phrase_id, p.doc_id, p.pos - ph.off AS start_pos,
             ph.off AS off, ph.n_terms
      FROM pos p JOIN ph ON p.term = ph.term
      WHERE p.pos - ph.off >= 1
    ),
    occ AS (
      SELECT phrase_id, doc_id, start_pos
      FROM hits GROUP BY phrase_id, doc_id, start_pos, n_terms
      HAVING COUNT(DISTINCT off) = n_terms
    )
    SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(start_pos) AS BIGINT) AS first_pos
    FROM occ GROUP BY phrase_id, doc_id
    """


@register("doc_phrase_search", oracle=_phrase_oracle())
def doc_phrase_search(spark, sf_dir):
    """Exact multi-phrase search over positional postings (functions/
    search.py positional_postings + phrase_matches): a 7-phrase query
    workload served in ONE term-broadcast join + ONE count-distinct
    aggregation — phrase length never adds joins, the postings scan
    prunes to query terms, and nothing is corpus-quadratic. Output
    per (phrase, doc): occurrence count and first position — all
    exact integers, hash-matching the positional SQL replay."""
    from ..functions.search import phrase_matches, positional_postings

    docs = table(spark, sf_dir, "documents")
    postings = positional_postings(docs, "doc_id")
    phrases = spark.createDataFrame(
        _PHRASES, "phrase_id long, terms array<string>"
    )
    occ = phrase_matches(postings, phrases, "doc_id")
    return occ.groupBy("phrase_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.min("start_pos").cast("long").alias("first_pos"),
    )


# --------------------------------------- fuzzy decontamination (r11)
@register("doc_decontaminate_fuzzy", oracle=fuzzy_decontaminate_oracle())
def doc_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy (near-dup) benchmark decontamination (functions/dedup.py
    decontaminate_fuzzy): documents with doc_id % 10 == 7 play the
    held-out benchmark; every OTHER doc is flagged when it shares a
    MinHash band bucket with a benchmark doc and verifies at exact
    shingle-Jaccard >= 0.5 — the paraphrase-leakage channel the exact
    13-gram `doc_decontaminate_bloom` cannot see. Portable md5
    hashing end to end, so the oracle recomputes the identical band
    stores and candidate set. One row per train doc (left-join form:
    the kept corpus is the is_contaminated = false slice)."""
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 7)
    ev = docs.filter(F.col("doc_id") % 10 == 7)
    return dedup.decontaminate_fuzzy(
        train, ev, "doc_id", threshold=0.5, n_hashes=32, n_bands=8, portable=True
    )


def _bitext_ivf_oracle(
    dim: int = 64, n_lists: int = 8, n_probe: int = 3,
    k: int = _BITEXT_K, threshold: float = 1.0,
) -> str:
    from ._oracle_sql import _quant

    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (e.q[i] - cent.cq[i]) * (e.q[i] - cent.cq[i])))"
    )
    cos = (
        "list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))"
    )
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v,
             {_quant('embedding')} AS q
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS cell, q AS cq FROM e WHERE vec_id < {n_lists}),
    assigned AS MATERIALIZED (
      SELECT e.vec_id, e.v, cent.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d2}, cent.cell) AS rk
      FROM e, cent
    ),
    corp_a AS (SELECT vec_id, v, cell FROM assigned WHERE rk = 1 AND vec_id % 2 = 0),
    corp_b AS (SELECT vec_id, v, cell FROM assigned WHERE rk = 1 AND vec_id % 2 = 1),
    prob_a AS (SELECT vec_id, v, cell FROM assigned WHERE rk <= {n_probe} AND vec_id % 2 = 0),
    prob_b AS (SELECT vec_id, v, cell FROM assigned WHERE rk <= {n_probe} AND vec_id % 2 = 1),
    fwd0 AS (
      SELECT x.vec_id AS x_id, y.vec_id AS y_id, {cos} AS sim
      FROM prob_a x JOIN corp_b y USING (cell)
      WHERE sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)) > 0
    ),
    bwd0 AS (
      SELECT x.vec_id AS x_id, y.vec_id AS y_id, {cos} AS sim
      FROM corp_a x JOIN prob_b y USING (cell)
      WHERE sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)) > 0
    ),
    fk AS MATERIALIZED (
      SELECT x_id, y_id, CAST(FLOOR(sim * 1000000.0) AS BIGINT) AS sim_q FROM (
        SELECT x_id, y_id, sim,
               ROW_NUMBER() OVER (PARTITION BY x_id ORDER BY sim DESC, y_id) AS r
        FROM fwd0) WHERE r <= {k}
    ),
    bk AS MATERIALIZED (
      SELECT x_id, y_id, CAST(FLOOR(sim * 1000000.0) AS BIGINT) AS sim_q FROM (
        SELECT x_id, y_id, sim,
               ROW_NUMBER() OVER (PARTITION BY y_id ORDER BY sim DESC, x_id) AS r
        FROM bwd0) WHERE r <= {k}
    ),
    {_bitext_margin_tail(threshold)}
    """


@register("embedding_bitext_ivf", oracle=_bitext_ivf_oracle())
def embedding_bitext_ivf(spark, sf_dir):
    """IVF-approximate bitext mining (functions/bitext.py
    mine_bitext_ivf) — the corpus-scale twin of
    embedding_bitext_mining: one shared coarse quantizer (first 8
    embeddings as cells, exact integer-L2 assignment), each side
    probes 3 cells, and every kNN join is a cell-keyed SHUFFLE
    equi-join — neither corpus-sized side is ever broadcast, the
    shape that survives when both sides are billions of sentences.
    Cell decisions are integer-exact, so the oracle reproduces the
    identical candidate sets and the row hash-matches end to end."""
    from ..functions.bitext import mine_bitext_ivf

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    side_a = emb.filter(F.col("vec_id") % 2 == 0)
    side_b = emb.filter(F.col("vec_id") % 2 == 1)
    # Round 13 (guide §2.5 hot keys): this row's quantizer is 8 cells
    # by declaration, so the cell-keyed scoring join runs on at most 8
    # tasks while the rest of the cluster idles — and the candidate
    # set is quadratic in cell occupancy, the dominant cost at sf1+
    # (114.7 s at sf1/c32, 8-core ratio ~1). Salting parallelizes the
    # scoring with an IDENTICAL pair set (see _ivf_score_assigned).
    return mine_bitext_ivf(
        side_a, side_b, centroids, k=_BITEXT_K, n_probe=3, threshold=1.0,
        salt_n=ivf_salt(spark, 8),
    )


# ----------------------------------------- corpus mixture plan (r11)
_MIX_BUDGET = 100_000
_MIX_MAX_EPOCHS = 4


@register(
    "corpus_mixture_plan",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '')) AS n
      FROM documents WHERE text IS NOT NULL
    ),
    avail AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS available_tokens
      FROM tok GROUP BY source
    ),
    wt AS (
      SELECT *, CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS BIGINT) AS weight
      FROM avail
    ),
    tot AS (SELECT SUM(weight) AS w_total FROM wt),
    plan AS (
      SELECT source, n_docs, available_tokens, weight,
             (CAST({_MIX_BUDGET} AS BIGINT) * weight) // w_total AS target_tokens
      FROM wt, tot
      WHERE available_tokens > 0
    )
    SELECT source, n_docs, available_tokens, weight,
           CAST(target_tokens AS BIGINT) AS target_tokens,
           CAST(least(target_tokens, available_tokens * {_MIX_MAX_EPOCHS})
                AS BIGINT) AS planned_tokens,
           CAST(greatest((target_tokens + available_tokens - 1)
                         // available_tokens, 1) AS BIGINT) AS n_epochs,
           CAST(target_tokens AS DOUBLE) / CAST(available_tokens AS DOUBLE)
             AS sampling_rate,
           CAST(least(target_tokens, available_tokens * {_MIX_MAX_EPOCHS})
                AS DOUBLE) / CAST(available_tokens AS DOUBLE)
             AS planned_rate,
           ((target_tokens + available_tokens - 1) // available_tokens)
             > {_MIX_MAX_EPOCHS} AS is_capped
    FROM plan
    """,
)
def corpus_mixture_plan(spark, sf_dir):
    """Token-budgeted mixture planning (functions/corpus.py
    mixture_plan): per-source availability vs a target mixture
    (integer weights derived from the source id here), exact-integer
    target/epoch arithmetic, the max-epochs repeat cap, and the
    realized sampling rate — the data-card table a training-mixture
    decision starts from. One stratum-keyed aggregation + one-row
    broadcast; every number is exact so the plan hash-matches the SQL
    replay."""
    from ..functions.corpus import mixture_plan

    docs = table(spark, sf_dir, "documents")
    w = (F.substring(F.col("source"), 4, 10).cast("int") % 4 + 1).cast("long")
    return mixture_plan(
        docs, "source", w, token_budget=_MIX_BUDGET, max_epochs=_MIX_MAX_EPOCHS
    )


# ------------------------------------ tokenizer fertility report (r11)
def _fertility_oracle() -> str:
    bpe_sql = REGISTRY["doc_bpe_tokens"].oracle
    uni_sql = REGISTRY["doc_unigram_tokens"].oracle
    return f"""
    WITH bpe AS MATERIALIZED (
      SELECT doc_id, n_words, n_bpe_tokens FROM ({bpe_sql}) t
    ),
    uni AS MATERIALIZED (
      SELECT doc_id, n_pieces FROM ({uni_sql}) t
    ),
    d AS (
      SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents WHERE text IS NOT NULL
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(b.n_words) AS BIGINT) AS total_words,
           CAST(SUM(b.n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(u.n_pieces) AS BIGINT) AS total_unigram_pieces,
           CAST(SUM(b.n_bpe_tokens) AS DOUBLE) / CAST(SUM(b.n_words) AS DOUBLE)
             AS bpe_fertility,
           CAST(SUM(u.n_pieces) AS DOUBLE) / CAST(SUM(b.n_words) AS DOUBLE)
             AS unigram_fertility,
           CAST(SUM(d.n_chars) AS DOUBLE) / CAST(SUM(b.n_bpe_tokens) AS DOUBLE)
             AS chars_per_bpe_token
    FROM d
    JOIN bpe b ON b.doc_id = d.doc_id
    JOIN uni u ON u.doc_id = d.doc_id
    GROUP BY d.lang
    """


@register("doc_tokenizer_fertility", oracle=_fertility_oracle())
def doc_tokenizer_fertility(spark, sf_dir):
    """Tokenizer evaluation report (the fertility table a tokenizer
    choice is made from): per language, tokens-per-word for the
    merge-based BPE vs the likelihood-based unigram-LM tokenizer and
    chars-per-token compression — composed from the two hash-exact
    encode rows (doc_bpe_tokens, doc_unigram_tokens), so every count
    is exact and each ratio is ONE division of exact BIGINT sums.
    The encodes are per-doc projections; the report adds one
    lang-keyed aggregation."""
    # Round 13 (guide §2.6 "overlap independent jobs"): the two
    # component encodes each run a driver-action-bound tokenizer FIT
    # over the constant seed table (BPE: one bounded collect; unigram:
    # checkpoint + seed collect + 3 EM rounds) before any document is
    # touched — ~2.3 s of the row's 3.1 s was this serial build. The
    # fits are independent, so construct both component DataFrames from
    # two driver threads; the plans joined below are identical to the
    # sequential build (the fits are deterministic and the driver-side
    # actions commute), only the idle driver time overlaps.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_bpe = pool.submit(REGISTRY["doc_bpe_tokens"].fn, spark, sf_dir)
        f_uni = pool.submit(REGISTRY["doc_unigram_tokens"].fn, spark, sf_dir)
        bpe_df = f_bpe.result().select("doc_id", "n_words", "n_bpe_tokens")
        uni_df = f_uni.result().select("doc_id", "n_pieces")
    d = table(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )
    j = d.join(bpe_df, "doc_id").join(uni_df, "doc_id")
    return j.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
        F.sum("n_pieces").cast("long").alias("total_unigram_pieces"),
        (F.sum("n_bpe_tokens").cast("double") / F.sum("n_words").cast("double"))
            .alias("bpe_fertility"),
        (F.sum("n_pieces").cast("double") / F.sum("n_words").cast("double"))
            .alias("unigram_fertility"),
        (F.sum("n_chars").cast("double") / F.sum("n_bpe_tokens").cast("double"))
            .alias("chars_per_bpe_token"),
    )


# ------------------------------------------ recrawl scheduling (r11)
@register(
    "crawl_recrawl_schedule",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 300),
    e AS (
      SELECT doc_id,
             'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/p'
               || CAST(doc_id AS VARCHAR) AS url,
             '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
               AS lastmod,
             (['daily', 'weekly', 'monthly', 'never', 'always',
               NULL])[(doc_id % 6) + 1] AS changefreq
      FROM d
    ),
    h AS (
      SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/p'
               || CAST(doc_id AS VARCHAR) AS url,
             CAST('2026-01-' || lpad(CAST(doc_id % 20 + 1 AS VARCHAR), 2, '0')
                  AS DATE) AS last_fetch
      FROM d WHERE doc_id % 3 != 0
    ),
    iv AS (
      SELECT e.url, e.lastmod, e.changefreq, h.last_fetch,
             CASE lower(e.changefreq)
               WHEN 'never' THEN NULL
               WHEN 'always' THEN 0 WHEN 'hourly' THEN 0
               WHEN 'daily' THEN 1 WHEN 'weekly' THEN 7
               WHEN 'monthly' THEN 30 WHEN 'yearly' THEN 365
               ELSE 7 END AS interval_days,
             CAST(DATE '2026-02-10' - h.last_fetch AS BIGINT)
               AS days_since_fetch
      FROM e LEFT JOIN h ON h.url = e.url
    ),
    r AS (
      SELECT *,
             CASE
               WHEN last_fetch IS NULL THEN 'new'
               WHEN CAST(lastmod AS DATE) > last_fetch THEN 'modified'
               WHEN interval_days IS NOT NULL
                    AND days_since_fetch >= interval_days THEN 'stale'
             END AS reason
      FROM iv
    )
    SELECT url,
           (reason IS NOT NULL) AS due,
           reason, strftime(last_fetch, '%Y-%m-%d') AS last_fetch,
           days_since_fetch,
           CAST(interval_days AS BIGINT) AS interval_days,
           CASE WHEN reason IS NOT NULL THEN
             CAST(CASE reason WHEN 'modified' THEN 3 WHEN 'new' THEN 2
                  ELSE 1 END * 1000
               + least(greatest(COALESCE(days_since_fetch
                   - COALESCE(interval_days, 0), 0), 0), 999) AS BIGINT)
           END AS score
    FROM r
    """,
)
def crawl_recrawl_schedule(spark, sf_dir):
    """Recrawl scheduling (functions/crawl.py recrawl_schedule): the
    sitemaps.org freshness hints (lastmod + changefreq) joined against
    the persisted fetch history into a prioritized refetch list —
    never-fetched URLs, modified-since-fetch URLs, and
    changefreq-stale URLs, scored with exact integer urgency so the
    cut order is engine-reproducible. Generative inputs derived from
    doc_id (one-third never fetched, six-way changefreq cycle
    including 'never' and a missing hint); oracle restates the whole
    date algebra in SQL. One url-keyed left join + zero-shuffle date
    arithmetic."""
    from ..functions.crawl import recrawl_schedule

    d = table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 300
    )
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/p"), F.col("doc_id").cast("string"),
    )
    cf = F.element_at(
        F.array(
            F.lit("daily"), F.lit("weekly"), F.lit("monthly"),
            F.lit("never"), F.lit("always"), F.lit(None).cast("string"),
        ),
        ((F.col("doc_id") % 6) + 1).cast("int"),
    )
    entries = d.select(
        url.alias("url"),
        F.concat(
            F.lit("2026-01-"),
            F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        ).alias("lastmod"),
        cf.alias("changefreq"),
    )
    history = d.where(F.col("doc_id") % 3 != 0).select(
        url.alias("url"),
        F.to_date(
            F.concat(
                F.lit("2026-01-"),
                F.lpad((F.col("doc_id") % 20 + 1).cast("string"), 2, "0"),
            )
        ).alias("last_fetch"),
    )
    out = recrawl_schedule(entries, history, as_of="2026-02-10")
    # DATE cells reach the driver as engine-specific objects
    # (datetime.date vs Timestamp); stringify for the hash compare,
    # the q3/q18 orderdate convention
    return out.withColumn(
        "last_fetch", F.date_format("last_fetch", "yyyy-MM-dd")
    )


# ------------------------------------------ anchor-text profile (r11)
@register(
    "doc_anchor_profile",
    oracle="""
    WITH b AS (
      SELECT CAST(doc_id % 3 AS VARCHAR) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM b)
    SELECT 'site' || s || '.example.com' AS host,
           n * 3 AS n_inlinks, CAST(3 AS BIGINT) AS n_distinct_anchors,
           'Root link' AS top_anchor, n AS top_anchor_n
    FROM b
    UNION ALL SELECT 'other.org', t, 1, 'absolute', t FROM tot
    UNION ALL SELECT 'cdn.example.net', t, 1, 'proto relative', t FROM tot
    """,
)
def doc_anchor_profile(spark, sf_dir):
    """Anchor-text profiles per destination host (functions/
    reputation.py anchor_text_profile): how OTHER pages describe a
    host — inlink counts, distinct anchor vocabulary, and the modal
    anchor string (lexicographic tie-break, a total order) — the
    anchor-propagation signal web ranking and crawl spam priors use.
    Runs on the SAME generative page doc_html_links parses, so the
    Spark side must parse, resolve, host-normalize and aggregate
    correctly for the three site hosts and the two external hosts to
    hash-match the generative oracle (ties: 'Root link' beats
    'child page'/'frag stripped' lexicographically at equal count)."""
    from ..functions.html import extract_links
    from ..functions.reputation import anchor_text_profile

    docs = table(spark, sf_dir, "documents")
    s = (F.col("doc_id") % 3).cast("string")
    base = F.concat(F.lit("https://site"), s,
                    F.lit(".example.com/a/b/page.html"))
    page = F.lit(
        '<p>No link here</p>'
        '<a href="/root.html">Root <b>link</b></a>'
        '<a href="rel/child.html">child page</a>'
        '<a href="https://other.org/x?q=1">absolute</a>'
        '<a href="//cdn.example.net/lib.js">proto relative</a>'
        '<a href="javascript:void(0)">dropped</a>'
        '<a href="#frag">dropped too</a>'
        '<a href="page2.html#sec">frag stripped</a>'
    )
    links = docs.select(
        "doc_id", F.explode(extract_links(page, base)).alias("l")
    ).select(F.col("l.href").alias("href"), F.col("l.anchor").alias("anchor"))
    return anchor_text_profile(links, "href", "anchor")


# ------------------------------------------ crawl change rate (r11)
@register(
    "crawl_change_rate",
    oracle="""
    WITH h AS (
      SELECT 'https://h' || CAST(doc_id % 100 AS VARCHAR) || '.example/p'
               AS url,
             DATE '2026-01-01' + CAST(doc_id // 100 AS INT) AS fetch_date,
             'f' || CAST((doc_id // 100) // ((doc_id % 100) % 3 + 1)
                         AS VARCHAR) AS fp
      FROM documents
    ),
    s AS (
      SELECT url, fp,
             lag(fp) OVER (PARTITION BY url ORDER BY fetch_date) AS prev
      FROM h
    ),
    a AS (
      SELECT url, CAST(COUNT(*) AS BIGINT) AS n_fetches,
             CAST(COUNT(*) - 1 AS BIGINT) AS n_intervals,
             CAST(SUM(CASE WHEN prev IS NOT NULL AND fp != prev
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
      FROM s GROUP BY url
    )
    SELECT url, n_fetches, n_intervals, n_changes,
           CASE WHEN n_intervals > 0 THEN
             CAST(n_changes AS DOUBLE) / CAST(n_intervals AS DOUBLE)
           END AS change_rate,
           CAST(CASE WHEN n_intervals = 0 THEN 7
                ELSE least(greatest((7 * n_intervals)
                                    // greatest(n_changes, 1), 1), 60)
                END AS BIGINT) AS interval_days
    FROM a
    """,
)
def crawl_change_rate(spark, sf_dir):
    """Adaptive recrawl intervals from observed change rates
    (functions/crawl.py change_rate_intervals — the Cho &
    Garcia-Molina incremental-crawler estimator): generative fetch
    history (each URL fetched once per 100-doc revision wave, content
    fingerprints changing every 1st/2nd/3rd revision by URL class),
    consecutive-fingerprint lag compare, exact integer interval
    derivation. Complements crawl_recrawl_schedule (sitemap CLAIMS)
    with measured behavior. One url-keyed window + one aggregate."""
    from ..functions.crawl import change_rate_intervals

    d = F.col("doc_id")
    history = table(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://h"), (d % 100).cast("string"), F.lit(".example/p")
        ).alias("url"),
        F.date_add(
            F.lit("2026-01-01").cast("date"), F.expr("doc_id div 100").cast("int")
        ).alias("fetch_date"),
        F.concat(
            F.lit("f"),
            F.expr("(doc_id div 100) div ((doc_id % 100) % 3 + 1)").cast("string"),
        ).alias("fingerprint"),
    )
    return change_rate_intervals(
        history, base_days=7, min_days=1, max_days=60
    )


# ------------------------------------------ containment dedup (r11)
def _containment_oracle(threshold: float = 0.9) -> str:
    from ..functions.dedup import _perm_params
    from ._oracle_sql import _MERSENNE, _h60

    n_hashes, n_bands = 32, 8
    params = _perm_params(n_hashes)
    a_lit = "[" + ",".join(str(a) for a, _ in params) + "]"
    b_lit = "[" + ",".join(str(b) for _, b in params) + "]"
    rows = n_hashes // n_bands
    p = _MERSENNE
    bh = _h60(
        "array_to_string(list_transform("
        f"sig[band*{rows}+1 : band*{rows}+{rows}], x -> CAST(x AS VARCHAR)), chr(31))"
    )
    return f"""
    WITH uni0 AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(list_filter(string_split_regex(trim(text),
               '\\s+'), x -> x <> '')[1 :
               greatest(len(list_filter(string_split_regex(trim(text),
               '\\s+'), x -> x <> '')) // 2, 4)], ' ')
      FROM documents WHERE text IS NOT NULL
    ),
    toks AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM uni0
    ),
    shseq AS MATERIALIZED (
      SELECT doc_id, list_transform(
        range(1, greatest(len(t) - 3, 0) + 2),
        i -> {_h60("concat_ws(chr(31), t[i], t[i+1], t[i+2])")}) AS s
      FROM toks
    ),
    sh AS MATERIALIZED (SELECT doc_id, list_distinct(s) AS sh FROM shseq),
    shm AS MATERIALIZED (
      SELECT doc_id, sh, list_transform(sh, h -> h % {p}) AS shm FROM sh
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id,
             list_transform(range(1, {n_hashes + 1}),
               i -> list_min(list_transform(shm,
                 h -> (h * ({a_lit})[i] + ({b_lit})[i]) % {p}))) AS sig
      FROM shm
    ),
    banded AS MATERIALIZED (
      SELECT doc_id, band, {bh} AS bhash
      FROM sigs, (SELECT unnest(range({n_bands})) AS band)
    ),
    cands AS MATERIALIZED (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
    ),
    sized AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS i,
             CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS u,
             CAST(len(a.sh) AS DOUBLE) AS na,
             CAST(len(b.sh) AS DOUBLE) AS nb
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b
    ),
    both_dirs AS (
      SELECT id_a AS contained_id, id_b AS container_id,
             i / greatest(na, 1) AS containment,
             i / greatest(u, 1) AS jaccard
      FROM sized
      UNION ALL
      SELECT id_b, id_a, i / greatest(nb, 1), i / greatest(u, 1)
      FROM sized
    )
    SELECT * FROM both_dirs WHERE containment >= {threshold}
    """


@register("dedup_containment", oracle=_containment_oracle())
def dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs (functions/dedup.py
    containment_pairs): |A∩B|/|A| — the quote/aggregator signal
    symmetric Jaccard cannot see. The corpus is augmented with a
    half-length EXCERPT of every document (ids offset by 1e6), so
    true containment pairs with mid Jaccard exist by construction;
    candidates come from the shared portable MinHash band machinery,
    verification is exact shingle-set arithmetic — the oracle
    recomputes the identical signatures, buckets and both-direction
    containment scores."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    half = F.array_join(
        F.slice(
            toks, 1,
            F.greatest(F.expr("size(filter(split(trim(text), '\\\\s+'), t -> t != '')) div 2"),
                       F.lit(4)),
        ),
        " ",
    )
    excerpts = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), half.alias("text")
    )
    uni = docs.select("doc_id", "text").unionByName(excerpts)
    return dedup.containment_pairs(
        uni, "doc_id", threshold=0.9, portable=True, max_bucket_size=None
    )


# ------------------------------------------ meta-robots filter (r11)
@register(
    "doc_meta_robots_filter",
    oracle="""
    SELECT doc_id,
           (doc_id % 7 IN (1, 3, 5, 6)) AS noindex,
           (doc_id % 7 IN (2, 3, 5, 6)) AS nofollow,
           NOT (doc_id % 7 IN (1, 3, 5, 6)) AS indexable
    FROM documents
    """,
)
def doc_meta_robots_filter(spark, sf_dir):
    """Page-level indexing consent (functions/html.py meta_robots):
    <meta name="robots"> directives parsed from raw HTML — noindex /
    nofollow / none (= both) / all (= neither), case-insensitive
    names and tokens, multiple metas union restrictions, and
    space-separated content ("noindex nofollow", seen in the wild)
    parsed fail-closed. The layer ABOVE robots.txt every compliant
    corpus build honors (a page a crawler may fetch but must not
    index). Generative seven-way page cycle; the Spark side must
    parse every variant to hash-match."""
    from ..functions.html import meta_robots

    docs = table(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 7).cast("int")
    page = (
        F.when(m == 1, F.lit('<html><head><meta name="robots" content="noindex"></head><body>x</body></html>'))
        .when(m == 2, F.lit('<html><head><META NAME="ROBOTS" CONTENT="NOFOLLOW"></head><body>x</body></html>'))
        .when(m == 3, F.lit('<html><head><meta name="robots" content="none"></head><body>x</body></html>'))
        .when(m == 4, F.lit('<html><head><meta name="robots" content="all"></head><body>x</body></html>'))
        .when(m == 5, F.lit('<html><head><meta name="robots" content="noindex">'
                            '<meta name="robots" content="nofollow"></head><body>x</body></html>'))
        .when(m == 6, F.lit('<html><head><meta name="robots" content="noindex nofollow"></head><body>x</body></html>'))
        .otherwise(F.lit('<html><head><title>t</title></head><body>x</body></html>'))
    )
    r = docs.select("doc_id", meta_robots(page).alias("r"))
    return r.select(
        "doc_id",
        F.col("r.noindex").alias("noindex"),
        F.col("r.nofollow").alias("nofollow"),
        (~F.col("r.noindex")).alias("indexable"),
    )
