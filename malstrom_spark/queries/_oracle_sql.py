"""DuckDB oracle-SQL generators for the hash-based pipeline queries.

Each generator emits SQL that recomputes the *same* signatures, bands
and buckets as the Spark implementation, using the engine-portable
primitives pinned by tests:

- 60-bit hash:  ('0x' || substr(md5(x), 1, 15))::BIGINT
  == Spark conv(substr(md5(x), 1, 15), 16, 10)::long
- tokenizer:    string_split_regex(trim(lower(text)), '\\s+')
  == Spark split(trim(lower(text)), '\\s+')
- quantization: round(x * 2^20) in exact integer arithmetic (all
  downstream sums stay far below 2^53, so even double-typed engines
  compute them exactly).

This is what upgrades MinHash/SimHash/winnowing/ANN from rows-only
checks to full row+schema+value-hash checks in the driver gate.
"""

from __future__ import annotations

from ..functions.dedup import _MERSENNE, _perm_params
from ..functions.similarity import QUANT_SCALE, _rademacher_signs

# NULL->0 coalesce mirrors md5_prefix_hash's non-nullable contract
# (bit-identical twins by construction — ADVICE r02)
H60 = "COALESCE(('0x' || substr(md5({x}), 1, 15))::BIGINT, 0)"


def _h60(x: str) -> str:
    return H60.format(x=x)


# Shared CTE: per-doc token list.
_TOKS = "SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents"

# Shared CTE body: positional 3-gram shingle hash sequence (no
# distinct — winnowing is positional; set consumers distinct later).
_SHSEQ = (
    "SELECT doc_id, list_transform("
    "range(1, greatest(len(t) - 3, 0) + 2), "
    "i -> " + _h60("concat_ws(chr(31), t[i], t[i+1], t[i+2])") + ") AS s FROM toks"
)


def minhash_lsh_oracle(n_hashes: int = 32, n_bands: int = 8, threshold: float = 0.5) -> str:
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
    WITH toks AS MATERIALIZED ({_TOKS}),
    shseq AS MATERIALIZED ({_SHSEQ}),
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
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS jaccard
    FROM cands c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= {threshold}
    """


def dedup_clusters_oracle(n_hashes: int = 32, n_bands: int = 8, threshold: float = 0.5) -> str:
    """Cluster labels via recursive-CTE reachability over the
    UNCOLLAPSED portable MinHash pair set — pins `dedup_clusters`'s
    whole contraction path (exact-collapse -> rep pairs -> large-star/
    small-star CC -> member label join) against first-principles
    transitive closure."""
    pairs_sql = minhash_lsh_oracle(n_hashes, n_bands, threshold)
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM ({pairs_sql}) p
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS group_id, (node = MIN(lbl)) AS is_keeper
    FROM reach GROUP BY node
    """


def simhash_oracle(max_hamming: int = 3) -> str:
    # 60-bit portable SimHash: 4 chunks x 15 bits.
    return f"""
    WITH toks AS MATERIALIZED ({_TOKS}),
    th AS MATERIALIZED (
      SELECT doc_id,
             list_transform(list_distinct(t), x -> {_h60('x')}) AS th
      FROM toks
    ),
    sums AS MATERIALIZED (
      SELECT doc_id,
             list_transform(range(0, 60),
               b -> list_sum(list_transform(th,
                 h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))) AS s
      FROM th
    ),
    sh AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60),
               b -> CASE WHEN s[b + 1] > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END))
             AS BIGINT) AS sh
      FROM sums
    ),
    chunks AS (
      SELECT doc_id, sh, chunk_id, (sh >> (chunk_id * 15)) & 32767 AS chunk
      FROM sh, (SELECT unnest(range(4)) AS chunk_id)
    ),
    cands AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.sh AS sh_a, r.sh AS sh_b
      FROM chunks l JOIN chunks r
        ON l.chunk_id = r.chunk_id AND l.chunk = r.chunk AND l.doc_id < r.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cands
    WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


def fingerprint_sketch_oracle(window: int = 4) -> str:
    w = window
    return f"""
    WITH toks AS MATERIALIZED ({_TOKS}),
    shseq AS MATERIALIZED ({_SHSEQ}),
    sk AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(s) - {w}, 0) + 2),
               i -> list_min(s[i : i + {w - 1}])))) AS sketch
      FROM shseq
    )
    SELECT doc_id, unnest(sketch) AS sketch_value,
           CAST(len(sketch) AS BIGINT) AS sketch_size
    FROM sk
    """


def decontaminate_oracle(ngram_n: int = 13, bench_mod: int = 97) -> str:
    """Survivor ids after removing docs sharing any word ``ngram_n``-gram
    with the benchmark slice (doc_id % bench_mod = 0). Recomputes the
    same md5-prefix gram hashes as the Spark portable path; a doc
    shorter than n tokens hashes its one truncated gram (concat_ws
    skips the NULL out-of-range tokens in both engines)."""
    cells = ", ".join(f"t[i+{j}]" for j in range(ngram_n))
    gram = _h60(f"concat_ws(chr(31), {cells})")
    return f"""
    WITH toks AS MATERIALIZED ({_TOKS}),
    grams AS MATERIALIZED (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(t) - {ngram_n}, 0) + 2),
        i -> {gram})) AS gs
      FROM toks
    ),
    bench AS (
      SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % {bench_mod} = 0
    ),
    bad AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(gs) AS g FROM grams) d
      JOIN bench USING (g)
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    """


def training_pipeline_oracle(
    ngram_n: int = 13, bench_mod: int = 97, seq_len: int = 2048, n_shards: int = 8
) -> str:
    """End-to-end training-data pipeline: exact-dedup keepers ->
    quality/language gate -> 13-gram decontamination -> concat-and-
    chunk sequence packing. Every stage reuses the portable primitive
    already proven by its standalone oracle."""
    cells = ", ".join(f"t[i+{j}]" for j in range(ngram_n))
    gram = _h60(f"concat_ws(chr(31), {cells})")
    return f"""
    WITH keepers AS MATERIALIZED (
      SELECT MIN(doc_id) AS doc_id FROM documents
      GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
    ),
    scored AS MATERIALIZED (
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
    ),
    gated AS MATERIALIZED (
      SELECT doc_id, text, token_count FROM (
        SELECT doc_id, text, token_count,
               (least(CAST(token_count AS DOUBLE) / 100.0, 1.0)
                + alpha_ratio
                + (1.0 - least(abs(avg_token_len - 5.0) / 5.0, 1.0))) / 3.0 AS q,
               CASE WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                    WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                    WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                    ELSE 'fr' END AS lang_guess
        FROM scored
      ) WHERE q >= 0.4 AND lang_guess <> 'und' AND token_count >= 10
    ),
    btoks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE doc_id % {bench_mod} = 0
    ),
    bgrams AS MATERIALIZED (
      SELECT DISTINCT unnest(list_transform(
        range(1, greatest(len(t) - {ngram_n}, 0) + 2), i -> {gram})) AS g
      FROM btoks
    ),
    ctoks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM gated
    ),
    bad AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(t) - {ngram_n}, 0) + 2), i -> {gram})) AS g
        FROM ctoks
      ) cg JOIN bgrams USING (g)
    ),
    clean AS (
      SELECT doc_id, token_count FROM gated
      WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    ),
    sharded AS (
      SELECT doc_id, token_count,
             {_h60("CAST(doc_id AS VARCHAR)")} % {n_shards} AS shard
      FROM clean
    ),
    laid AS (
      SELECT doc_id, shard, token_count,
             SUM(token_count) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cend
      FROM sharded
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST((cend - token_count) // {seq_len} AS BIGINT) AS seq_id,
           CAST((cend - token_count) % {seq_len} AS BIGINT) AS start_offset,
           (token_count > 0 AND (cend - 1) // {seq_len} > (cend - token_count) // {seq_len})
             AS crosses_boundary
    FROM laid
    """


def _quant(x: str) -> str:
    return f"list_transform({x}, v -> CAST(round(CAST(v AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"


_COS = (
    "round(list_dot_product(qd, cd)"
    " / (sqrt(list_dot_product(qd, qd)) * sqrt(list_dot_product(cd, cd))), 6)"
)


def ann_lsh_oracle(
    dim: int = 64, n_planes: int = 8, k: int = 5, n_queries: int = 8, n_probe: int = 1
) -> str:
    planes = _rademacher_signs(dim, n_planes)
    # bucket bit p: integer dot of quantized vec with +-1 plane; the
    # products/sums are integer-valued and < 2^53, exact in any engine.
    bits, dot_exprs = [], []
    for p, signs in enumerate(planes):
        s_lit = "[" + ",".join(str(s) for s in signs) + "]"
        d = (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> q[i] * ({s_lit})[i]))"
        )
        dot_exprs.append(f"CAST({d} AS BIGINT)")
        bits.append(f"(CASE WHEN {d} > 0 THEN (1::BIGINT << {p}) ELSE 0::BIGINT END)")
    bucket = " + ".join(bits)
    if n_probe <= 1:
        probe_cte = f"""
    probe AS (
      SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id < {n_queries}
    ),"""
    else:
        # flip order key = |dot| * n_planes + plane (fits int64 exactly)
        # — identical to with_probe_buckets_portable's encoding
        probe_cte = f"""
    qd AS (
      SELECT vec_id, v, dots, bucket FROM b WHERE vec_id < {n_queries}
    ),
    probe AS (
      SELECT vec_id AS q_id, v AS qv,
             unnest(list_concat([bucket],
               list_transform(
                 list_slice(
                   list_sort(list_transform(range(1, {n_planes + 1}),
                     i -> abs(dots[i]) * {n_planes} + (i - 1))),
                   1, {min(n_probe - 1, n_planes)}),
                 kk -> xor(bucket, 1::BIGINT << CAST(kk % {n_planes} AS INTEGER))))
             ) AS bucket
      FROM qd
    ),"""
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             {_quant('embedding')} AS q
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, v, [{", ".join(dot_exprs)}] AS dots,
             CAST({bucket} AS BIGINT) AS bucket
      FROM e
    ),{probe_cte}
    scored AS (
      SELECT DISTINCT probe.q_id, cs.vec_id AS c_id, probe.qv AS qd, cs.v AS cd
      FROM b cs JOIN probe ON cs.bucket = probe.bucket
    ),
    ranked AS (
      SELECT q_id, c_id, {_COS} AS sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY list_dot_product(qd, cd)
                 / (sqrt(list_dot_product(qd, qd)) * sqrt(list_dot_product(cd, cd))) DESC,
               c_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= {k}
    """


def ann_pq_oracle(
    dim: int = 64, m: int = 8, k_cb: int = 16, k: int = 5, n_queries: int = 8
) -> str:
    """PQ asymmetric-distance top-k over integer-quantized vectors
    with head-row codebooks — replays the similarity_ann_pq row
    (pq_head_codebooks, then pq_encode and pq_adc_topk over
    pre-quantized vectors, exact below 2^53) in int64 arithmetic:
    code assignments, ADC distances, and ranks are engine-identical."""
    dsub = dim // m
    d2 = (
        f"list_sum(list_transform(range(1, {dsub + 1}),"
        " i -> (sv[i] - cv[i]) * (sv[i] - cv[i])))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, {_quant('embedding')} AS q
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    sub AS (
      SELECT vec_id, t.s AS sub, list_slice(q, t.s * {dsub} + 1, (t.s + 1) * {dsub}) AS sv
      FROM e, (SELECT unnest(range(0, {m})) AS s) t
    ),
    cb AS (
      SELECT sub, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {k_cb}
    ),
    enc AS (
      SELECT sub.vec_id, sub.sub, cb.code,
             ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.sub
               ORDER BY {d2}, cb.code) AS rk
      FROM sub JOIN cb USING (sub)
    ),
    codes AS (SELECT vec_id AS c_id, sub, code FROM enc WHERE rk = 1),
    qsub AS (SELECT vec_id AS q_id, sub, sv FROM sub WHERE vec_id < {n_queries}),
    scored AS (
      SELECT q.q_id, c.c_id, CAST(SUM({d2}) AS BIGINT) AS d2
      FROM qsub q
      JOIN codes c USING (sub)
      JOIN cb ON cb.sub = c.sub AND cb.code = c.code
      GROUP BY q.q_id, c.c_id
    ),
    ranked AS (
      SELECT q_id, c_id, d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT q_id, c_id, d2, rank FROM ranked WHERE rank <= {k}
    """


def ann_ivf_oracle(
    dim: int = 64,
    n_lists: int = 8,
    n_probe: int = 3,
    k: int = 5,
    n_queries: int = 8,
    src: str = "SELECT vec_id, embedding FROM embeddings",
) -> str:
    """IVF top-k over the vector set produced by `src` (default: the
    embeddings table) with the quantizer FROZEN on the original
    embeddings' head rows — so the updated-index variant reuses this
    body verbatim with only the vector set swapped."""
    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (q[i] - cq[i]) * (q[i] - cq[i])))"
    )
    return f"""
    WITH vecs AS ({src}),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             {_quant('embedding')} AS q
      FROM vecs
    ),
    cent AS (
      SELECT vec_id AS cell, {_quant('embedding')} AS cq
      FROM embeddings WHERE vec_id < {n_lists}
    ),
    assigned AS (
      SELECT e.vec_id, e.v, cent.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d2}, cent.cell) AS rk
      FROM e, cent
    ),
    corp AS (SELECT vec_id AS c_id, v AS cd, cell FROM assigned WHERE rk = 1),
    qry AS (
      SELECT vec_id AS q_id, v AS qd, cell FROM assigned
      WHERE rk <= {n_probe} AND vec_id < {n_queries}
    ),
    scored AS (
      SELECT q_id, c_id, qd, cd FROM corp JOIN qry USING (cell)
    ),
    ranked AS (
      SELECT q_id, c_id, {_COS} AS sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY list_dot_product(qd, cd)
                 / (sqrt(list_dot_product(qd, qd)) * sqrt(list_dot_product(cd, cd))) DESC,
               c_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= {k}
    """


#: post-update vector set for the incremental-IVF row: every 5th
#: vector is re-embedded (its new vector is vec (vec_id div 5)'s
#: original embedding), every 25th a NULL tombstone, and
#: (vec_id % 9 == 1, % 5 != 0) ids are explicitly deleted — mirrors
#: image_phash_index_updated's re-crawl batch shape.
ANN_IVF_UPDATED_SRC = """
      SELECT e.vec_id, e.embedding FROM embeddings e
      WHERE e.vec_id % 5 != 0 AND e.vec_id % 9 != 1
      UNION ALL
      SELECT e.vec_id, s.embedding
      FROM embeddings e JOIN embeddings s ON s.vec_id = e.vec_id // 5
      WHERE e.vec_id % 5 = 0 AND e.vec_id % 25 != 0
"""


def ann_ivf_hier_oracle(
    dim: int = 64,
    n_super: int = 3,
    n_leaves: int = 9,
    n_probe: int = 3,
    n_probe_super: int = 2,
    k: int = 5,
    n_queries: int = 8,
) -> str:
    """Two-level (hierarchical) IVF rebuilt in SQL: leaves attach to
    their integer-argmin super, every vector ranks the supers then
    only its probed supers' leaves — the candidate pruning
    `ivf_assign_hier` performs in its int64 numpy kernel, here as
    windowed argmins with the same (distance, id) tie-breaks. Frozen
    head-row quantizer (supers = first n_super embeddings, leaves =
    first n_leaves)."""

    def d2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             {_quant('embedding')} AS q
      FROM embeddings
    ),
    sup AS (SELECT vec_id AS sid, q AS sq FROM e WHERE vec_id < {n_super}),
    leaf0 AS (SELECT vec_id AS lid, q AS lq FROM e WHERE vec_id < {n_leaves}),
    leafsup AS (
      SELECT lid, lq, sid,
             ROW_NUMBER() OVER (PARTITION BY lid ORDER BY {d2('lq', 'sq')}, sid) AS rk
      FROM leaf0, sup
    ),
    leaf AS (SELECT lid, lq, sid FROM leafsup WHERE rk = 1),
    vsup AS (
      SELECT e.vec_id, e.v, e.q, sup.sid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d2('e.q', 'sup.sq')}, sup.sid) AS srk
      FROM e, sup
    ),
    corpc AS (
      SELECT vs.vec_id, vs.v, l.lid,
             ROW_NUMBER() OVER (PARTITION BY vs.vec_id ORDER BY {d2('vs.q', 'l.lq')}, l.lid) AS rk
      FROM vsup vs JOIN leaf l ON l.sid = vs.sid
      WHERE vs.srk <= {n_probe_super}
    ),
    corp AS (SELECT vec_id AS c_id, v AS cd, lid AS cell FROM corpc WHERE rk = 1),
    qryc AS (
      SELECT vs.vec_id, vs.v, l.lid,
             ROW_NUMBER() OVER (PARTITION BY vs.vec_id ORDER BY {d2('vs.q', 'l.lq')}, l.lid) AS rk
      FROM vsup vs JOIN leaf l ON l.sid = vs.sid
      WHERE vs.srk <= {n_probe_super} AND vs.vec_id < {n_queries}
    ),
    qry AS (SELECT vec_id AS q_id, v AS qd, lid AS cell FROM qryc WHERE rk <= {n_probe}),
    scored AS (SELECT q_id, c_id, qd, cd FROM corp JOIN qry USING (cell)),
    ranked AS (
      SELECT q_id, c_id, {_COS} AS sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY list_dot_product(qd, cd)
                 / (sqrt(list_dot_product(qd, qd)) * sqrt(list_dot_product(cd, cd))) DESC,
               c_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= {k}
    """


def ann_ivf_updated_oracle(
    dim: int = 64, n_lists: int = 8, n_probe: int = 3, k: int = 5, n_queries: int = 8
) -> str:
    """From-scratch REBUILD over the post-update vector set (frozen
    quantizer) — if any replaced or deleted vector's old assignment
    lingered in the served index, stale neighbors would surface and
    hash-mismatch."""
    return ann_ivf_oracle(dim, n_lists, n_probe, k, n_queries, src=ANN_IVF_UPDATED_SRC)


def embedding_near_dup_lsh_oracle(dim: int = 64, n_planes: int = 8, threshold: float = 0.35) -> str:
    planes = _rademacher_signs(dim, n_planes)
    bits = []
    for p, signs in enumerate(planes):
        s_lit = "[" + ",".join(str(s) for s in signs) + "]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> q[i] * ({s_lit})[i])) > 0 THEN (1::BIGINT << {p}) ELSE 0::BIGINT END)"
        )
    bucket = " + ".join(bits)
    sim = (
        "list_dot_product(a.v, b.v)"
        " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             {_quant('embedding')} AS q
      FROM embeddings
    ),
    b0 AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({sim}, 6) AS sim
    FROM b0 a JOIN b0 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {sim} >= {threshold}
    """


def incremental_minhash_oracle(
    n_hashes: int = 32, n_bands: int = 8, threshold: float = 0.5, batch_mod: int = 5
) -> str:
    """First-principles twin of `dedup_against_history`: documents
    split into history (doc_id % batch_mod != 0) and batch (== 0);
    batch docs sharing a band bucket with a history doc verify by
    exact shingle-set Jaccard; flagged rows aggregate to
    (doc_id, dup_of = min match, n_matches)."""
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
    WITH toks AS MATERIALIZED ({_TOKS}),
    shseq AS MATERIALIZED ({_SHSEQ}),
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
    cand AS MATERIALIZED (
      SELECT DISTINCT n.doc_id AS id_a, h.doc_id AS id_b
      FROM banded n JOIN banded h
        ON n.band = h.band AND n.bhash = h.bhash
      WHERE n.doc_id % {batch_mod} = 0 AND h.doc_id % {batch_mod} != 0
    ),
    ver AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)
            >= {threshold}
    )
    SELECT id_a AS doc_id, MIN(id_b) AS dup_of,
           COUNT(*) AS n_matches
    FROM ver GROUP BY id_a
    """


def repeated_windows_oracle(window: int = 8, min_docs: int = 2) -> str:
    """Twin of `substring_repetition_stats` (exact-substring dedup,
    round 7): positional ``window``-token hashes; a position counts as
    repeated when its hash occurs in >= min_docs distinct docs."""
    cells = ", ".join(f"t[i+{j}]" for j in range(window))
    wh = _h60(f"concat_ws(chr(31), {cells})")
    return f"""
    WITH toks AS MATERIALIZED ({_TOKS}),
    wseq AS MATERIALIZED (
      SELECT doc_id, list_transform(
        range(1, greatest(len(t) - {window}, 0) + 2),
        i -> {wh}) AS ws
      FROM toks
    ),
    wh AS MATERIALIZED (SELECT doc_id, unnest(ws) AS whash FROM wseq),
    rep AS MATERIALIZED (
      SELECT whash FROM wh GROUP BY whash
      HAVING COUNT(DISTINCT doc_id) >= {min_docs}
    )
    SELECT w.doc_id,
           COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN r.whash IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repeated_windows,
           CAST(SUM(CASE WHEN r.whash IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS repeated_frac
    FROM wh w LEFT JOIN rep r ON w.whash = r.whash
    GROUP BY w.doc_id
    """


def remove_repeated_spans_oracle(window: int = 8, min_docs: int = 2) -> str:
    """Twin of `dedup.remove_repeated_spans`: flagged positional
    window hashes -> per-doc interval union -> token cut over the
    ORIGINAL-case split, single-space rejoin."""
    cells = ", ".join(f"t[i+{j}]" for j in range(window))
    wh = _h60(f"concat_ws(chr(31), {cells})")
    return f"""
    WITH toks AS MATERIALIZED ({_TOKS}),
    wseq AS MATERIALIZED (
      SELECT doc_id, list_transform(
        range(1, greatest(len(t) - {window}, 0) + 2),
        i -> {wh}) AS ws
      FROM toks
    ),
    wh AS MATERIALIZED (
      SELECT doc_id, unnest(ws) AS whash,
             generate_subscripts(ws, 1) - 1 AS pos
      FROM wseq
    ),
    rep AS MATERIALIZED (
      SELECT whash FROM wh GROUP BY whash
      HAVING COUNT(DISTINCT doc_id) >= {min_docs}
    ),
    fl AS (
      SELECT w.doc_id, list_sort(list(w.pos)) AS ps
      FROM wh w JOIN rep r ON w.whash = r.whash
      GROUP BY w.doc_id
    ),
    base AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ot
      FROM documents
    ),
    j AS (
      SELECT b.doc_id, b.ot,
             coalesce(f.ps, CAST([] AS BIGINT[])) AS ps
      FROM base b LEFT JOIN fl f ON b.doc_id = f.doc_id
    ),
    cut AS (
      SELECT doc_id, ot, ps,
             list_filter(ot, (x, i) ->
               len(list_filter(ps, p ->
                 p <= i - 1 AND i - 1 < p + {window})) = 0) AS kept,
             list_filter(ps, p ->
               len(list_filter(ps, q ->
                 q < p AND q + {window} >= p)) = 0) AS starts
      FROM j
    )
    SELECT doc_id,
           CAST(len(ot) AS BIGINT) AS n_tokens,
           CAST(len(ot) - len(kept) AS BIGINT) AS n_removed,
           CAST(len(starts) AS BIGINT) AS n_spans,
           -- DuckDB array_to_string([]) is NULL; Spark array_join([])
           -- is '' — align on '' for a fully-cut doc, NULL only for
           -- NULL input text
           CASE WHEN kept IS NOT NULL
                THEN coalesce(array_to_string(kept, ' '), '') END AS cleaned
    FROM cut
    """


def exact_substring_dedup_oracle(
    min_len: int = 8, keep_first: bool = True
) -> str:
    """Twin of `dedup.exact_substring_dedup` (ExactSubstr, Lee et
    al. 2022): positional window hashes counted by OCCURRENCE (>= 2
    anywhere, same doc included); the globally-first occurrence per
    hash (min (doc_id, pos) struct) is spared when keep_first; the
    rest interval-union and cut exactly like
    remove_repeated_spans_oracle."""
    cells = ", ".join(f"t[i+{j}]" for j in range(min_len))
    wh = _h60(f"concat_ws(chr(31), {cells})")
    spare = (
        "AND NOT (w.doc_id = r.canon.i AND w.pos = r.canon.p)"
        if keep_first else ""
    )
    return f"""
    WITH toks AS MATERIALIZED ({_TOKS}),
    wseq AS MATERIALIZED (
      SELECT doc_id, list_transform(
        range(1, greatest(len(t) - {min_len}, 0) + 2),
        i -> {wh}) AS ws
      FROM toks
    ),
    wh AS MATERIALIZED (
      SELECT doc_id, unnest(ws) AS whash,
             generate_subscripts(ws, 1) - 1 AS pos
      FROM wseq
    ),
    rep AS MATERIALIZED (
      SELECT whash, COUNT(*) AS n_occ,
             min({{'i': doc_id, 'p': pos}}) AS canon
      FROM wh GROUP BY whash HAVING COUNT(*) >= 2
    ),
    fl AS (
      SELECT w.doc_id, list_sort(list(w.pos)) AS ps
      FROM wh w JOIN rep r ON w.whash = r.whash {spare}
      GROUP BY w.doc_id
    ),
    base AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ot
      FROM documents
    ),
    j AS (
      SELECT b.doc_id, b.ot,
             coalesce(f.ps, CAST([] AS BIGINT[])) AS ps
      FROM base b LEFT JOIN fl f ON b.doc_id = f.doc_id
    ),
    cut AS (
      SELECT doc_id, ot, ps,
             list_filter(ot, (x, i) ->
               len(list_filter(ps, p ->
                 p <= i - 1 AND i - 1 < p + {min_len})) = 0) AS kept,
             list_filter(ps, p ->
               len(list_filter(ps, q ->
                 q < p AND q + {min_len} >= p)) = 0) AS starts
      FROM j
    )
    SELECT doc_id,
           CAST(len(ot) AS BIGINT) AS n_tokens,
           CAST(len(ot) - len(kept) AS BIGINT) AS n_removed,
           CAST(len(starts) AS BIGINT) AS n_spans,
           CASE WHEN kept IS NOT NULL
                THEN coalesce(array_to_string(kept, ' '), '') END AS cleaned
    FROM cut
    """


def semdedup_oracle(
    dim: int = 64, n_clusters: int = 8, threshold: float = 0.5,
    id_max: int = 600,
) -> str:
    """First-principles SemDeDup twin: head-centroid assignment by
    exact integer sq-L2 (ties to the smaller cell), within-cluster
    cosine pairs, recursive-CTE reachability for the groups, and the
    paper's farthest-from-centroid keeper window."""
    d2 = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (q[i] - cq[i]) * (q[i] - cq[i]))) AS BIGINT)"
    )
    sim = (
        "list_dot_product(a.v, b.v)"
        " / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             {_quant('embedding')} AS q
      FROM embeddings WHERE vec_id < {id_max}
    ),
    cent AS (SELECT vec_id AS cell, q AS cq FROM e WHERE vec_id < {n_clusters}),
    assigned AS (
      SELECT e.vec_id, e.v, cent.cell, {d2} AS d2,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {d2}, cent.cell) AS rk
      FROM e, cent
    ),
    corp AS MATERIALIZED (
      SELECT vec_id, v, cell AS cluster, d2 AS dist2
      FROM assigned WHERE rk = 1
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM corp a JOIN corp b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {sim} >= {threshold}
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT vec_id, vec_id FROM corp
      UNION
      SELECT ed.dst, r.lbl FROM reach r JOIN edges ed ON ed.src = r.node
    ),
    grp AS (SELECT node AS vec_id, MIN(lbl) AS group_id FROM reach GROUP BY node),
    final AS (
      SELECT c.vec_id, c.cluster, c.dist2, g.group_id,
             ROW_NUMBER() OVER (PARTITION BY g.group_id
                                ORDER BY c.dist2 DESC, c.vec_id) AS kr
      FROM corp c JOIN grp g USING (vec_id)
    )
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
           dist2, group_id, kr = 1 AS is_keeper
    FROM final
    """


def fuzzy_decontaminate_oracle(
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    eval_mod: int = 10,
    eval_rem: int = 7,
) -> str:
    """First-principles twin of `decontaminate_fuzzy`: documents with
    doc_id % eval_mod == eval_rem play the benchmark/eval set, the
    rest the training corpus; a train doc is contaminated when it
    shares a band bucket with an eval doc AND verifies at exact
    shingle-set Jaccard >= threshold. One row per TRAIN doc."""
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
    WITH toks AS MATERIALIZED ({_TOKS}),
    shseq AS MATERIALIZED ({_SHSEQ}),
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
    cand AS MATERIALIZED (
      SELECT DISTINCT t.doc_id AS id_a, e.doc_id AS id_b
      FROM banded t JOIN banded e
        ON t.band = e.band AND t.bhash = e.bhash
      WHERE t.doc_id % {eval_mod} != {eval_rem}
        AND e.doc_id % {eval_mod} = {eval_rem}
    ),
    ver AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)
            >= {threshold}
    ),
    agg AS (
      SELECT id_a AS doc_id, MIN(id_b) AS matched_eval,
             COUNT(*) AS n_matches
      FROM ver GROUP BY id_a
    )
    SELECT t.doc_id,
           (a.matched_eval IS NOT NULL) AS is_contaminated,
           a.matched_eval,
           CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_matches
    FROM (SELECT doc_id FROM documents WHERE doc_id % {eval_mod} != {eval_rem}) t
    LEFT JOIN agg a ON a.doc_id = t.doc_id
    """
