"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized via a noop-format write (round 10):
count() lets Catalyst prune every projection column above the last
aggregate — measured at sf10, the HTML-metadata row "cost" 0.24 s via
count() vs 10.8 s via a noop write, i.e. the count() number skipped
the operator entirely. The noop sink computes and discards every
output row, so the measured time is the honest cost of producing the
result, for projection rows and shuffle rows alike. (Headline totals
from rounds 1-9 used count() and are not directly comparable for
pure-projection rows; BASELINE.md round-10 records the measured
delta.) A warm-up q1 runs first so JIT/codegen warmup isn't charged
to the first measured query.

Also measures streaming stateful throughput (keyed running totals via
applyInPandasWithState over a 10x-replicated events replay) and
reports it as "streaming_stateful_events_per_sec" — the BASELINE.md
target is >= 100k events/s sustained.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # TPC-H-shaped relational
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_top_revenue_orders",
    "q5_region_nation_revenue",
    "q6_revenue_delta",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_stock",
    "q14_promo_share",
    "q16_brand_supplier_counts",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "min_price_supplier_per_part",
    "monthly_order_rollup",
    "lineitem_stats_by_flag",
    "cube_status_priority",
    "customer_cohort_set_ops",
    "top3_orders_per_customer",
    "customer_order_gaps",
    # events / time
    "events_running_totals",
    "event_sessions",
    "hourly_event_rollup",
    "events_asof_latest_order",
    # LLM-pipeline
    "doc_text_stats",
    "doc_quality_scores",
    "doc_word_tokens",
    "doc_pii_scrub",
    "dedup_exact_docs",
    # round-8: distributed BPE fit + Arrow encode of every document
    # (oracle-backed: recursive-CTE replay in DuckDB)
    "doc_bpe_tokens",
    # scale-path (xxhash64) twins of the gate's md5-portable pipelines:
    # identical dataflow, production hash (see queries/pipeline.py)
    "dedup_minhash_lsh_scale",
    "dedup_simhash_scale",
    "similarity_topk_cosine",
    "embedding_near_dup_cosine",
    # round-3 addition: LSH ANN with multi-probe (numpy-matmul
    # bucketing). dedup_clusters_scale is deliberately NOT here: at sf0.1 its cost
    # is all fixed-size CC driver actions (6.5 s for 5k docs vs 11.7 s
    # for 500k at sf10, BASELINE.md) — the sf10 probe table is its
    # evidence; timing it at toy scale would only add noise.
    "similarity_ann_lsh",
    # Arrow/BLAS brute-force scorer twin: the scale path for the
    # dominant sf1 cost (HOF cosine 3.3 s vs 0.4 s, BASELINE.md)
    "similarity_topk_cosine_arrow",
    # flagship composition (exact-dedup -> quality gate -> 13-gram
    # decontamination -> sequence packing), production xxhash twin of
    # the oracle-verified training_data_pipeline
    "training_data_pipeline_scale",
    # round-4 additions: cross-doc paragraph dedup (CCNet boilerplate
    # pass) and integer-exact bigram-LM surprisal scoring, both
    # oracle-verified in the gate. embedding_dedup_clusters is NOT
    # here for the same reason as dedup_clusters_scale: at sf0.1 its
    # cost is fixed-size CC driver rounds (3.2 s for 2k vectors),
    # noise rather than signal at toy scale.
    "doc_paragraph_dedup",
    "doc_lm_surprisal",
    # round-4 session 2: range (interval) join, hypertable-style
    # multi-grain rollup (exchange-reuse plan), funnel sequence
    # matching, SCD2 history, forward as-of — all gate-verified
    "events_purchase_window_join",
    "event_hypertable_rollup",
    # round-5: mergeable HLL distinct rollup (approx_distinct kind)
    "event_hypertable_distinct",
    # round-5: mergeable binned-histogram quantiles (integer-exact)
    "event_value_quantile_rollup",
    "event_funnel_s_c_p",
    "customer_priority_scd2",
    "error_next_purchase_asof",
    # round-7: deterministic training shuffle+shard (one hash shuffle
    # + per-shard window; the corpus-layout job's core op)
    "doc_shuffle_shard",
    # round-7 batch 2: trained linear quality classifier (pure
    # codegen'd projection), Misra-Gries + exact-recount heavy
    # hitters, and the Arrow/LUT product-quantization ADC engine
    # (gate-verified bit-identical to the portable PQ row)
    "doc_quality_classifier",
    "corpus_heavy_tokens",
    "similarity_ann_pq_arrow",
    # round-7 batch 3: URL analysis kit, context-window chunking
    # (both zero-shuffle projections) and unicode NFC hygiene (the
    # one Python hop in the text path — Arrow-batched)
    "doc_url_stats",
    "doc_text_chunks",
    "doc_unicode_normalize",
    # round-8 batch 1: repeated-span removal transform, full-PSL
    # eTLD+1 and the trained char-bigram language ID (Arrow scorer;
    # its literal-map Column fold was ~4x slower at sf0.1 and is gone)
    "doc_repeated_span_removal",
    "doc_url_psl",
    "doc_lang_id_arrow",
    # round-8 batch 2: CDC compaction (max_by single-shuffle), fuzzy
    # linkage (symmetric-delete blocker; DuckDB side runs the true
    # cross join — the honest cost of the exact semantics), bloom-
    # prefiltered decontamination, temperature resampling, z-order
    # keys, inverted index, BM25 and integer-exact PageRank
    "orders_cdc_snapshot",
    "customer_fuzzy_pairs",
    "doc_decontaminate_bloom",
    "corpus_lang_temperature_sample",
    "events_zorder_key",
    "doc_inverted_postings",
    "doc_bm25_search",
    "customer_pagerank",
    # round-9: raw-HTML extraction (the one Python-parser hop in the
    # crawl path — Arrow-batched, zero-shuffle) and the r8 batch-2
    # families rotated into the gate this round; dangling-mass
    # PageRank is NOT here (same dataflow as customer_pagerank plus a
    # one-row broadcast — timing it separately only adds noise)
    "doc_html_extract",
    "doc_html_links",
    "doc_html_meta",
    "doc_html_main_text",
    "doc_robots_filter",
    "customer_pagerank_dangling",
    "doc_bm25_incremental",
    # round-10: delete-and-replace index maintenance (stale index
    # repaired to the true corpus, served off the repaired state)
    "doc_bm25_updated",
    # round-10: DSIR importance resampling (fit + score + gumbel-top-k)
    "doc_dsir_selected",
    # round-10: crawl-frontier pass (normalize -> robots -> dedup ->
    # history anti-join -> hash-budget cap)
    "crawl_frontier_batch",
    # round-10 multimodal: MJPEG video frame pHash + audio landmark
    # match pairs (rows-only ops — no oracle, headline wall only)
    "video_frame_phash",
    "audio_fingerprint_pairs",
    # round-10: SemDeDup (k-means clusters + within-cluster cosine)
    "embedding_semdedup",
    # round-10: sitemap discovery (gunzip + XML/text parse + host rule
    # in one Arrow mapInPandas over the payload scan)
    "doc_sitemap_discovery",
    # round-10: leakage-safe split (two hash projections, zero shuffle)
    "doc_leakage_safe_split",
    # round-10: crawl-delay budgets + per-source datasheet report
    "crawl_frontier_politeness",
    "corpus_datasheet",
    # round-11: cross-document ExactSubstr (occurrence-counted window
    # hashes, keep-first canonical, interval-union cut)
    "doc_exact_substring_dedup",
    # round-11: host-reputation prior (link graph -> weighted PageRank
    # x quality rollup -> broadcast join back onto docs)
    "doc_host_reputation",
    # round-11: unigram-LM tokenizer (distributed hard-EM fit +
    # Arrow Viterbi encode, integer micro-nat scores)
    "doc_unigram_tokens",
    # round-11: incremental pHash index maintenance (delete-and-
    # replace bands, serve from the updated index)
    "image_phash_index_updated",
    "customer_pagerank_weighted",
    "customer_triangles",
    "lineitem_bloom_join",
    "orders_quality_report",
    "orders_incremental_rollup",
    "customer_spend_trend",
    "orders_snapshot_diff",
    "customer_entity_groups",
    "user_value_resampled",
    "events_value_outliers",
    # round-11 batch 2: margin-based bitext mining (exact-kNN kernel;
    # the margin core is ANN-agnostic), positional multi-phrase
    # search (one term-broadcast join, any phrase length), and fuzzy
    # benchmark decontamination (MinHash bands vs the eval set)
    # (sequential-fold numpy kernel over a broadcast side A)
    "embedding_bitext_mining",
    # the corpus-scale form: cell-keyed shuffle joins, no broadcast of
    # either side (the shape that survives two billion-sentence sides).
    # An Arrow pair-scorer for it lost at sf10 (227 vs 179 s, per-pair
    # vector transfer; BASELINE.md round-11) and is deleted
    "embedding_bitext_ivf",
    "doc_phrase_search",
    "doc_decontaminate_fuzzy",
    # round-11 batch 3: mixture planning, tokenizer fertility report
    # (composes both tokenizer encodes), recrawl scheduling
    "corpus_mixture_plan",
    "doc_tokenizer_fertility",
    "crawl_recrawl_schedule",
    # round-11 batch 4: anchor-text profiles (link-graph ranking
    # signal) and observed-change-rate adaptive recrawl intervals
    "doc_anchor_profile",
    "crawl_change_rate",
    # round-11 batch 5: asymmetric containment pairs + page-level
    # indexing consent
    "dedup_containment",
    "doc_meta_robots_filter",
    # round-12: incremental IVF assignment maintenance (delete-and-
    # replace against the frozen quantizer, served from the updated
    # assignments — closes the index family's incremental asymmetry)
    "similarity_ann_ivf_updated",
    # round-12: two-level coarse quantizer (the sub-quadratic
    # assignment for corpus-scaled n_lists; BASELINE round-12 #3)
    "similarity_ann_ivf_hier",
]


def measure_streaming_eps(spark, sf_dir: str) -> float:
    """SUSTAINED events/s through the keyed stateful running-total
    operator, replicated 10x. The first stateful-streaming query in a
    session pays one-time costs that have nothing to do with per-event
    throughput (Python worker pool spin-up, RocksDB native lib load,
    codegen compile — measured 5-18 s of the first run vs 1.7-2.5 s
    for an identical second run), so one untimed warm-up run goes
    first and the timed run measures the sustained rate BASELINE.md
    targets."""
    from malstrom_spark.streaming.stateful import running_totals_stream

    # drop caches AND checkpointed RDDs pinned by earlier queries
    # (dedup pipelines localCheckpoint stage tables; the finished
    # DataFrames are gone but driver-side references can linger until
    # GC) so the streaming measurement is memory-isolated
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "value")
    n_base = ev.count()
    big = ev
    for _ in range(9):
        big = big.union(ev)
    stage = "/tmp/malstrom_bench_stream_in"
    shutil.rmtree(stage, ignore_errors=True)
    big.repartition(8).write.parquet(stage)
    n = n_base * 10
    schema = spark.read.parquet(stage).schema

    def one_run() -> float:
        ckpt = f"/tmp/malstrom_bench_stream_ckpt_{time.monotonic_ns()}"
        sdf = spark.readStream.format("parquet").schema(schema).load(stage)
        t0 = time.perf_counter()
        q = (
            running_totals_stream(sdf, "user_id", "value")
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        shutil.rmtree(ckpt, ignore_errors=True)
        return dt

    one_run()  # warm-up: session-level one-time costs, untimed
    # best-of-3: a single timed run inside a session that just ran the
    # whole bench workload can dip far below the sustained rate (GC /
    # page-cache pressure — the r7 driver recorded 348k ev/s while six
    # interleaved runs on the same host+commit measured 558-624k,
    # BASELINE.md round-8); the minimum duration measures operator
    # throughput, not session noise
    return round(n / min(one_run() for _ in range(3)), 1)


# The headline scale twins use xxhash64 (no SQL oracle), so the
# DuckDB-comparable set would otherwise exclude exactly the pipeline
# workloads this engine is for. These PORTABLE gate twins are the
# identical dataflow with the md5-prefix hash both engines can
# compute; they are co-measured on BOTH engines (outside the headline
# total, which stays cross-round comparable) so the ratio covers the
# heavy pipelines too.
DUCKDB_COMPARE_EXTRA = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "training_data_pipeline",
    # round-7: incremental (daily-batch vs history store) dedup
    "dedup_incremental",
    # round-7: exact-substring (token-window) repetition stats
    "doc_repeated_windows",
]


def measure_duckdb(registry, sf_dir: str) -> dict[str, float]:
    """Same-session DuckDB co-measurement (round-5 item #4): run the
    oracle SQL of every headline query that has one, plus the portable
    pipeline twins above, on the same parquet and the same host,
    min-of-2 LIKE THE SPARK SIDE (symmetric methodology — a cold-only
    DuckDB pass would bias the ratio in Spark's favor) — so the
    bench_vs_duckdb ratio in the JSON line is computed from ONE
    session instead of mixing hosts measured rounds apart. Queries
    without an oracle (xxhash scale twins) are skipped and listed in
    `duckdb_skipped`."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 32}")
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in HEADLINE + DUCKDB_COMPARE_EXTRA:
            sql = registry[name].oracle
            if sql is None:
                continue
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = round(time.perf_counter() - t0, 4)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            print(f"# duckdb pass{_pass} {name}: {dt:.2f}s", file=sys.stderr)
    con.close()
    return timings


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from malstrom_spark.queries import full_registry
    from malstrom_spark.session import build_session

    spark = build_session(app_name="malstrom-bench")
    registry = full_registry()

    # warm up JVM/codegen paths outside the measurement
    registry["q1_pricing_summary"].fn(spark, sf_dir).collect()

    # streaming throughput FIRST, before the 50-query batch workload:
    # measured on this host+commit, the identical best-of-3 eps run
    # reports 558-624k ev/s in a fresh session but ~358k after the
    # full bench has churned the JVM (GC/codegen/python-worker state)
    # — the r7 driver's 348k "regression" was exactly this ordering
    # artifact, not operator throughput (BASELINE.md round-8 A/B).
    # Measuring first reports the operator's sustained rate and is
    # deterministic w.r.t. session history.
    eps = measure_streaming_eps(spark, sf_dir)
    print(f"# streaming_stateful: {eps:,.0f} events/s", file=sys.stderr)

    # two passes, min per query: a long local[32] session occasionally
    # hands a single query a 10-40 s scheduling/JIT hiccup (measured —
    # the same query reruns in seconds); min-of-2 reports the query's
    # actual cost instead of the hiccup while still timing every query
    # cold-plan (each pass rebuilds the DataFrame from scratch)
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in HEADLINE:
            fn = registry[name].fn
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 4)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            print(f"# pass{_pass} {name}: {dt:.2f}s", file=sys.stderr)

    # Spark side of the portable-pipeline comparison set (not part of
    # the headline total, which stays cross-round comparable)
    extra_timings: dict[str, float] = {}
    for _pass in range(2):
        for name in DUCKDB_COMPARE_EXTRA:
            fn = registry[name].fn
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 4)
            if name not in extra_timings or dt < extra_timings[name]:
                extra_timings[name] = dt
            print(f"# extra pass{_pass} {name}: {dt:.2f}s", file=sys.stderr)

    duck = measure_duckdb(registry, sf_dir)
    # the apples-to-apples ratio: Spark wall over the SAME queries
    # DuckDB could run, both measured in this session on this host
    spark_all = {**timings, **extra_timings}
    common_spark = round(sum(spark_all[n] for n in duck), 4)
    duck_total = round(sum(duck.values()), 4)

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "streaming_stateful_events_per_sec": eps,
        "compare_extra_queries": extra_timings,
        "duckdb_total_wall": duck_total,
        "duckdb_queries": duck,
        "spark_wall_on_duckdb_subset": common_spark,
        "bench_vs_duckdb_ratio": round(common_spark / duck_total, 3)
        if duck_total
        else None,
        "duckdb_skipped": [n for n in HEADLINE if n not in duck],
        "sf": sf_val,
    }
    # Full per-query detail goes to a file plus stderr; stdout gets ONE
    # compact final line. The driver captures only the tail of stdout
    # (~2 kB) and parses the last JSON line — round 5's detailed
    # ~4 kB single line was truncated mid-dict and recorded as
    # parsed:null, losing the headline wall (VERDICT r5 item #1).
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
        "w",
    ) as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail), file=sys.stderr)
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "streaming_stateful_events_per_sec": eps,
        "spark_wall_on_duckdb_subset": common_spark,
        "duckdb_total_wall": duck_total,
        "bench_vs_duckdb_ratio": detail["bench_vs_duckdb_ratio"],
        "sf": sf_val,
    }
    line = json.dumps(compact)
    if len(line) > 1800:
        # still too long for the driver's ~2 kB stdout tail capture:
        # keep only the 10 slowest queries inline (full detail is in
        # BENCH_DETAIL.json and on stderr)
        top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
        compact["queries"] = {n: round(t, 2) for n, t in top10.items()}
        compact["queries_truncated_to_top10_of"] = len(timings)
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
