"""Physical-plan regression tests: the scale properties we claim
(pushdown, pruning, broadcast, codegen, shuffle counts) are asserted
against `.explain("formatted")` output so a refactor that silently
loses them fails CI — the 100 TB design intent, checked at sf0.001.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_simple(df) -> str:
    """Simple-mode plan: shows `Exchange hashpartitioning(...)` on one
    line and `*(n)` whole-stage-codegen markers (formatted mode shows
    neither contiguously). After execution AQE appends the Initial
    Plan — keep only the final section so nodes aren't double-counted."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue().split("== Initial Plan ==")[0]


@pytest.fixture(scope="module")
def reg():
    from malstrom_spark.queries import full_registry

    return full_registry()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir, reg):
    plan = plan_of(reg["q1_pricing_summary"].fn(spark, sf_dir))
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan must not read join-only columns
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    # `*(n)` prefixes in simple mode = whole-stage codegen spans;
    # AQE only collapses codegen stages once the plan executes
    df = reg["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()  # count() would execute a different (wrapped) plan
    assert "*(" in plan_simple(df)


def test_q3_broadcasts_filtered_dimension(spark, sf_dir, reg):
    plan = plan_of(reg["q3_top_revenue_orders"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # top-k must be TakeOrdered, not a full global sort
    assert "TakeOrderedAndProject" in plan


def test_q5_snowflake_all_dims_broadcast(spark, sf_dir, reg):
    plan = plan_of(reg["q5_region_nation_revenue"].fn(spark, sf_dir))
    # 5 joins total; at least 4 must be broadcast (lineitem-orders may shuffle)
    assert plan.count("BroadcastHashJoin") >= 4


def test_exact_dedup_single_shuffle(spark, sf_dir, reg):
    plan = plan_simple(reg["dedup_exact_docs"].fn(spark, sf_dir))
    # partial agg map-side, one exchange, final agg — no more
    assert plan.count("Exchange hashpartitioning") == 1
    # the text body itself is never shuffled, only the md5
    exchange_line = plan.split("Exchange hashpartitioning")[1].split("\n")[0]
    assert "text" not in exchange_line


def test_minhash_signatures_zero_shuffle(spark, sf_dir):
    """Signature stage is a pure map over the scan (array_min over
    per-doc hash arrays) — any Exchange here is a regression."""
    from malstrom_spark.functions import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(dedup.minhash_signature(docs, "doc_id"))
    assert "Exchange" not in plan


def test_simhash_zero_shuffle(spark, sf_dir):
    from malstrom_spark.functions import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(dedup.simhash_df(docs, "doc_id"))
    assert "Exchange" not in plan


def test_lsh_near_dups_bucket_each_vector_once(spark, sf_dir):
    """The LSH self-join buckets each vector once: both join sides
    read one bucket-keyed exchange (the second is a ReusedExchange),
    so the executed plan holds a single `bucketize` pass."""
    from malstrom_spark.functions import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = similarity.embedding_near_dups_portable(
        emb, "vec_id", "embedding", dim=64
    )
    pairs.collect()
    plan = plan_simple(pairs)
    assert plan.count("MapInPandas bucketize") == 1, plan
    assert "ReusedExchange" in plan, plan


def test_ivf_assign_is_a_pure_map(spark, sf_dir):
    """Integer IVF assignment, flat and two-level, is one Arrow pass
    over the corpus against a broadcast quantizer: the executed plan
    holds no pair join, no window and no exchange."""
    from malstrom_spark.functions import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))

    def cents(n):
        return emb.where(F.col("vec_id") < n).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
        )

    leaves = similarity.assign_leaves_to_supers(cents(9), cents(3))
    for out in (
        similarity.ivf_assign(corpus, cents(8), 3, "c_vec", rank_col="rk"),
        similarity.ivf_assign_hier(
            corpus, cents(3), leaves, 3, "c_vec", n_probe_super=2, rank_col="rk"
        ),
    ):
        out.collect()
        plan = plan_simple(out)
        for node in ("BroadcastNestedLoopJoin", "CartesianProduct", "Window", "Exchange"):
            assert node not in plan, plan


def test_cosine_topk_broadcasts_queries(spark, sf_dir, reg):
    plan = plan_of(reg["similarity_topk_cosine"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_no_tokenizer_inlined_into_filters(spark, sf_dir, reg):
    """The InferFiltersFromGenerate trap: plain explode over a derived
    array gets a size(arr)>0 pre-filter, and predicate pushdown inlines
    the array's WHOLE defining expression (tokenizer included, once per
    token reference) into that filter below the repartition — observed
    as one core doing ~10^9 interpreted regex splits at sf10. Guard:
    no Filter node in these plans may contain a split() call."""
    for q in [
        "doc_decontaminate",
        "corpus_top_trigrams",
        "doc_fingerprint_sketch",
        # nullable join keys infer isnotnull(key) filters with the same
        # inlining (md5_prefix_hash/chunks are coalesce'd non-nullable)
        "dedup_minhash_lsh",
        "dedup_simhash",
        # round-4 explode-based corpus ops, same trap class
        "doc_paragraph_dedup",
        "doc_lm_surprisal",
    ]:
        plan = plan_of(reg[q].fn(spark, sf_dir))
        for line in plan.splitlines():
            if line.strip().startswith("Condition") or "Filter (" in line or "DataFilters" in line:
                for marker in ("split(", "aggregate(", "zip_with("):
                    assert marker not in line, f"{q}: expression chain inlined into a filter"


def test_salted_agg_two_stages_and_correctness(spark):
    from malstrom_spark.operators.keyed import salted_agg

    # heavily skewed: 10k rows on one key, 10 on another
    df = spark.range(10010).select(
        F.when(F.col("id") < 10000, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    out = salted_agg(
        df, ["k"], {"total": ("sum", F.col("v")), "n": ("count", F.col("v")), "mx": ("max", F.col("v"))}
    )
    got = {r.k: (r.total, r.n, r.mx) for r in out.collect()}
    want = {
        r.k: (r.total, r.n, r.mx)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count("v").alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    assert got == want
    # two aggregation exchanges: (key, salt) then (key)
    assert plan_simple(out).count("Exchange hashpartitioning") == 2


def test_no_unpartitioned_windows_in_package():
    """A `Window.orderBy(...)` with no partitionBy funnels every row
    through ONE task — a scale killer locked out of the package after
    the round-2 split_late finding. Window specs must start from
    `Window.partitionBy`. (Source lint: the construction is textual by
    nature; per-query plans are pinned by the plan tests above.)"""
    import pathlib

    import malstrom_spark

    pkg = pathlib.Path(malstrom_spark.__file__).parent
    bad = [
        str(p)
        for p in pkg.rglob("*.py")
        if "Window.orderBy(" in p.read_text()
    ]
    assert not bad, f"unpartitioned Window.orderBy in: {bad}"
    # Same killer in disguise (round-6 VERDICT #2): Window.partitionBy()
    # with ZERO columns plans WindowExec over a single partition that
    # buffers the entire relation in one task. Scalar aggregates belong
    # in a broadcast one-row agg crossJoin (see q11/q15), never an
    # empty window spec.
    bad = [
        str(p)
        for p in pkg.rglob("*.py")
        if "Window.partitionBy()" in p.read_text()
    ]
    assert not bad, f"empty Window.partitionBy() in: {bad}"


def test_scale_inputs_read_in_one_place():
    """The core count is read only by the scale policy
    (malstrom_spark/scale.py) and the environment only by the session
    factory (malstrom_spark/session.py): every gate that depends on
    cores or input size asks scale.py, and no env var changes a code
    path. (Source lint, textual like the Window guard above.)"""
    import pathlib

    import malstrom_spark

    pkg = pathlib.Path(malstrom_spark.__file__).parent
    for needle, home in (
        ("defaultParallelism", "scale.py"),
        ("os.environ", "session.py"),
    ):
        found = sorted(
            str(p.relative_to(pkg)) for p in pkg.rglob("*.py") if needle in p.read_text()
        )
        assert found == [home], f"{needle} read outside {home}: {found}"


def test_every_package_module_is_imported():
    """Every module under malstrom_spark/ (other than package
    `__init__`s) is imported by some other file of the package, the
    tests, the examples, perfbench/, bench.py or __spark_entry__.py: a
    module nothing imports is dead code. (Source lint over import
    statements, relative imports resolved against their package.)"""
    import ast
    import pathlib

    import malstrom_spark

    pkg = pathlib.Path(malstrom_spark.__file__).parent
    root = pkg.parent
    sources = [
        *pkg.rglob("*.py"),
        *(root / "tests").rglob("*.py"),
        *(root / "examples").rglob("*.py"),
        *(root / "perfbench").rglob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]

    def dotted(p):
        parts = p.relative_to(root).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    imported = {}  # module name -> files importing it
    for p in sources:
        here = dotted(p)
        package = here if p.name == "__init__.py" else here.rpartition(".")[0]
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mod = node.module
                if node.level:
                    base = package.rsplit(".", node.level - 1)[0]
                    mod = f"{base}.{mod}" if mod else base
                # `from pkg import name` may name a submodule
                names = [mod] + [f"{mod}.{a.name}" for a in node.names]
            else:
                continue
            for n in names:
                imported.setdefault(n, set()).add(p)

    orphans = sorted(
        str(p.relative_to(root))
        for p in pkg.rglob("*.py")
        if p.name != "__init__.py" and not imported.get(dotted(p), set()) - {p}
    )
    assert orphans == [], f"modules nothing imports: {orphans}"


def test_suite_imports_its_own_checkout():
    """The package under test is the one in this test file's checkout,
    not whatever copy sits at some fixed path or in site-packages."""
    import pathlib

    import malstrom_spark

    here = pathlib.Path(__file__).resolve().parent.parent
    assert pathlib.Path(malstrom_spark.__file__).resolve().is_relative_to(here)


def test_benchmark_rows_resolve_in_registry():
    """Every row name bench.py and perfbench/ time is a registry entry
    (a deleted or renamed row fails here, not mid-benchmark), and
    bench.py times each row once."""
    import ast
    import pathlib

    import bench
    from malstrom_spark.queries import full_registry

    reg = full_registry()
    headline, extra = bench.HEADLINE, bench.DUCKDB_COMPARE_EXTRA
    assert len(set(headline)) == len(headline)
    assert len(set(extra)) == len(extra)
    assert not set(headline) & set(extra)

    root = pathlib.Path(__file__).resolve().parent.parent
    perf = []
    for script, names in (
        ("run.py", {"LLM_PIPELINE", "GOLDEN_ROWS"}),
        ("selftest.py", {"QUERIES", "ARROW_ROW"}),
    ):
        tree = ast.parse((root / "perfbench" / script).read_text())
        found = {
            t.id: ast.literal_eval(node.value)
            for node in tree.body if isinstance(node, ast.Assign)
            for t in node.targets if isinstance(t, ast.Name) and t.id in names
        }
        assert set(found) == names, (script, found)
        for v in found.values():
            perf += [v] if isinstance(v, str) else list(v)
    missing = [n for n in [*headline, *extra, *perf] if n not in reg]
    assert missing == [], f"timed rows not in full_registry(): {missing}"


def test_no_rdd_access_in_package():
    """No `.rdd` DataFrame property anywhere in malstrom_spark/: it
    converts the whole plan to an RDD on the driver (the round-3
    `scale.ensure_parallelism` watch-item, now fixed via file-metadata
    estimation). AST-based so docstrings/comments don't false-positive;
    the py4j `...analyzed().rdd()` JVM *field read* in
    `_free_local_checkpoint` is a Call, not a bare Attribute load, and
    is explicitly allowed (it frees checkpoint blocks, it does not
    build an RDD)."""
    import ast
    import pathlib

    import malstrom_spark

    pkg = pathlib.Path(malstrom_spark.__file__).parent
    bad = []
    for p in pkg.rglob("*.py"):
        tree = ast.parse(p.read_text())
        calls = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "rdd"
                and id(node) not in calls  # `.rdd()` py4j field reads are fine
            ):
                bad.append(f"{p}:{node.lineno}")
    assert not bad, f".rdd plan conversion in: {bad}"


def _cc_checkpoints_left(spark, mode: str) -> int:
    """Checkpointed RDDs left holding storage after `dedup_groups`
    labels one 64-node chain (several alternating rounds) with the CC
    finish forced to ``mode``."""
    from conftest import force_cc_finish
    from pyspark.sql import functions as SF

    from malstrom_spark.functions.dedup import dedup_groups

    def n_stored():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = n_stored()
    n = 64
    ids = spark.range(n).select(SF.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        SF.col("id").alias("id_a"), (SF.col("id") + 1).alias("id_b")
    )
    with force_cc_finish(mode) as cc:
        out = dedup_groups(pairs, ids, "doc_id")
        assert out.filter(SF.col("group_id") != 0).count() == 0  # one cluster, min id 0
    cc.assert_path()
    return n_stored() - before


def test_cc_rounds_release_checkpoint_storage(spark):
    """dedup_groups frees the prior round's localCheckpoint
    blocks as soon as the fixpoint test has run, so executor storage
    stays O(1) in rounds: after convergence on a multi-round chain, at
    most 1 checkpointed RDD (the final edge set, live in the returned
    plan) may hold storage."""
    leaked = _cc_checkpoints_left(spark, "rounds")
    assert leaked <= 1, f"{leaked} checkpoint RDDs leaked across CC rounds"


def test_cc_driver_finish_releases_checkpoint_storage(spark):
    """The driver finish frees the edges' checkpoint once it has
    collected them, and its labels are a local frame: no checkpoint
    RDD is left holding storage."""
    leaked = _cc_checkpoints_left(spark, "driver")
    assert leaked == 0, f"{leaked} checkpoint RDDs leaked by the driver finish"


def test_entity_groups_job_count(spark, sf_dir):
    """customer_entity_groups at sf0.01 builds and writes in at most 12
    Spark jobs: its 2,700 CC edges finish on the driver with one
    collect instead of ~13 jobs per large-star/small-star round."""
    import pathlib

    from malstrom_spark.queries import full_registry

    sf001 = str(pathlib.Path(sf_dir).parent / "sf0.01")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    df = full_registry()["customer_entity_groups"].fn(spark, sf001)
    df.write.format("noop").mode("overwrite").save()
    jobs = scheduler.numTotalJobs() - before
    assert jobs <= 12, f"{jobs} Spark jobs"


def test_corpus_ops_scale_shapes(spark, sf_dir):
    """Round-3 corpus ops keep their claimed 100 TB shapes:
    - clean_lines: pure map — ZERO exchanges;
    - pack_sequences: exactly one hash exchange (the per-shard window
      partitioning) and a partitioned Window, never a global sort;
    - rare_token_rate: the vocabulary reaches the scorer as a
      BroadcastHashJoin (corpus text never shuffles for scoring)."""
    from malstrom_spark.functions import corpus, text
    from malstrom_spark.queries import table

    docs = table(spark, sf_dir, "documents")

    p = plan_simple(corpus.clean_lines(docs, "doc_id"))
    assert "Exchange" not in p, "clean_lines must be a pure map"

    counted = docs.select("doc_id", text.token_count(F.col("text")).alias("nt"))
    p = plan_simple(corpus.pack_sequences(counted, "doc_id", "nt", seq_len=2048))
    assert p.count("Exchange hashpartitioning") == 1, "one shard exchange only"
    assert "rangepartitioning" not in p, "no global sort"

    p = plan_simple(corpus.rare_token_rate(docs, "doc_id", vocab_k=50))
    assert "BroadcastHashJoin" in p, "vocab must broadcast"


def test_training_pipeline_plan_shape(spark, sf_dir):
    """Flagship composition keeps every stage's scale shape in ONE
    plan: keepers + benchmark grams broadcast (corpus text never
    shuffles for dedup gate or decontamination), no cartesian product,
    no global sort — the packing window is hash-partitioned."""
    from malstrom_spark.queries import full_registry

    df = full_registry()["training_data_pipeline_scale"].fn(spark, sf_dir)
    p = plan_simple(df)
    assert p.count("BroadcastHashJoin") >= 2, "keepers/bench-grams must broadcast"
    assert "CartesianProduct" not in p
    assert "rangepartitioning" not in p, "no global sort anywhere"


def test_round4_corpus_ops_scale_shapes(spark, sf_dir, reg):
    """Round-4 ops keep their claimed 100 TB shapes:
    - dedup_paragraphs: exactly the two hash exchanges documented
      (fingerprint keeper election + per-doc reconstruction), no
      global sort;
    - lm_surprisal: both LM tables reach the scorer as broadcasts and
      the only scoring-side exchange is the per-doc aggregation;
    - cap_per_key: one partitioned window, never rangepartitioning."""
    p = plan_simple(reg["doc_paragraph_dedup"].fn(spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "rangepartitioning" not in p

    p = plan_simple(reg["doc_lm_surprisal"].fn(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2, "uni+bi LM tables must broadcast"

    p = plan_simple(reg["doc_source_cap"].fn(spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "rangepartitioning" not in p


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling: with AQE's skew-join thresholds scaled
    to test size, a sort-merge join whose left side piles 100x of its
    rows onto ONE key gets its hot partition SPLIT at execution time
    (skew=true in the executed plan) — the engine-level guard behind
    the 'salting for skew' advice, demonstrated not assumed."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # payload must be INCOMPRESSIBLE (skew detection sees shuffle
        # BYTES; constant padding lz4-compresses to ~nothing)
        left = spark.range(330_000).selectExpr(
            "CASE WHEN id < 300000 THEN 0 ELSE id END AS k",
            "repeat(sha2(cast(id AS string), 256), 4) AS payload",
        )
        right = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
        joined = left.join(right, "k")
        # collect() (not count(), which wraps the plan in its own agg)
        # executes THIS DataFrame's AdaptiveSparkPlan to finality
        assert len(joined.collect()) == 300_000  # only key 0 overlaps
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, "AQE did not split the hot partition"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_host_reputation_broadcasts_prior_docs_never_reshuffle(spark):
    """with_host_reputation's contract: the host prior joins onto the
    document table as a BROADCAST hash join — no Exchange may sit
    between the docs-side scan and the join (the doc table is the
    100 TB side; reshuffling it for a host-cardinality prior would be
    the scale killer)."""
    from malstrom_spark.functions import reputation as rep

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("https://h"), (F.col("id") % 7).cast("string"),
            F.lit(".example.com/p"),
        ).alias("url"),
    )
    prior = spark.createDataFrame(
        [(f"h{i}.example.com", 1000 + i, 900 + i) for i in range(7)],
        "host string, rank long, reputation long",
    )
    out = rep.with_host_reputation(docs, "url", prior)
    plan = plan_simple(out)
    assert "BroadcastHashJoin" in plan, plan
    # the docs side feeds the join straight from the range scan: the
    # only Exchange allowed anywhere is the broadcast one
    import re
    assert not re.search(r"Exchange hashpartitioning", plan), plan
    # and the values survive the plan: every doc got its host prior
    got = {r.doc_id: r.host_rank for r in out.collect()}
    assert got[0] == 1000 and got[8] == 1001
