"""Streaming Misra-Gries heavy hitters: cross-batch survival,
final-candidate selection, exact recount."""

import pathlib
import time

from pyspark.sql import functions as F

from malstrom_spark.streaming.heavy import (
    final_candidates,
    heavy_hitter_candidates_stream,
    recount_exact,
)
from malstrom_spark.streaming.replay import run_to_memory


def _stage_batches(spark, tmp_path, batches):
    d = pathlib.Path(tmp_path) / "hh_stream"
    d.mkdir()
    t0 = time.time()
    import os

    for i, rows in enumerate(batches):
        df = spark.createDataFrame([(x,) for x in rows], "token string")
        tmp = str(d / f"_raw{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(pathlib.Path(tmp).glob("part-*.parquet"))
        dst = d / f"batch-{i:04d}.parquet"
        part.rename(dst)
        os.utime(dst, (t0 + i, t0 + i))
    schema = spark.read.parquet(str(d / "batch-0000.parquet")).schema
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(str(d))
    )


def test_cross_batch_survival_and_exact_recount(spark, tmp_path):
    """'hot' appears 3x per batch over 4 batches (12/60 total = 20%);
    each batch also brings 12 fresh one-off tokens, so with k=4 the
    per-batch churn constantly compresses the counter sets — only the
    cross-batch STATE keeps hot alive. Final output must equal the
    exact phi=0.15 answer."""
    batches = [
        ["hot"] * 3 + [f"b{b}x{i}" for i in range(12)] for b in range(4)
    ]
    sdf = _stage_batches(spark, tmp_path, batches)
    emitted = run_to_memory(
        heavy_hitter_candidates_stream(sdf, "token", k=4, n_shards=2),
        output_mode="append",
    )
    # every batch re-emits its touched shards with increasing seq
    assert emitted.groupBy("shard").agg(F.max("seq")).collect()
    cands = {r.item for r in final_candidates(emitted).collect()}
    assert "hot" in cands

    static = spark.createDataFrame(
        [(x,) for b in batches for x in b], "token string"
    )
    out = {
        (r.token, r.cnt, r.share)
        for r in recount_exact(static, "token", final_candidates(emitted), 0.15).collect()
    }
    assert out == {("hot", 12, 0.2)}


def test_final_candidates_takes_last_summary(spark, tmp_path):
    """A token that dominates early but stops arriving while churn
    continues may drop out of the LAST summary — final_candidates
    must read the max-seq snapshot, not the union of history."""
    batches = [["early"] * 6] + [
        [f"b{b}x{i}" for i in range(12)] for b in range(3)
    ]
    sdf = _stage_batches(spark, tmp_path, batches)
    emitted = run_to_memory(
        heavy_hitter_candidates_stream(sdf, "token", k=3, n_shards=1),
        output_mode="append",
    )
    hist = {r.item for r in emitted.collect()}
    last = {r.item for r in final_candidates(emitted).collect()}
    assert "early" in hist
    assert len(last) <= 3  # one shard, k=3: last snapshot is bounded
    # 'early' (weight 6) survives 3 batches of 12-way churn? each
    # batch subtracts at most the (k+1)-th largest = 1 per reduce
    # round; the MG guarantee says anything > N/(k+1) = 42/4 > 10
    # survives -- 'early' at 6 makes NO guarantee, but the recount
    # still yields the exact answer for phi where the guarantee holds
    static = spark.createDataFrame(
        [(x,) for b in batches for x in b], "token string"
    )
    # phi = 0.13 -> threshold 42*0.13 = 5.46 < 6: 'early' is a true
    # heavy hitter AND > N/(k+1) with k=3 per-shard counters? 42/4 =
    # 10.5 > 6, so survival is NOT guaranteed at this k; assert only
    # consistency: recount output is a subset of the exact answer
    got = {r.token for r in recount_exact(static, "token", final_candidates(emitted), 0.13).collect()}
    assert got <= {"early"}
