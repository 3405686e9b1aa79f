"""TWO-JOB incremental dedup (the ingest-side analog of
examples/ann_serving.py): job 1 — the INDEX job — builds the history
corpus's MinHash band store and shingle hash-set store as BUCKETED
stage tables; job 2 — the DAILY BATCH job — flags a new batch's
near-dups of history by probing those stores (only the batch lineage
shuffles; history reads pre-bucketed), then appends the clean batch's
rows to the stores for tomorrow.

This is how a 100 TB corpus stays deduped without ever being
re-scanned: the per-day cost is the batch's own signatures plus two
co-located joins. No reference analog (LLM-pipeline layer)."""

import os

from pyspark.sql import functions as F

from malstrom_spark.functions import dedup
from malstrom_spark.operators.bucketing import persist_stage
from malstrom_spark.queries import table

BANDS_TABLE = "example_hist_bands"
HSETS_TABLE = "example_hist_hsets"


def index_job(spark, history):
    bands = persist_stage(
        dedup.minhash_band_table(history, "doc_id", max_bucket_size=4096),
        BANDS_TABLE, ["band", "bhash"], n_buckets=8,
    )
    hsets = persist_stage(
        dedup.shingle_hash_sets(history, "doc_id"),
        HSETS_TABLE, ["doc_id"], n_buckets=8,
    )
    return bands, hsets


def daily_batch_job(spark, batch):
    """Knows nothing about job 1 except the store table names."""
    bands = spark.table(BANDS_TABLE)
    hsets = spark.table(HSETS_TABLE)
    return dedup.dedup_against_history(
        batch, bands, hsets, "doc_id", threshold=0.5
    )


def main(spark, sf_dir=None):
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    try:
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        history = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)

        index_job(spark, history)
        flagged = daily_batch_job(spark, batch)

        flags = {r.doc_id: r.dup_of for r in flagged.collect()}
        n_batch = batch.count()
        assert flags, "testdata's dup clusters straddle the split; expected flags"
        assert all(v % 5 != 0 for v in flags.values()), "dup_of must be history ids"

        # the flagged set must agree with a from-scratch cross-split
        # near-dup pass at the same parameters (candidates restricted
        # to batch x history)
        pairs = dedup.near_dup_pairs_minhash(
            docs, "doc_id", threshold=0.5, max_bucket_size=None,
        )
        cross = pairs.filter(
            ((F.col("id_a") % 5 == 0) & (F.col("id_b") % 5 != 0))
            | ((F.col("id_a") % 5 != 0) & (F.col("id_b") % 5 == 0))
        )
        want = set()
        for r in cross.collect():
            batch_id = r.id_a if r.id_a % 5 == 0 else r.id_b
            want.add(batch_id)
        assert set(flags) == want, "incremental flags != batch-mode cross pairs"

        return {
            "batch_docs": n_batch,
            "flagged_dups_of_history": len(flags),
            "agrees_with_batch_mode": True,
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {BANDS_TABLE}")
        spark.sql(f"DROP TABLE IF EXISTS {HSETS_TABLE}")


if __name__ == "__main__":
    from malstrom_spark.session import build_session

    print(main(build_session(app_name="example-incremental-dedup")))
