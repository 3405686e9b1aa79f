"""STREAMING near-duplicate detection — SimHash dedup with
cross-microbatch state, the ingestion-side counterpart of
`functions/dedup.simhash_near_dups` and the kind of custom keyed
stateful operator the reference builds on `stateful_op`
(operators/stateful_op.rs:14-103): per-key managed state, arbitrary
user logic per record, output as the stream flows.

Design (mirrors the batch pigeonhole construction): each document's
64-bit SimHash splits into 4 chunks; any pair within Hamming <= 3
shares at least one exact chunk. Documents route to 4 (chunk_id,
chunk_value) shards; each shard keeps the first-seen (id, simhash)
pairs as its state and flags an arriving doc as a duplicate when a
stored hash is within the Hamming bound. One output row per (doc,
chunk): `dup_of` = the matched earlier doc id, or NULL when this doc
is first-of-its-kind in that shard. A doc is a duplicate iff ANY of
its 4 rows has non-null dup_of — reduce with `collapse_dup_flags`
(per microbatch via foreachBatch, or on the drained result).

Semantics/limits, stated not hidden:
- arrival order across microbatches is the stream order (earlier
  batch wins); WITHIN a microbatch ties are judged in ascending id
  order (deterministic, engine-independent).
- state per shard is capped at ``bucket_cap`` stored hashes — the
  streaming analog of the batch hot-bucket guard: a template flood
  can't grow one shard's state unboundedly. Docs arriving after a
  full shard still match against the stored prefix but are not
  stored (documented recall trade at the cap boundary).
- this flags NEAR duplicates (Hamming <= bound on SimHash); exact
  streaming dedup is `dropDuplicates`/`dropDuplicatesWithinWatermark`
  (queries/streaming.py streaming_dedup_exact).

At 100 TB-rate ingestion: shard keys are uniform hash chunks, state
is (long, long) pairs in the state store (RocksDB-backed), and the
per-record work is a capped linear scan of one shard — bound it with
``bucket_cap``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def simhash_dup_flags_stream(
    sdf: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    bucket_cap: int = 256,
    state_ttl_sec: float | None = None,
) -> DataFrame:
    """(id, chunk_id, dup_of) append stream; see module docstring.

    ``state_ttl_sec`` turns this into WINDOWED dedup: "duplicate"
    means "near-copy of something stored within the horizon". Two
    mechanisms, both needed: a bucket idle longer than the TTL drops
    its stored hashes when it NEXT receives data (arrival-time age
    check on the bucket's last-update time — engine timeouts alone
    can't expire a bucket that is receiving the very record being
    judged; per-hash timestamps would refine this to exact per-record
    horizons at 2x state width), and fully idle buckets are
    garbage-collected by a processing-time timer, bounding state by
    active buckets x cap instead of all-time uniques — the standard
    production setting for unbounded ingestion. Both read the batch
    processing time, the clock the timer is armed against."""
    from ..functions.dedup import simhash_df
    from .stateful_op import stateful_op_stream

    chunk_bits, n_chunks = 16, 4
    chunk_mask = (1 << chunk_bits) - 1
    sh = simhash_df(sdf.where(F.col(text_col).isNotNull()), id_col, text_col)
    chunks = sh.select(
        F.col(id_col),
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.coalesce(
                            F.shiftright("sh", i * chunk_bits).bitwiseAND(
                                F.lit(chunk_mask)
                            ),
                            F.lit(-1),
                        ).alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "sh", "c.chunk_id", "c.chunk")

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("chunk_id", LongType()),
            StructField("dup_of", LongType()),  # null = first of its kind here
        ]
    )

    def judge(key, pdfs, state, timer_values):
        import numpy as np
        import pandas as pd

        now_ms = timer_values.getCurrentProcessingTimeInMs()
        if state:
            ids, shs, stored_ms = list(state[0]), list(state[1]), state[2]
            if state_ttl_sec is not None and now_ms - stored_ms > state_ttl_sec * 1000:
                ids, shs = [], []  # stored hashes aged out of the horizon
        else:
            ids, shs = [], []
        out_ids, out_chunks, out_dups = [], [], []
        chunk_id = int(key[0])

        def first_match(dsh):
            # vectorized popcount over the whole stored set (C-speed
            # scan of <= bucket_cap hashes); first hit by stored order
            if not shs:
                return None
            arr = np.array(shs, dtype=np.int64)
            x = np.bitwise_xor(arr, np.int64(dsh))  # sh is a Spark bigint
            pop = np.unpackbits(x.view(np.uint8)).reshape(len(shs), 64).sum(axis=1)
            hits = np.nonzero(pop <= max_hamming)[0]
            return ids[int(hits[0])] if len(hits) else None

        for pdf in pdfs:
            # deterministic within-batch order: ascending id
            pdf = pdf.sort_values(id_col)
            for did, dsh in zip(pdf[id_col].to_list(), pdf["sh"].to_list()):
                dup_of = first_match(dsh)
                if dup_of is None and len(ids) < bucket_cap:
                    ids.append(did)
                    shs.append(dsh)
                out_ids.append(did)
                out_chunks.append(chunk_id)
                out_dups.append(dup_of)
        out = pd.DataFrame(
            {id_col: out_ids, "chunk_id": out_chunks, "dup_of": out_dups}
        ).astype({id_col: "int64", "chunk_id": "int64", "dup_of": "float64"})
        timers = [] if state_ttl_sec is None else [now_ms + int(state_ttl_sec * 1000)]
        return [out], (ids, shs, now_ms), timers

    def forget(key, fired_at_ms, state):
        # TTL horizon passed with no traffic: forget this bucket
        return [], None, []

    return stateful_op_stream(
        chunks,
        ["chunk_id", "chunk"],
        judge,
        None if state_ttl_sec is None else forget,
        out_schema,
        "ids array<long>, shs array<long>, stored_ms long",
        time_mode="processingTime",
    )


def collapse_dup_flags(flags: DataFrame, id_col: str) -> DataFrame:
    """Reduce per-chunk flags to one row per doc: (id, is_dup,
    dup_of = smallest matched earlier id, null when unique). Batch
    reduction — run it on the drained flag table or per microbatch
    in a foreachBatch sink."""
    return flags.groupBy(id_col).agg(
        F.min("dup_of").alias("dup_of")
    ).select(
        id_col,
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
    )
