"""Streaming late-data side output (SURVEY §4.3.1 strategy (a)).

The reference's `generate_epochs` returns an (on_time, late) stream
PAIR — records at or below the current epoch divert to the late
stream (generate_epochs.rs:44,124-126; time/util.rs
`handle_maybe_late_msg`). Spark's `withWatermark` silently DROPS late
rows instead, so this module reproduces the side output with a small
stateful operator that tracks the event-time frontier itself.

Design: rows are sharded onto `n_shards` routing keys (uniform hash);
each shard keeps `max event time seen` as its state and flags a row
late iff `ts <= shard_frontier - delay` at the moment it arrives.
Like the reference, the frontier advances only AFTER a batch of
records is judged (epoch emitted after the triggering record,
generate_epochs.rs:73-123), and like the reference the frontier is
per-worker, not global — Spark's shard ≈ the reference's worker, so
lateness is judged against locally-observed progress. A row is
flagged, never dropped: callers split the output exactly like the
reference's stream pair:

    flagged = flag_late_stream(events, "ts", delay_sec=600)
    on_time = flagged.filter(~F.col("is_late"))
    late    = flagged.filter(F.col("is_late"))

Scale notes: state per shard is ONE timestamp — n_shards total longs
across the cluster, negligible. The extra shuffle is the cost of the
side output; when late data only needs counting, prefer
`observe()`/StreamingQueryListener on the main query instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

_SHARD = "__shard"


def generate_epochs(
    sdf: DataFrame,
    ts_col: str,
    fn,
    n_shards: int = 32,
) -> DataFrame:
    """Arbitrary per-record epoch generation — the reference's
    `generate_epochs` closure contract (generate_epochs.rs:39-127):
    after every record, `fn(row: dict, prev_epoch: int|None) ->
    int|None` may emit a new epoch (event-time frontier, microseconds);
    `None` and non-monotone values are ignored (generate_epochs.rs:
    73-103). Records whose ts <= the epoch in force at arrival are
    flagged late instead of dropped (the reference's (on_time, late)
    stream pair; split on `is_late` downstream).

    Output schema = input + `epoch` (long, current epoch after the
    record, -1 while none) + `is_late` (boolean). Epochs are per shard
    (reference: per worker); state per shard is one long. The closure
    runs per record in Python — this operator IS the reference's UDF
    surface; bounded-disorder watermarks (`limit_out_of_orderness`)
    stay on the native `withWatermark` path.
    """
    from pyspark.sql.types import LongType

    from .stateful_op import stateful_op_stream

    in_fields = list(sdf.schema.fields)
    out_schema = StructType(
        in_fields
        + [StructField("epoch", LongType()), StructField("is_late", BooleanType())]
    )
    in_cols = [f.name for f in in_fields]

    def judge(key, pdfs, state, _timer_values):
        import pandas as pd

        epoch = state[0] if state else None
        outs = []
        for pdf in pdfs:
            ts_us = (pdf[ts_col].astype("datetime64[us]").astype("int64")).to_list()
            late, epochs = [], []
            for i, row in enumerate(pdf[in_cols].to_dict("records")):
                late.append(epoch is not None and ts_us[i] <= epoch)
                nxt = fn(row, epoch)
                # epoch emitted AFTER the record; non-monotone/None ignored
                if nxt is not None and (epoch is None or nxt > epoch):
                    epoch = int(nxt)
                epochs.append(-1 if epoch is None else epoch)
            out = pdf[in_cols].copy()
            out["epoch"] = pd.Series(epochs, index=pdf.index, dtype="int64")
            out["is_late"] = pd.Series(late, index=pdf.index, dtype="bool")
            outs.append(out)
        return outs, (None if epoch is None else (epoch,)), []

    sharded = sdf.withColumn(
        _SHARD, F.pmod(F.xxhash64(*[F.col(c) for c in in_cols]), F.lit(n_shards))
    )
    flagged = stateful_op_stream(
        sharded, [_SHARD], judge, None, out_schema, "epoch_us long"
    )
    return flagged.select(*in_cols, "epoch", "is_late")


def epoch_close_stream(
    sdf: DataFrame,
    key_cols: list[str],
    ts_col: str,
    epoch_end_ms,
    value_col: str,
) -> DataFrame:
    """Per-key windows whose boundaries come from a USER CLOSURE
    rather than a fixed duration — the reference's end-of-month
    example (examples/event_time.rs:94-152) as a reusable operator:
    `epoch_end_ms(ts: pd.Timestamp) -> int` maps each record to the
    closing time of its epoch; per-(key, epoch) count/sum accumulate
    in state and EMIT only when the watermark passes that closing
    time (multi-epoch state per key, timers re-arm for the earliest
    epoch still open). Epochs never closed by the final watermark
    stay unemitted — identical to the reference's semantics where the
    last month never fires.

    Output: key cols + (epoch_close_ms long, n_events long,
    total_value double). Requires withWatermark upstream.
    """
    from .stateful_op import stateful_op_stream

    def on_data(key, pdfs, state, _timers):
        ends, ns, totals = (
            (list(state[0]), list(state[1]), list(state[2])) if state else ([], [], [])
        )
        for pdf in pdfs:
            closes = pdf[ts_col].map(epoch_end_ms)
            for end, grp in pdf.groupby(closes):
                end = int(end)
                if end in ends:
                    i = ends.index(end)
                    ns[i] += len(grp)
                    totals[i] += float(grp[value_col].sum())
                else:
                    ends.append(end)
                    ns.append(len(grp))
                    totals.append(float(grp[value_col].sum()))
        return [], (ends, ns, totals), [min(ends)]

    def on_timer(key, fired_at_ms, state):
        import pandas as pd

        if state is None:
            return [], None, []
        ends, ns, totals = list(state[0]), list(state[1]), list(state[2])
        closed = [i for i, e in enumerate(ends) if e <= fired_at_ms]
        if not closed:
            return [], state, [min(ends)]
        out = pd.DataFrame(
            {
                **{k: [key[j]] * len(closed) for j, k in enumerate(key_names)},
                "epoch_close_ms": [ends[i] for i in closed],
                "n_events": [ns[i] for i in closed],
                "total_value": [totals[i] for i in closed],
            }
        )
        keep = [i for i in range(len(ends)) if i not in closed]
        if not keep:
            return [out], None, []
        kept = ([ends[i] for i in keep], [ns[i] for i in keep], [totals[i] for i in keep])
        return [out], kept, [min(kept[0])]

    key_names = list(key_cols)
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if f.name in key_names
    )
    return stateful_op_stream(
        sdf,
        key_names,
        on_data,
        on_timer,
        output_schema=(
            f"{key_schema}, epoch_close_ms long, n_events long, total_value double"
        ),
        state_schema="ends array<long>, ns array<long>, totals array<double>",
    )


def flag_late_stream(
    sdf: DataFrame,
    ts_col: str,
    delay_sec: float,
    n_shards: int = 32,
    shard_cols: list[str] | None = None,
) -> DataFrame:
    """Append an `is_late` column to a streaming DataFrame, judged
    against a per-shard event-time frontier (reference late-split
    semantics). Output schema = input schema + is_late boolean.

    `shard_cols` (default: all input columns) is the shard-assignment
    key — identical default and hash (`pmod(xxhash64(...), n_shards)`)
    to the batch twin `split_late`, so the same record is judged
    against the same shard's frontier in both paths when the
    parameters match."""
    from .stateful_op import stateful_op_stream

    in_fields = list(sdf.schema.fields)
    out_schema = StructType(in_fields + [StructField("is_late", BooleanType())])
    in_cols = [f.name for f in in_fields]

    def judge(key, pdfs, state, _timer_values):
        frontier_us = state[0] if state else None
        outs = []
        for pdf in pdfs:
            ts_us = (pdf[ts_col].astype("datetime64[us]").astype("int64")).to_numpy()
            if frontier_us is None:
                late = [False] * len(pdf)
            else:
                late = ts_us <= (frontier_us - int(delay_sec * 1_000_000))
            out = pdf[in_cols].copy()
            out["is_late"] = late
            if len(ts_us):
                batch_max = int(ts_us.max())
                frontier_us = batch_max if frontier_us is None else max(frontier_us, batch_max)
            outs.append(out)
        return outs, (None if frontier_us is None else (frontier_us,)), []

    hash_cols = shard_cols if shard_cols else in_cols
    sharded = sdf.withColumn(
        _SHARD, F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(n_shards))
    )
    flagged = stateful_op_stream(
        sharded, [_SHARD], judge, None, out_schema, "frontier_us long"
    )
    return flagged.select(*in_cols, "is_late")
