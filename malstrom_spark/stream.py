"""`Stream` — the user-facing builder mirroring the reference's
`StreamBuilder<K, V, T>` (malstrom-core/src/stream/builder.rs:15-20).

The reference tracks (key, value, timestamp) schema in Rust generics;
here the wrapper tracks `key_cols` and `ts_col` over a DataFrame whose
schema is checked at plan time by Catalyst. Every method returns a new
Stream (builders are immutable, like `StreamBuilder::then`,
stream/builder.rs:55-70) and compiles to declarative DataFrame ops so
Catalyst owns optimization — the reference has no optimizer at all
(SURVEY §4.1); we inherit pushdown/pruning/join-selection for free.

Usage (parity with reference examples/stateful_programs.rs):

    s = Stream.from_parquet(spark, path)
    out = (s.filter(F.col("value") > 0)
            .map({"doubled": F.col("value") * 2})
            .key_distribute("user_id")
            .running_agg(order_by=["ts"], aggs={"total": F.sum("value")}))
    rows = out.collect()
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import eventtime, keyed, stateful, stateless, windows


class Stream:
    """Immutable builder over a DataFrame with tracked key/time columns."""

    def __init__(
        self,
        df: DataFrame,
        key_cols: tuple[str, ...] = (),
        ts_col: str | None = None,
    ):
        self.df = df
        self.key_cols = tuple(key_cols)
        self.ts_col = ts_col

    # ---- construction (sources live in malstrom_spark.sources) ----

    @classmethod
    def from_df(cls, df: DataFrame, key_cols=(), ts_col=None) -> "Stream":
        return cls(df, key_cols, ts_col)

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str, **kw) -> "Stream":
        return cls(spark.read.parquet(path), **kw)

    def _with(self, df: DataFrame, key_cols=None, ts_col=...) -> "Stream":
        return Stream(
            df,
            self.key_cols if key_cols is None else key_cols,
            self.ts_col if ts_col is ... else ts_col,
        )

    # ---- stateless ops (SURVEY §2.1) ----

    def map(self, exprs: Mapping[str, Column | str]) -> "Stream":
        return self._with(stateless.map_cols(self.df, exprs))

    def map_pandas(self, fn: Callable, schema) -> "Stream":
        return self._with(stateless.map_pandas(self.df, fn, schema))

    def select(self, *cols) -> "Stream":
        return self._with(self.df.select(*cols))

    def filter(self, predicate: Column | str) -> "Stream":
        return self._with(stateless.filter_rows(self.df, predicate))

    def filter_map(self, exprs: Mapping[str, Column | str], keep: Column | str) -> "Stream":
        return self._with(stateless.filter_map(self.df, exprs, keep))

    def flatten(self, col: str, out_col: str | None = None) -> "Stream":
        return self._with(stateless.flatten(self.df, col, out_col))

    def inspect(self, name: str, *metrics: Column) -> "Stream":
        return self._with(stateless.inspect(self.df, name, *metrics))

    def inspect_frontier(self, name: str = "frontier"):
        """Attach a frontier observer at THIS point of the dataflow
        (reference inspect_frontier.rs:15-46). Returns (Stream,
        handle): batch handle = Observation (read .get after an
        action); streaming handle = None (subscribe with
        eventtime.observed_frontier_listener(name, fn))."""
        if not self.ts_col:
            raise ValueError("assign_timestamps first (frontier needs an event-time column)")
        df, handle = eventtime.inspect_frontier(self.df, self.ts_col, name)
        return self._with(df), handle

    # ---- multi-stream ops (SURVEY §2.4) ----

    def union(self, *others: "Stream") -> "Stream":
        return self._with(stateless.union(self.df, *[o.df for o in others]))

    def split(self, *predicates: Column | str) -> tuple["Stream", ...]:
        return tuple(self._with(d) for d in stateless.split(self.df, *predicates))

    def cloned(self, n: int) -> tuple["Stream", ...]:
        return tuple(self._with(d) for d in stateless.cloned(self.df, n))

    # ---- keying (SURVEY §2.2) ----

    def key_local(self, key: Column | str, key_col: str = "key") -> "Stream":
        return self._with(keyed.key_local(self.df, key, key_col), key_cols=(key_col,))

    def key_distribute(
        self, key: Column | str, key_col: str = "key", num_partitions: int | None = None
    ) -> "Stream":
        return self._with(
            keyed.key_distribute(self.df, key, key_col, num_partitions),
            key_cols=(key_col,),
        )

    def key_by(self, *cols: str) -> "Stream":
        """Shortcut: declare existing columns as the key (no shuffle;
        groupBy/agg/stateful ops will shuffle on demand)."""
        return self._with(self.df, key_cols=tuple(cols))

    # ---- stateful ops (SURVEY §2.3) ----

    def _need_keys(self):
        if not self.key_cols:
            raise ValueError("stream is unkeyed — call key_by/key_local/key_distribute first")

    def running_agg(self, order_by: Sequence[str], aggs: Mapping[str, Column]) -> "Stream":
        self._need_keys()
        return self._with(stateful.running_agg(self.df, self.key_cols, order_by, aggs))

    def stateful_map(self, order_by: Sequence[str], fn: Callable, schema, **kw) -> "Stream":
        self._need_keys()
        return self._with(stateful.stateful_map(self.df, self.key_cols, order_by, fn, schema, **kw))

    def ttl_map(self, order_by, ts_col, ttl, fn, schema) -> "Stream":
        self._need_keys()
        return self._with(
            stateful.ttl_map(self.df, self.key_cols, order_by, ts_col, ttl, fn, schema)
        )

    def agg(self, aggs: Mapping[str, Column]) -> "Stream":
        self._need_keys()
        return self._with(
            self.df.groupBy(*self.key_cols).agg(*[a.alias(n) for n, a in aggs.items()])
        )

    def salted_agg(
        self, aggs: Mapping[str, tuple[str, Column]], n_salts: int = 16
    ) -> "Stream":
        """Skew-safe aggregation: hot keys fan out over n_salts
        reducers, partials merge on the key (operators/keyed.py)."""
        self._need_keys()
        return self._with(keyed.salted_agg(self.df, list(self.key_cols), dict(aggs), n_salts))

    # ---- event time (SURVEY §2.5) ----

    def assign_timestamps(self, expr: Column | str, ts_col: str = "event_ts") -> "Stream":
        return self._with(eventtime.assign_timestamps(self.df, expr, ts_col), ts_col=ts_col)

    def limit_out_of_orderness(self, delay: str) -> "Stream":
        if not self.ts_col:
            raise ValueError("assign_timestamps first (reference NeedsEpochs contract)")
        return self._with(eventtime.limit_out_of_orderness(self.df, self.ts_col, delay))

    def split_late(
        self,
        delay_expr: str,
        order_cols: Sequence[str],
        n_shards: int = 32,
        shard_cols: Sequence[str] | None = None,
    ) -> tuple["Stream", "Stream"]:
        if not self.ts_col:
            raise ValueError("assign_timestamps first")
        on_time, late = eventtime.split_late(
            self.df,
            self.ts_col,
            delay_expr,
            list(order_cols),
            n_shards=n_shards,
            shard_cols=list(shard_cols) if shard_cols else None,
        )
        return self._with(on_time), self._with(late)

    def tumbling_window(self, size: str, aggs: Mapping[str, Column]) -> "Stream":
        return self._with(windows.tumbling(self.df, self.ts_col, size, self.key_cols, aggs))

    def sliding_window(self, size: str, slide: str, aggs: Mapping[str, Column]) -> "Stream":
        return self._with(
            windows.sliding(self.df, self.ts_col, size, slide, self.key_cols, aggs)
        )

    def session_window(self, gap: str, aggs: Mapping[str, Column]) -> "Stream":
        return self._with(windows.session(self.df, self.ts_col, gap, self.key_cols, aggs))

    def flag_late(
        self,
        delay_sec: float,
        n_shards: int = 32,
        shard_cols: Sequence[str] | None = None,
    ) -> "Stream":
        """Streaming late-data side output: adds `is_late` judged
        against a self-tracked frontier (streaming/eventtime.py) —
        filter it into the reference's (on_time, late) stream pair."""
        if not self.ts_col:
            raise ValueError("assign_timestamps first")
        from .streaming.eventtime import flag_late_stream

        return self._with(
            flag_late_stream(
                self.df,
                self.ts_col,
                delay_sec,
                n_shards,
                shard_cols=list(shard_cols) if shard_cols else None,
            )
        )

    # ---- joins (absent in reference, SURVEY §2.8 — native here) ----

    def join(self, other: "Stream", on, how: str = "inner", broadcast: bool = False) -> "Stream":
        right = F.broadcast(other.df) if broadcast else other.df
        return self._with(self.df.join(right, on, how))

    def as_of_join(
        self,
        other: "Stream",
        left_ts: str,
        right_ts: str,
        right_cols: Sequence[str],
        **kw,
    ) -> "Stream":
        """Point-in-time join on this stream's key (operators/asof.py):
        each left row gets the latest right row with right_ts <= left_ts."""
        self._need_keys()
        from .operators import asof

        return self._with(
            asof.as_of_join(
                self.df, other.df, list(self.key_cols), left_ts, right_ts, right_cols, **kw
            )
        )

    def range_join(
        self, other: "Stream", left_point: str, right_start: str, right_end: str, **kw
    ) -> "Stream":
        """Interval containment join (operators/rangejoin.py): this
        stream's rows land in `other`'s [start, end) intervals; keyed
        on this stream's keys when set (SMJ). A bin_width in kw runs
        the bin join, keyed or not; an unkeyed stream without one
        needs broadcast_right=True."""
        from .operators.rangejoin import range_join

        keys = kw.pop("keys", list(self.key_cols) or None)
        return self._with(
            range_join(self.df, other.df, left_point, right_start, right_end,
                       keys=keys, **kw)
        )

    # ---- temporal modeling (round 4/5 operators, fluent form) ----

    def funnel_times(self, ts: str, steps, **kw) -> "Stream":
        """Ordered-sequence chain times per key (operators/funnel.py);
        composite keys chain per distinct key tuple."""
        self._need_keys()
        from .operators.funnel import funnel_times

        return self._with(funnel_times(self.df, list(self.key_cols), ts, steps, **kw))

    def scd2_history(self, ts: str, attrs, **kw) -> "Stream":
        """Type-2 dimension history on this stream's key (operators/scd.py)."""
        self._need_keys()
        from .operators.scd import scd2_history

        return self._with(scd2_history(self.df, list(self.key_cols), ts, attrs, **kw))

    def scd2_lookup(self, dim: "Stream", ts: str, **kw) -> "Stream":
        """Point-in-time enrichment against an SCD2 dim (operators/scd.py)."""
        self._need_keys()
        from .operators.scd import scd2_lookup

        return self._with(scd2_lookup(self.df, dim.df, list(self.key_cols), ts, **kw))

    def hypertable_rollup(self, ts_col: str, aggs, grains=("hour", "day", "week")) -> "Stream":
        """Multi-grain continuous-aggregate rollup keyed on this
        stream's keys (operators/windows.py)."""
        from .operators.windows import hypertable_rollup

        return self._with(
            hypertable_rollup(self.df, ts_col, list(self.key_cols), aggs, grains)
        )

    # ---- sinks (SURVEY §2.7; full set in malstrom_spark.sinks) ----

    def collect(self):
        """VecSink analog (sinks/vec_sink.rs:14-62) — test use only."""
        return self.df.collect()

    def to_parquet(self, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()):
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def explain(self, mode: str = "formatted"):
        self.df.explain(mode)
        return self
