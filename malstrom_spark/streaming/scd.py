"""Streaming SCD2 — the stateful-streaming twin of
operators/scd.py. One fold runs on `stateful_map_stream`
(streaming/stateful.py; reference `StatefulLogic` contract,
operators/stateful_map.rs:60-110) in the default mode, and on
`stateful_map_ordered_stream` (streaming/disorder.py) when a disorder
horizon is given.

State per key = the OPEN interval: the tracked attribute values and
their valid_from (a timestamp), in both modes. The fold takes a key's
events in event-time order, detects change points vectorized
(null-safe shift-compare, no Python row loop), EMITS every interval
the batch closes (valid_to set, is_current False) plus the key's
current open interval (valid_to null, is_current True), and stores
the open interval back to state — CDC-style incremental history.

Cross-microbatch contract: append mode cannot retract, so an open
row emitted in batch N is superseded (not deleted) when batch N+1
closes it; downstream consumers keep the LATEST row per
(key, valid_from) — with the bounded availableNow replay (one batch)
the emitted set equals the batch operator exactly (parity test).
In the default mode exactness needs event time to not regress across
microbatches, the same arrival-order contract as streaming/funnel.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType, TimestampType


def _fold_scd2(k, seq_events, attrs: Sequence[str], key: str, open_state, coerce=None):
    """Shared SCD2 fold: `seq_events` is a pandas frame with columns
    attrs + '__from' ALREADY in event-time order; `open_state` is the
    open interval (attr values..., valid_from) or None. Emits closed
    intervals + the new open interval; returns the new open state.

    ``coerce`` maps attr -> value coercer for STATE PACKING: Arrow
    widens nullable int columns to float64 (3 -> 3.0, null -> NaN),
    and a float crossing the bigint state boundary is silently nulled
    — real history values would corrupt (round-5 review repro). The
    OUTPUT frame is unaffected (Arrow converts 3.0 back to 3); only
    the state tuple needs exact types."""
    import pandas as pd

    frames = [seq_events[list(attrs) + ["__from"]]]
    if open_state is not None:
        head = pd.DataFrame([dict(zip(attrs, open_state[:-1]), __from=open_state[-1])])
        frames.insert(0, head)
    seq = pd.concat(frames, ignore_index=True)

    # vectorized change detection: null-safe compare to the
    # previous row across all tracked attrs
    changed = None
    for a in attrs:
        col, prev = seq[a], seq[a].shift()
        d = (col != prev) & ~(col.isna() & prev.isna())
        changed = d if changed is None else (changed | d)
    changed.iloc[0] = True
    groups = seq[changed].reset_index(drop=True)

    out = groups[list(attrs)].copy()
    out.insert(0, key, k[0])
    out["valid_from"] = groups["__from"]
    out["valid_to"] = groups["__from"].shift(-1)
    out["is_current"] = out["valid_to"].isna()

    last = groups.iloc[-1]

    def pack(a):
        v = last[a]
        c = (coerce or {}).get(a)
        return c(v) if c is not None else v

    new_state = tuple(pack(a) for a in attrs) + (last["__from"],)
    return [out], new_state


def scd2_stream(
    sdf: DataFrame,
    key: str,
    ts: str,
    attrs: Sequence[str],
    tiebreak: str | None = None,
    disorder_horizon: str | None = None,
) -> DataFrame:
    """Streaming SCD2 over a streaming DataFrame: emits
    (key, attrs..., valid_from, valid_to, is_current) rows as
    intervals close, plus the open interval per touched key.

    ``disorder_horizon`` (an interval) switches to the
    watermark-finalized mode (`stateful_map_ordered_stream`): events buffer
    per key in state and enter the history only once the watermark
    passes them, in event-time order — so a late-but-in-horizon event
    opens/closes its intervals in the right chain position and the
    consolidated output equals the batch operator under ANY microbatch
    arrival order; beyond-horizon events (and null-ts events, which
    cannot be ordered) are deterministically dropped. Default (None):
    fill-forward, exact while event time never regresses across
    microbatches."""
    import pandas as pd

    from .disorder import _buf_coercer, stateful_map_ordered_stream
    from .stateful import require_utc_session, stateful_map_stream

    attrs = list(attrs)
    if not attrs:
        raise ValueError("attrs must be non-empty: SCD2 tracks at least one attribute")
    require_utc_session(sdf, "scd2_stream")
    cols = [key, ts] + attrs + ([tiebreak] if tiebreak else [])
    ev = sdf.select(*dict.fromkeys(cols))  # the tiebreak may be a tracked attr

    out_schema = StructType(
        [ev.schema[key]]
        + [ev.schema[a] for a in attrs]
        + [
            StructField("valid_from", TimestampType()),
            StructField("valid_to", TimestampType()),
            StructField("is_current", BooleanType()),
        ]
    )

    # state-packing coercers per attr: exact int/None round-trips for
    # Arrow's float-widened nullable ints (see _fold_scd2 docstring)
    attr_coerce = {
        a: _buf_coercer(ev.schema[a].dataType.simpleString()) for a in attrs
    }
    # state = the open interval: attr values + valid_from, in both modes
    state_ddl = ", ".join(
        [f"`{a}` {ev.schema[a].dataType.simpleString()}" for a in attrs]
        + ["__from timestamp"]
    )

    def fold(k, pdf, state):
        seq = pdf[attrs + [ts]].rename(columns={ts: "__from"})
        return _fold_scd2(k, seq, attrs, key, state, coerce=attr_coerce)

    if disorder_horizon is not None:
        return stateful_map_ordered_stream(
            ev, [key], ts, fold, out_schema, state_ddl, disorder_horizon, tiebreak
        )
    order = [ts] + ([tiebreak] if tiebreak else [])
    return stateful_map_stream(
        ev,
        [key],
        lambda k, pdfs, state: fold(
            k, pd.concat(list(pdfs)).sort_values(order, kind="mergesort"), state
        ),
        out_schema,
        state_ddl,
    )


def consolidate_scd2(
    emitted: DataFrame, key: str, attrs: Sequence[str]
) -> DataFrame:
    """Collapse the append-mode emission log of `scd2_stream` to the
    CURRENT history: the stream supersedes (never deletes) an open row
    when a later batch closes it, so a multi-microbatch replay leaves
    both versions in the sink — required before comparing against the
    batch operator whenever the replay may produce more than one
    microbatch.

    Exact without an emission-order column because valid_to transitions
    exactly once (null while open -> the close timestamp, never
    revised): max(valid_to) per (key, attrs, valid_from) ignores the
    null open-version and recovers the latest row; is_current is
    re-derived from the surviving valid_to."""
    return (
        emitted.groupBy(F.col(key), *[F.col(a) for a in attrs], F.col("valid_from"))
        .agg(F.max("valid_to").alias("valid_to"))
        .withColumn("is_current", F.col("valid_to").isNull())
    )
