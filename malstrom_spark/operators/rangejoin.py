"""Range (interval) join — point-in-interval: each LEFT row carries a
point timestamp, each RIGHT row an interval [start, end); output is
every (left, right) pair whose point falls in the interval (and whose
optional equi-keys match). Like the as-of join (operators/asof.py)
this is absent from the reference (SURVEY §2.8) and from core Spark's
operator set, but required for event/window alignment — sessionizing
events against promo windows, attributing points to campaigns,
joining measurements to maintenance intervals.

The inputs pick one of two plans; the caller never names one:

- without ``bin_width``: equi-join on the keys with the range
  predicates attached to the join condition. Catalyst plans a
  SortMergeJoin (or broadcast hash join) on the keys and evaluates the
  range as a join filter — right whenever real equi-keys exist,
  because the shuffle spreads work across key hash space and the range
  filter is codegen'd. An unkeyed call needs ``broadcast_right=True``:
  the caller states the contract that the interval side is small,
  because an unkeyed theta-join plans a BroadcastNestedLoop — the
  classic 100 TB scale-killer when the right side is not.

- with ``bin_width``: the scale path when keys are absent or too few
  to spread load. Time is cut into fixed-width bins; each left point
  lands in exactly one bin, each right interval EXPLODES to the bins
  it overlaps, and the join becomes a pure equi-join on
  (keys..., bin) followed by the exact range filter. Replication
  factor is ceil(span / bin_width) + 1 per right row, so pick
  bin_width near the typical interval span: for promo windows of ~7
  days, bin_width of 7 days gives ≤2 copies of each interval and a
  shuffle keyed on ~O(distinct bins) — an equi-shuffle plan where
  the naive theta-join is quadratic. This is the same binning
  rewrite Databricks ships as a range-join hint; here it is an
  explicit operator so the plan shape is inspectable and testable
  (tests/test_rangejoin.py asserts no BroadcastNestedLoop /
  CartesianProduct in the bin plan).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BIN = "__rj_bin"


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    keys: Sequence[str] | None = None,
    bin_width: str | int | float | None = None,
    broadcast_right: bool = False,
    end_inclusive: bool = False,
) -> DataFrame:
    """Join left points into right intervals.

    left_point / right_start / right_end are timestamp (or numeric)
    columns; keys are equi-join columns present on BOTH sides (the
    right side's key columns are dropped from the output, Spark
    `join(on=...)` style). bin_width selects the bin join: an
    interval string (e.g. '7 days', '500 milliseconds' — fixed-width
    units only, micros-exact) for temporal columns, a plain number
    for numeric ones. end_inclusive picks [start, end] vs the default
    [start, end).
    """
    keys = list(keys) if keys else []
    if bin_width is not None:
        return _bin_join(
            left, right, left_point, right_start, right_end, keys, bin_width, end_inclusive
        )
    if not keys and not broadcast_right:
        raise ValueError(
            "unkeyed range_join would plan a BroadcastNestedLoop/Cartesian "
            "join; pass a bin_width (e.g. '7 days'), or broadcast_right=True "
            "for a small interval side"
        )
    r = F.broadcast(right) if broadcast_right else right
    point_in = _point_predicate(left_point, right_start, right_end, end_inclusive)
    return _project(left.join(r, _key_cond(left, r, keys, point_in), "inner"), left, r, keys)


def _point_predicate(left_point, right_start, right_end, end_inclusive):
    def pred(l, r):
        lo = l[left_point] >= r[right_start]
        hi = (
            l[left_point] <= r[right_end]
            if end_inclusive
            else l[left_point] < r[right_end]
        )
        return lo & hi

    return pred


def _key_cond(left, right, keys, point_in):
    cond = point_in(left, right)
    for k in keys:
        cond = (left[k] == right[k]) & cond
    return cond


def _project(joined, left, right, keys):
    """Drop the right side's duplicate key columns (join(on=) style)."""
    out = [left[c] for c in left.columns]
    out += [right[c] for c in right.columns if c not in keys]
    return joined.select(*out)


def _epoch_bin(col, bin_width, dtype):
    """Bin index: floor(epoch_micros / width_micros) for temporal
    columns (micros precision, so sub-second and 1-2 s widths bin
    exactly — whole-second truncation would silently coarsen them),
    floor(value / width) for numeric ones (bin_width then must be a
    number, not an interval string). Widths resolve via Spark's
    interval arithmetic, keeping everything codegen'd (no Python)."""
    kind = dtype.simpleString()
    if kind in ("date", "timestamp", "timestamp_ntz"):
        if isinstance(bin_width, (int, float)):
            raise ValueError(
                f"temporal column needs an INTERVAL bin_width string, got {bin_width!r}"
            )
        width_us = _interval_us(bin_width)
        if width_us <= 0:
            raise ValueError(f"bin_width {bin_width!r} resolves to {width_us} us")
        return F.floor(F.unix_micros(col.cast("timestamp")) / F.lit(width_us))
    if isinstance(bin_width, str):
        raise ValueError(
            f"numeric column needs a numeric bin_width, got {bin_width!r}"
        )
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width!r}")
    return F.floor(col / F.lit(bin_width))


_US = {
    "microsecond": 1, "millisecond": 1_000, "second": 1_000_000,
    "minute": 60_000_000, "hour": 3_600_000_000, "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def _interval_us(bin_width: str) -> int:
    """'<n> <unit>' in micros. Calendar units (month/year) are
    rejected: a fixed-width bin cannot represent them."""
    parts = bin_width.strip().lower().split()
    if len(parts) == 2:
        unit = parts[1].rstrip("s")
        if unit in ("month", "year", "quarter"):
            raise ValueError(
                f"calendar unit {unit!r} has no fixed width; use days/hours"
            )
        if unit in _US:
            return int(float(parts[0]) * _US[unit])
    raise ValueError(
        f"bin_width {bin_width!r} not understood; use '<n> "
        "<microseconds|milliseconds|seconds|minutes|hours|days|weeks>'"
    )


def _bin_join(left, right, left_point, right_start, right_end, keys, bin_width, end_inclusive):
    l2 = left.withColumn(
        _BIN, _epoch_bin(F.col(left_point), bin_width, left.schema[left_point].dataType)
    )
    # each interval explodes to every bin it overlaps; sequence() is a
    # codegen'd array builder, explode is a Generate node — no Python
    r2 = right.withColumn(
        _BIN,
        F.explode(
            F.sequence(
                _epoch_bin(
                    F.col(right_start), bin_width, right.schema[right_start].dataType
                ),
                _epoch_bin(
                    F.col(right_end), bin_width, right.schema[right_end].dataType
                ),
            )
        ),
    )
    point_in = _point_predicate(left_point, right_start, right_end, end_inclusive)
    cond = point_in(l2, r2) & (l2[_BIN] == r2[_BIN])
    for k in keys:
        cond = (l2[k] == r2[k]) & cond
    joined = l2.join(r2, cond, "inner")
    out = [l2[c] for c in left.columns]
    out += [r2[c] for c in right.columns if c not in keys]
    return joined.select(*out)
