"""One-call literal construction (round-12 session 4).

PySpark's ``F.lit`` fans a Python list out into one py4j round-trip
per element (``array(*[lit(x) for x in xs])``), which makes big
literal maps/arrays a driver-side wall: constructing the lang-id
768x6 nested weight map cost ~6.5 s, pure socket round-trips. Two
one-call forms replace it:

- numeric arrays: ``F.lit(<1-D numpy array>)`` crosses py4j as ONE
  call (PySpark special-cases ``np.ndarray``);
- maps: ``from_json`` over ONE string literal (`json_lit_map`) —
  ``JsonToStructs`` of a foldable input is constant-folded by
  Catalyst, so the optimized plan holds the IDENTICAL map literal the
  ``map_from_arrays`` form produced (verified by comparing folded
  plans and values; construction 6520 ms -> 2 ms for the lang-id
  map).

Values are identical to the per-element construction. The from_json
path falls back to ``map_from_arrays`` when the payload cannot be
JSON-encoded (e.g. lone-surrogate keys), so exotic inputs keep the
old behavior instead of failing."""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_lit_map(d: dict, value_type: str) -> Column:
    """A foldable ``map<string,{value_type}>`` literal from ``d`` in
    ONE py4j call. Values must be JSON-exact for the target type
    (integers for bigint/int, nested int lists for array<bigint>)."""
    ks = sorted(d)
    try:
        payload = json.dumps({k: d[k] for k in ks})
    except (TypeError, ValueError):
        return F.map_from_arrays(
            F.lit(list(ks)).cast("array<string>"),
            F.lit([d[k] for k in ks]).cast(f"array<{value_type}>"),
        )
    return F.from_json(F.lit(payload), f"map<string,{value_type}>")
