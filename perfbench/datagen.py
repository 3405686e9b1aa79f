"""Seeded inputs for the benchmark.

`stage_tables` stages the reference test tables kept in `perfbench/data/`
(the repository's deterministic `documents` and `customer` tables at
sf0.01 and sf0.001, copied byte for byte) with their rows in an order
drawn from the seed. The rows, schema and single-row-group layout are
those of the reference tables, so every seed does the same work.
`stream_events` makes the keyed event batches of the streaming
workload. The same seed always gives the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def reference_dir(sf: float) -> str:
    return os.path.join(DATA, f"sf{sf:g}")


def stage_tables(sf: float, out_dir: str, seed: int, tables: tuple[str, ...]) -> dict[str, int]:
    """Write `tables` at scale factor `sf` to `out_dir`, rows shuffled by
    `seed`; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name in tables:
        t = pq.read_table(os.path.join(reference_dir(sf), f"{name}.parquet"))
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=t.num_rows)
        rows[name] = t.num_rows
    return rows


def stream_events(rng, n: int, n_keys: int) -> pa.Table:
    """`n` keyed events: user_id uniform over `n_keys`, 2-decimal value."""
    return pa.table({
        "user_id": rng.integers(0, n_keys, n),
        "value": rng.integers(1, 100_000, n) / 100.0,
    })
