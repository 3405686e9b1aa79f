"""Correctness checks, run with DuckDB outside the timed region.

Batch outputs are compared with the query's DuckDB oracle without
regard to row order or column order; the oracle sees the tables present
in the data directory. Rows whose oracle does not run in
seconds (or that have none) are run on a fixed input and compared with
a golden hash recorded in `golden.json`. The streaming sink's final
per-key totals are compared with DuckDB's aggregate over the input
files.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import hashlib
import json
import os

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def _cell(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, decimal.Decimal)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order and cells as exact strings, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def digest(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    h.update(json.dumps(sorted(cols)).encode())
    for r in canonical(cols, rows):
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _fetch(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def read_output(con, out_dir: str) -> tuple[list[str], list[tuple]]:
    """A Spark parquet output directory as (columns, rows)."""
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        raise FileNotFoundError(f"no parquet part files in {out_dir}")
    return _fetch(con, f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")


class OracleCheck:
    """Compares outputs with oracle results, each oracle run once."""

    def __init__(self, data_dir: str):
        self.con = connect(data_dir)
        self._expected: dict[str, list[tuple]] = {}

    def matches(self, name: str, oracle_sql: str, out_dir: str) -> bool:
        if name not in self._expected:
            self._expected[name] = canonical(*_fetch(self.con, oracle_sql))
        return canonical(*read_output(self.con, out_dir)) == self._expected[name]

    def close(self) -> None:
        self.con.close()


def load_golden() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def output_digest(out_dir: str) -> str:
    con = duckdb.connect()
    try:
        return digest(*read_output(con, out_dir))
    finally:
        con.close()


def stream_totals_match(input_dir: str, sink_dir: str) -> bool:
    """The last emitted (n_events, total_value) of every key in the sink
    equals the exact per-key count and decimal sum over the input."""
    con = duckdb.connect()
    try:
        expected = con.execute(
            f"SELECT user_id, count(*), CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) "
            f"FROM read_parquet('{input_dir}/*.parquet') GROUP BY 1 ORDER BY 1"
        ).fetchall()
        got = con.execute(
            f"SELECT user_id, max(n_events), arg_max(total_value, n_events) "
            f"FROM read_parquet('{sink_dir}/*.parquet') GROUP BY 1 ORDER BY 1"
        ).fetchall()
    finally:
        con.close()
    return got == expected
