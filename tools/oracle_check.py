"""Local replica of the driver's correctness gate: run every
queries() entry on Spark AND its oracle_sql() on DuckDB at a given
sf, normalize (sort columns by name, sort rows), and diff.

Usage:
    python tools/oracle_check.py [sf_dir] [query ...]

Stricter than the driver (exact value equality after normalization),
so a PASS here implies a hash match there.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(pdf):
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, tuple)) or str(type(v)).find("ndarray") >= 0:
            return "[" + ",".join(cell(x) for x in v) + "]"
        return repr(v)

    rows = sorted(tuple(cell(v) for v in row) for row in pdf.itertuples(index=False, name=None))
    return rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry
    from malstrom_spark.session import build_session

    spark = build_session(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    from malstrom_spark.queries import full_registry

    reg = full_registry()
    qs = {n: s.fn for n, s in reg.items()}
    oracles = {n: s.oracle for n, s in reg.items() if s.oracle is not None}
    failures, passes, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"ROWS  {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        s_cols = sorted(spark_pdf.columns)
        d_cols = sorted(duck_pdf.columns)
        if s_cols != d_cols:
            failures.append((name, f"schema: spark={s_cols} duck={d_cols}"))
            print(f"FAIL  {name}: schema mismatch\n  spark={s_cols}\n  duck ={d_cols}")
            continue
        if len(spark_pdf) != len(duck_pdf):
            failures.append((name, f"rows: spark={len(spark_pdf)} duck={len(duck_pdf)}"))
            print(f"FAIL  {name}: rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
            continue
        s_rows = normalize(spark_pdf)
        d_rows = normalize(duck_pdf)
        if s_rows != d_rows:
            diff_at = next(
                (i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b), None
            )
            msg = f"values differ (first diff row {diff_at})"
            if diff_at is not None:
                msg += f"\n  spark: {s_rows[diff_at]}\n  duck : {d_rows[diff_at]}"
            failures.append((name, msg))
            print(f"FAIL  {name}: {msg}")
            continue
        passes.append(name)
        print(f"PASS  {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")

    print(
        f"\n{len(passes)} pass, {len(rows_only)} rows-only, {len(failures)} fail"
        + (f": {[n for n, _ in failures]}" if failures else "")
    )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
