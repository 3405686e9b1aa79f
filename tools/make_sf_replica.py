"""Generate an honest N× scale-up of an sf directory for local scaling
measurements (BASELINE.md): every table is replicated with its keys
offset per replica so join fan-out, group cardinalities and dup-group
sizes scale the way real data growth does (NOT a naive row copy, which
would inflate joins quadratically).

  region/nation          : fixed dimensions, copied once
  customer/supplier/part : surrogate keys offset per replica
  orders                 : o_orderkey/o_custkey offset
  lineitem               : l_orderkey/l_partkey/l_suppkey offset
  events                 : event_id/user_id offset (ts kept: same time range,
                           N× denser — how event streams actually grow;
                           user_id is a customer key)
  documents              : doc_id offset, text copied (dup clusters
                           grow N×, the adversarial case for dedup)
  embeddings             : vec_id offset, vectors copied

A foreign key is offset by the span of the key it references, not by its
own column's: replica r's orders, lineitems and events then point at
replica r's customers, orders, parts and suppliers, so every join grows
exactly N-fold.

Every table is written with ROW_GROUP_SIZE chosen for >=32 row groups
(min 2,048 rows per group): DuckDB's default 122,880-row groups left
sf1/sf10 replicas with 1-2 groups per file, capping Spark's scan
parallelism and under-reporting compute headroom in the scaling
tables (round-3 builder note on doc_line_clean/doc_rare_token_rate).

Usage: python tools/make_sf_replica.py [src_sf_dir] [out_dir] [N]
Defaults: /root/testdata/sf0.1 /tmp/testdata/sf1 10
"""

from __future__ import annotations

import os
import sys

import duckdb

TABLES = {
    "region": None,
    "nation": None,
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# foreign key -> the (table, key) it references
REFERENCES = {
    "o_custkey": ("customer", "c_custkey"),
    "user_id": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
}


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/testdata/sf1"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()

    def span(t, k):
        # one past the largest value of the key and of every foreign
        # key that references it, so no replica's values overlap
        cols = [(t, k)] + [(ft, fk) for ft, keys in TABLES.items()
                           for fk in keys or [] if REFERENCES.get(fk) == (t, k)]
        return 1 + max(
            con.execute(f"SELECT max({c}) FROM '{src}/{tab}.parquet'").fetchone()[0]
            for tab, c in cols
        )

    for t, keys in TABLES.items():
        src_file = f"{src}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        src_rows = con.execute(f"SELECT count(*) FROM '{src_file}'").fetchone()[0]
        if keys is None:
            rg = max(2048, src_rows // 32 or 1)
            con.execute(
                f"COPY (SELECT * FROM '{src_file}') TO '{dst}' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE {rg})"
            )
            continue
        rg = max(2048, (src_rows * n) // 32)
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{src_file}'").fetchall()]
        offsets = {k: span(*REFERENCES.get(k, (t, k))) for k in keys}
        sel = ", ".join(
            f"{c} + rep * {offsets[c]} AS {c}" if c in offsets else c for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM '{src_file}', range({n}) r(rep)) "
            f"TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE {rg})"
        )
        print(t, "x", n, "->", dst, f"(row_group_size={rg})")


if __name__ == "__main__":
    main()
