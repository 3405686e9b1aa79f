"""tools/make_sf_replica.py builds the N-times scale-up replica that the
scale measurements run on. Its contract: keyed tables grow N-fold with
per-replica key offsets, fixed dimensions are copied once, and joins
grow linearly (N-fold), not quadratically as a plain row copy would."""

import pathlib
import runpy
import subprocess
import sys

import duckdb
import pytest

TOOL = pathlib.Path(__file__).resolve().parent.parent / "tools" / "make_sf_replica.py"
TABLES = runpy.run_path(str(TOOL))["TABLES"]  # table -> key columns (None: copied once)
N = 3


@pytest.fixture(scope="module")
def replica(sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("replica")
    subprocess.run(
        [sys.executable, str(TOOL), sf_dir, str(out), str(N)],
        check=True, capture_output=True,
    )
    return out


def _one(sql):
    return duckdb.connect().execute(sql).fetchone()[0]


def test_replica_copies_only_fixed_dimensions_once():
    assert {t for t, keys in TABLES.items() if keys is None} == {"region", "nation"}


@pytest.mark.parametrize("name", sorted(TABLES))
def test_replica_row_counts(sf_dir, replica, name):
    src = _one(f"SELECT count(*) FROM '{sf_dir}/{name}.parquet'")
    out = _one(f"SELECT count(*) FROM '{replica}/{name}.parquet'")
    factor = 1 if TABLES[name] is None else N
    assert out == factor * src


def test_replica_keys_distinct_across_replicas(sf_dir, replica):
    for name, keys in TABLES.items():
        for k in keys or []:
            src = _one(f"SELECT count(DISTINCT {k}) FROM '{sf_dir}/{name}.parquet'")
            out = _one(f"SELECT count(DISTINCT {k}) FROM '{replica}/{name}.parquet'")
            assert out == N * src, (name, k)


def test_replica_join_grows_linearly(sf_dir, replica):
    def joined(d):
        return _one(
            f"SELECT count(*) FROM '{d}/orders.parquet' o "
            f"JOIN '{d}/customer.parquet' c ON o.o_custkey = c.c_custkey"
        )

    src = joined(sf_dir)
    assert src > 0
    assert joined(replica) == N * src


def test_replica_foreign_keys_follow_their_parent(sf_dir, replica):
    # a foreign key is offset by its parent key's span, so replica r's
    # events attach to replica r's customers (user_id = o_custkey) and
    # lineitems to replica r's orders, parts and suppliers
    joins = {
        "events_orders": "'{d}/events.parquet' e JOIN '{d}/orders.parquet' o "
                         "ON e.user_id = o.o_custkey",
        "lineitem_parents": "'{d}/lineitem.parquet' l "
                            "JOIN '{d}/orders.parquet' o ON l.l_orderkey = o.o_orderkey "
                            "JOIN '{d}/part.parquet' p ON l.l_partkey = p.p_partkey "
                            "JOIN '{d}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey",
    }
    for name, sql in joins.items():
        src = _one(f"SELECT count(*) FROM {sql.format(d=sf_dir)}")
        assert src > 0, name
        assert _one(f"SELECT count(*) FROM {sql.format(d=replica)}") == N * src, name
