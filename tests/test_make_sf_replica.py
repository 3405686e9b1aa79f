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
