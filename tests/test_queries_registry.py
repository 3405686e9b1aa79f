"""Registry contract: every query (driver-facing 50 AND the packed
tail via full_registry) runs at sf0.001, every oracle key refers to an
existing query, and the driver-facing list stays within the gate's
50-row cap. (Exact oracle equivalence is checked by
tools/oracle_check.py at sf0.01 — heavier than unit tests.)"""

import pytest

import __spark_entry__ as entry
from malstrom_spark.queries import full_registry, load_all


def test_oracle_keys_subset_of_queries():
    qs = entry.queries()
    for name in entry.oracle_sql():
        assert name in qs


def test_driver_registry_within_gate_cap():
    assert len(entry.queries()) <= 50


@pytest.mark.parametrize("name", sorted(full_registry().keys()))
def test_query_runs_nonneg_rows(spark, sf_dir, name):
    fn = full_registry()[name].fn
    df = fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
    if name in load_all():
        # Driver hashability contract (round-9 postmortem: the
        # orders_snapshot_diff gate row errored because the driver's
        # pandas canonicalizer cannot factorize list cells). Every
        # GATE row's top-level schema must be scalar-only; nested
        # results belong in full_registry-only rows or must be
        # flattened (array_join/to_json) in the gate projection.
        from pyspark.sql.types import ArrayType, MapType, StructType

        for f in df.schema.fields:
            assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
                f"gate row {name}: column {f.name} has nested type "
                f"{f.dataType.simpleString()} — the driver's canonicalizer "
                "cannot hash it; flatten it in the gate projection"
            )


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() > 0


# Every registry row whose build reaches the exact-duplicate collapse
# gate (`scale.collapse_exact_groups`), found with a spy over
# full_registry() at sf0.001. The testdata tables sit under the gate's
# size floor, so the default run never takes the collapse branch; here
# the `collapse_gate` fixture forces it both ways.
COLLAPSE_GATE_ROWS = [
    "customer_entity_groups",
    "customer_fuzzy_pairs",
    "dedup_clusters",
    "dedup_clusters_scale",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_scale",
    "dedup_simhash",
    "dedup_simhash_scale",
    "embedding_semdedup",
    "pipeline_omnibus",
    "relational_omnibus_b",
]
# the rows whose sf0.001 gate input holds exact duplicates; the others
# run the collapsed path on singleton groups
COLLAPSE_GATE_MERGING_ROWS = {"dedup_containment"}


def _assert_matches_oracle(sf_dir, name, got, gate) -> None:
    """``got`` matches row ``name``'s DuckDB oracle exactly (the
    tools/oracle_check.py comparison); a row without an oracle gives
    the same rows in both of ``gate``'s modes."""
    import duckdb

    from tools.oracle_check import TABLES, normalize

    spec = full_registry()[name]
    if spec.oracle is None:
        gate.assert_same_rows(normalize(got))
        return
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = con.sql(spec.oracle).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert normalize(got) == normalize(want)


@pytest.fixture(scope="session")
def sf_twice(sf_dir, tmp_path_factory):
    """sf0.001 replicated twice by tools/make_sf_replica.py: documents,
    names and vectors are copied under offset ids, so every text, name
    and vector has an exact twin."""
    import pathlib
    import subprocess
    import sys

    tool = pathlib.Path(__file__).resolve().parent.parent / "tools" / "make_sf_replica.py"
    out = tmp_path_factory.mktemp("sf_twice")
    subprocess.run([sys.executable, str(tool), sf_dir, str(out), "2"],
                   check=True, capture_output=True)
    return str(out)


@pytest.mark.parametrize("data", ["sf0.001", "twice"])
@pytest.mark.parametrize("name", COLLAPSE_GATE_ROWS)
def test_collapse_gate_rows_match_oracle_both_ways(
    request, spark, sf_dir, collapse_gate, name, data
):
    """Each listed row reaches the gate, and with the collapse forced
    on or off it matches its DuckDB oracle. On the 2x replica every
    row's collapsed path merges twins into multi-member groups."""
    if data == "twice":
        data_dir, merges = request.getfixturevalue("sf_twice"), True
    else:
        data_dir, merges = sf_dir, name in COLLAPSE_GATE_MERGING_ROWS
    got = full_registry()[name].fn(spark, data_dir).toPandas()
    collapse_gate.assert_decided(merges=merges)
    _assert_matches_oracle(data_dir, name, got, collapse_gate)


# Every registry row whose build reaches `scale.ivf_salt` (its one
# caller). With 8 cells its salt is 1 below 8 cores, so the default run
# never takes the salted join; here the `ivf_salt` fixture forces the
# salt to 1 and to 3.
IVF_SALT_ROWS = ["embedding_bitext_ivf"]


@pytest.mark.parametrize("name", IVF_SALT_ROWS)
def test_ivf_salt_rows_match_oracle_both_ways(spark, sf_dir, ivf_salt, name):
    """Each listed row reaches the salted IVF score tail, and with the
    salt forced to 1 or 3 it matches its DuckDB oracle."""
    got = full_registry()[name].fn(spark, sf_dir).toPandas()
    ivf_salt.assert_salted()
    _assert_matches_oracle(sf_dir, name, got, ivf_salt)


# Every registry row whose build reaches connected components
# (`dedup.dedup_groups`), found with a spy over full_registry() at
# sf0.001. Their edge sets sit far under `scale.CC_DRIVER_MAX_EDGES`,
# so the default run finishes on the driver before any Spark round;
# here the `cc_finish` fixture forces each finish.
CC_ROWS = [
    "customer_entity_groups",
    "dedup_clusters",
    "dedup_clusters_scale",
    "dedup_groups_probe",
    "embedding_dedup_clusters",
    "embedding_semdedup",
    "pipeline_omnibus",
]


@pytest.mark.parametrize("name", CC_ROWS)
def test_cc_rows_match_oracle_both_ways(spark, sf_dir, cc_finish, name):
    """Each listed row reaches connected components, and finished on
    the driver or by Spark rounds it matches its DuckDB oracle."""
    got = full_registry()[name].fn(spark, sf_dir).toPandas()
    cc_finish.assert_path()
    _assert_matches_oracle(sf_dir, name, got, cc_finish)
