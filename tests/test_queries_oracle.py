"""Runs every registered oracle-backed query against DuckDB on the
sf0.001 fixtures — the local mirror of the driver's t2 gate.

(The driver runs sf0.01; sf0.001 keeps the pytest loop fast. A marked
slow test repeats at sf0.01.)
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
from oracle_harness import compare_query, normalize  # noqa: E402

from wrds2pg_spark.queries import REGISTRY

SF_FAST = "/root/testdata/sf0.001"
SF_DRIVER = "/root/testdata/sf0.01"

ORACLE_KEYS = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ALL_KEYS = sorted(REGISTRY)


def test_oracle_normalizer_is_type_strict():
    """An int and an equal float, or a bool and an equal int, do not
    match: the driver hashes them differently."""
    cols = ["v"]
    assert normalize(cols, [(613,)]) != normalize(cols, [(613.0,)])
    assert normalize(cols, [(True,)]) != normalize(cols, [(1,)])
    assert normalize(cols, [(0.1 + 0.2,)]) == normalize(cols, [(0.3,)])


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_match_sf0001(spark, name):
    compare_query(spark, SF_FAST, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_match_sf001(spark, name):
    compare_query(spark, SF_DRIVER, name)


@pytest.mark.parametrize("name", ALL_KEYS)
def test_query_runs(spark, name):
    """Rows-only smoke for every registered query (incl. non-oracle)."""
    df = REGISTRY[name].fn(spark, SF_FAST)
    assert df.count() >= 0


def test_entry_smoke(spark):
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_bench_selects_every_registered_key_by_default():
    """bench.py times REGISTRY itself, in registration order."""
    import bench

    assert bench.select_keys([]) == list(REGISTRY)


def test_bench_key_subset_keeps_given_order():
    import bench

    keys = ["dedup_simhash", "scan_parquet", "tpch_q3_shape"]
    assert bench.select_keys([",".join(keys)]) == keys


def test_bench_unknown_key_exits_naming_it():
    import bench

    with pytest.raises(SystemExit, match="no_such_key"):
        bench.select_keys(["scan_parquet,no_such_key"])
