"""Local stand-in for the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL on the same parquet
fixtures, then compares row count, column names, and an
order-insensitive value multiset (columns sorted by name, rows sorted,
floats rounded to a comparison precision, every value tagged with its
type).  ``tools/driver_sim.py`` imports the same normalizer and view
setup, so the two cannot disagree on what "match" means.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb

from wrds2pg_spark.sources.testdata import TABLES

FLOAT_DECIMALS = 6


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_oracle(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    con = oracle_connection(sf_dir)
    try:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        return cols, rows
    finally:
        con.close()


def norm(v: Any) -> str:
    # Type-tag every value: the driver hashes an int 613 and a float
    # 613.0 (DuckDB HUGEINT -> pandas float) differently, and True and
    # 1 too, while Python's cross-type equality would hide both.
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else f"f:{round(v, FLOAT_DECIMALS)}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    if v is None:
        return "n:"
    return f"s:{v}"


def normalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def compare_query(spark, sf_dir: str, name: str) -> None:
    from wrds2pg_spark.queries import REGISTRY

    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    assert spec.oracle is not None, f"{name} has no oracle"
    o_cols, o_rows = run_oracle(sf_dir, spec.oracle)
    o_cols = [c.lower() for c in o_cols]

    assert sorted(s_cols) == sorted(o_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    )
    assert len(s_rows) == len(o_rows), (
        f"{name}: row count spark={len(s_rows)} oracle={len(o_rows)}"
    )
    sn = normalize(s_cols, s_rows)
    on = normalize(o_cols, o_rows)
    if sn != on:
        diffs = [(a, b) for a, b in zip(sn, on) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
