"""Time the DuckDB oracle side of the oracle-backed queries — the
denominator of the bench acceptance ratio (BASELINE.md: "within 2x of
the DuckDB oracle wall-clock on the same queries").

Usage: python tools/oracle_bench.py [SF_DIR [k1,k2,...]]
       (default sf0.1, every oracle-backed key)

Keys without an oracle are left out.  Prints one JSON line
{"queries": {name: sec}, "total": sec, "sf_dir": ...}.  Compare
against bench.py's per-query output on matching keys.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import bench  # noqa: E402
from wrds2pg_spark.queries import REGISTRY  # noqa: E402
from wrds2pg_spark.sources.testdata import TABLES  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    keys = [k for k in bench.select_keys(sys.argv[2:])
            if REGISTRY[k].oracle is not None]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    def run(name: str) -> None:
        con.execute(REGISTRY[name].oracle).fetchall()

    # warm pass (page cache + duckdb's own compilation), then two timed
    # passes with per-query min — bench.py's noise handling.
    bench.time_keys(run, keys, 1)
    times = bench.time_keys(run, keys, 2)
    print(json.dumps({
        "queries": times,
        "total": round(sum(times.values()), 3),
        "sf_dir": sf_dir,
    }))


if __name__ == "__main__":
    main()
