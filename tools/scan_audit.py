"""Duplicate-scan audit: for every registered key, count how many
times the EXECUTED-shape plan scans each source table.  The AQE
exchange-reuse failure (BASELINE.md round 6) means any shared
subtree that the logical plan writes once can execute N times — a
key that scans the same parquet table more often than its join
structure requires is paying full re-computation for what looks
like reuse.  Run from the repo root:

    python tools/scan_audit.py [min_scans]

Prints keys whose formatted plan contains >= min_scans (default 2)
``Scan parquet`` nodes for one table, with the per-table counts.
Self-joins legitimately scan twice; the point is a worklist, not a
verdict.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wrds2pg_spark.queries import REGISTRY  # noqa: E402
from wrds2pg_spark.session import get_spark  # noqa: E402
from wrds2pg_spark.sources.testdata import TABLES  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    min_scans = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = get_spark()
    flagged = 0
    for name, entry in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        try:
            df = entry.fn(spark, SF)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            print(f"[ERR] {name}: {type(exc).__name__}: {exc}")
            continue
        counts: dict[str, int] = {}
        for m in re.finditer(r"Location:[^\n]*", plan):
            line = m.group(0)
            for t in TABLES:
                if f"/{t}.parquet" in line or f"/{t}/" in line:
                    counts[t] = counts.get(t, 0) + 1
                    break
        dups = {t: c for t, c in counts.items() if c >= min_scans}
        if dups:
            flagged += 1
            pretty = " ".join(f"{t}x{c}" for t, c in sorted(dups.items()))
            print(f"[DUP] {name:34s} {pretty}")
    print(f"\n{flagged} keys with >= {min_scans} scans of one table")


if __name__ == "__main__":
    main()
