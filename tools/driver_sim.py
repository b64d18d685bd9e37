"""Simulate the driver's verify pass against __spark_entry__.py.

Usage: python tools/driver_sim.py [sf_dir]

Runs entry(spark) (smoke: rows>0, stable schema), then every
queries() entry at the given sf_dir, comparing against oracle_sql()
via DuckDB exactly in the spirit of CORRECTNESS_r{N}.json
(row count + sorted-column schema + order-insensitive value multiset,
normalized by tests/oracle_harness.py, which the tier-1 oracle tests
share).
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_REPO, os.path.join(_REPO, "tests")]

import __spark_entry__ as entrymod  # noqa: E402
from oracle_harness import normalize, oracle_connection  # noqa: E402
from wrds2pg_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="driver_sim", driver_memory="16g")

    t0 = time.time()
    edf = entrymod.entry(spark)
    n = edf.count()
    print(f"entry(): rows={n} cols={edf.columns} ({time.time()-t0:.1f}s)")
    assert n > 0

    con = oracle_connection(sf_dir)

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs), "oracle keys must be subset of queries"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    if only:
        qs = {n: f for n, f in qs.items() if any(n.startswith(p) for p in only)}
    ok = bad = 0
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = [c.lower() for c in sdf.columns]
        status, detail = "rows-only", f"rows={len(srows)}"
        if name in oracles:
            cur = con.execute(oracles[name])
            ocols = [d[0].lower() for d in cur.description]
            orows = cur.fetchall()
            if sorted(scols) != sorted(ocols):
                status, detail = "SCHEMA-MISMATCH", f"{sorted(scols)} vs {sorted(ocols)}"
            elif len(srows) != len(orows):
                status, detail = "COUNT-MISMATCH", f"{len(srows)} vs {len(orows)}"
            elif normalize(scols, srows) != normalize(ocols, orows):
                sn, on = normalize(scols, srows), normalize(ocols, orows)
                diffs = [(a, b) for a, b in zip(sn, on) if a != b][:3]
                status, detail = "VALUE-MISMATCH", f"{diffs}"
            else:
                status, detail = "match", f"rows={len(srows)}"
        tag = "OK " if status in ("match", "rows-only") else "BAD"
        if tag == "OK ":
            ok += 1
        else:
            bad += 1
        print(f"[{tag}] {name:32s} {status:16s} {detail[:120]} ({time.time()-t0:.1f}s)")
    print(f"\n{ok} ok, {bad} bad, {len(qs)} total ({len(oracles)} with oracle)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
