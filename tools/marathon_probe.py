"""Instrumented replica of bench.py's marathon: same warmups, same
3-pass min-of-N loop, but logs every (pass, key, seconds) with a
wall-clock timestamp plus periodic JVM GC/heap counters, so a key
that reads N-times slower in the 244-key marathon than in isolation
(multimodal_png_decode: 3.47 marathon vs 0.68 isolated, r10 pre-bench)
can be attributed: cumulative JVM state (GC wall climbing), python
worker churn, or plain box weather.

    python tools/marathon_probe.py [out_tsv]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from wrds2pg_spark.queries import REGISTRY  # noqa: E402
from wrds2pg_spark.session import get_spark  # noqa: E402


def jvm_stats(spark):
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = 0
    gc_n = 0
    for b in mf.getGarbageCollectorMXBeans():
        gc_ms += b.getCollectionTime()
        gc_n += b.getCollectionCount()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    return gc_ms, gc_n, heap.getUsed() // (1 << 20)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/marathon_probe.tsv"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    keys = bench.select_keys([])
    spark = get_spark(app_name="wrds2pg_spark_marathon_probe",
                      extra_conf=bench.BENCH_CONF)
    bench.warm(spark, keys, sf_dir)

    with open(out_path, "w", buffering=1) as out:
        out.write("pass\tidx\tkey\tsec\tt_wall\tgc_ms\tgc_n\theap_mb\n")
        for p in range(3):
            for i, name in enumerate(keys):
                t0 = time.perf_counter()
                bench.materialize(REGISTRY[name].fn(spark, sf_dir))
                dt = round(time.perf_counter() - t0, 3)
                gc_ms, gc_n, heap = jvm_stats(spark)
                out.write(f"{p}\t{i}\t{name}\t{dt}\t{time.time():.1f}"
                          f"\t{gc_ms}\t{gc_n}\t{heap}\n")


if __name__ == "__main__":
    main()
