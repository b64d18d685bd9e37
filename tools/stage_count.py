"""Count jobs/stages a registered key actually schedules (for the
BASELINE.md floor decomposition: stages x per-stage quantum vs wall).

Usage: python tools/stage_count.py SF_DIR k1,k2,...
Prints one JSON line: {key: {"jobs": J, "stages": S, "wall_s": W}}.
Walls here are single-shot — pair with ``python bench.py k1,k2,...``
for the headline times; this tool is for the STRUCTURE (how many
scheduler quanta the plan pays).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wrds2pg_spark.queries import REGISTRY  # noqa: E402
from wrds2pg_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    keys = sys.argv[2].split(",")
    spark = get_spark(app_name="stage_count")
    sc = spark.sparkContext

    def mat(name):
        REGISTRY[name].fn(spark, sf_dir).write.mode(
            "overwrite").format("noop").save()

    for name in keys:  # warm (codegen, bucket builds, page cache)
        mat(name)

    out = {}
    tracker = sc.statusTracker()
    for name in keys:
        group = f"count_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        mat(name)
        wall = round(time.perf_counter() - t0, 3)
        sc.setJobGroup(None, None)
        job_ids = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out[name] = {"jobs": len(job_ids), "stages": len(stages),
                     "wall_s": wall}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
