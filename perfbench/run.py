"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository.  Workloads:
``etl_incremental``, ``query_relational``, ``curation_python`` (see
perfbench/README.md).  Each run writes its inputs with ``datagen.py``,
then starts ``worker.py`` in a fresh process with its stdout and stderr
captured to a log (the sinks print to stdout), waits for it and for
every process under it, and prints:

- one ``record`` line: pass-by-pass walls, load average at start,
  Spark confs set, sample counts, failures;
- last, the result line: ``{"correct", "attempted", "failed", "metrics"}``.

Work files go under ``.perfbench_work/`` in the checkout and are removed
at the end; the run's record is kept in ``.perfbench_work/records/``.
Exits non-zero, printing no result, when the run fails or the checkout
does not hold the ``wrds2pg_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("etl_incremental", "query_relational", "curation_python")
SETUP_ALLOWANCE_S = 150   # the run is stopped after --seconds plus this
REAP_TIMEOUT_S = 20


def _session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid`` (the worker and everything it
    started: the JVM, the pyspark daemon and its workers)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _stop_session(sid: int) -> bool:
    """TERM, then KILL, every process of the session; True once none is left."""
    deadline = time.monotonic() + REAP_TIMEOUT_S
    sig = signal.SIGTERM
    while True:
        pids = _session_pids(sid)
        if not pids:
            return True
        if time.monotonic() > deadline:
            return False
        if time.monotonic() > deadline - REAP_TIMEOUT_S / 2:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn SIGTERM into SystemExit, so the finally below still stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    t0 = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "wrds2pg_spark", "__init__.py")):
        print("perfbench: run from a checkout root that holds wrds2pg_spark/",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(base, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(base, "records"), exist_ok=True)

    env = dict(os.environ)
    env.update({
        # the Python workers import the package from the checkout
        "PYTHONPATH": root,
        "TMPDIR": os.path.join(work, "tmp"),
        # takes precedence over spark.local.dir when the caller's env sets it
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # no /tmp/hsperfdata_* file from the launcher JVM or the driver JVM
        "JAVA_TOOL_OPTIONS": (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip(),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    try:
        return _run(args, t0, root, base, work, tag, env)
    finally:
        # on every way out, a SIGTERM part-way included
        shutil.rmtree(work, ignore_errors=True)


def _run(args, t0, root, base, work, tag, env) -> int:
    """Write the inputs, run the worker, print its record and result."""
    here = os.path.dirname(os.path.abspath(__file__))
    inputs = os.path.join(work, "inputs")
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    deadline = t0 + args.seconds + SETUP_ALLOWANCE_S
    rc, stopped, prepare_s = None, True, None
    with open(log_path, "w") as log:
        # the inputs are made in a process of their own, outside the
        # benchmarked one and outside setup_s
        for script, extra in (("datagen.py", ["--out", inputs]),
                              ("worker.py", ["--seconds", str(args.seconds),
                                             "--trace", str(args.trace), "--work", work,
                                             "--inputs", inputs, "--result", result_path])):
            cmd = [sys.executable, os.path.join(here, script), "--workload", args.workload,
                   "--seed", str(args.seed)] + extra
            if script == "worker.py":
                prepare_s = time.time() - t0
                cmd += ["--t0", repr(time.time())]
            proc = subprocess.Popen(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(0.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                stopped = _stop_session(proc.pid)
                proc.wait()
            if rc != 0 or not stopped:
                break

    out = None
    if rc == 0 and stopped and os.path.exists(result_path):
        with open(result_path) as f:
            out = json.load(f)
    if out is None:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        why = "timed out" if rc is None else f"exit code {rc}"
        if not stopped:
            why += ", processes left running"
        print(f"perfbench: worker failed ({why}); log tail:\n{tail}", file=sys.stderr)
        return 1
    with open(os.path.join(base, "records", tag + ".json"), "w") as f:
        out["record"]["prepare_s"] = prepare_s
        out["record"]["run_s"] = time.time() - t0
        json.dump(out["record"], f, indent=1)
    print("record " + json.dumps(out["record"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
