"""One benchmark run in a fresh process; ``run.py`` starts it.

Phases, all in this process:

1. set-up: start Spark over the inputs ``datagen.py`` wrote, then run
   the check pass (query keys collected, or the ETL full load) and
   ``WARM_PASSES`` warm-up passes;
2. measure: whole passes until ``--seconds`` have elapsed; with
   ``--trace 1`` every other pass is traced;
3. check the outputs against DuckDB and write the result file.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

# Spark task slots.  Two of a 4-vCPU box's cores run tasks; the others
# are left to the driver, the Python workers and the JVM's compiler and
# GC threads, so those do not queue behind the tasks.
CORES = 2
# Warm-up passes after the check pass.  A fixed number, so that every
# run is measured at the same point of JIT and codegen warm-up; a rule
# that stops when two passes agree stopped at different points in
# different runs.
WARM_PASSES = 3


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def spark_conf(work: str) -> dict[str, str]:
    """Confs set on top of ``session.get_spark``'s defaults, and why."""
    tmp = os.path.join(work, "tmp")
    return {
        # keep every file Spark writes inside the run's work dir
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": "file://" + os.path.join(work, "warehouse"),
        # C1 only: with C2, a JVM that lives one run is still compiling
        # Spark for the whole run, and a pass's CPU time falls by a third
        # from the first measured pass to the fourth.  Serial GC: G1's
        # heap sizing follows GC timing, so the JVM's peak RSS moved by a
        # quarter between runs of the same work (README)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
        # progress bars are console noise in a captured log
        "spark.ui.showConsoleProgress": "false",
    }


class Spans:
    """Per-layer time of the ETL ops, from wrappers put around the
    functions ``update.wrds_update_*`` calls.  A layer's time is its
    span minus the spans nested in it (self time)."""

    LAYERS = {
        ("wrds2pg_spark.update", "source_modified"): "catalog.gate_s",
        ("wrds2pg_spark.update", "read_source"): "sources.read_s",
        ("wrds2pg_spark.update", "apply_options"): "plans.apply_s",
        ("wrds2pg_spark.update", "update_parquet"): "sinks.write_s",
        ("wrds2pg_spark.update", "update_csv"): "sinks.write_s",
        ("wrds2pg_spark.sinks.parquet", "get_modified_pq"): "catalog.gate_s",
        ("wrds2pg_spark.sinks.parquet", "needs_update"): "catalog.gate_s",
        ("wrds2pg_spark.sinks.parquet", "set_modified_pq"): "catalog.stamp_s",
        ("wrds2pg_spark.sinks.csv", "get_modified_csv"): "catalog.gate_s",
        ("wrds2pg_spark.sinks.csv", "needs_update"): "catalog.gate_s",
        ("wrds2pg_spark.sinks.csv", "set_modified_csv"): "catalog.stamp_s",
    }

    def __init__(self):
        self.originals = {}
        self.spans: list[tuple] = []   # (layer, start, end, parent index)
        self._stack: list[int] = []

    def _wrap(self, layer, fn):
        def wrapped(*args, **kwargs):
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else -1
            self.spans.append((layer, time.perf_counter(), None, parent))
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                name, start, _, par = self.spans[idx]
                self.spans[idx] = (name, start, time.perf_counter(), par)
        return wrapped

    def install(self) -> None:
        import importlib

        for (mod, attr), layer in self.LAYERS.items():
            m = importlib.import_module(mod)
            self.originals[(mod, attr)] = getattr(m, attr)
            setattr(m, attr, self._wrap(layer, getattr(m, attr)))

    def remove(self) -> None:
        import importlib

        for (mod, attr), fn in self.originals.items():
            setattr(importlib.import_module(mod), attr, fn)
        self.originals = {}

    def take(self) -> dict[str, float]:
        """Self time per layer over the spans since the last call."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, float] = {}
        for i, (name, start, end, _) in enumerate(self.spans):
            out[name] = out.get(name, 0.0) + (end - start) - child[i]
        self.spans = []
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()

    import sparkstats
    import workloads

    load_at_start = os.getloadavg()
    ticks_at_start = sparkstats.box_ticks()
    cores = min(CORES, len(os.sched_getaffinity(0)))
    wl = workloads.make(args.workload, args.work, args.inputs, args.seed)

    # --- set-up ---------------------------------------------------
    t_session = time.perf_counter()
    from wrds2pg_spark.session import get_spark

    conf = spark_conf(args.work)
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
        shuffle_partitions=cores, driver_memory="2g", extra_conf=conf,
    )
    session_s = time.perf_counter() - t_session
    sc = spark.sparkContext
    proc = sparkstats.ProcTree()
    opstats = sparkstats.OpStats(spark) if args.trace else None
    spans = Spans() if args.trace else None

    op_seq = [0]

    def run_pass(k: int, check: bool, traced: bool) -> dict:
        wl.begin_pass(k)
        if traced:
            spans.install()
            opstats.skip_sql_executions()
        kinds0, ticks0 = proc.cpu_by_kind(), sparkstats.box_ticks()
        cpu0, t0 = proc.cpu_seconds(), time.perf_counter()
        ops = []
        for name in wl.pass_ops(k):
            op_seq[0] += 1
            group = f"perfbench-{op_seq[0]}"
            sc.setJobGroup(group, f"{args.workload} {name}")
            layers: dict = {}
            t = time.perf_counter()
            try:
                kind = wl.run_op(spark, name, check, layers)
                res = workloads.OpResult(name, kind, time.perf_counter() - t)
            except Exception as e:  # an op failure is counted, the run goes on
                res = workloads.OpResult(name, "failed", time.perf_counter() - t,
                                         ok=False, error=f"{type(e).__name__}: {e}"[:300])
                traceback.print_exc()
            if traced:
                layers.update(spans.take())
                for key, v in opstats.read(group).items():
                    layers[f"spark.{key}"] = v
            res.layers = layers
            ops.append(res)
        wall = time.perf_counter() - t0
        cpu = proc.cpu_seconds() - cpu0
        kinds = {kind: round(v - kinds0.get(kind, 0.0), 2)
                 for kind, v in proc.cpu_by_kind().items()}
        steal = sparkstats.steal_share(ticks0, sparkstats.box_ticks())
        if traced:
            spans.remove()
        return {"k": k, "wall": wall, "cpu": cpu, "steal": steal, "cpu_by_kind": kinds,
                "ops": ops, "traced": traced, "measured": False}

    check_pass = run_pass(0, check=True, traced=False)
    warm = [run_pass(k, check=False, traced=False) for k in range(1, 1 + WARM_PASSES)]
    # Set-up is gated as the CPU time this process and everything it
    # started spent on it, for the reason cpu_s is; its wall is recorded.
    setup_s, setup_wall_s = proc.cpu_seconds(), time.time() - args.t0
    # Peak RSS is gated over the same work in every run (the check pass
    # and warm-up); by the end of the window it also depends on how many
    # passes the window held, because lineage-cut blocks are never freed.
    setup_rss = proc.peak_rss_mb()
    # --- measure --------------------------------------------------
    yardstick = [sparkstats.yardstick_s()]
    ticks_window = sparkstats.box_ticks()
    measured = []
    t_window = time.perf_counter()
    k = len(warm) + 1
    # with --trace 1, at least one traced and one untraced pass
    while time.perf_counter() - t_window < args.seconds or len(measured) < 1 + args.trace:
        # with --trace 1, traced and untraced passes alternate
        traced = bool(args.trace) and len(measured) % 2 == 1
        measured.append(run_pass(k, check=False, traced=traced) | {"measured": True})
        k += 1
    yardstick.append(sparkstats.yardstick_s())
    ticks_end = sparkstats.box_ticks()
    run_rss = proc.peak_rss_mb()
    session_state = opstats.session_state() if args.trace else {}

    # --- check ----------------------------------------------------
    failures = [f"{o.name}: {o.error}" for o in check_pass["ops"] if not o.ok]
    try:
        failures += wl.check()
    except Exception as e:
        traceback.print_exc()
        failures.append(f"check raised {type(e).__name__}: {e}")
    spark.stop()

    plain = [p for p in measured if not p["traced"]] or measured
    ops = [o for p in plain for o in p["ops"]]
    op_failures = [o for p in warm + measured for o in p["ops"] if not o.ok]
    by_type: dict[str, list[float]] = {}
    for o in ops:
        if o.ok:
            by_type.setdefault(wl.op_type(o.name, o.kind), []).append(o.secs)
    type_p50 = {t: statistics.median(v) for t, v in sorted(by_type.items())}
    type_min = {t: min(v) for t, v in sorted(by_type.items())}
    # The gated cost of a pass is its CPU time, not its wall: CPU time
    # leaves out the time the host steals from the VM, while the wall of
    # the same pass moves by half with the host's load (README).  The
    # walls are reported with the per-layer metrics and in the record.
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (statistics.median(p["cpu"] for p in plain), "s"),
        "peak_rss_mb": (setup_rss["total"], "MiB"),
    }
    rewrites = [o for o in ops if o.kind == "rewrite"]
    in_mb = sum(o.layers.get("sources.input_mb", 0.0) for o in rewrites)
    out_mb = sum(o.layers.get("sinks.output_mb", 0.0) for o in rewrites)
    extra = {
        "pass.wall_s": (statistics.median(p["wall"] for p in plain), "s"),
        "ops.min_geomean_s": (geomean(type_min.values()), "s"),
        **{f"cpu.{kind}_s": (statistics.median(p["cpu_by_kind"][kind] for p in plain), "s")
           for kind in plain[0]["cpu_by_kind"]},
        "etl.rewrite_geomean_s": (geomean(v for t, v in type_p50.items() if t.endswith(":rewrite")), "s"),
        "etl.skip_geomean_s": (geomean(v for t, v in type_p50.items() if t.endswith(":skip")), "s"),
        "etl.out_bytes_per_in_byte": (out_mb / in_mb if in_mb else 0.0, "ratio"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "loadavg_at_start": load_at_start,
        "spark_conf_added": conf | {"master": f"local[{cores}]",
                                    "spark.sql.shuffle.partitions": str(cores),
                                    "spark.driver.memory": "2g"},
        "yardstick_s_before_after_window": yardstick,
        "steal_share_setup_window": [sparkstats.steal_share(ticks_at_start, ticks_window),
                                     sparkstats.steal_share(ticks_window, ticks_end)],
        "peak_rss_mb_by_process": {"setup": setup_rss, "run": run_rss},
        "session_s": session_s, "setup_wall_s": setup_wall_s,
        "check_pass_wall_s": check_pass["wall"],
        "warm_pass_walls_s": [p["wall"] for p in warm],
        "measured_pass_walls_s": [p["wall"] for p in measured],
        "warm_pass_cpu_s": [p["cpu"] for p in warm],
        "measured_pass_cpu_s": [p["cpu"] for p in measured],
        "measured_pass_cpu_s_by_kind": [p["cpu_by_kind"] for p in measured],
        "measured_pass_steal_share": [p["steal"] for p in measured],
        "measured_pass_traced": [p["traced"] for p in measured],
        "measured_ops": [[[o.name, o.kind, round(o.secs, 4)] for o in p["ops"]] for p in measured],
        "op_p50_s_by_type": type_p50,
        "op_min_s_by_type": type_min,
        "samples_by_type": {t: len(v) for t, v in sorted(by_type.items())},
        "ops": sum(len(p["ops"]) for p in warm + measured),
        "ops_failed": len(op_failures),
        "op_errors": sorted({f"{o.name}: {o.error}" for o in op_failures})[:10],
        "check_failures": failures[:20],
    }
    record["plain_pass_metrics"] = {k: v[0] for k, v in extra.items()}

    if args.trace:
        metrics = trace_metrics(warm + measured, extra, session_state)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
        record["end_to_end"] = {k: v for k, (v, _) in end_to_end.items()}
    attempted = record["ops"] + wl.n_checks()
    failed = record["ops_failed"] + len(failures)
    result = {
        "correct": failed == 0 and bool(measured),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    with open(args.result, "w") as f:
        json.dump({"record": record, "result": result}, f)
    return 0


PER_PASS_SUMS = (
    "queries.build_s", "queries.exec_s", "catalog.gate_s", "catalog.stamp_s",
    "sources.read_s", "plans.apply_s", "sinks.write_s", "sinks.output_mb",
    "sinks.files", "sources.input_mb", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.shuffle_mb", "spark.spill_mb", "spark.gc_s",
    "spark.executor_s",
)
UNITS = {"_s": "s", "_mb": "MiB"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def trace_metrics(passes, extra, session_state) -> dict:
    """Per-layer metrics from the passes after the check pass: per-pass
    sums over the traced passes (median over passes), session state at
    the end of the run, the drift of the untraced passes (last over
    first, warm-up included) and the tracing overhead (median traced
    over median untraced measured pass)."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]

    def per_pass(fn) -> float:
        return statistics.median(fn(p) for p in traced) if traced else 0.0

    out: dict[str, tuple[float, str]] = {}
    for name in PER_PASS_SUMS:
        out[name] = (per_pass(lambda p: sum(o.layers.get(name, 0.0) for o in p["ops"])), _unit(name))
    for name, layer in (("skip.sources.read_s", "sources.read_s"),
                        ("skip.plans.apply_s", "plans.apply_s")):
        out[name] = (per_pass(lambda p: sum(o.layers.get(layer, 0.0)
                                            for o in p["ops"] if o.kind == "skip")), "s")
    sas = "sources.sas_decode_s"
    out[sas] = (per_pass(lambda p: sum(o.layers.get("spark.python_stage_s", 0.0)
                                       for o in p["ops"] if o.name.startswith("sas_"))), "s")
    out["spark.task_skew"] = (per_pass(lambda p: statistics.median(
        o.layers.get("spark.task_skew", 1.0) for o in p["ops"])), "ratio")
    out["python.boundary_mb"] = (per_pass(lambda p: sum(
        o.layers.get("spark.python_boundary_mb", 0.0) for o in p["ops"])), "MiB")
    out["python.stage_s"] = (per_pass(lambda p: sum(
        o.layers.get("spark.python_stage_s", 0.0) for o in p["ops"])), "s")
    out["session.cut_rdds_live"] = (session_state.get("cut_rdds_live", 0.0), "count")
    out["spark.storage_mb"] = (session_state.get("storage_mb", 0.0), "MiB")
    out["session.pass_drift"] = (plain[-1]["wall"] / plain[0]["wall"], "ratio")
    measured_plain = [p["wall"] for p in plain if p["measured"]]
    out["trace.overhead_ratio"] = (
        statistics.median(p["wall"] for p in traced) / statistics.median(measured_plain)
        if traced and measured_plain else 0.0, "ratio")
    out.update(extra)
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
