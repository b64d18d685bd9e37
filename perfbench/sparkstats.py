"""What the benchmark reads besides its own clock.

``ProcTree`` sums CPU time and peak resident memory over this process
and every process below it (the JVM that pyspark starts, the
``pyspark.daemon`` and its Python workers), from ``/proc``.

``OpStats`` reads Spark's in-process status stores for the jobs of one
op, found by the job group the benchmark sets around it: the
AppStatusStore for jobs, stages and task metrics and the SQL status
store for the Python-boundary operator metrics.  Both stores are live
with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import re
import time

_TICK = os.sysconf("SC_CLK_TCK")

# Physical operators that move rows across the Arrow/Python boundary;
# each runs inside an RDD scope of the same name in the stage's graph.
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "PythonMapInArrow",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)
_PYTHON_RE = re.compile(r"\b(%s)\b" % "|".join(PYTHON_NODES))
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)")


class ProcTree:
    """CPU seconds and peak RSS of the process tree rooted here."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        # (pid, tid) -> (kind, CPU seconds) of JVM compiler and GC threads
        # as last read; the JVM stops compiler threads it no longer needs,
        # and their CPU must stay with their kind after they exit
        self._jvm_seen: dict[tuple[int, int], tuple[str, float]] = {}

    def _stats(self) -> dict[int, tuple[int, list[str]]]:
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            rest = raw[raw.rfind(")") + 2:].split()
            out[int(name)] = (int(rest[1]), rest)
        return out

    def pids(self) -> list[int]:
        return self._tree(self._stats())

    def cpu_seconds(self) -> float:
        """utime+stime of every live process in the tree, plus the
        cutime+cstime of children they reaped (Python workers that
        exited), so CPU of finished workers is not lost."""
        stats = self._stats()
        total = 0
        for pid in self._tree(stats):
            rest = stats[pid][1]
            total += sum(int(x) for x in rest[11:15])
        return total / _TICK

    def cpu_by_kind(self) -> dict[str, float]:
        """CPU seconds as in ``cpu_seconds``, split into this Python
        driver, the Python workers, and the JVM's compiler threads, GC
        threads and the rest (task, scheduler and RPC threads); the JVM
        split is read per thread from ``/proc/<pid>/task``."""
        stats = self._stats()
        out = dict.fromkeys(("driver", "python_workers", "jvm_compiler", "jvm_gc", "jvm_other"), 0.0)
        for pid in self._tree(stats):
            rest = stats[pid][1]
            secs = sum(int(x) for x in rest[11:15]) / _TICK
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            if pid == self.root:
                out["driver"] += secs
            elif comm != "java":
                out["python_workers"] += secs
            else:
                self._jvm_seen.update(_jvm_threads(pid))
                jvm = {"compiler": 0.0, "gc": 0.0}
                for (owner, _), (kind, used) in self._jvm_seen.items():
                    if owner == pid:
                        jvm[kind] += used
                out["jvm_compiler"] += jvm["compiler"]
                out["jvm_gc"] += jvm["gc"]
                out["jvm_other"] += secs - jvm["compiler"] - jvm["gc"]
        return out

    def _tree(self, stats) -> list[int]:
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree.append(pid)
                todo.extend(children.get(pid, []))
        return tree

    def peak_rss_mb(self) -> dict[str, float]:
        """High-water RSS (VmHWM) per process kind — this Python driver,
        the JVM, the Python workers — and their sum as ``total``."""
        out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = f.read()
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            hwm = next((int(line.split()[1]) for line in status.splitlines()
                        if line.startswith("VmHWM:")), 0)
            kind = "driver" if pid == self.root else "jvm" if comm == "java" else "python_workers"
            out[kind] += hwm / 1024
        out["total"] = sum(out.values())
        return out


_GC_THREAD = re.compile(r"^(GC Thread|G1 |VM Thread)")


def _jvm_threads(pid: int) -> dict[tuple[int, int], tuple[str, float]]:
    """Kind and CPU seconds of each live JIT compiler and GC thread of a
    JVM, keyed by (pid, tid)."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.find("(") + 1:raw.rfind(")")]
        kind = "compiler" if "CompilerThre" in comm else "gc" if _GC_THREAD.match(comm) else None
        if kind:
            rest = raw[raw.rfind(")") + 2:].split()
            out[(pid, int(tid))] = (kind, (int(rest[11]) + int(rest[12])) / _TICK)
    return out


def box_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole box from /proc/stat; on a
    VM, steal is the time the host ran someone else on our CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def yardstick_s() -> float:
    """Best of five timings of a fixed pure-Python loop: a gauge of how
    fast the machine runs right now, to tell a noisy neighbour apart from
    drift in the program."""
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        best = min(best, time.perf_counter() - t)
    return best


def _parse_size(text: str) -> float:
    """Bytes from a formatted SQL size metric ('169.5 KiB', or the
    'total (min, med, max ...)\\n10.2 MiB (...)' form)."""
    m = _SIZE_RE.search(text.splitlines()[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class OpStats:
    """Per-op readings from Spark's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._empty_status = self.jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        self._quantiles = self.sc._gateway.new_array(self.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._sql_seen = self.sql_store.executionsCount()

    def _stage_graph(self, stage_id: int) -> str:
        """The stage's RDD operation graph as DOT text; every physical
        operator that ran in the stage appears as a cluster label."""
        graph = self.store.operationGraphForStage(stage_id)
        return self.jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)

    def read(self, group: str) -> dict[str, float]:
        """Totals over the jobs of ``group``: counts, executor time,
        shuffle/spill bytes, GC, the worst stage's max/median task
        time, and the Python-boundary share."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys((
            "jobs", "stages", "tasks", "executor_s", "gc_s", "shuffle_mb",
            "spill_mb", "python_stage_s", "python_boundary_mb",
        ), 0.0)
        out["jobs"] = float(len(jobs))
        skews = []
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(
                sid, False, self._empty_status, False, self._no_quantiles)
            if attempts.isEmpty():
                continue
            sd = attempts.last()
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            run_s = sd.executorRunTime() / 1000
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_s"] += run_s
            out["gc_s"] += sd.jvmGcTime() / 1000
            out["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 2**20
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            if sd.numCompleteTasks() >= 2:
                summary = self.store.taskSummary(sid, sd.attemptId(), self._quantiles)
                if summary.isDefined():
                    q = summary.get().executorRunTime()
                    if q.apply(0) > 0:
                        skews.append((run_s, q.apply(1) / q.apply(0)))
            if _PYTHON_RE.search(self._stage_graph(sid)):
                out["python_stage_s"] += run_s
        # skew of the stage that spent the most executor time
        out["task_skew"] = max(skews)[1] if skews else 1.0
        out["python_boundary_mb"] = self._python_bytes() / 2**20
        return out

    def skip_sql_executions(self) -> None:
        """Leave the SQL executions started so far out of the next
        ``read``: call it when a traced pass starts, so an untraced pass
        before it is not counted."""
        self._sql_seen = self.sql_store.executionsCount()

    def _python_bytes(self) -> float:
        """Bytes sent to and returned from Python workers by the SQL
        executions that started since the last call."""
        count = self.sql_store.executionsCount()
        total = 0.0
        if count > self._sql_seen:
            execs = self.sql_store.executionsList(self._sql_seen, count - self._sql_seen)
            it = execs.iterator()
            while it.hasNext():
                ex = it.next()
                ids = []
                metrics = ex.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() in (_PY_SENT, _PY_RECV):
                        ids.append(m.accumulatorId())
                if not ids:
                    continue
                values = self.sql_store.executionMetrics(ex.executionId())
                for acc in ids:
                    v = values.get(acc)
                    if v.isDefined():
                        total += _parse_size(v.get())
        self._sql_seen = count
        return total

    def session_state(self) -> dict[str, float]:
        """Persisted RDDs alive (lineage cuts never released) and the
        storage they hold."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        storage = sum(i.memSize() + i.diskSize() for i in infos)
        return {
            "cut_rdds_live": float(self.sc._jsc.getPersistentRDDs().size()),
            "storage_mb": storage / 2**20,
        }

