"""Measurement from outside the package: process-tree CPU and memory
from ``/proc``, host noise from ``/proc/stat``, job groups and spans
around calls into each layer, and a fold of Spark's own event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")

#: (module, attribute) pairs wrapped in a traced run; the queries and
#: models import these at call time, so the wrappers see every call.
OPERATORS = (
    ("local_data_pipeline_spark.operators.graph", "pagerank"),
    ("local_data_pipeline_spark.operators.graph", "label_propagation"),
    ("local_data_pipeline_spark.operators.graph", "kcore"),
    ("local_data_pipeline_spark.operators.dedup", "dedup_clusters"),
    ("local_data_pipeline_spark.operators.pq", "pq_train"),
)


def operator_span(module: str, attr: str) -> str:
    return f"operators.{module.rsplit('.', 1)[1]}.{attr}"


# ------------------------------------------------------------------ /proc
def _stat(pid: int):
    """(comm, ppid, own cpu ticks, reaped-children cpu ticks) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    return comm, int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def process_tree(root: int) -> dict[int, tuple]:
    """Every live process under ``root`` (inclusive): pid -> _stat."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds (user + sys, reaped children included) of the driver
    Python, the JVM and the Python workers under ``root``."""
    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (comm, _ppid, own, reaped) in process_tree(root).items():
        if pid == root:
            key = "driver_py"
        elif comm.startswith("python"):
            key = "pyworker"
        else:
            key = "jvm"  # java and the spark-submit shell that launched it
        out[key] += (own + reaped) / CLK_TCK
    return out


def jvm_pid(root: int) -> int | None:
    for pid, st in process_tree(root).items():
        if st[0] == "java":
            return pid
    return None


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class PeakRss:
    """Peak RSS of one process over an interval: the kernel's high-water
    mark, reset at the start through ``clear_refs``, with per-op
    samples as a floor when the reset is not permitted."""

    def __init__(self, pid: int | None):
        self.pid = pid
        self.sampled = 0
        self.reset = False
        if pid is not None:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
                self.reset = True
            except OSError:
                pass

    def sample(self) -> None:
        if self.pid is not None:
            self.sampled = max(self.sampled, _status_kb(self.pid, "VmRSS") or 0)

    def mb(self) -> float:
        self.sample()
        hwm = _status_kb(self.pid, "VmHWM") if self.reset and self.pid else None
        return max(self.sampled, hwm or 0) / 1024


def retained_heap_mb(spark) -> float:
    """Heap the JVM still holds live: used heap after a full collection
    (``System.gc()`` is a stop-the-world full GC under G1), once the
    driver's dropped handles and Spark's own clean-up have been let go.
    Unlike RSS, this follows what the program keeps, not how far the
    collector let the heap grow."""
    import gc

    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # py4j hands the release of JVM objects whose Python handles died to
    # a worker thread that polls once a second: release them here.
    pending = getattr(spark.sparkContext._gateway._gateway_client, "finalizer_deque", None)
    readings = []
    for _ in range(8):
        # Listener events still queued hold the finished query's plan, and
        # through it its broadcasts.
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60000)
        # Python objects in reference cycles keep their handles until
        # Python's own collector runs.
        gc.collect()
        while pending:
            try:
                client, target_id = pending.pop()
            except IndexError:
                break
            client.garbage_collect_object(target_id, False)
        jvm.java.lang.System.gc()
        readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        # Settled when nothing more was freed over the last 0.4 s: Spark's
        # ContextCleaner and Python runner threads let go of blocks and
        # buffers on their own threads, up to 16 MB some 0.3 s after an
        # op (pq_adc_recall_eval).
        if len(readings) >= 2 and readings[-2] - readings[-1] < 0.5:
            break
        time.sleep(0.4)
    return readings[-1]


def host_cpu() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (ticks per state)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_noise(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and iowait shares of all host CPU time between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1  # guest time is already inside user
    return {"steal_frac": d[7] / total, "iowait_frac": d[4] / total,
            "busy_frac": 1 - (d[3] + d[4] + d[7]) / total}


def stop_processes(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left at the end."""
    import signal

    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in alive):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    if st is None:
        return False
    try:
        with open(f"/proc/{pid}/status") as fh:
            return "zombie" not in fh.read()
    except OSError:
        return False


# --------------------------------------------------------------- spans
class Tracer:
    """Job groups and spans for one run.

    Every op runs under its own job group, so jobs per op come from
    Spark's status tracker on every run. With ``traced`` set, spans
    around calls into a layer open a child group (``<op>/<span>``), and
    the operator functions and ``DataTest.run`` are wrapped so that
    their calls become spans too."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.groups: list[str] = []
        self.spans: list[tuple] = []  # (name, seconds, group) this op
        self._saved: list[tuple] = []

    def begin_op(self, group: str) -> None:
        self.groups = [group]
        self.spans = []
        self.sc.setJobGroup(group, group)

    def end_op(self) -> dict[str, int]:
        """Jobs per group opened during the op."""
        st = self.sc.statusTracker()
        counts = {g: len(st.getJobIdsForGroup(g)) for g in self.groups}
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return counts

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a call into a layer; traced runs also give it a group."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        group = None
        if self.traced and prev is not None:
            group = f"{prev}/{name}"
            if group not in self.groups:
                self.groups.append(group)
            self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, time.perf_counter() - t0, group))
            if group is not None:
                self.sc.setJobGroup(prev, prev)

    def install(self) -> None:
        """Wrap the operator functions and ``DataTest.run`` (traced only)."""
        if not self.traced:
            return
        import importlib

        from local_data_pipeline_spark.registry import DataTest

        for mod_name, attr in OPERATORS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._spanned(fn, operator_span(mod_name, attr)))
        self._saved.append((DataTest, "run", DataTest.run))
        DataTest.run = self._spanned(DataTest.run, "registry.test")

    def _spanned(self, fn, name: str):
        import functools

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved = []


def inclusive_jobs(counts: dict[str, int], group: str | None) -> int:
    """Jobs of ``group`` plus those of the spans nested inside it."""
    if group is None:
        return 0
    return sum(n for g, n in counts.items() if g == group or g.startswith(group + "/"))


# ------------------------------------------------------------ event log
def fold_eventlog(path: str) -> dict:
    """Fold an uncompressed event log into per-job-group totals and the
    job intervals: ``{"groups": {g: {...}}, "jobs": [(g, t0_ms, t1_ms)]}``."""
    jobs: dict[int, list] = {}
    stage_group: dict[int, str | None] = {}
    groups: dict[str, dict] = {}

    def acc(g: str | None) -> dict | None:
        if g is None:
            return None
        return groups.setdefault(g, {
            "stages": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
            "cpu_ns": 0, "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = [g, ev["Submission Time"], None]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][2] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = g
                a = acc(g)
                if a is not None:
                    a["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                a = acc(stage_group.get(ev["Stage ID"]))
                if a is None:
                    continue
                a["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    a["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                a["run_ms"] += m.get("Executor Run Time", 0)
                a["cpu_ns"] += m.get("Executor CPU Time", 0)
                a["gc_ms"] += m.get("JVM GC Time", 0)
                a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {
        "groups": groups,
        "jobs": [tuple(j) for j in jobs.values() if j[2] is not None],
    }


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
