#!/usr/bin/env python3
"""The repo's benchmark: one workload as a single-client closed loop.

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

It builds the inputs (a fixed synthetic warehouse and, for the nightly
build, a seeded swell raw table) inside a per-run directory under
``perfbench/_run``, starts the engine's own session (``session.get_spark``)
on ``local[N]`` with N <= nproc, runs one untimed warm pass that also
checks every output against the committed digests, and then times a
fixed number of whole passes over the workload's op list (the
workload's ``timed_passes``), each in a seeded order.
``--seconds`` is accepted and recorded but does not set the timed
window: a run never stops mid-pass. Every timed op's output is checked
too.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is the
run's detail record (job counts per op, host noise, the tail percentile
and its sample count), also written to ``perfbench/results/``. The exit
code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

import checks
import gen_data
import probes as tr
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Task slots: at most this many, and never more than the host has.
MAX_SLOTS = 4
#: Driver heap of the single local-mode JVM (driver and executors).
DRIVER_MEM = "2g"
#: Untimed passes over the op list before timing starts; the first
#: one also checks every output against the committed digests.
WARM_PASSES = 1


def process_age() -> float:
    """Seconds since this process started (from /proc, not from import)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment(run_dir: str, slots: int, traced: bool) -> None:
    """Launcher hygiene, set before the JVM starts: workers can import
    the package, every scratch path (warehouse, local dirs, temp files,
    event log) lives in the run directory, fixed maximum heap and slot count."""
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher's too: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def release(spark) -> int:
    """Drop every cached and checkpointed block between ops; returns how
    many persistent RDDs were left behind by the op."""
    spark.catalog.clearCache()
    n = 0
    try:
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    except Exception as exc:  # private py4j handle: degrade, do not fail
        print(f"perfbench: persistent-RDD sweep unavailable: {exc}", file=sys.stderr)
        return 0
    for rdd in rdds:
        rdd.unpersist()
        n += 1
    return n


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process this
    run started (JVM, Python daemon and workers)."""
    from pyspark import SparkContext

    me = os.getpid()
    pids = [p for p in tr.process_tree(me) if p != me]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        tr.stop_processes(pids)


class Run:
    """State and records of one benchmark run."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.traced = bool(args.trace)
        self.workload = wl.WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.records: list[dict] = []
        self.failures: list[str] = []
        self.reference: dict[str, object] = {}
        self.layer: dict[str, float] = {}
        self.setup_phases: dict[str, float] = {}

    # -------------------------------------------------------------- ops
    def run_op(self, spark, tracer, name: str, group: str, check: bool,
               timed: bool = False, probe: bool = False) -> dict:
        tracer.begin_op(group)
        t_epoch = time.time()
        t0 = time.perf_counter()
        why, rows_written = None, 0
        try:
            if self.workload.kind == "query":
                rows, cols, fp = wl.query_op(spark, name, self.data_dir, tracer.span, check)
                if check:
                    why = checks.compare_digest(name, checks.digest(cols, rows), self.digests)
                    if why is None:
                        self.reference[name] = fp
                elif self.reference.get(name) != fp:
                    why = f"{name}: output {fp} != checked {self.reference.get(name)}"
            else:
                res = wl.run_pipeline(spark, name, self.registries[name],
                                      self.pipeline_rows[name])
                rows_written = sum(res.rows.values())
                why = None if res.ok else f"{name}: {res.detail}"
        except Exception as exc:  # an op that raises counts as failed
            why = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
        ok = why is None
        wall = time.perf_counter() - t0
        counts = tracer.end_op()
        rec = {}
        if probe:  # what the op left live, before release sweeps it
            me = os.getpid()
            cpu0, t1 = tr.tree_cpu(me), time.perf_counter()
            rec["heap_mb"] = tr.retained_heap_mb(spark)
            cpu1 = tr.tree_cpu(me)
            rec["probe_s"] = time.perf_counter() - t1
            rec["probe_cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
        t1 = time.perf_counter()
        rdds = release(spark)
        rec.update({
            "name": name, "group": group, "wall": wall, "ok": ok, "timed": timed,
            "start_ms": t_epoch * 1000, "end_ms": (t_epoch + wall) * 1000,
            "jobs": sum(counts.values()), "groups": counts,
            "spans": list(tracer.spans), "release_s": time.perf_counter() - t1,
            "rdds": rdds, "rows_written": rows_written,
        })
        if not ok:
            self.failures.append(why)
            print(f"perfbench: FAILED {why}", file=sys.stderr)
        return rec

    # -------------------------------------------------------------- main
    def execute(self) -> None:
        args, w = self.args, self.workload
        t0 = time.perf_counter()
        gen_data.generate(self.data_dir)
        swell_path = None
        if w.kind == "pipeline":
            swell_path = os.path.join(self.run_dir, "swell_raw.parquet")
            wl.write_swell_raw(swell_path, args.seed)
            self.pipeline_rows = checks.load(checks.PIPELINE_ROWS)
        else:
            self.digests = checks.load(checks.ORACLE_DIGESTS)
        self.setup_phases["inputs_s"] = time.perf_counter() - t0

        from local_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{w.name}",
                          warehouse_dir=os.path.join(self.run_dir, "warehouse"))
        self.layer["session.start_s"] = time.perf_counter() - t0
        try:
            self._loop(spark, swell_path)
        finally:
            stop_spark(spark)

    def _loop(self, spark, swell_path) -> None:
        args, w = self.args, self.workload
        if w.kind == "pipeline":
            self.registries = wl.pipeline_registries(self.data_dir, swell_path)
        tracer = tr.Tracer(spark, self.traced)
        tracer.install()
        warm = WARM_PASSES
        timed = w.timed_passes
        orders = wl.pass_orders(w.ops, warm + timed, args.seed)
        t0 = time.perf_counter()
        for p in range(warm):
            for i, name in enumerate(orders[p]):
                self.records.append(
                    self.run_op(spark, tracer, name, f"w{p}.{i}", check=(p == 0)))
        self.layer["session.warmup_s"] = time.perf_counter() - t0
        me = os.getpid()
        self.setup_s = process_age()
        jvm = tr.jvm_pid(me)
        peak = tr.PeakRss(jvm)
        cpu0, host0 = tr.tree_cpu(me), tr.host_cpu()
        t0 = time.perf_counter()
        for p in range(warm, warm + timed):
            for i, name in enumerate(orders[p]):
                # each probe costs about 1 s, so only the last pass has them
                self.records.append(self.run_op(
                    spark, tracer, name, f"t{p}.{i}", check=False, timed=True,
                    probe=(p == warm + timed - 1)))
                peak.sample()
        # the heap probes are the benchmark's own work: not billed to ops
        probes = [r for r in self.records if "heap_mb" in r]
        self.timed_wall = time.perf_counter() - t0 - sum(r["probe_s"] for r in probes)
        cpu1, host1 = tr.tree_cpu(me), tr.host_cpu()
        self.peak_rss_mb = peak.mb()
        self.cpu = {k: cpu1[k] - cpu0[k] - sum(r["probe_cpu"][k] for r in probes)
                    for k in cpu0}
        self.noise = tr.host_noise(host0, host1)
        tracer.uninstall()

    # ----------------------------------------------------------- report
    def timed(self) -> list[dict]:
        return [r for r in self.records if r.get("timed")]

    def tail(self) -> tuple[float, float, int]:
        """(value, percentile, n): the highest percentile that still has
        at least ten samples beyond it; the maximum when n <= 10."""
        walls = sorted(r["wall"] for r in self.timed())
        n = len(walls)
        idx = n - 11 if n > 10 else n - 1
        return walls[idx], 100.0 * (idx + 1) / n, n

    def end_to_end(self) -> dict:
        ops = self.timed()
        n = len(ops)
        value, _pct, _n = self.tail()
        return {
            "setup_s": (self.setup_s, "s"),
            "op_p50_s": (statistics.median(r["wall"] for r in ops), "s"),
            "op_tail_s": (value, "s"),
            "ops_per_s": (n / self.timed_wall, "1/s"),
            "cpu_s_per_op": (sum(self.cpu.values()) / n, "s"),
            "jvm_retained_heap_mb": (max(r["heap_mb"] for r in ops if "heap_mb" in r), "MB"),
            "ok_frac": (1 - self.n_failed() / len(self.records), "1"),
        }

    def per_layer(self, eventlog: dict | None) -> dict:
        ops = self.timed()
        n = len(ops)
        pipe_ops = ops if self.workload.kind == "pipeline" else []
        out: dict[str, tuple] = {}

        def per_op(key: str, total: float, unit: str) -> None:
            out[key] = (total / n, unit)

        def span_s(name: str) -> float:
            return sum(secs for r in ops for s, secs, _g in r["spans"] if s == name)

        def span_jobs(name: str) -> int:
            """Jobs in the span's groups (one per op; repeated calls share it)."""
            return sum(tr.inclusive_jobs(r["groups"], g) for r in ops
                       for g in {g for s, _secs, g in r["spans"] if s == name})

        for phase in ("queries.construct", "queries.execute"):
            per_op(f"{phase}_s", span_s(phase), "s")
            per_op(f"{phase}_jobs", span_jobs(phase), "count")
        for mod, attr in tr.OPERATORS:
            name = tr.operator_span(mod, attr)
            calls = sum(1 for r in ops for s in r["spans"] if s[0] == name) or 1
            out[f"{name}_s"] = (span_s(name) / calls, "s")
            out[f"{name}_jobs"] = (span_jobs(name) / calls, "count")
        test_s, test_jobs = span_s("registry.test"), span_jobs("registry.test")
        per_op("registry.materialize_s", sum(r["wall"] for r in pipe_ops) - test_s, "s")
        per_op("registry.materialize_jobs", sum(r["jobs"] for r in pipe_ops) - test_jobs, "count")
        per_op("registry.test_s", test_s, "s")
        per_op("registry.test_jobs", test_jobs, "count")
        per_op("registry.rows_written", sum(r["rows_written"] for r in ops), "count")
        for p in wl.PIPELINES:
            builds = [r for r in pipe_ops if r["name"] == p]
            k = len(builds) or 1
            out[f"models.{p}.build_s"] = (sum(r["wall"] for r in builds) / k, "s")
            out[f"models.{p}.jobs"] = (sum(r["jobs"] for r in builds) / k, "count")
        out["session.start_s"] = (self.layer["session.start_s"], "s")
        out["session.warmup_s"] = (self.layer["session.warmup_s"], "s")
        per_op("session.release_s", sum(r["release_s"] for r in ops), "s")
        per_op("session.persistent_rdds_per_op", sum(r["rdds"] for r in ops), "count")

        # Spark's own records, kept for the timed ops' groups and the
        # span groups nested in them ("t1.3/queries.construct/...").
        eventlog = eventlog or {"groups": {}, "jobs": []}
        timed = {r["group"]: r for r in ops}
        ev: dict[str, float] = {}
        for g, totals in eventlog["groups"].items():
            if g.split("/", 1)[0] in timed:
                for key, v in totals.items():
                    ev[key] = ev.get(key, 0) + v
        job_ms = 0.0
        by_op: dict[str, list] = {}
        for g, a, b in eventlog["jobs"]:
            r = timed.get((g or "").split("/", 1)[0])
            if r is not None:
                job_ms += b - a
                a, b = max(a, r["start_ms"]), min(b, r["end_ms"])
                if b > a:
                    by_op.setdefault(r["group"], []).append((a, b))
        covered_ms = sum(tr.union_ms(spans) for spans in by_op.values())
        per_op("spark.jobs", sum(r["jobs"] for r in ops), "count")
        for key in ("stages", "tasks", "failed_tasks"):
            per_op(f"spark.{key}", ev.get(key, 0), "count")
        per_op("spark.job_wall_s", job_ms / 1000, "s")
        per_op("spark.outside_jobs_s", sum(r["wall"] for r in ops) - covered_ms / 1000, "s")
        per_op("spark.executor_run_s", ev.get("run_ms", 0) / 1000, "s")
        per_op("spark.executor_cpu_s", ev.get("cpu_ns", 0) / 1e9, "s")
        per_op("spark.gc_s", ev.get("gc_ms", 0) / 1000, "s")
        per_op("spark.shuffle_bytes", ev.get("shuffle_bytes", 0), "bytes")
        per_op("spark.spill_bytes", ev.get("spill_bytes", 0), "bytes")
        for key in ("jvm", "driver_py", "pyworker"):
            per_op(f"proc.{key}_cpu_s", self.cpu[key], "s")
        out["proc.jvm_peak_rss_mb"] = (self.peak_rss_mb, "MB")
        e2e = self.end_to_end()
        out["traced.op_p50_s"] = e2e["op_p50_s"]
        out["traced.cpu_s_per_op"] = e2e["cpu_s_per_op"]
        return out

    def n_failed(self) -> int:
        return sum(1 for r in self.records if not r["ok"])

    def per_name(self, field: str) -> dict[str, list]:
        """One value of ``field`` per pass (warm included), by op name."""
        out: dict[str, list] = {}
        for r in self.records:
            out.setdefault(r["name"], []).append(r[field])
        return dict(sorted(out.items()))


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup in main


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "local_data_pipeline_spark")):
        print(f"perfbench: local_data_pipeline_spark not found in {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(HERE, "_run", f"{args.workload}-{os.getpid()}")
    configure_environment(run_dir, slots, bool(args.trace))
    run = Run(args, run_dir)
    try:
        run.execute()
        eventlog = None
        if run.traced:
            log_dir = os.path.join(run_dir, "eventlog")
            logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
            eventlog = tr.fold_eventlog(logs[0]) if logs else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = run.per_layer(eventlog) if run.traced else run.end_to_end()
    value, pct, n = run.tail()
    counts = run.per_name("jobs")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "slots": slots, "driver_mem": DRIVER_MEM,
        "warm_passes": WARM_PASSES, "timed_passes": run.workload.timed_passes,
        "seconds_arg": args.seconds,
        "setup_phases": {**run.setup_phases, "session_start_s": run.layer["session.start_s"],
                         "warm_passes_s": run.layer["session.warmup_s"]},
        "timed_ops": n, "timed_wall_s": run.timed_wall,
        "op_tail": {"value_s": value, "percentile": pct, "samples": n,
                    "samples_beyond": 10 if n > 10 else 0},
        "host": run.noise, "cpu_s": run.cpu,
        "job_counts": counts,
        "op_walls_s": run.per_name("wall"),
        "retained_heap_mb": {r["name"]: r["heap_mb"] for r in run.records if "heap_mb" in r},
        "jvm_peak_rss_mb": run.peak_rss_mb,
        "probe_s": sum(r.get("probe_s", 0) for r in run.records),
        "job_counts_repeat": all(len(set(v)) == 1 for v in counts.values()),
        "failures": run.failures,
        "metrics": {k: v[0] for k, v in metrics.items()},
    }
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
    if run.traced and os.path.exists(untraced):
        with open(untraced) as fh:
            plain = json.load(fh)["metrics"]
        detail["tracing_overhead"] = {
            k: {"untraced": plain[k], "traced": metrics[f"traced.{k}"][0],
                "ratio": metrics[f"traced.{k}"][0] / plain[k]}
            for k in ("op_p50_s", "cpu_s_per_op")}
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(detail, fh, indent=1)
    correct = not run.failures
    result = {
        "correct": correct,
        "attempted": len(run.records),
        "failed": run.n_failed(),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stderr.flush()
    print("perfbench-detail " + json.dumps(detail, separators=(",", ":")))
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
