"""Profiling harness: run named queries with the EXACT bench
session config, timing each of ``--reps`` warm repetitions via the noop
sink (guide §1.4), and optionally dump .explain("formatted") to
plans/<round>/<query>_<tag>.txt (guide §1 / §7.2).

Usage:
    python tools/profile_query.py [--reps N] [--explain TAG] query [query ...]

Timing methodology matches bench.py exactly (same session, same warm-up
prefix, same ``session.release`` between queries) so the
numbers are comparable to BENCH_local.json entries; the first rep
approximates the bench's one-pass number, later reps are warm.

Each rep runs under its own job group (``<query> rep<i>``) and reports
the Spark jobs it fired, how many classes Janino compiled and the compile
time it took (deltas of Spark's CodegenMetrics compile-time histogram
count and of CodeGenerator's compile-time total), so a warm rep that
still compiles shows up without a re-run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from local_data_pipeline_spark.queries import QUERIES  # noqa: E402
from local_data_pipeline_spark.session import get_spark, release  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def compile_totals(spark) -> tuple[int, int]:
    """(classes compiled, compile nanoseconds) since the JVM started.
    Both are bumped by the same ``CodeGenerator.doCompile`` call: the
    histogram's count per class, ``compileTime`` by each duration."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return n.getCount(), gen.compileTime()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--explain",
        default=None,
        help="dump .explain('formatted') to plans/<round>/<query>_<TAG>.txt",
    )
    ap.add_argument(
        "--plans-dir", default="r12", help="subdirectory of plans/ for --explain"
    )
    args = ap.parse_args()
    for name in args.queries:
        if name not in QUERIES:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2

    import bench

    spark = get_spark(app_name="profile", shuffle_partitions=8)
    sc = spark.sparkContext
    bench._warmup(spark)

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.plans_dir,
    )
    results: dict[str, dict[str, list]] = {}
    for name in args.queries:
        spec = QUERIES[name]
        if args.explain is not None:
            os.makedirs(plans_dir, exist_ok=True)
            df = spec.fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plans_dir, f"{name}_{args.explain}.txt"), "w"
            ) as fh:
                fh.write(plan)
        reps, jobs, compiles, compile_ms = [], [], [], []
        for i in range(args.reps):
            group = f"{name} rep{i}"
            sc.setJobGroup(group, group)
            n0, ns0 = compile_totals(spark)
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 3))
            n1, ns1 = compile_totals(spark)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            compiles.append(n1 - n0)
            compile_ms.append(round((ns1 - ns0) / 1e6, 1))
            release(spark)
        sc.setLocalProperty("spark.jobGroup.id", None)
        results[name] = {
            "reps": reps,
            "jobs": jobs,
            "compiles": compiles,
            "compile_ms": compile_ms,
        }
        print(
            f"PROF {name} reps={reps} warm_min={min(reps)} jobs={jobs} "
            f"compiles={compiles} compile_ms={compile_ms}",
            flush=True,
        )
    spark.stop()
    print("PROFILE_JSON " + json.dumps(results), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
