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
    bench._warmup(spark)

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.plans_dir,
    )
    results: dict[str, list[float]] = {}
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
        reps = []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 3))
            release(spark)
        results[name] = reps
        print(f"PROF {name} reps={reps} warm_min={min(reps)}", flush=True)
    spark.stop()
    print("PROFILE_JSON " + json.dumps(results), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
