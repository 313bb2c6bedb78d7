#!/usr/bin/env python3
"""Regenerate the committed expected outputs in ``perfbench/expected/``.

    python3 perfbench/make_expected.py

- ``oracle_digests.json``: for every benchmarked catalog query, the
  digest of its DuckDB oracle twin (``QuerySpec.oracle``) over the
  benchmark warehouse (``gen_data.py`` at its fixed scale and seed).
- ``pipeline_rows.json``: rows written per table model by one build of
  each registry pipeline.

It also runs every query on Spark and fails when a Spark digest differs
from its oracle digest, so a committed digest is known to be reachable.
Run it again whenever ``gen_data.py`` or the catalog's results change.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_data  # noqa: E402
import run as bench_run  # noqa: E402
import workloads as wl  # noqa: E402


def main() -> int:
    run_dir = os.path.join(HERE, "_run", f"expected-{os.getpid()}")
    bench_run.configure_environment(run_dir, min(bench_run.MAX_SLOTS, os.cpu_count()), False)
    try:
        return build(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def build(run_dir: str) -> int:
    import duckdb

    from local_data_pipeline_spark.queries import QUERIES
    from local_data_pipeline_spark.session import TABLES, get_spark

    data = os.path.join(run_dir, "data")
    gen_data.generate(data)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    digests: dict = {"_data": {"scale": gen_data.SCALE, "seed": gen_data.DATA_SEED}}
    for name in wl.ITERATIVE + wl.SCAN:
        t0 = time.perf_counter()
        res = con.sql(QUERIES[name].oracle)
        digests[name] = checks.digest([d[0] for d in res.description], res.fetchall())
        print(f"oracle {name}: {digests[name]['rows']} rows "
              f"[{time.perf_counter() - t0:.1f}s]", flush=True)

    spark = get_spark(app_name="perfbench-expected",
                      warehouse_dir=os.path.join(run_dir, "warehouse"))
    bad = []
    try:
        for name in wl.ITERATIVE + wl.SCAN:
            rows, cols, _fp = wl.query_op(spark, name, data, lambda _n: contextlib.nullcontext(), collect=True)
            why = checks.compare_digest(name, checks.digest(cols, rows), digests)
            print(f"spark  {name}: {'ok' if why is None else why}", flush=True)
            if why:
                bad.append(name)
            bench_run.release(spark)
        swell_path = os.path.join(run_dir, "swell_raw.parquet")
        wl.write_swell_raw(swell_path, seed=0)
        pipeline_rows = {}
        for name, reg in wl.pipeline_registries(data, swell_path).items():
            results = reg.build(spark)
            pipeline_rows[name] = {r.model: r.rows for r in results if r.rows is not None}
            print(f"pipeline {name}: {pipeline_rows[name]}", flush=True)
            bench_run.release(spark)
    finally:
        bench_run.stop_spark(spark)
    if bad:
        print(f"Spark differs from the oracle on {bad}; nothing written")
        return 1
    os.makedirs(os.path.dirname(checks.ORACLE_DIGESTS), exist_ok=True)
    for path, obj in ((checks.ORACLE_DIGESTS, digests), (checks.PIPELINE_ROWS, pipeline_rows)):
        with open(path, "w") as fh:
            json.dump(obj, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
