"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet (default sf0.01), then compares row count,
sorted column names, and order-insensitive values.

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from local_data_pipeline_spark.session import TABLES, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _key(row):
    return tuple((v is None, str(type(v)), str(v)) for v in row)


def compare(spark_rows, spark_cols, duck_rows, duck_cols):
    """Return (ok, message) mimicking the driver: count + schema + values."""
    if len(spark_rows) != len(duck_rows):
        return False, f"row count {len(spark_rows)} != {len(duck_rows)}"
    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = sorted((tuple(_norm(r[i]) for i in order) for r in spark_rows), key=_key)
    d = sorted((tuple(_norm(r[i]) for i in dorder) for r in duck_rows), key=_key)
    for i, (a, b) in enumerate(zip(s, d)):
        if a != b:
            return False, f"first value mismatch at sorted-row {i}:\n  spark={a}\n  duck ={b}"
    return True, f"{len(spark_rows)} rows"


def duck_views(sf_dir: str):
    """A DuckDB connection with every synthetic table as a view over sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_query(spark, con, fn, oracle: str, sf_dir: str):
    """Run one query on Spark and its twin on DuckDB over sf_dir and
    compare them: (ok, message). Errors from either engine propagate."""
    df = fn(spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    res = con.sql(oracle)
    return compare(rows, df.columns, res.fetchall(), [d[0] for d in res.description])


def main() -> int:
    only = set(sys.argv[1:])
    # SPARK_GRAFT_ORACLE_SHUFFLE simulates a driver-owned session with a
    # different parallelism (e.g. Spark's default 200) — results must be
    # identical at ANY shuffle width (exact-decimal sums, total orders).
    shuffle_env = os.environ.get("SPARK_GRAFT_ORACLE_SHUFFLE")
    spark = get_spark(
        app_name="check_oracle",
        shuffle_partitions=int(shuffle_env) if shuffle_env else None,
    )
    con = duck_views(SF_DIR)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # unknown names (typos, or flags this tool doesn't take, like a
    # misremembered --sf: the scale dir is SPARK_GRAFT_ORACLE_SF_DIR)
    # must error, not silently filter to nothing / a subset
    unknown = sorted(only - set(qs))
    if unknown:
        print(
            f"ERROR: not query names: {unknown}\n"
            "(scale dir is the SPARK_GRAFT_ORACLE_SF_DIR env var; "
            "shuffle width is SPARK_GRAFT_ORACLE_SHUFFLE)"
        )
        return 2
    n_pass = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            ok, msg = check_query(spark, con, fn, oracles[name], SF_DIR)
        except Exception as e:
            ok, msg = False, f"error: {str(e)[:200]}"
        print(f"{'PASS' if ok else 'FAIL'}  {name:36s} {msg}  [{time.perf_counter() - t0:.1f}s]")
        if ok:
            n_pass += 1
        else:
            failures.append(name)
    print(f"\n{n_pass} pass, {len(failures)} fail" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
