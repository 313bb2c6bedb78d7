"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The first group needs no Spark. The rest start Spark (about seven
minutes in all): the retained-heap probe must follow data the JVM
holds, a tampered committed digest must make a benchmark run fail, and
two runs of each workload must report identical job counts per op.
"""

from __future__ import annotations

import copy
import datetime as dt
import decimal
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen_data  # noqa: E402
import probes  # noqa: E402
import workloads as wl  # noqa: E402


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None)]
    a = checks.digest(["k", "s", "v"], rows)
    b = checks.digest(["v", "k", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert a == b


def test_digest_equates_values_the_oracle_gate_equates():
    spark_row = [(3, decimal.Decimal("1.50"), dt.datetime(2024, 1, 1), -0.0)]
    duck_row = [(3.0, 1.5, dt.datetime(2024, 1, 1), 0.0)]
    assert checks.digest(list("abcd"), spark_row) == checks.digest(list("abcd"), duck_row)


def test_digest_catches_a_changed_value():
    rows = [(1, 2.5), (2, 3.5)]
    assert checks.digest(["a", "b"], rows) != checks.digest(["a", "b"], [(1, 2.5), (2, 3.25)])


def test_committed_digest_matches_oracle_and_tampering_is_caught(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from local_data_pipeline_spark.queries import QUERIES

    data = str(tmp_path / "data")
    gen_data.generate(data)
    con = duckdb.connect()
    for t in ("nation", "region", "orders", "lineitem", "customer", "supplier", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    name = "q12_shipband_priority"
    res = con.sql(QUERIES[name].oracle)
    got = checks.digest([d[0] for d in res.description], res.fetchall())
    committed = checks.load(checks.ORACLE_DIGESTS)
    assert checks.compare_digest(name, got, committed) is None
    tampered = copy.deepcopy(committed)
    sha = tampered[name]["sha256"]
    tampered[name]["sha256"] = ("0" if sha[0] != "0" else "1") + sha[1:]
    assert "sha256" in checks.compare_digest(name, got, tampered)
    tampered[name]["rows"] += 1
    assert "rows" in checks.compare_digest(name, got, tampered)


def test_generator_is_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen_data.generate(str(a))
    gen_data.generate(str(b))
    for f in sorted(os.listdir(a)):
        assert (a / f).read_bytes() == (b / f).read_bytes(), f


def test_pass_orders_follow_the_seed():
    assert wl.pass_orders(wl.SCAN, 3, 7) == wl.pass_orders(wl.SCAN, 3, 7)
    assert wl.pass_orders(wl.SCAN, 3, 7) != wl.pass_orders(wl.SCAN, 3, 8)
    assert all(sorted(p) == sorted(wl.SCAN) for p in wl.pass_orders(wl.SCAN, 3, 7))


def test_union_and_host_noise():
    assert probes.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    before = [100, 0, 50, 800, 10, 0, 0, 40, 0, 0]
    after = [200, 0, 100, 1600, 20, 0, 0, 80, 0, 0]
    noise = probes.host_noise(before, after)
    assert noise["steal_frac"] == pytest.approx(40 / 1000)
    assert noise["iowait_frac"] == pytest.approx(10 / 1000)


def test_fold_eventlog(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "t1.0"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "t1.0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 7, "Executor CPU Time": 5_000_000,
                          "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "TaskKilled"}, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1250},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    folded = probes.fold_eventlog(str(path))
    g = folded["groups"]["t1.0"]
    assert (g["stages"], g["tasks"], g["failed_tasks"]) == (1, 2, 1)
    assert (g["run_ms"], g["cpu_ns"], g["shuffle_bytes"]) == (7, 5_000_000, 64)
    assert folded["jobs"] == [("t1.0", 1000, 1250)]


# ------------------------------------------------------ full benchmark runs
def _checkout(tmp_path):
    """A copy of the files the benchmark needs, like the checkout it runs in."""
    co = tmp_path / "checkout"
    shutil.copytree(os.path.join(ROOT, "local_data_pipeline_spark"),
                    co / "local_data_pipeline_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copytree(HERE, co / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "_run", "results"))
    return co


#: Ops whose job count is known to vary between passes, with the most it
#: varies by. kcore_copurchase_parts runs 34 or 35 jobs, both ways round
#: within one run, with adaptive query execution on; the benchmark
#: reports it, it does not hide it.
KNOWN_VARYING = {"kcore_copurchase_parts": 1}


def test_retained_heap_follows_held_data(tmp_path):
    """The end-to-end memory metric moves when the program keeps more
    live data, and falls back when it lets the data go."""
    script = f"""
import json, sys
sys.path[:0] = [{HERE!r}, {ROOT!r}]
import run, probes
run.configure_environment({str(tmp_path / "run")!r}, 2, False)
from pyspark import StorageLevel
from local_data_pipeline_spark.session import get_spark
spark = get_spark(app_name="heap-probe", warehouse_dir={str(tmp_path / "wh")!r})
try:
    base = probes.retained_heap_mb(spark)
    df = spark.range(1_000_000).selectExpr("id", "sha2(CAST(id AS STRING), 512) AS s")
    df = df.persist(StorageLevel.MEMORY_ONLY)
    df.count()
    held = probes.retained_heap_mb(spark)
    df.unpersist(blocking=True)
    freed = probes.retained_heap_mb(spark)
    print(json.dumps([base, held, freed]))
finally:
    run.stop_spark(spark)
"""
    p = subprocess.run([sys.executable, "-c", script], capture_output=True,
                       text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    base, held, freed = json.loads(p.stdout.strip().splitlines()[-1])
    # a million 128-character strings: well over 100 MB while cached
    assert held - base > 100, (base, held, freed)
    assert freed - base < (held - base) / 4, (base, held, freed)


def _bench(co, workload: str, seed: int):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0"],
        cwd=co, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-2].split(" ", 1)[1]), json.loads(lines[-1])


def test_tampered_digest_fails_the_run(tmp_path):
    co = _checkout(tmp_path)
    path = co / "perfbench" / "expected" / "oracle_digests.json"
    digests = json.loads(path.read_text())
    sha = digests["q9_product_profit"]["sha256"]
    digests["q9_product_profit"]["sha256"] = ("0" if sha[0] != "0" else "1") + sha[1:]
    path.write_text(json.dumps(digests))
    code, detail, result = _bench(co, "scan_queries", seed=1)
    assert code != 0
    assert result["correct"] is False and result["failed"] >= 1
    assert result["metrics"]["ok_frac"]["value"] < 1
    assert any("q9_product_profit" in f for f in detail["failures"])


@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
def test_job_counts_repeat_exactly_between_runs(tmp_path, workload):
    co = _checkout(tmp_path)
    code_a, a, _ = _bench(co, workload, seed=1)
    code_b, b, _ = _bench(co, workload, seed=2)
    assert code_a == code_b == 0
    assert sorted(a["job_counts"]) == sorted(b["job_counts"]) == sorted(
        wl.WORKLOADS[workload].ops)
    for op, counts in a["job_counts"].items():
        seen = counts + b["job_counts"][op]  # every pass of both runs
        assert max(seen) - min(seen) <= KNOWN_VARYING.get(op, 0), (op, seen)
