"""One session builder and one release sweep: the conf map every harness
gets, the guarded ``release``, job tags across ``_overlap``'s threads, and
a scan that keeps new hand-built sessions and sweeps out of the repo."""

import ast
import os
import warnings
from types import SimpleNamespace

import pytest

from local_data_pipeline_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_session_conf(monkeypatch):
    """bench.py gets the session it always had (master, app name, 16g heap,
    8 shuffle partitions, locality.wait=0, UTC, Arrow, nanosAsLong, no UI),
    minus three entries that only restated Spark's defaults."""
    import bench

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    calls = []

    class _Stop(Exception):
        pass

    def fake_get_spark(**kwargs):
        calls.append(kwargs)
        raise _Stop

    monkeypatch.setattr(bench, "get_spark", fake_get_spark)
    with pytest.raises(_Stop):
        bench.main()
    assert calls == [{"app_name": "bench", "shuffle_partitions": 8}]
    assert session.session_conf(**calls[0]) == {
        "spark.master": "local[4]",
        "spark.app.name": "bench",
        "spark.driver.memory": "16g",
        "spark.sql.shuffle.partitions": "8",
        "spark.locality.wait": "0",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
    }


def test_dropped_confs_are_spark_defaults(spark):
    """AQE, its partition coalescing and whole-stage codegen are left at
    Spark's defaults, which are on."""
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.codegen.wholeStage",
    ):
        assert spark.conf.get(key) == "true", key


def test_release_drops_cached_and_checkpointed_blocks(spark):
    session.release(spark)
    spark.range(100).createOrReplaceTempView("release_probe")
    spark.catalog.cacheTable("release_probe")
    spark.table("release_probe").count()
    spark.range(100).localCheckpoint(eager=True)
    assert session.release(spark) == 1  # the checkpoint; the cache is SQL-level
    assert not spark.catalog.isCached("release_probe")
    assert session.release(spark) == 0


def test_release_warns_once_and_never_raises():
    no_handle = SimpleNamespace(  # a session without the private _jsc handle
        catalog=SimpleNamespace(clearCache=lambda: None), sparkContext=object()
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("default")  # the interpreter's own setting
        assert session.release(no_handle) == 0
        assert session.release(no_handle) == 0
    assert len(caught) == 1
    assert "persistent-RDD sweep unavailable" in str(caught[0].message)


def test_overlap_threads_inherit_job_tags(spark):
    from local_data_pipeline_spark.queries import _overlap

    spark.addTag("t")
    try:
        tags = _overlap(spark, spark.getTags, spark.getTags)
    finally:
        spark.removeTag("t")
    assert len(tags) == 2
    assert all("t" in t for t in tags), tags


def _warmup_lines(path):
    tree = ast.parse(open(path).read())
    fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_warmup"
    )
    return range(fn.lineno, fn.end_lineno + 1)


def test_no_second_session_builder_or_rdd_sweep():
    """``SparkSession.builder`` lives only in session.py; the private
    persistent-RDD sweep only there, in bench's frozen warm-up and in the
    benchmark's own code under perfbench/."""
    this = os.path.abspath(__file__)
    bench = os.path.join(ROOT, "bench.py")
    frozen = _warmup_lines(bench)
    home = os.path.join(ROOT, "local_data_pipeline_spark", "session.py")
    bad = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for fname in filenames:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or path in (this, home):
                continue
            rel = os.path.relpath(path, ROOT)
            for i, line in enumerate(open(path, encoding="utf-8"), 1):
                if "SparkSession.builder" in line:
                    bad.append(f"{rel}:{i}: SparkSession.builder")
                if "getPersistentRDDs" in line and not (
                    rel.startswith("perfbench" + os.sep)
                    or (path == bench and i in frozen)
                ):
                    bad.append(f"{rel}:{i}: getPersistentRDDs")
    assert not bad, "use session.get_spark / session.release:\n" + "\n".join(bad)
