"""Registry data tests: exact violation counts per model and test, and one
data-test action per ``build``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from local_data_pipeline_spark.registry import (
    DataTestsFailed,
    Registry,
    accepted_values,
    no_rows_where,
    not_null,
    relationships,
    unique,
)

# id, k, a, b, status, pid — two NULL keys k, a duplicated (a, b) pair,
# a NULL status, a status outside the accepted set, orphan pid 99 (twice)
# and a NULL pid that a relationships test must ignore
_ROWS = [
    (1, None, 1, 1, "ok", 10),
    (2, None, 1, 1, "bad", 99),
    (3, "x", 1, 2, None, None),
    (4, "y", 2, 2, "ok", 98),
    (5, "z", 3, 3, "ok", 99),
]
_SCHEMA = "id int, k string, a int, b int, status string, pid int"


def _tests(reg: Registry):
    return (
        not_null("status"),
        accepted_values("status", ["ok"]),
        no_rows_where("no_late_ids", "id > 2"),
        unique("k"),
        unique(["a", "b"]),
        relationships("pid", lambda: reg.ref("parent"), "pk"),
    )


def _names(counts: list[int]) -> dict[str, int]:
    names = ["not_null(status)", "accepted_values(status)", "no_late_ids",
             "unique(k)", "unique(a,b)", "relationships(pid->pk)"]
    return dict(zip(names, counts))


def _every_kind_registry(spark, suffix: str) -> Registry:
    reg = Registry()
    reg.source("src", spark.createDataFrame(_ROWS, _SCHEMA))
    # duplicate parent keys must not matter to the anti join
    reg.source("parent", spark.createDataFrame([(10,), (98,), (10,)], "pk int"))

    @reg.model(f"reg_view_{suffix}", deps=["src", "parent"], tests=_tests(reg))
    def _view(r, s):
        return r.ref("src")

    @reg.model(f"reg_table_{suffix}", deps=["src", "parent"],
               materialization="table", tests=_tests(reg))
    def _table(r, s):
        return r.ref("src").filter("id <= 4")

    @reg.model(f"reg_incr_{suffix}", deps=["src", "parent"],
               materialization="incremental", incremental_col="id",
               tests=_tests(reg))
    def _incr(r, s):
        src = r.ref("src")
        return src.union(src.filter("id = 5"))

    return reg


def test_build_reports_exact_violation_counts(spark):
    reg = _every_kind_registry(spark, "counts")
    with pytest.raises(DataTestsFailed) as info:
        reg.build(spark)
    got = {r.model: r.test_failures for r in info.value.results}
    expected = {
        "src": {},
        "parent": {},
        "reg_view_counts": _names([1, 1, 3, 1, 1, 2]),
        "reg_table_counts": _names([1, 1, 2, 1, 1, 1]),
        "reg_incr_counts": _names([1, 1, 4, 2, 2, 3]),
    }
    assert got == expected
    # the counts keep the declared test order
    assert [list(v) for v in got.values()] == [list(v) for v in expected.values()]
    message = str(info.value)
    assert isinstance(info.value, AssertionError)
    for model, counts in expected.items():
        for test, n in counts.items():
            assert f"{model}:{test}({n} violations)" in message
    # the tables were written before the tests ran
    assert spark.table("reg_table_counts").count() == 4
    assert spark.table("reg_incr_counts").count() == 6


def test_single_test_entry_points_match_build(spark):
    """``DataTest.check``/``run`` evaluate one test alone, with the same
    expression ``build`` folds."""
    reg = _every_kind_registry(spark, "single")
    view = reg.compute(spark, "reg_view_single")
    assert [t.check(view) for t in _tests(reg)] == [1, 1, 3, 1, 1, 2]
    assert [t.run(view) for t in _tests(reg)] == [1, 1, 3, 1, 1, 2]


def _count_actions(monkeypatch) -> list[str]:
    """Record every collect/count issued on a DataFrame (first, take and
    head go through collect)."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls: list[str] = []
    for attr in ("collect", "count"):
        orig = getattr(DataFrame, attr)

        def wrapped(self, *a, _orig=orig, _attr=attr, **k):
            calls.append(_attr)
            return _orig(self, *a, **k)

        monkeypatch.setattr(DataFrame, attr, wrapped)
    return calls


def test_build_runs_every_data_test_as_one_action(spark, monkeypatch):
    reg = Registry()
    reg.source("src", spark.createDataFrame(_ROWS, _SCHEMA))
    reg.source("parent", spark.createDataFrame([(10,), (98,), (99,)], "pk int"))

    @reg.model("reg_one_a", deps=["src"], tests=(not_null("id"), unique("id")))
    def _a(r, s):
        return r.ref("src")

    @reg.model("reg_one_b", deps=["reg_one_a", "parent"], materialization="table",
               tests=(accepted_values("status", ["ok", "bad"]),
                      relationships("pid", lambda: reg.ref("parent"), "pk")))
    def _b(r, s):
        return r.ref("reg_one_a").withColumn("id2", F.col("id") * 2)

    @reg.model("reg_one_c", deps=["reg_one_b"])
    def _c(r, s):
        return r.ref("reg_one_b").select("id")

    calls = _count_actions(monkeypatch)
    results = reg.build(spark)
    assert calls == ["collect"]
    assert all(r.ok for r in results)
    assert results[-1].test_failures == {}


def test_build_without_tests_fires_no_test_action(spark, monkeypatch):
    reg = Registry()
    reg.source("src", spark.createDataFrame(_ROWS, _SCHEMA))

    @reg.model("reg_untested", deps=["src"], materialization="table")
    def _m(r, s):
        return r.ref("src")

    calls = _count_actions(monkeypatch)
    results = reg.build(spark)
    assert calls == []
    assert results[-1].rows == 5 and results[-1].test_failures == {}
