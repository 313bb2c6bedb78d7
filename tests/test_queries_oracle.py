"""The driver's correctness gate as a pytest: every declared query vs its
DuckDB oracle at sf0.001 (fast CI form; tools/check_oracle.py runs the
same comparison at sf0.01)."""

import pytest

from local_data_pipeline_spark.queries import QUERIES
from tools.check_oracle import check_query, duck_views

from conftest import SF_DIR


@pytest.fixture(scope="module")
def duck():
    return duck_views(SF_DIR)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    spec = QUERIES[name]
    ok, msg = check_query(spark, duck, spec.fn, spec.oracle, SF_DIR)
    assert ok, f"{name}: {msg}"


def test_approx_sketches_track_their_exact_twins(spark):
    """Since the round-8 graduation the query computes its exact twins
    and the within-bound flags itself — pin that every flag is 1 and
    that the exact columns match an independent recompute."""
    from pyspark.sql import functions as F

    from local_data_pipeline_spark.session import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    got = {
        r["l_returnflag"]: r
        for r in QUERIES["approx_sketch_stats"].fn(spark, SF_DIR).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for flag, e in exact.items():
        assert got[flag]["hll_ok"] == 1, flag
        assert got[flag]["p50_rank_ok"] == 1, flag
        assert got[flag]["n_parts_exact"] == e["parts"]
        assert abs(got[flag]["p50_price_exact"] - e["p50"]) <= 1e-6


def test_approx_percentiles_bounded_rank_error(spark):
    """The quantile sketch's guarantee is on RANK error (the returned
    value's true quantile position), not value error. Since the round-8
    oracle graduation the query computes the realized-rank check itself
    and emits one flag per quantile — pin that every flag is 1, that n
    matches an independent count, and that the exact percentiles are
    ordered (p50 <= p90 <= p99)."""
    from pyspark.sql import functions as F

    from local_data_pipeline_spark.session import load_table

    ev = load_table(spark, SF_DIR, "events")
    got = {
        r["event_type"]: r
        for r in QUERIES["approx_percentiles_events"].fn(spark, SF_DIR).collect()
    }
    counts = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(got) == set(counts)
    for t, r in got.items():
        assert r["n"] == counts[t]
        assert r["p50_rank_ok"] == 1, t
        assert r["p90_rank_ok"] == 1, t
        assert r["p99_rank_ok"] == 1, t
        assert r["p50_exact"] <= r["p90_exact"] <= r["p99_exact"], t


def test_order_chain_walk_matches_window_formulation(spark):
    """The recursive-CTE walk must agree row-for-row with the standard
    window formulation (running sum over the first 8 orders per
    customer) — same seq, same running spend to 6 decimals."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from local_data_pipeline_spark.session import load_table

    got = {
        (r["custkey"], r["orderkey"]): (r["seq"], r["run_spend"])
        for r in QUERIES["order_chain_walk"].fn(spark, SF_DIR).collect()
    }

    o = load_table(spark, SF_DIR, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    expect = (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            "o_totalprice",
            F.row_number().over(w).alias("seq"),
            F.round(
                F.sum("o_totalprice").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
                6,
            ).alias("run_spend"),
        )
        .filter(F.col("seq") <= 8)
        .collect()
    )
    assert len(expect) == len(got)
    for r in expect:
        seq, spend = got[(r["custkey"], r["orderkey"])]
        assert seq == r["seq"]
        assert abs(spend - r["run_spend"]) < 1e-6
