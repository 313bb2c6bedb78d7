"""Plan-quality pins: the scale properties we designed for, as assertions.

A failure here means a refactor changed the PHYSICAL plan for the worse
(dropped pushdown, broadcast became shuffle, extra exchange) even if the
results are still correct.
"""

import os

import pytest

from local_data_pipeline_spark.plans.inspect import (
    broadcast_join_count,
    has_pushed_filter,
    physical_plan,
    read_schemas,
    shuffle_exchange_count,
    uses_take_ordered,
    uses_window_group_limit,
)
from local_data_pipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _df(spark, name):
    return QUERIES[name].fn(spark, SF)


def test_q1_filter_and_columns_reach_the_scan(spark):
    df = _df(spark, "q1_pricing_summary")
    assert has_pushed_filter(df, "l_shipdate")
    # projection pruning: scan must NOT read join keys it doesn't need
    (schema,) = read_schemas(df)
    assert "l_orderkey" not in schema and "l_partkey" not in schema


def test_q5_star_join_broadcasts_all_dims(spark):
    df = _df(spark, "q5_region_revenue")
    assert broadcast_join_count(df) == 4  # customer, nation, region + orders side
    # fact scan + final agg only: at most 2 shuffle exchanges (agg + AQE reads)
    assert shuffle_exchange_count(df) <= 2


def test_q3_orders_filter_pushed_and_broadcast(spark):
    df = _df(spark, "q3_shipping_priority")
    assert has_pushed_filter(df, "o_orderdate")
    assert has_pushed_filter(df, "l_shipdate")
    assert broadcast_join_count(df) >= 1
    assert uses_take_ordered(df)


def test_top10_avoids_global_sort(spark):
    assert uses_take_ordered(_df(spark, "top10_orders_by_price"))


def test_flagship_window_has_partial_top_k_and_one_shuffle(spark):
    df = _df(spark, "daily_max_event")
    assert uses_window_group_limit(df)  # rank<=1 applied map-side pre-shuffle
    assert shuffle_exchange_count(df) == 1  # exactly the (dt,event_type) hash


def test_semi_anti_joins_broadcast(spark):
    assert broadcast_join_count(_df(spark, "semi_join_customers_with_orders")) >= 1
    assert broadcast_join_count(_df(spark, "anti_join_customers_without_orders")) >= 1


def test_join_hints_change_physical_strategy(spark):
    """Join strategy hints: the engine exposes Catalyst's full join-
    strategy surface (broadcast/merge/shuffle_hash)."""
    from local_data_pipeline_spark.plans.inspect import count_op
    from local_data_pipeline_spark.session import load_table

    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders")
    merge = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert count_op(merge, "SortMergeJoin") >= 1
    shash = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert count_op(shash, "ShuffledHashJoin") >= 1
    bcast = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
    assert count_op(bcast, "BroadcastHashJoin") >= 1


def test_q6_predicates_reach_scan_no_join(spark):
    """Q6: all four predicates push to the parquet scan; the plan is
    scan -> partial agg -> single exchange -> final agg, nothing else."""
    df = _df(spark, "q6_forecast_revenue")
    assert has_pushed_filter(df, "l_shipdate")
    assert has_pushed_filter(df, "l_discount")
    assert has_pushed_filter(df, "l_quantity")
    (schema,) = read_schemas(df)
    assert "l_orderkey" not in schema  # only the 4 filter + 2 agg columns
    assert broadcast_join_count(df) == 0
    assert shuffle_exchange_count(df) <= 1


def test_q8_seven_table_join_broadcasts_all_dims(spark):
    """Q8: every dimension (part, supplier, customer, nation x2, region)
    broadcasts; the only shuffles belong to the fact-fact join + agg."""
    df = _df(spark, "q8_market_share")
    assert broadcast_join_count(df) >= 5
    assert has_pushed_filter(df, "p_type")
    assert has_pushed_filter(df, "r_name")


def test_q10_top20_avoids_global_sort(spark):
    df = _df(spark, "q10_returned_items")
    assert uses_take_ordered(df)
    assert has_pushed_filter(df, "l_returnflag")
    assert has_pushed_filter(df, "o_orderdate")


def test_q19_or_predicate_derives_pushable_filters(spark):
    """Q19: Catalyst extracts scan-level filters from the OR-of-ANDs
    (brand IN-list on part; quantity range on lineitem) instead of
    evaluating the whole disjunction only post-join."""
    df = _df(spark, "q19_disjunctive_predicate_revenue")
    assert has_pushed_filter(df, "p_brand")
    assert has_pushed_filter(df, "l_quantity")
    assert broadcast_join_count(df) >= 1


def test_range_join_is_equi_not_nested_loop(spark):
    """The bucketed range join must compile to a hash-partitionable
    equi-join on (key, bucket) — never BroadcastNestedLoopJoin."""
    from local_data_pipeline_spark.plans.inspect import count_op

    df = _df(spark, "range_join_purchases_in_sessions")
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert (
        count_op(df, "SortMergeJoin")
        + count_op(df, "ShuffledHashJoin")
        + count_op(df, "BroadcastHashJoin")
        >= 1
    )


def test_stratified_sample_is_scan_side(spark):
    """Hash sampling must stay a scan-side predicate: no shuffle, no join."""
    df = _df(spark, "stratified_sample_documents")
    assert shuffle_exchange_count(df) == 0
    assert broadcast_join_count(df) == 0


def test_q2_magic_set_scans_lineitem_once(spark):
    """q2's decorrelated min must not aggregate the fact table twice:
    exactly one lineitem scan (the filtered-part join sits below the
    aggregate, the per-part min is a window over it)."""
    df = _df(spark, "q2_min_cost_supplier")
    schemas = read_schemas(df)
    assert sum("l_extendedprice" in s for s in schemas) == 1


def test_decontaminate_eval_side_is_broadcast(spark):
    """Decontamination joins the 100 TB corpus against the bounded eval
    shingle set: the eval side must broadcast so the corpus gram stream
    is never shuffled before the join — the only exchanges are the eval
    distinct and the post-join survivor counts (3 total)."""
    df = _df(spark, "decontaminate_documents")
    assert broadcast_join_count(df) == 1
    assert shuffle_exchange_count(df) == 3


def test_q21_single_pass_over_lineitem(spark):
    """Q21's EXISTS + NOT-EXISTS pair must collapse into one fact pass
    (window distinct-supplier counts), not three lineitem scans: one
    lineitem read, no sort-merge self-joins."""
    df = _df(spark, "q21_suppliers_kept_waiting")
    schemas = read_schemas(df)
    assert sum("l_shipdate" in s for s in schemas) == 1


def test_q4_exists_becomes_broadcast_semi_join(spark):
    """Q4's correlated EXISTS must decorrelate to one broadcast semi join
    with the lag predicate as join condition; the quarter filter reaches
    the orders scan."""
    df = _df(spark, "q4_order_priority_checking")
    assert broadcast_join_count(df) == 1
    assert has_pushed_filter(df, "o_orderdate")
    assert shuffle_exchange_count(df) <= 1  # only the final agg


def test_q20_nested_ins_are_broadcast_semi_joins_one_fact_pass(spark):
    """Q20's nested INs must collapse to two broadcast semi joins around a
    single lineitem pass (part filter prunes scan-side, supplier joins
    the tiny surviving key set)."""
    df = _df(spark, "q20_potential_part_promotion")
    assert broadcast_join_count(df) == 2
    assert has_pushed_filter(df, "l_shipdate")
    schemas = read_schemas(df)
    assert sum("l_quantity" in s for s in schemas) == 1


def test_distributed_ntile_has_no_single_partition_stage(spark):
    """The scalable ntile must never funnel the table through one task:
    exactly the range-partition exchange, zero SinglePartition stages."""
    df = _df(spark, "ntile_customer_value_deciles")
    assert shuffle_exchange_count(df) == 1  # the repartitionByRange
    assert "SinglePartition" not in physical_plan(df)


def test_vocab_coverage_orders_via_top_k(spark):
    """Top-100 selection must be TakeOrderedAndProject (partial per-task
    top-k), not a global sort; the running-sum window then only ever sees
    the 100 surviving rows."""
    df = _df(spark, "vocab_coverage_curve")
    assert uses_take_ordered(df)


def test_value_change_intervals_single_exchange(spark):
    """Gaps-and-islands: the lag window, the running sum, and the final
    aggregate all key on user_id — one shuffle feeds all three."""
    df = _df(spark, "value_change_intervals_events")
    assert shuffle_exchange_count(df) == 1


def test_segment_dedup_two_exchanges(spark):
    """Span dedup: explode is map-side; only the segment-text window and
    the per-doc rollup shuffle."""
    df = _df(spark, "segment_dedup_documents")
    assert shuffle_exchange_count(df) <= 2


def test_lateral_topk_decorrelates_to_window_plan(spark):
    """The LATERAL ORDER BY/LIMIT subquery must decorrelate into the
    window-rank plan (map-side WindowGroupLimit, broadcast join with the
    outer side) — never a per-outer-row nested loop."""
    df = _df(spark, "lateral_top2_customers_per_nation")
    plan = physical_plan(df)
    assert uses_window_group_limit(df)
    assert broadcast_join_count(df) >= 1
    assert "NestedLoop" not in plan
    assert shuffle_exchange_count(df) <= 1


def test_aqe_splits_skewed_join_partition(spark):
    """Skewed-key robustness, the built-in path: when one join key holds
    half the rows, AQE's skew-join optimization must split the hot
    shuffle partition across tasks (visible as SortMergeJoin(skew=true)
    with an 'AQEShuffleRead ... skewed' child) instead of serializing the
    whole key through one task. Thresholds are lowered to make the tiny
    test input register as skewed; on a cluster the defaults (256 MB /
    factor 5) do the same against real data. The salted variants
    (operators/topk.py salted_top1) remain the manual fallback for
    aggregations, where AQE skew handling does not apply."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") < 100_000, 0)
            .otherwise((F.col("id") % 1000) + 1)
            .alias("k"),
            F.concat(F.lit("x" * 50), F.col("id")).alias("payload"),
        )
        right = spark.range(0, 1001).select(
            F.col("id").alias("k"),
            F.concat(F.lit("dim"), F.col("id")).alias("name"),
        )
        j = left.join(right, "k")
        rows = j.collect()  # executes j's own QueryExecution -> final plan
        assert len(rows) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_from_join(spark, tmp_path):
    """Join-driven partition pruning: a dt-partitioned fact joined to a
    filtered dim must scan only the dim-selected partitions — the scan's
    PartitionFilters must carry a dynamicpruning subquery, and the result
    must equal the statically-pruned answer. This is the mechanism that
    turns a 100 TB date-partitioned fact scan into a 3-partition read
    when the dim side selects 3 dates."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 100_000).select(
        (F.col("id") % 20).cast("string").alias("dt"), F.col("id").alias("v")
    )
    path = str(tmp_path / "fact")
    fact.write.partitionBy("dt").mode("overwrite").parquet(path)
    dim = spark.range(0, 20).select(
        F.col("id").cast("string").alias("dt"), (F.col("id") < 3).alias("keep")
    )
    f = spark.read.parquet(path)
    q = f.join(dim.filter("keep"), "dt").groupBy("dt").agg(
        F.sum("v").alias("s")
    )
    assert "dynamicpruning" in physical_plan(q), physical_plan(q)[:2000]
    # partition-column type inference reads dt back as int — compare as str
    got = {str(r["dt"]): r["s"] for r in q.collect()}
    want = {
        str(r["dt"]): r["s"]
        for r in fact.filter(F.col("dt").isin("0", "1", "2"))
        .groupBy("dt")
        .agg(F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


# ------------------------------------------------- round-6 plan pins

def test_attribution_filters_pushed_and_touches_broadcast(spark):
    df = _df(spark, "attribution_linear_events")
    # both event-type filters reach the parquet scan
    assert has_pushed_filter(df, "event_type")
    # the touch side broadcasts locally (at scale both sides hash on user)
    assert broadcast_join_count(df) >= 1


def test_fk_audit_dimension_probes_broadcast_orders_edge_shuffles(spark):
    """The four TRUE dimension parents carry an explicit broadcast hint;
    the lineitem->orders edge must NOT (orders is a fact — its sf100
    distinct-key set is ~1.2 GB, an executor OOM if force-broadcast).
    With auto-broadcast disabled the hint difference becomes visible:
    exactly 4 broadcast joins, and the orders probe is a shuffled join
    that AQE re-plans from runtime sizes."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _df(spark, "fk_integrity_audit")
        assert broadcast_join_count(df) == 4  # nation/customer/supplier/part
        plan = physical_plan(df)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pareto_level_relation_broadcasts_back(spark):
    df = _df(spark, "pareto_frontier_parts")
    assert broadcast_join_count(df) >= 1


def test_zorder_interleave_stays_in_codegen(spark):
    # arithmetic-only Morton code: no UDF / BatchEvalPython in the plan
    plan = physical_plan(_df(spark, "zorder_layout_lineitem"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_expectation_audit_is_single_scan(spark):
    df = _df(spark, "expectation_audit_lineitem")
    assert len(read_schemas(df)) == 1  # all 7 checks fold into one scan


def test_ewma_single_user_exchange(spark):
    # 8 lags ride one Window operator over one user_id hash exchange
    df = _df(spark, "ewma_value_by_user")
    assert shuffle_exchange_count(df) == 1
    assert len(read_schemas(df)) == 1


def test_autocorr_single_scan_single_window(spark):
    # one raw-table scan: all 7 lags from one window pass (no self-join)
    df = _df(spark, "autocorr_daily_value")
    assert len(read_schemas(df)) == 1


def test_incident_overlap_uses_broadcast_nested_loop_not_smj(spark):
    # the range-predicate overlap join must broadcast the tiny incident
    # side (BroadcastNestedLoopJoin — non-equi joins can't hash); a
    # SortMergeJoin or unhinted CartesianProduct here would shuffle the
    # session side at scale
    plan = physical_plan(_df(spark, "incident_session_overlap_events"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def _assert_no_unbounded_single_partition(df):
    """Refined round-11 pin: the only SinglePartition exchanges allowed
    in the plan are the ones plan-lint S1 proves BOUNDED — the K-row
    __shard-keyed offsets aggregate of the in-plan distributed_cumsum /
    distributed_lead (K = shard count, never data-sized). Any other
    single-partition window/sort is still a failure."""
    from tools.plan_lint import lint_plan

    plan = physical_plan(df)
    s1 = [m for rule, m in lint_plan(plan) if rule == "S1"]
    assert not s1, s1


def test_pack_training_sequences_no_single_partition_window(spark):
    """Round-4 fix pin (refined in round 11): the packing cumsum is the
    distributed primitive (range shards + offset broadcast) — the only
    single-partition window is the in-plan K-row shard-offsets prefix
    (bounded by cluster width); the data path never funnels through one
    task."""
    _assert_no_unbounded_single_partition(_df(spark, "pack_training_sequences"))


def test_rfm_no_single_partition_window(spark):
    """Round-4 fix pin: all three RFM quartiles run through
    distributed_ntile — the full customer relation never funnels through
    one task."""
    df = _df(spark, "rfm_segmentation_customers")
    assert "SinglePartition" not in physical_plan(df)


def test_event_id_gaps_no_single_partition_window(spark):
    """Round-4 fix pin (refined in round 11): gap detection uses
    distributed_lead (sharded lead + in-plan K-row boundary patch), not
    a global one-task window over the data."""
    _assert_no_unbounded_single_partition(_df(spark, "event_id_gap_ranges"))


def test_bigram_counts_limits_before_rank(spark):
    """Round-4 fix pin: top-50 bigrams are selected with
    TakeOrderedAndProject BEFORE the ranking window, so the window only
    ever sees 50 rows (vocab^2 never passes through one task)."""
    df = _df(spark, "bigram_counts_documents")
    assert uses_take_ordered(df)


def test_q22_scalar_subquery_stays_in_plan(spark):
    """Round-4 fix pin: the avg-balance threshold is a broadcast 1-row
    aggregate cross join, not a driver-side collect — q22 is one job."""
    df = _df(spark, "q22_idle_rich_customers")
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_correlated_agg_scalar_stays_in_plan(spark):
    """Round-5 fix pin: the global-average threshold is a broadcast 1-row
    aggregate cross join (q22's pattern), not a driver-side collect — the
    query is one job."""
    df = _df(spark, "correlated_agg_subquery")
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q11_threshold_in_plan_with_exchange_reuse(spark):
    """Round-5 fix pin: q11's 1%-of-total threshold broadcasts in-plan and —
    because `vals` is the identical subtree on both sides of the cross
    join — AQE's stage reuse scans/aggregates lineitem ONCE (ReusedExchange
    in the final adaptive plan), where the old collect() ran two full jobs."""
    # sf0.01, not the usual sf0.001: the NATION_5 slice is empty at
    # sf0.001 and AQE collapses the whole plan to EmptyRelation, which
    # (correctly) has no exchanges left to reuse
    df = QUERIES["q11_important_part_stock"].fn(spark, "/root/testdata/sf0.01")
    df.collect()  # AQE materializes ReusedExchange at runtime
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_pipe_syntax_plans_like_ansi_star_join(spark):
    """The SQL pipe dialect must lower to the same physical shapes as the
    ANSI formulation: shipdate filter pushed to the lineitem scan, both
    dimension joins broadcast."""
    df = _df(spark, "pipe_syntax_nation_revenue")
    assert has_pushed_filter(df, "l_shipdate")
    assert broadcast_join_count(df) >= 2  # supplier + nation


def test_plan_linter_catalog_clean(spark):
    """Whole-catalog plan lint (the generalization of the round-3 judge's
    hand audit): every declared query's physical plan is free of
    (S1) SinglePartition exchanges feeding Window/Sort over unbounded
    input, (S2) cartesian/nested-loop joins with no bounded side,
    (S3) row-at-a-time Python UDFs, and (S4) construction-time
    collect()/toPandas() — modulo the explicitly-justified
    ALLOWLIST / S4_ALLOWLIST in tools/plan_lint.py."""
    import sys

    sys.path.insert(0, REPO)
    from tools.plan_lint import lint_queries

    bad = lint_queries()
    assert not bad, bad


def test_s4_tracer_catches_planted_collect(spark, tmp_path):
    """The S4 tracer must actually intercept (PySpark 4.x hands out
    pyspark.sql.classic DataFrames whose own collect overrides the
    abstract base — a base-only patch is a silent no-op, which is how
    the rule shipped broken mid-round-5). Plant a package-namespace
    helper that collects and assert it is flagged with its site."""
    import importlib.util
    import sys

    sys.path.insert(0, REPO)
    from tools.plan_lint import trace_collects

    # the tracer attributes a collect to any frame whose file lies under a
    # local_data_pipeline_spark directory, so the probe is planted in one
    # under tmp_path instead of in the source tree
    probe = tmp_path / "local_data_pipeline_spark" / "_s4_probe.py"
    probe.parent.mkdir()
    probe.write_text("def bad_scalar(df):\n    return df.collect()[0][0]\n")
    spec = importlib.util.spec_from_file_location("_s4_probe", probe)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    with trace_collects() as findings:
        mod.bad_scalar(spark.range(3).agg({"id": "max"}))
    assert findings == [
        (
            "S4",
            "construction-time collect at _s4_probe.py:2 in bad_scalar",
        )
    ]
    # and the patch is fully unwound afterwards
    with trace_collects() as f2:
        pass
    spark.range(1).collect()
    assert f2 == []


def test_auc_has_no_ranking_window(spark):
    """Session-11 design pin (refined in round 11): the Mann-Whitney AUC
    is computed entirely from tie-group aggregates + distributed_cumsum —
    no per-class ranking window (which would put each class's full row
    set in one task). The cumsum's internal windows are allowed: the
    per-shard one is partitioned by __shard, and the offsets one is over
    the K-row shard aggregate; both are pinned bounded by the S1 check."""
    df = _df(spark, "auc_one_vs_rest_embeddings")
    plan = physical_plan(df)
    _assert_no_unbounded_single_partition(df)
    # every Window in the plan is one of the cumsum's __shard forms
    import re

    for m in re.finditer(r"windowspecdefinition\((.*?)\)", plan):
        assert "__shard" in m.group(1), m.group(0)


def test_phrase_search_top1_stays_in_plan(spark):
    """The most-frequent-bigram discovery is TakeOrderedAndProject
    feeding a broadcast hash join — one pass, no driver collect."""
    df = _df(spark, "phrase_search_documents")
    plan = physical_plan(df)
    assert uses_take_ordered(df)
    assert "BroadcastExchange" in plan


def test_snapshot_diff_is_one_full_outer_join(spark):
    """snapshot_diff classifies A/D/C from ONE full-outer shuffle join;
    unchanged rows are filtered in-plan, never re-joined."""
    df = _df(spark, "snapshot_diff_orders")
    plan = physical_plan(df)
    assert plan.count("SortMergeJoin FullOuter") == 1
    # both snapshot filters reach the orders scans
    assert has_pushed_filter(df, "o_orderkey")


def test_loo_encoding_broadcasts_category_stats(spark):
    """The per-category stats table (|categories| rows) broadcasts back
    over the fact stream — no second shuffle of orders, no window."""
    df = _df(spark, "loo_target_encoding_orders")
    plan = physical_plan(df)
    assert broadcast_join_count(df) >= 1
    assert "Window" not in plan


def test_sparse_cosine_salts_hot_postings(spark):
    """Hot tokens (df > 5% of corpus) must reach the postings join with
    a composite (token, salt) key: the anchor side replicates via an
    in-plan explode(sequence), the hot set arrives by BroadcastExchange,
    and the join itself keys on __salt — the exact-redistribution skew
    guard for the |anchors|x df fan-out."""
    df = _df(spark, "sparse_cosine_topk_documents")
    plan = physical_plan(df)
    # Coarse invariants only: exact formatted fragments ("explode(CASE
    # WHEN ...", "Left keys [2]: [token") broke on Spark formatting
    # changes even when the plan shape was unchanged (round-8 advice).
    assert "__salt" in plan  # composite join key survives to the plan
    # anchor replication: an explode (of the salt array) is in the plan
    assert "explode" in plan.lower()
    # corpus bucketing: pmod of the partitioning column by the salt count
    assert "pmod" in plan
    # the postings join keys on (token, __salt) together: both names
    # appear in at least one join's key list — locate a join line that
    # mentions token and __salt on the same line
    join_lines = [
        ln
        for ln in plan.splitlines()
        if ("Join" in ln or "keys" in ln) and "token" in ln and "__salt" in ln
    ]
    assert join_lines, "no join keyed on (token, __salt) found in plan"
    assert "BroadcastExchange" in plan


@pytest.mark.parametrize(
    "name",
    [
        "attribution_linear_events",
        "attribution_time_decay_events",
        "forget_impact_report",
        "co_purchase_lift_parts",
        "event_type_user_overlap",
    ],
)
def test_join_conditions_never_compare_a_column_with_itself(spark, monkeypatch, name):
    """Both sides of these joins project one frame. A condition such as
    p.user_id == t.user_id compares one attribute with itself (Spark warns
    "Constructing trivially true equals predicate") and leaves the result
    to the analyzer's self-join rewrite; each side gets its own key name."""
    from pyspark.sql.classic.column import Column

    trivial = []
    eq = Column.__eq__

    def checked(self, other):
        if isinstance(other, Column) and self._jc.equals(other._jc):
            trivial.append(str(self))
        return eq(self, other)

    monkeypatch.setattr(Column, "__eq__", checked)
    _df(spark, name)
    assert trivial == []
