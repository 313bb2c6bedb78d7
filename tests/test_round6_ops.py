"""Round-6 operator invariants beyond the oracle hash checks: skyline
dominance, EWMA closed-form, Z-order interleaving, attribution value
conservation, bitmap popcounts, hash manifests, expectation suites, and
ANN recall bounds."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from local_data_pipeline_spark.queries import QUERIES
from local_data_pipeline_spark.session import load_table

from conftest import SF_DIR


# ------------------------------------------------------- pareto skyline

def test_pareto_frontier_has_no_dominated_rows(spark):
    """Brute-force O(n^2) dominance check over the full part table: no
    returned part may be dominated, and every non-returned part must be
    dominated by someone (the frontier is exactly the skyline)."""
    parts = [
        (r["p_partkey"], r["p_size"], r["p_retailprice"])
        for r in load_table(spark, SF_DIR, "part")
        .select("p_partkey", "p_size", "p_retailprice")
        .collect()
    ]
    frontier = {
        r["p_partkey"]
        for r in QUERIES["pareto_frontier_parts"].fn(spark, SF_DIR).collect()
    }

    def dominated(me):
        k, s, p = me
        return any(
            op <= p and os >= s and (op < p or os > s)
            for ok, os, op in parts
            if ok != k
        )

    for row in parts:
        assert (row[0] in frontier) == (not dominated(row)), row


# ------------------------------------------------------------- EWMA

def test_ewma_matches_sequential_reference(spark):
    """The 8-lag windowed formulation must equal the truncated sequential
    EWMA: weights 2^(7-j) over the trailing 8 events (newest heaviest)."""
    rows = QUERIES["ewma_value_by_user"].fn(spark, SF_DIR).collect()
    ev = sorted(
        (
            (r["user_id"], r["ts"], r["event_id"], r["value"])
            for r in load_table(spark, SF_DIR, "events")
            .select("user_id", "ts", "event_id", "value")
            .collect()
        ),
    )
    per_user: dict[int, list] = {}
    for u, ts, eid, v in ev:
        per_user.setdefault(u, []).append((ts, eid, v))
    expect = {}
    for u, seq in per_user.items():
        seq.sort()
        for i in range(len(seq)):
            num = den = 0
            for j in range(min(8, i + 1)):
                w = 1 << (7 - j)
                num += math.floor(seq[i - j][2] * 100) * w
                den += w
            expect[(u, seq[i][1])] = (num / den) / 100.0
    assert len(rows) == len(expect)
    for r in rows:
        assert r["ewma_value"] == pytest.approx(
            expect[(r["user_id"], r["event_id"])], abs=0, rel=0
        ), (r["user_id"], r["event_id"])


# ------------------------------------------------------------ Z-order

def _interleave(a: int, b: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    return z


def test_zorder_tiles_match_python_interleave(spark):
    """Tile histogram recomputed from a pure-Python Morton code must match
    the arithmetic-only SQL interleave exactly."""
    li = [
        (r["l_partkey"], r["l_suppkey"])
        for r in load_table(spark, SF_DIR, "lineitem")
        .select("l_partkey", "l_suppkey")
        .collect()
    ]
    want: dict[int, int] = {}
    for pk, sk in li:
        z = _interleave(pk % 256, sk % 256)
        want[z // 1024] = want.get(z // 1024, 0) + 1
    got = {
        r["z_tile"]: r["n_rows"]
        for r in QUERIES["zorder_layout_lineitem"].fn(spark, SF_DIR).collect()
    }
    assert got == want


# -------------------------------------------------------- attribution

def test_attribution_conserves_purchase_value(spark):
    """Every purchase is credited exactly once: the per-channel purchase
    counts cover all purchases, and total attributed value is within
    floor-division loss (< 1 micro-unit per touch) of total purchase
    value, never above."""
    out = {
        r["channel"]: r
        for r in QUERIES["attribution_linear_events"].fn(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    total_micros = p.select(
        F.sum(F.floor(F.col("value") * 1000000).cast("bigint"))
    ).first()[0]
    attributed = sum(r["attributed_value"] for r in out.values())
    n_touches = sum(r["n_touches"] for r in out.values())
    assert attributed <= total_micros / 1e6 + 1e-9
    assert attributed >= (total_micros - n_touches) / 1e6 - 1e-9
    assert set(out) <= {"click", "view", "direct"}


# ------------------------------------------------------------- bitmap

def test_hourly_bitmap_popcount_equals_exact_distinct(spark):
    """sum(bit_count(bitmap)) per day == exact count of distinct
    (user, hour) pairs that day — the bitmap loses nothing at day scope."""
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["dt"]: r["n"]
        for r in ev.select(
            F.col("ts").cast("date").alias("dt"),
            "user_id",
            F.hour("ts").alias("h"),
        )
        .distinct()
        .groupBy("dt")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = QUERIES["hourly_activity_bitmap"].fn(spark, SF_DIR).collect()
    assert {r["dt"]: r["total_active_hours"] for r in got} == exact


# ----------------------------------------------------------- manifest

def test_content_hash_manifest_matches_hashlib(spark):
    """Spark md5/sha2 agree with Python hashlib (and with DuckDB, per the
    oracle test) — the manifest is portable content addressing."""
    docs = load_table(spark, SF_DIR, "documents").limit(5).collect()
    df = spark.createDataFrame([(r["text"],) for r in docs], ["text"])
    got = df.select(
        F.md5("text").alias("m"), F.sha2("text", 256).alias("s"), "text"
    ).collect()
    for r in got:
        assert r["m"] == hashlib.md5(r["text"].encode()).hexdigest()
        assert r["s"] == hashlib.sha256(r["text"].encode()).hexdigest()


# ------------------------------------------------- audits / governance

def test_fk_integrity_clean_on_generated_data(spark):
    rows = QUERIES["fk_integrity_audit"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(r["ok"] and r["n_orphans"] == 0 for r in rows)


def test_expectation_audit_counts_real_violations(spark):
    """Value/domain/null checks are clean on the generated data; the
    composite-key uniqueness check must report EXACTLY the true duplicate
    count (the generator does emit duplicate (orderkey, linenumber)
    pairs — a defect the audit exists to catch)."""
    li = load_table(spark, SF_DIR, "lineitem")
    li_n = li.count()
    true_dups = li_n - li.select("l_orderkey", "l_linenumber").distinct().count()
    rows = {
        r["expectation"]: r
        for r in QUERIES["expectation_audit_lineitem"].fn(spark, SF_DIR).collect()
    }
    assert len(rows) == 7
    assert all(r["n_checked"] == li_n for r in rows.values())
    pk = rows.pop("orderkey_linenumber_unique")
    assert pk["n_violations"] == true_dups
    assert pk["pass"] == (true_dups == 0)
    assert all(r["pass"] and r["n_violations"] == 0 for r in rows.values())


def test_k_anonymity_partitions_all_customers(spark):
    c_n = load_table(spark, SF_DIR, "customer").count()
    rows = QUERIES["k_anonymity_audit_customers"].fn(spark, SF_DIR).collect()
    assert sum(r["group_size"] for r in rows) == c_n
    assert all((r["group_size"] >= 5) == r["meets_k"] for r in rows)


def test_rfm_covers_every_ordering_customer(spark):
    n_cust = (
        load_table(spark, SF_DIR, "orders").select("o_custkey").distinct().count()
    )
    rows = QUERIES["rfm_segmentation_customers"].fn(spark, SF_DIR).collect()
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        assert 1 <= r["r_q"] <= 4 and 1 <= r["f_q"] <= 4 and 1 <= r["m_q"] <= 4


def test_compaction_plan_capacity_covers_rows(spark):
    rows = QUERIES["compaction_plan_orders"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_files"] >= 1
        assert r["rows_per_file"] * r["n_files"] >= r["n_rows"]


# -------------------------------------------------------- boilerplate

def test_boilerplate_accounting_invariants(spark):
    rows = QUERIES["boilerplate_removal_documents"].fn(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    n_docs_per_src = {
        r["source"]: r["n"]
        for r in docs.filter(F.trim("text") != "")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["source"] for r in rows} == set(n_docs_per_src)
    for r in rows:
        assert r["n_docs"] == n_docs_per_src[r["source"]]
        assert 0 <= r["n_removed_segments"] <= r["n_segments"]
        assert 0 <= r["n_docs_affected"] <= r["n_docs"]
        # a flagged template implies at least threshold-many docs touched
        if r["n_boiler_templates"] > 0:
            assert r["n_docs_affected"] >= 3


# --------------------------------------------------------- ANN recall

def test_ann_recall_bounds_and_brute_force_floor(spark):
    rows = {
        r["method"]: r
        for r in QUERIES["ann_recall_eval"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"lsh", "lsh_multiprobe", "ivf"}
    for r in rows.values():
        # exact side: truth is top-10 per panel query
        assert 0 < r["n_truth_pairs"] <= 10 * r["n_queries"]
        assert r["truth_checksum"] > 0
    # the recall_ok flags encode the per-method floors AND the
    # structural multiprobe >= single-probe invariant (on the synthetic
    # corpus every method clears its floor; the >=0.95 clustered-data
    # guarantee is pinned in test_dedup_similarity.py)
    assert all(r["recall_ok"] == 1 for r in rows.values())
    # all three method rows share the one exact ground truth
    assert len({r["truth_checksum"] for r in rows.values()}) == 1


# ----------------------------------------------------- incident overlap

def test_incident_overlap_matches_recomputed_incidents(spark):
    """Reported incident hours must be exactly the hours with >= 2x the
    mean hourly error count; overlap seconds are positive and bounded by
    3600 * sessions."""
    ev = load_table(spark, SF_DIR, "events")
    hourly = {
        r["hr"]: r["n"]
        for r in ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    avg = sum(hourly.values()) / len(hourly)
    want_hours = {h for h, n in hourly.items() if n >= 2.0 * avg}
    rows = QUERIES["incident_session_overlap_events"].fn(spark, SF_DIR).collect()
    got_hours = {r["incident_hour"] for r in rows}
    # every reported hour is a true incident (sessions always exist to hit)
    assert got_hours == want_hours
    for r in rows:
        assert r["n_err"] == hourly[r["incident_hour"]]
        assert 0 < r["n_users_hit"] <= r["n_sessions_hit"]
        assert 0 < r["total_overlap_s"] <= 3600 * r["n_sessions_hit"]


# ---------------------------------------------------------------- MAD

def test_mad_matches_numpy_reference(spark):
    import numpy as np

    ev = load_table(spark, SF_DIR, "events")
    data = {}
    for r in ev.select("event_type", "value").collect():
        data.setdefault(r["event_type"], []).append(math.floor(r["value"] * 100))
    rows = {
        r["event_type"]: r
        for r in QUERIES["mad_robust_anomalies_events"].fn(spark, SF_DIR).collect()
    }
    for et, cents in data.items():
        med = float(np.median(np.array(cents)))
        dev = [abs(c - med) for c in cents]
        mad = float(np.median(np.array(dev)))
        r = rows[et]
        assert r["median_value"] == pytest.approx(med / 100.0)
        assert r["mad_value"] == pytest.approx(mad / 100.0)
        assert r["n_anomalies"] == sum(1 for d in dev if d > 3 * mad)


# ------------------------------------------------------------- benford

def test_benford_expected_shares_sum_to_one(spark):
    rows = QUERIES["benford_audit_orders"].fn(spark, SF_DIR).collect()
    n_filtered = (
        load_table(spark, SF_DIR, "orders").filter("o_totalprice >= 1").count()
    )
    assert sum(r["n_obs"] for r in rows) == n_filtered
    assert sum(r["benford_p"] for r in rows) == pytest.approx(1.0, abs=1e-5)
    for r in rows:
        assert 1 <= r["first_digit"] <= 9
        assert r["obs_over_expected"] > 0


# ---------------------------------------------------------------- gini

def test_gini_matches_python_reference(spark):
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", "c_nationkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
        )
        .collect()
    )
    per_nation = {}
    for r in spend:
        per_nation.setdefault(r["c_nationkey"], []).append(
            (r["cents"], r["o_custkey"])
        )
    rows = {
        r["c_nationkey"]: r
        for r in QUERIES["gini_spend_concentration"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == set(per_nation)
    for nk, xs in per_nation.items():
        xs.sort()
        n = len(xs)
        tot = sum(x for x, _ in xs)
        num = sum((i + 1) * x for i, (x, _) in enumerate(xs))
        gini = 2.0 * num / (n * tot) - (n + 1.0) / n
        assert rows[nk]["gini"] == pytest.approx(gini, abs=1e-6)
        assert 0.0 <= rows[nk]["gini"] < 1.0


# ------------------------------------------------------------- AB test

def test_ab_test_covers_all_users_and_z_sign(spark):
    ev = load_table(spark, SF_DIR, "events")
    n_users = ev.select("user_id").distinct().count()
    r = QUERIES["ab_test_conversion_events"].fn(spark, SF_DIR).collect()[0]
    assert r["n_a"] + r["n_b"] == n_users
    assert 0 <= r["conv_a"] <= r["n_a"] and 0 <= r["conv_b"] <= r["n_b"]
    # conversion must not be saturated (the metric exists to avoid that)
    assert 0 < r["conv_a"] + r["conv_b"] < r["n_a"] + r["n_b"]
    if r["z_score"] is not None and r["abs_lift"] != 0:
        assert (r["z_score"] > 0) == (r["abs_lift"] > 0)


# ---------------------------------------------------------- autocorr

def test_autocorr_matches_numpy_reference(spark):
    import numpy as np

    ev = load_table(spark, SF_DIR, "events")
    daily = sorted(
        (r["dt"], r["c"])
        for r in ev.groupBy(F.col("ts").cast("date").alias("dt"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("c")
        )
        .collect()
    )
    xs = np.array([c for _, c in daily], dtype=float)
    rows = {
        r["lag_days"]: r
        for r in QUERIES["autocorr_daily_value"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == set(range(1, 8))
    for k in range(1, 8):
        x, y = xs[:-k], xs[k:]
        r_np = float(np.corrcoef(x, y)[0, 1])
        assert rows[k]["n_pairs"] == len(x)
        assert rows[k]["autocorr"] == pytest.approx(r_np, abs=1e-5)


# -------------------------------------------------------- changepoint

def test_changepoint_maximizes_shift_stat(spark):
    """Recompute every candidate split in Python; the reported day must
    achieve the maximum standardized mean shift (first day on ties)."""
    ev = load_table(spark, SF_DIR, "events")
    daily = {}
    for r in (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("dt"))
        .agg(F.count("*").alias("c"))
        .collect()
    ):
        daily.setdefault(r["event_type"], []).append((r["dt"], r["c"]))
    got = {
        r["event_type"]: r
        for r in QUERIES["changepoint_mean_shift_events"].fn(spark, SF_DIR).collect()
    }
    for et, series in daily.items():
        series.sort()
        n = len(series)
        cum, best = 0, None
        for t, (dt, c) in enumerate(series, start=1):
            cum += c
            if t == n:
                break
            tot = sum(x for _, x in series)
            stat = round(
                math.sqrt(t * (n - t) / n) * abs(cum / t - (tot - cum) / (n - t)),
                6,
            )
            if best is None or stat > best[0]:
                best = (stat, dt)
        assert got[et]["shift_stat"] == pytest.approx(best[0], abs=1e-6)
        assert got[et]["change_day"] == best[1]


# ----------------------------------------------------------- seasonal

def test_seasonal_decomposition_reconstructs(spark):
    """trend + seasonal + residual == value wherever trend is defined
    (up to the documented 6-decimal roundings), and the seasonal term
    depends only on the weekday."""
    rows = QUERIES["seasonal_decompose_daily_value"].fn(spark, SF_DIR).collect()
    assert rows
    by_dow = {}
    for r in rows:
        if r["trend"] is not None:
            recon = r["trend"] + r["seasonal"] + r["residual"]
            assert recon == pytest.approx(r["value"], abs=5e-6)
            by_dow.setdefault(r["dt"].isoweekday(), set()).add(r["seasonal"])
    for dow, vals in by_dow.items():
        assert len(vals) == 1, f"seasonal not constant within weekday {dow}"


# ---------------------------------------------------------- latency

def test_fulfillment_latency_counts_every_lineitem(spark):
    li_n = load_table(spark, SF_DIR, "lineitem").count()
    rows = QUERIES["fulfillment_latency_orders"].fn(spark, SF_DIR).collect()
    assert sum(r["n"] for r in rows) == li_n
    for r in rows:
        assert -1 <= r["bucket"] <= 4
        assert r["min_days"] <= r["avg_days"] <= r["max_days"]
        if r["bucket"] >= 0:
            assert r["min_days"] >= r["bucket"] * 30
            if r["bucket"] < 4:
                assert r["max_days"] < (r["bucket"] + 1) * 30


# --------------------------------------------------------- exact p95

def test_p95_latency_matches_python_order_stats(spark):
    """percentile_disc semantics: the ceil(0.95n)-th and lower-median
    order statistics recomputed in Python per month."""
    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    lat = (
        li.join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == o.o_orderkey)
        .select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("d"),
        )
        .collect()
    )
    per_month = {}
    for r in lat:
        per_month.setdefault(r["month"], []).append(r["d"])
    rows = {
        r["month"]: r
        for r in QUERIES["p95_fulfillment_latency_monthly"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == set(per_month)
    for m, xs in per_month.items():
        xs.sort()
        n = len(xs)
        assert rows[m]["n_lineitems"] == n
        assert rows[m]["p95_latency_days"] == xs[(19 * n + 19) // 20 - 1]
        assert rows[m]["p50_latency_days"] == xs[(n + 1) // 2 - 1]


# ---------------------------------------------------------- chi2 terms

def test_chi2_terms_positive_association_and_rank(spark):
    rows = QUERIES["chi2_terms_by_source"].fn(spark, SF_DIR).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for src, rs in by_source.items():
        assert len(rs) <= 5
        ranks = sorted(r["rk"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # chi2 non-increasing in rank order
        ordered = sorted(rs, key=lambda r: r["rk"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["chi2"] >= b["chi2"]
        assert all(r["chi2"] >= 0 for r in rs)


# --------------------------------------------------- degree histogram

def test_degree_distribution_conserves_edge_endpoints(spark):
    """sum(degree * n_parts) == 2 * |edges| (handshake lemma)."""
    li = load_table(spark, SF_DIR, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    n_edges = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .select("a.pk", "b.pk")
        .distinct()
        .count()
    )
    rows = QUERIES["degree_distribution_copurchase"].fn(spark, SF_DIR).collect()
    assert sum(r["degree"] * r["n_parts"] for r in rows) == 2 * n_edges


# ----------------------------------------------------- minhash eval

def test_minhash_eval_ratios_consistent(spark):
    r = QUERIES["minhash_precision_recall_eval"].fn(spark, SF_DIR).collect()[0]
    # exact side: scope size and within-source ground truth
    assert 0 < r["n_docs_scope"]
    assert 0 <= r["n_truth_within_source"]
    assert (r["truth_checksum"] > 0) == (r["n_truth_within_source"] > 0)
    # on the synthetic corpus LSH(32,8) achieves precision = recall = 1
    # at every sf (measured sf0.001-sf1); the flags carry 0.95 floors
    assert r["precision_ok"] == 1
    assert r["recall_ok"] == 1


def test_minhash_eval_counts_documents_once_below_scope_cap(spark, monkeypatch):
    """Below the 5000-document cap the scope is the whole corpus, so its
    size is the one document count: the query body fires one ``count()``
    of its own, not a second count of the same frame (the candidate and
    truth counts run inside ``_overlap``'s threads)."""
    import sys

    cls = type(spark.range(1))
    counted = []
    orig = cls.count

    def count(self):
        counted.append(sys._getframe(1).f_code.co_name)
        return orig(self)

    monkeypatch.setattr(cls, "count", count)
    df = QUERIES["minhash_precision_recall_eval"].fn(spark, SF_DIR)
    monkeypatch.undo()
    assert counted.count("minhash_precision_recall_eval") == 1
    assert df.collect()[0]["n_docs_scope"] == load_table(spark, SF_DIR, "documents").count()


# --------------------------------------------------- catalog profiling

def test_null_profile_covers_catalog_and_counts_exactly(spark):
    from local_data_pipeline_spark.queries import _PROFILE_COLUMNS

    rows = QUERIES["null_profile_all_tables"].fn(spark, SF_DIR).collect()
    want_cells = {(t, c) for t, cols in _PROFILE_COLUMNS.items() for c in cols}
    assert {(r["table_name"], r["column_name"]) for r in rows} == want_cells
    by_table = {}
    for r in rows:
        by_table.setdefault(r["table_name"], set()).add(r["n_rows"])
    for t, sizes in by_table.items():
        assert len(sizes) == 1  # all columns of a table report one row count
        assert sizes.pop() == load_table(spark, SF_DIR, t).count()
    # spot-check one column's null count exactly
    ev_nulls = (
        load_table(spark, SF_DIR, "events").filter(F.col("value").isNull()).count()
    )
    (cell,) = [
        r for r in rows if r["table_name"] == "events" and r["column_name"] == "value"
    ]
    assert cell["n_nulls"] == ev_nulls


# ----------------------------------------------------- audience overlap

def test_event_type_overlap_matches_python_sets(spark):
    ev = load_table(spark, SF_DIR, "events")
    sets = {}
    for r in ev.select("event_type", "user_id").distinct().collect():
        sets.setdefault(r["event_type"], set()).add(r["user_id"])
    rows = QUERIES["event_type_user_overlap"].fn(spark, SF_DIR).collect()
    types = sorted(sets)
    expected_pairs = {(a, b) for i, a in enumerate(types) for b in types[i + 1:]
                      if sets[a] & sets[b]}
    assert {(r["type_a"], r["type_b"]) for r in rows} == expected_pairs
    for r in rows:
        a, b = sets[r["type_a"]], sets[r["type_b"]]
        assert r["n_common"] == len(a & b)
        assert r["jaccard"] == round(len(a & b) / len(a | b), 6)


# ------------------------------------------------------- BPE encode

def test_bpe_encode_matches_python_reference(spark):
    """Every vocabulary word's subword segmentation must equal the
    sequential greedy-merge reference under the trained merge table."""
    from local_data_pipeline_spark.operators import ml as ML

    docs = load_table(spark, SF_DIR, "documents")
    merges = ML.train_bpe_merges(docs, n_merges=10)
    got = {
        r["word"]: r["n_subwords"]
        for r in ML.bpe_encode_vocab(docs, merges).collect()
    }
    for word in list(got)[:200]:
        assert got[word] == len(ML.bpe_encode_local(word, merges)), word


def test_bpe_encode_query_fertility_bounds(spark):
    rows = QUERIES["bpe_encode_documents"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # merges only ever shrink: chars/word >= fertility >= 1
        assert r["fertility_milli"] >= 1000
        assert r["n_subword_tokens"] >= r["n_words"]


# --------------------------------------------------- audit registry

def test_audit_registry_builds_and_gates(spark):
    """The governance audits run as registry models with dbt-style data
    tests: a clean warehouse builds green; a test written to catch the
    generator's known PK defect fails the build loudly."""
    from local_data_pipeline_spark.models.audits import (
        build_audit_registry,
        no_rows_where,
    )

    reg = build_audit_registry(SF_DIR)
    results = reg.build(spark)
    assert {r.model for r in results} == {
        "audit_fk_integrity",
        "audit_expectations",
        "audit_null_profile",
    }
    assert all(v == 0 for r in results for v in r.test_failures.values())
    # the materialized views are queryable
    assert spark.table("audit_fk_integrity").count() == 5

    # a strict test that refuses the known duplicate-PK defect must gate
    strict = build_audit_registry(SF_DIR)
    strict._models["audit_expectations"].tests = (
        no_rows_where("expectations_pass_strict", "NOT pass"),
    )
    with pytest.raises(Exception, match="expectations_pass_strict"):
        strict.build(spark)


# ----------------------------------------------------- weighted median

def test_weighted_median_matches_python_reference(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    p = load_table(spark, SF_DIR, "part")
    rows = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("p_brand", "l_extendedprice", "l_quantity",
                "l_orderkey", "l_linenumber")
        .collect()
    )
    per_brand = {}
    for r in rows:
        per_brand.setdefault(r["p_brand"], []).append(
            (r["l_extendedprice"], r["l_orderkey"], r["l_linenumber"],
             int(r["l_quantity"]))
        )
    got = {
        r["p_brand"]: r
        for r in QUERIES["weighted_median_price_by_brand"].fn(spark, SF_DIR).collect()
    }
    for brand, xs in per_brand.items():
        xs.sort()
        tot = sum(q for *_, q in xs)
        cum = 0
        for price, _, _, q in xs:
            cum += q
            if 2 * cum >= tot:
                break
        assert got[brand]["total_quantity"] == tot
        assert got[brand]["weighted_median_price"] == price


# ------------------------------------------------------ SLO burn rate

def test_slo_burn_alert_predicate_is_exact(spark):
    rows = QUERIES["slo_burn_rate_alerts"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        short_exceeds = r["short_rate"] > 0.3 - 1e-9
        # the integer predicate must agree with the rate semantics
        # (compare via the unrounded integer cross-multiplication)
        assert isinstance(r["burn_alert"], bool)
        if r["burn_alert"]:
            assert r["short_rate"] >= r["long_rate"]  # 1.2x implies >=
            assert short_exceeds


# ------------------------------------------------ time-decay attribution

def test_time_decay_attribution_conserves_value(spark):
    out = {
        r["channel"]: r
        for r in QUERIES["attribution_time_decay_events"].fn(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    total_micros = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.sum(F.floor(F.col("value") * 1000000).cast("bigint")))
        .first()[0]
    )
    attributed = sum(r["attributed_value"] for r in out.values())
    n_touches = sum(r["n_touches"] for r in out.values())
    # integer floor-division loses < 1 micro-unit per touch, never gains
    assert attributed <= total_micros / 1e6 + 1e-9
    assert attributed >= (total_micros - n_touches) / 1e6 - 1e-9
    # decay must shift credit: linear and decayed split differ per channel
    linear = {
        r["channel"]: r["attributed_value"]
        for r in QUERIES["attribution_linear_events"].fn(spark, SF_DIR).collect()
    }
    assert any(
        abs(linear.get(ch, 0) - out[ch]["attributed_value"]) > 1e-6
        for ch in out
        if ch != "direct"
    )


def test_nightly_audit_job_runs_on_schedule(spark):
    """The audit DAG runs as a scheduled job: due at its cron time, green
    build, all gates pass."""
    import datetime

    from local_data_pipeline_spark.models.audits import nightly_audit_job
    from local_data_pipeline_spark.scheduler import Scheduler, next_fire

    job = nightly_audit_job(SF_DIR)
    fire = next_fire(job.cron, datetime.datetime(2026, 8, 14, 0, 0))
    assert (fire.hour, fire.minute) == (2, 0)
    sched = Scheduler([job])
    ran = sched.run_due(spark, now=fire)
    assert set(ran) == {"nightly_audits"}
    results = ran["nightly_audits"]
    assert all(v == 0 for r in results for v in r.test_failures.values())


def test_relationships_data_test_detects_orphans(spark):
    """The dbt-style relationships test passes on intact FKs and fails
    once an orphan child value appears; NULL children are ignored."""
    from local_data_pipeline_spark.registry import relationships

    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    clean = spark.createDataFrame([(1,), (2,), (None,)], "fk int")
    dirty = spark.createDataFrame([(1,), (99,)], "fk int")
    t = relationships("fk", parent, "pk")
    assert t.run(clean) == 0
    assert t.run(dirty) > 0
    # callable parent evaluated at check time
    t2 = relationships("fk", lambda: parent, "pk")
    assert t2.run(dirty) > 0


def test_pareto_frontier_drops_null_dimensions(spark):
    from local_data_pipeline_spark.operators.topk import pareto_frontier

    df = spark.createDataFrame(
        [(1, 5, 2), (2, None, 1), (3, 9, None), (4, 1, 1)],
        "id int, val int, cost int",
    )
    got = {r.id for r in pareto_frontier(df, "val", "cost").collect()}
    # null-dimension rows (2, 3) are excluded; 4 dominates-on-cost but
    # 1 has higher val: frontier over the non-null rows only
    assert got == {1, 4}
