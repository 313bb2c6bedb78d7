"""The correctness harness must itself be trustworthy: compare() catches
every mismatch class it claims to check (a harness that can't fail would
make a wall of green queries meaningless)."""

import datetime
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.check_oracle import compare


def test_compare_passes_identical():
    ok, msg = compare([(1, "a"), (2, "b")], ["id", "v"], [(2, "b"), (1, "a")], ["id", "v"])
    assert ok  # order-insensitive


def test_compare_catches_row_count():
    ok, msg = compare([(1,)], ["id"], [(1,), (2,)], ["id"])
    assert not ok and "row count" in msg


def test_compare_catches_column_names():
    ok, msg = compare([(1,)], ["id"], [(1,)], ["key"])
    assert not ok and "columns" in msg


def test_compare_catches_value_change():
    ok, msg = compare([(1, 2.5)], ["id", "v"], [(1, 2.5000001)], ["id", "v"])
    assert not ok and "mismatch" in msg


def test_compare_column_order_insensitive():
    ok, _ = compare([("a", 1)], ["v", "id"], [(1, "a")], ["id", "v"])
    assert ok


def test_compare_handles_nulls_and_timestamps():
    ts = datetime.datetime(2026, 1, 1, 12, 0)
    ok, _ = compare([(None, ts)], ["a", "t"], [(None, ts)], ["a", "t"])
    assert ok
    ok, _ = compare([(None, ts)], ["a", "t"], [(1, ts)], ["a", "t"])
    assert not ok


def test_time_queries_survive_non_utc_driver_session(spark):
    """Driver simulation: the harness runs our queries in ITS OWN session,
    which need not use UTC. Every time-touching query must produce
    oracle-identical results with the session timezone set to a
    DST-observing zone (timestamps here are ntz end-to-end, so results
    must not shift)."""
    from local_data_pipeline_spark.queries import QUERIES
    from tools.check_oracle import check_query, duck_views

    from conftest import SF_DIR

    time_queries = [
        "daily_max_event",
        "date_functions_orders",
        "sessionize_events",
        "cohort_retention_events",
        "range_join_purchases_in_sessions",
        "zscore_anomalies_events",
        "trailing_30d_spend",
    ]
    con = duck_views(SF_DIR)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for name in time_queries:
            spec = QUERIES[name]
            ok, msg = check_query(spark, con, spec.fn, spec.oracle, SF_DIR)
            assert ok, f"{name} under America/New_York: {msg}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_bench_line_fits_driver_tail_window():
    """The round driver JSON-parses only the last ~2000 chars of bench
    stdout (round 2 recorded parsed:null when the full 110-query line
    overflowed it). The printed line must stay under the budget for any
    realistic suite size, keep valid JSON, and preserve the totals."""
    import json as _json

    from bench import LINE_BUDGET, format_bench_output

    times = {f"query_with_a_long_name_{i:03d}": i * 0.103 for i in range(400)}
    full, line = format_bench_output(times, 0.1)
    assert len(line) <= LINE_BUDGET
    parsed = _json.loads(line)
    assert parsed["value"] == full["value"] == round(sum(times.values()), 3)
    assert parsed["n_queries"] == 400
    assert 0 < len(parsed["queries"]) <= 25
    # slowest entries survive the cut
    assert "query_with_a_long_name_399" in parsed["queries"]
    # small suites print the complete map
    small_full, small_line = format_bench_output({"a": 1.0, "b": 2.0}, 0.01)
    assert _json.loads(small_line)["queries"] == {"a": 1.0, "b": 2.0}


def test_bench_drift_between_last_driver_rounds_nonblocking():
    """Automated regression-vs-host-drift adjudication (round-8 advice):
    run tools/compare_bench.py's normalized drift between the two most
    recent driver bench files. NON-BLOCKING by design — bench timing
    belongs to perf triage, not the correctness wall — but a >1.5x
    normalized drift on an unchanged query surfaces as a pytest warning
    (and in the captured report) instead of waiting for a human to
    cross-read three JSON files."""
    import glob
    import re
    import warnings

    from tools.compare_bench import drift

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # core-count variants (BENCH_r11_c8.json — the driver's 8-core
    # scaling run) are not comparable to the 32-core series: comparing
    # r11 vs r11_c8 warned unconditionally (round-12 fix)
    benches = sorted(
        b
        for b in glob.glob(os.path.join(root, "BENCH_r*.json"))
        if not re.search(r"_c\d+\.json$", b)
    )
    if len(benches) < 2:
        import pytest

        pytest.skip("fewer than two driver bench files on disk")
    rc = drift(benches[-2], benches[-1], out=None)
    if rc == 1:
        warnings.warn(
            f"bench drift: normalized >1.5x regression suspected between "
            f"{os.path.basename(benches[-2])} and "
            f"{os.path.basename(benches[-1])} — see captured drift report "
            "and re-run the query under tools/compare_bench.py --drift",
            stacklevel=1,
        )
    assert rc in (0, 1, 2)


def test_bench_warmup_runs_no_declared_query_on_real_tables():
    """Round-12 honesty pin: the untimed warm-up prefix must never
    execute a declared query or open a file under the bench SF dir —
    otherwise real-table parquet footers / OS page cache are pre-warmed
    for whichever queries read those tables, flattering their timed
    numbers. Frozen: warm-up changes require a DRIFT_*.md adjudication."""
    import inspect

    import bench

    src = inspect.getsource(bench._warmup)
    assert "QUERIES[" not in src, "warm-up executes a declared query"
    assert "SF_DIR" not in src, "warm-up references the bench data dir"
