"""The benchmark's op lists and how one op runs.

An op is the unit the closed loop times:

- a catalog query: ``QuerySpec.fn(spark, data_dir)`` to a noop sink;
- a registry pipeline: one ``scheduler.Job.run`` of one pipeline.

Each op checks its own output (see ``checks.py``). The package is
imported lazily so that this module loads without Spark.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Callable

#: Catalog queries that run the hand-rolled iterative loops. Left out to
#: fit the run budget: hits_customer_parts (the same power iteration with
#: checkpoint-job normalizers as pagerank), incremental_dup_clusters_documents
#: (a second dedup_clusters caller) and kmeans_embedding_clusters (a
#: fixed-count loop like pq_train's, which stays for its Python workers).
ITERATIVE = (
    "pagerank_copurchase_parts",
    "label_propagation_copurchase",
    "kcore_copurchase_parts",
    "near_dup_clusters_documents",
    "pq_adc_recall_eval",
)

#: Single-pass catalog queries: scans, joins, aggregates and windows.
SCAN = (
    "daily_max_event",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q12_shipband_priority",
    "q13_order_count_distribution",
    "q16_part_supplier_counts",
    "q18_large_volume_customers",
    "q21_suppliers_kept_waiting",
    "sessionize_events",
    "sliding_6h_events",
    "tumbling_hourly_events",
    "native_session_window_events",
)

#: The registry pipelines of the nightly build. Left out to fit the run
#: budget: audits, whose three table models materialize catalog queries
#: (fk_integrity_audit, expectation_audit_lineitem, null_profile_all_tables).
PIPELINES = ("swell", "analytics", "quality", "curation")

#: Swell raw input: locations x ingest days of 48-hour payloads.
SWELL_LOCATIONS = 300
SWELL_DAYS = 10


@dataclass
class Workload:
    name: str
    kind: str  # "query" | "pipeline"
    ops: tuple[str, ...]
    #: whole passes over ``ops`` that a run times, after the warm pass.
    #: A run never times part of a pass, so ``--seconds`` does not set the
    #: timed window (see README.md).
    timed_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload("nightly_build", "pipeline", PIPELINES, 2),
        Workload("iterative_queries", "query", ITERATIVE, 2),
        Workload("scan_queries", "query", SCAN, 1),
    )
}


def pass_orders(ops: tuple[str, ...], n_passes: int, seed: int) -> list[list[str]]:
    """One seeded permutation of the op list per pass."""
    rng = random.Random(seed)
    return [rng.sample(list(ops), len(ops)) for _ in range(n_passes)]


def write_swell_raw(path: str, seed: int) -> int:
    """The swell pipeline's raw JSON table, built with the package's own
    ``payload_row`` from seeded location names and coordinates; written
    as parquet (timestamp, location, data). Returns the payload count.
    The shape (locations x days) is fixed, so the rows the pipeline
    writes do not depend on the seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from local_data_pipeline_spark.models.swell import payload_row

    rng = random.Random(seed)
    names = set()
    while len(names) < SWELL_LOCATIONS:
        names.add(f"spot_{rng.randrange(16 ** 6):06x}")
    locs = sorted(names)
    coords = {n: (round(rng.uniform(-60, 60), 4), round(rng.uniform(-180, 180), 4))
              for n in locs}
    offsets = list(range(SWELL_LOCATIONS))
    rng.shuffle(offsets)
    rows = [
        payload_row(day, offsets[i], loc, *coords[loc])
        for day in range(SWELL_DAYS)
        for i, loc in enumerate(locs)
    ]
    ts, loc, data = zip(*rows)
    pq.write_table(
        pa.table({"timestamp": list(ts), "location": list(loc), "data": list(data)}),
        path,
    )
    return len(rows)


@dataclass
class OpResult:
    ok: bool
    detail: str = ""
    rows: dict = field(default_factory=dict)


def pipeline_registries(data_dir: str, swell_path: str) -> dict:
    """Build each pipeline's Registry once per run; every op rebuilds it."""
    from pyspark.sql import functions as F

    from local_data_pipeline_spark.models import analytics, curation, quality, swell

    def raw_swell(spark):
        return spark.read.parquet(swell_path).withColumn(
            "timestamp", F.to_timestamp("timestamp")
        )

    return {
        "swell": swell.build_registry(raw_swell),
        "analytics": analytics.build_analytics_registry(data_dir),
        "quality": quality.build_quality_registry(data_dir),
        "curation": curation.build_curation_registry(data_dir),
    }


def run_pipeline(spark, name: str, registry, expected_rows: dict) -> OpResult:
    """One ``Job.run``; passes when every data test passes (``build``
    raises otherwise) and rows written per table model match."""
    from local_data_pipeline_spark.scheduler import Job

    try:
        results = Job(name=name, registry=registry).run(spark)
    except AssertionError as exc:  # a failed data test
        return OpResult(False, detail=str(exc)[:300])
    rows = {r.model: r.rows for r in results if r.rows is not None}
    if rows != expected_rows:
        return OpResult(False, detail=f"rows {rows} != expected {expected_rows}", rows=rows)
    return OpResult(True, rows=rows)


def query_op(spark, name: str, data_dir: str, span: Callable, collect: bool):
    """Construct one catalog query and run it.

    ``collect=False`` (timed ops) writes to the noop sink with an
    Observation of the row count and an order-insensitive xxhash64 sum,
    so the output is checked without leaving the JVM. ``collect=True``
    (the untimed check pass) also brings the rows back for the oracle
    digest. Returns ``(rows or None, column names, (count, hash))``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from local_data_pipeline_spark.queries import QUERIES

    with span("queries.construct"):
        df = QUERIES[name].fn(spark, data_dir)
    row_hash = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("h"),
    )
    with span("queries.execute"):
        if collect:
            rows = observed.collect()
        else:
            rows = None
            observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    return rows, df.columns, (int(got["n"]), str(got["h"]))
