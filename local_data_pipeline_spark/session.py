"""SparkSession bootstrap + table loaders.

Replaces the reference's connection/catalog bootstrap
(`/root/reference/src/dagster_pipeline/defs/open_meteo.py:40-45,62` —
``duckdb.connect`` + ``CREATE SCHEMA IF NOT EXISTS``) and the dbt
cross-database attach (`/root/reference/dbt/profiles.yml:5-11`): one local
SparkSession with UTC session time zone and logical databases
``raw`` / ``stg`` / ``int`` / ``pres`` in a single catalog.

100 TB notes: everything here is configuration, not code — on a real cluster
the same builder runs with ``master`` pointed at YARN/K8s, a remote metastore,
and ``spark.sql.shuffle.partitions`` sized to ~2-3× total cores.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: All driver-generated synthetic tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def session_conf(
    app_name: str = "local_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
) -> dict[str, str]:
    """The one Spark configuration every engine session is built from:
    ``local[$SPARK_GRAFT_CPUS]`` (all cores when unset).

    Only settings that differ from Spark's defaults are listed (AQE,
    partition coalescing and whole-stage codegen are already on).
    ``shuffle_partitions`` defaults to ``$SPARK_GRAFT_CPUS`` (else 32);
    the bench, profile and plan-lint harnesses pass 8, sized for the
    local sf0.1 data where task dispatch overhead dominates tiny
    partitions. At cluster scale it must target ~64-128 MB per partition.
    """
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if shuffle_partitions is None:
        shuffle_partitions = int(env_cpus) if env_cpus.isdigit() else 32
    conf = {
        "spark.master": f"local[{env_cpus or '*'}]",
        "spark.app.name": app_name,
        # Single-JVM local mode: the 1g default heap GC-thrashes long
        # sessions (test suite + bench run hundreds of jobs). Harmless if a
        # session already exists (config only applies at JVM launch).
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # local[N] has one executor, so every preferred location can be met
        # at once; the 3 s delay-scheduling wait buys nothing here.
        "spark.locality.wait": "0",
        # Generated-class cache (static conf). The default 100 entries is
        # smaller than one pass's working set (~275 classes for a nightly
        # registry build, ~220 for the iterative operators), so the LRU
        # evicted every class before its reuse and each pass recompiled
        # nearly all of them in Janino and the JIT.
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # events.parquet stores TIMESTAMP(NANOS); Spark reads it as int64 only
        # with this flag (converted back to timestamp in load_table).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
    }
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    return conf


def get_spark(
    app_name: str = "local_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession from :func:`session_conf`.

    This is the only place a SparkSession is built. UTC session TZ pins the
    reference's naive-UTC timestamp convention (open_meteo.py:56).
    """
    conf = session_conf(app_name, shuffle_partitions, warehouse_dir)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release(spark: SparkSession) -> int:
    """Drop a finished query's cached and checkpointed blocks; returns how
    many persistent RDDs were unpersisted.

    localCheckpoint blocks are RDD-level, invisible to the SQL cache
    manager, so ``clearCache()`` alone leaves them resident. The only
    enumeration API, ``getPersistentRDDs``, is a private py4j handle: if
    it is missing this warns (once per process, stderr) and never raises.
    """
    spark.catalog.clearCache()
    try:
        rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    except Exception as exc:  # version drift guard: degrade, do not fail
        warnings.warn(f"persistent-RDD sweep unavailable: {exc}", RuntimeWarning)
        return 0
    for rdd in rdds:
        rdd.unpersist()
    return len(rdds)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalizing types for engine use.

    ``events.ts`` arrives as TIMESTAMP(NANOS) parquet which Spark cannot map
    natively; with ``nanosAsLong`` it reads as int64 nanoseconds and is
    converted here to ``timestamp_ntz`` at microsecond precision (matching
    DuckDB's ns→µs truncation, so oracle comparisons line up).
    """
    if name == "events":
        # Runtime-settable, so this also works under a driver-owned session
        # that did not set it at build time.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # int64 nanos → timestamp_ntz via epoch + day-time interval:
        # TZ-INDEPENDENT (timestamp_micros(..).cast("timestamp_ntz") would
        # render through the session time zone and shift under non-UTC
        # sessions, breaking oracle value comparison)
        df = df.withColumn(
            "ts",
            F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
            + F.expr(
                "make_dt_interval(0, 0, 0, cast(ts div 1000 as decimal(20,0)) / 1000000)"
            ),
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view for Spark SQL use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


#: split-count cache for widen_to_parallelism, keyed by the scan's input
#: file set (+ parallelism): parquet split counts are a function of file
#: sizes and maxPartitionBytes, not of the projection, so every operator
#: widening the same source reuses one probe instead of re-deriving the
#: physical plan through .rdd per call (minhash, jaccard, winnowing,
#: simhash, word_frequencies, unigram all widen `documents`).
_WIDEN_SPLITS_CACHE: "dict[tuple, int]" = {}


def _file_key(uri: str):
    """Cache-key component for one scan input file: (path, size,
    mtime_ns) when the file is locally statable, else the bare path.
    Handles both ``file:///p`` and the null-authority ``file:/p`` form
    some Hadoop Path renderings produce (urlparse normalizes both) —
    a missed form would silently revert to stale-able path-only keys."""
    path = uri
    if uri.startswith("file:"):
        from urllib.parse import unquote, urlparse

        path = unquote(urlparse(uri).path)
    if path.startswith("/"):
        try:
            st = os.stat(path)
            return (uri, st.st_size, st.st_mtime_ns)
        except OSError:
            pass
    return (uri,)


def widen_to_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a NARROW relation up to the cluster's
    default parallelism before expensive per-row map work (tokenize /
    shingle / explode / Arrow UDFs). A ~100 MB parquet arrives as ONE
    input split under the default maxPartitionBytes, which otherwise
    runs the whole map stage as a single straggler task (found at the
    sf1 gate: winnowing 98 s → 28 s; the near-dup closure's serial
    shingle explode). ONLY widens: at real scale the source already has
    more splits than cores and narrowing would be a regression; wide
    inputs pass through untouched, costing nothing.

    The split probe (``df.rdd.getNumPartitions()`` — a physical-plan
    derivation) runs once per (input-file set, parallelism, PLAN SHAPE)
    and is cached; the plan-shape component (the logical plan string
    with expression ids stripped) keeps a derived/post-shuffle relation
    over the same files from sharing a raw scan's entry — without it, a
    200-partition aggregate over documents could poison the scan's key
    (skipping the widen, reinstating the serial straggler) or vice
    versa (narrowing a wide input). Non-scan inputs (no input files)
    fall back to probing every call. Each locally-statable file
    contributes its (size, mtime) to the key, so overwriting the
    same-named parquet with different content (fixture regeneration —
    same file set, same plan shape, different split count) invalidates
    the entry instead of serving a stale split count (round-10
    advice); non-local URIs (hdfs://, s3://) key by path alone — the
    fixture-overwrite scenario is a local-filesystem workflow, and a
    per-call remote stat would cost more than the probe it saves. The
    probe sees the pre-AQE split count, which is the right quantity
    here: we are sizing the MAP stage over the source, and only ever
    widening."""
    import re as _re

    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = tuple(sorted(_file_key(p) for p in df.inputFiles()))
        shape = _re.sub(r"#\d+L?", "", df._jdf.queryExecution().logical().toString())
    except Exception:
        files, shape = (), None
    key = (files, cores, shape) if files else None
    n = _WIDEN_SPLITS_CACHE.get(key) if key else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key:
            _WIDEN_SPLITS_CACHE[key] = n
    if n < cores:
        return df.repartition(cores)
    return df
