"""File sources/sinks with explicit schemas (never inferred — SURVEY §1.3).

The reference's only storage is DuckDB files; a Spark engine's native
equivalents are Parquet (canonical), CSV, and JSON-lines. All readers take
an explicit schema or DDL string: schema inference is a full extra pass at
100 TB and produces type drift between runs.

Sinks: ``write_table`` is the canonical partitioned-Parquet writer — at
scale, partition columns are the pruning contract with every downstream
reader (see tests/test_file_sources.py for the PartitionFilters proof).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options,
) -> DataFrame:
    return spark.read.options(header=header, **options).schema(schema).csv(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str, **options
) -> DataFrame:
    """JSON-lines with a declared schema (missing fields → null, extra
    fields dropped — the tolerant-reader contract)."""
    return spark.read.options(**options).schema(schema).json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader — same pushdown/pruning contract as Parquet (predicate
    pushdown + column pruning reach the scan; see test_file_sources.py).
    ORC interops with Hive/Trino warehouses where it is the table format."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    write_table(df, path, partition_by=partition_by, mode=mode, fmt="orc")


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Partitioned columnar sink. ``partition_by`` should be the dominant
    filter columns (date, tenant) — each becomes a directory level the
    scanner prunes without reading footers."""
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int = 8,
    rows_per_rowgroup: int = 131072,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet sink for scan-side data skipping on
    ``cluster_by`` (the columns range predicates filter on: event time,
    id ranges).

    ``repartitionByRange`` gives every output file a disjoint key range
    and ``sortWithinPartitions`` makes each ROW GROUP's min/max footer
    stats tight and non-overlapping — so a reader (Spark, DuckDB, any
    parquet engine) skips whole files via min/max and whole row groups
    within files, without any index structure. ``parquet.block.size`` is
    sized via ``rows_per_rowgroup`` so large files still contain multiple
    independently-skippable (and independently-parallelizable) row groups
    — the property the flat testdata files lack (see PERF.md).

    At cluster scale this is the cheap half of Z-ordering: perfect
    skipping on the leading cluster key, no space-filling-curve cost.
    Multi-dimensional skipping needs either a true Z-order (interleave
    bits) or separate tables per access path.
    """
    cols = [F.col(c) for c in cluster_by]
    clustered = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
    # parquet.block.size is in bytes; approximate from an Arrow-ish 64B/row
    # floor so the knob is row-count shaped. Writers that know their row
    # width should pass rows_per_rowgroup accordingly.
    clustered.write.mode(mode).option(
        "parquet.block.size", max(1 << 20, rows_per_rowgroup * 64)
    ).parquet(path)


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    key_col: str = "__zkey",
) -> DataFrame:
    """Append a Z-order (Morton) key interleaving ``cols``.

    Each dimension is min/max-scaled to ``bits`` integer levels with one
    aggregate job (broadcast scalars back into the plan), then the level
    bits are interleaved JVM-side with shift/and/or expressions — pure
    whole-stage-codegen arithmetic, no UDF. ``bits * len(cols)`` must
    fit a signed long (<= 62); nulls sort first (level 0).

    Linear min/max leveling is the standard cheap quantizer; heavily
    skewed dimensions waste levels on empty value space — pre-transform
    such a column (log, rank-bucket) before passing it in.
    """
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must fit a signed long (<= 62)")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    levels = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
        span = (mx - mn) or 1.0 if mx is not None else 1.0
        lvl = F.coalesce(
            F.least(
                F.lit(levels).cast("long"),
                F.floor(
                    (F.col(c).cast("double") - F.lit(mn or 0.0))
                    / F.lit(span)
                    * levels
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
        )
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(lvl, b).bitwiseAND(F.lit(1)).cast("long"),
                b * len(cols) + i,
            )
    return df.withColumn(key_col, z)


def write_zorder(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int = 8,
    rows_per_rowgroup: int = 131072,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet sink — the multi-dimensional half of
    data skipping that ``write_clustered`` (single leading key) leaves
    on the table. Rows are laid out along the Morton curve of
    ``zorder_by``, so every file/row group covers a small
    HYPER-RECTANGLE of the key space: min/max footer stats prune scans
    filtering on ANY subset of the Z columns, not just the leading one.
    The curve key is dropped before writing — the layout, not the
    column, carries the benefit.

    At 100 TB this is the difference between "range lookups on the
    second dimension read everything" and "they read ~a sqrt-ish
    fraction": with D dims and F files, a predicate selective on one
    dim touches ~F^((D-1)/D) files instead of all F.
    """
    keyed = zorder_key(df, zorder_by, bits=bits)
    clustered = (
        keyed.repartitionByRange(n_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    clustered.write.mode(mode).option(
        "parquet.block.size", max(1 << 20, rows_per_rowgroup * 64)
    ).parquet(path)
