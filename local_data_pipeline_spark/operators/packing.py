"""Training-sequence packing at scale: distributed cumulative sums.

``pack_training_sequences`` (queries.py) expresses concat-and-chunk
packing with a global ordered window — correct, oracle-checkable, but a
global ``Window.orderBy`` with no partition key executes as ONE task:
the classic scale trap. This module provides the shape that survives
100 TB: range-partition by the ordering key, cumsum within each
partition, then add per-partition offsets (an in-plan prefix sum over
the K-row shard-totals relation, broadcast back; only distributed_ntile
still collects, because its bucket formula needs n on the driver).
Identical results (tested), linear scaling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: An ordering key: a column name (ascending) or ``(name, "desc")``.
OrderSpec = "str | tuple[str, str]"


def _order_exprs(
    order_col: str | tuple[str, str] | Sequence[str | tuple[str, str]],
) -> list[Column]:
    """SortOrder expressions for both ``repartitionByRange`` and
    ``Window.orderBy`` — the two MUST agree, or shard ids stop being
    contiguous under the window's order and the offset math breaks.
    ``order_col`` is one ordering key or a sequence of them."""
    single = isinstance(order_col, str) or (
        isinstance(order_col, tuple)
        and len(order_col) == 2
        and all(isinstance(e, str) for e in order_col)
        and order_col[1] in ("asc", "desc")
    )
    out: list[Column] = []
    for spec in [order_col] if single else order_col:
        if isinstance(spec, str):
            out.append(F.col(spec).asc())
        else:
            name, direction = spec
            if direction not in ("asc", "desc"):
                raise ValueError(f"order direction must be asc|desc: {spec!r}")
            out.append(
                F.col(name).desc() if direction == "desc" else F.col(name).asc()
            )
    return out


def _shard_count(df: DataFrame, n_partitions: int | None) -> int:
    """``n_partitions``, else the session's configured shuffle width —
    the same knob every other exchange in the job uses (clusters set it
    to match executor count; AQE coalesces small shards). A fixed
    constant either under-shards a cluster or pays needless task
    dispatch on a 15k-row local input."""
    if n_partitions is not None:
        return n_partitions
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def distributed_cumsum(
    df: DataFrame,
    order_col: str | Sequence[str],
    value_col: str,
    out_col: str = "cumsum",
    n_partitions: int | None = None,
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` under the total order of
    ``order_col`` (unique key), computed without any single-task stage.

    Plan: ``repartitionByRange(order_col)`` assigns contiguous key ranges
    to partitions IN PARTITION-ID ORDER — that ordering is the range
    partitioner's contract and survives AQE coalescing (only adjacent
    partitions merge). ``spark_partition_id()`` therefore is a valid
    shard key: per-shard window cumsums are independent tasks, and each
    shard's base offset is the exclusive prefix sum of the K shard
    totals — computed IN-PLAN as a window over the K-row per-shard
    aggregate (K = shard count, bounded by cluster width, never by data)
    and broadcast-joined back. Round 11 moved this prefix from a
    construction-time ``collect()`` + ``createDataFrame`` round-trip to
    the in-plan window: one action instead of two job trees, measured
    4.0-4.4 s → 3.4-3.7 s warm (21.1 s → 3.4 s first execution) on the
    sweep-line query at sf0.1, identical results. The exact result does
    not depend on where the sampled range boundaries fall — only on
    shards being contiguous in key order, and the lazy checkpoint
    guarantees ONE materialization of the sampled partitioning shared
    by the offsets subtree and the main join.
    """
    sort_exprs = _order_exprs(order_col)
    ranged = df.repartitionByRange(
        _shard_count(df, n_partitions), *sort_exprs
    ).withColumn("__shard", F.spark_partition_id())
    w_in = (
        Window.partitionBy("__shard")
        .orderBy(*sort_exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # ONE materialization of the sampled range partitioning — two
    # independent executions could sample different range boundaries.
    # EAGER (round-12 advice fix): with a lazy checkpoint the offsets
    # BroadcastExchange was the first consumer, so the entire
    # corpus-scale range shuffle + per-shard window ran inside the
    # broadcast build future and counted against
    # spark.sql.broadcastTimeout (300 s default — a scale hazard, not a
    # local one). Materializing first costs one extra job dispatch
    # locally; the broadcast build then aggregates K cached rows.
    local = (
        ranged.withColumn("__local", F.sum(value_col).over(w_in))
        .localCheckpoint(eager=True)
    )
    # exclusive prefix of the K shard totals, in-plan: the single-
    # partition window is over the __shard-keyed aggregate — at most one
    # row per shard, bounded by cluster width (plan-lint S1 recognizes
    # the __shard-keyed aggregate as bounded for exactly this shape)
    totals = local.groupBy("__shard").agg(F.sum(value_col).alias("__total"))
    w_sh = Window.orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = totals.select(
        "__shard",
        F.coalesce(F.sum("__total").over(w_sh), F.lit(0)).alias("__offset"),
    )
    return (
        local.join(F.broadcast(off), "__shard")
        .withColumn(
            out_col, F.col("__local") + F.col("__offset") - F.col(value_col)
        )
        .drop("__shard", "__local", "__offset")
    )


def _distributed_cumsum_with_total(
    df: DataFrame,
    order_col: str | Sequence[str],
    value_col: str,
    out_col: str,
    n_partitions: int | None,
) -> tuple[DataFrame, int]:
    """Collecting cumsum variant: also returns the grand total (already
    on the driver from the shard-totals collect). Used ONLY by callers
    that genuinely need n on the driver (distributed_ntile's bucket
    formula); plain distributed_cumsum/distributed_rank compute the
    offsets in-plan instead (round 11 — no construction-time collect)."""
    sort_exprs = _order_exprs(order_col)
    ranged = df.repartitionByRange(
        _shard_count(df, n_partitions), *sort_exprs
    ).withColumn("__shard", F.spark_partition_id())
    w_in = (
        Window.partitionBy("__shard")
        .orderBy(*sort_exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Materialize once: the totals collect and the final join are two
    # jobs, and range boundaries come from sampling — recomputing the
    # partitioning per job could shift shard assignment between them.
    # eager=False: the totals collect right below is the materializing
    # action anyway; an eager checkpoint would add a whole extra job.
    local = (
        ranged.withColumn("__local", F.sum(value_col).over(w_in))
        .localCheckpoint(eager=False)
    )

    totals = (
        local.groupBy("__shard")
        .agg(F.sum(value_col).alias("__total"))
        .orderBy("__shard")
        .collect()
    )
    offsets, acc = [], 0
    for r in totals:
        offsets.append((r["__shard"], acc))
        acc += r["__total"]
    off_df = df.sparkSession.createDataFrame(offsets, "__shard int, __offset bigint")
    out = (
        local.join(F.broadcast(off_df), "__shard")
        .withColumn(out_col, F.col("__local") + F.col("__offset") - F.col(value_col))
        .drop("__shard", "__local", "__offset")
    )
    return out, acc


def distributed_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "rank",
    n_partitions: int | None = None,
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_cols)`` without the single-task
    global window: an exclusive distributed prefix sum of ones, plus one.
    ``order_cols`` must form a total order (add a unique tie-break key).
    Offsets are in-plan (see distributed_cumsum) — no driver collect."""
    ones = df.withColumn("__one", F.lit(1).cast("bigint"))
    ranked = distributed_cumsum(ones, order_cols, "__one", "__rk", n_partitions)
    return ranked.withColumn(out_col, (F.col("__rk") + 1)).drop("__one", "__rk")


def _distributed_rank_with_count(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str,
    n_partitions: int | None,
) -> tuple[DataFrame, int]:
    ones = df.withColumn("__one", F.lit(1).cast("bigint"))
    ranked, n = _distributed_cumsum_with_total(
        ones, order_cols, "__one", "__rk", n_partitions
    )
    return (
        ranked.withColumn(out_col, (F.col("__rk") + 1)).drop("__one", "__rk"),
        n,
    )


def distributed_ntile(
    df: DataFrame,
    order_cols: Sequence[str],
    n_buckets: int,
    out_col: str = "bucket",
    n_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n)`` over a global total order, computed scalably.

    SQL ntile semantics: with n rows and k buckets, the first ``n % k``
    buckets hold ``n // k + 1`` rows, the rest ``n // k`` — reproduced
    from the distributed rank with the closed-form bucket formula, so no
    stage ever sees more than one range-partitioned shard. The plain
    ``F.ntile`` over an un-partitioned window — what a direct translation
    would use — funnels the entire table through ONE task."""
    ranked, n = _distributed_rank_with_count(df, order_cols, "__r", n_partitions)
    q, rem = divmod(n, n_buckets)
    big = q + 1
    r = F.col("__r")
    if q == 0:  # fewer rows than buckets: row r -> bucket r
        bucket = r
    else:
        # integer ceil-division (a DIV b) keeps the formula exact at any n,
        # where double division would round near the 2^53 boundary
        bucket = F.when(
            r <= rem * big, F.expr(f"1 + (__r - 1) DIV {big}")
        ).otherwise(F.expr(f"{rem + 1} + (__r - 1 - {rem * big}) DIV {q}"))
    return ranked.withColumn(out_col, bucket.cast("bigint")).drop("__r")


def distributed_lead(
    df: DataFrame,
    order_col: str,
    value_col: str | None = None,
    out_col: str = "next",
    n_partitions: int | None = None,
) -> DataFrame:
    """``lead(value_col) OVER (ORDER BY order_col)`` without the
    single-task global window.

    Range-partition on ``order_col`` (must be a total order — dedupe
    first), lead within each shard, then patch each shard's LAST row —
    the only one whose successor lives in the next shard — from a K-row
    per-shard-firsts relation (K = shard count, a few bytes; empty
    shards are naturally absent from the aggregate, and the lead over
    present shards skips them). The boundary lookup is computed IN-PLAN
    (a lead over the K-row aggregate, broadcast back — round 11; the
    previous construction-time collect + createDataFrame round-trip cost
    an extra job tree). The global maximum keeps a NULL lead, exactly
    like the native window."""
    if value_col is None:
        value_col = order_col
    ranged = df.repartitionByRange(
        _shard_count(df, n_partitions), F.col(order_col)
    ).withColumn("__shard", F.spark_partition_id())
    w = Window.partitionBy("__shard").orderBy(order_col)
    # Materialize once (range boundaries come from sampling): the firsts
    # collect and the final join must see the same shard assignment.
    # EAGER for the same round-12 advice reason as distributed_cumsum:
    # lazily, the boundary BroadcastExchange was the materializing
    # consumer, putting the corpus-scale shuffle+window under
    # spark.sql.broadcastTimeout.
    # __is_last flags each shard's TRUE last row (unique: order_col is a
    # total order) — only that row gets boundary-patched, so a mid-shard
    # row whose successor's value is genuinely NULL keeps its NULL lead,
    # exactly like the native window (nullable value_col is safe).
    led = (
        ranged.withColumn(out_col, F.lead(value_col).over(w))
        .withColumn(
            "__is_last",
            F.col(order_col)
            == F.max(order_col).over(Window.partitionBy("__shard")),
        )
        .localCheckpoint(eager=True)
    )
    firsts = led.groupBy("__shard").agg(
        F.min_by(value_col, F.col(order_col)).alias("__first")
    )
    # next PRESENT shard's first value: a lead over the K-row firsts
    # relation ordered by shard id (single-partition window over at most
    # one row per shard — bounded by cluster width, the S1-recognized
    # __shard-aggregate shape)
    boundary = firsts.select(
        "__shard",
        F.lead("__first").over(Window.orderBy("__shard")).alias("__next_first"),
    )
    return (
        led.join(F.broadcast(boundary), "__shard", "left")
        .withColumn(
            out_col,
            F.when(F.col("__is_last"), F.col("__next_first")).otherwise(
                F.col(out_col)
            ),
        )
        .drop("__shard", "__next_first", "__is_last")
    )


def bin_pack_nfd(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    capacity: int,
    n_shards: int = 64,
) -> DataFrame:
    """Boundary-respecting bin packing: every item goes WHOLE into a bin
    of ``capacity`` (no document ever straddles a training-sequence
    boundary — the alternative layout to concat-and-chunk
    ``pack_training_sequences``, whose truncation cost
    ``pack_boundary_split_report`` measures).

    Greedy packing is inherently sequential, so the scale shape is
    shard-then-pack: a deterministic md5 hash of ``id_col`` (the same
    engine-stable hash as ``dedup.hash_split``) splits items into
    ``n_shards`` independent shards; each shard is packed by
    next-fit-decreasing (items sorted by weight desc then id; an item
    joins the one open bin if it fits, else opens a new bin; items over
    capacity get a dedicated bin) inside ONE Arrow-batched
    ``applyInPandas`` task. Parallelism = n_shards, per-task memory =
    one shard; at 100 TB pick n_shards ~ n_items / items_per_task and
    bins stay shard-local (bin ids are (shard, bin_idx) pairs).
    Decreasing order makes next-fit competitive with first-fit (every
    later item is no larger than the one that closed the bin) while
    keeping the recurrence single-state — which is also what makes the
    packing verifiable row-for-row by a SQL recursive CTE.

    Returns one row per item: (shard, id, weight, bin_idx) with
    ``bin_idx`` starting at 1 per shard. Deterministic: pure function of
    the ids and weights, independent of partitioning."""
    if capacity <= 0 or n_shards <= 0:
        raise ValueError("capacity and n_shards must be positive")
    import pandas as pd

    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint"),
        F.lit(n_shards),
    )
    items = df.select(
        shard.alias("shard"),
        F.col(id_col).cast("bigint").alias(id_col),
        F.col(weight_col).cast("bigint").alias(weight_col),
    )
    schema = f"shard bigint, {id_col} bigint, {weight_col} bigint, bin_idx bigint"

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            [weight_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list[int] = []
        bin_idx, remaining = 0, -1  # first item always opens bin 1
        for w in pdf[weight_col]:
            w = int(w)
            if bin_idx > 0 and w <= remaining:
                remaining -= w
            else:
                bin_idx += 1
                remaining = 0 if w >= capacity else capacity - w
            bins.append(bin_idx)
        return pdf.assign(bin_idx=bins)[[
            "shard", id_col, weight_col, "bin_idx"
        ]]

    return items.groupBy("shard").applyInPandas(pack, schema)
