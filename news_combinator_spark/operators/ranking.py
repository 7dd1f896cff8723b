"""Scale-safe global ranking: total-order row numbers without a
single-partition window.

A bare ``Window.orderBy(...)`` coalesces the whole relation into ONE
partition (Spark logs ``WindowExec: No Partition Defined for Window
operation! Moving all data to a single partition``) — at a 10^10-row
frontier that is a guaranteed OOM / single-task stall. When the leading
sort keys have bounded cardinality, the identical total order
decomposes into:

1. ``row_number`` within each leading-key group (parallel window, one
   hash shuffle on the group keys);
2. per-group counts (tiny: one row per group);
3. an exclusive prefix sum over the counts frame ordered by the group
   keys — a window over *group-cardinality* rows, never data rows;
4. broadcast-join the offsets back on the group keys, null-safe (a
   null key is a group like any other); global rank = offset + local
   rank.

The only single-partition stage left operates on the aggregated counts
frame, bounded by key cardinality (e.g. rounds x priorities x hosts),
not by data volume. If the group-key cardinality is itself huge, apply
the same decomposition recursively (rank hosts within (round,
priority), then offset the rounds x priorities totals).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bounded_part_key() -> Column:
    """Non-foldable constant partition key for windows whose frame is
    cardinality-BOUNDED by construction (a LIMIT prefix, a per-group
    counts frame, a centroid table) rather than data-sized.

    Semantically identical to no partitioning — every row maps to one
    reducer — but the physical plan becomes a hashpartitioning
    exchange with a non-empty window spec instead of ``Exchange
    SinglePartition`` + the ``WindowExec: No Partition Defined``
    warning, which this codebase reserves for genuine data-sized
    coalesces (the 100x-scale killer class; see test_plan_audit).
    A foldable ``F.lit(0)`` does NOT work: Spark 4's
    EliminateWindowPartitions rule folds constant partition keys back
    to the empty spec. ``spark_partition_id()`` is non-deterministic
    to Catalyst, so ``spark_partition_id() * 0`` survives while still
    evaluating to 0 for every row."""
    return F.spark_partition_id() * F.lit(0)


def partitioned_global_rank(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[Column | str],
    out_col: str = "rank",
    part_order: list[Column] | None = None,
    base: int = 0,
    cast_to: str = "long",
) -> DataFrame:
    """Add ``out_col`` = row_number over the total order
    (*part_cols-in-part_order, *order_cols) without coalescing the data
    to one partition.

    ``part_order`` defaults to ascending ``part_cols``; pass explicit
    ``F.desc(...)`` columns for descending group order (the within-group
    ``order_cols`` are taken as given). ``base`` shifts the whole
    ranking — used to continue a numbering across resumed runs.
    """
    part_order = part_order or [F.asc(c) for c in part_cols]
    w_local = Window.partitionBy(*part_cols).orderBy(*order_cols)
    ranked = df.withColumn("_lrn", F.row_number().over(w_local))
    counts = df.groupBy(*part_cols).agg(F.count(F.lit(1)).alias("_n"))
    # frame bounded by group-key cardinality (one row per group)
    w_off = (
        Window.partitionBy(bounded_part_key())
        .orderBy(*part_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    keys = [f"_k{i}" for i in range(len(part_cols))]
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select(*(F.col(c).alias(k) for c, k in zip(part_cols, keys)), "_off")
    # null-safe: a null group key is one group of the total order (the
    # sort places it like any value), so it must find its offset too
    on = [F.col(c).eqNullSafe(F.col(k)) for c, k in zip(part_cols, keys)]
    rest = [c for c in df.columns if c not in part_cols]
    return ranked.join(F.broadcast(offsets), on).select(
        *part_cols,
        *rest,
        (F.col("_off") + F.col("_lrn") + F.lit(base))
        .cast(cast_to)
        .alias(out_col),
    )


def ranked_prefix(
    df: DataFrame,
    order_cols: list[Column | str],
    limit: int,
    out_col: str = "rn",
    cast_to: str = "int",
) -> DataFrame:
    """Rank only the top-``limit`` rows of a total order: ``orderBy +
    limit`` first (Spark compiles it to TakeOrderedAndProject — a
    parallel per-partition top-k plus a bounded merge, no global sort),
    then a row_number window over the LIMIT-BOUNDED prefix. The single
    partition the window needs holds at most ``limit`` rows regardless
    of input size — the right plan for pagination (page*size rows) and
    top-k-with-rank outputs."""
    prefix = df.orderBy(*order_cols).limit(limit)
    # frame bounded by `limit`
    w = Window.partitionBy(bounded_part_key()).orderBy(*order_cols)
    return prefix.withColumn(
        out_col, F.row_number().over(w).cast(cast_to)
    )

