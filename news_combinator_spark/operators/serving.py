"""Serving-layer operators — the reference website's read path as
DataFrame builders (SURVEY.md §2: P5, W4, O3, J4).

All pure built-in expressions (codegen'd, pushdown-friendly). The
registry entries ``front_page_ranking``, ``entry_lookup`` and
``comments_sort`` (plans/queries.py) run through these builders and are
hash-checked against their DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ranking import partitioned_global_rank, ranked_prefix


def clamp_range_days(range_days: int, default: int = 3, lo: int = 1, hi: int = 50) -> int:
    """indexAction.php:8-13 — range clamped to [1,50], default 3."""
    if range_days is None:
        return default
    return max(lo, min(hi, int(range_days)))


def rank_front_page(
    clusters: DataFrame,
    sources_col: str = "source_names",
    preferred_source: str = "reetsee",
) -> DataFrame:
    """Newest day first; within a day, entries carrying the preferred
    source first, then more distinct sources first
    (indexAction.php:57-68 usort), deterministic tie-break on
    cluster_id. Adds ``has_preferred``, ``n_distinct_sources`` and the
    int global ``rank`` (1-based). The rank is taken within each day
    (parallel) and offset by the broadcast per-day prefix sums, so the
    only unpartitioned frame is the distinct-day counts."""
    sources_arr = F.split(F.col(sources_col), ",")
    feat = clusters.withColumn(
        "has_preferred",
        F.array_contains(sources_arr, preferred_source).cast("int"),
    ).withColumn("n_distinct_sources", F.size(F.array_distinct(sources_arr)))
    return partitioned_global_rank(
        feat,
        part_cols=["day_time"],
        part_order=[F.desc("day_time")],
        order_cols=[
            F.desc("has_preferred"),
            F.desc("n_distinct_sources"),
            F.asc("cluster_id"),
        ],
        out_col="rank",
        cast_to="int",
    )


def entry_lookup(clusters: DataFrame, contents: DataFrame) -> DataFrame:
    """J4: cluster -> member contents via the csv id list
    (entryAction.php:79-87 WHERE abstract_id IN (...)). Explode the
    array then equi-join (broadcast-friendly when the cluster side is
    one id's row)."""
    member = clusters.select(
        "cluster_id",
        F.explode(F.split(F.col("abstract_ids"), ",")).alias("abstract_id"),
    ).withColumn("abstract_id", F.col("abstract_id").cast("long"))
    return member.join(contents, "abstract_id", "inner")


def paginate(df: DataFrame, order_cols, pn: int = 1, rn: int = 20) -> DataFrame:
    """O3 comment paging (commentsAction.php:10-11): page ``pn`` of
    ``rn`` rows, each row keeping its 1-based position in the total
    order as the int column ``rn``. Page pn needs only the top pn*rn
    rows of the order, so rank a limit-bounded prefix
    (TakeOrderedAndProject) instead of windowing the whole relation
    into one partition."""
    prefix = ranked_prefix(df, list(order_cols), limit=pn * rn, out_col="rn")
    return prefix.filter(F.col("rn") > (pn - 1) * rn)
