"""Bucketed (pre-shuffled, co-located) join support for the fetch path.

At sandbox scale the frontier persists `web_meta` re-partitioned by
url inside one session (operators/frontier.py) — that partitioning
dies with the session. On a real cluster the web-page store is a
TABLE that many crawl jobs share, so the partitioning must live in
the table layout: Spark bucketing (`bucketBy(n, key)` + `sortBy`)
writes each bucket as its own file set and records the layout in the
catalog. Every later equi-join or aggregation on the bucket key then
reads the big side WITHOUT an Exchange (and, when each bucket is a
single `sortBy`-ordered file and
`spark.sql.legacy.bucketedTableScan.outputOrdering` is on, without a
Sort): per round, only the scheduled-batch side — orders of magnitude
smaller than the 10^10-row page store — shuffles to the bucket count.

This is the Iceberg/warehouse analog of the reference's on-disk
directory layout (its crawler re-reads prior results from disk per
run, reconstruction/crawler/crawler.php:143-190); here the layout is
an optimizer fact the planner exploits rather than an application
convention. The no-Exchange property is pinned by
tests/test_plan_audit.py::test_bucketed_fetch_join_shuffles_probe_side_only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "write_bucketed",
    "colocated_join",
]


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    *,
    path: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Persist `df` as a parquet table bucketed+sorted by `key`.

    `n_buckets` is the cluster-lifetime parallelism choice (buckets are
    the Exchange-free join's partition count; at 10^10 rows pick
    O(10^4) so a bucket stays executor-memory-sized). `path` makes the
    table external — used by tests to keep data in a tmpdir.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, key).sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)
    return table


def colocated_join(
    spark: SparkSession,
    table: str,
    probe: DataFrame,
    key: str = "url",
    how: str = "inner",
) -> DataFrame:
    """Join `probe` against a bucketed table on its bucket key.

    The merge hint pins sort-merge (a broadcast would hide the layout
    win in a plan audit; on the real fetch join the probe side is far
    over broadcast size anyway). The bucketed side contributes its
    layout: no Exchange (and no Sort under the single-file-per-bucket
    ordering conf — see module docstring); only `probe` shuffles.
    """
    return probe.hint("merge").join(spark.table(table), key, how)

