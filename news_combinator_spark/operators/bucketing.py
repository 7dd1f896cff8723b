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
    "rendezvous_shard",
    "reshard_moves",
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


def rendezvous_shard(key_col, n_shards: int) -> "F.Column":  # noqa: F821
    """Rendezvous (highest-random-weight) shard id for a key column:
    argmax over s in [0, n_shards) of md5(key || ':' || s).

    HRW (Thaler & Ravishankar 1998) is the consistent-placement rule
    the sharded URL-seen structures need (operators/bloom.py shards
    by hash prefix, which is uniform but
    NOT stable under shard-count change: growing 16 -> 20 prefix
    shards remaps ~3/4 of all keys, forcing a near-total rebuild of
    the seen-set). Under HRW a key moves only when one of the NEW
    shards wins its argmax, so an N -> M grow remaps exactly the
    theoretical minimum (M-N)/M fraction in expectation and every
    unmoved key keeps its exact shard — grow the seen-set fleet
    without rebuilding what didn't move.

    Shape: one O(n_shards)-wide JVM expression per row (array of
    (hash, shard) structs -> array_max), zero shuffle, zero Python.
    Cost is linear in n_shards, so this addresses PHYSICAL shard
    counts (10^1-10^3, each holding one bloom shard); for
    10^4+ logical buckets keep prefix sharding inside a physical
    shard — stability only matters at the physical (rebuild) level.
    md5 rather than an engine-native hash so the assignment is
    reproducible across engines and languages (any stack can route a
    URL to its shard with four lines of stdlib).
    """
    from pyspark.sql import functions as F

    k = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.array_max(
        F.array(
            *[
                F.struct(
                    F.md5(F.concat(k, F.lit(f":{s}"))).alias("h"),
                    F.lit(s).alias("s"),
                )
                for s in range(n_shards)
            ]
        )
    )["s"]


def reshard_moves(
    df: DataFrame, key: str, n_old: int, n_new: int
) -> DataFrame:
    """Per-key rendezvous placement under two fleet sizes:
    (key, shard_old, shard_new, moved). The HRW stability audit — at
    10^10 seen URLs the fraction with moved=true is the fraction of
    the seen-set that must migrate when the shard fleet grows
    N -> M, and HRW guarantees it concentrates at (M-N)/M (vs
    ~(M-N)/M + (N-1)/N under prefix resharding). Pure per-row
    expressions; no shuffle.
    """
    from pyspark.sql import functions as F

    old = rendezvous_shard(key, n_old)
    new = rendezvous_shard(key, n_new)
    return df.select(
        key,
        old.alias("shard_old"),
        new.alias("shard_new"),
        (old != new).alias("moved"),
    )
