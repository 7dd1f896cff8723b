"""Semantics of the round-3 second-batch operators beyond the DuckDB
hash gate: rendezvous resharding stability."""

import pyspark.sql.functions as F

from news_combinator_spark.operators.bucketing import (
    rendezvous_shard,
    reshard_moves,
)


# ----------------------------------------------------------- rendezvous


def test_rendezvous_matches_stdlib_md5(spark):
    """The placement is reproducible from four lines of stdlib — the
    cross-language routing contract."""
    import hashlib

    urls = [f"http://h{i}.test/a/{i}.htm" for i in range(64)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r.url: r.s
        for r in df.select(
            "url", rendezvous_shard("url", 12).alias("s")
        ).collect()
    }
    for u in urls:
        want = max(
            range(12),
            key=lambda s: hashlib.md5(f"{u}:{s}".encode()).hexdigest(),
        )
        assert got[u] == want


def test_reshard_moves_bounded_and_stable(spark):
    """Grown fleet 16 -> 20: every unmoved key keeps its exact shard,
    moved keys all land on a NEW shard (HRW property: a key moves only
    when a new shard wins), and the moved fraction sits near the
    theoretical (20-16)/20 = 0.2."""
    df = spark.range(4000).select(
        F.concat(F.lit("http://x.test/"), F.col("id")).alias("url")
    )
    rows = reshard_moves(df, "url", 16, 20).collect()
    moved = [r for r in rows if r.moved]
    for r in rows:
        if not r.moved:
            assert r.shard_old == r.shard_new
        else:
            assert r.shard_new >= 16  # only a NEW shard can steal
    frac = len(moved) / len(rows)
    assert 0.15 < frac < 0.25, frac


def test_prefix_resharding_moves_far_more(spark):
    """The contrast that motivates HRW: modulo/prefix resharding
    16 -> 20 remaps the large majority of keys; HRW moves ~20%."""
    df = spark.range(4000).select(
        F.concat(F.lit("http://x.test/"), F.col("id")).alias("url")
    )
    prefix_moved = (
        df.select(
            (
                (F.abs(F.xxhash64("url")) % 16)
                != (F.abs(F.xxhash64("url")) % 20)
            ).alias("m")
        )
        .agg(F.avg(F.col("m").cast("double")))
        .collect()[0][0]
    )
    hrw_moved = (
        reshard_moves(df, "url", 16, 20)
        .agg(F.avg(F.col("moved").cast("double")))
        .collect()[0][0]
    )
    assert prefix_moved > 0.7
    assert hrw_moved < 0.25
