"""Bloom seen-filter: no false negatives; FP rate bounded; merge OK.

ShardedBloom (the 10^10-scale seen-set path, VERDICT r2 finding #1):
bloom ⊇ exact, per-shard memory bounded at O(total/shards), delta
merge is union, and the state is a DataFrame — never a driver bitset.
"""

import numpy as np

from news_combinator_spark.operators.bloom import (
    build_sharded_bloom,
    optimal_params,
    sharded_params,
)

from tests.bloom_legacy import Bloom, build_bloom, maybe_seen_udf


def test_no_false_negatives_local():
    m, k = optimal_params(1000, 1e-6)
    b = Bloom(m, k)
    vals = [f"http://h{i % 7}.test/{i}" for i in range(1000)]
    b.add_local(vals)
    assert b.contains_local(vals).all()


def test_false_positive_rate_bounded():
    m, k = optimal_params(5000, 1e-4)
    b = Bloom(m, k)
    b.add_local([f"in-{i}" for i in range(5000)])
    probes = [f"out-{i}" for i in range(20000)]
    fp = b.contains_local(probes).sum()
    assert fp / 20000 < 1e-2  # generous ceiling over the 1e-4 design point


def test_merge_is_union():
    m, k = optimal_params(100, 1e-6)
    b1, b2 = Bloom(m, k), Bloom(m, k)
    b1.add_local(["a", "b"])
    b2.add_local(["c"])
    b1.or_(b2.bits)
    assert b1.contains_local(["a", "b", "c"]).all()


def test_distributed_build_matches_local(spark):
    vals = [(f"http://x.test/{i}",) for i in range(2000)]
    df = spark.createDataFrame(vals, "url string").repartition(8)
    m, k = optimal_params(2000, 1e-6)
    bloom = build_bloom(df, "url", m, k)
    local = Bloom(m, k)
    local.add_local([v[0] for v in vals])
    assert np.array_equal(bloom.bits, local.bits)
    # udf path agrees
    udf = maybe_seen_udf(spark, bloom)
    from pyspark.sql import functions as F

    out = df.withColumn("maybe", udf(F.col("url"))).toPandas()
    assert out.maybe.all()


def test_sharded_no_false_negatives(spark):
    """bloom ⊇ exact: every inserted url probes maybe=True."""
    vals = [(f"http://h{i % 11}.test/p/{i}",) for i in range(3000)]
    df = spark.createDataFrame(vals, "url string").repartition(8)
    sb = build_sharded_bloom(df, "url", expected_n=3000, fp_rate=1e-4,
                             n_shards=16)
    out = sb.probe(df, "url").toPandas()
    assert len(out) == 3000
    assert out.maybe.all()


def test_sharded_fp_bounded_and_definite_new(spark):
    """Most absent urls probe maybe=False (definitely-new fast path)."""
    seen = spark.createDataFrame(
        [(f"in-{i}",) for i in range(5000)], "url string"
    )
    sb = build_sharded_bloom(seen, "url", expected_n=5000, fp_rate=1e-4,
                             n_shards=16)
    probes = spark.createDataFrame(
        [(f"out-{i}",) for i in range(20000)], "url string"
    )
    fp = sb.probe(probes, "url").toPandas().maybe.sum()
    assert fp / 20000 < 1e-2


def test_sharded_memory_bounded(spark):
    """No materialized bitset exceeds the per-shard byte budget — the
    property that makes the 10^10 frontier feasible. The bit state is
    a (shard, bits) DataFrame with ≤ n_shards bounded rows; nothing
    holds the union."""
    n, shards = 4000, 32
    seen = spark.createDataFrame(
        [(f"u-{i}",) for i in range(n)], "url string"
    )
    sb = build_sharded_bloom(seen, "url", expected_n=n, fp_rate=1e-4,
                             n_shards=shards)
    per_shard_bytes = (sb.m_per_shard + 7) // 8
    assert sb.max_shard_bytes() <= per_shard_bytes
    assert sb.bits_df.count() <= shards
    # total bit space ~= unsharded sizing; each shard holds ~1/shards of it
    m_total, _ = optimal_params(n, 1e-4)
    assert per_shard_bytes * 8 < m_total / shards * 1.5


def test_sharded_or_delta_is_union(spark):
    base = spark.createDataFrame([(f"a-{i}",) for i in range(500)],
                                 "url string")
    delta = spark.createDataFrame([(f"b-{i}",) for i in range(500)],
                                  "url string")
    sb = build_sharded_bloom(base, "url", expected_n=1000, fp_rate=1e-4,
                             n_shards=8)
    sb2 = sb.or_delta(delta, "url")
    both = base.unionByName(delta)
    out = sb2.probe(both, "url").toPandas()
    assert out.maybe.all()
    # params unchanged by the merge
    assert (sb2.m_per_shard, sb2.k, sb2.n_shards) == (
        sb.m_per_shard, sb.k, sb.n_shards
    )


def test_sharded_probe_preserves_columns(spark):
    df = spark.createDataFrame(
        [("http://a.test/1", "a.test", 2)], "url string, host string, priority int"
    )
    sb = build_sharded_bloom(df, "url", expected_n=10, fp_rate=1e-3,
                             n_shards=4)
    out = sb.probe(df, "url")
    assert out.columns == ["url", "host", "priority", "maybe"]


def test_sharded_params_union_matches_total():
    """Per-shard sizing sums to ~the unsharded bit budget."""
    m_total, k_total = optimal_params(10**6, 1e-6)
    m_shard, k_shard = sharded_params(10**6, 1e-6, n_shards=256)
    assert abs(m_shard * 256 - m_total) / m_total < 0.01
    assert k_shard == k_total


def test_sharded_paths_never_collect_bitsets():
    """Structural audit (VERDICT r2 'done' criterion: no driver-side
    full-bitset merge): in the sharded bloom code path the
    only driver collect() is the 1-row MAX(length) aggregate of
    max_shard_bytes — the legacy single-bitset build_bloom now lives
    under tests/ (bloom_legacy.py) and is not importable from the
    engine package at all."""
    import inspect

    from news_combinator_spark.operators import bloom

    for fn in (
        bloom.build_sharded_bloom,
        bloom._fold_mixed,
        bloom.ShardedBloom.or_delta,
        bloom.ShardedBloom.probe,
    ):
        src = inspect.getsource(fn)
        assert ".collect()" not in src, fn.__qualname__
        assert "broadcast(" not in src, fn.__qualname__
    # the audit helper is the single sanctioned 1-row collect
    assert ".collect()" in inspect.getsource(bloom.ShardedBloom.max_shard_bytes)
    # VERDICT r4 #7 done-criterion: no driver-merged bloom path is
    # importable from the engine package
    for legacy in ("Bloom", "build_bloom", "maybe_seen_udf"):
        assert not hasattr(bloom, legacy), legacy
