"""Semantics of the round-3 operator beyond the DuckDB hash gate:
frontier merge."""

import pytest

from news_combinator_spark.operators.frontier import merge_frontiers


def test_merge_frontiers_min_priority_and_source_count(spark):
    fa = spark.createDataFrame(
        [("u1", "h0", 2), ("u2", "h0", 1)], "url string, host string, priority int"
    )
    fb = spark.createDataFrame(
        [("u1", "h0", 0), ("u3", "h1", 2)], "url string, host string, priority int"
    )
    out = {r.url: r for r in merge_frontiers(fa, fb).collect()}
    assert out["u1"].priority == 0 and out["u1"].n_sources == 2
    assert out["u2"].priority == 1 and out["u2"].n_sources == 1
    assert out["u3"].priority == 2 and out["u3"].n_sources == 1
    with pytest.raises(ValueError):
        merge_frontiers()
