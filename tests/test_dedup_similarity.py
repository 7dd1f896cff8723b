"""Dedup operator: exact keep-first."""

from news_combinator_spark.operators import dedup as dd


def test_exact_dedup_keeps_first(spark):
    rows = [(1, "same"), (2, "same"), (3, "other"), (4, "same")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dd.exact_dedup(df).collect())
    assert kept == [1, 3]
