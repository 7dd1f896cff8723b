"""Semantics of the round-3 operators beyond the DuckDB hash gate:
WAT round-trip, frontier merge."""

import pyspark.sql.functions as F
import pytest

from news_combinator_spark.operators.frontier import merge_frontiers
from news_combinator_spark.functions import warc as wc


# ------------------------------------------------------------------ wat


def test_wat_records_round_trip_through_warc_parser(spark):
    df = spark.createDataFrame(
        [
            (
                "http://h0.test/a/1.htm",
                "hello world",
                "2024-01-01 00:05:00",
                "http://h0.test/a/2.htm",
                "http://h1.test/a/3.htm",
            )
        ],
        "url string, text string, ts string, next1_url string, "
        "next2_url string",
    ).withColumn("warc_ts", F.to_timestamp("ts"))
    rec = wc.wat_records(df).select("wat_record").collect()[0][0]
    parsed = wc.records_from_warc(
        spark.createDataFrame([("h0", rec)], "host string, warc string")
    ).collect()
    assert len(parsed) == 1
    p = parsed[0]
    assert p.rec_type == "metadata"
    assert p.target_uri == "http://h0.test/a/1.htm"
    assert p.payload.startswith('{"WARC-Target-URI"')
    assert '"Links":["http://h0.test/a/2.htm","http://h1.test/a/3.htm"]' in (
        p.payload
    )
    # declared Content-Length == payload length (the parser truncates
    # by it, so equality means nothing was cut)
    assert f"Content-Length: {len(p.payload)}\n" in rec


# ------------------------------------------------------------- frontier


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
