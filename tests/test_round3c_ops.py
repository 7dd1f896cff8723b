"""Semantics of the round-3 second-batch operators beyond the DuckDB
hash gate: rendezvous resharding stability, SURT ordering and the
CDX/WAT line shape."""

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


# ------------------------------------------------------------- cdx/surt


def test_surt_and_cdx_line_shape(spark):
    from news_combinator_spark.functions.warc import cdx_records
    import datetime as dt

    df = spark.createDataFrame(
        [
            (
                "http://news.sub.example.co/a/1.htm",
                "news.sub.example.co",
                "hello world",
                dt.datetime(2024, 3, 5, 12, 34, 56),
            ),
            ("http://h1.test", "h1.test", None, dt.datetime(2024, 1, 1)),
        ],
        "url string, host string, text string, warc_ts timestamp",
    )
    rows = {r.host: r for r in cdx_records(df).collect()}
    assert rows["news.sub.example.co"].surt == (
        "co,example,sub,news)/a/1.htm"
    )
    # pathless url -> '/' (the RFC empty-path == '/' rule)
    assert rows["h1.test"].surt == "test,h1)/"
    assert rows["news.sub.example.co"].cdx_ts == "20240305123456"
    line = rows["news.sub.example.co"].cdx_line
    import hashlib

    want_digest = hashlib.md5(b"hello world").hexdigest()
    assert line == (
        "co,example,sub,news)/a/1.htm 20240305123456 "
        '{"url":"http://news.sub.example.co/a/1.htm",'
        f'"digest":"md5:{want_digest}","length":11}}'
    )
    # null text -> empty-string digest and length 0
    assert '"length":0' in rows["h1.test"].cdx_line


def test_surt_orders_host_subtree_contiguously(spark):
    """The point of SURT: every capture of a registered domain sorts
    into one contiguous range."""
    from news_combinator_spark.functions.warc import cdx_records
    import datetime as dt

    rows = [
        (f"http://{h}/p", h, "t", dt.datetime(2024, 1, 1))
        for h in [
            "a.example.com", "b.example.com", "example.com",
            "aexample.com", "zz.org",
        ]
    ]
    df = spark.createDataFrame(
        rows, "url string, host string, text string, warc_ts timestamp"
    )
    surts = sorted(r.surt for r in cdx_records(df).collect())
    com_example = [s for s in surts if s.startswith("com,example")]
    lo = surts.index(com_example[0])
    assert surts[lo : lo + len(com_example)] == com_example
    assert len(com_example) == 3  # aexample.com is NOT in the range


def test_cdx_and_wat_json_escape(spark):
    # ADVICE r3: a url containing '"' or '\' must still yield a valid
    # JSON payload in the CDXJ line and the WAT record.
    import json

    from news_combinator_spark.functions.warc import (
        cdx_records,
        wat_records,
    )

    from datetime import datetime

    df = spark.createDataFrame(
        [('http://h1.test/a?q="x"\\y', "h1.test", "body",
          datetime(2024, 3, 5, 12, 34, 56), "http://h1.test/n1",
          'http://h1.test/"n2"')],
        "url string, host string, text string, warc_ts timestamp, "
        "next1_url string, next2_url string",
    )
    line = cdx_records(df).collect()[0].cdx_line
    payload = line.split(" ", 2)[2]
    obj = json.loads(payload)
    assert obj["url"] == 'http://h1.test/a?q="x"\\y'
    rec = wat_records(df).collect()[0].wat_record
    body = rec.split("\n\n", 1)[1]
    wat = json.loads(body)
    assert wat["WARC-Target-URI"] == 'http://h1.test/a?q="x"\\y'
    assert wat["Links"][1] == 'http://h1.test/"n2"'


