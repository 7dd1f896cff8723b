"""WARC envelope parsing unit tests (segmentation, header nulls,
Content-Length truncation)."""

from news_combinator_spark.functions.warc import records_from_warc

_BLOB = (
    "WARC/1.0\n"
    "WARC-Type: warcinfo\n"
    "X-Synth: 1\n"
    "\n"
    "WARC/1.0\n"
    "WARC-Type: response\n"
    "WARC-Target-URI: http://h.test/a\n"
    "WARC-Date: 2024-01-02 03:04:05\n"
    "Content-Length: 11\n"
    "\n"
    "hello world\n\n"
    "WARC/1.0\n"
    "WARC-Type: response\n"
    "WARC-Target-URI: http://h.test/b\n"
    "WARC-Date: 2024-01-02 03:04:06\n"
    "Content-Length: 14\n"
    "\n"
    "first\n\nsecond!\n\n"
    "WARC/1.0\n"
    "WARC-Type: response\n"
    "WARC-Target-URI: http://h.test/c\n"
    "WARC-Date: not-a-date\n"
    "\n"
    "no length header\n\n"
    "WARC/1.0\n"
    "WARC-Type: response\n"
    "WARC-Target-URI: http://h.test/d\n"
    "Content-Length: 4\n"
    "\n"
    "truncate me\n\n"
)


def test_records_from_warc(spark):
    blobs = spark.createDataFrame(
        [("h.test", _BLOB)], "host string, warc string"
    )
    rows = records_from_warc(blobs).collect()
    assert len(rows) == 5
    by_uri = {r.target_uri: r for r in rows}

    info = by_uri[None]
    assert info.rec_type == "warcinfo"
    assert info.warc_date is None
    assert info.content_length is None and info.payload is None

    a = by_uri["http://h.test/a"]
    assert a.payload == "hello world"
    assert a.content_length == 11
    assert a.warc_date.isoformat() == "2024-01-02T03:04:05"

    # a blank line INSIDE the body is payload, not a separator —
    # Content-Length is authoritative
    b = by_uri["http://h.test/b"]
    assert b.payload == "first\n\nsecond!"

    # unparseable date -> null; missing Content-Length -> null payload
    c = by_uri["http://h.test/c"]
    assert c.warc_date is None and c.payload is None

    # declared length clips an over-long body
    d = by_uri["http://h.test/d"]
    assert d.payload == "trun"


def _wave_blob(wave: int, pages: list[tuple[str, str]]) -> str:
    """One crawl wave's WARC blob: a response record per (url, body)."""
    recs = ["WARC/1.0\nWARC-Type: warcinfo\nX-Wave: %d\n\n" % wave]
    for url, body in pages:
        recs.append(
            "WARC/1.0\nWARC-Type: response\n"
            f"WARC-Target-URI: {url}\n"
            f"WARC-Date: 2024-01-0{wave} 00:00:00\n"
            f"Content-Length: {len(body)}\n\n{body}\n\n"
        )
    return "".join(recs)


def test_warc_ingestion_pipeline(spark, tmp_path):
    """End-to-end ingestion: three crawl waves of WARC blobs parse and
    MERGE into a versioned observation store, and an older version of
    the store still serves the observations as of its own wave — the
    public-crawl bootstrap path composed from its operators."""
    from news_combinator_spark.operators.merge import SnapshotTable

    waves = [
        (1, [("http://s.test/a", "a-v1"), ("http://s.test/b", "b-const")]),
        (2, [("http://s.test/a", "a-v2"), ("http://s.test/b", "b-const")]),
        (3, [("http://s.test/a", "a-v3"), ("http://s.test/b", "b-const"),
             ("http://s.test/c", "c-v3")]),
    ]
    store = SnapshotTable(spark, str(tmp_path / "obs"))
    for wave, pages in waves:
        blobs = spark.createDataFrame(
            [("s.test", _wave_blob(wave, pages))],
            "host string, warc string",
        )
        obs = (
            records_from_warc(blobs)
            .filter("rec_type = 'response'")
            .select("target_uri", "warc_date", "payload")
        )
        store.merge(obs, key_cols=["target_uri", "warc_date"])
    assert store.latest_version() == 3
    assert store.read().count() == 7  # 3 + 3 + 1 observations

    # version 2 holds waves 1-2: a at v1 and v2, b twice, c not yet
    # crawled
    asof = store.read(2).collect()
    assert len(asof) == 4
    assert {r.target_uri for r in asof} == {
        "http://s.test/a", "http://s.test/b",
    }
    assert {
        r.payload for r in asof if r.target_uri == "http://s.test/a"
    } == {"a-v1", "a-v2"}


def test_streaming_warc_ingest(spark, tmp_path):
    """Files landing in the watch directory parse per micro-batch with
    the same envelope semantics as the batch parser."""
    import time

    from news_combinator_spark.streaming.incremental import (
        streaming_warc_ingest,
    )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    (in_dir / "w1.warc").write_text(_wave_blob(1, [
        ("http://s.test/a", "a-v1"), ("http://s.test/b", "b-v1"),
    ]))
    (in_dir / "w2.warc").write_text(_wave_blob(2, [
        ("http://s.test/a", "a-v2"),
    ]))
    q = streaming_warc_ingest(spark, str(in_dir), query_name="warc_t")
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) FROM warc_t").collect()[0][0]
            if n >= 5:
                break
            time.sleep(0.5)
        rows = spark.sql(
            "SELECT source, rec_type, target_uri, payload FROM warc_t"
        ).collect()
    finally:
        q.stop()
    assert len(rows) == 5  # 2 warcinfo + 3 responses
    resp = {
        (r.source, r.target_uri): r.payload
        for r in rows if r.rec_type == "response"
    }
    assert resp == {
        ("w1", "http://s.test/a"): "a-v1",
        ("w1", "http://s.test/b"): "b-v1",
        ("w2", "http://s.test/a"): "a-v2",
    }


def test_header_like_payload_text_does_not_shadow_headers(spark):
    """Headers come from the pre-blank-line header block only,
    anchored to line starts (ADVICE r2): a payload containing
    'Content-Length: 3' or 'WARC-Type: ...' lines must not override
    the envelope's values, and an indented/inline mention inside a
    header line's value is not a header either."""
    from news_combinator_spark.functions.warc import records_from_warc

    payload = "body says WARC-Type: fake\nContent-Length: 3\nrest"
    rec = (
        "WARC/1.0\n"
        "WARC-Type: response\n"
        "WARC-Target-URI: http://h.test/a\n"
        f"Content-Length: {len(payload)}\n"
        "\n"
        f"{payload}\n\n"
    )
    blobs = spark.createDataFrame(
        [("h.test", rec)], "host string, warc string"
    )
    out = records_from_warc(blobs).collect()
    assert len(out) == 1
    r = out[0]
    assert r.rec_type == "response"
    assert r.content_length == len(payload)
    assert r.payload == payload


def test_record_without_blank_line_yields_null_headers(spark):
    """Malformed record (no blank line): header block is empty, so
    every header nulls and the payload is null (no Content-Length)."""
    from news_combinator_spark.functions.warc import records_from_warc

    blobs = spark.createDataFrame(
        [("h.test", "WARC/1.0\nWARC-Type: response\nno blank line")],
        "host string, warc string",
    )
    r = records_from_warc(blobs).collect()[0]
    assert r.rec_type is None and r.payload is None
