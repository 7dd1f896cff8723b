"""Serving builders, media GC, watermark incremental scan,
structured streaming smoke."""

import pytest
from pyspark.sql import functions as F

from news_combinator_spark.operators import serving
from news_combinator_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    gc_old_media,
)
from news_combinator_spark.streaming.incremental import (
    WatermarkStore,
    advance,
    incremental_scan,
)

from conftest import SF_MED


def test_clamp_range_days():
    assert serving.clamp_range_days(None) == 3
    assert serving.clamp_range_days(0) == 1
    assert serving.clamp_range_days(999) == 50
    assert serving.clamp_range_days(7) == 7


def test_rank_front_page_ordering(spark):
    rows = [
        (1, 20240102, "sina,netease"),
        (2, 20240102, "reetsee,sina,netease"),
        (3, 20240102, "sina"),
        (4, 20240103, "sina"),
    ]
    df = spark.createDataFrame(
        rows, "cluster_id long, day_time int, source_names string"
    )
    ranked = serving.rank_front_page(df).collect()
    out = [r["cluster_id"] for r in sorted(ranked, key=lambda r: r["rank"])]
    # newest day first; within a day: reetsee first, then diversity
    assert out == [4, 2, 1, 3]


def test_entry_lookup_join(spark):
    clusters = spark.createDataFrame(
        [(100, "1,2,3")], "cluster_id long, abstract_ids string"
    )
    contents = spark.createDataFrame(
        [(1, "t1"), (2, "t2"), (3, "t3"), (4, "t4")],
        "abstract_id long, title string",
    )
    out = serving.entry_lookup(clusters, contents).collect()
    assert sorted(r["abstract_id"] for r in out) == [1, 2, 3]


def test_paginate(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "x long")
    page2 = serving.paginate(df, [F.asc("x")], pn=2, rn=10).collect()
    assert sorted(r["x"] for r in page2) == list(range(10, 20))


def test_gc_old_media(spark):
    """The GC filter over MEDIA_SCHEMA rows: old rows go, kept rows
    keep their binary payload and their typed `ext` map (SURVEY F7)."""
    from pyspark.sql import types as T

    rows = [
        (i, 100 + i, day, "jpg", bytes([i, 0xFF]), {"w": str(i), "src": "up"})
        for i, day in ((1, 20240101), (2, 20240106), (3, 20240110))
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    assert media.schema["ext"].dataType == T.MapType(
        T.StringType(), T.StringType()
    )
    kept = sorted(
        gc_old_media(media, today_day=20240110).collect(),
        key=lambda r: r["media_id"],
    )
    # day <= today-5 dropped (clearpic.php:38-77)
    assert [r["media_id"] for r in kept] == [2, 3]
    assert [bytes(r["payload"]) for r in kept] == [b"\x02\xff", b"\x03\xff"]
    assert [r["ext"] for r in kept] == [
        {"w": "2", "src": "up"},
        {"w": "3", "src": "up"},
    ]


def test_watermark_incremental_scan(spark, tmp_path):
    store = WatermarkStore(str(tmp_path / "wm"))
    df = spark.createDataFrame(
        [(i, i * 100) for i in range(1, 6)], "id long, ts long"
    )
    batch1 = incremental_scan(df, store, "ts")
    assert batch1.count() == 5
    advance(store, batch1, "ts")
    assert store.read() == 500
    # nothing new
    assert incremental_scan(df, store, "ts").count() == 0
    # late row with old ts is silently skipped forever (reference
    # semantics: categorize.py:31-37)
    df2 = df.union(spark.createDataFrame([(99, 50)], "id long, ts long"))
    assert incremental_scan(df2, store, "ts").count() == 0


def test_structured_streaming_windowed_counts(spark):
    from news_combinator_spark.streaming.incremental import (
        streaming_event_counts,
    )

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    q = streaming_event_counts(
        spark, SF_MED, schema, window="1 hour", watermark="2 hours",
        query_name="t_counts",
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM t_counts")
        assert out.count() > 0
        row = out.limit(1).collect()[0]
        assert row["n"] >= 1
    finally:
        q.stop()


def test_streaming_seen_filter_exact_mode(spark, tmp_path):
    """The seen filter has one mode and it is exact: state is keyed on
    the url string, so no collision can drop a never-seen URL (parity
    with the batch frontier's exact anti-join semantics). The removed
    ``state=`` knob is rejected."""
    from news_combinator_spark.streaming.incremental import (
        streaming_seen_filter,
    )

    in_dir = str(tmp_path / "disc2")
    schema = "url string, host string, priority int"
    spark.createDataFrame(
        [("http://x.test/1", "x.test", 1),
         ("http://x.test/2", "x.test", 2),
         ("http://x.test/1", "x.test", 1)],
        schema,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming_seen_filter(spark, in_dir, query_name="t_seen_exact")
    try:
        q.processAllAvailable()
        urls = [r["url"] for r in spark.sql("SELECT url FROM t_seen_exact").collect()]
        assert sorted(urls) == ["http://x.test/1", "http://x.test/2"]
    finally:
        q.stop()
    with pytest.raises(TypeError):
        streaming_seen_filter(spark, in_dir, state="exact")


def test_streaming_seen_filter_matches_set_simulation(spark, tmp_path):
    """Five micro-batches with within-batch and cross-batch repeats:
    the sink equals a Python-set simulation, each url exactly once,
    with the host and priority of the batch that first named it (a
    cross-batch repeat carries a different priority, which must not
    win)."""
    from news_combinator_spark.streaming.incremental import (
        streaming_seen_filter,
    )

    in_dir = str(tmp_path / "disc_sim")
    schema = "url string, host string, priority int"
    batches = [
        [("http://a.test/1", "a.test", 1), ("http://a.test/2", "a.test", 2),
         ("http://a.test/1", "a.test", 1), ("http://b.test/1", "b.test", 3)],
        [("http://a.test/2", "a.test", 9), ("http://c.test/1", "c.test", 0),
         ("http://c.test/1", "c.test", 0)],
        [("http://b.test/1", "b.test", 7), ("http://a.test/1", "a.test", 8)],
        [("http://d.test/1", "d.test", 4), ("http://b.test/2", "b.test", 5),
         ("http://d.test/1", "d.test", 4), ("http://c.test/1", "c.test", 6)],
        [("http://e.test/1", "e.test", 2), ("http://a.test/3", "a.test", 1),
         ("http://e.test/1", "e.test", 2), ("http://d.test/1", "d.test", 9)],
    ]
    seen, expected = set(), []
    for rows in batches:
        for url, host, prio in rows:
            if url not in seen:
                seen.add(url)
                expected.append((url, host, prio))

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    write_batch(batches[0])
    q = streaming_seen_filter(spark, in_dir, query_name="t_seen_sim")
    try:
        q.processAllAvailable()
        for rows in batches[1:]:
            write_batch(rows)
            q.processAllAvailable()
        got = [
            tuple(r)
            for r in spark.sql(
                "SELECT url, host, priority FROM t_seen_sim"
            ).collect()
        ]
    finally:
        q.stop()
    # expected holds each url once, so equality also rules out repeats
    assert sorted(got) == sorted(expected)
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) >= 4


def test_streaming_stateful_seen_filter(spark, tmp_path):
    """C1 as a stateful streaming op: URLs seen in an earlier
    micro-batch must not be re-emitted by a later one."""
    from news_combinator_spark.streaming.incremental import (
        streaming_seen_filter,
    )

    in_dir = str(tmp_path / "discovered")
    schema = "url string, host string, priority int"

    def write_batch(rows, part):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    write_batch(
        [("http://a.test/1", "a.test", 1),
         ("http://a.test/2", "a.test", 2),
         ("http://b.test/1", "b.test", 1),
         ("http://a.test/1", "a.test", 1)],  # within-batch dup
        0,
    )
    q = streaming_seen_filter(spark, in_dir, query_name="t_seen")
    try:
        q.processAllAvailable()
        got1 = {r["url"] for r in spark.sql("SELECT * FROM t_seen").collect()}
        assert got1 == {"http://a.test/1", "http://a.test/2", "http://b.test/1"}
        # second micro-batch: two repeats + two fresh
        write_batch(
            [("http://a.test/2", "a.test", 2),
             ("http://b.test/1", "b.test", 1),
             ("http://b.test/2", "b.test", 2),
             ("http://c.test/1", "c.test", 1)],
            1,
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT url FROM t_seen").collect()
        urls = [r["url"] for r in rows]
        assert len(urls) == len(set(urls)), "a url was emitted twice"
        assert set(urls) == {
            "http://a.test/1", "http://a.test/2", "http://b.test/1",
            "http://b.test/2", "http://c.test/1",
        }
    finally:
        q.stop()


def test_streaming_politeness_scheduler(spark, tmp_path):
    """C2 as a stateful streaming op: per host at most `budget` URLs
    per micro-batch chosen by (priority, url); losers persist as a
    capped backlog and win later batches; batch_seq numbers each
    host's emissions cumulatively."""
    from news_combinator_spark.streaming.incremental import (
        streaming_politeness_scheduler,
    )

    in_dir = str(tmp_path / "cand")
    schema = "url string, host string, priority int"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # batch 1: 4 candidates on a.test (budget 2) + 1 on b.test
    write_batch(
        [("http://a.test/3", "a.test", 1),
         ("http://a.test/1", "a.test", 0),
         ("http://a.test/2", "a.test", 0),
         ("http://a.test/4", "a.test", 2),
         ("http://b.test/1", "b.test", 1)],
    )
    q = streaming_politeness_scheduler(
        spark, in_dir, budget=2, query_name="t_sched"
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT * FROM t_sched ORDER BY host, batch_seq"
        ).collect()
        a1 = [(r.url, r.batch_seq) for r in got if r.host == "a.test"]
        assert a1 == [("http://a.test/1", 0), ("http://a.test/2", 1)]
        assert [(r.url, r.batch_seq) for r in got if r.host == "b.test"] == [
            ("http://b.test/1", 0)
        ]
        # batch 2: one better-priority newcomer competes with backlog
        write_batch([("http://a.test/0", "a.test", 0)])
        q.processAllAvailable()
        got2 = spark.sql(
            "SELECT * FROM t_sched WHERE host = 'a.test' "
            "ORDER BY batch_seq"
        ).collect()
        # newcomer (prio 0) wins slot 2; backlog prio-1 url takes slot 3;
        # the prio-2 url stays backlogged
        assert [(r.url, r.batch_seq) for r in got2] == [
            ("http://a.test/1", 0), ("http://a.test/2", 1),
            ("http://a.test/0", 2), ("http://a.test/3", 3),
        ]
        # batch 3: any a.test traffic re-invokes the host's group, so
        # the backlogged prio-2 url finally drains ahead of the worse
        # newcomer (NoTimeout: an idle host's backlog waits — see
        # the operator docstring)
        write_batch([("http://a.test/9", "a.test", 5)])
        q.processAllAvailable()
        got3 = spark.sql(
            "SELECT url, batch_seq FROM t_sched WHERE host = 'a.test' "
            "ORDER BY batch_seq"
        ).collect()
        assert [(r.url, r.batch_seq) for r in got3[-2:]] == [
            ("http://a.test/4", 4), ("http://a.test/9", 5),
        ]
    finally:
        q.stop()

    import pytest as _pytest
    with _pytest.raises(ValueError, match="budget"):
        streaming_politeness_scheduler(spark, in_dir, budget=0)
    # a negative cap would slice the backlog silently: -1 drops it
    # all, -10 keeps an arbitrary middle slice
    for bad in (-1, -10):
        with _pytest.raises(ValueError, match="max_backlog"):
            streaming_politeness_scheduler(spark, in_dir, max_backlog=bad)


def test_streaming_politeness_drain_timeout(spark, tmp_path):
    """ProcessingTimeTimeout mode (VERDICT r4 #6): an idle host's
    backlog drains at the politeness rate via per-host timers with NO
    further input. In timeout mode the micro-batch engine polls
    batches continuously (processAllAvailable never settles — see the
    operator docstring), so this test drives a wall-clock timeline
    and polls the sink: admit (budget 2 of 5, backlog 3) -> hold
    under the 6s timer (proves no premature drain) -> timer drain of
    2 -> timer drain of the last 1 -> reappearance restarts the
    politeness session."""
    import time

    from news_combinator_spark.streaming.incremental import (
        streaming_politeness_scheduler,
    )

    in_dir = str(tmp_path / "cand")
    schema = "url string, host string, priority int"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def a_rows():
        return [
            (r.url, r.batch_seq)
            for r in spark.sql(
                "SELECT url, batch_seq FROM t_drain "
                "WHERE url LIKE '%a.test%' ORDER BY batch_seq"
            ).collect()
        ]

    def poll_until(n, deadline_s=45):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            rows = a_rows()
            if len(rows) >= n:
                return rows
            time.sleep(0.5)
        raise AssertionError(f"sink never reached {n} rows: {a_rows()}")

    # priorities chosen so the (priority, url) drain order is unique
    write_batch(
        [("http://a.test/1", "a.test", 0),
         ("http://a.test/2", "a.test", 0),
         ("http://a.test/3", "a.test", 1),
         ("http://a.test/4", "a.test", 1),
         ("http://a.test/5", "a.test", 2)],
    )
    q = streaming_politeness_scheduler(
        spark, in_dir, budget=2, query_name="t_drain",
        drain_timeout_ms=6000,
    )
    try:
        got = poll_until(2)
        # initial batch: exactly budget rows, best (priority, url)
        # first; the 6s timer cannot have fired yet, so the backlog
        # held — this IS the politeness rate limit
        assert got == [
            ("http://a.test/1", 0), ("http://a.test/2", 1),
        ], got
        # first timer firing drains budget more, no input written
        got = poll_until(4)
        assert got[2:] == [
            ("http://a.test/3", 2), ("http://a.test/4", 3),
        ], got
        # second firing drains the last backlog row and removes state
        got = poll_until(5)
        assert got[-1] == ("http://a.test/5", 4), got
        # reappearing host = fresh politeness session: seq restarts
        write_batch([("http://a.test/9", "a.test", 0)])
        got = poll_until(6)
        assert ("http://a.test/9", 0) in got, got
    finally:
        q.stop()


def test_streaming_politeness_drain_keeps_busy_host_seq(spark, tmp_path):
    """Drain mode evicts a host's state only when its timer fires with
    no backlog left. A host that sends input every batch and is fully
    served each time keeps its state row, so its batch_seq stays
    cumulative across batches instead of restarting at 0."""
    import time

    from news_combinator_spark.streaming.incremental import (
        streaming_politeness_scheduler,
    )

    in_dir = str(tmp_path / "cand")
    schema = "url string, host string, priority int"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def b_rows(n, deadline_s=45):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            rows = [
                (r.url, r.batch_seq)
                for r in spark.sql(
                    "SELECT url, batch_seq FROM t_busy ORDER BY batch_seq"
                ).collect()
            ]
            if len(rows) >= n:
                return rows
            time.sleep(0.5)
        raise AssertionError(f"sink never reached {n} rows: {rows}")

    write_batch([("http://b.test/1", "b.test", 0),
                 ("http://b.test/2", "b.test", 0)])
    # a timeout far longer than the test: no timer fires in between
    q = streaming_politeness_scheduler(
        spark, in_dir, budget=2, query_name="t_busy",
        drain_timeout_ms=600_000,
    )
    try:
        assert b_rows(2) == [("http://b.test/1", 0), ("http://b.test/2", 1)]
        write_batch([("http://b.test/3", "b.test", 0),
                     ("http://b.test/4", "b.test", 0)])
        got = b_rows(4)
        assert got[2:] == [("http://b.test/3", 2), ("http://b.test/4", 3)], got
    finally:
        q.stop()


def test_streaming_admission_filter(spark, tmp_path):
    """The batch page-health gates run unchanged on a stream: an
    error page drops, a mojibake page repairs and admits, a short
    page and a non-English page drop, a clean page admits."""
    from news_combinator_spark.streaming.incremental import (
        streaming_admission_filter,
    )

    in_dir = str(tmp_path / "landed")
    big = "<html><h1>Doc</h1><p>" + "x" * 3000 + "</p></html>"
    long_text = " ".join(f"w{i}" for i in range(40))
    rows = [
        ("http://h/err", "h", "<html><h1>404 Not Found</h1></html>",
         "gone", "en"),
        ("http://h/moji", "h", big,
         long_text.replace("w1 ", "thÃ©Ã©Ã© "), "en"),
        ("http://h/short", "h", big, "too short", "en"),
        ("http://h/fr", "h", big, long_text, "fr"),
        ("http://h/good", "h", big, long_text + "  extra   spaces ", "en"),
    ]
    spark.createDataFrame(
        rows,
        "url string, host string, html_str string, text string, "
        "lang string",
    ).coalesce(1).write.parquet(in_dir)
    q = streaming_admission_filter(spark, in_dir, query_name="t_adm")
    try:
        q.processAllAvailable()
        got = {
            r.url: r for r in spark.sql("SELECT * FROM t_adm").collect()
        }
        assert set(got) == {"http://h/moji", "http://h/good"}
        assert "thééé" in got["http://h/moji"].norm_text
        assert "  " not in got["http://h/good"].norm_text
    finally:
        q.stop()
