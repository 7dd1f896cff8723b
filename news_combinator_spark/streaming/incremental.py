"""Incremental / streaming processing.

The reference's "streaming" is batch-with-watermark: a file holding
the last processed timestamp, compared on each cron run
(chnsegmt/categorize.py:31-37,92-103 `magicnumber`;
reconstruction/category/categorize.cpp:65,256-281 `lastmtime` +
WHERE timestamp > %d). Two Spark re-expressions:

1. `WatermarkStore` + `incremental_scan`: the exact reference
   semantics — a tiny metadata table holds the high-water mark; each
   run scans `ts > watermark` (predicate pushdown + partition pruning
   do the directory-skip of categorize.py:31-34 for free) and then
   advances the mark. Late rows with old timestamps are silently
   skipped forever, matching the reference.

2. `streaming_event_counts`: genuine Structured Streaming over the
   same input (readStream + event-time window + watermark) for
   late-data-tolerant aggregation — the scale path the reference
   lacks.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.commit import write_json


class WatermarkStore:
    """File-backed high-water mark (the `magicnumber`/`lastmtime`
    analog; on a cluster this row lives in a metadata table next to
    the Iceberg snapshot id)."""

    def __init__(self, path: str):
        self.path = path

    def read(self) -> int:
        if not os.path.exists(self.path):
            return -1
        with open(self.path) as f:
            return json.load(f)["watermark"]

    def write(self, watermark: int, run_id: str | None = None) -> None:
        run_id = run_id or str(int(time.time()))
        write_json(self.path, {"watermark": watermark, "run_id": run_id})


def incremental_scan(
    df: DataFrame, store: WatermarkStore, ts_col: str = "ts"
) -> DataFrame:
    """Rows strictly newer than the stored mark (categorize.cpp:65
    `WHERE timestamp > last_mtime`). Caller processes the result, then
    calls `advance` with the batch max."""
    wm = store.read()
    return df.filter(F.col(ts_col).cast("long") > wm)


def advance(store: WatermarkStore, batch: DataFrame, ts_col: str = "ts") -> int:
    row = batch.agg(F.max(F.col(ts_col).cast("long")).alias("m")).collect()[0]
    if row["m"] is not None:
        store.write(int(row["m"]))
        return int(row["m"])
    return store.read()


def streaming_event_counts(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    query_name: str = "event_counts",
):
    """Structured Streaming: tumbling event-time window counts with a
    late-data watermark, memory sink for test observability."""
    events = (
        spark.readStream.format("parquet").schema(schema).load(input_dir)
    )
    # event-time watermarks require TIMESTAMP (not NTZ); session TZ is
    # pinned to UTC so the cast is value-preserving
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def streaming_seen_filter(
    spark: SparkSession,
    input_dir: str,
    schema: str = "url string, host string, priority int",
    n_buckets: int = 64,
    query_name: str = "seen_filter",
    state: str = "hash",
):
    """Stateful streaming URL-seen dedup: the frontier's C1 operator
    as a Structured Streaming stage (applyInPandasWithState).

    Discovered URLs arrive as a stream; per hash-bucket key the state
    is the seen set (n_buckets keys spread state across the cluster
    exactly like the frontier's salted partitioning). Only
    first-ever-seen URLs are emitted, across micro-batches. At
    10^10-URL scale the same operator runs with a state-store TTL and
    RocksDB state backend; here NoTimeout keeps state for the test's
    lifetime.

    ``state`` picks the membership representation — an ACCEPTED
    DEVIATION from the batch frontier, where the bloom is only a
    prefilter backed by an exact anti-join:

    - ``"hash"`` (default): 64-bit xxhash64 values, 8 bytes/url. A
      hash collision permanently conflates two distinct URLs and the
      later one is silently DROPPED (a false negative the batch path
      cannot produce). Collision probability ~ n^2 / 2^65: negligible
      below ~10^8 urls/bucket (n=10^8 -> ~3e-4), material at 10^10
      unbucketed — size n_buckets so per-key n stays ~10^8, or use
      exact mode.
    - ``"exact"``: the url strings themselves — no false negatives,
      exact parity with the batch frontier's seen semantics, at
      ~len(url) bytes/url state cost.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if state not in ("hash", "exact"):
        raise ValueError(f"state must be 'hash' or 'exact', got {state!r}")
    exact = state == "exact"

    urls = (
        spark.readStream.format("parquet").schema(schema).load(input_dir)
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)))
    )

    def _dedup(key, pdf_iter, st):
        seen = set(st.get[0]) if st.exists else set()
        rows = {"url": [], "host": [], "priority": []}
        for pdf in pdf_iter:
            for url, host, prio, h in zip(
                pdf["url"], pdf["host"], pdf["priority"], pdf["url_hash"]
            ):
                member = url if exact else int(h)
                if member not in seen:
                    seen.add(member)
                    rows["url"].append(url)
                    rows["host"].append(host)
                    rows["priority"].append(prio)
        st.update((list(seen),))
        yield pd.DataFrame(rows)

    out = urls.groupBy("bucket").applyInPandasWithState(
        _dedup,
        outputStructType="url string, host string, priority int",
        stateStructType=(
            "seen array<string>" if exact else "seen array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def streaming_politeness_scheduler(
    spark: SparkSession,
    input_dir: str,
    budget: int = 2,
    max_backlog: int = 100,
    schema: str = "url string, host string, priority int",
    query_name: str = "politeness",
    drain_timeout_ms: int | None = None,
):
    """The frontier's C2 politeness budget as a stateful streaming
    stage: per HOST, at most ``budget`` URLs are emitted per
    micro-batch, chosen by (priority, url) — the same selection rule
    as the batch `schedule_per_host`. Unemitted URLs persist in state
    as a backlog (capped at ``max_backlog`` best rows; anything
    beyond is dropped — the streaming analog of the batch scheduler's
    deferred set, which an unbounded stream cannot keep whole) and
    compete again next batch.

    Output adds ``batch_seq``, the per-host emission sequence number
    (cumulative across batches), so downstream fetchers can pace
    requests. State is one bounded list per host — exactly the
    per-host frame the batch scheduler windows over, RocksDB-sized
    at 10^10 URLs because the cap is per HOST, not global.

    Timeout modes: with the default ``drain_timeout_ms=None`` a
    host's group function only runs in batches where that host HAS
    input rows, so a fully idle host's backlog waits for its next
    candidate. With ``drain_timeout_ms`` set, a per-host
    ProcessingTimeTimeout timer is (re-)armed whenever a backlog
    remains; when it fires — any later micro-batch whose processing
    time has passed the deadline, input rows for the host or not —
    the group function runs in timed-out mode and DRAINS up to
    ``budget`` backlog rows (the production path: an idle host's
    deferred URLs keep flowing at the politeness rate instead of
    starving). State layout and the (priority, url) selection rule
    are identical in both modes; a host's state is removed only when
    its timer fires and leaves no backlog, so a host that keeps
    sending input keeps a cumulative ``batch_seq``. Operational note: with a timeout configured
    the micro-batch engine polls CONTINUOUSLY (it must run batches to
    check timer expiry even with no new data), so
    ``query.processAllAvailable()`` never settles — harnesses poll
    the sink on a wall-clock deadline instead, and a production
    deployment sets a processingTime trigger to pace the polling.
    Both modes are pinned by tests/test_misc_operators.py (the drain
    test drives a real timer timeline and polls the sink).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if drain_timeout_ms is not None and drain_timeout_ms <= 0:
        raise ValueError(
            f"drain_timeout_ms must be positive, got {drain_timeout_ms}"
        )

    urls = (
        spark.readStream.format("parquet").schema(schema).load(input_dir)
    )

    def _schedule(key, pdf_iter, st):
        if st.exists:
            backlog_u, backlog_p, emitted = st.get
            pool = list(zip(backlog_p, backlog_u))
            n_emitted = int(emitted)
        else:
            pool, n_emitted = [], 0
        # timed-out invocation: no input rows for this host this
        # batch — the pool is the persisted backlog alone, and the
        # take below IS the drain
        for pdf in pdf_iter:
            pool.extend(zip(pdf["priority"], pdf["url"]))
        pool.sort(key=lambda t: (t[0], t[1]))
        take = pool[:budget]
        keep = pool[budget : budget + max_backlog]
        host = key[0]
        out = pd.DataFrame(
            {
                "url": [u for _, u in take],
                "host": host,
                "priority": [int(p) for p, _ in take],
                "batch_seq": [n_emitted + i for i in range(len(take))],
            }
        ) if take else pd.DataFrame(
            {"url": [], "host": [], "priority": [], "batch_seq": []}
        )
        if st.hasTimedOut and not keep:
            # an idle host's timer fired with its backlog drained:
            # evict its row (a reappearing host is a NEW politeness
            # session, batch_seq restarts). A host with input this
            # batch keeps its row, so its batch_seq stays cumulative.
            st.remove()
        else:
            st.update((
                [u for _, u in keep],
                [int(p) for p, _ in keep],
                n_emitted + len(take),
            ))
            if drain_timeout_ms is not None:
                # timers clear when they fire: re-arm so a backlog
                # drains at the politeness rate and an idle host's row
                # is evicted one timeout after its last input
                st.setTimeoutDuration(drain_timeout_ms)
        yield out

    out = urls.groupBy("host").applyInPandasWithState(
        _schedule,
        outputStructType=(
            "url string, host string, priority int, batch_seq long"
        ),
        stateStructType=(
            "backlog_urls array<string>, backlog_prios array<int>, "
            "emitted long"
        ),
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if drain_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def streaming_warc_ingest(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "warc_ingest",
):
    """Structured Streaming WARC ingestion: watch a directory for
    ``*.warc`` text files (one blob per file, the fetcher's landing
    zone), parse each into records with the SAME JVM expressions the
    batch path uses (functions/warc.records_from_warc works unchanged
    on a streaming frame — it is pure select/explode/regexp), keyed by
    the source file's stem. Memory sink for test observability; a
    production sink is the observation store's append path.

    This is the streaming half of the ingestion pipeline pinned by
    tests/test_warc.py::test_warc_ingestion_pipeline — new files
    become micro-batches, so a continuously-landing crawl feeds the
    store without a driver-side rescan of old files.
    """
    from ..functions.warc import records_from_warc

    blobs = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(input_dir)
        .select(
            F.regexp_extract(
                F.input_file_name(), r"([^/]+)\.warc", 1
            ).alias("source"),
            F.col("value").alias("warc"),
        )
    )
    records = records_from_warc(blobs, blob_col="warc", id_col="source")
    return (
        records.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def streaming_admission_filter(
    spark: SparkSession,
    input_dir: str,
    schema: str = "url string, host string, html_str string, "
                  "text string, lang string",
    min_words: int = 30,
    query_name: str = "admission",
):
    """The batch admission funnel's gates as a Structured Streaming
    stage: landed pages stream in, soft-404s drop, mojibake repairs,
    text normalizes, and length/language gates apply — all the SAME
    per-row JVM expressions the batch `admission_funnel` uses
    (pagehealth is pure select/filter, so the code path is literally
    shared; nothing is reimplemented for streaming). Emits admitted
    (url, host, lang, norm_text, n_words) rows; exact-dedup across
    batches composes downstream via `streaming_seen_filter` keyed on
    the text fingerprint instead of the url.
    """
    from ..functions import pagehealth as ph

    pages = (
        spark.readStream.format("parquet").schema(schema).load(input_dir)
    )
    live = ph.soft404_signals(pages).filter(~F.col("is_soft404"))
    norm = ph.normalize_text(ph.demojibake("text"))
    out = (
        live.withColumn("norm_text", norm)
        .withColumn("n_words", F.size(F.split("norm_text", " ")))
        .filter(
            (F.col("n_words") >= min_words) & (F.col("lang") == "en")
        )
        .select("url", "host", "lang", "norm_text", "n_words")
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
