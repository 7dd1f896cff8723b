"""WARC record parsing as JVM-side DataFrame expressions.

Common Crawl — the corpus shape this engine's frontier targets
(BASELINE north_star: "Iceberg table of Common-Crawl-style pages") —
distributes crawls as WARC files: concatenated records, each a
``WARC/1.0`` version line, ``Name: value`` headers, a blank line,
then ``Content-Length`` bytes of payload. The reference ingests its
own crawler's JSON only; a production pipeline must also ingest WARC
to bootstrap from public crawls.

This parser covers the textual WARC envelope over string blobs:
record segmentation (split on the version line), header field
extraction, and Content-Length-honoring payload truncation — all
split/regexp expressions inside whole-stage codegen, dual-expressible
in ANSI SQL for the oracle. Lengths are counted in CHARACTERS, which
equals the spec's bytes for ASCII envelopes; a byte-exact reader for
binary payloads (gzip members, non-UTF8 bodies) would run the same
shape over ``binary`` columns via an Arrow ``mapInPandas`` decode —
the envelope grammar and truncation semantics pinned here carry over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "records_from_warc",
    "wet_records",
    "wet_blob",
    "wat_records",
    "surt_key",
    "cdx_records",
    "json_escape",
]


def json_escape(col) -> "F.Column":  # noqa: F821
    """Minimal JSON string escaping for hand-assembled payloads:
    backslash first, then double quote (two literal ``replace``
    calls, no regex). Urls legally contain ``"`` (RFC 3986 allows it
    percent-UNencoded in practice on the wild web), and an unescaped
    quote makes the whole CDXJ/WAT line invalid JSON. Control chars
    are not escaped — the upstream extraction kernel never emits
    them into url/host columns; a payload carrying raw text must go
    through a full serializer instead."""
    return F.replace(
        F.replace(col, F.lit("\\"), F.lit("\\\\")),
        F.lit('"'),
        F.lit('\\"'),
    )


def records_from_warc(
    blobs: DataFrame,
    blob_col: str = "warc",
    id_col: str = "host",
) -> DataFrame:
    """(id, warc blob) -> one row per WARC record:
    (id, rec_type, target_uri, warc_date, content_length, payload).

    - records are segmented on the ``WARC/1.0`` version line;
    - ``WARC-Type`` / ``WARC-Target-URI`` / ``WARC-Date`` /
      ``Content-Length`` come from the HEADER BLOCK ONLY (everything
      before the record's first blank line), each anchored to a line
      start — header-shaped text inside a payload can no longer
      shadow a real header (ADVICE r2). Absent headers yield null
      (e.g. warcinfo records have no Target-URI);
    - payload = everything after the first blank line, truncated to
      Content-Length (the spec's authoritative record length — the
      inter-record separator is naturally excluded, and an
      over-long body is clipped); records without a parseable
      Content-Length get a null payload (malformed by spec).

    Remaining documented limitation: segmentation itself is textual,
    so a payload CONTAINING the literal line ``WARC/1.0`` still
    splits the record (a length-driven reader over binary blobs is
    the byte-exact fix; the envelope grammar here carries over).
    """
    hdr = lambda name: F.nullif(  # noqa: E731 — local shorthand
        F.regexp_extract("hb", f"(?m)^{name}: ([^\n]*)", 1), F.lit("")
    )
    recs = blobs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.col(blob_col), r"WARC/1\.0\n")
        ).alias("rec"),
    ).filter(F.length("rec") > 0)
    # header block = up to the first blank line; '' when malformed
    # (no blank line), which nulls every header below
    recs = recs.withColumn(
        "hb", F.regexp_extract("rec", "(?s)^(.*?)\n\n", 1)
    )
    return recs.select(
        F.col("id").alias(id_col),
        hdr("WARC-Type").alias("rec_type"),
        hdr("WARC-Target-URI").alias("target_uri"),
        F.expr(
            "try_cast(regexp_extract(hb, '(?m)^WARC-Date: ([^\n]*)', 1)"
            " AS timestamp)"
        ).alias("warc_date"),
        F.expr(
            "try_cast(regexp_extract(hb, '(?m)^Content-Length: ([0-9]+)',"
            " 1) AS int)"
        ).alias("content_length"),
        F.expr(
            "CASE WHEN regexp_extract(hb, '(?m)^Content-Length: ([0-9]+)',"
            " 1) <> '' THEN substring(regexp_extract(rec, '(?s)\n\n(.*)$',"
            " 1), 1, try_cast(regexp_extract(hb,"
            " '(?m)^Content-Length: ([0-9]+)', 1) AS int)) END"
        ).alias("payload"),
    )


def wet_records(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Serialize extracted text as WET-style ``conversion`` records —
    the derived-text distribution format Common Crawl publishes
    alongside WARC, and what a training pipeline hands downstream
    after extraction. Output: input columns + ``wet_record``.

    Envelope: WARC/1.0 version line, WARC-Type: conversion,
    WARC-Target-URI, WARC-Date (UTC ISO-8601), Content-Length, blank
    line, payload. Two documented conventions shared with
    `records_from_warc` so serialize -> parse round-trips exactly
    (pinned in tests): lengths count CHARACTERS (equals spec bytes
    for ASCII envelopes), and line endings are LF (the parser
    segments on LF; spec-exact CRLF output would swap the separator
    constants, same shape)."""
    rec = F.concat(
        F.lit("WARC/1.0\nWARC-Type: conversion\nWARC-Target-URI: "),
        F.col(url_col),
        F.lit("\nWARC-Date: "),
        F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("\nContent-Length: "),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("string"),
        F.lit("\n\n"),
        F.coalesce(F.col(text_col), F.lit("")),
    )
    return df.withColumn("wet_record", rec)


def wet_blob(
    records: DataFrame,
    shard_col: str = "host",
    record_col: str = "wet_record",
    order_col: str = "url",
) -> DataFrame:
    """Concatenate a shard's WET records into one file blob:
    (shard, wet, n_records), records in deterministic `order_col`
    order separated by a blank line (the WARC record separator).
    One map-side-combined groupBy per shard; shard sizing is the
    caller's partitioning decision (a real export writes one file
    per shard)."""
    return (
        records.groupBy(F.col(shard_col).alias("shard"))
        .agg(
            F.concat_ws(
                "\n\n",
                F.expr(
                    "transform(sort_array(collect_list(struct("
                    f"{order_col} as k, {record_col} as r))), p -> p.r)"
                ),
            ).alias("wet"),
            F.count(F.lit(1)).alias("n_records"),
        )
    )


def wat_records(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    ts_col: str = "warc_ts",
    outlink_cols: tuple[str, ...] = ("next1_url", "next2_url"),
) -> DataFrame:
    """Serialize per-page METADATA as WAT-style ``metadata`` records —
    the companion format to WET (wet_records): where WET carries the
    derived text, WAT carries the envelope (target URI, content digest,
    size, outlinks) a consumer can read without touching page
    bodies. Output: input columns + ``wat_record``.

    The payload is a minimal JSON envelope assembled with plain
    string concatenation rather than ``to_json`` — key ORDER and
    float/escape formatting of engine-native JSON serializers are
    implementation-specific, so hand-assembly is what keeps the bytes
    identical across engines (and under the DuckDB hash gate). Same
    LF / character-length conventions as wet_records, so
    records_from_warc segments these too."""
    payload = F.concat(
        F.lit('{"WARC-Target-URI":"'),
        json_escape(F.col(url_col)),
        F.lit('","Content-Digest":"md5:'),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))),
        F.lit('","Text-Chars":'),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("string"),
        F.lit(',"Links":["'),
        F.concat_ws('","', *[json_escape(F.col(c)) for c in outlink_cols]),
        F.lit('"]}'),
    )
    rec = F.concat(
        F.lit("WARC/1.0\nWARC-Type: metadata\nWARC-Target-URI: "),
        F.col(url_col),
        F.lit("\nWARC-Date: "),
        F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("\nContent-Type: application/json\nContent-Length: "),
        F.length(payload).cast("string"),
        F.lit("\n\n"),
        payload,
    )
    return df.withColumn("wat_record", rec)


def surt_key(url_col, host_col) -> "F.Column":  # noqa: F821
    """SURT (Sort-friendly URI Reordering Transform) key for a url:
    host labels reversed and comma-joined, then ')' and the path —
    `http://h3.test/a/9.htm` -> `test,h3)/a/9.htm`. SURT ordering is
    what makes a CDX index range-scannable by registered domain and
    host subtree (all of `test,h3)...` is contiguous), the web-archive
    analog of bucketing by eTLD+1. Pure JVM split/reverse/concat."""
    path = F.regexp_replace(url_col, r"^[a-z][a-z0-9+.-]*://[^/]*", "")
    return F.concat(
        F.array_join(F.reverse(F.split(F.lower(host_col), r"\.")), ","),
        F.lit(")"),
        F.when(path == "", F.lit("/")).otherwise(path),
    )


def cdx_records(
    df: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    text_col: str = "text",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """CDXJ index lines per page: input columns + ``surt``,
    ``cdx_ts`` (14-digit yyyyMMddHHmmss), ``cdx_line``.

    The CDX(J) index is the third member of the archive-format family
    (WARC carries records, WAT the metadata, WET the text; CDX is the
    lookup INDEX over them): one line per capture —
    ``<surt> <ts> <json>`` with the JSON carrying the original url,
    content digest, and character length. Sorted by (surt, ts) the
    file supports binary-search lookup and host-subtree range scans;
    the sort is the consumer's `ORDER BY` (or the shard writer's
    sortBy) — this operator stays per-row, shuffle-free. Hand-
    assembled JSON for cross-engine byte identity, exactly as
    wat_records."""
    payload = F.concat(
        F.lit('{"url":"'),
        json_escape(F.col(url_col)),
        F.lit('","digest":"md5:'),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))),
        F.lit('","length":'),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("string"),
        F.lit("}"),
    )
    surt = surt_key(F.col(url_col), F.col(host_col))
    ts14 = F.date_format(ts_col, "yyyyMMddHHmmss")
    return (
        df.withColumn("surt", surt)
        .withColumn("cdx_ts", ts14)
        .withColumn(
            "cdx_line",
            F.concat(F.col("surt"), F.lit(" "), ts14, F.lit(" "), payload),
        )
    )
