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
split/regexp expressions inside whole-stage codegen. The streaming
WARC ingest (streaming/incremental.streaming_warc_ingest) runs it per
micro-batch; tests/test_warc.py pins its edge cases. This module
parses only: it writes no WARC, WET, WAT or CDX output. Lengths are
counted in CHARACTERS, which
equals the spec's bytes for ASCII envelopes; a byte-exact reader for
binary payloads (gzip members, non-UTF8 bodies) would run the same
shape over ``binary`` columns via an Arrow ``mapInPandas`` decode —
the envelope grammar and truncation semantics pinned here carry over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["records_from_warc"]


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
