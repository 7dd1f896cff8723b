"""URL canonicalization, grammar rules, and hashing.

The reference's per-source URL grammars (crawlernewsspider.py:16,39,62;
reconstruction/crawler/crawler.php:232-236,292-296,364-368) become
regex rules with capture groups that turn into columns (date, news id).
Canonicalization + dedup is Scrapy's implicit dupefilter / the file-
exists check (pipelines.py:19-23) re-expressed as an explicit kernel.

Engine-side hashing uses Spark's built-in ``xxhash64`` (JVM, codegen).
The pure-Python oracle uses the same Spark function through a local
session, so hashes agree by construction.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference URL grammars (v1 spiders). Group order: (base, date-ish, id).
NETEASE_URL = r"(http://news\.163\.com)/(\d{2})/(\d{4})/\d+/(\w+)\.html"
SINA_URL = (
    r"(http://(?:\w+\.)*news\.sina\.com\.cn)/.*/(\d{4}-\d{2}-\d{2})/"
    r"\d{4}(\d{8})\.(?:s)html"
)
TENCENT_URL = r"(.*)/a/(\d{8})/(\d+)\.htm"

SOURCE_RULES = {
    "netease": NETEASE_URL,
    "sina": SINA_URL,
    "tencent": TENCENT_URL,
}

_DEFAULT_PORTS = {"http": "80", "https": "443"}

# RFC 3986 §2.3 unreserved characters: percent-encodings of these are
# equivalent to the bare character and decode during normalization
_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")


def _normalize_percent(s: str) -> str:
    """RFC 3986 §6.2.2.1-2: uppercase percent-encoding hex digits and
    decode encodings of unreserved characters ('%7E' -> '~',
    '%2f' -> '%2F'), so equivalent spellings hash identically."""

    def fix(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(fix, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4: resolve '.' and '..' segments ('/a/./b/../c'
    -> '/a/c'); '..' never climbs above the root."""
    if "." not in path:
        return path
    out: list[str] = []
    # leading '/' produces an empty first segment which anchors root
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    # trailing '.'/'..' leave a directory, not a file: keep the slash
    if path.rstrip("/").endswith((".", "..")) and (
        path.endswith(".") or path.endswith("/")
    ):
        if out and out[-1] != "":
            out.append("")
    norm = "/".join(out)
    return norm if norm.startswith("/") or not path.startswith("/") else "/" + norm


_C0_AND_DEL = "".join(chr(c) for c in range(0x21)) + "\x7f"


def _strip_junk(url: str) -> str:
    """Strip leading/trailing Unicode whitespace AND C0 controls to a
    FIXPOINT. str.strip() alone misses controls (\x1b), urlsplit's own
    sanitizer strips C0 but not \xa0 — alternating layers
    ('\x1b\xa00') would otherwise peel one layer per canonicalize
    call, breaking canon(canon(x)) == canon(x)."""
    while True:
        stripped = url.strip().strip(_C0_AND_DEL)
        if stripped == url:
            return url
        url = stripped


def canonicalize_url(url: str) -> str:
    """Deterministic canonical form (RFC 3986 §6 syntax-based
    normalization, the C1 dedup key):

    - scheme + host lowercased
    - default port stripped
    - fragment stripped
    - query keys sorted (stable; duplicate keys keep relative order)
    - empty path -> '/'
    - dot segments resolved ('/a/./b/../c' -> '/a/c')
    - percent-encodings uppercased; unreserved chars decoded
    """
    if not url:
        return ""
    url = _strip_junk(url)
    try:
        parts = urlsplit(url)
    except ValueError:
        return url
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    if ":" in netloc:
        host, _, port = netloc.rpartition(":")
        if port == _DEFAULT_PORTS.get(scheme, ""):
            netloc = host
    path = _normalize_percent(_remove_dot_segments(parts.path or "/"))
    query = (
        "&".join(sorted(_normalize_percent(parts.query).split("&")))
        if parts.query
        else ""
    )
    # strip the REASSEMBLED string too: dropping the fragment (or a
    # trailing empty query) can expose whitespace/controls that were
    # interior on the way in ('0 #' -> path '0 '), which the next
    # canonicalize pass would then peel — breaking idempotence.
    return _strip_junk(urlunsplit((scheme, netloc, path, query, "")))


def url_host(url: str) -> str:
    try:
        return urlsplit(url).netloc.lower().rpartition("@")[2].split(":")[0]
    except ValueError:
        return ""


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: canonicalize_url(u or ""))


def hreflang_links(df, html_col: str = "html_str", url_col: str = "url"):
    """Explode ``<link rel="alternate" hreflang=.. href=..>`` tags into
    (url, hreflang, alt_url) rows — the translation graph a
    multilingual crawl needs (language variants are near-dups BY
    DECLARATION; training pipelines keep one per language or link
    them as parallel text). Tags missing either attribute are
    dropped; both attribute orders inside the tag work because the
    per-tag extraction runs on the isolated tag text. Per-row JVM
    regexes; one explode, no parser."""
    tags = F.regexp_extract_all(
        F.coalesce(F.col(html_col), F.lit("")),
        F.lit(r'(?i)<link[^>]*rel="alternate"[^>]*>'),
        0,
    )
    out = df.select(
        F.col(url_col).alias("url"), F.explode(tags).alias("tag")
    ).select(
        "url",
        F.regexp_extract("tag", r'hreflang="([^"]*)"', 1).alias("hreflang"),
        F.regexp_extract("tag", r'href="([^"]*)"', 1).alias("alt_url"),
    )
    return out.filter(
        (F.col("hreflang") != "") & (F.col("alt_url") != "")
    )


# A deliberately small built-in public-suffix set: the multi-label
# suffixes a crawl actually needs to split correctly plus the common
# gTLDs. A production deployment swaps in the full Mozilla PSL — the
# operator takes any (suffix) frame; only the DATA is stubbed, the
# longest-match machinery is the real thing.
DEFAULT_PUBLIC_SUFFIXES = (
    "com", "org", "net", "edu", "gov", "io", "dev", "test",
    "co.uk", "org.uk", "ac.uk", "com.au", "net.au", "com.cn",
    "com.br", "co.jp", "or.jp", "co.kr",
)


def registered_domain(
    df, host_col: str = "host", suffixes=DEFAULT_PUBLIC_SUFFIXES
):
    """Append ``public_suffix`` and ``registered_domain`` (eTLD+1):
    the LONGEST suffix from `suffixes` that terminates the host on a
    label boundary wins ('a.b.co.uk' -> co.uk, not uk); the
    registered domain is the label before it plus the suffix. Hosts
    matching no suffix fall back to their last two labels (the PSL
    wildcard-* convention), so the column is never NULL.

    Scale shape: the suffix table broadcasts (the full PSL is ~9k
    rows); the longest match is a map-side-combined groupBy over at
    most len(suffixes) matches per distinct host — no window, and
    the join key stays the caller's host column.
    """
    spark = df.sparkSession
    sfx = F.broadcast(
        spark.createDataFrame([(s,) for s in suffixes], "suffix string")
    )
    h = F.col(host_col)
    matched = df.join(
        sfx,
        (h == F.col("suffix"))
        | h.endswith(F.concat(F.lit("."), F.col("suffix"))),
        "left",
    )
    best = matched.groupBy(*df.columns).agg(
        F.max_by("suffix", F.length("suffix")).alias("public_suffix")
    )
    # label immediately before the suffix (empty when host == suffix):
    # strip '.<suffix>' off the end, keep the last remaining label
    prefix = h.substr(
        F.lit(1), F.length(h) - F.length("public_suffix") - F.lit(1)
    )
    owner = F.regexp_extract(prefix, r"([^.]+)$", 1)
    fallback = F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1)
    return best.withColumn(
        "registered_domain",
        F.when(
            F.col("public_suffix").isNull() | (owner == ""), fallback
        ).otherwise(
            F.concat(owner, F.lit("."), F.col("public_suffix"))
        ),
    )


def match_source(url: str) -> tuple[str, str, str] | None:
    """(source, yyyymmdd, news_id) per the reference grammar, else None.

    Mirrors parse_news date logic: netease '20'+yy+mmdd
    (crawlernewsspider.py:25), sina joins date parts (:47), tencent
    uses the 8-digit group (:70).
    """
    m = re.match(NETEASE_URL, url)
    if m:
        return ("netease", "20" + m.group(2) + m.group(3), m.group(4))
    m = re.match(SINA_URL, url)
    if m:
        return ("sina", m.group(2).replace("-", ""), m.group(3))
    m = re.match(TENCENT_URL, url)
    if m:
        return ("tencent", m.group(2), m.group(3))
    return None
