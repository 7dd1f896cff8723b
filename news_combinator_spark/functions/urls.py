"""URL canonicalization and the reference's URL grammar rules.

The reference's per-source URL grammars (crawlernewsspider.py:16,39,62;
reconstruction/crawler/crawler.php:232-236,292-296,364-368) become
regex rules with capture groups that turn into columns (date, news id).
Canonicalization + dedup is Scrapy's implicit dupefilter / the file-
exists check (pipelines.py:19-23) re-expressed as an explicit kernel:
`canonicalize_url` is the C1 seen-set key, run per row in Spark by
`canonicalize_udf` and inside the crawl's link-extraction UDF.
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
