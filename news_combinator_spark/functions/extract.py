"""HTML field-extraction kernel + Arrow pandas UDFs.

Semantics mirror the reference spiders (studied, not copied):

- ``passage`` = every ``//p/text()`` node, document order, concatenated
  with NO separator (reference: crawler/crawler/spiders/
  crawlernewsspider.py:32 + crawler/crawler/news_pack/news_func.py:1-5,
  ``ListCombiner``). XPath ``text()`` semantics: only text nodes that
  are DIRECT children of the <p> element — text inside nested elements
  (<b>, <a>, ...) is excluded; text resumes after the nested element
  closes.
- ``title`` = first ``//h1/text()`` node (crawlernewsspider.py:31,75;
  reconstruction/crawler/crawler.php:242).
- embedded id markers extracted by regex over the raw HTML
  (crawlernewsspider.py:28,49-51,72).
- ``links`` = href attribute values (reference delegates to Scrapy's
  SgmlLinkExtractor / phpfetcher; we extract + filter by regex rules).

The kernel is pure Python (deterministic, no external parser libs) and
is THE spec: the synthetic page generator only emits HTML this kernel
fully covers, and pytest golden tests pin edge cases (nesting, void
elements, script skipping).

Everything is exposed both as plain functions (for the pure-Python
oracle) and as Arrow ``pandas_udf``s (for the engine hot path).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .urls import canonicalize_url

# Elements with no closing tag (HTML void elements).
_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}
# Raw-text elements whose content is never visible text.
_RAWTEXT = {"script", "style"}

_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)([^>]*)>")


def _iter_text_nodes(html: str, want_tag: str):
    """Yield direct-child text nodes of each ``want_tag`` element,
    in document order (XPath ``//tag/text()`` semantics)."""
    pos = 0
    n = len(html)
    stack: list[str] = []  # open element names
    # depth of innermost matching element on the stack, or None
    while pos < n:
        lt = html.find("<", pos)
        if lt == -1:
            lt = n
        if lt > pos:
            text = html[pos:lt]
            if stack and stack[-1] == want_tag and not any(
                s in _RAWTEXT for s in stack
            ):
                if text:
                    yield text
            pos = lt
            continue
        m = _TAG_RE.match(html, lt)
        if not m:
            # Lone '<' treated as text (lenient, like real parsers).
            if stack and stack[-1] == want_tag:
                yield "<"
            pos = lt + 1
            continue
        closing, name, attrs = m.group(1), m.group(2).lower(), m.group(3)
        pos = m.end()
        if closing:
            # pop to the matching open tag if present
            if name in stack:
                while stack and stack[-1] != name:
                    stack.pop()
                if stack:
                    stack.pop()
        else:
            if name in _RAWTEXT:
                # skip to the raw-text close tag
                close = html.find(f"</{name}", pos)
                pos = n if close == -1 else close
                continue
            if name not in _VOID and not attrs.rstrip().endswith("/"):
                stack.append(name)


def extract_passage(html: str) -> str:
    """All //p/text() nodes concatenated with no separator."""
    if html is None:
        return ""
    return "".join(_iter_text_nodes(html, "p"))


def extract_title(html: str) -> str:
    """First //h1/text() node ('' when absent)."""
    if html is None:
        return ""
    for t in _iter_text_nodes(html, "h1"):
        return t
    return ""


_HREF_RE = re.compile(r'href="([^"]*)"')


def extract_links(html: str) -> list[str]:
    """href attribute values, document order, duplicates kept."""
    if html is None:
        return []
    return _HREF_RE.findall(html)


# Embedded id markers, exactly the reference's regexes
# (crawlernewsspider.py:28 boardId, :49-51 sina ids, :72 tencent cmt_id).
_MARKER_RES = {
    "cmt_id": re.compile(r"cmt_id = (.*);"),
    "board_id": re.compile(r'boardId = "(.*)"'),
    "comment_id": re.compile(r"comment_id:(\d-\d-\d+)"),
    "comment_channel": re.compile(r"comment_channel:(\w+);"),
    "product_key": re.compile(r'"productKey" : "(.*)"'),
}


def extract_markers(html: str) -> dict[str, str]:
    out = {}
    if html is None:
        return out
    for key, rx in _MARKER_RES.items():
        m = rx.search(html)
        if m:
            out[key] = m.group(1)
    return out


def _decode(v) -> str:
    if v is None:
        return ""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", errors="replace")
    return str(v)


# ---------------------------------------------------------------------------
# Arrow pandas UDFs — the engine hot path (vectorized batches, no per-row
# Python at the Spark API layer; html bytes arrive as one Arrow column).
# ---------------------------------------------------------------------------

@F.pandas_udf(T.StringType())
def passage_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda v: extract_passage(_decode(v)))


@F.pandas_udf(T.StringType())
def title_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda v: extract_title(_decode(v)))


@F.pandas_udf(T.ArrayType(T.StringType()))
def links_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda v: extract_links(_decode(v)))


@F.pandas_udf(T.ArrayType(T.StringType()))
def canonical_links_udf(html: pd.Series) -> pd.Series:
    """`links_udf` and `urls.canonicalize_udf` fused: each page's href
    targets in canonical form, document order, duplicates kept. One
    Arrow crossing per page instead of one per page plus one per link,
    and a filter on the exploded url cannot be pushed back under the
    canonicalize kernel (it sits above a Generate)."""
    return html.map(
        lambda v: [canonicalize_url(u) for u in extract_links(_decode(v))]
    )


@F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
def markers_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda v: extract_markers(_decode(v)))
