"""Page-health (soft-404, mojibake) and adaptive-budget semantics.

Edge cases beyond the driver oracles' fixture classes: null columns,
threshold boundaries, clamp extremes, unobserved hosts.
"""

from pyspark.sql import functions as F

from news_combinator_spark.functions.pagehealth import (
    MOJIBAKE_REPAIRS,
    demojibake,
    mojibake_signals,
    soft404_signals,
)
from news_combinator_spark.operators.frontier import adaptive_budgets


def _pages(spark, rows):
    return spark.createDataFrame(
        rows, "url string, html_str string, text string"
    )


def test_soft404_title_and_ratio_paths(spark):
    big_html = "<html><body><h1>Fine doc</h1><p>" + "x" * 4000 + "</p></body></html>"
    rows = [
        # error phrase in h1 -> flagged regardless of ratio
        ("u1", "<html><h1>404 Not Found</h1><p>gone</p></html>", "gone"),
        # error phrase only in <title>, no h1 -> title fallback fires
        ("u2", "<html><head><title>Page Not Found</title></head></html>", ""),
        # tiny text under a big html -> ratio path, title is healthy
        ("u3", big_html, "tiny"),
        # healthy: long text, normal title
        ("u4", big_html, "y" * 500),
        # short text but SHORT html too (ratio high) -> not flagged
        ("u5", "<html><h1>Stub</h1></html>", "short note"),
    ]
    out = {
        r.url: r
        for r in soft404_signals(_pages(spark, rows)).collect()
    }
    assert out["u1"].err_title and out["u1"].is_soft404
    assert out["u2"].err_title and out["u2"].is_soft404
    assert out["u2"].title == "Page Not Found"
    assert not out["u3"].err_title and out["u3"].is_soft404
    assert not out["u4"].is_soft404
    assert not out["u5"].is_soft404


def test_soft404_null_safe(spark):
    out = soft404_signals(
        _pages(spark, [("u", None, None)])
    ).collect()[0]
    assert out.text_chars == 0 and not out.err_title
    # null html -> empty title, tiny ratio -> flagged (conservative)
    assert out.is_soft404


def test_mojibake_threshold_and_repair_roundtrip(spark):
    two = "cafÃ© and cafÃ©"          # 2 hits
    three = two + " at cafÃ©"                   # 3 hits
    df = spark.createDataFrame(
        [("a", two), ("b", three), ("c", "plain ascii text")],
        "k string, text string",
    )
    out = {r.k: r for r in mojibake_signals(df).collect()}
    assert out["a"].n_mojibake == 2 and not out["a"].is_mojibake
    assert out["b"].n_mojibake == 3 and out["b"].is_mojibake
    assert out["c"].n_mojibake == 0 and not out["c"].is_mojibake

    # every repair pair inverts; undamaged text passes through
    damaged = " ".join(bad for bad, _ in MOJIBAKE_REPAIRS)
    intended = " ".join(good for _, good in MOJIBAKE_REPAIRS)
    rep = spark.createDataFrame(
        [(damaged,), ("clean ascii",)], "text string"
    ).select(demojibake("text").alias("t")).collect()
    assert rep[0].t == intended
    assert rep[1].t == "clean ascii"


def test_adaptive_budgets_clamps_and_default(spark):
    log = spark.createDataFrame(
        # slow.test p95 ~ 100_000ms -> floor(60000/200000)=0 -> min 1
        [("slow.test", 100000.0)] * 4
        # fast.test p95 ~ 10ms -> 3000 -> capped at 64
        + [("fast.test", 10.0)] * 4
        # mid.test p95 = 300ms -> floor(60000/600) = 100 -> capped 64;
        # with alpha=10 -> floor(60000/3000) = 20
        + [("mid.test", 300.0)] * 4,
        "host string, latency_ms double",
    )
    hosts = spark.createDataFrame(
        [("slow.test",), ("fast.test",), ("mid.test",), ("idle.test",)],
        "host string",
    )
    got = {
        r.host: r.budget
        for r in adaptive_budgets(
            log, round_seconds=60.0, default_budget=7, hosts=hosts
        ).collect()
    }
    assert got == {
        "slow.test": 1,
        "fast.test": 64,
        "mid.test": 64,
        "idle.test": 7,
    }
    alpha10 = {
        r.host: r.budget
        for r in adaptive_budgets(
            log, round_seconds=60.0, default_budget=7, alpha=10.0
        ).collect()
    }
    assert alpha10["mid.test"] == 20
    assert set(alpha10) == {"slow.test", "fast.test", "mid.test"}


def test_sniff_content_type_edges(spark):
    """Classes the driver fixture doesn't inject: GIF87a, zip, a RIFF
    container that is neither WEBP nor WAV, an empty blob, and a
    whitespace-led html page (strict prefix -> unknown by design)."""
    from news_combinator_spark.functions.pagehealth import (
        sniff_content_type,
    )

    rows = [
        ("gif87", b"GIF87a" + b"x" * 4),
        ("zip", b"PK\x03\x04rest"),
        ("riff_other", b"RIFF\x00\x00\x00\x00AVI LIST"),
        ("empty", b""),
        ("ws_html", b"  <html></html>"),
        ("html", b"<!DOCTYPE html><p>x</p>"),
    ]
    df = spark.createDataFrame(rows, "k string, bin binary")
    got = {
        r.k: r.t
        for r in df.select("k", sniff_content_type("bin").alias("t")).collect()
    }
    assert got == {
        "gif87": "image/gif",
        "zip": "application/zip",
        "riff_other": "application/riff",
        "empty": "unknown",
        "ws_html": "unknown",
        "html": "text/html",
    }


def test_meta_robots_and_follow_links_edges(spark):
    """Token semantics: list values split on commas ('noindex, follow'
    -> noindex only), 'nonefoo' must not match 'none', anchors
    without href don't count, and null html is all-false/zero."""
    from news_combinator_spark.functions.pagehealth import (
        link_follow_counts,
        meta_robots_flags,
    )

    rows = [
        ("list", '<meta name="robots" content="noindex, follow"/>'
                 '<a href="/a">x</a><a name="anchor-no-href">y</a>'),
        ("notnone", '<meta name="robots" content="nonefoo"/>'
                    '<a href="/a" rel="nofollow">x</a>'),
        ("rel_first", '<a rel="nofollow" href="/a">x</a><a href="/b">y</a>'),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "k string, html_str string")
    out = {
        r.k: r
        for r in link_follow_counts(meta_robots_flags(df)).collect()
    }
    assert out["list"].noindex and not out["list"].nofollow
    assert out["list"].n_links_total == 1 == out["list"].n_links_follow
    assert not out["notnone"].noindex and not out["notnone"].nofollow
    assert out["notnone"].n_links_follow == 0
    assert out["rel_first"].n_links_total == 2
    assert out["rel_first"].n_links_follow == 1
    assert not out["null"].noindex and out["null"].n_links_total == 0
