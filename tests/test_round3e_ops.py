"""Semantics of the round-3 fourth-batch operators beyond the DuckDB
hash gate: robots TTL refresh gate, RFC 9309 wildcard rules."""

import datetime as dt

from news_combinator_spark.operators.frontier import stale_robots


# ----------------------------------------------------------- stale robots


def _ts(h):
    return dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)


def test_stale_robots_reasons_and_freshness(spark):
    log = spark.createDataFrame(
        [("h0", _ts(0)), ("h0", _ts(2)), ("h1", _ts(20))],
        "host string, fetched_ts timestamp",
    )
    sched = spark.createDataFrame(
        [("h0",), ("h1",), ("h2",)], "host string"
    )
    out = {r.host: r for r in stale_robots(
        log, sched, "2024-01-02 00:00:00", ttl_hours=12.0
    ).collect()}
    # h0 newest fetch is 2:00 -> 22h old -> expired (max wins, not min)
    assert out["h0"].reason == "expired"
    assert abs(out["h0"].robots_age_hours - 22.0) < 1e-6
    # h1 fetched 20:00 -> 4h old -> fresh, absent
    assert "h1" not in out
    # h2 never in the log
    assert out["h2"].reason == "never_fetched"
    assert out["h2"].robots_age_hours is None


def test_stale_robots_only_scheduled_hosts(spark):
    log = spark.createDataFrame(
        [("h9", _ts(0))], "host string, fetched_ts timestamp"
    )
    sched = spark.createDataFrame([("h0",)], "host string")
    out = stale_robots(log, sched, "2024-01-02 00:00:00").collect()
    assert [r.host for r in out] == ["h0"]  # h9 not scheduled -> ignored


# ------------------------------------------------- RFC 9309 wildcards


def _rules(spark, rows):
    return spark.createDataFrame(
        rows, "host string, path_prefix string, allow boolean"
    )


def _cand(spark, paths, host="h.test"):
    return spark.createDataFrame(
        [(f"http://{host}{p}", host, 0) for p in paths],
        "url string, host string, priority int",
    )


def _kept(spark, rules, paths):
    from news_combinator_spark.operators.frontier import apply_robots

    out = apply_robots(_cand(spark, paths), _rules(spark, rules))
    return {r.url.split(".test", 1)[1] for r in out.collect()}


def test_wildcard_star_matches_any_sequence(spark):
    rules = [("h.test", "/*.php", False)]
    kept = _kept(spark, rules, ["/a.php", "/x/y.php", "/a.phpx", "/a.html"])
    # '*.php' is a prefix rule (no $): /a.phpx matches too
    assert kept == {"/a.html"}


def test_dollar_anchors_end(spark):
    rules = [("h.test", "/*.php$", False)]
    kept = _kept(spark, rules, ["/a.php", "/a.phpx", "/a.php/more"])
    assert kept == {"/a.phpx", "/a.php/more"}


def test_dot_is_literal_not_regex(spark):
    # a naive translation would let '.' match any char
    rules = [("h.test", "/a.htm", False)]
    kept = _kept(spark, rules, ["/a.htm", "/axhtm"])
    assert kept == {"/axhtm"}


def test_mid_rule_dollar_is_literal(spark):
    rules = [("h.test", "/p$q", False)]
    kept = _kept(spark, rules, ["/p$q/x", "/pq/x"])
    assert kept == {"/pq/x"}


def test_longest_octets_governs_allow_wins_ties(spark):
    rules = [
        ("h.test", "/dir/*", False),        # 6 octets
        ("h.test", "/dir/open*", True),     # 10 octets -> wins under it
    ]
    kept = _kept(spark, rules, ["/dir/x", "/dir/open1", "/other"])
    assert kept == {"/dir/open1", "/other"}
