"""robots.txt parser vs the stdlib's urllib.robotparser, plus
end-to-end gating through frontier.apply_robots."""

import urllib.robotparser

from pyspark.sql import functions as F

from news_combinator_spark.functions.robots import rules_from_robots_txt
from news_combinator_spark.operators.frontier import apply_robots

# No Allow lines (urllib.robotparser applies them first-match, not
# RFC 9309 longest-match); everything else a real file has: multi-UA
# groups, comments, blank lines, empty Disallow, agent-specific
# groups, colon in a prefix.
_TXT = """# robots for example host
User-agent: fetchbot
Disallow: /private

User-agent: helper
User-agent: *
Disallow: /a/2024
Disallow: /tmp:scratch/
Disallow:

User-agent: other
Disallow: /elsewhere
"""

_PATHS = [
    "/private/x",
    "/a/2024/doc.htm",
    "/a/2023/doc.htm",
    "/tmp:scratch/y",
    "/elsewhere/z",
    "/",
]


def test_star_rules_match_urllib_robotparser(spark):
    robots = spark.createDataFrame(
        [("h9.test", _TXT)], "host string, robots_txt string"
    )
    rules = rules_from_robots_txt(robots).toPandas()
    prefixes = sorted(rules.path_prefix)
    assert prefixes == ["/a/2024", "/tmp:scratch/"]

    rp = urllib.robotparser.RobotFileParser()
    rp.parse(_TXT.splitlines())
    for path in _PATHS:
        expected = rp.can_fetch("*", f"http://h9.test{path}")
        got = not any(path.startswith(p) for p in prefixes)
        assert got == expected, path


def test_agent_specific_group(spark):
    robots = spark.createDataFrame(
        [("h9.test", _TXT)], "host string, robots_txt string"
    )
    rules = rules_from_robots_txt(robots, agent="fetchbot").toPandas()
    assert sorted(rules.path_prefix) == ["/private"]


def test_parsed_rules_gate_candidates(spark):
    robots = spark.createDataFrame(
        [("h9.test", _TXT)], "host string, robots_txt string"
    )
    rules = rules_from_robots_txt(robots)
    cand = spark.createDataFrame(
        [(f"http://h9.test{p}", "h9.test", 0) for p in _PATHS],
        "url string, host string, priority int",
    )
    kept = sorted(
        r.url for r in apply_robots(cand, rules).collect()
    )
    rp = urllib.robotparser.RobotFileParser()
    rp.parse(_TXT.splitlines())
    expected = sorted(
        f"http://h9.test{p}"
        for p in _PATHS
        if rp.can_fetch("*", f"http://h9.test{p}")
    )
    assert kept == expected
    assert 0 < len(kept) < len(_PATHS)


def test_crawl_delays_group_attribution_and_max(spark):
    from news_combinator_spark.functions.robots import (
        budgets_from_delays,
        crawl_delays_from_robots_txt,
    )

    txt_a = (
        "User-agent: fetchbot\nCrawl-delay: 99\n\n"
        "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n\n"
        "User-agent: helper\nUser-agent: *\nCrawl-delay: 5\n"
    )
    txt_b = "User-agent: *\nCrawl-delay: soon\nDisallow: /y\n"  # unparseable
    txt_c = "User-agent: *\nDisallow: /z\n"  # no delay at all
    robots = spark.createDataFrame(
        [("a.test", txt_a), ("b.test", txt_b), ("c.test", txt_c)],
        "host string, robots_txt string",
    )
    delays = {
        r.host: r.crawl_delay
        for r in crawl_delays_from_robots_txt(robots).collect()
    }
    # bot-group 99 ignored; max(2, 5) across applicable star groups;
    # unparseable and absent delays yield no row
    assert delays == {"a.test": 5.0}

    hosts = robots.select("host")
    budgets = {
        r.host: r.budget
        for r in budgets_from_delays(
            crawl_delays_from_robots_txt(robots),
            round_seconds=30,
            default_budget=7,
            hosts=hosts,
        ).collect()
    }
    assert budgets == {"a.test": 6, "b.test": 7, "c.test": 7}


def test_spaced_user_agent_colon(spark):
    """'User-Agent : *' (space before the colon) heads a group like
    urllib.robotparser accepts; mis-grouping would either return zero
    star rules or leak a bot group's rules into '*'."""
    txt = (
        "User-agent: fetchbot\nDisallow: /private\n"
        "User-Agent : *\nDisallow: /x\n"
    )
    robots = spark.createDataFrame(
        [("h9.test", txt)], "host string, robots_txt string"
    )
    star = rules_from_robots_txt(robots).toPandas()
    assert sorted(star.path_prefix) == ["/x"]
    bot = rules_from_robots_txt(robots, agent="fetchbot").toPandas()
    assert sorted(bot.path_prefix) == ["/private"]


def test_apply_robots_is_scheme_independent(spark):
    """A Disallow rule gates every scheme/port of its host: the https
    and :8080 forms of a disallowed path are blocked exactly like the
    http form (the gate matches host + path, never a scheme-qualified
    URL prefix)."""
    rules = spark.createDataFrame(
        [("h9.test", "/secret", False)],
        "host string, path_prefix string, allow boolean",
    )
    cand = spark.createDataFrame(
        [
            ("https://h9.test/secret/x", "h9.test", 0),
            ("http://h9.test:8080/secret/y", "h9.test", 0),
            ("http://h9.test/secret/z", "h9.test", 0),
            ("https://h9.test/open/a", "h9.test", 0),
        ],
        "url string, host string, priority int",
    )
    kept = set(apply_robots(cand, rules).toPandas().url)
    assert kept == {"https://h9.test/open/a"}


def test_longest_match_allow_reopens_subtree(spark):
    """RFC 9309 longest-match: Allow: /a/img/ re-opens a subtree of
    Disallow: /a/; a same-length Allow/Disallow pair ties to Allow;
    a URL matching no rule is allowed; a longer Disallow under an
    Allow closes it again (most-specific rule governs, any depth)."""

    txt = (
        "User-agent: *\n"
        "Disallow: /a/\n"
        "Allow: /a/img/\n"
        "Disallow: /a/img/raw/\n"
        "Allow: /tie\n"
        "Disallow: /tie\n"
    )
    robots = spark.createDataFrame(
        [("h.test", txt)], "host string, robots_txt string"
    )
    rules = rules_from_robots_txt(robots)
    cand = spark.createDataFrame(
        [
            ("http://h.test/a/x", "h.test", 0),          # blocked
            ("http://h.test/a/img/y", "h.test", 0),      # re-opened
            ("http://h.test/a/img/raw/z", "h.test", 0),  # re-closed
            ("http://h.test/tie/q", "h.test", 0),        # tie -> allow
            ("http://h.test/open", "h.test", 0),         # no rule
            ("http://other.test/a/x", "other.test", 0),  # other host
        ],
        "url string, host string, priority int",
    )
    kept = set(apply_robots(cand, rules).toPandas().url)
    assert kept == {
        "http://h.test/a/img/y",
        "http://h.test/tie/q",
        "http://h.test/open",
        "http://other.test/a/x",
    }


def test_rules_drop_empty_values(spark):
    """Empty Disallow (allow-all) and empty Allow (no-op) produce no
    rules; both kinds parse from the matched agent group only, Allow
    lines as allow = true rows."""
    txt = (
        "User-agent: otherbot\nDisallow: /not-ours\n\n"
        "User-agent: *\nDisallow: /a\nAllow: /a/b\n"
        "Disallow:\nAllow:\n"
    )
    robots = spark.createDataFrame(
        [("h.test", txt)], "host string, robots_txt string"
    )
    got = {
        (r.path_prefix, r.allow)
        for r in rules_from_robots_txt(robots).collect()
    }
    assert got == {("/a", False), ("/a/b", True)}


def test_request_rate_parse_and_composition(spark):
    """Request-rate: n/t -> delay t/n; politest (max) wins across
    multiple applying values; zero/malformed rates drop; time-window
    suffixes are ignored (rate honored all day); other agents'
    groups don't leak; effective_delays = max(Crawl-delay, rate)."""
    from news_combinator_spark.functions.robots import (
        effective_delays,
        request_rates_from_robots_txt,
    )

    txt = (
        "User-agent: otherbot\nRequest-rate: 1/100\n\n"
        "User-agent: *\n"
        "Crawl-delay: 4\n"
        "Request-rate: 1/6\n"
        "Request-rate: 2/4 0600-1800\n"   # 2s, window ignored
        "Request-rate: 0/5\n"             # zero pages -> dropped
        "Request-rate: 5/0\n"             # zero seconds -> dropped
        "Request-rate: abc\n"             # malformed -> dropped
    )
    robots = spark.createDataFrame(
        [("h.test", txt), ("norate.test", "User-agent: *\nCrawl-delay: 7\n")],
        "host string, robots_txt string",
    )
    rates = {
        r.host: r.crawl_delay
        for r in request_rates_from_robots_txt(robots).collect()
    }
    assert rates == {"h.test": 6.0}  # max(6/1, 4/2); otherbot ignored
    eff = {
        r.host: r.crawl_delay for r in effective_delays(robots).collect()
    }
    assert eff == {"h.test": 6.0, "norate.test": 7.0}


def test_fuzz_disallow_only_parity_vs_urllib(spark):
    """Seeded fuzz: 40 random Disallow-only robots bodies (random
    agent groups, comments, spacing, blank lines, malformed lines,
    empty Disallows) x 12 probe paths each — the engine's parse +
    gate must agree with urllib.robotparser on every (body, path).
    Allow-bearing bodies are excluded: urllib applies first-match
    order semantics there, while the engine's gate is RFC 9309
    longest-match (pinned by its own tests), so Disallow-only is the
    shared-semantics core where ANY disagreement is a real parser
    bug. One Spark job for
    the whole matrix."""
    import random
    import urllib.robotparser

    from news_combinator_spark.functions.robots import (
        rules_from_robots_txt,
    )
    from news_combinator_spark.operators.frontier import apply_robots

    rng = random.Random(20240818)
    segs = ["a", "b", "cat", "x1", "deep/dir", "idx.htm", ""]

    def rand_path():
        return "/" + "/".join(
            rng.choice(segs) for _ in range(rng.randint(1, 3))
        ).strip("/")

    bodies, probes = [], []
    for i in range(40):
        lines = []
        n_groups = rng.randint(1, 3)
        star_done = False
        for agent in rng.sample(["*", "googlebot", "ncbot"], n_groups):
            star_done = star_done or agent == "*"
            lines.append(f"User-agent: {agent}")
            # every group gets >=1 real rule: an empty group followed
            # by another UA line is ANOTHER legacy-vs-RFC divergence
            # (urllib ends groups at blank lines; RFC 9309 ignores
            # blanks and merges consecutive UA lines into one group)
            lines.append("Disallow: " + rand_path())
            for _ in range(rng.randint(0, 3)):
                kind = rng.random()
                if kind < 0.7:
                    lines.append(
                        rng.choice(["Disallow:", "Disallow :", "disallow:"])
                        + rng.choice(["", " "]) + rand_path()
                    )
                elif kind < 0.8:
                    lines.append("Disallow:")          # allow-all
                elif kind < 0.9:
                    lines.append("# comment " + rand_path())
                else:
                    lines.append("not a directive line")
            if rng.random() < 0.5:
                lines.append("")
        if not star_done:
            lines += ["User-agent: *", "Disallow: " + rand_path()]
        body = "\n".join(lines) + "\n"
        host = f"f{i}.test"
        bodies.append((host, body))
        for _ in range(12):
            probes.append((f"http://{host}{rand_path()}", host))
        # bare-host probe: empty path must evaluate as '/' (RFC 9309;
        # urllib.robotparser coalesces '' -> '/' in can_fetch too)
        probes.append((f"http://{host}", host))

    robots = spark.createDataFrame(
        bodies, "host string, robots_txt string"
    )
    cand = spark.createDataFrame(
        [(u, h, 0) for u, h in probes],
        "url string, host string, priority int",
    ).dropDuplicates(["url"])
    kept = {
        r.url
        for r in apply_robots(cand, rules_from_robots_txt(robots)).collect()
    }

    parsers = {}
    for host, body in bodies:
        rp = urllib.robotparser.RobotFileParser()
        rp.parse(body.splitlines())
        parsers[host] = rp
    mismatches = []
    for r in cand.collect():
        expected = parsers[r.host].can_fetch("*", r.url)
        got = r.url in kept
        if expected != got:
            mismatches.append((r.url, expected, got))
    assert not mismatches, mismatches[:10]


def test_bare_host_url_blocked_by_disallow_root(spark):
    """'http://h.test' (no path) is '/' under RFC 9309, so
    'Disallow: /' blocks it (ADVICE r2: the old strip yielded '' and
    let it through)."""
    cand = spark.createDataFrame(
        [("http://h.test", "h.test", 0), ("http://open.test", "open.test", 0)],
        "url string, host string, priority int",
    )
    rules = spark.createDataFrame(
        [("h.test", "/", False)],
        "host string, path_prefix string, allow boolean",
    )
    kept = {r.url for r in apply_robots(cand, rules).collect()}
    assert kept == {"http://open.test"}
