"""robots.txt parsing as JVM-side DataFrame expressions.

The reference delegates robots handling to scrapy's middleware
(reconstruction/crawler settings enable ROBOTSTXT_OBEY); the frontier
here gates candidates with `frontier.apply_robots` over
(host, path_prefix, allow) rules. This module produces those rules
from RAW robots.txt bodies — one body per host, fetched like any
other page — so the whole politeness pipeline runs from crawl data
with no driver-side parsing.

Semantics (RFC 9309, as `apply_robots` enforces them):
- groups: consecutive `User-agent:` lines head a group; the group's
  rules run until the next group starts (a UA line whose previous
  significant line is not a UA line).
- a group applies to `agent` if ANY of its UA lines equals it
  (case-insensitive; `*` is just an agent name here).
- `Allow:` and `Disallow:` with a non-empty value each emit a rule;
  an empty Disallow (allow-all) and an empty Allow (no-op) emit
  nothing. Precedence between rules (longest match, Allow on a tie)
  and the `*` / `$` special characters are the gate's business.
- comments (`#...`) and blank lines are ignored.

Scale design: everything is split/regexp/window expressions — no
Python. The only window partitions by host, and a robots body is
KB-sized by protocol convention, so no partition can exceed a few
thousand lines regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "rules_from_robots_txt",
    "crawl_delays_from_robots_txt",
    "request_rates_from_robots_txt",
    "effective_delays",
    "budgets_from_delays",
]


def _typed_lines(
    robots: DataFrame,
    host_col: str,
    txt_col: str,
) -> DataFrame:
    """Parse bodies into per-line directive rows:
    (host, pos, directive, value, is_ua)."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(txt_col), "\n")).alias("pos", "raw"),
    ).select(
        "host",
        "pos",
        F.trim(F.regexp_replace("raw", "#.*", "")).alias("line"),
    )
    typed = lines.select(
        "host",
        "pos",
        # directive = lowercased name before the first colon; a line
        # with no colon is not a directive at all. Trim tolerates
        # 'User-agent : *' spacing (urllib.robotparser accepts it)
        F.when(
            F.expr("instr(line, ':')") > 0,
            F.lower(F.trim(F.substring_index("line", ":", 1))),
        ).otherwise(F.lit("")).alias("directive"),
        # value = everything after the FIRST colon (a prefix may
        # itself contain colons)
        F.trim(
            F.expr("substring(line, instr(line, ':') + 1)")
        ).alias("value"),
    )
    return typed.filter(F.length("line") > 0).withColumn(
        "is_ua", F.col("directive") == "user-agent"
    )


def _agent_group_lines(
    robots: DataFrame,
    agent: str,
    host_col: str,
    txt_col: str,
) -> DataFrame:
    """Restrict the per-line rows to the groups that apply to
    `agent`: (host, pos, is_ua, directive, value)."""
    typed = _typed_lines(robots, host_col, txt_col)
    w = Window.partitionBy("host").orderBy("pos")
    grouped = typed.withColumn(
        "new_group",
        (
            F.col("is_ua")
            & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False))
        ).cast("int"),
    ).withColumn("group_id", F.sum("new_group").over(w))
    agent_groups = (
        grouped.filter(
            F.col("is_ua") & (F.lower("value") == agent.lower())
        )
        .select("host", "group_id")
        .distinct()
    )
    return grouped.join(agent_groups, ["host", "group_id"])


def rules_from_robots_txt(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots_txt) -> distinct Allow and Disallow rules applying
    to `agent`: (host, path_prefix, allow boolean), where path_prefix
    is the rule's literal value — the scheme-independent path rule
    `frontier.apply_robots` matches against the candidate URL's path
    (a rule applies per robots protocol to every scheme/port of its
    host)."""
    g = _agent_group_lines(robots, agent, host_col, txt_col)
    return (
        g.filter(
            F.col("directive").isin("allow", "disallow")
            & (F.length("value") > 0)
        )
        .select(
            "host",
            F.col("value").alias("path_prefix"),
            (F.col("directive") == "allow").alias("allow"),
        )
        .distinct()
    )


def crawl_delays_from_robots_txt(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots_txt) -> (host, crawl_delay double) from
    `Crawl-delay:` directives in the groups applying to `agent`.
    When several values apply, the politest (MAX) delay wins. Hosts
    without a parseable positive delay are absent (callers fall back
    to their default budget); non-numeric values are dropped."""
    g = _agent_group_lines(robots, agent, host_col, txt_col)
    delays = g.filter(F.col("directive") == "crawl-delay").select(
        "host",
        # try_cast: a malformed delay is dropped, not a query error
        F.expr("try_cast(value AS double)").alias("crawl_delay"),
    ).filter(F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0))
    return delays.groupBy("host").agg(
        F.max("crawl_delay").alias("crawl_delay")
    )


def request_rates_from_robots_txt(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots_txt) -> (host, crawl_delay double) from the
    NONSTANDARD ``Request-rate: n/t`` directive (n pages per t
    seconds -> delay t/n s), which pre-RFC crawlers honored alongside
    Crawl-delay and plenty of sites still serve. Output schema matches
    `crawl_delays_from_robots_txt` so the two compose with a plain
    union + max (politest wins) into `budgets_from_delays` — see
    `effective_delays`. Malformed or non-positive rates are dropped.
    Time-window suffixes ('1/5 0600-1800') are ignored — the rate is
    honored all day, the conservative reading."""
    g = _agent_group_lines(robots, agent, host_col, txt_col)
    rr = g.filter(F.col("directive") == "request-rate").select(
        "host",
        F.expr(
            r"try_cast(regexp_extract(value, '^(\\d+)\\s*/\\s*(\\d+)', 1)"
            " AS double)"
        ).alias("n"),
        F.expr(
            r"try_cast(regexp_extract(value, '^(\\d+)\\s*/\\s*(\\d+)', 2)"
            " AS double)"
        ).alias("t"),
    )
    return (
        rr.filter((F.col("n") > 0) & (F.col("t") > 0))
        .select("host", (F.col("t") / F.col("n")).alias("crawl_delay"))
        .groupBy("host")
        .agg(F.max("crawl_delay").alias("crawl_delay"))
    )


def effective_delays(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """Politest per-host delay across BOTH directives: max of
    Crawl-delay and the Request-rate-implied delay. Feeds
    `budgets_from_delays` unchanged."""
    both = crawl_delays_from_robots_txt(
        robots, agent, host_col, txt_col
    ).unionByName(
        request_rates_from_robots_txt(robots, agent, host_col, txt_col)
    )
    return both.groupBy("host").agg(F.max("crawl_delay").alias("crawl_delay"))


def budgets_from_delays(
    delays: DataFrame,
    round_seconds: float,
    default_budget: int,
    hosts: DataFrame | None = None,
) -> DataFrame:
    """Turn crawl delays into the per-round politeness budgets the
    frontier's `schedule_per_host` consumes: budget = max(1,
    floor(round_seconds / delay)). When `hosts` (a 1-column host
    frame) is given, hosts without a delay get `default_budget`;
    otherwise only delayed hosts are returned."""
    budgets = delays.select(
        "host",
        F.greatest(
            F.lit(1),
            F.floor(F.lit(float(round_seconds)) / F.col("crawl_delay")),
        ).cast("int").alias("budget"),
    )
    if hosts is None:
        return budgets
    return (
        hosts.select("host")
        .distinct()
        .join(budgets, "host", "left")
        .select(
            "host",
            F.coalesce("budget", F.lit(default_budget)).alias("budget"),
        )
    )
