"""URL-frontier micro-round crawl scheduler.

Re-expresses the reference's crawl loop (Scrapy CrawlSpider BFS /
phpfetcher max_depth=2, reconstruction/crawler/crawler.php:420-444) as
a partitioned priority queue over DataFrames, per BASELINE.json
north_rule:

per round:  frontier --(politeness window per host)--> scheduled
            scheduled --(fetch = html lookup / pandas-UDF HTTP)--> fetched
            fetched --(link extraction kernel)--> candidates
            candidates --(canonicalize, allowed-hosts, robots)--> eligible
            eligible --(bloom prefilter + exact anti-join vs seen)--> new
            frontier' = deferred ∪ new ; seen' = seen ∪ new

Determinism contract (SURVEY.md §7 risk 1): total crawl order is
(round, priority, host, url) — never partition iteration order. The
politeness budget replaces wall-clock delays (risk 4), so the schedule
is reproducible: within a host, URLs are taken by (priority, url).

Scale notes (10^10-URL frontier):
- the politeness window is two-phase: per-(host, salt) local top-k
  first (defuses hot-host skew; budget rows per salt survive), then the
  exact per-host window over the survivors.
- seen-set anti-join is prefiltered by a SHARDED bloom (bloom.py
  ShardedBloom): the bit space is split by url-hash into executor-
  resident (shard, bits) rows, probed via a cogrouped shard-local
  applyInPandas — no driver merge, no broadcast, so the ~36 GB bitset
  a 10^10-URL seen-set implies never materializes in one place. Only
  *maybe-seen* candidates reach the exact anti-join.
- each non-final round evaluates its discovery pipeline (link
  extraction + canonicalize in ONE Arrow UDF, robots gate, prefilter
  probe) exactly once, inside the round's single materialization: the
  checkpoint write, or a localCheckpoint without a checkpoint dir. The
  probed candidates are persisted for the round so the fresh/suspect
  split reads them instead of re-running the pipeline per branch.
- per-round lineage rides `DataFrame.observe` on frames that are
  computed once anyway, so it costs no extra Spark job; the final
  round's counts fill when its fetched rows are first computed.
- seen is a lazy union of per-round checkpointed deltas, so no O(total
  seen) rewrite happens per round. On a cluster the round snapshot is
  an Iceberg commit / append, which also gives resumability — here
  save/load_checkpoint publish one parquet directory per round.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.extract import canonical_links_udf
from .bloom import build_sharded_bloom
from .commit import commit_dir, sweep
from .ranking import partitioned_global_rank

FRONTIER_COLS = ["url", "host", "priority"]


@dataclass
class RoundMetrics:
    round: int
    frontier: int = 0
    scheduled: int = 0
    deferred: int = 0
    discovered: int = 0
    robots_blocked: int = 0
    deduped: int = 0
    enqueued: int = 0


def _n() -> Column:  # the row count every lineage Observation records
    return F.count(F.lit(1)).alias("n")


def _count(obs: Observation) -> int:
    return int(obs.get["n"])


@dataclass
class CrawlResult:
    fetched: DataFrame  # round, url, host, priority, fetch_order
    # per-(round, host) scheduled/deferred counts — the north_rule's
    # per-partition lineage (host IS the politeness partition key).
    # None unless crawl(host_lineage=True).
    host_lineage: DataFrame | None = None
    # every round but the last is counted by its own checkpoint
    # materialization; the last round's (round, frontier obs, fetched
    # obs, persisted fetched frame) wait for an action on the output
    _lineage: list[RoundMetrics] = field(default_factory=list, repr=False)
    _last: tuple | None = field(default=None, repr=False)

    @property
    def lineage(self) -> list[RoundMetrics]:
        if self._last is not None:
            r, sched_obs, fetch_obs, fetched = self._last
            done = fetch_obs._jo.future().isCompleted
            if not done():
                # an action that returned may still have its
                # Observation event queued on the listener bus
                fetched.sparkSession.sparkContext._jsc.sc() \
                    .listenerBus().waitUntilEmpty()
            if not done():
                # nothing read the output yet: the one job that fills
                # both counts, on the frame later actions reuse
                fetched.count()
            m = RoundMetrics(r, _count(sched_obs), _count(fetch_obs))
            m.deferred = m.frontier - m.scheduled
            self._lineage.append(m)
            self._last = None
        return self._lineage

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (m.round, m.frontier, m.scheduled, m.deferred, m.discovered,
             m.robots_blocked, m.deduped, m.enqueued)
            for m in self.lineage
        ]
        return spark.createDataFrame(
            rows,
            "round int, frontier long, scheduled long, deferred long, "
            "discovered long, robots_blocked long, deduped long, enqueued long",
        )

    def host_lineage_df(self) -> DataFrame:
        """Per-(round, host) fetch counts — the per-partition lineage
        view (host is the frontier's partition key, so this is what a
        per-partition audit on a real cluster would record). Derived
        lazily from the fetched table; also the politeness audit: every
        n_fetched must be <= that host's budget."""
        return (
            self.fetched.groupBy("round", "host")
            .agg(
                F.count("*").alias("n_fetched"),
                F.min("fetch_order").alias("first_order"),
                F.max("fetch_order").alias("last_order"),
            )
            .orderBy("round", "host")
        )


def schedule_per_host(
    frontier: DataFrame,
    budgets: DataFrame,
    salt_buckets: int = 0,
    wait_col: str | None = None,
    aging_every: int = 2,
) -> DataFrame:
    """Politeness: keep at most `budget` URLs per host this round,
    chosen by (priority, url). Returns frontier columns + `taken` flag.

    With salt_buckets > 0, a pre-pass takes the local top-(budget) per
    (host, salt) so the final per-host window only sees
    budget*salt_buckets rows per host — O(1) per hot host instead of
    its entire frontier share.

    With `wait_col` (an int column counting rounds the row has sat
    unscheduled), selection orders by AGED priority instead:
    (priority - wait // aging_every, -wait, url). Every
    `aging_every` unscheduled rounds promote a row one priority
    class, and within a class the longest-waiting row wins — so no
    URL starves behind an endless stream of fresh higher-priority
    discoveries (wait grows monotonically while newcomers start at
    0; the maximum-wait row's key strictly improves every round
    until it is the host's first pick). The caller maintains the
    counter (`crawl(aging_every=...)` does).
    """
    if wait_col is not None:
        order = [
            (
                F.col("priority")
                - (F.col(wait_col) / F.lit(aging_every)).cast("int")
            ).alias("_eff"),
            F.col(wait_col).desc(),
            F.col("url"),
        ]
    else:
        order = [F.col("priority"), F.col("url")]
    df = frontier.join(F.broadcast(budgets), "host", "left").withColumn(
        "budget", F.coalesce(F.col("budget"), F.lit(1))
    )
    if salt_buckets > 0:
        salted = df.withColumn(
            "salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        )
        w_local = Window.partitionBy("host", "salt").orderBy(*order)
        survivors = (
            salted.withColumn("lrn", F.row_number().over(w_local))
            .filter(F.col("lrn") <= F.col("budget"))
            .drop("lrn", "salt")
        )
        rest = salted.join(survivors.select("url"), "url", "left_anti").drop(
            "salt"
        )
        w = Window.partitionBy("host").orderBy(*order)
        top = survivors.withColumn("rn", F.row_number().over(w)).withColumn(
            "taken", F.col("rn") <= F.col("budget")
        )
        return top.drop("rn", "budget").unionByName(
            rest.withColumn("taken", F.lit(False)).drop("budget")
        )
    w = Window.partitionBy("host").orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("taken", F.col("rn") <= F.col("budget"))
        .drop("rn", "budget")
    )


def adaptive_budgets(
    fetch_log: DataFrame,
    round_seconds: float,
    default_budget: int,
    min_budget: int = 1,
    max_budget: int = 64,
    alpha: float = 2.0,
    quantile: float = 0.95,
    exact: bool = True,
    hosts: DataFrame | None = None,
) -> DataFrame:
    """Adaptive politeness from OBSERVED fetch latency: per host,
    delay = alpha * p{quantile}(latency_ms), budget = clamp(
    floor(round_seconds*1000 / delay), min_budget, max_budget).

    This is the feedback loop the static `budgets_from_delays` (robots
    Crawl-delay) lacks: a host whose tail latency grows gets fetched
    less next round, a fast host more — the standard slow-down signal
    real crawlers honor (the reference has no equivalent; its fetch
    loop is sequential per source, `crawler.php`'s curl loop, so
    politeness is implicit). Compose with robots delays by taking the
    politer (smaller) budget: ``adaptive.join(static, 'host')`` +
    ``least(...)``.

    Output (host, budget) feeds `schedule_per_host` directly. Hosts
    in `hosts` with no observations get `default_budget`.

    Scale shape: one groupBy(host) — the only shuffle, keyed on the
    same column the scheduler partitions by. `exact=True` computes an
    exact interpolated percentile (ObjectHashAggregate, fine for
    per-round logs and required for the DuckDB hash oracle);
    `exact=False` switches to `approx_percentile` (partial-agg,
    map-side combined) for 10^10-row cumulative logs.
    """
    lat = F.col("latency_ms").cast("double")
    p = (
        F.percentile(lat, F.lit(float(quantile)))
        if exact
        else F.approx_percentile(lat, F.lit(float(quantile)), F.lit(10000))
    )
    per_host = fetch_log.groupBy("host").agg(p.alias("p_ms"))
    budget = F.least(
        F.greatest(
            F.floor(
                F.lit(round_seconds * 1000.0)
                / (F.lit(float(alpha)) * F.col("p_ms"))
            ),
            F.lit(min_budget),
        ),
        F.lit(max_budget),
    ).cast("int")
    budgets = per_host.select("host", budget.alias("budget"))
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


def ip_budgets(
    host_ips: DataFrame,
    ip_budget: int,
    host_budgets: DataFrame | None = None,
    min_budget: int = 1,
) -> DataFrame:
    """Per-IP politeness: virtual hosting puts many hosts on one
    server, so per-HOST budgets alone can hammer a box with the sum
    of its vhosts' budgets. Given (host, ip), split each IP's budget
    evenly across its hosts — budget = max(min_budget,
    floor(ip_budget / n_hosts_on_ip)) — and, when `host_budgets`
    (host, budget) is provided, take the politer of the two. Output
    (host, budget) feeds `schedule_per_host` unchanged.

    Even splitting is deliberate: a starving-free static allocation
    whose per-round fairness the scheduler's (priority, url) order
    then arbitrates; demand-weighted splits would need the frontier's
    per-host counts and re-plan every round — composable later via
    `apply_priority_boosts` if a deployment wants it. One
    groupBy(ip) over the host->ip map (tiny: one row per host), one
    broadcast-sized join back.
    """
    per_ip = host_ips.groupBy("ip").agg(
        F.count(F.lit(1)).alias("_n_hosts")
    )
    split = host_ips.join(F.broadcast(per_ip), "ip").select(
        "host",
        F.greatest(
            F.lit(min_budget),
            F.floor(F.lit(ip_budget) / F.col("_n_hosts")),
        ).cast("int").alias("budget"),
    )
    if host_budgets is None:
        return split
    # FULL outer: a host present on only one side keeps that side's
    # budget (least of whichever exist). An inner join would silently
    # drop hosts missing from a partial --host-ips map, demoting their
    # configured budget to the scheduler default of 1 (ADVICE r2).
    return (
        split.withColumnRenamed("budget", "_ip_b")
        .join(host_budgets.withColumnRenamed("budget", "_h_b"),
              "host", "full_outer")
        .select(
            "host",
            F.least(
                F.coalesce("_ip_b", "_h_b"), F.coalesce("_h_b", "_ip_b")
            ).cast("int").alias("budget"),
        )
    )


def apply_robots_longest_match(
    candidates: DataFrame, rules: DataFrame | None
) -> DataFrame:
    """RFC 9309 robots evaluation: among a host's rules matching the
    candidate's path, the LONGEST path_prefix governs; on a length
    tie Allow wins; no matching rule means allowed.

    This upgrades `apply_robots`' conservative prefix-disallow gate
    (which ignores Allow lines) to the full standard: ``Disallow: /a/``
    plus ``Allow: /a/img/`` blocks /a/x but re-opens /a/img/y. Rules
    come from `functions/robots.allow_disallow_rules` —
    (host, path_prefix, allow).

    Scale shape: rules broadcast (KB per host by protocol
    convention); the governing rule per candidate is one map-side-
    combined groupBy(url) max_by over (prefix length, allow) — rule
    matches per URL are bounded by the host's rule count, and no
    window or data-sized single-partition stage appears.
    """
    if rules is None:
        return candidates
    r = F.broadcast(
        rules.select(
            F.col("host").alias("r_host"), "path_prefix", "allow"
        )
    )
    path = _robots_path("url")
    cand = candidates.withColumn("_path", path)
    matched = cand.join(
        r,
        (F.col("host") == F.col("r_host"))
        & F.col("_path").startswith(F.col("path_prefix")),
        "inner",
    )
    # governing rule: longest prefix, Allow breaking length ties
    governing = matched.groupBy("url").agg(
        F.max_by(
            F.col("allow"),
            F.struct(
                F.length("path_prefix").alias("l"),
                F.col("allow").cast("int").alias("a"),
            ),
        ).alias("_allow")
    )
    out = cand.join(governing, "url", "left")
    return out.filter(
        F.col("_allow").isNull() | F.col("_allow")
    ).drop("_allow", "_path")


def schedule_with_global_cap(
    frontier: DataFrame,
    budgets: DataFrame,
    global_cap: int,
    salt_buckets: int = 0,
) -> DataFrame:
    """Politeness budgets + a GLOBAL per-round fetch cap.

    Per-host budgets bound what each host tolerates; the cluster's
    fetch capacity per round (egress, proxy pool) is a separate global
    bound. Of the budget-taken rows, keep the first ``global_cap`` in
    the crawl's total order (priority, host, url); the rest defer to
    the next round exactly like budget-deferred rows.

    The cap rank reuses `ranking.partitioned_global_rank` — per-
    (priority, host) local ranks plus a broadcast prefix-sum over the
    tiny counts frame — so no data-sized single-partition stage exists
    here either (same machinery as fetch_order).
    """
    # both output branches and the cap rank re-read these frames;
    # lazy local checkpoints materialize each once at first action
    # instead of re-running the politeness window per branch
    sched = schedule_per_host(frontier, budgets, salt_buckets).localCheckpoint(
        eager=False
    )
    taken = sched.filter("taken").drop("taken")
    deferred = sched.filter("NOT taken").drop("taken")
    ranked = partitioned_global_rank(
        taken,
        part_cols=["priority", "host"],
        order_cols=["url"],
        out_col="_gr",
    ).localCheckpoint(eager=False)
    kept = ranked.filter(F.col("_gr") <= global_cap).drop("_gr")
    over = ranked.filter(F.col("_gr") > global_cap).drop("_gr")
    return kept.withColumn("taken", F.lit(True)).unionByName(
        over.unionByName(deferred).withColumn("taken", F.lit(False))
    )


def _robots_path(col: str):
    """Path-and-beyond of a URL for robots matching. RFC 9309 §2.2.2:
    an empty path (bare-host URL like 'http://h.test') is evaluated
    as '/', so 'Disallow: /' blocks it — urllib.robotparser agrees."""
    stripped = F.regexp_replace(
        col, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", ""
    )
    return F.when(stripped == "", F.lit("/")).otherwise(stripped)


def apply_robots(candidates: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop candidate URLs disallowed by a (host, path-prefix) rule.

    Enforcement is scheme-independent, per the robots protocol: a
    rule gates every scheme/port of its host, so the match is host
    equality + path-and-beyond startswith — 'https://h/secret/x' is
    blocked by `Disallow: /secret` exactly like the http form. Rules
    carry either `path_prefix` (functions/robots.rules_from_robots_txt
    output) or a legacy full-URL `disallow_prefix`, whose
    scheme+authority is stripped here. robots is tiny -> broadcast."""
    if robots is None:
        return candidates
    if "path_prefix" in robots.columns:
        rules = robots.select("host", "path_prefix")
    else:
        rules = robots.select(
            "host",
            F.regexp_replace(
                "disallow_prefix", r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", ""
            ).alias("path_prefix"),
        )
    r = F.broadcast(rules.withColumnRenamed("host", "r_host"))
    # path-and-beyond (path + query/fragment): strip scheme+authority
    # textually so prefixes containing '?' still match; a bare-host URL
    # ('http://h.test') yields '' which RFC 9309 treats as '/'
    path = _robots_path("url")
    joined = candidates.withColumn("_path", path).join(
        r,
        (F.col("host") == F.col("r_host"))
        & F.col("_path").startswith(F.col("path_prefix")),
        "left",
    )
    return joined.filter(F.col("r_host").isNull()).drop(
        "r_host", "path_prefix", "_path"
    )


def discover_candidates(
    fetched: DataFrame,
    web_meta: DataFrame,
    robots: DataFrame | None = None,
    robots_mode: str = "prefix",
    allowed_host_suffix: str | None = None,
    prefilter=None,
    observe: tuple[Observation, Observation] | None = None,
) -> DataFrame:
    """One round's discovery step: fetched (url, html, ...) -> gated,
    deduped candidates (url, host, priority), plus `maybe` when a seen
    `prefilter` (ShardedBloom / ShardedCuckoo) is given. Links cross
    into Python once per page, and the host filter stays above the
    explode. `observe` = (discovered, robots-allowed) Observations,
    each filled with a row count `n` by the first action.
    """
    cand = fetched.select(
        F.explode(canonical_links_udf(F.col("html"))).alias("url")
    )
    if allowed_host_suffix:
        cand = cand.filter(
            F.parse_url("url", F.lit("HOST")).endswith(allowed_host_suffix)
        )
    cand = cand.dropDuplicates(["url"]).hint("shuffle_hash").join(
        web_meta, "url", "inner"
    )
    if observe is not None:
        cand = cand.observe(observe[0], _n())
    # gate mode: 'prefix' = conservative disallow-only (the
    # oracle-pinned default); 'rfc9309' = longest-match with Allow
    # overrides; 'rfc9309-wildcards' additionally honors the spec's
    # * / $ special characters — for both rfc modes, robots must be
    # functions/robots.allow_disallow_rules output
    if robots_mode == "rfc9309-wildcards":
        cand = apply_robots_rfc9309(cand, robots)
    elif robots_mode == "rfc9309":
        cand = apply_robots_longest_match(cand, robots)
    else:
        cand = apply_robots(cand, robots)
    if observe is not None:
        cand = cand.observe(observe[1], _n())
    if prefilter is None:
        return cand
    return prefilter.probe(cand, "url", out_col="maybe")


def crawl(
    spark: SparkSession,
    pages: DataFrame | None,
    seeds: DataFrame,
    budgets: DataFrame,
    robots: DataFrame | None = None,
    rounds: int = 3,
    use_bloom: bool = False,
    bloom_expected: int = 1_000_000,
    bloom_fp: float = 1e-3,
    bloom_shards: int = 64,
    prefilter_kind: str = "bloom",
    salt_buckets: int = 0,
    allowed_host_suffix: str | None = None,
    checkpoint_dir: str | None = None,
    collect_lineage: bool = True,
    start_round: int = 0,
    initial_frontier: DataFrame | None = None,
    initial_seen: DataFrame | None = None,
    fetch_order_base: int = 0,
    web_table: str | None = None,
    robots_mode: str = "prefix",
    aging_every: int = 0,
    host_lineage: bool = False,
) -> CrawlResult:
    """Run `rounds` micro-rounds; return every fetched URL with its
    round and the deterministic global fetch_order.

    Checkpoints: with `checkpoint_dir`, each round N (0 = the seeds,
    written only when starting from them) is one directory
    ``round=N/{combined, meta.json}`` published whole (`save_checkpoint`).

    Resume: pass `start_round` plus the (frontier, seen) pair from
    `load_checkpoint` to continue a crawl after the driver died —
    rounds start_round..rounds-1 replay exactly as the uninterrupted
    run would have executed them (see `resume_crawl`). `seeds` is
    ignored when `initial_frontier` is given. `fetch_order_base` (the
    checkpointed cumulative fetched count) shifts fetch_order so the
    resumed output's numbering continues the uninterrupted run's —
    merging the two fetch tables yields exactly the uninterrupted
    result, fetch_order included.

    `pages` is the web: (url, host, priority, html, ...). Fetch = join
    on url (the sandbox stand-in for the per-host pandas-UDF HTTP
    fetcher); link targets must exist in `pages` (dangling = DNS fail).
    Alternatively pass `web_table`, the name of a catalog table
    bucketed by url (operators/bucketing.write_bucketed): the fetch
    then reads the page store through its persisted bucket layout —
    Exchange-free on the big side, no session-lifetime cache — which
    is the production layout for a store shared across crawl jobs.

    Scale notes:
    - each non-final round runs `discover_candidates` once; the
      bloom/cuckoo seen PREFILTER is semantics-neutral (false
      positives fall through to the exact anti-join, no false
      negatives) and sharded by url-hash, never driver-merged.
    - `robots_mode='rfc9309'` switches the discovered-candidate gate
      to longest-match Allow/Disallow evaluation
      (`apply_robots_longest_match`); `robots` must then carry
      (host, path_prefix, allow) rows from
      `functions/robots.allow_disallow_rules`. The default 'prefix'
      mode is the oracle-pinned conservative gate.
    - lineage is always collected (Observations, no extra jobs);
      `collect_lineage` is accepted and ignored.
    - `aging_every > 0` turns on starvation-free scheduling: frontier
      rows carry a `wait` counter and the per-host selection orders
      by aged priority (see `schedule_per_host`); the counter rides
      checkpoints, so a resumed aging crawl replays exactly. OFF by
      default because aging deliberately diverges from the
      oracle-pinned (priority, url) crawl order.
    """
    if start_round >= rounds:
        raise ValueError(
            f"start_round ({start_round}) must be < rounds ({rounds}): "
            "nothing left to crawl — raise --rounds or resume an "
            "earlier checkpoint"
        )
    if robots_mode not in ("prefix", "rfc9309", "rfc9309-wildcards"):
        raise ValueError(
            "robots_mode must be 'prefix', 'rfc9309' or "
            f"'rfc9309-wildcards', got {robots_mode!r}"
        )
    # The "web" is probed by url every round. Two layouts:
    # - web_table: a catalog table bucketed by url (operators/
    #   bucketing.write_bucketed) — the production path. The bucketed
    #   scan IS the hash partitioning, so every round's fetch and
    #   priority lookup reads the 10^10-row store Exchange-free with
    #   no session cache; the layout outlives this job and is shared
    #   by every crawl against the store.
    # - pages DataFrame: sandbox path — pre-partition once on the join
    #   key and persist, so per-round lookups co-locate without a
    #   fresh full shuffle of pages (the partitioning dies with the
    #   session, which is why the table layout exists).
    if web_table is not None:
        src = spark.table(web_table)
        web = src.select("url", "host", "priority", "html")
        web_meta = src.select("url", "host", "priority")
    else:
        if pages is None:
            raise ValueError("crawl() needs either pages or web_table")
        web = pages.select("url", "host", "priority", "html").repartition(
            spark.sparkContext.defaultParallelism, "url"
        )
        web = web.persist()
        web.count()
        # a projection of the persisted web keeps its url partitioning
        web_meta = web.select("url", "host", "priority")
    # the caller's budgets frame is often built from Python rows; every
    # round broadcasts it, so deserialize it once
    budgets = F.broadcast(budgets.localCheckpoint(eager=False))

    fcols = FRONTIER_COLS + (["wait"] if aging_every > 0 else [])

    def _with_wait(df: DataFrame) -> DataFrame:
        if aging_every > 0 and "wait" not in df.columns:
            return df.withColumn("wait", F.lit(0))
        return df

    # the seen set and its prefilter are read only by a round that
    # discovers links: a run (or resume) of just the final round
    # builds neither
    discovers = start_round < rounds - 1
    if initial_frontier is not None:
        # lazy: no job of its own, its first reader materializes it
        _have = [c for c in fcols if c in initial_frontier.columns]
        frontier = _with_wait(initial_frontier.select(*_have)) \
            .select(*fcols).localCheckpoint(eager=False)
        init_seen = (
            initial_seen if initial_seen is not None else frontier
        ).select("url")
        if discovers:
            init_seen = init_seen.localCheckpoint()
    else:
        frontier = _with_wait(seeds.select(*FRONTIER_COLS)) \
            .select(*fcols).localCheckpoint()
        init_seen = frontier.select("url")
    # seen is kept as a list of already-materialized deltas; unioning
    # lazily for the anti-join avoids rewriting the (growing) full set
    # every round — O(new) per round instead of O(total seen).
    seen_parts: list[DataFrame] = [init_seen]

    def seen_df() -> DataFrame:
        return reduce(DataFrame.unionByName, seen_parts)

    # either prefilter kind is semantics-neutral, so the same crawl
    # oracle pins both; cuckoo also supports deletion at ~2x bits/key
    if prefilter_kind not in ("bloom", "cuckoo"):
        raise ValueError(
            f"prefilter_kind must be 'bloom' or 'cuckoo', got "
            f"{prefilter_kind!r}"
        )
    bloom = None
    if use_bloom and discovers:
        if prefilter_kind == "cuckoo":
            from .cuckoo import build_sharded_cuckoo

            bloom = build_sharded_cuckoo(
                seen_df(), "url", bloom_expected, bloom_shards
            )
        else:
            bloom = build_sharded_bloom(
                seen_df(), "url", bloom_expected, bloom_fp, bloom_shards
            )

    # base snapshot (every seed is seen-delta 0), written only when
    # starting from seeds: a resume from round 0 reads the committed one
    if checkpoint_dir and start_round == 0 and initial_frontier is None:
        save_checkpoint(frontier.withColumn("is_new", F.lit(True)),
                        checkpoint_dir, 0, 0)

    fetched_rounds: list[DataFrame] = []
    lineage: list[RoundMetrics] = []
    last = None
    host_lineage_rounds: list[DataFrame] = []
    fetched_total = fetch_order_base

    for r in range(start_round, rounds):
        sched_obs, fetch_obs = Observation(), Observation()
        sched = schedule_per_host(
            frontier, budgets, salt_buckets,
            wait_col="wait" if aging_every > 0 else None,
            aging_every=aging_every if aging_every > 0 else 2,
        ).observe(sched_obs, _n()).persist()
        taken = sched.filter("taken").drop("taken")
        deferred = sched.filter("NOT taken").drop("taken")
        if host_lineage:
            # #hosts rows/round; checkpointed so it survives the
            # per-round sched.unpersist (per-partition lineage is the
            # audit trail a resume/debug reads, north_rule)
            host_lineage_rounds.append(
                sched.groupBy("host")
                .agg(
                    F.sum(F.col("taken").cast("int")).alias("n_scheduled"),
                    F.sum((~F.col("taken")).cast("int")).alias("n_deferred"),
                )
                .select(F.lit(r).alias("round"), "host",
                        "n_scheduled", "n_deferred")
                .localCheckpoint()
            )
        if aging_every > 0:
            deferred = deferred.withColumn("wait", F.col("wait") + 1)

        # shuffle-hash join: the scheduled batch (bounded by sum of
        # budgets) shuffles and becomes the hash side; the persisted
        # web is already hash-partitioned on url, so it streams in
        # place — no sort, no re-shuffle, no driver-side broadcast
        # build (which would serialize on the driver each round)
        fetched = taken.withColumnRenamed("host", "t_host").withColumnRenamed(
            "priority", "t_priority"
        ).hint("shuffle_hash").join(web, "url", "inner")
        fetched = fetched.select(
            F.lit(r).alias("round"), "url",
            F.col("t_host").alias("host"),
            F.col("t_priority").alias("priority"), "html",
        ).observe(fetch_obs, _n()).persist()
        fetched_rounds.append(fetched.drop("html"))

        if r == rounds - 1:
            # nothing below reads the last round's discoveries; its
            # counts fill when the output is first computed
            last = (r, sched_obs, fetch_obs, fetched)
            sched.unpersist()
            break

        disc_obs, gate_obs, new_obs = Observation(), Observation(), Observation()
        # persisted for the round: the fresh and suspect branches
        # below both read it, and a Python-UDF plan is not reused
        # across branches, so without it the round would run the
        # whole discovery pipeline once per branch
        flagged = discover_candidates(
            fetched, web_meta, robots, robots_mode, allowed_host_suffix,
            bloom, observe=(disc_obs, gate_obs),
        ).persist()
        if bloom is not None:
            fresh = flagged.filter("NOT maybe").drop("maybe")
            suspect = flagged.filter("maybe").drop("maybe")
            new = fresh.unionByName(
                suspect.join(seen_df(), "url", "left_anti")
            )
        else:
            new = flagged.join(seen_df(), "url", "left_anti")
        # ONE materialization per round for both frames: the next
        # frontier (deferred + new) and the seen delta (new) are the
        # same rows modulo a flag. With a checkpoint dir it is the
        # round snapshot itself — committed once as parquet (frontier =
        # all rows, seen delta = is_new rows) and read back as the
        # next round's lineage cut, which unlike a localCheckpoint
        # survives an executor loss.
        combined = (
            deferred.select(*fcols)
            .withColumn("is_new", F.lit(False))
            .unionByName(
                _with_wait(new.select(*FRONTIER_COLS)).withColumn(
                    "is_new", F.lit(True)
                )
            )
            .observe(new_obs, F.count_if("is_new").alias("n"))
        )
        if checkpoint_dir is None:
            combined = combined.localCheckpoint()
        else:
            combined = save_checkpoint(
                combined, checkpoint_dir, r + 1,
                lambda: fetched_total + _count(fetch_obs))
        flagged.unpersist()
        sched.unpersist()
        frontier = combined.drop("is_new")
        new = combined.filter("is_new").drop("is_new")

        m = RoundMetrics(r, _count(sched_obs), _count(fetch_obs),
                         discovered=_count(disc_obs), enqueued=_count(new_obs))
        m.deferred = m.frontier - m.scheduled
        m.robots_blocked = m.discovered - _count(gate_obs)
        m.deduped = m.discovered - m.robots_blocked - m.enqueued
        lineage.append(m)
        fetched_total += m.scheduled

        seen_parts.append(new.select("url"))
        if bloom is not None and r + 2 < rounds:
            # shard-keyed fold of the round's seen delta (no driver-side
            # bitset); the final round probes nothing, so skip its fold
            fold = bloom.insert_delta if prefilter_kind == "cuckoo" else bloom.or_delta
            bloom = fold(new, "url")

    all_fetched = reduce(DataFrame.unionByName, fetched_rounds)
    # Total crawl order = row_number over (round, priority, host, url),
    # decomposed so no data-sized frame ever coalesces to one partition
    # (the old bare Window.orderBy was the 100x-scale killer): rank
    # within each (round, priority, host) slice — contiguous in the
    # total order since url is the last sort key — and offset by a
    # broadcast exclusive prefix sum over the rounds x priorities x
    # hosts counts frame. Identical numbering to the oracle's ORDER BY
    # (oracle/crawl_sql.py), zero single-partition data stages.
    result = partitioned_global_rank(
        all_fetched,
        part_cols=["round", "priority", "host"],
        order_cols=["url"],
        out_col="fetch_order",
        base=fetch_order_base,
        cast_to="int",
    ).select("round", "url", "host", "priority", "fetch_order")
    hl = (reduce(DataFrame.unionByName, host_lineage_rounds)
          if host_lineage_rounds else None)
    return CrawlResult(result, hl, _lineage=lineage, _last=last)


def apply_priority_boosts(
    frontier: DataFrame,
    host_boosts: DataFrame | None = None,
    url_boosts: DataFrame | None = None,
    lo: int = 0,
    hi: int = 2,
) -> DataFrame:
    """Fold ranking signals into the scheduler's priority key.

    The frontier orders fetches by (priority, url) within a host
    (lower = sooner); this is where the engine's derived signals —
    link centrality (`linkgraph.host_rank`), change frequency
    (`snapshots.recrawl_priority`), curation tiers — actually reach
    the schedule: effective = clamp(priority - host_boost - url_boost,
    lo, hi). host_boosts is (host, boost int) and broadcasts (host
    cardinality is partition-sized); url_boosts is (url, boost int)
    and joins as an ordinary AQE-planned equi-join. Missing keys
    boost 0, so passing None leaves the frontier unchanged.
    """
    out = frontier
    boost = F.lit(0)
    if host_boosts is not None:
        out = out.join(
            F.broadcast(
                host_boosts.select("host", F.col("boost").alias("_hb"))
            ),
            "host", "left",
        )
        boost = boost + F.coalesce("_hb", F.lit(0))
    if url_boosts is not None:
        out = out.join(
            url_boosts.select("url", F.col("boost").alias("_ub")),
            "url", "left",
        )
        boost = boost + F.coalesce("_ub", F.lit(0))
    out = out.withColumn(
        "priority",
        F.greatest(
            F.lit(lo), F.least(F.lit(hi), F.col("priority") - boost)
        ).cast("int"),
    )
    return out.drop("_hb", "_ub")


def _fail_threshold_hex(fail_frac: float) -> str:
    """fail_frac in [0,1] -> 13-hex-digit lowercase threshold (the
    sampling.keep_hash convention: 52 bits, exact in a double)."""
    return format(int(fail_frac * (1 << 52)), "013x")


def fetch_with_retry(
    scheduled: DataFrame,
    max_attempts: int = 3,
    fail_frac: float = 0.2,
    seed: str = "r",
) -> DataFrame:
    """Transient-failure retry waves over a scheduled fetch batch.

    A production fetcher sees timeouts/5xx on a fraction of URLs and
    re-enqueues them into later waves with exponential backoff instead
    of dropping them (the reference's php fetcher just blocks per URL,
    crawler.php:420-444 — retry scheduling is what that becomes when
    fetches are batched). The sandbox stand-in for "attempt k on url
    failed transiently" is deterministic: md5(url:seed:k) below the
    fail_frac threshold (the same 13-hex-digit uniform-hash convention
    as operators/sampling.keep_hash, so the oracle can recompute the
    exact outcome per URL).

    Input: (url, host, priority) scheduled rows. Output one row per
    input: (url, host, priority, n_attempts, fetched, backoff_rounds)
    where n_attempts is attempts actually made (first success, or
    max_attempts if all failed), fetched marks success, and
    backoff_rounds = sum(2^j for failed attempts j) is the total
    exponential-backoff delay the URL waited, in scheduling rounds.

    Scale shape: wave k is a narrow filter over wave k-1's failures —
    no shuffle at all (the failure test is a per-row expression), so
    the whole retry ladder is one whole-stage-codegen pass per wave
    over a geometrically shrinking frame.
    """
    if max_attempts < 1:
        raise ValueError("max_attempts must be >= 1")
    thr = F.lit(_fail_threshold_hex(fail_frac))

    def failed(k: int) -> F.Column:
        key = F.concat_ws(":", F.col("url"), F.lit(seed), F.lit(str(k)))
        return F.substring(F.md5(key), 1, 13) < thr

    pending = scheduled.select("url", "host", "priority").withColumn(
        "backoff_rounds", F.lit(0).cast("long")
    )
    waves: list[DataFrame] = []
    for k in range(max_attempts):
        ok = pending.withColumn("_fail", failed(k))
        waves.append(
            ok.filter(~F.col("_fail")).select(
                "url", "host", "priority",
                F.lit(k + 1).alias("n_attempts"),
                F.lit(True).alias("fetched"),
                "backoff_rounds",
            )
        )
        pending = (
            ok.filter(F.col("_fail"))
            .drop("_fail")
            .withColumn(
                "backoff_rounds", F.col("backoff_rounds") + F.lit(2 ** k)
            )
        )
    waves.append(
        pending.select(
            "url", "host", "priority",
            F.lit(max_attempts).alias("n_attempts"),
            F.lit(False).alias("fetched"),
            "backoff_rounds",
        )
    )
    out = waves[0]
    for w in waves[1:]:
        out = out.unionByName(w)
    return out


def resolve_redirects(
    urls: DataFrame,
    redirects: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Follow a redirect map (src -> dst) from each url for up to
    ``max_hops`` hops, with cycle detection.

    Canonicalization's dynamic sibling: 3xx chains are why the same
    page appears under several URLs, and the frontier must fetch the
    terminal URL and attribute the seen-set entry to it. Returns one
    row per input url: (url, final_url, hops, status) with status
    'ok'        — reached a URL with no redirect entry (final_url is
                  terminal, hops = chain length),
    'loop'      — the next hop revisited a URL already on this chain
                  (final_url = the revisited URL, hops counts the
                  closing hop),
    'truncated' — still redirecting after max_hops (final_url = where
                  the walk stopped).

    Scale shape: one equi-join per hop on the current cursor against
    the redirect map — a plain shuffle join (the map at web scale is
    too big to broadcast), max_hops bounded, each row's state is a
    <= max_hops string array. Rows settle (status non-null) as soon
    as they terminate; settled rows join on a null key (never
    matching), so a redirect entry for a loop's revisited URL cannot
    fan the row out again. `redirects` must be unique per src (one
    Location per URL) — dedupe upstream if the map is multi-version.
    """
    r = redirects.select(
        F.col("src").alias("_src"), F.col("dst").alias("_dst")
    )
    state = urls.select("url").withColumn(
        "cur", F.col("url")
    ).withColumn("path", F.array(F.col("url"))).withColumn(
        "hops", F.lit(0)
    ).withColumn("status", F.lit(None).cast("string"))
    for _ in range(max_hops):
        walk_key = F.when(F.col("status").isNull(), F.col("cur"))
        joined = state.join(
            r, walk_key == r["_src"], "left"
        )
        advanced = joined.select(
            "url",
            F.when(
                F.col("status").isNotNull(), F.col("cur")  # settled
            ).when(
                F.col("_dst").isNull(), F.col("cur")       # terminal
            ).otherwise(F.col("_dst")).alias("cur"),
            F.when(
                F.col("status").isNotNull() | F.col("_dst").isNull(),
                F.col("path"),
            ).otherwise(
                F.array_append("path", F.col("_dst"))
            ).alias("path"),
            F.when(
                F.col("status").isNotNull() | F.col("_dst").isNull(),
                F.col("hops"),
            ).otherwise(F.col("hops") + 1).alias("hops"),
            F.when(F.col("status").isNotNull(), F.col("status"))
            .when(F.col("_dst").isNull(), F.lit("ok"))
            .when(
                F.array_contains("path", F.col("_dst")), F.lit("loop")
            )
            .otherwise(F.lit(None).cast("string")).alias("status"),
        )
        state = advanced
    return state.select(
        "url",
        F.col("cur").alias("final_url"),
        "hops",
        F.coalesce("status", F.lit("truncated")).alias("status"),
    )


# --------------------------------------------------------------------------
# Checkpoint / resume (Iceberg-snapshot stand-in; SURVEY.md §2.9)
# --------------------------------------------------------------------------

def save_checkpoint(combined: DataFrame, path: str, rnd: int,
                    n_fetched: int | Callable[[], int]) -> DataFrame:
    """Commit round `rnd` as ONE directory (`commit.commit_dir`):
    ``combined``, the full frontier, inherently O(frontier), whose
    is_new rows are the round's seen DELTA, O(new) — the full seen set
    is the union of deltas 0..rnd, never rewritten; and ``meta.json``
    with the cumulative fetched count that continues fetch_order on
    resume (`n_fetched` may be a callable, read after the data write).
    Returns the committed frame, read back."""
    dest = os.path.join(path, f"round={rnd}")

    def write(staging: str) -> dict:
        combined.write.parquet(os.path.join(staging, "combined"))
        n = n_fetched() if callable(n_fetched) else n_fetched
        return {"round": rnd, "n_fetched": n}

    commit_dir(dest, write)
    spark, cpath = combined.sparkSession, os.path.join(dest, "combined")
    # persisted frames over a replaced round (an earlier run's, before
    # a resume) re-plan against its new files, as after an overwrite
    spark.catalog.refreshByPath(cpath)
    return spark.read.parquet(cpath)


def load_checkpoint(spark: SparkSession, path: str, rnd: int):
    """-> (frontier, seen, meta) for round `rnd`. seen = union of the
    is_new deltas of rounds 0..rnd, each written once (the read side
    of the O(new)/round design). Rounds 0..rnd must all be committed,
    else FileNotFoundError names the committed ones. A dead writer's
    half-done publish is rolled back first (`commit.sweep`)."""
    sweep(path)
    dirs = os.listdir(path) if os.path.isdir(path) else []
    committed = sorted(int(d[6:]) for d in dirs if d.startswith("round=")
                       and os.path.isfile(f"{path}/{d}/meta.json"))
    if not set(range(rnd + 1)) <= set(committed):
        raise FileNotFoundError(f"{path}: rounds 0..{rnd} not all "
                                f"committed; committed rounds: {committed}")
    parts = [spark.read.parquet(f"{path}/round={r}/combined")
             for r in range(rnd + 1)]
    seen = reduce(DataFrame.unionByName,
                  (p.filter("is_new").select("url") for p in parts))
    with open(f"{path}/round={rnd}/meta.json") as f:
        return parts[-1].drop("is_new"), seen, json.load(f)


def merge_frontiers(*frontiers: DataFrame) -> DataFrame:
    """Merge frontier snapshots from separate origins (a resumed
    checkpoint, a sitemap-discovered delta, a second seed list, a
    prior crawl's recrawl queue) into ONE schedulable frontier:
    exactly one row per url, the most urgent proposal winning.

    Semantics per url: priority = min over proposals (lower sorts
    first in schedule_per_host, so min keeps the most urgent),
    host = the single host every proposal carries (min() for
    determinism against malformed inputs), n_sources = how many
    input frontiers proposed the url (a scheduler can boost
    multiply-proposed urls via apply_priority_boosts).

    One union + one map-side-combined groupBy on url — the same
    shuffle key the crawl loop's dedup uses, so at scale the merged
    frame enters the round already partitioned correctly. Never a
    window, never a driver-side fold."""
    if not frontiers:
        raise ValueError("merge_frontiers needs at least one frontier")
    uni = frontiers[0].select(*FRONTIER_COLS)
    for fr in frontiers[1:]:
        uni = uni.unionByName(fr.select(*FRONTIER_COLS))
    return uni.groupBy("url").agg(
        F.min("host").alias("host"),
        F.min("priority").alias("priority"),
        F.count(F.lit(1)).alias("n_sources"),
    )


def resume_crawl(
    spark: SparkSession,
    pages: DataFrame | None,
    budgets: DataFrame,
    checkpoint_dir: str,
    from_round: int,
    rounds: int,
    **crawl_kwargs,
) -> CrawlResult:
    """Continue a checkpointed crawl from `from_round` (the round the
    checkpoint was written FOR, i.e. save_checkpoint's rnd; 0 = the
    seeds; only committed rounds are read). The resumed rounds
    execute exactly as the uninterrupted run would:
    same frontier, same seen set, same schedule/fetch set/lineage, and
    — via the checkpointed cumulative fetched count — the same global
    fetch_order values, so unioning the pre-crash output with the
    resumed output reproduces the uninterrupted table exactly.
    Re-fetching rounds < from_round is never needed — their results
    are already in the output table (idempotent append keyed by url)."""
    if from_round >= rounds:
        raise ValueError(
            f"from_round ({from_round}) must be < rounds ({rounds})"
        )
    frontier, seen, meta = load_checkpoint(spark, checkpoint_dir, from_round)
    return crawl(
        spark,
        pages,
        seeds=frontier,  # ignored, but keeps the signature total
        budgets=budgets,
        rounds=rounds,
        start_round=from_round,
        initial_frontier=frontier,
        initial_seen=seen,
        checkpoint_dir=checkpoint_dir,
        fetch_order_base=int(meta["n_fetched"]),
        **crawl_kwargs,
    )


def stale_robots(
    robots_log: DataFrame,
    scheduled: DataFrame,
    now,
    ttl_hours: float = 24.0,
    host_col: str = "host",
    ts_col: str = "fetched_ts",
) -> DataFrame:
    """Which hosts need a robots.txt refetch BEFORE this round may
    fetch from them: (host, robots_age_hours, reason) for every host
    in ``scheduled`` whose newest robots fetch in ``robots_log`` is
    older than ``ttl_hours`` ('expired') or absent ('never_fetched').

    RFC 9309 §2.4 allows caching robots.txt up to 24 hours; a crawler
    that schedules against an expired ruleset risks fetching newly
    disallowed paths, so the refresh set is a per-round admission
    input exactly like the politeness budgets. Shape: one
    map-side-combined max per host over the log, one distinct on the
    round's hosts, one equi-join at host cardinality — never a scan
    of page-level data.
    """
    latest = robots_log.groupBy(
        F.col(host_col).alias("host")
    ).agg(F.max(ts_col).alias("last_fetch"))
    hosts = scheduled.select(
        F.col(host_col).alias("host")
    ).dropDuplicates(["host"])
    now_col = F.lit(now).cast("timestamp")
    age_h = (
        now_col.cast("double") - F.col("last_fetch").cast("double")
    ) / 3600.0
    joined = hosts.join(latest, "host", "left")
    return joined.filter(
        F.col("last_fetch").isNull() | (age_h > ttl_hours)
    ).select(
        "host",
        F.round(age_h, 4).alias("robots_age_hours"),
        F.when(F.col("last_fetch").isNull(), F.lit("never_fetched"))
        .otherwise(F.lit("expired"))
        .alias("reason"),
    )


def drain_forecast(
    frontier: DataFrame,
    budgets: DataFrame,
    host_col: str = "host",
    prio_col: str = "priority",
    default_budget: int | None = None,
) -> DataFrame:
    """Crawl-horizon forecast: for every (host, priority class), the
    first and last politeness round in which its URLs get fetched —
    (host, priority, n_urls, budget, first_round, last_round).

    The scheduler drains each host strictly in priority order at
    ``budget`` URLs per round, so class p starts once all
    higher-priority URLs are through: first_round =
    floor(cum_before / budget) + 1, last_round =
    ceil((cum_before + n) / budget). This is the capacity question a
    crawl operator actually asks ("when does priority-2 backlog for
    this host start moving?") and the input to round-count SLAs.

    Shape: one map-side-combined groupBy to (host, priority)
    cardinality, a cumulative window PARTITIONED BY HOST (bounded by
    the priority-class count, never a global window), one
    host-cardinality budget join.

    A host with no budget row is DROPPED by default (same contract as
    schedule_per_host: budgets define the crawlable set) — pass
    ``default_budget`` to instead forecast it at that rate, avoiding
    the silent-omission trap a partial budget table springs on the
    unwary (the ip_budgets lesson).
    """
    from pyspark.sql import Window

    counts = frontier.groupBy(host_col, prio_col).agg(
        F.count(F.lit(1)).alias("n_urls")
    )
    w = (
        Window.partitionBy(host_col)
        .orderBy(prio_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = counts.withColumn(
        "cum_before", F.coalesce(F.sum("n_urls").over(w), F.lit(0))
    )
    if default_budget is None:
        joined = cum.join(budgets, host_col)
    else:
        joined = cum.join(budgets, host_col, "left").withColumn(
            "budget",
            F.coalesce(F.col("budget"), F.lit(int(default_budget))),
        )
    b = F.col("budget").cast("double")
    return joined.select(
        host_col,
        prio_col,
        "n_urls",
        "budget",
        (F.floor(F.col("cum_before") / b) + 1)
        .cast("long")
        .alias("first_round"),
        F.ceil((F.col("cum_before") + F.col("n_urls")) / b)
        .cast("long")
        .alias("last_round"),
    )


def robots_rule_pattern(col):
    """Translate an RFC 9309 rule path (which may contain the spec's
    two special characters: ``*`` = any character sequence, ``$`` =
    end-of-path anchor) into a start-anchored regex, as a pure column
    expression over the RULES frame (per-host-KB sized, never data
    scale).

    All regex metacharacters in the rule are escaped EXCEPT ``*``;
    a trailing ``$`` becomes the regex anchor (mid-rule ``$`` is
    literal, per spec). The output uses only `. * \\ ^ $` regex
    syntax, which Java regex and RE2 interpret identically — the
    property the cross-engine oracle relies on."""
    c = F.col(col) if isinstance(col, str) else col
    body = F.regexp_replace(c, r"\$$", "")
    esc = F.regexp_replace(
        body, r"([.\[\]{}()+?^$|\\])", r"\\$1"
    )
    star = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(
        F.lit("^"),
        star,
        F.when(c.endswith("$"), F.lit("$")).otherwise(F.lit("")),
    )


def apply_robots_rfc9309(
    candidates: DataFrame, rules: DataFrame | None
) -> DataFrame:
    """Full RFC 9309 rule evaluation including the spec's special
    characters (S2.2.3): ``Disallow: /*.php$`` or ``Allow: /a/*/13``
    match with ``*`` as any-sequence and trailing ``$`` as an
    end anchor; among a host's matching rules the one with the most
    octets (the rule string as written) governs, Allow winning length
    ties; no match means allowed.

    This supersedes `apply_robots_longest_match` (exact-prefix rules
    only) when rule sets use wildcards — prefix startswith() treats
    '*' as a literal and silently never matches such rules. Shape is
    identical: rules (with their translated regexes) broadcast, the
    match predicate evaluated JVM-side in the join, the governing
    rule one map-side-combined max_by per url.
    """
    if rules is None:
        return candidates
    r = F.broadcast(
        rules.select(
            F.col("host").alias("r_host"),
            "allow",
            robots_rule_pattern("path_prefix").alias("pat"),
            F.length("path_prefix").alias("plen"),
        )
    )
    path = _robots_path("url")
    cand = candidates.withColumn("_path", path)
    matched = cand.join(
        r,
        (F.col("host") == F.col("r_host"))
        & F.regexp_like(F.col("_path"), F.col("pat")),
        "inner",
    )
    governing = matched.groupBy("url").agg(
        F.max_by(
            F.col("allow"),
            F.struct(
                F.col("plen").alias("l"),
                F.col("allow").cast("int").alias("a"),
            ),
        ).alias("_allow")
    )
    out = cand.join(governing, "url", "left")
    return out.filter(
        F.col("_allow").isNull() | F.col("_allow")
    ).drop("_allow", "_path")
