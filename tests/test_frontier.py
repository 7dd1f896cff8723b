"""Frontier scheduler vs the unrolled DuckDB oracle + invariants."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from news_combinator_spark.datagen import (
    CRAWL_ROUNDS,
    budgets_df,
    pages_from_documents,
    robots_df,
    seeds_df,
)
from news_combinator_spark.operators.frontier import (
    apply_robots,
    crawl,
    schedule_per_host,
)
from news_combinator_spark.oracle.crawl_sql import (
    crawl_oracle_sql,
    seen_set_oracle_sql,
)

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def crawl_result(spark):
    pages = pages_from_documents(spark, SF_SMALL)
    res = crawl(
        spark,
        pages,
        seeds_df(spark, pages),
        budgets_df(spark),
        robots=robots_df(spark),
        rounds=CRAWL_ROUNDS,
        allowed_host_suffix=".test",
    )
    return res


def _n_docs() -> int:
    con = duckdb.connect()
    return con.execute(
        f"SELECT count(*) FROM '{SF_SMALL}/documents.parquet'"
    ).fetchone()[0]


def _oracle(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_SMALL}/documents.parquet'"
    )
    return con.execute(sql).fetchdf()


def test_crawl_matches_oracle_exactly(crawl_result):
    got = (
        crawl_result.fetched.toPandas()
        .sort_values("fetch_order")
        .reset_index(drop=True)
    )
    exp = (
        _oracle(crawl_oracle_sql(_n_docs()))
        .sort_values("fetch_order")
        .reset_index(drop=True)
    )
    cols = ["round", "url", "host", "priority", "fetch_order"]
    pd.testing.assert_frame_equal(
        got[cols].astype(str), exp[cols].astype(str)
    )


def test_bloom_prefilter_same_result(spark, crawl_result):
    pages = pages_from_documents(spark, SF_SMALL)
    res_bloom = crawl(
        spark,
        pages,
        seeds_df(spark, pages),
        budgets_df(spark),
        robots=robots_df(spark),
        rounds=CRAWL_ROUNDS,
        allowed_host_suffix=".test",
        use_bloom=True,
        bloom_expected=10_000,
        collect_lineage=False,
    )
    a = crawl_result.fetched.toPandas().sort_values("fetch_order")
    b = res_bloom.fetched.toPandas().sort_values("fetch_order")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_salted_scheduling_same_result(spark, crawl_result):
    pages = pages_from_documents(spark, SF_SMALL)
    res_salted = crawl(
        spark,
        pages,
        seeds_df(spark, pages),
        budgets_df(spark),
        robots=robots_df(spark),
        rounds=CRAWL_ROUNDS,
        allowed_host_suffix=".test",
        salt_buckets=4,
        collect_lineage=False,
    )
    a = crawl_result.fetched.toPandas().sort_values("fetch_order")
    b = res_salted.fetched.toPandas().sort_values("fetch_order")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_politeness_budget_never_exceeded(crawl_result):
    got = crawl_result.fetched.toPandas()
    per = got.groupby(["round", "host"]).size()
    for (rnd, host), cnt in per.items():
        cap = 2 if host == "h0.test" else 3
        assert cnt <= cap, f"round {rnd} host {host} fetched {cnt} > {cap}"


def test_no_url_fetched_twice(crawl_result):
    got = crawl_result.fetched.toPandas()
    assert got.url.is_unique


def test_seen_set_matches_oracle(spark, crawl_result):
    # every fetched url must be in the oracle's final seen set
    seen = set(_oracle(seen_set_oracle_sql(_n_docs()))["url"])
    got = set(crawl_result.fetched.toPandas().url)
    assert got <= seen


def test_schedule_per_host_budget_and_order(spark):
    rows = [
        (f"http://h0.test/{i:02d}", "h0.test", i % 2) for i in range(6)
    ] + [("http://h1.test/00", "h1.test", 0)]
    frontier = spark.createDataFrame(
        rows, "url string, host string, priority int"
    )
    budgets = spark.createDataFrame(
        [("h0.test", 2), ("h1.test", 3)], "host string, budget int"
    )
    out = schedule_per_host(frontier, budgets).toPandas()
    taken = out[out.taken].sort_values("url")
    h0 = taken[taken.host == "h0.test"]
    # budget 2, ordered by (priority, url): priority-0 urls 00,02
    assert list(h0.url) == ["http://h0.test/00", "http://h0.test/02"]
    assert len(taken[taken.host == "h1.test"]) == 1


def test_apply_robots_prefix(spark):
    cand = spark.createDataFrame(
        [
            ("http://h1.test/a/20240104/x.htm", "h1.test", 0),
            ("http://h1.test/a/20240105/y.htm", "h1.test", 0),
            ("http://h2.test/a/20240104/z.htm", "h2.test", 0),
        ],
        "url string, host string, priority int",
    )
    robots = spark.createDataFrame(
        [("h1.test", "http://h1.test/a/20240104/")],
        "host string, disallow_prefix string",
    )
    out = apply_robots(cand, robots).toPandas()
    assert set(out.url) == {
        "http://h1.test/a/20240105/y.htm",
        "http://h2.test/a/20240104/z.htm",
    }


def test_checkpoint_roundtrip(spark, tmp_path, crawl_result):
    from news_combinator_spark.operators.frontier import (
        load_checkpoint,
        save_checkpoint,
    )

    schema = "url string, host string, priority int, is_new boolean"
    # round 0: two seeds, each its own seen delta; round 1: u0 was
    # fetched, u1 deferred, u2 discovered (the round's seen delta)
    save_checkpoint(spark.createDataFrame(
        [("u0", "h", 0, True), ("u1", "h", 1, True)], schema,
    ), str(tmp_path), 0, 0)
    save_checkpoint(spark.createDataFrame(
        [("u1", "h", 1, False), ("u2", "h", 1, True)], schema,
    ), str(tmp_path), 1, 7)
    f2, s2, meta = load_checkpoint(spark, str(tmp_path), 1)
    assert sorted(r.url for r in f2.collect()) == ["u1", "u2"]
    assert "is_new" not in f2.columns
    # seen = union of deltas 0..1 (O(new)-per-round checkpointing)
    assert sorted(r.url for r in s2.collect()) == ["u0", "u1", "u2"]
    assert meta["n_fetched"] == 7


def test_load_checkpoint_reads_only_committed_rounds(spark, tmp_path):
    """A round directory without meta.json (data written, meta not) or
    a missing round is never read: resume fails loudly, naming the
    committed rounds, instead of restarting fetch_order at 0. A dead
    writer's staging dir is swept; a live one is left alone."""
    import os
    import subprocess
    import sys

    from news_combinator_spark.operators.frontier import (
        load_checkpoint,
        resume_crawl,
        save_checkpoint,
    )

    ck = str(tmp_path)
    df = spark.createDataFrame(
        [("u0", "h", 0, True)], "url string, host string, priority int, "
        "is_new boolean",
    )
    for r in range(3):
        save_checkpoint(df, ck, r, r)
    os.remove(f"{ck}/round=2/meta.json")
    with pytest.raises(FileNotFoundError, match=r"committed rounds: \[0, 1\]"):
        load_checkpoint(spark, ck, 2)
    with pytest.raises(FileNotFoundError, match="committed rounds"):
        resume_crawl(spark, None, budgets_df(spark), ck, 2, 3)
    assert load_checkpoint(spark, ck, 1)[2]["n_fetched"] == 1

    dead = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True,
    ).stdout.strip()
    live = f"_staging-{os.getpid()}-1"
    os.makedirs(f"{ck}/_staging-{dead}-1/combined")
    os.makedirs(f"{ck}/{live}")
    assert load_checkpoint(spark, ck, 1)[0].count() == 1
    save_checkpoint(df, ck, 2, 2)
    assert load_checkpoint(spark, ck, 2)[2]["n_fetched"] == 2
    assert sorted(os.listdir(ck)) == [live, "round=0", "round=1", "round=2"]


def test_resume_from_each_round_matches_full_run(spark, tmp_path):
    """Resuming from every committed round, the seed round 0 included,
    reproduces the uninterrupted fetch table, fetch_order included. A
    budget of 1 per host makes rounds defer, so each checkpoint's
    fetched count differs from its frontier size. The resume from
    round 0 must not rewrite the snapshot its frontier is reading."""
    from news_combinator_spark.datagen import N_HOSTS
    from news_combinator_spark.operators.frontier import (
        load_checkpoint,
        resume_crawl,
    )

    pages = pages_from_documents(spark, SF_SMALL)
    budgets = spark.createDataFrame(
        [(f"h{i}.test", 1) for i in range(N_HOSTS)], "host string, budget int"
    )
    ckpt = str(tmp_path / "ck")
    kw = dict(robots=robots_df(spark), allowed_host_suffix=".test")
    cols = ["round", "url", "host", "priority", "fetch_order"]

    def table(res):
        return (res.fetched.toPandas().sort_values("fetch_order")[cols]
                .reset_index(drop=True))

    full = crawl(spark, pages, seeds_df(spark, pages), budgets,
                 rounds=CRAWL_ROUNDS, checkpoint_dir=ckpt, **kw)
    exp = table(full)
    assert any(m.deferred for m in full.lineage[:-1])
    for start in range(CRAWL_ROUNDS):
        got = table(resume_crawl(spark, pages, budgets, ckpt,
                                 from_round=start, rounds=CRAWL_ROUNDS, **kw))
        want = exp[exp["round"] >= start].reset_index(drop=True)
        assert got.equals(want), f"from {start}\ngot:\n{got}\nexp:\n{want}"
    frontier, seen, meta = load_checkpoint(spark, ckpt, 0)
    seeds = sorted(r.url for r in seeds_df(spark, pages).collect())
    assert sorted(r.url for r in frontier.collect()) == seeds
    assert sorted(r.url for r in seen.collect()) == seeds
    assert meta["n_fetched"] == 0


def test_resume_from_checkpoint_matches_full_run(spark, tmp_path):
    """North-rule resumability: kill after round 0 (checkpoint for
    round 1 exists), resume, and the resumed rounds must reproduce the
    uninterrupted run's fetch set, order and lineage exactly."""
    from news_combinator_spark.operators.frontier import resume_crawl

    pages = pages_from_documents(spark, SF_SMALL)
    ckpt = str(tmp_path / "ck")
    full = crawl(
        spark,
        pages,
        seeds_df(spark, pages),
        budgets_df(spark),
        robots=robots_df(spark),
        rounds=CRAWL_ROUNDS,
        allowed_host_suffix=".test",
        checkpoint_dir=ckpt,
    )
    resumed = resume_crawl(
        spark,
        pages,
        budgets_df(spark),
        ckpt,
        from_round=1,
        rounds=CRAWL_ROUNDS,
        robots=robots_df(spark),
        allowed_host_suffix=".test",
    )
    # fetch_order included: the checkpointed cumulative fetched count
    # offsets the resumed numbering, so merging the pre-crash rounds
    # with the resumed rounds reproduces the uninterrupted table
    cols = ["round", "url", "host", "priority", "fetch_order"]
    exp = (
        full.fetched.toPandas()
        .query("round >= 1")
        .sort_values("fetch_order")[cols]
        .reset_index(drop=True)
    )
    got = (
        resumed.fetched.toPandas()
        .sort_values("fetch_order")[cols]
        .reset_index(drop=True)
    )
    assert got.equals(exp), f"\ngot:\n{got}\nexp:\n{exp}"
    # lineage replays identically for the resumed rounds
    full_lin = {m.round: (m.frontier, m.scheduled, m.enqueued) for m in full.lineage}
    for m in resumed.lineage:
        assert (m.frontier, m.scheduled, m.enqueued) == full_lin[m.round], m


def test_resume_past_end_raises(spark, tmp_path):
    """Resuming with start_round >= rounds (e.g. --resume-from equal to
    the round count with an unchanged --rounds) must fail fast, not
    IndexError deep in the loop."""
    pages = pages_from_documents(spark, SF_SMALL)
    with pytest.raises(ValueError, match="start_round"):
        crawl(
            spark,
            pages,
            seeds_df(spark, pages),
            budgets_df(spark),
            rounds=2,
            start_round=2,
            collect_lineage=False,
        )


def test_crawl_deterministic_across_shuffle_partitions(spark, crawl_result):
    """SURVEY.md §7 risk 1: results must never depend on partition
    iteration order — the identical crawl at a different (prime)
    shuffle-partition count must produce the identical fetch table."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        pages = pages_from_documents(spark, SF_SMALL)
        res7 = crawl(
            spark,
            pages,
            seeds_df(spark, pages),
            budgets_df(spark),
            robots=robots_df(spark),
            rounds=CRAWL_ROUNDS,
            allowed_host_suffix=".test",
            collect_lineage=False,
        )
        got7 = res7.fetched.toPandas().sort_values("fetch_order")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    base = crawl_result.fetched.toPandas().sort_values("fetch_order")
    assert got7.reset_index(drop=True).equals(base.reset_index(drop=True))


def test_host_lineage_politeness_audit(crawl_result):
    """Per-(round, host) lineage: counts complete and every host within
    its budget each round."""
    hl = crawl_result.host_lineage_df().toPandas()
    total = crawl_result.fetched.count()
    assert hl.n_fetched.sum() == total
    for _, row in hl.iterrows():
        cap = 2 if row.host == "h0.test" else 3
        assert row.n_fetched <= cap, row
        assert row.first_order <= row.last_order


def test_crawl_from_bucketed_table_matches(spark, tmp_path, crawl_result):
    """web_table path: crawling against the bucketed catalog layout
    (operators/bucketing.write_bucketed) must reproduce the DataFrame
    path byte-for-byte — same fetched set, same fetch_order."""
    from news_combinator_spark.operators.bucketing import write_bucketed

    pages = pages_from_documents(spark, SF_SMALL)
    spark.sql("DROP TABLE IF EXISTS web_pages_bucketed")
    write_bucketed(
        pages.select("url", "host", "priority", "html"),
        "web_pages_bucketed", "url", 8,
        path=str(tmp_path / "web_pages_bucketed"),
    )
    try:
        res = crawl(
            spark,
            None,
            seeds_df(spark, pages),
            budgets_df(spark),
            robots=robots_df(spark),
            rounds=CRAWL_ROUNDS,
            allowed_host_suffix=".test",
            web_table="web_pages_bucketed",
        )
        got = res.fetched.toPandas().sort_values("fetch_order")
    finally:
        spark.sql("DROP TABLE IF EXISTS web_pages_bucketed")
    base = crawl_result.fetched.toPandas().sort_values("fetch_order")
    assert got.reset_index(drop=True).equals(base.reset_index(drop=True))


def test_fetch_with_retry_matches_closed_form(spark):
    """The wave loop must equal the per-URL closed form: first
    attempt k whose md5(url:r:k) 13-hex prefix clears the 20%
    threshold; backoff = sum of 2^j over failed attempts."""
    import hashlib

    from news_combinator_spark.operators.frontier import fetch_with_retry

    urls = [(f"http://h{i % 4}.test/p{i}", f"h{i % 4}.test", i % 3)
            for i in range(300)]
    sched = spark.createDataFrame(
        urls, "url string, host string, priority int"
    )
    out = {
        r.url: r
        for r in fetch_with_retry(
            sched, max_attempts=3, fail_frac=0.2, seed="r"
        ).collect()
    }
    assert len(out) == 300
    thr = format(int(0.2 * (1 << 52)), "013x")
    seen_classes = set()
    for url, host, prio in urls:
        fails = [
            hashlib.md5(f"{url}:r:{k}".encode()).hexdigest()[:13] < thr
            for k in range(3)
        ]
        if not fails[0]:
            exp = (1, True, 0)
        elif not fails[1]:
            exp = (2, True, 1)
        elif not fails[2]:
            exp = (3, True, 3)
        else:
            exp = (3, False, 7)
        r = out[url]
        assert (r.n_attempts, r.fetched, r.backoff_rounds) == exp, url
        seen_classes.add(exp)
    # the fixture is big enough that every outcome class occurs
    assert len(seen_classes) == 4


def test_resolve_redirects_statuses(spark):
    """Crafted map covering every status: no rule (ok, 0 hops),
    2-hop chain (ok), self-loop (loop at hop 1), 2-cycle (loop at
    hop 2), 4-chain (truncated at max_hops=3)."""
    from news_combinator_spark.operators.frontier import resolve_redirects

    urls = spark.createDataFrame(
        [("u:none",), ("u:chain0",), ("u:self",), ("u:cycA",),
         ("u:long0",)],
        "url string",
    )
    rmap = spark.createDataFrame(
        [
            ("u:chain0", "u:chain1"), ("u:chain1", "u:chain2"),
            ("u:self", "u:self"),
            ("u:cycA", "u:cycB"), ("u:cycB", "u:cycA"),
            ("u:long0", "u:long1"), ("u:long1", "u:long2"),
            ("u:long2", "u:long3"), ("u:long3", "u:long4"),
        ],
        "src string, dst string",
    )
    got = {
        r.url: (r.final_url, r.hops, r.status)
        for r in resolve_redirects(urls, rmap, max_hops=3).collect()
    }
    assert got == {
        "u:none": ("u:none", 0, "ok"),
        "u:chain0": ("u:chain2", 2, "ok"),
        "u:self": ("u:self", 1, "loop"),
        "u:cycA": ("u:cycA", 2, "loop"),
        "u:long0": ("u:long3", 3, "truncated"),
    }


def test_apply_priority_boosts_clamps_and_composes(spark):
    """Host and url boosts subtract from priority, clamped to [0, 2];
    unmatched keys are unchanged; None inputs are identity."""
    from news_combinator_spark.operators.frontier import (
        apply_priority_boosts,
    )

    frontier = spark.createDataFrame(
        [
            ("u1", "hA", 2), ("u2", "hA", 0),
            ("u3", "hB", 2), ("u4", "hC", 1),
        ],
        "url string, host string, priority int",
    )
    hb = spark.createDataFrame([("hA", 1)], "host string, boost int")
    ub = spark.createDataFrame([("u3", 5)], "url string, boost int")
    got = {
        r.url: r.priority
        for r in apply_priority_boosts(frontier, hb, ub).collect()
    }
    # u1: 2-1=1; u2: 0-1 clamps to 0; u3: 2-5 clamps to 0; u4 untouched
    assert got == {"u1": 1, "u2": 0, "u3": 0, "u4": 1}
    same = {
        r.url: r.priority
        for r in apply_priority_boosts(frontier).collect()
    }
    assert same == {"u1": 2, "u2": 0, "u3": 2, "u4": 1}


def test_schedule_with_global_cap_order_and_defers(spark):
    """Cap keeps exactly the first N of the total (priority, host,
    url) order among budget-taken rows; budget-deferred rows stay
    deferred regardless of cap headroom."""
    from news_combinator_spark.operators.frontier import (
        schedule_with_global_cap,
    )

    rows = [
        ("u1", "hA", 0), ("u2", "hA", 0), ("u3", "hA", 1),
        ("u4", "hB", 0), ("u5", "hB", 1),
    ]
    frontier = spark.createDataFrame(
        rows, "url string, host string, priority int"
    )
    budgets = spark.createDataFrame(
        [("hA", 2), ("hB", 2)], "host string, budget int"
    )
    out = {
        r.url: r.taken
        for r in schedule_with_global_cap(frontier, budgets, 3).collect()
    }
    # budget takes u1,u2 (hA best-2) u4,u5 (hB both); u3 budget-deferred.
    # total order of taken: (0,hA,u1),(0,hA,u2),(0,hB,u4),(1,hB,u5)
    # -> cap 3 keeps u1,u2,u4; u5 cap-deferred, u3 budget-deferred
    assert out == {
        "u1": True, "u2": True, "u4": True, "u5": False, "u3": False,
    }


def test_crawl_rfc9309_mode_allow_reopens(spark):
    """robots_mode='rfc9309': an Allow nested under a host-wide
    Disallow re-opens exactly its subtree for DISCOVERED candidates
    (seeds are exempt by construction in both modes), while the
    conservative prefix mode blocks the whole host; an invalid mode
    raises."""
    from news_combinator_spark.operators.frontier import (
        apply_robots_longest_match,
    )

    pages = pages_from_documents(spark, SF_SMALL)
    seeds = seeds_df(spark, pages)
    budgets = budgets_df(spark)
    # h1.test: everything under /a/ disallowed, one day re-allowed
    # (20240106 is a day the unrestricted crawl actually discovers on
    # h1 at this sf, so the Allow has something to re-open)
    rules = spark.createDataFrame(
        [("h1.test", "/a/", False), ("h1.test", "/a/20240106/", True)],
        "host string, path_prefix string, allow boolean",
    )
    res = crawl(
        spark, pages, seeds, budgets, robots=rules,
        rounds=CRAWL_ROUNDS, robots_mode="rfc9309",
        collect_lineage=False,
    )
    got = res.fetched.select("url", "host", "round").toPandas()
    h1_discovered = got[(got.host == "h1.test") & (got["round"] > 0)]
    assert len(h1_discovered) > 0, "Allow subtree must be crawlable"
    assert all("/a/20240106/" in u for u in h1_discovered.url)

    # conservative mode with the equivalent disallow blocks all of h1
    res_prefix = crawl(
        spark, pages, seeds, budgets,
        robots=rules.filter("NOT allow").select("host", "path_prefix"),
        rounds=CRAWL_ROUNDS, collect_lineage=False,
    )
    gp = res_prefix.fetched.select("url", "host", "round").toPandas()
    assert len(gp[(gp.host == "h1.test") & (gp["round"] > 0)]) == 0

    with pytest.raises(ValueError, match="robots_mode"):
        crawl(spark, pages, seeds, budgets, robots_mode="bogus")


def test_ip_budgets_split_and_compose(spark):
    """One IP with 5 vhosts splits 10 -> 2 each; a crowded IP (20
    vhosts) floors at min_budget; a lone host keeps the whole IP
    budget; composition with host budgets takes the politer side."""
    from news_combinator_spark.operators.frontier import ip_budgets

    rows = (
        [(f"v{i}.test", "1.1.1.1") for i in range(5)]
        + [(f"c{i}.test", "2.2.2.2") for i in range(20)]
        + [("solo.test", "3.3.3.3")]
    )
    host_ips = spark.createDataFrame(rows, "host string, ip string")
    got = {r.host: r.budget for r in ip_budgets(host_ips, 10).collect()}
    assert got["v0.test"] == 2 and got["v4.test"] == 2
    assert got["c0.test"] == 1          # floor(10/20)=0 -> min 1
    assert got["solo.test"] == 10
    hb = spark.createDataFrame(
        [("v0.test", 1), ("solo.test", 99), ("c0.test", 7),
         ("only-hb.test", 3)],
        "host string, budget int",
    )
    comp = {
        r.host: r.budget
        for r in ip_budgets(host_ips, 10, host_budgets=hb).collect()
    }
    # politer of the two where both exist
    assert comp["v0.test"] == 1 and comp["solo.test"] == 10
    assert comp["c0.test"] == 1
    # one-sided hosts KEEP their one budget (full outer, ADVICE r2):
    # a partial --host-ips map must not silently demote configured
    # host budgets to the scheduler default
    assert comp["only-hb.test"] == 3      # host budget only
    assert comp["v1.test"] == 2           # ip split only
    assert len(comp) == 27                # 26 ip-mapped + 1 hb-only


def test_priority_aging_prevents_starvation(spark):
    """Without aging, a priority-2 URL starves forever behind one
    fresh priority-0 arrival per round (budget 1). With wait_col
    aging (promote every 2 unscheduled rounds, longest wait first),
    it is fetched within priority*aging_every + O(1) rounds."""
    budgets = spark.createDataFrame(
        [("h.test", 1)], "host string, budget int"
    )

    def run(rounds, aging):
        frontier = [("http://h.test/zzz", "h.test", 2, 0)]
        fetched = []
        for r in range(rounds):
            # one fresh prio-0 discovery per round, alphabetically early
            frontier.append((f"http://h.test/a{r:02d}", "h.test", 0, 0))
            df = spark.createDataFrame(
                frontier,
                "url string, host string, priority int, wait int",
            )
            out = schedule_per_host(
                df, budgets, wait_col="wait" if aging else None
            ).collect()
            taken = {row.url for row in out if row.taken}
            fetched.extend(taken)
            frontier = [
                (row.url, row.host, row.priority, row.wait + 1)
                for row in out
                if not row.taken
            ]
        return fetched

    no_aging = run(8, aging=False)
    assert "http://h.test/zzz" not in no_aging  # starves
    aged = run(8, aging=True)
    assert "http://h.test/zzz" in aged
    # promoted after ~priority*aging_every rounds, not at the very end
    assert aged.index("http://h.test/zzz") <= 5


def test_crawl_aging_mode_runs_and_differs_only_in_order(spark):
    """crawl(aging_every=1): same seeds fetch in round 0, every
    politeness budget still holds, no url fetches twice — aging only
    re-orders WITHIN a host's deferred competition, it never violates
    the budget or dedup invariants."""
    pages = pages_from_documents(spark, SF_SMALL)
    res = crawl(
        spark, pages, seeds_df(spark, pages), budgets_df(spark),
        rounds=CRAWL_ROUNDS, aging_every=1, collect_lineage=False,
    )
    got = res.fetched.toPandas()
    assert got.url.is_unique
    per = got.groupby(["round", "host"]).size()
    for (rnd, host), cnt in per.items():
        cap = 2 if host == "h0.test" else 3
        assert cnt <= cap
    r0 = set(got[got["round"] == 0].url)
    assert r0 == set(
        seeds_df(spark, pages).toPandas().url
    ) or r0 <= set(seeds_df(spark, pages).toPandas().url)


def test_host_lineage_budget_and_conservation(spark):
    """Per-(round, host) lineage: every host's scheduled count obeys
    its budget every round, and scheduled+deferred per round equals
    that round's frontier rows for the host (conservation). The
    hash-level parity vs the unrolled SQL replay is the driver oracle
    `crawl_host_lineage`."""
    pages = pages_from_documents(spark, SF_SMALL)
    budgets = budgets_df(spark)
    res = crawl(
        spark, pages, seeds_df(spark, pages), budgets,
        robots=robots_df(spark), rounds=CRAWL_ROUNDS,
        allowed_host_suffix=".test",
        collect_lineage=True, host_lineage=True,
    )
    hl = res.host_lineage.toPandas()
    assert set(hl.columns) == {"round", "host", "n_scheduled", "n_deferred"}
    bmap = {r.host: r.budget for r in budgets.collect()}
    default = 1
    for _, row in hl.iterrows():
        assert row.n_scheduled <= bmap.get(row.host, default), row
    # per-round totals agree with the aggregate lineage metrics
    agg = hl.groupby("round")[["n_scheduled", "n_deferred"]].sum()
    for m in res.lineage:
        assert agg.loc[m.round, "n_scheduled"] == m.scheduled
        assert agg.loc[m.round, "n_deferred"] == m.deferred


# Per-round lineage (frontier, scheduled, deferred, discovered,
# robots_blocked, deduped, enqueued) of the SF_SMALL crawl under
# `robots_df` plus a whole-host rule for h2.test, as reported by the
# earlier implementation that ran one count() per lineage point. The
# extra rule makes every count non-trivial (robots blocks in rounds 0
# and 1, dedup in round 0, a deferral in round 2).
_PINNED_LINEAGE = {
    0: (4, 4, 0, 7, 1, 2, 4),
    1: (4, 4, 0, 8, 2, 0, 6),
    2: (6, 5, 1, 0, 0, 0, 0),
}


def _lineage_tuples(res):
    return {
        m.round: (m.frontier, m.scheduled, m.deferred, m.discovered,
                  m.robots_blocked, m.deduped, m.enqueued)
        for m in res.lineage
    }


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_observation_lineage_matches_count_lineage(spark, tmp_path, kind):
    """Lineage collected from Observations equals the pinned
    count-based lineage for a full crawl and for resumes from rounds 1
    and 2, under either seen prefilter; frontier and enqueued also
    agree with the rows of each round's `combined` checkpoint."""
    import json

    from news_combinator_spark.operators.frontier import resume_crawl

    pages = pages_from_documents(spark, SF_SMALL)
    robots = robots_df(spark).unionByName(spark.createDataFrame(
        [("h2.test", "http://h2.test/")],
        "host string, disallow_prefix string",
    ))
    ckpt = str(tmp_path / "ck")
    kw = dict(
        robots=robots, allowed_host_suffix=".test", use_bloom=True,
        bloom_expected=100_000, prefilter_kind=kind,
    )
    full = crawl(
        spark, pages, seeds_df(spark, pages), budgets_df(spark),
        rounds=CRAWL_ROUNDS, checkpoint_dir=ckpt, **kw,
    )
    assert _lineage_tuples(full) == _PINNED_LINEAGE
    n_fetched = 0
    for r in range(1, CRAWL_ROUNDS):
        comb = spark.read.parquet(f"{ckpt}/round={r}/combined")
        assert comb.count() == _PINNED_LINEAGE[r][0]
        assert comb.filter("is_new").count() == _PINNED_LINEAGE[r - 1][6]
        with open(f"{ckpt}/round={r}/meta.json") as f:
            n_fetched += _PINNED_LINEAGE[r - 1][1]
            assert json.load(f)["n_fetched"] == n_fetched
    for start in range(1, CRAWL_ROUNDS):
        resumed = resume_crawl(
            spark, pages, budgets_df(spark), ckpt, from_round=start,
            rounds=CRAWL_ROUNDS, **kw,
        )
        assert _lineage_tuples(resumed) == {
            r: v for r, v in _PINNED_LINEAGE.items() if r >= start
        }


def test_lineage_read_before_output_does_not_block(spark):
    """The last round's counts fill when its fetched rows are first
    computed. Reading `lineage` when no action has touched the output
    (only the separately checkpointed host lineage) must run that
    computation itself, not wait forever for it."""
    import threading

    pages = pages_from_documents(spark, SF_SMALL)
    res = crawl(
        spark, pages, seeds_df(spark, pages), budgets_df(spark),
        robots=robots_df(spark), rounds=2, allowed_host_suffix=".test",
        host_lineage=True,
    )
    res.host_lineage.toPandas()
    got = []
    t = threading.Thread(target=lambda: got.append(res.lineage), daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "reading lineage blocked"
    assert [m.round for m in got[0]] == [0, 1]
    assert got[0][1].scheduled == res.fetched.filter("round = 1").count()


def test_crawl_rfc9309_wildcards_mode(spark):
    """robots_mode='rfc9309-wildcards': a `*`-rule blocks discovered
    candidates across every day directory of the host (the exact-
    prefix rfc9309 mode treats the same rule as a literal and blocks
    nothing), and a longer $-anchored Allow re-opens its slice."""
    pages = pages_from_documents(spark, SF_SMALL)
    seeds = seeds_df(spark, pages)
    budgets = budgets_df(spark)
    # h1.test: block every url whose id part starts 0000001 on ANY
    # day; re-allow ids ending 3.htm (longer rule -> wins where both
    # match)
    rules = spark.createDataFrame(
        [
            ("h1.test", "/a/*/0000001", False),
            ("h1.test", "/a/*/00000013*", True),
        ],
        "host string, path_prefix string, allow boolean",
    )
    res = crawl(
        spark, pages, seeds, budgets, robots=rules,
        rounds=CRAWL_ROUNDS, robots_mode="rfc9309-wildcards",
        collect_lineage=False,
    )
    got = res.fetched.select("url", "host", "round").toPandas()
    h1 = got[(got.host == "h1.test") & (got["round"] > 0)]
    blocked = [u for u in h1.url if "/0000001" in u and "/00000013" not in u]
    assert blocked == [], blocked

    # same rules under plain rfc9309: '*' is a literal, nothing
    # matches, everything is fetched as if ungated
    res2 = crawl(
        spark, pages, seeds, budgets, robots=rules,
        rounds=CRAWL_ROUNDS, robots_mode="rfc9309",
        collect_lineage=False,
    )
    g2 = res2.fetched.select("url", "host", "round").toPandas()
    h1b = g2[(g2.host == "h1.test") & (g2["round"] > 0)]
    assert len(h1b) >= len(h1)
