"""Physical-plan audits: the properties that make these queries hold up
at 100 TB, asserted from `explain` output so regressions are caught.

What is pinned and why it matters at scale:
- predicate pushdown + column pruning reach the parquet scan (a scan
  that reads every column for a 2-column projection is wrong at any
  scale, fatal at 100 TB);
- partition-count-sized dims are broadcast, not shuffled;
- the hot relational path runs inside WholeStageCodegen (JVM, no
  Python in the loop);
- the frontier's fetch join never re-shuffles or re-sorts the big
  (pre-partitioned, persisted) web side, and never builds a driver-side
  broadcast of the scheduled batch.
"""

import re

import pytest
from pyspark.sql import functions as F

from news_combinator_spark.plans import queries as Q

from conftest import SF_MED


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _simple(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


# ---------------------------------------------------------------------------
# Parquet scan: pushdown + pruning
# ---------------------------------------------------------------------------

def test_filter_pushed_to_parquet_scan(spark):
    """A doc_id predicate must reach the lineitem/documents scan as
    PushedFilters, not execute post-scan only."""
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    plan = _formatted(docs.filter(F.col("doc_id") < 50).select("doc_id", "source"))
    assert re.search(r"PushedFilters: \[.*LessThan\(doc_id,50\).*\]", plan), plan


def test_column_pruning_reaches_scan(spark):
    """Selecting 2 columns from documents must not read text/title."""
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    plan = _formatted(docs.select("doc_id", "source"))
    m = re.search(r"ReadSchema: (struct<[^\n]*>)", plan)
    assert m, plan
    schema = m.group(1)
    assert "doc_id" in schema and "source" in schema
    assert "text" not in schema and "title" not in schema, schema


def test_serving_daterange_pushdown(spark):
    """index query's day cutoff derives from ts; the ts scan must prune
    to just the needed columns (ts, value)."""
    plan = _formatted(Q.q_index_daterange(spark, SF_MED))
    m = re.search(r"ReadSchema: (struct<[^\n]*>)", plan)
    assert m and "ts" in m.group(1) and "value" in m.group(1)
    assert "event_type" not in m.group(1), m.group(1)


# ---------------------------------------------------------------------------
# Joins: broadcast where small, no needless exchanges
# ---------------------------------------------------------------------------

def test_small_dim_joins_broadcast(spark):
    """The documents side of entry_lookup's FK join (65 KB of parquet
    at sf0.01) must broadcast against the exploded member ids, not
    shuffle both sides for the join."""
    plan = _simple(Q.q_entry_lookup(spark, SF_MED))
    assert "BroadcastHashJoin" in plan, plan


def test_frontier_fetch_join_no_resort_of_web(spark):
    """The per-round fetch is a shuffle-hash join against the
    pre-partitioned persisted web: no SortMergeJoin (which would sort
    the 10^10-row side every round) and no BroadcastExchange of it."""
    from news_combinator_spark.datagen import (
        budgets_df,
        pages_from_documents,
        seeds_df,
    )
    from news_combinator_spark.operators.frontier import schedule_per_host

    pages = pages_from_documents(spark, SF_MED)
    web = pages.select("url", "host", "priority", "html").repartition(8, "url")
    web = web.persist()
    web.count()
    taken = (
        schedule_per_host(seeds_df(spark, pages), budgets_df(spark))
        .filter("taken")
        .drop("taken")
        .withColumnRenamed("host", "t_host")
        .withColumnRenamed("priority", "t_priority")
    )
    fetch = taken.hint("shuffle_hash").join(web, "url", "inner")
    plan = _simple(fetch)
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    web.unpersist()


def test_robots_gating_is_broadcast(spark):
    """robots rules are a tiny table: the one gate broadcasts them and
    picks each candidate's governing rule in the join output. With
    Allow and `*` rules in play, the candidate set is read once and
    never shuffled: no sort-merge join back to it and no per-url
    aggregate."""
    from news_combinator_spark.datagen import pages_from_documents
    from news_combinator_spark.operators.frontier import apply_robots

    pages = pages_from_documents(spark, SF_MED)
    cand = pages.select("url", "host", "priority").persist()
    rules = spark.createDataFrame(
        [("h1.test", "/a/", False), ("h1.test", "/a/20240106/", True),
         ("h2.test", "/a/*/0000001", False)],
        "host string, path_prefix string, allow boolean",
    )
    try:
        plan = _simple(apply_robots(cand, rules))
    finally:
        cand.unpersist()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "SortAggregate" not in plan, plan
    assert plan.count("InMemoryTableScan") == 1, plan


# ---------------------------------------------------------------------------
# Codegen: relational hot path stays in the JVM
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "qname",
    ["group_by_day", "index_daterange", "front_page_ranking", "dedup_first"],
)
def test_hot_queries_whole_stage_codegen(spark, qname):
    # AQE hides codegen subtrees behind AdaptiveSparkPlan until runtime;
    # flip it off just for the audit so the fused spans are visible.
    fn, _sql = Q.QUERIES[qname]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = fn(spark, SF_MED)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.match(r"Found (\d+) WholeStageCodegen subtrees", plan)
    assert m and int(m.group(1)) >= 1, plan.split("\n")[0]


@pytest.mark.parametrize(
    "qname",
    [
        "dedup_first",
        "pii_scrub",
        "group_by_day",
        "entry_lookup",
    ],
)
def test_no_python_udf_in_jvm_expressible_queries(spark, qname):
    """These are fully expressible with built-ins; a BatchEvalPython /
    ArrowEvalPython node appearing means someone dropped to the slow
    path needlessly."""
    fn, _sql = Q.QUERIES[qname]
    plan = _simple(fn(spark, SF_MED))
    assert "EvalPython" not in plan, plan


# ---------------------------------------------------------------------------
# No data-sized single-partition stages (the 100x-scale killer class)
# ---------------------------------------------------------------------------

# An Exchange SinglePartition is legitimate only when its input is
# cardinality-bounded: beneath an aggregate (group-count rows), or a
# limit / parallel top-k (TakeOrderedAndProject). A single-partition
# exchange over raw data — the old bare Window.orderBy pattern — is a
# guaranteed OOM / single-task stall at web scale.
_BOUNDED_MARKERS = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
)


def _node_depth(line: str) -> int:
    m = re.search(r"[+:]-", line)
    return m.start() if m else -1


def single_partition_violations(plan: str) -> list[str]:
    """Exchange SinglePartition nodes whose subtree holds no aggregate
    or limit — i.e. single-partition stages over unbounded data."""
    lines = plan.splitlines()
    viols = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = _node_depth(ln)
        subtree = []
        for nxt in lines[i + 1:]:
            if _node_depth(nxt) <= d:
                break
            subtree.append(nxt)
        if not any(m in s for s in subtree for m in _BOUNDED_MARKERS):
            viols.append(ln.strip())
    return viols


# every lazily-built battery query (the crawl/cluster loops execute
# eagerly at build time and are audited separately)
_LAZY_QUERIES = [
    "extract_text", "extract_links", "extract_markers", "url_parse",
    "index_daterange", "front_page_ranking", "entry_lookup",
    "comments_sort", "group_by_day", "token_count", "fingerprint",
    "dedup_stats", "dedup_first", "ngram_overlap", "summarize",
    "merge_upsert", "pos_tags", "pii_scrub", "v1_cross_source_clusters",
    # round-2 additions
    "hot_hosts", "robots_rules", "crawl_delay_budgets",
    "priority_boosts", "robots_longest_match", "soft404_filter",
    "mojibake_repair", "adaptive_budgets",
    "normalize_text", "admission_funnel", "politeness_composition",
    "content_sniff", "request_rate_budgets",
    "meta_robots_gate", "ip_politeness",
    # round-3 additions
    "frontier_merge", "stale_robots",
    "robots_wildcards",
]


# queries whose build is EAGER (loops with localCheckpoint, scalar
# collects the docstrings justify) — audited by their own tests, not
# the lazy-plan parametrization above
_EAGER_AUDITED_ELSEWHERE = {
    # crawl loop: test_frontier_fetch_order_no_global_window
    "crawl_frontier", "crawl_host_lineage", "crawl_seen_set",
    # CC / greedy iteration loops: test_clustering
    "news_clusters_lsh",
}


def test_every_registered_query_is_plan_audited():
    """Drift guard: a new queries.py entry must either join
    _LAZY_QUERIES (and get the single-partition audit) or be listed
    as eager-audited-elsewhere — it cannot silently skip plan
    review."""
    covered = set(_LAZY_QUERIES) | _EAGER_AUDITED_ELSEWHERE
    missing = sorted(set(Q.QUERIES) - covered)
    assert not missing, f"queries with no plan audit: {missing}"
    unknown = sorted(set(_LAZY_QUERIES) - set(Q.QUERIES))
    assert not unknown, f"_LAZY_QUERIES entries not registered: {unknown}"


@pytest.mark.parametrize("qname", _LAZY_QUERIES)
def test_no_unbounded_single_partition_exchange(spark, qname):
    fn, _sql = Q.QUERIES[qname]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _simple(fn(spark, SF_MED))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    viols = single_partition_violations(plan)
    assert not viols, f"unbounded single-partition stages: {viols}\n{plan}"


def test_frontier_fetch_order_no_global_window(spark):
    """The flagship crawl output plan must not coalesce the fetched
    table into one partition for fetch_order (the round-1 scale
    killer): the only single-partition frame allowed is the
    rounds x priorities x hosts offsets aggregate."""
    from news_combinator_spark.datagen import (
        budgets_df,
        pages_from_documents,
        seeds_df,
    )
    from news_combinator_spark.operators.frontier import crawl

    from conftest import SF_SMALL

    pages = pages_from_documents(spark, SF_SMALL)
    res = crawl(
        spark, pages, seeds_df(spark, pages), budgets_df(spark),
        rounds=2, collect_lineage=False,
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _simple(res.fetched)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    viols = single_partition_violations(plan)
    assert not viols, f"unbounded single-partition stages: {viols}\n{plan}"


def test_crawl_discovery_step_runs_python_once(spark):
    """A non-final crawl round's discovery step plans exactly one
    ArrowEvalPython (link extraction and canonicalize fused, with the
    allowed-host filter kept above the explode instead of pushed under
    a second canonicalize evaluation) and exactly one
    FlatMapCoGroupsInPandas (the sharded seen-prefilter probe)."""
    from news_combinator_spark.datagen import (
        pages_from_documents,
        robots_df,
        seeds_df,
    )
    from news_combinator_spark.operators.bloom import build_sharded_bloom
    from news_combinator_spark.operators.frontier import discover_candidates

    from conftest import SF_SMALL

    pages = pages_from_documents(spark, SF_SMALL)
    seeds = seeds_df(spark, pages)
    fetched = seeds.join(pages.select("url", "html"), "url")
    bloom = build_sharded_bloom(seeds, "url", 1_000, 1e-3, 8)
    flagged = discover_candidates(
        fetched, pages.select("url", "host", "priority"),
        robots=robots_df(spark), allowed_host_suffix=".test",
        prefilter=bloom,
    )
    plan = _simple(flagged)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    assert flagged.count() > 0


def test_streaming_seen_filter_is_native_dedup(spark, tmp_path):
    """The streaming seen filter runs as the JVM's StreamingDeduplicate:
    its executed plan has no Python stateful node and no Python stage
    of any kind."""
    from news_combinator_spark.streaming.incremental import (
        streaming_seen_filter,
    )

    in_dir = str(tmp_path / "discovered")
    spark.createDataFrame(
        [("http://a.test/1", "a.test", 1), ("http://a.test/1", "a.test", 1)],
        "url string, host string, priority int",
    ).coalesce(1).write.parquet(in_dir)
    q = streaming_seen_filter(spark, in_dir, query_name="t_seen_plan")
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    assert "StreamingDeduplicate" in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan, plan
    assert "Python" not in plan, plan


def test_verify_pairs_is_one_projection_per_pair(spark):
    """Over a featurize_docs frame, verify_pairs reads each doc's term
    counts as a map and folds a pair's seed-tag terms with array
    lambdas: no Generate (no (pair, tag) explode) and no aggregation
    (no groupBy(a, b), no distinct over the pair ids)."""
    from news_combinator_spark.datagen import reference_grammar_pages
    from news_combinator_spark.operators.clustering import (
        candidate_pairs,
        doc_tags,
        featurize_docs,
        verify_pairs,
    )

    pages = reference_grammar_pages(n_pages=60, seed=3, dup_rate=0.4)
    docs = spark.createDataFrame(
        [(i, p["text"]) for i, p in enumerate(pages)], "doc_id long, text string"
    )
    feat = featurize_docs(docs)
    # the inputs' own plans (tag ranking, banding) are cut off
    tags = doc_tags(feat).localCheckpoint()
    pairs = candidate_pairs(feat.select("doc_id", "sig")).localCheckpoint()
    edges = verify_pairs(pairs, feat, tags)
    plan = _simple(edges)
    for node in ("Generate", "HashAggregate", "ObjectHashAggregate"):
        assert node not in plan, plan
    assert edges.count() > 0


def test_greedy_membership_small_graph_is_local_table_scan(spark):
    """The driver greedy's membership frame is built from Arrow: it
    plans as a LocalTableScan, not a scan of parallelized rows."""
    from news_combinator_spark.operators.clustering import greedy_membership

    edges = spark.createDataFrame(
        [(0, 1, 0.9), (0, 2, 0.9), (5, 6, 0.9)], "a long, b long, sim double"
    )
    members = greedy_membership(edges)
    plan = _simple(members)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert members.count() > 0


def test_partial_aggregation_before_shuffle(spark):
    """groupBy must map-side combine (two HashAggregate levels around
    the exchange), or the shuffle carries every input row at 100 TB."""
    plan = _formatted(Q.q_group_by_day(spark, SF_MED))
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_" in plan.lower() or "Partial" in plan, plan


# ---------------------------------------------------------------------------
# Bucketed layout: the big side of the fetch join must not re-shuffle
# ---------------------------------------------------------------------------

def test_bucketed_fetch_join_shuffles_probe_side_only(spark, tmp_path):
    """With web_meta stored bucketed+sorted by url, the per-round fetch
    join must read the page store Exchange-free — and, with one file
    per bucket plus the bucketed-scan output-ordering conf, Sort-free:
    only the scheduled-batch probe side shuffles and sorts. Against
    plain parquet the same join exchanges BOTH sides — the contrast is
    the whole point of persisting the layout in the table instead of a
    session cache."""
    from news_combinator_spark.datagen import pages_from_documents
    from news_combinator_spark.operators.bucketing import (
        colocated_join,
        write_bucketed,
    )

    pages = pages_from_documents(spark, SF_MED).select(
        "url", "host", "priority"
    )
    spark.sql("DROP TABLE IF EXISTS web_meta_bucketed")
    # one writer task -> one file per bucket, so the sortBy order is a
    # table-level guarantee the scan may expose as its output ordering
    write_bucketed(
        pages.repartition(1), "web_meta_bucketed", "url", 8,
        path=str(tmp_path / "web_meta_bucketed"),
    )
    probe = pages.select("url")
    ordering_conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(ordering_conf, "true")
    try:
        plan = _formatted(colocated_join(spark, "web_meta_bucketed", probe))
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        # formatted mode puts the node header and its hashpartitioning
        # arguments on separate lines; count argument occurrences
        n_exchanges = len(re.findall(r"hashpartitioning\(", plan))
        assert n_exchanges == 1, f"expected probe-side-only exchange:\n{plan}"
        assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan

        baseline = _formatted(probe.hint("merge").join(pages, "url"))
        assert len(re.findall(r"hashpartitioning\(", baseline)) == 2, baseline
    finally:
        spark.conf.unset(ordering_conf)
        spark.sql("DROP TABLE IF EXISTS web_meta_bucketed")


def test_bench_battery_covers_all_oracle_queries():
    """Drift guard for bench.py: every dual-expressed (oracle) query
    must be in the SQL bench battery or the phase-benchmarked set, so
    a new query can't silently skip per-round timing."""
    import bench

    battery = set(bench.SQL_BENCH_QUERIES)
    assert battery <= set(Q.QUERIES), sorted(battery - set(Q.QUERIES))
    phase_benched = {
        "crawl_frontier", "crawl_seen_set",  # bench_crawl
        "crawl_host_lineage",     # same loop + per-host audit frames
        "news_clusters_lsh", "v1_cross_source_clusters",  # bench_cluster
        "url_parse",  # sub-second scalar pass, folded into extract
        "dedup_stats",
    }
    dual = {n for n, (_f, s) in Q.QUERIES.items() if s is not None}
    missing = sorted(dual - battery - phase_benched)
    assert not missing, f"oracle queries not benched: {missing}"
