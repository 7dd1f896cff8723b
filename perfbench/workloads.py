"""The four workloads: inputs, one timed repetition, output checks, and
the per-layer replay of the traced run.

Every workload drives the engine only through its public functions.
The crawl workloads call `crawl()` / `resume_crawl()` with the keyword
arguments `scripts/run_crawl_job.py` passes (CRAWL_KWARGS), so the
crawl timed is the crawl that ships; only the web is amplified.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

from news_combinator_spark.datagen import pages_from_documents
from news_combinator_spark.functions.extract import links_udf
from news_combinator_spark.functions.robots import rules_from_robots_txt
from news_combinator_spark.functions.textfns import tokenize
from news_combinator_spark.functions.urls import canonicalize_udf
from news_combinator_spark.operators.bloom import build_sharded_bloom
from news_combinator_spark.operators.clustering import (
    candidate_pairs,
    cluster_documents,
    connected_components,
    doc_tags,
    featurize_docs,
    greedy_relabel,
    verify_pairs,
)
from news_combinator_spark.operators.frontier import (
    FRONTIER_COLS,
    apply_robots,
    crawl,
    load_checkpoint,
    resume_crawl,
    schedule_per_host,
)
from news_combinator_spark.operators.ranking import partitioned_global_rank
from news_combinator_spark.oracle.reference_impl import (
    SIM_BOUND,
    doc_freq,
    seed_similarity,
    select_tags,
)
from news_combinator_spark.streaming.incremental import (
    streaming_politeness_scheduler,
    streaming_seen_filter,
)

from . import inputs

# scripts/run_crawl_job.py's crawl()/resume_crawl() keyword arguments
# at its defaults (no --web-buckets, --robots-mode prefix, no aging);
# robots and checkpoint_dir are added per workload exactly as the job
# adds them for --robots and --out.
CRAWL_KWARGS = dict(
    allowed_host_suffix=".test",
    use_bloom=True,
    bloom_expected=1_000_000,
    salt_buckets=8,
    collect_lineage=True,
    web_table=None,
    robots_mode="prefix",
    aging_every=0,
)


@dataclass
class Rep:
    """One timed repetition: `units` of work done in `wall_s`, the
    workload's per-operation walls, the wall of all its timed public
    calls (`call_s`), and outputs kept for the checks."""

    units: int
    wall_s: float
    op_ms: list[float]
    call_s: float
    outputs: dict = field(default_factory=dict)


def drop_cached(spark) -> None:
    """Empty every cache: cached frames and persisted / locally
    checkpointed RDDs the previous repetition left behind."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def digest(lines) -> str:
    h = hashlib.blake2b(digest_size=12)
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _materialize(df):
    """persist + count; returns (frame, rows, seconds)."""
    t0 = time.perf_counter()
    df = df.persist()
    n = df.count()
    return df, n, time.perf_counter() - t0


def _group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def _ungroup(spark) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


# ------------------------------------------------------------------ crawl


class CrawlPolite:
    """A crawl of an n_docs x amplify page web by few hosts with a small
    budget: a quarter of the seeds sit on one hot host, robots bodies
    block some paths, every round is checkpointed, and each repetition
    also resumes the crawl from its last mid-run checkpoint."""

    n_docs = 2_000
    amplify = 50
    n_hosts = 64
    budget = 16
    # every host's frontier exceeds its budget from round 0 on, so each
    # round fetches exactly n_hosts x budget urls whatever the seed
    n_seeds = 4_096
    rounds = 2
    resume_round = 1
    replay_round = 0
    hot_share = 0.25
    robots_share = 0.25

    def __init__(self, name: str, work: Path, seed: int, seconds: float):
        self.name, self.work, self.seed = name, work, seed
        self.n_web = self.n_docs * self.amplify
        self.robots_bodies = inputs.robots_bodies(
            self.n_hosts, seed, self.robots_share)
        self.rules = inputs.disallow_rules(self.robots_bodies)
        self.seed_ids = inputs.crawl_seed_ids(
            self.n_web, self.n_hosts, self.n_seeds, seed,
            hot_share=self.hot_share, rules=self.rules,
        )

    def build_inputs(self, spark) -> None:
        inputs.write_documents(self.work / "docs", self.n_docs, self.seed)
        inputs.write_ids(self.work / "seed_ids.parquet", self.seed_ids)
        inputs.write_robots(self.work / "robots.parquet", self.robots_bodies)

    def frames(self, spark) -> dict:
        """Fresh input frames, built the way the job builds them."""
        pages = pages_from_documents(
            spark, str(self.work / "docs"), n_hosts=self.n_hosts,
            amplify=self.amplify,
        )
        seed_ids = spark.read.parquet(str(self.work / "seed_ids.parquet"))
        seeds = pages.join(seed_ids, "doc_id", "left_semi").select(
            "url", "host", "priority"
        )
        budgets = spark.createDataFrame(
            [(f"h{i}.test", self.budget) for i in range(self.n_hosts)],
            "host string, budget int",
        )
        robots = rules_from_robots_txt(
            spark.read.parquet(str(self.work / "robots.parquet")))
        return dict(pages=pages, seeds=seeds, budgets=budgets, robots=robots)

    def _ckpt(self, tag) -> str:
        path = self.work / "ckpt" / str(tag)
        shutil.rmtree(path, ignore_errors=True)
        return str(path)

    def _timed(self, spark, group: str | None, call) -> tuple[list, float]:
        """Run `call(frames)` on fresh frames and an empty cache; time it
        through collecting the fetched rows, the job's one output."""
        drop_cached(spark)
        f = self.frames(spark)
        if group:
            _group(spark, group)
        t0 = time.perf_counter()
        rows = _rows(call(f).fetched)
        wall = time.perf_counter() - t0
        _ungroup(spark)
        return rows, wall

    def rep(self, spark, i: int, group: str | None = None) -> Rep:
        ckpt = self._ckpt(f"rep{i}")
        rows, crawl_s = self._timed(
            spark, group and f"{group}:crawl",
            lambda f: crawl(spark, f["pages"], f["seeds"], f["budgets"],
                            robots=f["robots"], rounds=self.rounds,
                            checkpoint_dir=ckpt, **CRAWL_KWARGS))
        resumed, resume_s = self._timed(
            spark, group and f"{group}:resume",
            lambda f: resume_crawl(spark, f["pages"], f["budgets"], ckpt,
                                   from_round=self.resume_round,
                                   rounds=self.rounds, robots=f["robots"],
                                   **CRAWL_KWARGS))
        out = dict(rows=rows, ckpt=ckpt, resumed=resumed, resume_s=resume_s)
        return Rep(units=len(rows), wall_s=crawl_s, op_ms=[resume_s * 1e3],
                   call_s=crawl_s + resume_s, outputs=out)

    def check(self, rep: Rep) -> tuple[int, list[str]]:
        """Checks, outside the timed region, on the collected rows."""
        rows, fails = rep.outputs["rows"], []
        urls = [r[1] for r in rows]
        if len(set(urls)) != len(urls):
            fails.append("a url was fetched twice")
        per: dict = {}
        for rnd, _, host, _, _ in rows:
            per[(rnd, host)] = per.get((rnd, host), 0) + 1
        if any(v > self.budget for v in per.values()):
            fails.append("a host exceeded its per-round budget")
        # fetch_order is row_number() over (round, priority, host, url)
        ordered = sorted(rows, key=lambda r: (r[0], r[3], r[2], r[1]))
        if [r[4] for r in ordered] != list(range(1, len(rows) + 1)):
            fails.append("fetch_order is not 1..n in (round, priority, host, url) order")
        if any(inputs.blocked(u, self.rules) for u in urls):
            fails.append("a robots-blocked url was fetched")
        if len(rows) != self.rounds * self.n_hosts * self.budget:
            fails.append("a round fetched fewer than hosts x budget urls")
        want = sorted(r for r in rows if r[0] >= self.resume_round)
        got = sorted(rep.outputs["resumed"])
        if got != want:
            fails.append("resumed rows differ from the uninterrupted run")
        return 6, fails

    def digest(self, rep: Rep) -> str:
        return digest("\t".join(map(str, r)) for r in rep.outputs["rows"])

    def replay(self, spark, ckpt: str) -> dict:
        """One round (`replay_round`) rebuilt from the traced run's
        checkpoint, each layer materialized and timed on its own."""
        f = self.frames(spark)
        r = self.replay_round
        dp = spark.sparkContext.defaultParallelism

        def layer(name, df):
            _group(spark, f"{self.name}:replay-{name}")
            return _materialize(df)

        web, _, _ = layer("prep", f["pages"].select(
            "url", "host", "priority", "html").repartition(dp, "url"))
        web_meta, _, _ = layer("prep", f["pages"].select(
            "url", "host", "priority").repartition(dp, "url"))
        robots, _, _ = layer("prep", f["robots"])
        _group(spark, f"{self.name}:replay-resume")
        t0 = time.perf_counter()
        frontier, seen, _meta = load_checkpoint(spark, ckpt, r)
        frontier, n_front, _ = _materialize(frontier)
        seen, _, _ = _materialize(seen.select("url"))
        load_s = time.perf_counter() - t0
        _group(spark, f"{self.name}:replay-prep")
        bloom = build_sharded_bloom(
            seen, "url", CRAWL_KWARGS["bloom_expected"], 1e-3, 64)

        sched, _, t_sched = layer("schedule", schedule_per_host(
            frontier, f["budgets"], CRAWL_KWARGS["salt_buckets"]))
        taken = sched.filter("taken").drop("taken")
        deferred = sched.filter("NOT taken").drop("taken")
        fetched, n_fetched, t_fetch = layer("fetch", taken.withColumnRenamed(
            "host", "t_host").withColumnRenamed("priority", "t_priority")
            .hint("shuffle_hash").join(web, "url").select(
                F.lit(r).alias("round"), "url", F.col("t_host").alias("host"),
                F.col("t_priority").alias("priority"), "html"))
        links, n_links, t_extract = layer("extract", fetched.select(
            F.explode(links_udf(F.col("html"))).alias("raw_url")))
        canon = links.select(canonicalize_udf(F.col("raw_url")).alias("url"))
        canon = canon.filter(F.parse_url("url", F.lit("HOST")).endswith(
            CRAWL_KWARGS["allowed_host_suffix"]))
        cand, n_cand, t_canon = layer("canon", canon.dropDuplicates(["url"])
                                      .hint("shuffle_hash").join(web_meta, "url"))
        cand, n_gated, t_robots = layer("robots", apply_robots(cand, robots))
        flagged, _, t_pre = layer("prefilter", bloom.probe(cand, "url", "maybe"))
        _group(spark, f"{self.name}:replay-counts")
        n_maybe = flagged.filter("maybe").count()
        n_really = flagged.filter("maybe").join(seen, "url", "left_semi").count()
        fresh = flagged.filter("NOT maybe").drop("maybe")
        suspect = flagged.filter("maybe").drop("maybe")
        new, n_new, t_anti = layer("antijoin", fresh.unionByName(
            suspect.join(seen, "url", "left_anti")))
        cpath = Path(self._ckpt("replay-write"))
        _group(spark, f"{self.name}:replay-checkpoint")
        combined = deferred.select(*FRONTIER_COLS).withColumn(
            "is_new", F.lit(False)).unionByName(new.select(
                *FRONTIER_COLS).withColumn("is_new", F.lit(True)))
        t0 = time.perf_counter()
        combined.write.mode("overwrite").parquet(str(cpath))
        t_write = time.perf_counter() - t0
        size = sum(p.stat().st_size for p in cpath.rglob("*.parquet"))
        _, _, t_rank = layer("rank", partitioned_global_rank(
            fetched.drop("html"), part_cols=["round", "priority", "host"],
            order_cols=["url"], out_col="fetch_order", cast_to="int"))
        _ungroup(spark)
        drop_cached(spark)
        out = {
            "crawl.schedule.s": t_sched,
            "crawl.schedule.rows_in": n_front,
            "crawl.schedule.taken_ratio": n_fetched / max(n_front, 1),
            "crawl.fetch.s": t_fetch,
            "crawl.fetch.rows": n_fetched,
            "crawl.extract.s": t_extract,
            "crawl.extract.links_per_page": n_links / max(n_fetched, 1),
            "crawl.canon.s": t_canon,
            "crawl.robots.s": t_robots,
            "crawl.robots.blocked_ratio": 1 - n_gated / max(n_cand, 1),
            "crawl.prefilter.s": t_pre,
            "crawl.prefilter.maybe_ratio": n_maybe / max(n_gated, 1),
            "crawl.prefilter.false_maybe_ratio":
                (n_maybe - n_really) / max(n_maybe, 1),
            "crawl.antijoin.s": t_anti,
            "crawl.antijoin.new_ratio": n_new / max(n_gated, 1),
            "crawl.checkpoint.write_s": t_write,
            "crawl.checkpoint.bytes_per_new_url": size / max(n_new, 1),
            "crawl.resume.load_s": load_s,
            "crawl.rank.s": t_rank,
        }
        # the round's layers; the checkpoint load belongs to a resume
        out["crawl.replay_round_s"] = sum(
            v for k, v in out.items()
            if k.endswith((".s", ".write_s")))
        return out


def _rows(fetched) -> list[tuple]:
    return [tuple(r) for r in fetched.select(
        "round", "url", "host", "priority", "fetch_order").collect()]


# ---------------------------------------------------------------- cluster


class ClusterNews:
    """`cluster_documents` over a near-duplicate news corpus."""

    n_docs = 6_000
    sample_edges = 200

    def __init__(self, name: str, work: Path, seed: int, seconds: float):
        self.name, self.work, self.seed = name, work, seed
        self.pages: list[dict] = []

    def build_inputs(self, spark) -> None:
        self.pages = inputs.write_cluster_docs(
            self.work / "cluster", self.n_docs, self.seed)

    def docs(self, spark):
        return spark.read.parquet(str(self.work / "cluster" / "docs.parquet"))

    def rep(self, spark, i: int, group: str | None = None) -> Rep:
        drop_cached(spark)
        docs = self.docs(spark)
        if group:
            _group(spark, f"{group}:cluster")
        t0 = time.perf_counter()
        rows = cluster_documents(spark, docs).collect()
        wall = time.perf_counter() - t0
        _ungroup(spark)
        members = [(r["cluster_id"], list(r["member_ids"])) for r in rows]
        return Rep(units=self.n_docs, wall_s=wall, op_ms=[wall * 1e3],
                   call_s=wall, outputs=dict(members=members))

    def check(self, rep: Rep) -> tuple[int, list[str]]:
        fails = []
        members = rep.outputs["members"]
        pairs = [(c, m) for c, ms in members for m in ms if m != c]
        if any(ms[0] != c for c, ms in members):
            fails.append("a cluster does not list its seed first")
        if not pairs:
            fails.append("no near-duplicate pairs were clustered")
        toks = [tokenize(p["text"]) for p in self.pages]
        df = doc_freq(toks)
        rng = random.Random(self.seed)
        low = [
            (a, b) for a, b in rng.sample(pairs, min(self.sample_edges, len(pairs)))
            if seed_similarity(toks[a], toks[b], select_tags(toks[a], df))
            < SIM_BOUND
        ]
        if low:
            fails.append(f"{len(low)} sampled edges re-score below {SIM_BOUND}")
        return 3, fails

    def digest(self, rep: Rep) -> str:
        return digest(f"{c}\t{','.join(map(str, ms))}"
                      for c, ms in rep.outputs["members"])

    def replay(self, spark, _ckpt=None) -> dict:
        docs = self.docs(spark)

        def layer(name, df):
            _group(spark, f"{self.name}:replay-{name}")
            return _materialize(df)

        toks, _, t_feat = layer("featurize", featurize_docs(docs))
        tags, _, t_tags = layer("tags", doc_tags(toks))
        pairs, n_pairs, t_band = layer(
            "band", candidate_pairs(toks.select("doc_id", "sig"), 16))
        edges, n_edges, t_verify = layer(
            "verify", verify_pairs(pairs, toks, tags))
        comps, _, t_cc = layer("cc", connected_components(edges.select("a", "b")))
        greedy, _, t_greedy = layer("greedy", greedy_relabel(edges, comps))
        # the assembly step of cluster_documents: membership -> one row
        # per cluster, members in rank order
        _, _, t_asm = layer("assemble", greedy.join(
            docs.select("doc_id", "source"), "doc_id").groupBy("cluster_id")
            .agg(F.sort_array(F.collect_list(F.struct("member_rank", "doc_id")))
                 .alias("m")))
        _ungroup(spark)
        drop_cached(spark)
        out = {
            "cluster.featurize.s": t_feat,
            "cluster.tags.s": t_tags,
            "cluster.band.s": t_band,
            "cluster.verify.s": t_verify,
            "cluster.cc.s": t_cc,
            "cluster.greedy.s": t_greedy,
            "cluster.assemble.s": t_asm,
            "cluster.band.candidates": n_pairs,
            "cluster.verify.edge_yield": n_edges / max(n_pairs, 1),
        }
        out["cluster.replay_s"] = sum(
            v for k, v in out.items() if k.endswith(".s"))
        return out


# -------------------------------------------------------------- streaming


def _progress_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch committed."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1e3


class StreamFrontier:
    """Closed loop, one client, for `seconds`: land one parquet batch of
    discovered URLs, wait until the seen filter and the politeness
    scheduler have both committed it, land the next."""

    n_batches = 40  # generated; the window lands as many as it reaches
    warm_batches = 2
    batch_size = 1_000
    n_hosts = 200
    budget = 4
    max_backlog = 100

    def __init__(self, name: str, work: Path, seed: int, seconds: float):
        self.name, self.work, self.seed = name, work, seed
        self.seconds = seconds
        self.batches = inputs.stream_batches(
            self.n_batches, self.batch_size, self.n_hosts, seed)

    def build_inputs(self, spark) -> None:
        stage = self.work / "stream" / "staged"
        shutil.rmtree(stage, ignore_errors=True)
        stage.mkdir(parents=True)
        for b, rows in enumerate(self.batches):
            inputs.write_stream_batch(stage / f"batch-{b:05d}.parquet", rows)

    def _run(self, spark, tag: str) -> dict:
        base = self.work / "stream" / tag
        shutil.rmtree(base, ignore_errors=True)
        landing = base / "in"
        landing.mkdir(parents=True)
        stage = self.work / "stream" / "staged"
        seen_q = streaming_seen_filter(spark, str(landing),
                                       query_name=f"seen_{tag}")
        pol_q = streaming_politeness_scheduler(
            spark, str(landing), budget=self.budget,
            max_backlog=self.max_backlog, query_name=f"polite_{tag}")
        lat, lands, ends = [], [], []
        try:
            for b in range(len(self.batches)):
                # the first batches start both queries' state stores,
                # code generation and Python workers; the window opens
                # when batch `warm_batches` lands
                if (len(lands) > self.warm_batches
                        and time.time() - lands[self.warm_batches] >= self.seconds):
                    break
                name = f"batch-{b:05d}.parquet"
                os.link(stage / name, landing / name)
                landed = time.time()
                end = self._await(seen_q, pol_q, b + 1)
                lands.append(landed)
                ends.append(end)
                lat.append((end - landed) * 1e3)
        finally:
            seen_q.stop()
            pol_q.stop()
        seen_rows = spark.table(f"seen_{tag}").select("url").collect()
        pol_rows = spark.table(f"polite_{tag}").select(
            "url", "host", "batch_seq").collect()
        return dict(
            lat=lat[self.warm_batches:], landed=len(lands),
            wall=ends[-1] - lands[self.warm_batches],
            window=(lands[self.warm_batches], ends[-1]),
            seen=[r[0] for r in seen_rows],
            polite=[tuple(r) for r in pol_rows],
            progress={"seen": seen_q.recentProgress,
                      "polite": pol_q.recentProgress},
            run_ids={str(seen_q.runId): "seen", str(pol_q.runId): "polite"},
        )

    @staticmethod
    def _await(seen_q, pol_q, n_batches: int, timeout_s: float = 120) -> float:
        """Commit time of the latest batch once both queries have
        committed `n_batches` data batches, read from their progress."""
        deadline = time.monotonic() + timeout_s
        while True:
            ends = []
            for q in (seen_q, pol_q):
                done = [p for p in q.recentProgress if p["numInputRows"] > 0]
                if len(done) >= n_batches:
                    ends.append(_progress_end(done[n_batches - 1]))
            if len(ends) == 2:
                return max(ends)
            if time.monotonic() > deadline:
                raise TimeoutError("streaming queries did not commit a batch")
            for q in (seen_q, pol_q):
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
            time.sleep(0.005)

    def rep(self, spark, i: int, group: str | None = None) -> Rep:
        drop_cached(spark)
        out = self._run(spark, f"r{i}")
        units = sum(len(b) for b in self.batches[self.warm_batches:out["landed"]])
        return Rep(units=units, wall_s=out["wall"], op_ms=out["lat"],
                   call_s=out["wall"], outputs=out)

    def expected(self, landed: int):
        """(new urls, politeness emissions) the first `landed` generated
        batches imply."""
        seen, new = set(), []
        backlog: dict[str, list] = {}
        emitted: dict[str, int] = {}
        polite = []
        for rows in self.batches[:landed]:
            for url, _, _ in rows:
                if url not in seen:
                    seen.add(url)
                    new.append(url)
            by_host: dict[str, list] = {}
            for url, host, prio in rows:
                by_host.setdefault(host, []).append((prio, url))
            for host, got in by_host.items():
                pool = sorted(backlog.get(host, []) + got)
                take = pool[:self.budget]
                backlog[host] = pool[self.budget:self.budget + self.max_backlog]
                n0 = emitted.get(host, 0)
                polite += [(u, host, n0 + k) for k, (_, u) in enumerate(take)]
                emitted[host] = n0 + len(take)
        return new, polite

    def check(self, rep: Rep) -> tuple[int, list[str]]:
        fails = []
        new, polite = self.expected(rep.outputs["landed"])
        if sorted(rep.outputs["seen"]) != sorted(new):
            fails.append("seen-filter output differs from the generator's new urls")
        if sorted(rep.outputs["polite"]) != sorted(polite):
            fails.append("politeness output differs from the per-batch budget schedule")
        return 2, fails

    def digest(self, rep: Rep) -> str:
        return digest(sorted(rep.outputs["seen"])
                      + [f"{u}\t{h}\t{s}" for u, h, s in rep.outputs["polite"]])

    def layer_metrics(self, rep: Rep) -> dict:
        out = {}
        for q in ("seen", "polite"):
            prog = [p for p in rep.outputs["progress"][q] if p["numInputRows"] > 0]
            st = prog[-1]["stateOperators"][0]
            out[f"stream.{q}.batch_ms"] = statistics.median(
                p["durationMs"]["triggerExecution"] for p in prog)
            out[f"stream.{q}.state_rows"] = st["numRowsTotal"]
            out[f"stream.{q}.state_bytes"] = st["memoryUsedBytes"]
            if q == "seen":
                out["stream.seen.new_ratio"] = (
                    sum(p["sink"]["numOutputRows"] for p in prog)
                    / sum(p["numInputRows"] for p in prog))
        return out

    def replay(self, spark, _ckpt=None) -> dict:
        return {}


WORKLOADS = {
    "crawl_polite": CrawlPolite,
    "cluster_news": ClusterNews,
    "stream_frontier": StreamFrontier,
}
