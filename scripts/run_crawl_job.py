#!/usr/bin/env python
"""spark-submit entry point for the frontier crawl job.

Cluster usage (north_rule submission shape):

    zip -r nc_spark.zip news_combinator_spark
    spark-submit --py-files nc_spark.zip scripts/run_crawl_job.py \
        --sf-dir /data/testdata/sf0.1 --rounds 4 --hosts 64 \
        --budget 200 --seeds 512 --out /tmp/crawl_out

Local two-parallelism scaling evidence (N vs 4N cores; 1 vs 4 on a
4-core machine):

    SPARK_GRAFT_CPUS=1 python scripts/run_crawl_job.py ...
    SPARK_GRAFT_CPUS=4 python scripts/run_crawl_job.py ...

Without SPARK_GRAFT_CPUS the session uses every CPU the process may
run on, so `taskset -c 0` (one core) vs `taskset -c 0-3` works too.

Writes the fetched table + per-round lineage metrics to --out and
prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from news_combinator_spark.datagen import pages_from_documents  # noqa: E402
from news_combinator_spark.operators.frontier import crawl  # noqa: E402
from news_combinator_spark.session import default_cores, get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--hosts", type=int, default=64)
    ap.add_argument("--budget", type=int, default=200)
    ap.add_argument("--seeds", type=int, default=512)
    ap.add_argument("--out", default="")
    ap.add_argument("--salt-buckets", type=int, default=8)
    ap.add_argument(
        "--web-buckets",
        type=int,
        default=0,
        help="materialize the page store as a catalog table bucketed "
        "by url with this many buckets and fetch through that layout "
        "(the production path: per-round joins read the store "
        "Exchange-free); 0 = session-partitioned DataFrame path",
    )
    ap.add_argument(
        "--robots",
        default="",
        help="parquet of RAW robots bodies (host string, robots_txt "
        "string): candidates are gated by the parsed rules (RFC 9309 "
        "longest match: Allow overrides, * and $), and with "
        "--use-crawl-delays the bodies' Crawl-delay / Request-rate "
        "directives politely cap per-host budgets",
    )
    ap.add_argument(
        "--use-crawl-delays",
        action="store_true",
        help="derive per-host budgets from the robots bodies' "
        "Crawl-delay / Request-rate (politest wins), capped at "
        "--budget; hosts without a directive keep --budget",
    )
    ap.add_argument(
        "--round-seconds",
        type=float,
        default=60.0,
        help="politeness conversion: budget = round-seconds / delay",
    )
    ap.add_argument(
        "--aging-every",
        type=int,
        default=0,
        help="starvation-free scheduling: promote a deferred URL one "
        "priority class every N unscheduled rounds (0 = off, the "
        "oracle-pinned (priority, url) order)",
    )
    ap.add_argument(
        "--host-ips",
        default="",
        help="parquet of (host, ip): per-IP budgets for virtual "
        "hosting — each IP's --ip-budget splits evenly across its "
        "hosts and composes politely (least) with the host budgets",
    )
    ap.add_argument("--ip-budget", type=int, default=64)
    ap.add_argument(
        "--resume-from",
        type=int,
        default=-1,
        help="resume from the checkpoint written for this round "
        "(requires --out of the interrupted run); rounds before it "
        "are not re-fetched",
    )
    args = ap.parse_args()
    if args.resume_from >= 0 and not args.out:
        ap.error("--resume-from requires --out (the checkpoint location)")

    cpus = default_cores()
    spark = get_spark(app_name="nc-crawl-job", cores=cpus)

    pages = pages_from_documents(spark, args.sf_dir, n_hosts=args.hosts)
    seeds = pages.filter(F.col("doc_id") < args.seeds).select(
        "url", "host", "priority"
    )
    budgets = spark.createDataFrame(
        [(f"h{i}.test", args.budget) for i in range(args.hosts)],
        "host string, budget int",
    )
    robots_rules = None
    if args.robots:
        from news_combinator_spark.functions.robots import (
            budgets_from_delays,
            effective_delays,
            rules_from_robots_txt,
        )

        robots_bodies = spark.read.parquet(args.robots)
        robots_rules = rules_from_robots_txt(robots_bodies)
        if args.use_crawl_delays:
            delayed = budgets_from_delays(
                effective_delays(robots_bodies),
                round_seconds=args.round_seconds,
                default_budget=args.budget,
                hosts=budgets.select("host"),
            )
            budgets = delayed.select(
                "host",
                F.least("budget", F.lit(args.budget)).alias("budget"),
            )
    if args.host_ips:
        from news_combinator_spark.operators.frontier import ip_budgets

        budgets = ip_budgets(
            spark.read.parquet(args.host_ips),
            ip_budget=args.ip_budget,
            host_budgets=budgets,
        )
    web_table = None
    if args.web_buckets > 0:
        from news_combinator_spark.operators.bucketing import write_bucketed

        web_table = "web_pages_bucketed_job"
        spark.sql(f"DROP TABLE IF EXISTS {web_table}")
        write_bucketed(
            pages.select("url", "host", "priority", "html"),
            web_table,
            "url",
            args.web_buckets,
        )
    t0 = time.time()
    if args.resume_from >= 0:
        from news_combinator_spark.operators.frontier import resume_crawl

        res = resume_crawl(
            spark,
            None if web_table else pages,
            budgets,
            os.path.join(args.out, "ckpt"),
            from_round=args.resume_from,
            rounds=args.rounds,
            allowed_host_suffix=".test",
            use_bloom=True,
            bloom_expected=1_000_000,
            salt_buckets=args.salt_buckets,
            web_table=web_table,
            robots=robots_rules,
            aging_every=args.aging_every,
        )
    else:
        res = crawl(
            spark,
            None if web_table else pages,
            seeds,
            budgets,
            rounds=args.rounds,
            allowed_host_suffix=".test",
            use_bloom=True,
            bloom_expected=1_000_000,
            salt_buckets=args.salt_buckets,
            checkpoint_dir=os.path.join(args.out, "ckpt") if args.out else None,
            web_table=web_table,
            robots=robots_rules,
            aging_every=args.aging_every,
        )
    if args.out:
        # a resumed run holds only rounds >= --resume-from; keep it
        # next to (not over) the interrupted run's rounds
        suffix = "_resumed" if args.resume_from >= 0 else ""
        fetched_path = os.path.join(args.out, f"fetched{suffix}")
        # the crawl output is computed once, by this write; the count
        # and the host lineage read the written table
        res.fetched.write.mode("overwrite").parquet(fetched_path)
        res.fetched = spark.read.parquet(fetched_path)
    n = res.fetched.count()
    wall = time.time() - t0
    if args.out:
        res.host_lineage_df().write.mode("overwrite").parquet(
            os.path.join(args.out, f"host_lineage{suffix}")
        )
        res.lineage_df(spark).write.mode("overwrite").parquet(
            os.path.join(args.out, f"lineage{suffix}")
        )
    print(
        json.dumps(
            {
                "cpus": cpus,
                "rounds": args.rounds,
                "urls_fetched": n,
                "wall_sec": round(wall, 3),
                "urls_per_sec": round(n / wall, 2),
                "lineage": [vars(m) for m in res.lineage],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
