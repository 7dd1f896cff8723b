"""Event-log fold: unit cases on synthetic events, and the check that
every job of a 2-round crawl lands in a named job group.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import eventlog  # noqa: E402


def _job(jid, group, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": start, "Stage IDs": stages,
         "Properties": {"spark.jobGroup.id": group} if group else {}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(stage, run_ms, cpu_ns, read=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
        "JVM GC Time": 0, "Peak Execution Memory": 5,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}


def test_fold_groups_tasks_and_unions_overlapping_jobs():
    events = (
        _job(0, "a", 1_000, 3_000, [0])
        + _job(1, "a", 2_000, 4_000, [1])  # overlaps job 0
        + _job(2, "b", 5_000, 6_000, [2])
        + _job(3, None, 7_000, 7_500, [3])
        + [_task(0, 100, 50_000_000, written=7), _task(1, 200, 0, read=7),
           _task(2, 300, 0)]
    )
    folded = eventlog.fold(events)
    assert folded["a"]["jobs"] == 2 and folded["a"]["tasks"] == 2
    assert folded["a"]["job_wall_s"] == pytest.approx(3.0)
    assert folded["a"]["executor_run_s"] == pytest.approx(0.3)
    assert folded["a"]["executor_cpu_s"] == pytest.approx(0.05)
    assert folded["a"]["shuffle_read_bytes"] == 7
    assert folded["a"]["shuffle_write_bytes"] == 7
    assert folded[None]["jobs"] == 1
    assert eventlog.union_wall(events, ["a", "b"]) == pytest.approx(4.0)
    assert eventlog.union_wall(events, ["a"], window=(2.5, 10)) == pytest.approx(1.5)
    split = eventlog.split_wall(folded, "b", 1.75)
    assert split["job_wall_s"] + split["driver_gap_s"] == pytest.approx(1.75)


def test_every_job_of_a_two_round_crawl_lands_in_a_named_group(tmp_path):
    from perfbench import inputs, run
    from perfbench.workloads import CRAWL_KWARGS

    run._prepare_env(tmp_path)
    from pyspark.sql import functions as F

    from news_combinator_spark.datagen import pages_from_documents
    from news_combinator_spark.operators.frontier import crawl

    log_dir = tmp_path / "eventlog"
    spark = run.start_session(tmp_path, eventlog.event_log_conf(log_dir))
    try:
        spark.sparkContext.setJobGroup("setup", "inputs")
        inputs.write_documents(tmp_path / "docs", 200, seed=3)
        pages = pages_from_documents(spark, str(tmp_path / "docs"), n_hosts=8)
        budgets = spark.createDataFrame(
            [(f"h{i}.test", 4) for i in range(8)], "host string, budget int")
        seeds = pages.filter(F.col("doc_id") < 16).select("url", "host", "priority")
        spark.sparkContext.setJobGroup("crawl", "two-round crawl")
        n = crawl(spark, pages, seeds, budgets, rounds=2,
                  checkpoint_dir=str(tmp_path / "ckpt"), **CRAWL_KWARGS
                  ).fetched.count()
    finally:
        run.stop_session(spark)
    assert n > 0
    folded = eventlog.fold(eventlog.read_events(log_dir))
    assert set(folded) == {"setup", "crawl"}, f"ungrouped: {folded.get(None)}"
    assert folded["crawl"]["jobs"] > 2 * 5
