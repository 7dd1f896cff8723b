"""Driver contract for the spark-graft builder (PySpark target).

entry(spark):   flagship crawl-frontier query on sf0.001.
queries():      every implemented operator from SURVEY.md §2 (see
                news_combinator_spark/plans/queries.py).
oracle_sql():   matching DuckDB SQL for EVERY queries() entry — the
                two sequential-consume greedy clusterings are
                replayed in DuckDB as recursive-CTE state machines
                (consumed set carried as a list column), so nothing
                falls back to a rows-only check.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from news_combinator_spark.plans.queries import (  # noqa: E402
    oracle_sqls,
    q_crawl_frontier,
    spark_queries,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full URL-frontier crawl (politeness + robots +
    priority + seen-dedup) over pages derived from sf0.001 documents."""
    return q_crawl_frontier(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return spark_queries()


def oracle_sql() -> dict[str, str]:
    return oracle_sqls()
