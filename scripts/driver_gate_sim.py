"""Simulate the grading driver's correctness gate locally.

Runs every registry entry on Spark and DuckDB at sf0.01 (the driver
attests the first 50, and the registry holds at most 50) and compares
them the way the driver does: sorted column names, stringified values,
order-insensitive row compare. Prints one JSON line per query plus a
summary, and exits non-zero if any entry mismatches.

Usage:  python scripts/driver_gate_sim.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the tables a registry oracle reads
TABLES = ("events", "documents")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    from news_combinator_spark.oracle.compare import (
        normalize_frame as _normalize,
    )
    from news_combinator_spark.plans.queries import QUERIES
    from news_combinator_spark.session import default_cores

    spark = (
        SparkSession.builder.master(f"local[{default_cores()}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .appName("driver-gate-sim")
        .getOrCreate()
    )
    duck = duckdb.connect()
    for t in TABLES:
        path = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    n_red = 0
    for name, (fn, sql) in QUERIES.items():
        rec = {"query": name}
        try:
            got = _normalize(fn(spark, args.sf_dir).toPandas())
            if sql is None:
                rec.update(rows_only=True, spark_rows=len(got))
            else:
                exp = _normalize(duck.execute(sql).fetchdf())
                rec.update(
                    rows_match=len(got) == len(exp),
                    schema_match=list(got.columns) == list(exp.columns),
                    hash_match=got.equals(exp),
                    spark_rows=len(got),
                    oracle_rows=len(exp),
                )
                if not (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and rec["hash_match"]
                ):
                    n_red += 1
        except Exception as exc:  # pragma: no cover - diagnostic path
            rec.update(err=f"{type(exc).__name__}: {exc}")
            n_red += 1
        print(json.dumps(rec), flush=True)

    print(
        json.dumps(
            {"window": len(QUERIES), "red": n_red, "green": len(QUERIES) - n_red}
        )
    )
    spark.stop()
    return 1 if n_red else 0


if __name__ == "__main__":
    raise SystemExit(main())
