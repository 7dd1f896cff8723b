"""Semantics of the round-3 fifth-batch operators beyond the DuckDB
hash gate: containment dedup, frontier drain forecasting."""

import pyspark.sql.functions as F
import pytest

from news_combinator_spark.operators.dedup import containment_pairs
from news_combinator_spark.operators.frontier import drain_forecast


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------------------ containment


def test_containment_catches_subset_jaccard_misses(spark):
    short = "w1 w2 w3 w4 w5 w6"
    long = short + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14"
    docs = _docs(spark, [(0, short), (1, long)])
    out = containment_pairs(docs, n=3, min_containment=0.9).collect()
    assert len(out) == 1
    r = out[0]
    # all 4 of doc 0's 3-shingles appear in doc 1
    assert r.a == 0 and r.b == 1 and r.c_a_in_b == 1.0
    # the symmetric measure is far below the threshold (4/18)
    assert r.c_b_in_a < 0.25
    # ...so symmetric Jaccard would have missed the pair entirely:
    # J = 4 / 18 ~= 0.22


def test_containment_disjoint_docs_no_pair(spark):
    docs = _docs(spark, [(0, "a b c d e"), (1, "v w x y z")])
    assert containment_pairs(docs, n=3, min_containment=0.1).count() == 0


def test_containment_short_doc_yields_no_shingles(spark):
    docs = _docs(spark, [(0, "a b"), (1, "a b c")])
    # doc 0 has no 3-shingle at all; no join key, no pair, no crash
    assert containment_pairs(docs, n=3, min_containment=0.0).count() == 0


def test_containment_max_df_guard_drops_saturated_shingles(spark):
    # a boilerplate tail shared by ALL docs would pair everything;
    # max_df excludes it from candidate generation, and the pair
    # evidence (exact intersection) disappears with it
    tail = " foot1 foot2 foot3 foot4"
    docs = _docs(
        spark, [(i, f"u{i}a u{i}b u{i}c" + tail) for i in range(6)]
    )
    unguarded = containment_pairs(docs, n=3, min_containment=0.3)
    guarded = containment_pairs(
        docs, n=3, min_containment=0.3, max_df=3
    )
    assert unguarded.count() > 0
    assert guarded.count() == 0


# ---------------------------------------------------------- drain forecast


def test_drain_forecast_round_arithmetic(spark):
    # host h: budget 10; p0: 25 urls -> rounds 1-3; p1: 5 urls ->
    # round 3 (shares the tail of round 3: 25+5=30 = 3 full rounds);
    # p2: 1 url -> round 4
    frontier = spark.createDataFrame(
        [("h", 0)] * 25 + [("h", 1)] * 5 + [("h", 2)] * 1,
        "host string, priority int",
    )
    budgets = spark.createDataFrame([("h", 10)], "host string, budget int")
    out = {r.priority: r for r in
           drain_forecast(frontier, budgets).collect()}
    assert (out[0].first_round, out[0].last_round) == (1, 3)
    assert (out[1].first_round, out[1].last_round) == (3, 3)
    assert (out[2].first_round, out[2].last_round) == (4, 4)


def test_drain_forecast_hosts_independent(spark):
    frontier = spark.createDataFrame(
        [("a", 0)] * 7 + [("b", 0)] * 100,
        "host string, priority int",
    )
    budgets = spark.createDataFrame(
        [("a", 10), ("b", 10)], "host string, budget int"
    )
    out = {r.host: r for r in drain_forecast(frontier, budgets).collect()}
    assert (out["a"].first_round, out["a"].last_round) == (1, 1)
    assert (out["b"].first_round, out["b"].last_round) == (1, 10)


def test_drain_forecast_default_budget_keeps_unbudgeted_host(spark):
    frontier = spark.createDataFrame(
        [("a", 0)] * 4 + [("zz", 0)] * 30,
        "host string, priority int",
    )
    budgets = spark.createDataFrame([("a", 10)], "host string, budget int")
    # default contract: unbudgeted host silently excluded
    assert drain_forecast(frontier, budgets).count() == 1
    # opt-in default budget forecasts it instead
    out = {r.host: r for r in drain_forecast(
        frontier, budgets, default_budget=10
    ).collect()}
    assert out["zz"].last_round == 3 and out["zz"].budget == 10
