"""Semantics of the round-3 fifth-batch operator beyond the DuckDB
hash gate: frontier drain forecasting."""

from news_combinator_spark.operators.frontier import drain_forecast


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
