"""Semantics of the round-3 third-batch operator beyond the DuckDB
hash gate: URL-parameter significance."""

from news_combinator_spark.operators.hoststats import param_significance


# ------------------------------------------- URL-parameter significance


def _reqs(spark, rows):
    return spark.createDataFrame(rows, "url string, fp string")


def test_param_session_id_insignificant(spark):
    rows = [
        (f"http://h.test/p?sid={s}", "contentA") for s in range(3)
    ] + [
        (f"http://h.test/q?sid={s}", "contentB") for s in range(2)
    ]
    out = param_significance(_reqs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.param == "sid" and not r.significant
    assert r.n_groups == 2 and r.n_urls == 5 and r.n_fp == 2


def test_param_paging_significant(spark):
    rows = [
        (f"http://h.test/list?page={p}", f"content{p}") for p in range(4)
    ]
    r = param_significance(_reqs(spark, rows)).collect()[0]
    assert r.param == "page" and r.significant
    assert r.n_fp == 4 and r.n_groups == 1


def test_param_strip_positions(spark):
    # same stripped target reached from first, middle, and last
    # position of the noise param — all three literal-replace branches
    rows = [
        ("http://h.test/p?z=1&a=x&b=y", "c1"),
        ("http://h.test/p?a=x&z=2&b=y", "c1"),
        ("http://h.test/p?a=x&b=y&z=3", "c1"),
    ]
    out = {
        r.param: r for r in param_significance(_reqs(spark, rows)).collect()
    }
    assert not out["z"].significant
    assert out["z"].n_groups == 1 and out["z"].n_urls == 3
    # a and b never vary -> no >=2-url stripped group -> no evidence row
    assert set(out) == {"z"}


def test_param_min_support_drops_thin_evidence(spark):
    rows = [
        ("http://h.test/p?s=1", "c1"),
        ("http://h.test/p?s=2", "c1"),
    ]
    assert param_significance(_reqs(spark, rows), min_support=3).count() == 0
    assert param_significance(_reqs(spark, rows), min_support=2).count() == 1
