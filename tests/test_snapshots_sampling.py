"""As-of snapshot reads (operators/snapshots) and deterministic
stratified sampling (operators/sampling) vs independent oracles:
pandas merge_asof for the temporal join, hashlib-recomputed membership
for the sampler."""

import datetime as dt
import hashlib

import pandas as pd
from pyspark.sql import functions as F

from news_combinator_spark.operators.sampling import stratified_sample
from news_combinator_spark.operators.snapshots import asof_join, latest_asof


def _snap_rows():
    """Deterministic multi-version fixture: 8 urls, 1-4 snapshots each,
    1h apart starting at a per-url offset."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(8):
        for v in range(1 + i % 4):
            rows.append(
                (
                    f"http://h{i % 3}.test/p{i}",
                    base + dt.timedelta(minutes=17 * i + 60 * v),
                    v,
                    100 * i + v,
                )
            )
    return rows


def test_latest_asof_matches_pandas(spark):
    rows = _snap_rows()
    snaps = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, v int, payload int"
    )
    cutoff = dt.datetime(2024, 1, 1, 1, 30)
    got = (
        latest_asof(snaps, F.lit(cutoff))
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "v", "payload"])
    exp = (
        pdf[pdf.warc_ts <= cutoff]
        .sort_values("warc_ts")
        .groupby("url", as_index=False)
        .last()[["url", "warc_ts", "v", "payload"]]
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert len(exp) > 0 and len(exp) < len(pdf)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_asof_join_matches_merge_asof(spark):
    rows = _snap_rows()
    snaps = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, v int, payload int"
    )
    base = dt.datetime(2024, 1, 1)
    probes = [
        (f"http://h{i % 3}.test/p{i}", base + dt.timedelta(minutes=m))
        for i in range(8)
        for m in (0, 45, 150, 600)
    ]
    left = spark.createDataFrame(probes, "url string, q_ts timestamp")
    got = (
        asof_join(left, snaps, key="url", left_ts="q_ts", right_ts="warc_ts")
        .toPandas()
        .sort_values(["url", "q_ts"])
        .reset_index(drop=True)[["url", "q_ts", "warc_ts", "v", "payload"]]
    )
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "v", "payload"])
    lpdf = pd.DataFrame(probes, columns=["url", "q_ts"])
    exp = pd.merge_asof(
        lpdf.sort_values("q_ts"),
        pdf.sort_values("warc_ts"),
        left_on="q_ts",
        right_on="warc_ts",
        by="url",
        direction="backward",
    ).sort_values(["url", "q_ts"]).reset_index(drop=True)[
        ["url", "q_ts", "warc_ts", "v", "payload"]
    ]
    # both matched and unmatched probes must exist in the fixture
    assert exp.warc_ts.isna().any() and exp.warc_ts.notna().any()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_asof_join_inner_drops_unmatched(spark):
    rows = _snap_rows()
    snaps = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, v int, payload int"
    )
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("http://h0.test/p0", base - dt.timedelta(hours=1)),
         ("http://h0.test/p0", base + dt.timedelta(hours=9))],
        "url string, q_ts timestamp",
    )
    got = asof_join(left, snaps, how="inner").toPandas()
    assert len(got) == 1 and got.iloc[0].v == 0


def _expected_sample(pdf, target_frac):
    """Recompute stratified_sample membership with hashlib."""
    n = pdf.groupby("host").size()
    total, n_groups = len(pdf), len(n)
    keep = []
    for _, row in pdf.iterrows():
        rate = min(1.0, target_frac * total / (n_groups * n[row.host]))
        if rate >= 1.0:
            keep.append(True)
            continue
        thr = format(int(rate * (1 << 52)), "x").rjust(13, "0")
        keep.append(hashlib.md5(row.url.encode()).hexdigest()[:13] < thr)
    return pdf[pd.Series(keep, index=pdf.index)]


def test_stratified_sample_exact_membership(spark):
    # skewed groups: h0 huge, h1 medium, h2 tiny (kept fully)
    rows = (
        [(f"http://h0.test/{i}", "h0") for i in range(300)]
        + [(f"http://h1.test/{i}", "h1") for i in range(80)]
        + [(f"http://h2.test/{i}", "h2") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "url string, host string")
    got = stratified_sample(df, "host", "url", 0.3)
    gp = got.toPandas().sort_values("url").reset_index(drop=True)
    exp = _expected_sample(
        pd.DataFrame(rows, columns=["url", "host"]), 0.3
    ).sort_values("url").reset_index(drop=True)
    assert list(gp.url) == list(exp.url)
    # tiny group kept in full; huge group sampled down
    by = gp.groupby("host").size()
    assert by.get("h2", 0) == 5
    assert 0 < by["h0"] < 300


def test_stratified_sample_partition_invariant(spark):
    rows = [(f"http://h{i % 4}.test/{i}", f"h{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "url string, host string")
    a = set(
        r.url
        for r in stratified_sample(df, "host", "url", 0.25).collect()
    )
    b = set(
        r.url
        for r in stratified_sample(
            df.repartition(13), "host", "url", 0.25
        ).collect()
    )
    assert a == b and 0 < len(a) < 400


def test_snapshot_diff_all_statuses(spark):
    from news_combinator_spark.operators.snapshots import snapshot_diff

    old = spark.createDataFrame(
        [("u1", 0), ("u2", 1), ("u3", 0)], "url string, v int"
    )
    new = spark.createDataFrame(
        [("u2", 2), ("u3", 0), ("u4", 0)], "url string, v int"
    )
    got = {
        r.url: (r.status, r.old_v, r.new_v)
        for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        "u1": ("gone", 0, None),
        "u2": ("changed", 1, 2),
        "u3": ("unchanged", 0, 0),
        "u4": ("new", None, 0),
    }


def test_recrawl_priority_rates_and_buckets(spark):
    """Change rate = consecutive-distinct transitions / (n_obs - 1);
    single observation -> rate 0; buckets map to the frontier's 0/1/2
    priority domain (fast-changing fetched first)."""
    from news_combinator_spark.operators.snapshots import recrawl_priority

    rows = []
    # u:hot — 3 obs, all different: rate 1.0 -> priority 0
    for v, fp in enumerate(["x", "y", "z"]):
        rows.append(("u:hot", float(v), fp))
    # u:half — 3 obs, one change: rate 0.5 -> priority 1
    for v, fp in enumerate(["x", "x", "y"]):
        rows.append(("u:half", float(v), fp))
    # u:cold — 2 obs, same: rate 0 -> priority 2
    for v, fp in enumerate(["x", "x"]):
        rows.append(("u:cold", float(v), fp))
    # u:once — 1 obs: rate 0 (no transition evidence) -> priority 2
    rows.append(("u:once", 0.0, "x"))
    # u:flap — A B A: both transitions are changes: rate 1 -> 0
    for v, fp in enumerate(["a", "b", "a"]):
        rows.append(("u:flap", float(v), fp))
    obs = spark.createDataFrame(
        rows, "url string, snap_ts double, fingerprint string"
    )
    got = {
        r.url: (r.n_obs, r.n_changes, r.change_rate, r.priority)
        for r in recrawl_priority(obs, high=0.75, low=0.25).collect()
    }
    assert got == {
        "u:hot": (3, 2, 1.0, 0),
        "u:half": (3, 1, 0.5, 1),
        "u:cold": (2, 0, 0.0, 2),
        "u:once": (1, 0, 0.0, 2),
        "u:flap": (3, 2, 1.0, 0),
    }


def test_modified_candidates_gate(spark):
    """Keep: never-stored, null lastmod, newer-than-stored. Drop:
    lastmod at or before the store's latest snapshot."""
    from news_combinator_spark.operators.snapshots import (
        modified_candidates,
    )

    store = spark.createDataFrame(
        [("u:a", 100.0), ("u:a", 200.0), ("u:b", 150.0)],
        "url string, snap_ts double",
    )
    cand = spark.createDataFrame(
        [
            ("u:new", 50.0),    # never stored -> keep
            ("u:a", None),      # no lastmod -> keep
            ("u:a", 250.0),     # newer than max(100,200) -> keep
            ("u:a", 200.0),     # equal -> drop (nothing new)
            ("u:b", 120.0),     # older -> drop
        ],
        "url string, lastmod double",
    )
    kept = {
        (r.url, r.lastmod)
        for r in modified_candidates(cand, store).collect()
    }
    assert kept == {("u:new", 50.0), ("u:a", None), ("u:a", 250.0)}


def test_etag_candidates_null_logic(spark):
    """Certain-304 drops; never-stored, candidate-null, stored-null,
    and changed validators keep; only the LATEST snapshot's etag
    governs (an older matching etag must not drop)."""
    from news_combinator_spark.operators.snapshots import etag_candidates

    store = spark.createDataFrame(
        [
            ("u_same", 1, "e1"), ("u_same", 2, "e2"),
            ("u_old_match", 1, "eX"), ("u_old_match", 2, "e2"),
            ("u_nullstore", 1, None),
            ("u_diff", 1, "e9"),
        ],
        "url string, snap_ts int, etag string",
    )
    cand = spark.createDataFrame(
        [
            ("u_same", "e2"),        # equals latest -> drop
            ("u_old_match", "eX"),   # equals an OLD etag -> keep
            ("u_nullstore", "e1"),   # stored etag null -> keep
            ("u_diff", None),        # candidate null -> keep
            ("u_new", "e1"),         # never stored -> keep
        ],
        "url string, etag string",
    )
    kept = {r.url for r in etag_candidates(cand, store).collect()}
    assert kept == {"u_old_match", "u_nullstore", "u_diff", "u_new"}
