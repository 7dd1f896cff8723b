"""Dedup operators: exact keep-first, mirror-host pairs."""

from news_combinator_spark.operators import dedup as dd


def test_exact_dedup_keeps_first(spark):
    rows = [(1, "same"), (2, "same"), (3, "other"), (4, "same")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dd.exact_dedup(df).collect())
    assert kept == [1, 3]


def test_mirror_hosts_threshold_and_blocking(spark):
    """A full mirror scores 1.0, a half mirror ~1/3, unrelated hosts
    never pair (no all-pairs comparison: they share no fingerprint,
    so the fp join produces nothing for them)."""
    rows = (
        [("a.test", f"f{i}") for i in range(8)]
        + [("b.test", f"f{i}") for i in range(8)]        # full mirror
        + [("c.test", f"f{i}") for i in range(4)]
        + [("c.test", f"c{i}") for i in range(4)]        # half mirror
        + [("d.test", f"d{i}") for i in range(8)]        # unrelated
    )
    fps = spark.createDataFrame(rows, "host string, fp string")
    got = {
        (r.host_a, r.host_b): r.jaccard
        for r in dd.mirror_hosts(fps, threshold=0.3).collect()
    }
    assert got[("a.test", "b.test")] == 1.0
    assert got[("a.test", "c.test")] == 0.3333  # round(4/12, 4)
    assert got[("b.test", "c.test")] == 0.3333
    assert not any("d.test" in k for k in got)
    strict = dd.mirror_hosts(fps, threshold=0.5).collect()
    assert {(r.host_a, r.host_b) for r in strict} == {("a.test", "b.test")}


def test_mirror_hosts_boilerplate_fp_guard(spark):
    """A fingerprint on more hosts than max_hosts_per_fp is
    boilerplate, not mirror evidence: it is excluded from both the
    pair join AND the per-host set sizes, so two hosts sharing only
    boilerplate never pair while a real mirror's Jaccard is computed
    over its non-boilerplate content only."""
    boiler = [(f"x{i}.test", "BOILER") for i in range(10)]
    rows = boiler + [
        ("x0.test", "a1"), ("x0.test", "a2"),
        ("x1.test", "a1"), ("x1.test", "a2"),  # true mirror of x0
        ("x2.test", "z1"), ("x2.test", "z2"),  # unrelated
    ]
    fps = spark.createDataFrame(rows, "host string, fp string")
    got = {
        (r.host_a, r.host_b): r.jaccard
        for r in dd.mirror_hosts(
            fps, threshold=0.5, max_hosts_per_fp=5
        ).collect()
    }
    # only the real mirror pairs; jaccard over {a1,a2} only = 1.0
    assert got == {("x0.test", "x1.test"): 1.0}
    # with the guard off, the shared boilerplate drags every host
    # pair above zero and x2 pairs with everyone through BOILER
    unguarded = dd.mirror_hosts(
        fps, threshold=0.1, max_hosts_per_fp=0
    ).count()
    assert unguarded == 45  # all C(10,2) pairs meet through BOILER
