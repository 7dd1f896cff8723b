"""Semantics of the round-3 operators beyond the DuckDB hash gate:
delta admission, quality-aware canonicals, n-gram inventory, WAT
round-trip, frontier merge."""

from collections import Counter

import pyspark.sql.functions as F
import pytest

from news_combinator_spark.operators import dedup as dd
from news_combinator_spark.operators.frontier import merge_frontiers
from news_combinator_spark.functions import warc as wc

from conftest import SF_MED


@pytest.fixture(scope="module")
def docs500(spark):
    return (
        spark.read.parquet(f"{SF_MED}/documents.parquet")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "text")
        .cache()
    )


# ---------------------------------------------------------------- delta


def test_delta_admit_self_corpus_admits_nothing(spark, docs500):
    """Every incoming doc is its own exact dup in the corpus
    (jaccard 1.0 >= any threshold) -> nothing admits."""
    sample = docs500.filter(F.col("doc_id") < 50)
    out = dd.delta_admit(sample, sample, threshold=0.95, max_bucket=10_000)
    assert out.count() == 0


def test_delta_admit_disjoint_vocab_admits_everything(spark):
    corpus = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "ee ff gg hh")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [(10, "xx yy zz ww"), (11, "pp qq rr ss")],
        "doc_id long, text string",
    )
    out = dd.delta_admit(corpus, incoming, threshold=0.5, max_bucket=100)
    assert sorted(r.doc_id for r in out.collect()) == [10, 11]


def test_delta_admit_equals_pairwise_rejects(spark, docs500):
    """Rejected incoming ids == incoming ids appearing on the
    incoming side of a cross near-dup pair (the pairwise view)."""
    incoming = docs500.filter(F.col("doc_id") % 5 == 0)
    corpus = docs500.filter(F.col("doc_id") % 5 != 0)
    admitted = {
        r.doc_id
        for r in dd.delta_admit(
            corpus, incoming, threshold=0.95, max_bucket=10_000
        ).collect()
    }
    pairs = dd.minhash_near_dups(
        docs500, threshold=0.95, max_bucket=10_000
    ).collect()
    crossed = set()
    for r in pairs:
        for x, y in ((r.a, r.b), (r.b, r.a)):
            if x % 5 == 0 and y % 5 != 0:
                crossed.add(x)
    inc_ids = {r.doc_id for r in incoming.select("doc_id").collect()}
    assert admitted == inc_ids - crossed


# ----------------------------------------------------------- canonical


def test_keep_best_in_groups_same_partition_as_min_id(spark, docs500):
    """Same components as near_dup_groups, different survivor rule:
    each survivor has the max token count in its component (ties ->
    min doc_id), and survivors are one per component."""
    scored = docs500.withColumn(
        "n_tok", F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    )
    groups = dd.near_dup_groups(scored, threshold=0.95, max_bucket=10_000)
    best = dd.keep_best_in_groups(scored, "n_tok", groups=groups)
    g = {r.doc_id: r.canonical for r in groups.collect()}
    b = {r.doc_id: r.canonical for r in best.collect()}
    ntok = {r.doc_id: r.n_tok for r in scored.select("doc_id", "n_tok").collect()}
    assert set(g) == set(b)
    # same partition into components
    comp_members = {}
    for d, c in g.items():
        comp_members.setdefault(c, set()).add(d)
    for c, members in comp_members.items():
        chosen = {b[d] for d in members}
        assert len(chosen) == 1, f"component {c} has {chosen}"
        winner = chosen.pop()
        expected = min(
            members, key=lambda d: (-ntok[d], d)
        )
        assert winner == expected


# -------------------------------------------------------------- ngrams


def test_ngram_counts_matches_python_counter(spark):
    texts = [
        "a b c d e f",          # grams: "a b c d e", "b c d e f"
        "a b c d e g",          # shares "a b c d e"... no: gram is 5 toks
        "a b c d e f",          # exact repeat
        "x y",                  # too short -> none
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.gram: r.n_occurrences
        for r in dd.ngram_counts(df, n=5, min_count=2).collect()
    }
    cnt = Counter()
    for t in texts:
        toks = t.split()
        for i in range(max(0, len(toks) - 4)):
            cnt[" ".join(toks[i : i + 5])] += 1
    exp = {g: c for g, c in cnt.items() if c >= 2}
    assert got == exp


# ------------------------------------------------------------------ wat


def test_wat_records_round_trip_through_warc_parser(spark):
    df = spark.createDataFrame(
        [
            (
                "http://h0.test/a/1.htm",
                "hello world",
                "2024-01-01 00:05:00",
                "http://h0.test/a/2.htm",
                "http://h1.test/a/3.htm",
            )
        ],
        "url string, text string, ts string, next1_url string, "
        "next2_url string",
    ).withColumn("warc_ts", F.to_timestamp("ts"))
    rec = wc.wat_records(df).select("wat_record").collect()[0][0]
    parsed = wc.records_from_warc(
        spark.createDataFrame([("h0", rec)], "host string, warc string")
    ).collect()
    assert len(parsed) == 1
    p = parsed[0]
    assert p.rec_type == "metadata"
    assert p.target_uri == "http://h0.test/a/1.htm"
    assert p.payload.startswith('{"WARC-Target-URI"')
    assert '"Links":["http://h0.test/a/2.htm","http://h1.test/a/3.htm"]' in (
        p.payload
    )
    # declared Content-Length == payload length (the parser truncates
    # by it, so equality means nothing was cut)
    assert f"Content-Length: {len(p.payload)}\n" in rec


# ------------------------------------------------------------- frontier


def test_merge_frontiers_min_priority_and_source_count(spark):
    fa = spark.createDataFrame(
        [("u1", "h0", 2), ("u2", "h0", 1)], "url string, host string, priority int"
    )
    fb = spark.createDataFrame(
        [("u1", "h0", 0), ("u3", "h1", 2)], "url string, host string, priority int"
    )
    out = {r.url: r for r in merge_frontiers(fa, fb).collect()}
    assert out["u1"].priority == 0 and out["u1"].n_sources == 2
    assert out["u2"].priority == 1 and out["u2"].n_sources == 1
    assert out["u3"].priority == 2 and out["u3"].n_sources == 1
    with pytest.raises(ValueError):
        merge_frontiers()


def test_delta_admit_cache_registry_releases_storage(spark, docs500):
    """The rolling-loop release hook: persisted intermediates land in
    cache_registry and unpersist() drops every cached block, so a
    per-batch admission loop doesn't pin storage for the session."""
    incoming = docs500.filter(F.col("doc_id") % 7 == 0)
    corpus = docs500.filter(F.col("doc_id") % 7 != 0)
    reg: list = []
    out = dd.delta_admit(
        corpus, incoming, threshold=0.95, max_bucket=10_000,
        cache_registry=reg,
    )
    n = out.count()  # materialize -> caches fill
    assert n > 0 and len(reg) == 2
    assert all(f.storageLevel.useMemory or f.storageLevel.useDisk
               for f in reg)
    before = {f._jdf.queryExecution().analyzed().semanticHash()
              for f in reg}
    for f in reg:
        f.unpersist(blocking=True)
    # the hook's contract: every registered frame is fully released
    assert all(not (f.storageLevel.useMemory or f.storageLevel.useDisk)
               for f in reg)
    assert len(before) == 2  # two distinct cached frames were handed out


def test_near_dup_groups_cache_registry_passthrough(spark, docs500):
    reg: list = []
    groups = dd.near_dup_groups(
        docs500.filter(F.col("doc_id") < 60),
        threshold=0.9, max_bucket=10_000, cache_registry=reg,
    )
    assert groups.count() == 60 and len(reg) == 1
    for f in reg:
        f.unpersist(blocking=True)
