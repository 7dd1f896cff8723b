"""Dedup operators: correctness vs brute-force ground truth."""

import pytest

from news_combinator_spark.datagen import reference_grammar_pages
from news_combinator_spark.functions.textfns import jaccard, tokenize
from news_combinator_spark.operators import dedup as dd


@pytest.fixture(scope="module")
def corpus_df(spark):
    pages = reference_grammar_pages(n_pages=120, seed=3, dup_rate=0.4)
    rows = [(i, p["text"], p["host"]) for i, p in enumerate(pages)]
    texts = [p["text"] for p in pages]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    return df, texts


def test_exact_dedup_keeps_first(spark):
    rows = [(1, "same"), (2, "same"), (3, "other"), (4, "same")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dd.exact_dedup(df).collect())
    assert kept == [1, 3]
    groups = dd.exact_dup_groups(df).collect()
    assert len(groups) == 1
    assert list(groups[0]["doc_ids"]) == [1, 2, 4]


def test_minhash_near_dups_vs_bruteforce(spark, corpus_df):
    df, texts = corpus_df
    got = {
        (r["a"], r["b"]) for r in dd.minhash_near_dups(df, threshold=0.8).collect()
    }
    exp = set()
    toks = [set(tokenize(t)) for t in texts]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if jaccard(toks[i], toks[j]) >= 0.8:
                exp.add((i, j))
    # LSH must find every true pair at this threshold (recall), and
    # verification guarantees precision.
    assert got == exp


def test_simhash_near_dups_finds_variants(spark, corpus_df):
    df, texts = corpus_df
    pairs = dd.simhash_near_dups(df, radius=10).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["hamming"] <= 10
        # near in simhash => actually similar token sets
        ja = jaccard(set(tokenize(texts[r["a"]])), set(tokenize(texts[r["b"]])))
        assert ja > 0.3, (r["a"], r["b"], ja)


def test_ngram_jaccard_pairs(spark):
    rows = [(1, "abcdefghij"), (2, "abcdefghiX"), (3, "zzzzzzzzzz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    out = {(r["a"], r["b"]): r["ngram_jaccard"]
           for r in dd.ngram_jaccard_pairs(df, pairs, n=5).collect()}
    assert out[(1, 2)] > 0.3
    assert out[(1, 3)] == 0.0


def test_near_dup_groups_vs_bruteforce_unionfind(spark, corpus_df):
    df, texts = corpus_df
    got = {
        r["doc_id"]: (r["canonical"], r["is_canonical"])
        for r in dd.near_dup_groups(df, threshold=0.8).collect()
    }
    # ground truth: union-find over brute-force Jaccard pairs
    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    toks = [set(tokenize(t)) for t in texts]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if jaccard(toks[i], toks[j]) >= 0.8:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    exp_canon = {i: find(i) for i in range(len(texts))}
    assert len(got) == len(texts)  # every row gets a decision
    for i in range(len(texts)):
        assert got[i][0] == exp_canon[i], (i, got[i], exp_canon[i])
        assert got[i][1] == (exp_canon[i] == i)


def test_dedup_keep_canonical_shrinks_corpus(spark, corpus_df):
    df, texts = corpus_df
    kept = dd.dedup_keep_canonical(df, threshold=0.8)
    n_kept = kept.count()
    groups = dd.near_dup_groups(df, threshold=0.8)
    n_canon = groups.filter("is_canonical").count()
    assert n_kept == n_canon < len(texts)
    # survivors are exactly the canonical ids, with full original rows
    assert set(r["doc_id"] for r in kept.collect()) == set(
        r["doc_id"] for r in groups.filter("is_canonical").collect()
    )
    assert kept.columns == df.columns


def test_md5_simhash_matches_bruteforce_and_duckdb_hash(spark, corpus_df):
    """The md5 token-hash variant powers the driver's pure-SQL simhash
    oracle: (a) md5_hash64 must stay bit-identical to DuckDB's
    md5_number_lower, and (b) the pigeonhole block join must return
    exactly the brute-force hamming-radius pair set (the blocking is
    lossless by construction, so equality is exact, not approximate)."""
    import duckdb

    from news_combinator_spark.functions.textfns import (
        hamming64,
        md5_hash64,
        simhash64,
    )

    con = duckdb.connect()
    for tok in ["hello", "spark", "新闻", "a", ""]:
        got = con.execute(
            "SELECT md5_number_lower(?)", [tok]
        ).fetchone()[0]
        assert got == md5_hash64(tok), tok

    df, texts = corpus_df
    radius = 8
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in dd.simhash_near_dups(
            df, radius=radius, hash_fn=md5_hash64
        ).collect()
    }
    sketches = [simhash64(tokenize(t), md5_hash64) for t in texts]
    exp = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            h = hamming64(sketches[i], sketches[j])
            if h <= radius:
                exp.add((i, j, h))
    assert got == exp


def test_duplicated_spans_vs_bruteforce(spark):
    """Planted duplicate substring across docs: engine (hashed windows,
    JVM-side) must flag exactly the positions a brute-force pure-Python
    window scan flags, and dup_span_stats must aggregate them."""
    boiler = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, "alpha beta " + boiler + " gamma delta epsilon zeta eta"),
        (1, "one two three " + boiler + " four five six seven eight"),
        (2, "totally unrelated text with enough tokens to form windows here"),
        (3, "short text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    W = 8
    got = {
        (r["doc_id"], r["pos"], r["n_sites"])
        for r in dd.duplicated_spans(df, window=W).collect()
    }
    spans = {}
    for doc_id, text in rows:
        toks = text.split()
        for i in range(len(toks) - W + 1):
            spans.setdefault(" ".join(toks[i : i + W]), []).append(
                (doc_id, i)
            )
    exp = {
        (d, p, len(sites))
        for sites in spans.values()
        if len(sites) >= 2
        for d, p in sites
    }
    assert got == exp and len(exp) > 0

    stats = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
        for r in dd.dup_span_stats(df, window=W).collect()
    }
    n_dup_by_doc = {}
    n_win_by_doc = {}
    for span, sites in spans.items():
        for d, _ in sites:
            n_win_by_doc[d] = n_win_by_doc.get(d, 0) + 1
            if len(sites) >= 2:
                n_dup_by_doc[d] = n_dup_by_doc.get(d, 0) + 1
    assert set(stats) == set(n_win_by_doc)  # doc 3: no windows, absent
    for d in stats:
        assert stats[d] == (n_win_by_doc[d], n_dup_by_doc.get(d, 0)), d


def test_remove_boilerplate_host_scoped(spark):
    """Lines over the host-frequency threshold strip; reassembly keeps
    document order; a fully-boilerplate doc drops; the same line on
    another host is NOT boilerplate there (host-scoped counts)."""
    from news_combinator_spark.operators.dedup import remove_boilerplate

    rows = [
        # host A: NAV in 3/3 docs (boiler), PROMO in 1/3 (kept)
        (1, "A", "NAV|alpha body|PROMO|end one"),
        (2, "A", "NAV|beta body|end two"),
        (3, "A", "NAV"),                      # fully boilerplate -> drops
        # host B: NAV in 1/2 docs -> NOT boilerplate on B
        (4, "B", "NAV|gamma body"),
        (5, "B", "delta body"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = {
        r.doc_id: (r.clean_text, r.n_lines, r.n_removed)
        for r in remove_boilerplate(df, min_frac=0.5).collect()
    }
    assert out == {
        1: ("alpha body|PROMO|end one", 4, 1),
        2: ("beta body|end two", 3, 1),
        4: ("NAV|gamma body", 2, 0),
        5: ("delta body", 1, 0),
    }


def _pq_fixture(spark):
    """20 vectors, dim 8: rows 16-19 reuse subvectors of rows 0-15, so
    the seed codebook (lowest-16 ids) covers EVERY distinct subvector
    in both m=2 subspaces."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.rand(16, 8).round(3)
    extra = np.stack([
        np.concatenate([base[3, :4], base[9, 4:]]),
        np.concatenate([base[5, :4], base[1, 4:]]),
        np.concatenate([base[0, :4], base[15, 4:]]),
        np.concatenate([base[8, :4], base[2, 4:]]),
    ])
    vecs = np.vstack([base, extra])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    return vecs, df


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
