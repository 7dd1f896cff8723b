"""Distributed clustering == pure-Python reference greedy, exactly."""

import pandas as pd
import pytest

from news_combinator_spark.datagen import reference_grammar_pages
from news_combinator_spark.operators.clustering import (
    candidate_pairs,
    cluster_documents,
    connected_components,
    doc_tags,
    featurize_docs,
    verify_pairs,
)
from news_combinator_spark.oracle.reference_impl import (
    all_qualifying_pairs,
    greedy_clusters,
    select_tags,
    doc_freq,
)
from news_combinator_spark.functions.textfns import tokenize


@pytest.fixture(scope="module")
def corpus():
    pages = reference_grammar_pages(n_pages=150, seed=7, dup_rate=0.35)
    return [p["text"] for p in pages], [p["host"] for p in pages]


@pytest.fixture(scope="module")
def docs_df(spark, corpus):
    texts, hosts = corpus
    rows = [(i, t, h) for i, (t, h) in enumerate(zip(texts, hosts))]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_tags_match_oracle(spark, docs_df, corpus):
    texts, _ = corpus
    token_lists = [tokenize(t) for t in texts]
    df = doc_freq(token_lists)
    toks = featurize_docs(docs_df)
    got = {
        r["doc_id"]: list(r["tags"])
        for r in doc_tags(toks).collect()
    }
    for i, toklist in enumerate(token_lists):
        assert got.get(i, []) == select_tags(toklist, df), f"doc {i}"


def test_lsh_candidates_cover_all_qualifying_pairs(spark, docs_df, corpus):
    texts, _ = corpus
    expected = all_qualifying_pairs(texts)
    feat = featurize_docs(docs_df)
    pairs = candidate_pairs(feat.select("doc_id", "sig")).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    missing = expected - got
    assert not missing, f"LSH missed qualifying pairs: {missing}"


def test_verified_edges_match_oracle(spark, docs_df, corpus):
    texts, _ = corpus
    expected = all_qualifying_pairs(texts)
    feat = featurize_docs(docs_df)
    tags = doc_tags(feat)
    pairs = candidate_pairs(feat.select("doc_id", "sig"))
    edges = verify_pairs(pairs, feat, tags).collect()
    got = {(r["a"], r["b"]) for r in edges}
    assert got == expected


@pytest.mark.parametrize("k", [15, 10], ids=["featurize-v2", "featurize-v1"])
def test_verify_sims_equal_oracle_kernel(spark, docs_df, corpus, k):
    """verify_pairs' sim over a featurize_docs frame is bit-identical
    (==) to seed_similarity for every candidate pair, plus pairs whose
    probe doc holds none of the seed's tags (sim 0.0), with 15 and 10
    tags."""
    from news_combinator_spark.oracle.reference_impl import seed_similarity

    texts, _ = corpus
    token_lists = [tokenize(t) for t in texts]
    df = doc_freq(token_lists)
    seed_tags = [select_tags(t, df, k=k) for t in token_lists]
    toks = featurize_docs(docs_df)
    cands = {
        (r["a"], r["b"])
        for r in candidate_pairs(toks.select("doc_id", "sig"))
        .select("a", "b")
        .collect()
    }
    disjoint = [
        (a, b)
        for a in range(len(texts))
        for b in range(a + 1, len(texts))
        if not set(seed_tags[a]) & set(token_lists[b])
    ][:5]
    assert disjoint
    pairs = spark.createDataFrame(
        sorted(cands | set(disjoint)), "a long, b long"
    )
    got = {
        (r["a"], r["b"]): r["sim"]
        for r in verify_pairs(
            pairs, toks, doc_tags(toks, k), sim_bound=-1.0
        ).collect()
    }
    expected = {
        (a, b): seed_similarity(token_lists[a], token_lists[b], seed_tags[a])
        for a, b in cands | set(disjoint)
    }
    assert got == expected
    assert all(got[p] == 0.0 for p in disjoint)


def test_clusters_match_reference_greedy_exactly(spark, docs_df, corpus):
    texts, hosts = corpus
    oracle = greedy_clusters(texts)
    exp = {
        c.seed: c.members for c in oracle
    }
    out = cluster_documents(spark, docs_df).collect()
    got = {r["cluster_id"]: list(r["member_ids"]) for r in out}
    assert got == exp
    # csv export parity: seed source first then members ascending
    by_id = {r["cluster_id"]: r for r in out}
    for c in oracle:
        expected_csv = ",".join(hosts[m] for m in c.members)
        assert by_id[c.seed]["source_names"] == expected_csv
        assert by_id[c.seed]["abstract_ids"] == ",".join(
            str(m) for m in c.members
        )


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "a long, b long",
    )
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20
    assert comp[1] != comp[10] != comp[20]


def test_noise_cap_and_overlap_semantics():
    # 8 identical docs: seed 0 finds 7 similar > 5 -> dropped, seed 0
    # consumed; seed 1 finds 6 similar > 5 -> dropped; seed 2 finds 5
    # -> cluster [2..7] kept.
    texts = ["alpha beta gamma delta epsilon zeta"] * 8
    out = greedy_clusters(texts)
    assert len(out) == 1
    assert out[0].seed == 2
    assert out[0].members == [2, 3, 4, 5, 6, 7]


def test_singletons_produce_no_cluster():
    texts = [
        "totally unique words here",
        "completely different tokens instead",
    ]
    assert greedy_clusters(texts) == []


def test_greedy_relabel_giant_component_guard(spark):
    """max_component_edges drops oversized dup families (scale hygiene,
    off by default for reference parity)."""
    from news_combinator_spark.operators.clustering import greedy_relabel

    # one 5-edge star component (0-1..5) and one 1-edge pair (10-11)
    edges = spark.createDataFrame(
        [(0, i, 1.0) for i in range(1, 6)] + [(10, 11, 1.0)],
        "a long, b long, sim double",
    )
    comps = spark.createDataFrame(
        [(i, 0) for i in range(6)] + [(10, 10), (11, 10)],
        "doc_id long, component long",
    )
    full = greedy_relabel(edges, comps).toPandas()
    assert set(full.cluster_id) == {0, 10}
    guarded = greedy_relabel(edges, comps, max_component_edges=3).toPandas()
    assert set(guarded.cluster_id) == {10}, guarded


def test_cc_local_and_distributed_agree(spark):
    # both physical strategies (driver union-find vs hash-min +
    # pointer-jump propagation) must produce identical labels — on a
    # chain (worst case for propagation depth), a cycle, singleton
    # pairs, and string keys (host names: the ids need not be numeric).
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(40)]              # 41-node chain
    edges += [(100, 101), (101, 102), (102, 100)]        # cycle
    edges += [(1000 + 2 * i, 1001 + 2 * i) for i in range(20)]
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "a long, b long")
    local = {
        r["doc_id"]: r["component"]
        for r in connected_components(df).collect()
    }
    dist = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            df, local_solve_max_edges=0
        ).collect()
    }
    assert local == dist
    assert local[40] == 0 and local[102] == 100

    sdf = spark.createDataFrame(
        [("b.test", "a.test"), ("c.test", "b.test"), ("z.test", "y.test")],
        "a string, b string",
    )
    slocal = {
        r["doc_id"]: r["component"]
        for r in connected_components(sdf).collect()
    }
    sdist = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            sdf, local_solve_max_edges=0
        ).collect()
    }
    assert slocal == sdist
    assert slocal["c.test"] == "a.test"


def test_greedy_membership_fused_agrees(spark, docs_df):
    """The fused driver path (greedy_membership under the size gate)
    and the unfused distributed seam (forced with local_max_edges=0:
    connected_components -> per-component greedy) must emit identical
    membership rows — the equivalence the r5 barrier fusion rests
    on."""
    from news_combinator_spark.operators.clustering import greedy_membership

    feat = featurize_docs(docs_df).persist()
    tags = doc_tags(feat, 15)
    pairs = candidate_pairs(feat.select("doc_id", "sig"), 16)
    edges = verify_pairs(pairs, feat, tags, 0.85).persist()
    fused = sorted(map(tuple, greedy_membership(edges, 5).collect()))
    dist = sorted(
        map(tuple, greedy_membership(edges, 5, local_max_edges=0).collect())
    )
    assert fused == dist and len(fused) > 0
    edges.unpersist()
    feat.unpersist()
