"""Pure-Python reimplementation of the reference clustering semantics.

This is the parity oracle for operators/clustering.py — a faithful
re-expression (not a copy) of the v2 greedy categorizer loop
(reconstruction/category/categorize.cpp:92-165):

- docs scanned in index order; a doc already *consumed* never seeds
  again, but CAN still be absorbed into later clusters (the inner
  j-loop has no handled check — clusters may overlap).
- seed vocab = its top-K tags; both TF vectors live in that vocab
  space (categorize.cpp:107-117, computeTF :180-189).
- cosine with denominator guard < 1e-5 -> 0.0 (:191-207).
- similarity >= 0.85 joins the cluster (:120, SIMILARITY_BOUND :21).
- noise cap: > MAX_SIMILAR_TEXTS(5) similar -> cluster dropped and
  members NOT consumed (:148-151 `continue` happens before the
  consume loop :153-158).
- singleton seeds produce no cluster row (:161 insert only when
  set_similar_index non-empty).

Tag selection in OUR spec is integer-ordered (tf desc, doc-freq asc,
word asc): the reference's float tf*idf ranking is pinned to absent
cppjieba dict files (.MISSING_LARGE_BLOBS), so the deterministic
integer ordering is the engine's documented spec — it keeps the
distributed window ranking and this oracle bit-identical with no
cross-engine float comparisons.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from ..functions.textfns import cosine_guarded, tokenize

SIM_BOUND = 0.85
MAX_SIMILAR = 5
TAG_NUM = 15


def doc_freq(token_lists: list[list[str]]) -> dict[str, int]:
    df: Counter = Counter()
    for toks in token_lists:
        df.update(set(toks))
    return dict(df)


def select_tags(
    tokens: list[str],
    df: dict[str, int],
    k: int = TAG_NUM,
    stopwords: set[str] | None = None,
) -> list[str]:
    """Top-K by (tf desc, doc-freq asc, word asc); 1-char + stopword
    tokens dropped (KeywordExtractor.hpp:84-93 drops single chars and
    stopwords before ranking)."""
    stopwords = stopwords or set()
    counts = Counter(t for t in tokens if len(t) > 1 and t not in stopwords)
    ranked = sorted(
        counts.items(), key=lambda kv: (-kv[1], df.get(kv[0], 0), kv[0])
    )
    return [w for w, _ in ranked[:k]]


def seed_similarity(
    seed_tokens: list[str], target_tokens: list[str], vocab: list[str]
) -> float:
    """Directional similarity in the SEED's tag-vocab space."""
    vs = set(vocab)
    tf1 = {w: 0 for w in vocab}
    for t in seed_tokens:
        if t in vs:
            tf1[t] += 1
    tf2: dict[str, int] = {}
    for t in target_tokens:
        if t in vs:
            tf2[t] = tf2.get(t, 0) + 1
    return cosine_guarded(
        {k: float(v) for k, v in tf1.items()},
        {k: float(v) for k, v in tf2.items()},
        version=2,
    )


@dataclass
class Cluster:
    seed: int
    members: list[int]  # seed first, then similar indices ascending


def greedy_clusters(
    texts: list[str],
    sim_bound: float = SIM_BOUND,
    max_similar: int = MAX_SIMILAR,
    tag_num: int = TAG_NUM,
    stopwords: set[str] | None = None,
) -> list[Cluster]:
    token_lists = [tokenize(t) for t in texts]
    df = doc_freq(token_lists)
    n = len(texts)
    handled: set[int] = set()
    clusters: list[Cluster] = []
    for i in range(n):
        if i in handled:
            continue
        handled.add(i)
        vocab = select_tags(token_lists[i], df, tag_num, stopwords)
        similar = [
            j
            for j in range(i + 1, n)
            if seed_similarity(token_lists[i], token_lists[j], vocab)
            >= sim_bound
        ]
        if len(similar) > max_similar:
            continue  # noise — dropped, members NOT consumed
        if similar:
            handled.update(similar)
            clusters.append(Cluster(seed=i, members=[i, *similar]))
    return clusters


def all_qualifying_pairs(
    texts: list[str],
    sim_bound: float = SIM_BOUND,
    tag_num: int = TAG_NUM,
) -> set[tuple[int, int]]:
    """Every (i<j) pair with seed-vocab similarity >= bound — the
    LSH candidate generator must cover all of these (recall test)."""
    token_lists = [tokenize(t) for t in texts]
    df = doc_freq(token_lists)
    out = set()
    for i in range(len(texts)):
        vocab = select_tags(token_lists[i], df, tag_num)
        for j in range(i + 1, len(texts)):
            if seed_similarity(token_lists[i], token_lists[j], vocab) >= sim_bound:
                out.add((i, j))
    return out


def trim_spaces_v1(text: str) -> str:
    """v1's TrimSpaces with its faithful off-by-one: tail_index stops
    ON the last non-whitespace character and the slice excludes it, so
    the final character is always dropped (chnsegmt/basicfuncs.py:68-84,
    text[0:tail_index]). Used ONLY for v1-parity tests — never in the
    engine default path."""
    ws = {" ", "\t", "\n", "\r"}
    front = 0
    while front < len(text) and text[front] in ws:
        front += 1
    text = text[front:]
    tail = len(text) - 1
    for i in range(tail, 0, -1):
        if text[i] in ws:
            tail -= 1
        else:
            break
    return text[0:tail]
