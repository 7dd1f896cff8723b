"""Tokenization, TF-IDF, MinHash, cosine, Jaccard.

Pure deterministic kernels (shared by the engine's pandas UDFs and the
pure-Python parity oracle) re-expressing the reference semantics:

- term frequency over a fixed vocab (chnsegmt/tfidf.py:9-24;
  reconstruction/category/categorize.cpp:180-189)
- cosine with the v2 denominator guard (categorize.cpp:191-207:
  denom < 1e-5 -> 0.0) and the v1 guard (basicfuncs.py:14-30:
  denom == 0 -> None)
- top-K TF-IDF tags with avg-idf OOV fallback + stopword/1-char drop
  (reconstruction/category/src/KeywordExtractor.hpp:54-136)

Chinese segmentation: the reference uses jieba / cppjieba
(SURVEY.md F11). Priority in `tokenize`: jieba if importable (it is
not in this container) -> the dictionary-based MP+HMM Mix segmenter
(functions/chnseg.py) when `chnseg.configure_dictionary()` has
installed dict paths -> deterministic CJK-bigram fallback.
"""

from __future__ import annotations

import hashlib
import math
import re
import struct
from collections import Counter

import numpy as np

try:  # pragma: no cover - jieba absent in this container
    import jieba  # type: ignore

    _HAS_JIEBA = True
except Exception:  # pragma: no cover
    _HAS_JIEBA = False

from .chnseg import get_segmenter as _get_chnseg

_CJK_RE = re.compile(r"[一-鿿]+")
_WS_RE = re.compile(r"\s+")
# BPE-ish token pattern: letter runs, digit runs, single other symbols.
BPE_TOKEN_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")


def tokenize(text: str) -> list[str]:
    """Whitespace tokens; CJK runs segmented (jieba if present, else
    overlapping bigrams — deterministic in both cases)."""
    if not text:
        return []
    out: list[str] = []
    for piece in _WS_RE.split(text.strip()):
        if not piece:
            continue
        if _CJK_RE.search(piece):
            if _HAS_JIEBA:
                out.extend(t for t in jieba.cut(piece) if t.strip())
            else:
                seg = _get_chnseg()
                if seg is not None:
                    out.extend(t for t in seg.cut(piece) if t.strip())
                else:
                    out.extend(_cjk_bigrams(piece))
        else:
            out.append(piece)
    return out


def _cjk_bigrams(piece: str) -> list[str]:
    runs = _CJK_RE.split(piece)
    cjks = _CJK_RE.findall(piece)
    toks: list[str] = []
    for i, run in enumerate(runs):
        if run:
            toks.append(run)
        if i < len(cjks):
            s = cjks[i]
            if len(s) == 1:
                toks.append(s)
            else:
                toks.extend(s[j : j + 2] for j in range(len(s) - 1))
    return toks


def cosine_guarded(v1: dict[str, float], v2: dict[str, float], version: int = 2):
    """Cosine over the union key space with reference guard semantics.

    version=2 -> 0.0 when denominator < 1e-5 (categorize.cpp:203-206);
    version=1 -> None when denominator == 0 (basicfuncs.py:27-30).
    """
    keys = v1.keys() | v2.keys()
    num = sum(v1.get(k, 0.0) * v2.get(k, 0.0) for k in keys)
    d1 = sum(x * x for x in v1.values())
    d2 = sum(x * x for x in v2.values())
    denom = math.sqrt(d1 * d2)
    if version == 2:
        return 0.0 if denom < 1e-5 else num / denom
    return None if denom == 0 else num / denom


def top_k_tags(
    tokens: list[str],
    idf: dict[str, float],
    k: int = 15,
    stopwords: set[str] | None = None,
) -> list[str]:
    """Top-K words by tf*idf, avg-idf fallback for OOV, stopwords and
    single-char tokens dropped; deterministic tie-break on the word
    (KeywordExtractor.hpp:54-99; v2 K=15 per categorize.cpp:23)."""
    stopwords = stopwords or set()
    avg_idf = (sum(idf.values()) / len(idf)) if idf else 1.0
    counts = Counter(
        t for t in tokens if len(t) > 1 and t not in stopwords
    )
    total = sum(counts.values()) or 1
    weighted = [
        (cnt / total * idf.get(w, avg_idf), w) for w, cnt in counts.items()
    ]
    weighted.sort(key=lambda p: (-p[0], p[1]))
    return [w for _, w in weighted[:k]]


# ---------------------------------------------------------------------------
# Hash sketches (deterministic across processes: blake2b-seeded).
# ---------------------------------------------------------------------------

_MERSENNE61 = (1 << 61) - 1


def _stable_hash64(token: str) -> int:
    return struct.unpack(
        "<Q", hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest()
    )[0]


def _minhash_params(num_perm: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(42)
    a = rng.randint(1, _MERSENNE61, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE61, size=num_perm, dtype=np.uint64)
    return a, b


_MH_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def minhash_signature(tokens: list[str], num_perm: int = 64) -> list[int]:
    """MinHash over the token *set* via tabulated affine permutations
    h_i(x) = (a_i*x + b_i) mod 2^61-1 (Broder '97 resemblance sketch)."""
    if num_perm not in _MH_CACHE:
        _MH_CACHE[num_perm] = _minhash_params(num_perm)
    a, b = _MH_CACHE[num_perm]
    toks = set(tokens)
    if not toks:
        return [int(_MERSENNE61)] * num_perm
    xs = np.fromiter(
        (_stable_hash64(t) % _MERSENNE61 for t in toks),
        dtype=np.uint64,
        count=len(toks),
    )
    # (num_perm, n) affine transform in uint64 with python-int fallback
    # avoided: use object math only when overflow would occur -> do mod
    # in two steps with uint64-safe multiplication via Python ints on
    # the (small) token axis is too slow; instead use float128-free
    # trick: split a into hi/lo 31-bit halves.
    a_lo = a & np.uint64(0x7FFFFFFF)
    a_hi = a >> np.uint64(31)
    x = xs[None, :]
    lo = (a_lo[:, None] * x) % _MERSENNE61
    hi = (a_hi[:, None] * x) % _MERSENNE61
    prod = (lo + ((hi << np.uint64(31)) % _MERSENNE61)) % _MERSENNE61
    sig = (prod + b[:, None]) % _MERSENNE61
    return [int(v) for v in sig.min(axis=1)]


def sketch_counts(
    doc_counts,
    num_perm: int = 64,
    max_vocab: int = 25_000,
) -> list[list[int]]:
    """Batched MinHash over per-document token ``Counter``s —
    BIT-IDENTICAL to ``minhash_signature(counts.keys())`` per doc
    (pinned by tests/test_text_functions.py), but much faster
    single-core:

    - each distinct token is hashed ONCE per batch (web text is
      Zipf-distributed; the per-doc kernel re-hashes 'the' for every
      doc),
    - the affine MinHash permutations are computed on a batch
      *vocabulary matrix* (vectorized over all new tokens of a chunk
      at once),
    - each doc then reduces its vocab rows by fancy indexing (``min``
      over rows) — one C-side op instead of per-token Python.

    This is the Arrow-batch hot kernel of the cluster data plane
    (clustering.featurize_docs and the bench kernel phase). Memory is
    bounded: the vocabulary matrix is flushed once it exceeds
    ``max_vocab`` rows (~0.5 KB/row at 64 permutations), trading
    re-hashing across flush boundaries for a hard cap — correctness is
    unaffected because per-token columns are pure functions of the
    token. The default keeps the per-doc row gathers L3-resident:
    interleaved A/B at 100k docs (when the kernel also computed a
    SimHash) measured 8.6 s vs 13.7 s against a 200k cap, because
    gather cost is dominated by cache misses on the vocabulary matrix,
    not by the re-hash work a larger cap avoids.
    """
    if num_perm not in _MH_CACHE:
        _MH_CACHE[num_perm] = _minhash_params(num_perm)
    a, b = _MH_CACHE[num_perm]
    m61 = np.uint64(_MERSENNE61)
    a_lo = (a & np.uint64(0x7FFFFFFF))[None, :]
    a_hi = (a >> np.uint64(31))[None, :]

    # the vocabulary matrix grows by GEOMETRIC capacity doubling with
    # an explicit row count, never per-chunk np.vstack: vstack re-copies
    # the whole matrix every commit (O(V^2) bytes as the vocab grows),
    # which made large partitions slower per doc than small ones and
    # showed up as fake anti-scaling in the 2-vs-8-core kernel cells.
    # Doubling keeps total copy traffic O(V) amortized; values are
    # bit-identical.
    index: dict[str, int] = {}
    cap = 4096
    n_rows = 0
    MH = np.empty((cap, num_perm), np.uint64)

    def commit(new_toks: list[str]) -> None:
        nonlocal MH, cap, n_rows
        k = len(new_toks)
        if n_rows + k > cap:
            while cap < n_rows + k:
                cap *= 2
            grown = np.empty((cap, num_perm), np.uint64)
            grown[:n_rows] = MH[:n_rows]
            MH = grown
        hs = np.fromiter(
            (_stable_hash64(t) for t in new_toks),
            dtype=np.uint64,
            count=k,
        )
        x = (hs % m61)[:, None]
        lo = (x * a_lo) % m61
        hi = (x * a_hi) % m61
        MH[n_rows:n_rows + k] = (
            (lo + ((hi << np.uint64(31)) % m61)) % m61 + b[None, :]
        ) % m61
        n_rows += k

    empty_sig = [int(_MERSENNE61)] * num_perm
    sigs: list[list[int]] = []
    doc_counts = list(doc_counts)
    CHUNK = 1024
    lo_i = 0
    while lo_i < len(doc_counts):
        # Accumulate a group of docs, stopping EARLY if the pending
        # vocabulary passes max_vocab (always taking at least one doc):
        # the cap must hold inside a group too, or a run of
        # high-entropy docs (base64 junk, random ids) could commit
        # millions of rows in one chunk and blow the documented memory
        # bound. The matrix therefore never exceeds
        # max(max_vocab, distinct tokens of one doc) rows.
        new_toks: list[str] = []
        hi_i = lo_i
        while hi_i < len(doc_counts) and hi_i - lo_i < CHUNK:
            for tok in doc_counts[hi_i]:
                if tok not in index:
                    index[tok] = len(index)
                    new_toks.append(tok)
            hi_i += 1
            if len(index) > max_vocab:
                break
        chunk = doc_counts[lo_i:hi_i]
        lo_i = hi_i
        if new_toks:
            commit(new_toks)
        for counts in chunk:
            if not counts:
                sigs.append(list(empty_sig))
                continue
            idx = np.fromiter(
                (index[tok] for tok in counts),
                dtype=np.int64,
                count=len(counts),
            )
            sigs.append([int(v) for v in MH[idx].min(axis=0)])
        if len(index) > max_vocab:
            # flush: reset the logical row count but KEEP the allocated
            # capacity — the next fill reuses the same buffer
            index = {}
            n_rows = 0
    return sigs


def sketch_batch(
    texts,
    num_perm: int = 64,
    max_vocab: int = 25_000,
) -> list[list[int]]:
    """``sketch_counts`` over raw texts: tokenize + Counter + sketch.
    Bit-identical to ``minhash_signature(tokenize(t))`` per text."""
    return sketch_counts(
        (Counter(tokenize(t or "")) for t in texts),
        num_perm=num_perm,
        max_vocab=max_vocab,
    )


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)

