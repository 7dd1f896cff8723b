"""Tokenization, TF-IDF, MinHash/SimHash, cosine, Jaccard.

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
    minhash: bool = True,
    simhash: bool = True,
    hash_fn=None,
    max_vocab: int = 25_000,
) -> tuple[list[list[int]] | None, list[int] | None]:
    """Batched MinHash + SimHash over per-document token ``Counter``s —
    BIT-IDENTICAL to ``minhash_signature(counts.keys())`` /
    ``simhash64(tokens, hash_fn)`` per doc (pinned by
    tests/test_text_functions.py), but ~15x faster single-core:

    - each distinct token is hashed ONCE per batch (web text is
      Zipf-distributed; the per-doc kernels re-hash 'the' for every
      doc),
    - the affine MinHash permutations and the SimHash ±1 bit votes are
      computed on a batch *vocabulary matrix* (vectorized over all new
      tokens of a chunk at once),
    - each doc then reduces its vocab rows by fancy indexing: ``min``
      over rows for MinHash, ``counts @ votes`` for SimHash — two
      C-side ops instead of per-token Python.

    This is the Arrow-batch hot kernel of the dedup/cluster data plane
    (clustering.featurize_docs, dedup sketches, the bench
    kernel phase). Memory is bounded: the vocabulary matrices are
    flushed once they exceed ``max_vocab`` rows (~1 KB/row), trading
    re-hashing across flush boundaries for a hard cap — correctness is
    unaffected because per-token columns are pure functions of the
    token. The default (25k rows ~ 25 MB of matrices) keeps the
    per-doc row gathers L3-resident: interleaved A/B at 100k docs
    measured 8.6 s vs 13.7 s against a 200k cap, because gather cost
    is dominated by cache misses on the vocabulary matrix, not by the
    re-hash work a larger cap avoids. ``hash_fn`` selects the SimHash per-token hash exactly as in
    ``simhash64`` (MinHash always uses the blake2b hash, as in
    ``minhash_signature``).

    Returns ``(sigs, shs)``; either element is None when its flag is
    off (skipping the unused half skips its matrix work).
    """
    if num_perm not in _MH_CACHE:
        _MH_CACHE[num_perm] = _minhash_params(num_perm)
    a, b = _MH_CACHE[num_perm]
    m61 = np.uint64(_MERSENNE61)
    a_lo = (a & np.uint64(0x7FFFFFFF))[None, :]
    a_hi = (a >> np.uint64(31))[None, :]
    shifts = np.arange(64, dtype=np.uint64)
    sv_hash = hash_fn if hash_fn is not None else _stable_hash64

    # vocabulary matrices grow by GEOMETRIC capacity doubling with an
    # explicit row count, never per-chunk np.vstack: vstack re-copies
    # the whole matrix every commit (O(V^2) bytes as the vocab grows —
    # ~100 MB per copy near the 200k flush cap), which made large
    # partitions slower per doc than small ones and showed up as fake
    # anti-scaling in the 2-vs-8-core kernel cells. Doubling keeps
    # total copy traffic O(V) amortized; values are bit-identical.
    index: dict[str, int] = {}
    cap = 4096
    n_rows = 0
    MH = np.empty((cap, num_perm), np.uint64) if minhash else None
    SV = np.empty((cap, 64), np.int64) if simhash else None

    def commit(new_toks: list[str]) -> None:
        nonlocal MH, SV, cap, n_rows
        k = len(new_toks)
        if n_rows + k > cap:
            while cap < n_rows + k:
                cap *= 2
            if minhash:
                grown = np.empty((cap, num_perm), np.uint64)
                grown[:n_rows] = MH[:n_rows]
                MH = grown
            if simhash:
                grown_sv = np.empty((cap, 64), np.int64)
                grown_sv[:n_rows] = SV[:n_rows]
                SV = grown_sv
        if minhash:
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
        if simhash:
            hs2 = np.fromiter(
                (sv_hash(t) for t in new_toks),
                dtype=np.uint64,
                count=k,
            )
            bits = (
                (hs2[:, None] >> shifts[None, :]) & np.uint64(1)
            ).astype(np.int64)
            SV[n_rows:n_rows + k] = 2 * bits - 1
        n_rows += k

    empty_sig = [int(_MERSENNE61)] * num_perm
    sigs: list[list[int]] | None = [] if minhash else None
    shs: list[int] | None = [] if simhash else None
    doc_counts = list(doc_counts)
    CHUNK = 1024
    lo_i = 0
    while lo_i < len(doc_counts):
        # Accumulate a group of docs, stopping EARLY if the pending
        # vocabulary passes max_vocab (always taking at least one doc):
        # the cap must hold inside a group too, or a run of
        # high-entropy docs (base64 junk, random ids) could commit
        # millions of rows in one chunk and blow the documented memory
        # bound. The matrices therefore never exceed
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
                if minhash:
                    sigs.append(list(empty_sig))
                if simhash:
                    shs.append(0)
                continue
            idx = np.fromiter(
                (index[tok] for tok in counts),
                dtype=np.int64,
                count=len(counts),
            )
            if minhash:
                sigs.append([int(v) for v in MH[idx].min(axis=0)])
            if simhash:
                cnts = np.fromiter(
                    counts.values(), dtype=np.int64, count=len(counts)
                )
                votes = cnts @ SV[idx]
                val = int(
                    (((votes > 0).astype(np.uint64)) << shifts).sum(
                        dtype=np.uint64
                    )
                )
                if val >= 1 << 63:
                    val -= 1 << 64
                shs.append(val)
        if len(index) > max_vocab:
            # flush: reset the logical row count but KEEP the allocated
            # capacity — the next fill reuses the same buffers
            index = {}
            n_rows = 0
    return sigs, shs


def sketch_batch(
    texts,
    num_perm: int = 64,
    minhash: bool = True,
    simhash: bool = True,
    hash_fn=None,
    max_vocab: int = 25_000,
) -> tuple[list[list[int]] | None, list[int] | None]:
    """``sketch_counts`` over raw texts: tokenize + Counter + sketch.
    Bit-identical to the per-doc kernels applied to ``tokenize(t)``."""
    return sketch_counts(
        (Counter(tokenize(t or "")) for t in texts),
        num_perm=num_perm,
        minhash=minhash,
        simhash=simhash,
        hash_fn=hash_fn,
        max_vocab=max_vocab,
    )


def md5_hash64(token: str) -> int:
    """Lower 64 bits of MD5, little-endian over digest bytes 8:16 —
    bit-identical to DuckDB's ``md5_number_lower()``, so a pure-SQL
    oracle can recompute simhash values built on this hash."""
    return struct.unpack(
        "<Q", hashlib.md5(token.encode("utf-8")).digest()[8:]
    )[0]


def simhash64(tokens: list[str], hash_fn=None) -> int:
    """Charikar SimHash: signed bit-vote over per-token 64-bit hashes
    weighted by term frequency; returns signed int64. ``hash_fn``
    selects the per-token hash (default blake2b; pass ``md5_hash64``
    for the SQL-reproducible variant)."""
    if not tokens:
        return 0
    if hash_fn is None:
        hash_fn = _stable_hash64
    counts = Counter(tokens)
    votes = np.zeros(64, dtype=np.int64)
    for tok, cnt in counts.items():
        h = hash_fn(tok)
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        votes += np.where(bits.astype(bool), cnt, -cnt)
    val = 0
    for i in range(64):
        if votes[i] > 0:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def hamming64(a: int, b: int) -> int:
    return int(bin((a ^ b) & ((1 << 64) - 1)).count("1"))


def char_ngrams(text: str, n: int = 5) -> set[str]:
    if not text or len(text) < n:
        return {text} if text else set()
    return {text[i : i + n] for i in range(len(text) - n + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)

