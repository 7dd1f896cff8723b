"""Kernel-level text function tests (tokenize, sketches, cosine,
summarizer, v1 parity quirks)."""

import math

from news_combinator_spark.functions.textfns import (
    cosine_guarded,
    jaccard,
    minhash_signature,
    tokenize,
)
from news_combinator_spark.operators.summarize import (
    abstract_v1,
    abstract_v2,
    split_sentences_v2,
)
from news_combinator_spark.oracle.reference_impl import trim_spaces_v1


def test_tokenize_whitespace_and_cjk():
    assert tokenize("hello  world") == ["hello", "world"]
    # CJK bigrams (no jieba in container): 新闻联播 -> 新闻 闻联 联播
    assert tokenize("新闻联播") == ["新闻", "闻联", "联播"]
    assert tokenize("abc新闻") == ["abc", "新闻"]
    assert tokenize("") == []


def test_cosine_guard_semantics():
    # v2: zero denominator -> 0.0 (categorize.cpp:203-206)
    assert cosine_guarded({"a": 0.0}, {"a": 0.0}, version=2) == 0.0
    # v1: zero denominator -> None (basicfuncs.py:27-30)
    assert cosine_guarded({"a": 0.0}, {"a": 0.0}, version=1) is None
    v = cosine_guarded({"a": 1.0, "b": 1.0}, {"a": 1.0, "b": 1.0})
    assert math.isclose(v, 1.0)
    v = cosine_guarded({"a": 1.0}, {"b": 1.0})
    assert v == 0.0


def test_minhash_estimates_jaccard():
    a = [f"tok{i}" for i in range(100)]
    b = [f"tok{i}" for i in range(50, 150)]
    sa, sb = minhash_signature(a, 128), minhash_signature(b, 128)
    est = sum(x == y for x, y in zip(sa, sb)) / 128
    true = jaccard(set(a), set(b))
    assert abs(est - true) < 0.15
    # identical inputs -> identical signatures (deterministic)
    assert minhash_signature(a, 128) == sa


def test_split_sentences_v2_reference_semantics():
    # delimiter dropped; empties produced by early delimiters get
    # dropped by the later passes (reference net behavior), and only
    # '\n'-produced empties survive (it is the last delimiter)
    assert split_sentences_v2("a.b") == ["a", "b"]
    assert split_sentences_v2("a..b") == ["a", "b"]
    assert split_sentences_v2("a\n\nb") == ["a", "", "b"]
    assert split_sentences_v2("a.b.") == ["a", "b"]
    assert split_sentences_v2("x|y.z!w") == ["x", "y", "z", "w"]
    assert split_sentences_v2("中文。句子！测试") == ["中文", "句子", "测试"]


def test_abstract_v2_small_doc_returns_all():
    # < 7 sentences -> req_num floor = 0 -> all sentences, '|'-joined
    # with trailing pipe (abstraction_service.cpp:203-212)
    out = abstract_v2("one two. three four")
    assert out == "one two| three four|"


def test_abstract_v2_selects_top_sentences():
    key = "keyword keyword keyword"
    filler = [f"filler{i} junk{i}" for i in range(19)]
    text = ".".join([key] + filler)
    out = abstract_v2(text)
    # 20 sentences -> req = 3; keyword-rich sentence must survive
    assert key in out
    assert out.count("|") == 3


def test_abstract_v1_threshold_and_leading_join():
    text = "tag tag tag.plain filler words.tag here"
    out = abstract_v1(text, ["tag"], sentences_factor=0.8,
                      join_character="#")
    # ans seeded with '' -> leading join char (getabstract.py:50-54)
    assert out == "" or out.startswith("#")


def test_trim_spaces_v1_off_by_one():
    # the faithful v1 quirk: tail_index lands ON the last non-ws char
    # and the slice excludes it -> final char always dropped
    assert trim_spaces_v1("abc") == "ab"
    assert trim_spaces_v1("  abc  ") == "ab"
    assert trim_spaces_v1("a") == ""


def test_sketch_batch_bit_identical_to_per_doc_kernels():
    """The batched vocab-matrix kernel must produce EXACTLY the per-doc
    kernel's values — same affine MinHash — including
    empty/None/CJK/single-token edge cases."""
    from collections import Counter

    from news_combinator_spark.functions.textfns import (
        minhash_signature,
        sketch_batch,
        sketch_counts,
        tokenize,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "",
        None,
        "x",
        "一个中文测试 mixed with english 123 !?",
        "repeated repeated repeated words words",
    ] + [f"doc {i} shares many common tokens alpha beta {i % 3}"
         for i in range(50)]

    sigs = sketch_batch(texts)
    for i, t in enumerate(texts):
        toks = tokenize(t or "")
        assert sigs[i] == minhash_signature(toks, 64), i

    # counts-level API agrees with the text-level wrapper
    sigs2 = sketch_counts([Counter(tokenize(t or "")) for t in texts])
    assert sigs2 == sigs

    # vocab flush boundary cannot change values: the flush check runs
    # per 1024-doc chunk, so >1024 docs + a tiny cap forces a real
    # mid-batch flush and re-hash of repeated tokens
    many = texts + [f"tail doc {i} gamma delta" for i in range(1100)]
    ref_sigs = sketch_batch(many)
    sigs3 = sketch_batch(many, max_vocab=8)
    assert sigs3 == ref_sigs


def test_sketch_vocab_cap_holds_inside_a_chunk():
    """The max_vocab bound must hold WITHIN a 1024-doc chunk, not only
    between chunks: a short run of high-entropy docs (each with
    hundreds of tokens never seen before) has to trigger the early
    chunk cut + flush without changing any sketch value (review fix,
    textfns.sketch_counts chunk accumulation loop)."""
    from news_combinator_spark.functions.textfns import sketch_batch

    # 60 docs x ~200 unique tokens = ~12k distinct tokens, all inside
    # ONE 1024-doc chunk; cap 64 forces dozens of intra-chunk flushes
    texts = [
        " ".join(f"tok{d}_{i}" for i in range(200)) + " shared common"
        for d in range(60)
    ]
    ref_sigs = sketch_batch(texts)
    cap_sigs = sketch_batch(texts, max_vocab=64)
    assert cap_sigs == ref_sigs
