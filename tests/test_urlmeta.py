"""Text and URL normalization.

Edges the DuckDB oracles' fixtures don't reach: normalization
idempotence and RFC 3986 canonicalization.
"""

from news_combinator_spark.functions.pagehealth import normalize_text


def test_normalize_text_idempotent_and_fixed_point(spark):
    noisy = "Ａｂｃ！１２３　x\x07y\tz  end "
    df = spark.createDataFrame(
        [(noisy,), ("already clean ascii",)], "text string"
    )
    once = df.select(normalize_text("text").alias("t"))
    twice = once.select(normalize_text("t").alias("t"))
    a, b = [r.t for r in once.collect()], [r.t for r in twice.collect()]
    assert a == b  # idempotent
    assert a[0] == "Abc!123 xy z end"
    assert a[1] == "already clean ascii"  # clean text is a fixed point


def test_canonicalize_rfc3986_normalization():
    """§6 syntax-based normalization: dot segments resolve, '..' never
    climbs past root, percent hex uppercases, unreserved encodings
    decode, equivalent spellings collapse to one dedup key."""
    from news_combinator_spark.functions.urls import canonicalize_url as c

    assert c("http://H.test:80/a/./b/../c?z=1&a=2#f") == \
        "http://h.test/a/c?a=2&z=1"
    assert c("http://h.test/a/b/..") == "http://h.test/a/"
    assert c("http://h.test/../../x") == "http://h.test/x"
    assert c("https://h.test:443/%7Euser/%2fx") == \
        "https://h.test/~user/%2Fx"
    assert c("http://h.test/a%41?k=%6d") == "http://h.test/aA?k=m"
    # the equivalence class actually collapses
    spellings = [
        "http://h.test/a/c",
        "HTTP://h.test/./a/c",
        "http://H.TEST:80/a/b/../c",
        "http://h.test/%61/c",
    ]
    assert len({c(u) for u in spellings}) == 1
