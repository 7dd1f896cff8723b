"""Deterministic synthetic `pages` corpus, dual-expressed.

Per BASELINE.json:input_hint the engine's primary input is a table
``pages(url string, warc_ts timestamp, html binary, text string,
lang string)`` of Common-Crawl-style web pages. Nothing in
/root/testdata has that shape, so we DERIVE it deterministically from
the driver's ``documents`` table with arithmetic/string functions that
both Spark SQL and DuckDB SQL implement identically. That makes the
whole crawl pipeline hash-checkable by the driver's DuckDB oracle:
the oracle re-derives the same pages from the same rules.

Derivation rules (doc_id, text, lang from documents; n = row count):

- day_time  = 20240101 + doc_id % 14          (YYYYmmdd int, 14 days —
  mirrors the reference's result/20140301..20140315 span)
- host      = 'h' || (doc_id % 4) || '.test'
- priority  = doc_id % 3                       (crawl priority key)
- id9       = lpad(doc_id, 9, '0')
- url       = 'http://' || host || '/a/' || day_time || '/' || id9
              || '.htm'    (tencent-style grammar, crawlernewsspider.py:62)
- title     = 'Doc ' || doc_id
- paragraphs: substr(text,1,120) / substr(text,121,120) / substr(text,241)
- link targets: (doc_id*2+1) % n and (doc_id*3+7) % n  (frontier edges)
- html      = closed grammar the extraction kernel fully covers:
              <h1 id=...>title</h1>, three <p> (one nested in <div>, one
              holding an <img/>), a <script> id marker, three <a href>.
- warc_ts   = timestamp '2024-01-01 00:00:00' + (doc_id%1440) minutes

Extraction invariant: passage(html) == text, byte-identical — the <p>
pieces concatenate back to exactly `text` (ListCombiner semantics,
news_func.py:1-5).

A second generator (`reference_grammar_pages`) emits pure-Python pages
with the reference's real three URL grammars + hot-host skew + near-dup
injection, used by parity tests and the crawl benchmark.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---- dual-expressed constants (keep in sync with the SQL below) -----------
N_HOSTS = 4
N_DAYS = 14
BASE_DAY = 20240101
DEFAULT_BUDGET = 3
H0_BUDGET = 2  # host h0.test gets a tighter politeness budget
ROBOTS_BLOCKED_HOST = "h1.test"
ROBOTS_BLOCKED_DAY = 20240104  # odd day offset so h1.test (odd ids) can hit it
SEED_DOC_IDS = (0, 1, 2, 3)
CRAWL_ROUNDS = 3


def pages_from_documents(
    spark: SparkSession,
    sf_dir: str,
    n_hosts: int = N_HOSTS,
    amplify: int = 1,
) -> DataFrame:
    """Build the `pages` table from documents.parquet (SQL-expressible).

    Columns: doc_id, url, host, priority, day_time, warc_ts,
    html (binary), text, lang  — exactly input_hint's shape plus the
    derived scheduling keys. `n_hosts` > 4 and `amplify` > 1 are bench
    configurations (more hosts -> higher aggregate politeness
    throughput; amplify replicates doc rows with shifted ids so the
    frontier carries real volume); the correctness fixture always uses
    the defaults.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    n = docs.count()
    if amplify > 1:
        reps = spark.range(amplify).withColumnRenamed("id", "rep")
        docs = docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
            "text",
            "lang",
        )
        n *= amplify
    docs.createOrReplaceTempView("__docs_for_pages")
    return spark.sql(pages_select_sql(n, dialect="spark", n_hosts=n_hosts))


def pages_select_sql(
    n: int | str, dialect: str, n_hosts: int = N_HOSTS
) -> str:
    """One SELECT producing the pages table from `documents`.

    dialect 'spark' reads the temp view __docs_for_pages; 'duckdb'
    reads the pre-registered `documents` view. Every expression is
    portable between the two engines (verified in tests).

    `n` may be an int or a SQL scalar-subquery string like
    '(SELECT count(*) FROM documents)' so oracle SQL stays valid at
    any scale factor.
    """
    src = "__docs_for_pages" if dialect == "spark" else "documents"
    if dialect == "spark":
        ts = ("timestamp '2024-01-01 00:00:00' + "
              "make_interval(0, 0, 0, 0, 0, cast(doc_id % 1440 as int), 0)")
        binary_html = "cast(html_str as binary) as html"
    else:
        ts = ("TIMESTAMP '2024-01-01 00:00:00' + "
              "(doc_id % 1440) * INTERVAL 1 MINUTE")
        binary_html = "encode(html_str) as html"
    return f"""
      WITH b AS (
        SELECT doc_id, text, lang,
               {BASE_DAY} + doc_id % {N_DAYS} AS day_time,
               concat('h', cast(doc_id % {n_hosts} as string), '.test') AS host,
               cast(doc_id % 3 as int) AS priority,
               lpad(cast(doc_id as string), 9, '0') AS id9,
               (doc_id * 2 + 1) % {n} AS nx1,
               (doc_id * 3 + 7) % {n} AS nx2
        FROM {src}
      ), u AS (
        SELECT *,
          concat('http://', host, '/a/', cast(day_time as string), '/', id9, '.htm') AS url,
          concat('http://h', cast(nx1 % {n_hosts} as string), '.test/a/',
                 cast({BASE_DAY} + nx1 % {N_DAYS} as string), '/',
                 lpad(cast(nx1 as string), 9, '0'), '.htm') AS next1_url,
          concat('http://h', cast(nx2 % {n_hosts} as string), '.test/a/',
                 cast({BASE_DAY} + nx2 % {N_DAYS} as string), '/',
                 lpad(cast(nx2 as string), 9, '0'), '.htm') AS next2_url
        FROM b
      ), h AS (
        SELECT *,
          concat(
            '<html><head><script>var cmt_id = c', cast(doc_id as string),
            ';</script></head><body><h1 id="h1title">Doc ',
            cast(doc_id as string), '</h1><p>', substr(text, 1, 120),
            '</p><div class="art"><p><img src="/i/', cast(doc_id as string),
            '.jpg"/>', substr(text, 121, 120), '</p></div><p>',
            substr(text, 241), '</p><a href="', next1_url,
            '">n1</a><a href="', next2_url,
            '">n2</a><a href="http://offsite.example/x">ext</a></body></html>'
          ) AS html_str
        FROM u
      )
      SELECT doc_id, url, host, priority, day_time, {ts} AS warc_ts,
             {binary_html}, html_str, text, lang, next1_url, next2_url
      FROM h
    """


N_DOCS_SUBQUERY = "(SELECT count(*) FROM documents)"


def seeds_df(spark: SparkSession, pages: DataFrame) -> DataFrame:
    return pages.filter(F.col("doc_id").isin(*SEED_DOC_IDS)).select(
        "url", "host", "priority"
    )


def budgets_df(spark: SparkSession) -> DataFrame:
    rows = [
        (f"h{i}.test", H0_BUDGET if i == 0 else DEFAULT_BUDGET)
        for i in range(N_HOSTS)
    ]
    return spark.createDataFrame(rows, "host string, budget int")


def robots_df(spark: SparkSession) -> DataFrame:
    """robots(host, path_prefix, allow): one rule — h1.test disallows
    one day directory (engine handles arbitrary rule lists)."""
    rows = [(ROBOTS_BLOCKED_HOST, f"/a/{ROBOTS_BLOCKED_DAY}/", False)]
    return spark.createDataFrame(
        rows, "host string, path_prefix string, allow boolean"
    )


# ---------------------------------------------------------------------------
# Reference-grammar corpus (pure Python) — parity tests + crawl bench.
# ---------------------------------------------------------------------------

_STEMS = (
    "market economy policy sport game match election minister storm "
    "rain flood tech phone chip launch rocket space star film music "
    "award court case law health virus study school exam city road "
    "bridge train port trade tax bank loan debt growth jobs wage"
).split()
# Large vocabulary (~2000 distinct tokens) so unrelated articles share
# little vocabulary — near-dup structure comes from injection, not from
# a tiny word pool.
_WORDS = [f"{stem}{i}" for stem in _STEMS for i in range(48)]


def _rand_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def reference_grammar_pages(
    n_pages: int = 400,
    seed: int = 42,
    dup_rate: float = 0.2,
    hot_host_share: float = 0.3,
) -> list[dict]:
    """Deterministic corpus with the reference's three URL grammars
    (crawlernewsspider.py:16,39,62), hot-host skew (one host owns
    ~hot_host_share of rows) and near-duplicate injection (1-3 variants
    of ~dup_rate of articles on other hosts, high token overlap).

    Returns list of dicts: url, host, priority, warc_ts (epoch int),
    html (str), text, lang, links (list), story (dup-group id).
    """
    rng = random.Random(seed)
    pages: list[dict] = []
    grammars = ["netease", "tencent", "sina"]

    def make_url(kind: str, i: int) -> str:
        day = f"2024{1 + i % 2:02d}{1 + i % 27:02d}"
        if kind == "netease":
            return f"http://news.163.com/24/{day[4:]}/{i % 10}/{i:07d}.html"
        if kind == "tencent":
            return f"http://news.qq.com/a/{day}/{i:09d}.htm"
        return (
            f"http://sub{i % 3}.news.sina.com.cn/c/{day[:4]}-{day[4:6]}-"
            f"{day[6:]}/{1200 + i % 60:04d}{i % 100000000:08d}.shtml"
        )

    base_stories = []
    i = 0
    while len(pages) < n_pages:
        if rng.random() < hot_host_share:
            kind = "tencent"  # hot host: news.qq.com owns ~30%
        else:
            kind = grammars[rng.randrange(3)]
        story_id = len(base_stories)
        text = _rand_text(rng, rng.randint(40, 120))
        base_stories.append(text)
        variants = [(kind, text)]
        if rng.random() < dup_rate:
            toks = text.split()
            for _ in range(rng.randint(1, 3)):
                vk = grammars[rng.randrange(3)]
                vt = list(toks)
                for _swap in range(max(1, len(vt) // 15)):
                    vt[rng.randrange(len(vt))] = rng.choice(_WORDS)
                variants.append((vk, " ".join(vt)))
        for vk, vtext in variants:
            if len(pages) >= n_pages:
                break
            url = make_url(vk, i)
            i += 1
            title = f"story {story_id} on {vk}"
            parts = vtext.split()
            third = max(1, len(parts) // 3)
            paras = [
                " ".join(parts[:third]),
                " ".join(parts[third : 2 * third]),
                " ".join(parts[2 * third :]),
            ]
            links = [
                make_url(grammars[(i + k) % 3], (i * 7 + k * 13) % n_pages)
                for k in range(3)
            ]
            html = (
                "<html><head><script>var cmt_id = c%d;\n"
                'var boardId = "bd%d"\n'
                "comment_id:1-2-%d\ncomment_channel:ch%d;\n</script></head>"
                '<body><h1 id="h1title">%s</h1>'
                % (i, i, i, i % 9, title)
            )
            html += "".join(f"<p>{p}</p>" for p in paras if p)
            html += "".join(f'<a href="{l}">more</a>' for l in links)
            html += "</body></html>"
            pages.append(
                {
                    "url": url,
                    "host": url.split("/")[2],
                    "priority": i % 3,
                    "warc_ts": 1704067200 + i * 60,
                    "html": html,
                    "text": "".join(p for p in paras if p),
                    "lang": "en",
                    "links": links,
                    "story": story_id,
                }
            )
    return pages
