"""Seeded input generators. The same seed gives the same files.

Only inputs are generated here; the engine receives them the way a
user's job would (parquet on disk, frames built by the engine's own
public functions).
"""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from news_combinator_spark.datagen import (
    BASE_DAY,
    N_DAYS,
    reference_grammar_pages,
)

_VOCAB = (
    "market economy policy sport game match election minister storm rain "
    "flood tech phone chip launch rocket space star film music award court "
    "case law health virus study school exam city road bridge train port "
    "trade tax bank loan debt growth jobs wage"
).split()


def write_documents(path: Path, n_docs: int, seed: int) -> None:
    """documents.parquet (doc_id, text, lang): the table
    `datagen.pages_from_documents` turns into the crawlable web."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(30, 70)))
        for _ in range(n_docs)
    ]
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": ["en"] * n_docs,
        }),
        path / "documents.parquet",
    )


def page_url(doc_id: int, n_hosts: int) -> str:
    """The url `pages_from_documents` gives doc_id (its SQL, in Python)."""
    day = BASE_DAY + doc_id % N_DAYS
    return f"http://h{doc_id % n_hosts}.test/a/{day}/{doc_id:09d}.htm"


def robots_bodies(n_hosts: int, seed: int, share: float = 0.25) -> dict[str, str]:
    """host -> robots.txt body; `share` of hosts disallow one day dir."""
    rng = random.Random(seed * 7 + 1)
    out = {}
    for h in range(n_hosts):
        if rng.random() < share:
            day = BASE_DAY + rng.randrange(N_DAYS)
            out[f"h{h}.test"] = f"User-agent: *\nDisallow: /a/{day}/\n"
    return out


def blocked(url: str, rules: dict[str, list[str]]) -> bool:
    host, _, rest = url.partition("://")[2].partition("/")
    path = "/" + rest
    return any(path.startswith(p) for p in rules.get(host, ()))


def disallow_rules(bodies: dict[str, str]) -> dict[str, list[str]]:
    return {
        host: [
            line.split(":", 1)[1].strip()
            for line in body.splitlines()
            if line.lower().startswith("disallow:")
        ]
        for host, body in bodies.items()
    }


def crawl_seed_ids(
    n_web: int, n_hosts: int, n_seeds: int, seed: int,
    hot_share: float, rules: dict[str, list[str]],
) -> list[int]:
    """Seed doc ids: a seeded sample of the web, `hot_share` of them on
    host h0.test, none disallowed by `rules` (the crawl gates only
    discovered URLs, never seeds)."""
    rng = random.Random(seed * 13 + 5)
    ok = [d for d in range(n_web) if not blocked(page_url(d, n_hosts), rules)]
    hot = [d for d in ok if d % n_hosts == 0]
    n_hot = int(n_seeds * hot_share)
    if n_hot > len(hot):
        raise ValueError(f"{n_hot} hot seeds asked, host h0 has {len(hot)} pages")
    chosen = set(rng.sample(hot, n_hot))
    rest = [d for d in ok if d not in chosen]
    chosen.update(rng.sample(rest, n_seeds - n_hot))
    return sorted(chosen)


def write_cluster_docs(path: Path, n_docs: int, seed: int) -> list[dict]:
    """Near-duplicate news corpus (doc_id, text, source) as parquet;
    returns the generated pages for the output checks."""
    pages = reference_grammar_pages(
        n_pages=n_docs, seed=seed, dup_rate=0.3, hot_host_share=0.3
    )
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(pages)), pa.int64()),
            "text": [p["text"] for p in pages],
            "source": [p["host"] for p in pages],
        }),
        path / "docs.parquet",
    )
    return pages


def stream_batches(
    n_batches: int, batch_size: int, n_hosts: int, seed: int,
    rediscover_share: float = 0.5,
) -> list[list[tuple[str, str, int]]]:
    """Discovered-URL batches (url, host, priority): about
    `rediscover_share` of each batch re-discovers earlier URLs, and
    hosts follow a Pareto popularity skew."""
    rng = random.Random(seed * 31 + 11)
    landed: list[int] = []
    next_id = 0
    batches = []
    for _ in range(n_batches):
        rows = []
        for _ in range(batch_size):
            if landed and rng.random() < rediscover_share:
                uid = landed[rng.randrange(len(landed))]
            else:
                uid = next_id
                next_id += 1
                landed.append(uid)
            host = f"s{uid_host(uid, n_hosts, seed)}.news.test"
            rows.append((f"http://{host}/p/{uid:09d}.htm", host, uid % 3))
        batches.append(rows)
    return batches


def uid_host(uid: int, n_hosts: int, seed: int) -> int:
    """Pareto-skewed host index, a pure function of the url id so a
    re-discovered url always keeps its host."""
    r = random.Random(seed * 1_000_003 + uid)
    return min(int(r.paretovariate(1.2)) - 1, n_hosts - 1)


def write_stream_batch(path: Path, rows: list[tuple[str, str, int]]) -> None:
    url, host, prio = zip(*rows)
    pq.write_table(
        pa.table({
            "url": list(url), "host": list(host),
            "priority": pa.array(prio, pa.int32()),
        }),
        path,
    )


def write_ids(path: Path, ids: list[int]) -> None:
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), path)


def write_robots(path: Path, bodies: dict[str, str]) -> None:
    """(host, robots_txt) parquet, the shape the job's --robots reads."""
    hosts = sorted(bodies)
    pq.write_table(
        pa.table({"host": hosts, "robots_txt": [bodies[h] for h in hosts]}),
        path,
    )
