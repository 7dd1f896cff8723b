"""news_combinator_spark — a PySpark-native crawl + combine analytics engine.

A from-scratch re-expression of the capability surface of the reference
repo fanfank/news-combinator (see SURVEY.md) as an idiomatic
Apache Spark DataFrame engine:

- URL-frontier + fetch scheduler over Common-Crawl-style page tables
  (politeness budgets, robots gating, priority queue, bloom URL-seen).
- Byte-identical HTML text extraction via Arrow pandas UDFs.
- Near-duplicate news clustering: TF-IDF tags -> MinHash-LSH banding ->
  exact cosine verify -> connected components -> greedy star relabel
  (reproduces reference cluster assignment, categorize.cpp:94-158).
- Serving-layer queries (date-range index, FK entry lookup, comment
  ranking, extractive summarization).
- Dedup (exact/MinHash/SimHash/Jaccard) and fingerprint operators.

Everything is DataFrame-first; Python appears only inside Arrow-batched
pandas UDFs. No RDD API in the hot path.
"""

__version__ = "0.1.0"
