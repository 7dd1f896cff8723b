"""Exact deduplication: the reference's keep-first policy.

The reference deduplicates exactly (file-exists / UNIQUE keys,
pipelines.py:19-23, reetsee_news.sql:15,33): a page whose content was
already stored is skipped. `exact_dedup` keeps the first row (lowest
key) per content hash, in pure built-ins. Near-duplicate news is the
cluster path's job (operators/clustering.py: MinHash-LSH candidates,
exact cosine verify).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str = "text", key_cols=None) -> DataFrame:
    """Keep the first row (lowest key) per exact content hash.
    Pure built-ins: sha2 + window — whole-stage codegen, one shuffle."""
    key_cols = key_cols or ["doc_id"]
    with_hash = df.withColumn("content_hash", F.sha2(F.col(text_col), 256))
    w = Window.partitionBy("content_hash").orderBy(*key_cols)
    return (
        with_hash.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
