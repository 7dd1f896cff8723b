"""LEGACY driver-merged bloom path — TEST FIXTURE ONLY.

Relocated out of ``news_combinator_spark.operators.bloom`` (VERDICT r4
residual nit: the fenced single-bitset path had no production caller).
The engine's only seen-set representation is ``ShardedBloom``
(executor-resident shards, never collected); this module keeps the
small driver-merged bitset purely so the test suite can cross-check
the sharded build against an independent local fold.

Semantics unchanged from the fenced original: per-partition bitset
build -> driver OR-merge, hard-capped at MAX_DRIVER_BLOOM_BITS.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from news_combinator_spark.operators.bloom import _check, _fold_into

# One 128 MiB bitset (~10^8 keys at 1e-6 fp) is the most a driver
# should ever OR-merge; beyond that only the sharded paths exist.
MAX_DRIVER_BLOOM_BITS = 1 << 30


class Bloom:
    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        self.m = m_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(
            (m_bits + 7) // 8, dtype=np.uint8
        )

    def or_(self, other_bits: np.ndarray) -> None:
        np.bitwise_or(self.bits, other_bits, out=self.bits)

    def add_local(self, values: list[str]) -> None:
        if values:
            _fold_into(self.bits, pd.Series(values), self.m, self.k)

    def contains_local(self, values: list[str]) -> np.ndarray:
        if not values:
            return np.zeros(0, dtype=bool)
        return _check(self.bits, pd.Series(values), self.m, self.k)


def build_bloom(df: DataFrame, col: str, m_bits: int, k: int) -> Bloom:
    """Per-partition bitset build -> driver OR-merge. Each task ships
    (m/8) bytes regardless of row count, and the merged bitset lives
    on the driver — fine for test kernels, a scale-killer for a
    10^10-URL frontier (which is why this lives under tests/)."""
    if m_bits > MAX_DRIVER_BLOOM_BITS:
        raise ValueError(
            f"build_bloom is the legacy driver-merged path; m_bits="
            f"{m_bits} exceeds MAX_DRIVER_BLOOM_BITS="
            f"{MAX_DRIVER_BLOOM_BITS}. Use ShardedBloom (executor-"
            f"resident shards) for frontier-scale seen-sets."
        )
    m, kk = m_bits, k

    def fold(batches):
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                _fold_into(bits, pdf[col].astype(str), m, kk)
        if any_rows:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = df.select(col).mapInPandas(fold, schema="bits binary").collect()
    bloom = Bloom(m, k)
    for row in parts:
        bloom.or_(np.frombuffer(row["bits"], dtype=np.uint8))
    return bloom


def maybe_seen_udf(spark: SparkSession, bloom: Bloom):
    """pandas_udf: True when the bloom MAY contain the value (exact
    anti-join still required for those); False = definitely new."""
    bc = spark.sparkContext.broadcast((bloom.bits, bloom.m, bloom.k))

    @F.pandas_udf(T.BooleanType())
    def _maybe(vals: pd.Series) -> pd.Series:
        bits, m, k = bc.value
        return pd.Series(_check(bits, vals.astype(str), m, k))

    return _maybe
