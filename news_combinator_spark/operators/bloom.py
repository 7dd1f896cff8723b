"""Distributed bloom filter for the URL-seen set.

The reference deduplicates by file existence (pipelines.py:19-23) and
UNIQUE keys (reetsee_news.sql:15,33) — O(1) point lookups that don't
distribute. At 10^10 URLs the exact seen-set is a table you must
anti-join against every round; the bloom filter is the prefilter that
keeps that shuffle small: candidates that miss the bloom are
DEFINITELY new (skip the anti-join); only bloom hits go to the exact
check, so no false drops ever (SURVEY.md §7 risk 3).

``ShardedBloom`` (the 10^10-scale representation): the bit space is
partitioned by url-hash into ``n_shards`` independent blooms, held as
a DataFrame of (shard, bits) rows that lives on the executors. All k
probes of a url land in its one shard, so build is
``repartition(shard) -> mapInPandas`` (per-task memory = shards owned
by that partition x m_shard/8 bytes), probe is a cogrouped
``applyInPandas`` of candidates against their shard's bitset, and the
per-round delta merge is a shard-keyed OR. At the north_rule's 10^10
URLs / fp 1e-6 the total bit space is ~36 GB — with 4096 shards no
task, no broadcast, and no driver message ever holds more than ~9 MB
of it. Nothing is collect()ed. (A driver-merged single bitset cannot
hold a 10^10-url seen set; tests/bloom_legacy.py keeps one only as a
cross-check fixture.)

Hashing uses pandas' vectorized, deterministic hash_array with double
hashing h_i = h1 + i*h2 (Kirsch-Mitzenmacher); shard assignment is
JVM-side xxhash64 so the shuffle needs no Python.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hash_pair(values: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    arr = values.astype("object").to_numpy()
    h1 = pd.util.hash_array(arr, hash_key="0123456789123456")
    h2 = pd.util.hash_array(arr, hash_key="6543219876543210") | 1
    return h1, h2


def _fold_into(bits: np.ndarray, values: pd.Series, m: int, k: int) -> None:
    h1, h2 = _hash_pair(values)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
        byte_idx = (idx >> np.uint64(3)).astype(np.int64)
        mask = (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)).astype(
            np.uint8
        )
        # bitwise_or.at: unbuffered, so duplicate byte indices all land
        # (plain fancy-index |= silently drops repeats).
        np.bitwise_or.at(bits, byte_idx, mask)


def _check(bits: np.ndarray, values: pd.Series, m: int, k: int) -> np.ndarray:
    h1, h2 = _hash_pair(values)
    hit = np.ones(len(values), dtype=bool)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
        hit &= (bits[idx >> np.uint64(3)] >> (idx & np.uint64(7)).astype(np.uint8)) & 1 == 1
    return hit


def optimal_params(expected_n: int, fp_rate: float = 1e-6) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate."""
    n = max(expected_n, 1)
    m = int(-n * math.log(fp_rate) / (math.log(2) ** 2)) + 8
    k = max(1, round(m / n * math.log(2)))
    return m, k


# ---------------------------------------------------------------------------
# Sharded bloom: the 10^10-scale seen-set representation
# ---------------------------------------------------------------------------

def _shard_col(col: str, n_shards: int):
    """JVM-side shard assignment; pmod keeps negatives non-negative."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_shards)).cast("int")


def sharded_params(
    expected_n: int, fp_rate: float = 1e-6, n_shards: int = 64
) -> tuple[int, int]:
    """(m_bits_per_shard, k) sized so the UNION of shards meets the
    target fp at `expected_n` total keys (keys spread uniformly by
    xxhash64, so per-shard n ~= expected_n/n_shards)."""
    per_shard_n = max(1, (max(expected_n, 1) + n_shards - 1) // n_shards)
    return optimal_params(per_shard_n, fp_rate)


@dataclass
class ShardedBloom:
    """A bloom filter held as a DataFrame of (shard int, bits binary).

    `bits_df` is localCheckpoint()ed executor-resident state:
    n_shards rows, m_per_shard/8 bytes each. No single task, driver
    message, or broadcast ever materializes more than the shards one
    partition owns — the property the north_rule's 10^10-URL frontier
    needs (a monolithic bitset would be ~36 GB at fp 1e-6).
    """

    bits_df: DataFrame
    n_shards: int
    m_per_shard: int
    k: int

    def probe(self, cand: DataFrame, col: str, out_col: str = "maybe") -> DataFrame:
        """Return `cand` + boolean `out_col`: True = MAY be in the set
        (route to the exact anti-join), False = definitely new.

        Candidates shuffle by their url's shard and meet that shard's
        bitset in a cogrouped applyInPandas — the probe is
        partition-local; the bitsets never move to the driver or into
        a broadcast."""
        m, k = self.m_per_shard, self.k
        tagged = cand.withColumn("_shard", _shard_col(col, self.n_shards))
        out_schema = T.StructType(
            tagged.schema.fields + [T.StructField(out_col, T.BooleanType())]
        )

        def check(cpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
            out = cpdf.copy()
            if len(cpdf) == 0:
                out[out_col] = pd.Series([], dtype=bool)
                return out
            if len(bpdf) == 0:
                out[out_col] = False
                return out
            bits = np.frombuffer(bpdf["bits"].iloc[0], dtype=np.uint8)
            if len(bpdf) > 1:  # defensive: OR any duplicate shard rows
                bits = bits.copy()
                for extra in bpdf["bits"].iloc[1:]:
                    np.bitwise_or(
                        bits, np.frombuffer(extra, dtype=np.uint8), out=bits
                    )
            out[out_col] = _check(bits, cpdf[col].astype(str), m, k)
            return out

        probed = (
            tagged.groupBy("_shard")
            .cogroup(self.bits_df.groupBy("shard"))
            .applyInPandas(check, schema=out_schema)
        )
        return probed.drop("_shard")

    def or_delta(self, delta: DataFrame, col: str) -> "ShardedBloom":
        """Fold new keys in. ONE exchange + one Arrow stage: the delta
        keys and the existing bitsets ride the same shard-keyed
        repartition, and each task folds keys and ORs bitsets for the
        shards it owns. Returns a new ShardedBloom over a
        localCheckpoint()ed bits_df so per-round lineage doesn't
        accumulate (this runs once per crawl round — its job count is
        on the frontier's critical path)."""
        keys = delta.select(
            _shard_col(col, self.n_shards).alias("shard"),
            F.col(col).cast("string").alias("_key"),
            F.lit(None).cast("binary").alias("bits"),
        )
        existing = self.bits_df.select(
            "shard", F.lit(None).cast("string").alias("_key"), "bits"
        )
        merged = _fold_mixed(
            keys.unionByName(existing), self.n_shards, self.m_per_shard,
            self.k,
        ).localCheckpoint()
        return ShardedBloom(merged, self.n_shards, self.m_per_shard, self.k)

    def max_shard_bytes(self) -> int:
        """Largest materialized bitset anywhere (for the memory-bound
        audit): per-shard row size, NOT the total bit space."""
        return (
            self.bits_df.select(F.max(F.length("bits")).alias("b"))
            .collect()[0]["b"] or 0
        )


def _fold_mixed(
    mixed: DataFrame, n_shards: int, m_per_shard: int, k: int
) -> DataFrame:
    """(shard, _key, bits) rows -> (shard, bits): fold the non-null
    keys into each shard's bitset and OR in any pre-built bitset rows,
    all within one shard-keyed repartition. Each task's memory is
    (shards it owns) x m_per_shard/8 + one Arrow batch — independent
    of total key count. The repartition puts every shard in exactly
    one partition, so output rows are unique per shard."""
    m, kk = m_per_shard, k
    nbytes = (m + 7) // 8

    def fold(batches):
        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for shard, grp in pdf.groupby("shard"):
                bits = acc.setdefault(
                    int(shard), np.zeros(nbytes, dtype=np.uint8)
                )
                keys = grp["_key"].dropna()
                if len(keys):
                    _fold_into(bits, keys.astype(str), m, kk)
                for pre in grp["bits"].dropna():
                    np.bitwise_or(
                        bits, np.frombuffer(pre, dtype=np.uint8), out=bits
                    )
        if acc:
            yield pd.DataFrame(
                {"shard": list(acc),
                 "bits": [b.tobytes() for b in acc.values()]}
            )

    n_part = max(
        1,
        min(n_shards, mixed.sparkSession.sparkContext.defaultParallelism),
    )
    return mixed.repartition(n_part, "shard").mapInPandas(
        fold, schema="shard int, bits binary"
    )


def build_sharded_bloom(
    df: DataFrame,
    col: str,
    expected_n: int,
    fp_rate: float = 1e-6,
    n_shards: int = 64,
) -> ShardedBloom:
    """Build the executor-resident sharded seen-bloom over df[col]."""
    m, k = sharded_params(expected_n, fp_rate, n_shards)
    keys = df.select(
        _shard_col(col, n_shards).alias("shard"),
        F.col(col).cast("string").alias("_key"),
        F.lit(None).cast("binary").alias("bits"),
    )
    bits_df = _fold_mixed(keys, n_shards, m, k).localCheckpoint()
    return ShardedBloom(bits_df, n_shards, m, k)
