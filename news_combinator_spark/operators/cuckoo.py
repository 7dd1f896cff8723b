"""Sharded cuckoo filter: the deletable URL-seen representation.

The north-star design names a "bloom/cuckoo URL-seen filter"
(BASELINE.json). The bloom (operators/bloom.py) is the cheaper
insert-only prefilter; the cuckoo filter adds DELETION — the
operation a recrawl scheduler needs when a URL's freshness window
expires and it must be re-admitted to the frontier without rebuilding
the whole seen structure (snapshots.recrawl_priority decides WHICH
urls; this structure lets the seen-filter forget them).

Same scale shape as ShardedBloom: the table is partitioned by
url-hash into n_shards independent cuckoo tables held as an
executor-resident (shard, slots) DataFrame — built, delta-inserted,
deleted-from, and probed shard-locally (cogrouped applyInPandas);
nothing is driver-merged or broadcast, so per-task memory is bounded
by the shards one partition owns regardless of total key count.

Per shard: buckets of 4 slots x 16-bit fingerprints (0 = empty).
A key's two candidate buckets are i1 = h(x) mod B and the standard
partial-key displacement i2 = i1 XOR h(fingerprint) — an involution,
so either bucket recovers the other from the slot contents alone,
which is what makes deletion and relocation possible without the key.
Insertion uses the classic eviction walk, bounded at 500 kicks with a
DETERMINISTIC victim slot (derived from the fingerprint and attempt
number: partition-order reproducibility is part of the engine's
oracle discipline, so no RNG). At 4-slot buckets the table holds
~95% load; sizing reserves 1/0.9 headroom.

False positives (two keys sharing bucket+fingerprint) are possible
and fall through to the exact anti-join backstop exactly like bloom
false positives; false negatives are impossible UNLESS a delete
removes a colliding twin's fingerprint — which is why `delete` must
only be fed keys that were actually inserted (the recrawl path
deletes from the seen set it built). Like-for-like fp rate:
2 buckets x 4 slots x 2^-16 ~= 1.2e-4 per probe.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SLOTS = 4  # slots per bucket
_MAX_KICKS = 500


def _shard_col(col: str, n_shards: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_shards)).cast("int")


def _hash_pair(values: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    arr = values.astype("object").to_numpy()
    h1 = pd.util.hash_array(arr, hash_key="1029384756102938")
    fp = (
        pd.util.hash_array(arr, hash_key="5647382910564738")
        % np.uint64(65535)
    ).astype(np.uint16) + np.uint16(1)  # 1..65535, 0 = empty
    return h1, fp


def _fp_hash(fp: np.ndarray) -> np.ndarray:
    """Bucket displacement hash of a fingerprint (vectorized
    splitmix-style mix so i2 spreads over all buckets)."""
    x = fp.astype(np.uint64)
    x = (x ^ (x >> np.uint64(8))) * np.uint64(0x9E3779B97F4A7C15)
    return x ^ (x >> np.uint64(31))


def buckets_for(n_keys: int) -> int:
    """Power-of-two bucket count holding n_keys at <=90% load."""
    need = max(1, int(n_keys / (_SLOTS * 0.9)) + 1)
    b = 1
    while b < need:
        b <<= 1
    return b


class _Table:
    """One shard's in-memory cuckoo table (runs inside a task)."""

    def __init__(self, n_buckets: int, slots: np.ndarray | None = None):
        self.nb = n_buckets
        self.slots = (
            slots
            if slots is not None
            else np.zeros(n_buckets * _SLOTS, dtype=np.uint16)
        )

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return (i1 ^ _fp_hash(fp)) % np.uint64(self.nb)

    def insert(self, values: pd.Series) -> int:
        h1, fps = _hash_pair(values)
        i1s = h1 % np.uint64(self.nb)
        failed = 0
        for i1, fp in zip(i1s.tolist(), fps.tolist()):
            if not self._insert_one(int(i1), int(fp)):
                failed += 1
        return failed

    def _bucket(self, i: int) -> np.ndarray:
        return self.slots[i * _SLOTS:(i + 1) * _SLOTS]

    def _insert_one(self, i1: int, fp: int) -> bool:
        i2 = int(
            self._i2(np.uint64(i1), np.array([fp], dtype=np.uint16))[0]
        )
        for i in (i1, i2):
            b = self._bucket(i)
            empty = np.flatnonzero(b == 0)
            if len(empty):
                b[empty[0]] = fp
                return True
        # eviction walk, deterministic victim slot
        i, cur = i1, fp
        for attempt in range(_MAX_KICKS):
            victim = (cur + attempt) % _SLOTS
            b = self._bucket(i)
            cur, b[victim] = int(b[victim]), cur
            i = int(
                self._i2(np.uint64(i), np.array([cur], dtype=np.uint16))[0]
            )
            b = self._bucket(i)
            empty = np.flatnonzero(b == 0)
            if len(empty):
                b[empty[0]] = cur
                return True
        return False  # table effectively full — caller sized too small

    def contains(self, values: pd.Series) -> np.ndarray:
        h1, fps = _hash_pair(values)
        i1 = h1 % np.uint64(self.nb)
        i2 = self._i2(i1, fps)
        out = np.zeros(len(values), dtype=bool)
        tbl = self.slots.reshape(-1, _SLOTS)
        for j, (a, b, fp) in enumerate(
            zip(i1.tolist(), i2.tolist(), fps.tolist())
        ):
            out[j] = (tbl[int(a)] == fp).any() or (tbl[int(b)] == fp).any()
        return out

    def delete(self, values: pd.Series) -> int:
        """Remove ONE matching fingerprint per key (a key inserted
        once is fully forgotten; feeding never-inserted keys risks
        deleting a colliding twin — see module docstring)."""
        h1, fps = _hash_pair(values)
        i1 = h1 % np.uint64(self.nb)
        i2 = self._i2(i1, fps)
        removed = 0
        for a, b, fp in zip(i1.tolist(), i2.tolist(), fps.tolist()):
            for i in (int(a), int(b)):
                bkt = self._bucket(i)
                hit = np.flatnonzero(bkt == fp)
                if len(hit):
                    bkt[hit[0]] = 0
                    removed += 1
                    break
        return removed


@dataclass
class ShardedCuckoo:
    """Cuckoo filter as an executor-resident (shard int, slots binary)
    DataFrame; n_buckets per shard, 4 slots/bucket, uint16
    fingerprints little-endian in `slots`."""

    slots_df: DataFrame
    n_shards: int
    n_buckets: int

    def _mutate(self, delta: DataFrame, col: str, op: str) -> "ShardedCuckoo":
        nb = self.n_buckets
        keys = delta.select(
            _shard_col(col, self.n_shards).alias("shard"),
            F.col(col).cast("string").alias("_key"),
            F.lit(None).cast("binary").alias("slots"),
        )
        existing = self.slots_df.select(
            "shard", F.lit(None).cast("string").alias("_key"), "slots"
        )

        def fold(batches):
            acc: dict[int, _Table] = {}
            pend: dict[int, list[pd.Series]] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                for shard, grp in pdf.groupby("shard"):
                    s = int(shard)
                    for pre in grp["slots"].dropna():
                        t = acc.get(s)
                        arr = np.frombuffer(pre, dtype=np.uint16).copy()
                        if t is None:
                            acc[s] = _Table(nb, arr)
                        else:
                            # two slot images for one shard cannot be
                            # slot-merged (placement is stateful);
                            # re-insert the smaller one's fingerprints
                            raise ValueError(
                                "duplicate slot image for shard "
                                f"{s}: upstream must keep one row "
                                "per shard"
                            )
                    keys_here = grp["_key"].dropna()
                    if len(keys_here):
                        pend.setdefault(s, []).append(keys_here)
            for s, parts in pend.items():
                t = acc.setdefault(s, _Table(nb))
                for series in parts:
                    if op == "insert":
                        failed = t.insert(series)
                        if failed:
                            raise ValueError(
                                f"cuckoo shard {s} overflow: {failed} "
                                "keys homeless — size n_buckets up"
                            )
                    else:
                        t.delete(series)
            if acc:
                yield pd.DataFrame(
                    {
                        "shard": list(acc),
                        "slots": [t.slots.tobytes() for t in acc.values()],
                    }
                )

        n_part = max(
            1,
            min(
                self.n_shards,
                delta.sparkSession.sparkContext.defaultParallelism,
            ),
        )
        merged = (
            keys.unionByName(existing)
            .repartition(n_part, "shard")
            .mapInPandas(fold, schema="shard int, slots binary")
            .localCheckpoint()
        )
        return ShardedCuckoo(merged, self.n_shards, self.n_buckets)

    def insert_delta(self, delta: DataFrame, col: str) -> "ShardedCuckoo":
        return self._mutate(delta, col, "insert")

    def delete(self, delta: DataFrame, col: str) -> "ShardedCuckoo":
        """Forget keys (recrawl invalidation). Only feed keys that
        were inserted — deleting strangers can evict a colliding
        twin's fingerprint (standard cuckoo-filter contract)."""
        return self._mutate(delta, col, "delete")

    def probe(self, cand: DataFrame, col: str, out_col: str = "maybe") -> DataFrame:
        nb = self.n_buckets
        tagged = cand.withColumn("_shard", _shard_col(col, self.n_shards))
        out_schema = T.StructType(
            tagged.schema.fields + [T.StructField(out_col, T.BooleanType())]
        )

        def check(cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
            out = cpdf.copy()
            if len(cpdf) == 0:
                out[out_col] = pd.Series([], dtype=bool)
                return out
            if len(spdf) == 0:
                out[out_col] = False
                return out
            t = _Table(
                nb, np.frombuffer(spdf["slots"].iloc[0], dtype=np.uint16).copy()
            )
            out[out_col] = t.contains(cpdf[col].astype(str))
            return out

        probed = (
            tagged.groupBy("_shard")
            .cogroup(self.slots_df.groupBy("shard"))
            .applyInPandas(check, schema=out_schema)
        )
        return probed.drop("_shard")

    def max_shard_bytes(self) -> int:
        return (
            self.slots_df.select(F.max(F.length("slots")).alias("b"))
            .collect()[0]["b"] or 0
        )


def build_sharded_cuckoo(
    df: DataFrame,
    col: str,
    expected_n: int,
    n_shards: int = 64,
) -> ShardedCuckoo:
    """Build the executor-resident sharded cuckoo filter over
    df[col]; sized for expected_n total keys at <=90% load."""
    per_shard = max(1, (max(expected_n, 1) + n_shards - 1) // n_shards)
    nb = buckets_for(per_shard)
    empty = ShardedCuckoo(
        df.sparkSession.createDataFrame([], "shard int, slots binary"),
        n_shards,
        nb,
    )
    return empty.insert_delta(df, col)
