"""Deterministic stratified sampling for training-data domain mixing.

`df.sample()` is seed-dependent on partitioning and row order, so a
re-run (or a resumed job) keeps a DIFFERENT subset — useless for
reproducible corpus curation. Here membership is a pure function of
the row's id: keep iff the first 13 hex digits of md5(id) fall below
a per-group threshold. Re-running, re-partitioning, or re-scaling the
cluster cannot change the sample; adding rows never flips the
decision for existing rows (the property web-corpus curation needs
when a crawl grows between runs).

The mix policy implemented by `stratified_sample` is quota
balancing: an overall `target_frac` of the corpus, split evenly
across groups (hosts, languages, sources), capped at each group's
actual size — small groups keep everything, hot hosts are sampled
down. That is the standard "flatten the domain distribution" step in
web-scale training-data pipelines.

Scale design: one map-side-combined groupBy for the per-group counts
(group-count-sized frame, tiny), a 1-row total, both broadcast back;
the keep decision itself is a per-row JVM expression — zero shuffles
over the data, zero Python. Everything is expressible in ANSI SQL,
so the driver oracle hash-checks the exact sampled set (md5 is
identical across engines; the threshold compare is on fixed-width
lowercase hex strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["keep_hash", "stratified_sample"]

# 13 hex digits = 52 bits: exact in a double, so the threshold
# floor(rate * 2**52) is reproducible anywhere IEEE doubles are.
_BITS = 52
_SCALE = 1 << _BITS
_WIDTH = 13


def keep_hash(id_col) -> F.Column:
    """Uniform-in-[0,1) sampling key as a 13-hex-digit string:
    substr(md5(id), 1, 13). Lowercase fixed width, so lexicographic
    compare == numeric compare."""
    return F.substring(F.md5(F.col(id_col) if isinstance(id_col, str) else id_col), 1, _WIDTH)


def _threshold(rate_col) -> F.Column:
    """rate in [0,1] -> 13-hex-digit lowercase threshold string."""
    return F.lower(
        F.lpad(F.hex(F.floor(rate_col * F.lit(float(_SCALE))).cast("bigint")), _WIDTH, "0")
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    target_frac: float,
    broadcast_rates: bool = True,
) -> DataFrame:
    """Deterministically sample ~target_frac of df, quota-balanced
    across group_col values.

    Per-group rate = min(1, target_frac * total / (n_groups * n_g)):
    every group gets an equal share of the target budget, capped at
    keeping all its rows. Returns the kept rows with their group's
    `rate` attached. Membership = md5(id_col) threshold test, so the
    sample is invariant to partitioning, ordering, and cluster size.

    `broadcast_rates` fits host/lang/source cardinalities; pass False
    when groups number in the tens of millions, and the rate join
    becomes an ordinary (AQE-planned) shuffle on group_col instead.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_g"))
    totals = counts.agg(
        F.sum("n_g").alias("total"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        group_col,
        F.least(
            F.lit(1.0),
            F.lit(target_frac) * F.col("total") / (F.col("n_groups") * F.col("n_g")),
        ).alias("rate"),
    )
    if broadcast_rates:
        rates = F.broadcast(rates)
    out = df.join(rates, group_col)
    kept = out.filter(
        (F.col("rate") >= 1.0) | (keep_hash(id_col) < _threshold(F.col("rate")))
    )
    return kept

