"""Deterministic sampling, splitting, and packing for training-data
pipelines.

The common trick: a content-independent uniform draw per row derived
from ``md5(key)`` hex — both Spark and any ANSI engine produce the
*identical* digest for the identical key, so sample membership is
reproducible across engines, runs, partitionings, and cluster sizes
(none of which is true of ``rand(seed)`` or ``TABLESAMPLE``). Selection
compares lowercase-hex prefixes lexicographically against a threshold —
no hex→int parsing, which keeps the oracle SQL portable.

All three operators are narrow or single-shuffle:
- stratified sampling / split assignment: pure per-row filters, no
  shuffle, pushable below scans and joins;
- contiguous packing: one shuffle on the group key + one running-sum
  window per group — at 100 TB the group key (e.g. source shard) must
  be balanced; pathological groups get salted into sub-shards first.

The reference has no sampling surface (main.go:1-416); this is the
LLM-pipeline extension family from the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.operators.dedup import md5_h15


def hash_draw(key: Column, n_hex: int = 8) -> Column:
    """Uniform draw in hex-string space: first ``n_hex`` chars of
    md5(key as string). Compare lexicographically against
    ``rate_threshold`` output."""
    return F.substring(F.md5(key.cast("string")), 1, n_hex)


def rate_threshold(rate: float, n_hex: int = 8) -> str:
    """Hex threshold t such that P[hash_draw < t] ≈ rate (exact to
    1/16^n_hex). rate=1.0 returns a same-length sentinel above every
    hex draw ('g' > 'f') — a longer string like '1' + 8 zeros would
    lexicographically EXCLUDE most draws."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1]: {rate}")
    v = int(rate * (16**n_hex))
    if v >= 16**n_hex:
        return "g" * n_hex
    return format(v, f"0{n_hex}x")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically in
    the row key. Zero-shuffle (a filter), reproducible at any scale."""
    thresh: Column = F.lit(rate_threshold(default_rate))
    for value, rate in rates.items():
        thresh = F.when(
            F.col(strata_col) == value, F.lit(rate_threshold(rate))
        ).otherwise(thresh)
    return df.filter(hash_draw(F.col(key_col)) < thresh)


def split_assign(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test …)
    with the given weights — disjoint hex ranges over the same draw.
    Deterministic in the key: a doc never migrates between splits when
    the corpus grows."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1: {weights}")
    draw = hash_draw(F.col(key_col))
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        cond = draw < F.lit(rate_threshold(acc))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def pack_bins(
    df: DataFrame,
    group_col: str,
    size_col: Column,
    budget: int,
    order_col: str,
) -> DataFrame:
    """Contiguous sequence packing: within each group, lay documents end
    to end in ``order_col`` order and cut bins every ``budget`` tokens —
    a doc belongs to the bin its *start offset* falls in. One window per
    group; integer arithmetic throughout (engine-exact)."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start_off = (F.sum(size_col).over(w) - size_col).alias("_start_off")
    return df.select(
        group_col,
        F.col(order_col),
        size_col.alias("_sz"),
        start_off,
    ).withColumn("bin_id", F.floor(F.col("_start_off") / budget).cast("bigint"))


def weighted_bernoulli_sample(
    df: DataFrame,
    key: Column,
    weight: Column,
    max_weight: DataFrame,
    scale_down: int = 4,
    u_bits: int = 20,
) -> DataFrame:
    """Weighted Bernoulli sampling with EXACT integer membership: row
    selected iff ``u * max_w * scale_down < w * 2^u_bits``, i.e. with
    probability w / (scale_down · max_w) — all integers, no float
    thresholds, so membership is engine/run/partitioning-stable (same
    discipline as ``hash_draw``; a float probability compare would be
    portable too, but integers make ties impossible by construction).

    ``max_weight`` is a 1-row (max_w) aggregate — broadcast, not a
    second scan per row. Products stay far under 2^63 for any sane
    u_bits/weight combination (u < 2^u_bits, so u·max_w·scale_down <
    2^(u_bits + log2(max_w) + 3))."""
    u = md5_h15(key.cast("string")) % (2 ** u_bits)
    return (
        df.withColumn("_w", weight)
        .join(F.broadcast(max_weight))
        .filter((u * F.col("max_w") * scale_down) < (F.col("_w") * (2 ** u_bits)))
        .drop("_w")
    )


def reservoir_topk(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    k: int,
    rank_col: str = "rk",
    prefilter_rate: float | None = None,
) -> DataFrame:
    """Exact-k deterministic 'reservoir' per stratum: rank rows by
    (md5(key), key) inside each stratum, keep rank <= k. Engine/run/
    partitioning-stable, and growth-stable in the reservoir sense: a
    previously chosen row stays chosen until k better-hashed rows exist.

    ``prefilter_rate`` is the huge-stratum scale path: apply the
    hash-threshold filter (``hash_draw < rate_threshold(r)``) BEFORE
    the ranking window, so each window partition sees ~r*|stratum|
    candidate rows instead of the whole stratum. Selection keeps the
    LOWEST draws, so the pre-filter commutes with the top-k exactly:
    if >= k rows of a stratum survive the filter, its top-k is
    unchanged (any row wrongly excluded would need k lower-hashed
    survivors above it — contradiction). Callers size r so that
    r*|smallest stratum| >> k; tests/test_curation_ops.py pins the
    equality on real data."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    base = df
    if prefilter_rate is not None:
        base = base.filter(
            hash_draw(F.col(key_col)) < F.lit(rate_threshold(prefilter_rate))
        )
    rk = F.row_number().over(
        Window.partitionBy(strata_col).orderBy(
            F.md5(F.col(key_col).cast("string")), F.col(key_col)
        )
    )
    return base.withColumn(rank_col, rk).filter(F.col(rank_col) <= k)
