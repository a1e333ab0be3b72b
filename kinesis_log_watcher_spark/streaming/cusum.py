"""Stateful streaming CUSUM control chart: a pure per-key fold
(:func:`fold`) run by ``keyfold.fold_by_key``.

Statistical process control over an unbounded stream: per event_type,
maintain the cumulative sum of (value − TARGET) deviations plus its
running extrema, and count threshold breaches — the streaming twin of
queries/round6b.py's batch ``revenue_cusum_changepoint`` closed form
(S⁺ = P − min(0, prefix-min P); S⁻ mirrored). TARGET and the breach
threshold are CONSTANTS of the monitor (classic SPC watches deviation
from a control target — a data-derived mean would not be incrementally
maintainable over an unbounded stream).

Determinism: the fold is order-sensitive, so rows are folded in
(ts, event_id) order. Within a batch the adapter joins ALL Arrow
chunks before the fold sorts them (the chunk rule in keyfold.py); across
batches the replay harness stages TIME-SPLIT parts (the
streaming/timers.py discipline), so batch k's rows all precede batch
k+1's and the cross-batch state continuation replays the exact batch
fold. Each batch emits the current per-key snapshot (update mode);
snapshots grow monotonically in n, so the bounded-replay reduction is
``max(struct(n, …))`` per key — which the batch window oracle states
directly.

Scale: state is 5 int64s per monitored key; one shuffle by key per
micro-batch; emission volume is |keys| rows per batch.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.sources.files import (
    read_parquet,
    read_parquet_stream,
    run_replay,
    stage_replay_files,
)
from kinesis_log_watcher_spark.streaming.keyfold import fold_by_key

TARGET_MILLI = 50_000  # control target: value = 50.0
THRESHOLD_MILLI = 100_000  # breach when either CUSUM side exceeds 100.0

UPDATE_SCHEMA = (
    "event_type string, n bigint, cusum_pos bigint, cusum_neg bigint, "
    "n_breaches bigint"
)
STATE_SCHEMA = "p bigint, pmin bigint, pmax bigint, breaches bigint, n bigint"


def fold(
    event_type,
    state,
    rows: pd.DataFrame,
    *,
    target_milli: int = TARGET_MILLI,
    threshold_milli: int = THRESHOLD_MILLI,
):
    """Fold a batch's values, in (ts, event_id) order, into the key's
    CUSUM state and emit the updated snapshot."""
    p, pmin, pmax, breaches, n = state if state is not None else (0,) * 5
    for v in rows.sort_values(["ts", "event_id"])["milli"].astype("int64"):
        p += int(v) - target_milli
        pmin = min(pmin, p)
        pmax = max(pmax, p)
        n += 1
        if p - pmin > threshold_milli or pmax - p > threshold_milli:
            breaches += 1
    return (p, pmin, pmax, breaches, n), pd.DataFrame(
        {
            "event_type": [event_type],
            "n": [n],
            "cusum_pos": [p - pmin],
            "cusum_neg": [pmax - p],
            "n_breaches": [breaches],
        }
    )


def run_stream_cusum(
    spark: SparkSession,
    events_path: str,
) -> DataFrame:
    """Replay the bounded events table through the CUSUM monitor in two
    TIME-SPLIT batches (cross-batch state continuation under the exact
    event-time order) and reduce the update stream to the final per-key
    snapshot."""
    ev = read_parquet(spark, events_path).select(
        "event_id",
        "event_type",
        "ts",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias(
            "milli"
        ),
    ).filter(F.col("milli").isNotNull())
    mid = ev.agg(F.expr("percentile_approx(ts, 0.5)").alias("mid")).collect()[
        0
    ].mid
    half = F.when(F.col("ts") <= mid, 0).when(F.col("ts") > mid, 1)
    replay = stage_replay_files(
        ev.withColumn("part", half), "part", 2, prefix="cusum_replay_"
    )
    stream = read_parquet_stream(spark, replay, max_files_per_trigger=1)
    updates = run_replay(
        fold_by_key(stream, "event_type", fold, UPDATE_SCHEMA, STATE_SCHEMA),
        "update",
        "stream_cusum",
    )
    # snapshots are monotone in n: the final state is the max-n row
    snap = updates.groupBy("event_type").agg(
        F.max(
            F.struct("n", "cusum_pos", "cusum_neg", "n_breaches")
        ).alias("m")
    )
    return snap.select(
        "event_type",
        F.col("m.n").alias("n"),
        F.col("m.cusum_pos").alias("cusum_pos"),
        F.col("m.cusum_neg").alias("cusum_neg"),
        F.col("m.n_breaches").alias("n_breaches"),
    )
