"""Stateful streaming: per-user running totals as a pure fold.

A second custom stateful operator alongside streaming/stateful.py's
sessionization, run by the same adapter (``keyfold.fold_by_key``); the
state is one ``(n_events, value_sum_q)`` row per key.

The operator: per-user running totals (event count + value sum). Each
micro-batch folds its rows into the group state and emits the updated
snapshot, so ``n_events`` strictly increases across a user's snapshots
and the final answer of a bounded replay is::

    groupBy(user_id).agg(max(n_events), max_by(value_sum_q, n_events))

which must equal the plain batch aggregate — the same
oracle-checkable-replay design as the sessionizer (test asserts
equality for any micro-batch split of the input).

Determinism: the value sum is held as int64 micro-units
(round(value*1e6)) — integer addition is associative, so the result is
identical for every batch partitioning, which a float running sum would
not be.

Scale: state is O(1) per user; each batch shuffles once on the grouping
key into the state store, exactly like the production path; the RocksDB
state backend applies unchanged on a cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.sources.files import (
    python_state_partitions,
    read_parquet_stream,
    run_replay,
)
from kinesis_log_watcher_spark.streaming.keyfold import fold_by_key


OUTPUT_SCHEMA = "user_id bigint, n_events bigint, value_sum_q bigint"
_STATE_SCHEMA = "n_events bigint, value_sum_q bigint"


def fold(user_id, state, rows: pd.DataFrame):
    """Fold one batch of a user's rows into (count, quantized value sum)
    and emit the updated snapshot."""
    n, sq = state if state is not None else (0, 0)
    n += len(rows)
    # int64 micro-units: associative, partition-order independent.
    # floor(x*1e6+0.5) — same rounding rule as batch_totals and
    # operators/similarity.quantize (pandas .round is half-even,
    # F.round half-up; they disagree on .5 micro-unit ties).
    # NULLs are skipped (SQL SUM semantics); NaN through
    # astype('int64') would be platform-defined garbage.
    vals = rows["value"].dropna().to_numpy()
    sq += int(np.floor(vals * 1_000_000 + 0.5).astype("int64").sum())
    return (n, sq), pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "value_sum_q": [sq]}
    )


def final_totals(updates: DataFrame) -> DataFrame:
    """Reduce the update stream to final totals. ``n_events`` strictly
    increases per emitted snapshot (a group only emits when the batch
    held rows for it), so the final state is the snapshot with the
    largest ``n_events``. The value sum itself is NOT monotone (values
    can be negative) — hence ``max_by``, not ``max``."""
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("value_sum_q", "n_events").alias("value_sum_q"),
    )


def batch_totals(events: DataFrame) -> DataFrame:
    """The batch answer the replay must reproduce."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")).alias(
            "value_sum_q"
        ),
    )


def run_running_totals(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay a directory of parquet event files through the operator
    and reduce the update stream to final totals."""
    stream = read_parquet_stream(spark, events_dir, max_files_per_trigger)
    updates = fold_by_key(
        stream.select("user_id", "value"),
        "user_id",
        fold,
        OUTPUT_SCHEMA,
        _STATE_SCHEMA,
    )
    return final_totals(
        run_replay(updates, "update", "tws_totals", python_state_partitions())
    )
