"""Per-key categorical counters as a pure per-user fold (:func:`fold`)
run by ``keyfold.fold_by_key``: the state holds a per-user
``event_type -> running count`` map as two parallel arrays (types,
counts).

The operator maintains, per stream key (user), a map
``event_type -> running count`` and emits the UPDATED entries each
micro-batch. Count merging is addition — associative, commutative,
order-free — so any micro-batch split converges to the batch
``GROUP BY (user, event_type)`` counts, and the update-mode sink's
latest row per (user, event_type) (= its MAX, counts are monotone) IS
the batch answer the SQL oracle states directly.

State size: |event types per user| entries per key — the map is the
per-key histogram itself, never the events. At 100 TB this is the
canonical per-entity categorical profile (feature-store counters,
per-user action mixes) with bounded state; at 100 TB the same plan
adds GroupStateTimeout eviction for entities gone idle, as
streaming/neardup.py does.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.sources.files import (
    python_state_partitions,
    read_parquet_stream,
    run_replay,
)
from kinesis_log_watcher_spark.streaming.keyfold import fold_by_key

COUNT_SCHEMA = "user_id bigint, event_type string, n bigint"
_STATE_SCHEMA = "types array<string>, counts array<bigint>"


def fold(user_id, state, rows: pd.DataFrame):
    """Add a batch's per-type counts to the user's map and emit the
    updated entries, in sorted-type order (a deterministic emission
    order within the batch)."""
    types, ns = state if state is not None else ([], [])
    counts = dict(zip(types, (int(n) for n in ns)))
    out_et: list[str] = []
    out_n: list[int] = []
    for et, add in sorted(rows.groupby("event_type").size().items()):
        et = str(et)
        counts[et] = counts.get(et, 0) + int(add)
        out_et.append(et)
        out_n.append(counts[et])
    keys_sorted = sorted(counts)
    new_state = (keys_sorted, [counts[t] for t in keys_sorted])
    return new_state, pd.DataFrame(
        {"user_id": [user_id] * len(out_et), "event_type": out_et, "n": out_n}
    )


def run_type_counts(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay a bounded events table through the counter and resolve
    the update sink to final counts (counts are monotone per key, so
    latest = MAX — order-free)."""
    stream = read_parquet_stream(spark, events_path, max_files_per_trigger)
    updates = fold_by_key(
        stream.select("user_id", "event_type"),
        "user_id",
        fold,
        COUNT_SCHEMA,
        _STATE_SCHEMA,
    )
    return (
        run_replay(updates, "update", "type_counts", python_state_partitions())
        .groupBy("user_id", "event_type")
        .agg(F.max("n").cast("long").alias("n"))
    )
