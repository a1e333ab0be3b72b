"""Per-key categorical counters on applyInPandasWithState: the group
state holds a per-user ``event_type -> running count`` map as two
parallel arrays (types, counts).

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

from kinesis_log_watcher_spark.sources.files import (
    python_state_partitions,
    read_parquet_stream,
    run_replay,
)

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

COUNT_SCHEMA = "user_id bigint, event_type string, n bigint"
_STATE_SCHEMA = "types array<string>, counts array<bigint>"


def _batch_increments(batch: pd.DataFrame) -> "list[tuple[str, int]]":
    """Per-type increments of one micro-batch, in sorted-type order (a
    deterministic emission order within the batch)."""
    upd = batch.groupby("event_type").size()
    return [(str(et), int(n)) for et, n in sorted(upd.items())]


def _count_updates():
    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        counts: dict[str, int] = {}
        if state.exists:
            types, ns = state.get
            counts = dict(zip(types, (int(n) for n in ns)))
        batch = pd.concat(list(pdfs), ignore_index=True)
        out_et: list[str] = []
        out_n: list[int] = []
        for et, add in _batch_increments(batch):
            counts[et] = counts.get(et, 0) + add
            out_et.append(et)
            out_n.append(counts[et])
        keys_sorted = sorted(counts)
        state.update((keys_sorted, [counts[t] for t in keys_sorted]))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_et),
                "event_type": out_et,
                "n": out_n,
            }
        )

    return fn


def count_stream(events: DataFrame) -> DataFrame:
    """Stream in → updated (user_id, event_type, n) rows per batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _count_updates(),
        outputStructType=COUNT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    updates = count_stream(stream.select("user_id", "event_type"))
    return (
        run_replay(updates, "update", "type_counts", python_state_partitions())
        .groupBy("user_id", "event_type")
        .agg(F.max("n").cast("long").alias("n"))
    )
