"""Custom stateful streaming operator: gap-based sessionization as a
pure per-user fold (:func:`fold`), run by ``keyfold.fold_by_key``.

The reference has no stateful/event-time processing at all (SURVEY.md
§2.2 — its only state is a per-shard resume sequence number,
main.go:320); this is the custom-stateful-operator extension path.

Design for unboundedness: per-user session state (start, last-seen,
count) lives in the state store; each micro-batch updates it and emits
the *current* snapshot of every session it touched (update semantics).
Because a session's (start → end, n_events) only ever grows, the final
answer for a bounded replay is a monotone reduction of the update stream:

    groupBy(user_id, session_start).agg(max(session_end), max(n_events))

— which is exactly what ``final_sessions`` computes from the update sink,
and what the batch lag/gap SQL oracle computes directly. This makes the
stateful path oracle-checkable: replayed-stream result == batch result,
for any micro-batch partitioning of the input (SURVEY.md §5.2 property 3).

Scale: state is per-user O(1); the state store shuffles by the grouping
key exactly once per batch; at 100 TB the same plan runs with watermarked
state eviction (``GroupStateTimeout.EventTimeTimeout``) so the store
holds only active sessions.
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.sources.files import (
    read_parquet_stream,
    run_replay,
)
from kinesis_log_watcher_spark.streaming.keyfold import fold_by_key

SESSION_GAP_S = 1800

# update-stream row: the current snapshot of one session
UPDATE_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint"
)
# state: open session only (closed ones were fully emitted)
STATE_SCHEMA = "start_us bigint, last_us bigint, n_events bigint"

_US = 1_000_000


def fold(user_id, state, rows: pd.DataFrame, *, gap_s: int = SESSION_GAP_S):
    """Fold one micro-batch of a user's events, in (ts, event_id) order,
    into the open session; emit every session the batch closed plus the
    open session's snapshot (update semantics)."""
    gap_us = gap_s * _US
    start_us, last_us, n_events = state if state is not None else (None,) * 3
    out: list[tuple[int, int, int]] = []
    ts_us = (
        rows.sort_values(["ts", "event_id"])["ts"]
        .astype("datetime64[us]")
        .astype("int64")
    )
    for t in ts_us:
        t = int(t)
        if start_us is None:
            start_us, last_us, n_events = t, t, 1
        elif t - last_us > gap_us:
            out.append((start_us, last_us, n_events))
            start_us, last_us, n_events = t, t, 1
        else:
            last_us, n_events = t, n_events + 1
    out.append((start_us, last_us, n_events))
    frame = pd.DataFrame(
        {
            "user_id": [user_id] * len(out),
            "session_start": pd.to_datetime([r[0] for r in out], unit="us"),
            "session_end": pd.to_datetime([r[1] for r in out], unit="us"),
            "n_events": [r[2] for r in out],
        }
    )
    return (start_us, last_us, n_events), frame


def session_update_stream(events: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """The stateful transformation itself (stream in → update stream out)."""
    return fold_by_key(
        events.select("user_id", "ts", "event_id"),
        "user_id",
        partial(fold, gap_s=gap_s),
        UPDATE_SCHEMA,
        STATE_SCHEMA,
    )


def final_sessions(updates: DataFrame) -> DataFrame:
    """Monotone reduction of the update stream to final sessions."""
    return updates.groupBy("user_id", "session_start").agg(
        F.max("session_end").alias("session_end"),
        F.max("n_events").alias("n_events"),
    )


def run_stateful_sessions(
    spark: SparkSession,
    events_path: str,
    gap_s: int = SESSION_GAP_S,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay a bounded events table through the stateful operator and
    reduce the update stream to final sessions."""
    stream = read_parquet_stream(spark, events_path, max_files_per_trigger)

    updates = session_update_stream(stream, gap_s)
    return final_sessions(run_replay(updates, "update", "stateful_sessions"))
