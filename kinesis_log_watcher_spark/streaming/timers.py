"""Timer-finalized sessionization: applyInPandasWithState with
EVENT-TIME TIMEOUT — the watermark-driven timer pattern.

The third custom stateful operator in the suite (alongside
streaming/stateful.py's NoTimeout update-stream sessionizer and
streaming/tws.py's running totals): sessions are emitted
as FINALIZED exactly once, when their completion is *proven* —

- inline, when a later event of the same user arrives more than ``gap``
  past the open session's end (the next-event proof), or
- by TIMER, when the watermark passes ``session_end + gap``
  (``state.hasTimedOut`` — the no-more-data proof), upon which the
  key's state is REMOVED.

That eviction is the scale contract the NoTimeout sessionizer lacks:
state is bounded by the set of sessions still inside the lateness
window, not by every user ever seen. Production runs the identical plan
with its real watermark delay on the unbounded stream.

Replay determinism notes (bounded-replay ≡ batch, SURVEY.md §5.2):

- Replay parts are split by TIME (first/second half by the median ts,
  sentinel last), so no input row is ever behind the watermark —
  FlatMapGroupsWithStateExec drops late input rows, which a
  parity-split replay would trip over.
- A SENTINEL row (user_id = -1, far-future ts) rides in the last part
  purely to push the final watermark past every real session's
  ``end + gap`` so the availableNow replay's trailing no-data batch
  fires every remaining timer. The sentinel's own session never
  finalizes (nothing outlives it) and is filtered from the output.
- ``setTimeoutTimestamp`` must exceed the current watermark; when a
  session's ``end + gap`` is already behind the watermark the session
  is provably complete NOW, so the operator finalizes it inline instead
  of arming an un-armable timer (state.getCurrentWatermarkMs guard).
- Every data invocation also emits the open session as a
  finalized=false snapshot. Update-mode semantics want the snapshot
  anyway, and empirically (Spark 4.1, local): a replay whose FIRST
  micro-batch emits zero rows loses subsequent inline emissions from
  the pandas worker — always-emitting sidesteps that entirely.
"""

from __future__ import annotations

from kinesis_log_watcher_spark.sources.files import (
    python_state_partitions,
    read_parquet,
    read_parquet_stream,
    run_replay,
    stage_replay_files,
)

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, finalized boolean"
)
_STATE_SCHEMA = "start_us bigint, last_us bigint, n_events bigint"
_US = 1_000_000
_SENTINEL_USER = -1


def _timer_session_fn(gap_s: int):
    gap_us = gap_s * _US
    gap_ms = gap_s * 1000

    def emit_all(rows: list[tuple[int, int, int, int, bool]]) -> pd.DataFrame:
        # ONE DataFrame per invocation — with ~|users| invocations per
        # micro-batch, per-row frame construction dominates wall time.
        # Timestamps via a zero-parse int64 view (the values are already
        # epoch-µs): pd.to_datetime on a Python list costs ~10x the
        # whole frame construction at this row count.
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "session_start": np.asarray(
                    [r[1] for r in rows], dtype="int64"
                ).view("datetime64[us]"),
                "session_end": np.asarray(
                    [r[2] for r in rows], dtype="int64"
                ).view("datetime64[us]"),
                "n_events": [r[3] for r in rows],
                "finalized": [r[4] for r in rows],
            }
        )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n_events = state.get
            state.remove()
            yield emit_all([(user_id, start_us, last_us, n_events, True)])
            return
        if state.exists:
            start_us, last_us, n_events = state.get
        else:
            start_us = last_us = n_events = None
        out: list[tuple[int, int, int, int, bool]] = []
        # Accumulate ALL Arrow chunks before sorting: the state protocol
        # splits a key's batch rows at arrow.maxRecordsPerBatch, and the
        # partition is sorted only by the grouping key — per-chunk sorts
        # would fold a >10k-event user in non-time order and rewind the
        # session fold backward.
        chunks = [pdf[["ts", "event_id"]] for pdf in pdfs]
        if chunks:
            allrows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            ts = (
                allrows.sort_values(["ts", "event_id"])["ts"]
                .astype("datetime64[us]")
                .astype("int64")
                .to_numpy()
            )
        else:
            ts = np.empty(0, dtype="int64")
        if len(ts):
            # Vectorized gap-session fold (identical to the sequential
            # per-event fold it replaces): a session break is a sorted-ts
            # gap > gap_us; segments between breaks are sessions. Python
            # work is per SESSION, not per event.
            m = len(ts)
            breaks = np.flatnonzero(np.diff(ts) > gap_us)
            seg_start = np.concatenate(([0], breaks + 1))
            seg_end = np.concatenate((breaks, [m - 1]))
            if start_us is not None and int(ts[0]) - last_us > gap_us:
                # carried-in open session closed by the first new event
                out.append((user_id, start_us, last_us, n_events, True))
                start_us = None
            n_seg = len(seg_start)
            for i in range(n_seg - 1):
                # next-event proof: every non-final segment is complete
                s = int(ts[seg_start[i]])
                n = int(seg_end[i] - seg_start[i] + 1)
                if i == 0 and start_us is not None:
                    s, n = start_us, n + n_events
                out.append((user_id, s, int(ts[seg_end[i]]), n, True))
            s = int(ts[seg_start[n_seg - 1]])
            n = int(seg_end[n_seg - 1] - seg_start[n_seg - 1] + 1)
            if n_seg == 1 and start_us is not None:
                s, n = start_us, n + n_events
            start_us, last_us, n_events = s, int(ts[m - 1]), n
        wm_ms = state.getCurrentWatermarkMs()
        timeout_ms = last_us // 1000 + gap_ms
        if timeout_ms <= wm_ms:
            # watermark proof already holds — a timer could not be armed
            # (Spark requires timeout > watermark); finalize now
            out.append((user_id, start_us, last_us, n_events, True))
            state.remove()
        else:
            state.update((start_us, last_us, n_events))
            state.setTimeoutTimestamp(timeout_ms)
            out.append((user_id, start_us, last_us, n_events, False))
        yield emit_all(out)

    return fn


def timer_session_stream(events: DataFrame, gap_s: int) -> DataFrame:
    """stream in → (snapshots + exactly-once finalized sessions) out."""
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _timer_session_fn(gap_s),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_timer_sessions(
    spark: SparkSession,
    events_path: str,
    gap_s: int = 1800,
) -> DataFrame:
    """Replay the bounded events table through the timer-finalized
    sessionizer; return ONLY the finalized sessions (each exactly once).
    """
    ev = read_parquet(spark, events_path).select("event_id", "user_id", "ts")
    bounds = ev.agg(
        F.expr("percentile_approx(ts, 0.5)").alias("mid"),
        F.max("ts").alias("mx"),
    ).collect()[0]
    sentinel = spark.createDataFrame(
        [(int(-1), int(_SENTINEL_USER))], "event_id long, user_id long"
    ).select(
        "event_id",
        "user_id",
        (F.lit(bounds.mx) + F.expr("INTERVAL 40 DAYS")).alias("ts"),
        F.lit(1).alias("part"),
    )
    # sentinel rides in the LAST data part: the watermark advances after
    # the batch, so it still pushes the trailing no-data batch past every
    # real session's end+gap — one fewer micro-batch than a separate
    # sentinel file, with the cross-batch state continuation preserved
    # by the time split. Null-ts rows match neither half and are
    # dropped.
    half = F.when(F.col("ts") <= bounds.mid, 0).when(F.col("ts") > bounds.mid, 1)
    replay = stage_replay_files(
        ev.withColumn("part", half).unionByName(sentinel),
        "part",
        2,
        prefix="timer_sess_",
    )
    stream = read_parquet_stream(spark, replay, max_files_per_trigger=1)
    updates = timer_session_stream(stream, gap_s)
    return (
        run_replay(updates, "update", "timer_sessions", python_state_partitions())
        .filter(F.col("finalized") & (F.col("user_id") != _SENTINEL_USER))
        .select("user_id", "session_start", "session_end", "n_events")
    )
