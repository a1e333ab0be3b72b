"""Stateful streaming rate limiter: sliding-window-log admission per key,
a pure per-user fold (:func:`fold`) run by ``keyfold.fold_by_key``.

The reference throttles at the CONNECTOR level (R1, main.go retry/backoff
on Kinesis throughput errors — SURVEY.md §2.1, delegated to the
connector here). This operator is the record-level analogue an analytics
pipeline actually deploys: admit an event iff fewer than K events from
the same key arrived in the preceding sliding window — the
"sliding window log" limiter, decided on ARRIVALS (not on prior
admissions, which would make the semantics sequential-only and
oracle-hostile).

Determinism / oracle: an event is admitted iff the count of STRICTLY
PRIOR arrivals — total order (ts, event_id) — with ts in
(event.ts - window, event.ts] is < K. That definition is order-free, so
a batch SQL oracle computes it directly (a correlated time-bounded
count), and the streaming fold reproduces it exactly by sorting
each micro-batch by (ts, event_id) — tie pairs decide by event_id, not
arrival accident.

State: one (ts, event_id) arrival log per key holding only arrivals
inside the current window — bounded by the per-key arrival rate times
the window, independent of stream length (old entries evict as time
advances; at 100 TB the same plan adds GroupStateTimeout eviction for
keys gone idle, as streaming/neardup.py does).

Replay contract (same as the sessionizer, streaming/stateful.py):
micro-batches may SPLIT the stream anywhere, but cross-batch delivery
must respect event-time order — an event delivered after one it
precedes in (ts, event_id) order was decided without it. Within that
contract the replay equals the batch oracle exactly: each decision
counts strictly-prior arrivals by the total order (late equal-ts ties
are never miscounted — the log stores event ids, not just timestamps),
and eviction never drops an entry still inside a future event's
window."""

from __future__ import annotations

from functools import partial

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.sources.files import (
    python_state_partitions,
    read_parquet_stream,
    run_replay,
)
from kinesis_log_watcher_spark.streaming.keyfold import fold_by_key

RATE_LIMIT_K = 5
RATE_WINDOW_S = 3600

_US = 1_000_000

ADMIT_SCHEMA = "user_id bigint, event_id bigint, admitted int"
STATE_SCHEMA = "ts_log array<bigint>, eid_log array<bigint>"


def fold(
    user_id,
    state,
    rows: pd.DataFrame,
    *,
    k: int = RATE_LIMIT_K,
    window_s: int = RATE_WINDOW_S,
):
    """Decide a batch's events in (ts, event_id) order against the
    key's arrival log; emit one (user_id, event_id, admitted) row per
    event. ``state`` holds the log as (t_us, event_id) arrivals.
    An event counts only STRICTLY PRIOR arrivals in the (ts, event_id)
    total order — so a late-delivered tie or out-of-order entry is
    never miscounted as prior — and eviction drops only entries older
    than t-window (entries 'in the future' of an out-of-order event
    survive for the events they are prior to)."""
    window_us = window_s * _US
    ts_log, eid_log = state if state is not None else ([], [])
    log = list(zip(ts_log, eid_log))
    rows = rows.sort_values(["ts", "event_id"])
    ts_us = rows["ts"].astype("datetime64[us]").astype("int64")
    out_eid: list[int] = []
    out_adm: list[int] = []
    for t, eid in zip(ts_us, rows["event_id"]):
        t, eid = int(t), int(eid)
        log = [(p, pe) for (p, pe) in log if p > t - window_us]
        n_prior = sum(
            1 for (p, pe) in log if p < t or (p == t and pe < eid)
        )
        out_eid.append(eid)
        out_adm.append(1 if n_prior < k else 0)
        log.append((t, eid))
    new_state = ([p for p, _ in log], [pe for _, pe in log])
    return new_state, pd.DataFrame(
        {
            "user_id": [user_id] * len(out_eid),
            "event_id": out_eid,
            "admitted": out_adm,
        }
    )


def run_rate_limit(
    spark: SparkSession,
    events_path: str,
    k: int = RATE_LIMIT_K,
    window_s: int = RATE_WINDOW_S,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay a bounded events table through the rate limiter and roll
    the per-event admissions up per user. Each event is emitted exactly
    once (in the batch that carries it), so the update sink is already
    the full decision relation."""
    stream = read_parquet_stream(spark, events_path, max_files_per_trigger)
    decisions = fold_by_key(
        stream.select("user_id", "ts", "event_id"),
        "user_id",
        partial(fold, k=k, window_s=window_s),
        ADMIT_SCHEMA,
        STATE_SCHEMA,
    )
    return (
        run_replay(decisions, "update", "rate_limit", python_state_partitions())
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("admitted").cast("long").alias("n_admitted"),
        )
    )
