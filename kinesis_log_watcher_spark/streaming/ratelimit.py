"""Stateful streaming rate limiter: sliding-window-log admission per key.

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
count), and the streaming processor reproduces it exactly by sorting
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

from kinesis_log_watcher_spark.functions.tscompat import normalize_ts_cols
from kinesis_log_watcher_spark.session import ensure_session_confs
from kinesis_log_watcher_spark.streaming.tws import tws_runtime_available
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

RATE_LIMIT_K = 5
RATE_WINDOW_S = 3600

_US = 1_000_000

ADMIT_SCHEMA = "user_id bigint, event_id bigint, admitted int"
STATE_SCHEMA = "ts_log array<bigint>, eid_log array<bigint>"


def _decide(
    log: list[tuple[int, int]],
    ts_us,
    eids,
    k: int,
    window_us: int,
) -> tuple[list[int], list[int], list[tuple[int, int]]]:
    """Shared admission fold: ``log`` holds (t_us, event_id) arrivals.
    An event counts only STRICTLY PRIOR arrivals in the (ts, event_id)
    total order — so a late-delivered tie or out-of-order entry is
    never miscounted as prior — and eviction drops only entries older
    than t-window (entries 'in the future' of an out-of-order event
    survive for the events they are prior to)."""
    out_eid: list[int] = []
    out_adm: list[int] = []
    for t, eid in zip(ts_us, eids):
        t, eid = int(t), int(eid)
        log = [(p, pe) for (p, pe) in log if p > t - window_us]
        n_prior = sum(
            1 for (p, pe) in log if p < t or (p == t and pe < eid)
        )
        out_eid.append(eid)
        out_adm.append(1 if n_prior < k else 0)
        log.append((t, eid))
    return out_eid, out_adm, log


def _admit_updates(k: int, window_s: int):
    window_us = window_s * _US

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            ts_log, eid_log = state.get
            log = list(zip(ts_log, eid_log))
        else:
            log = []
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64")
        out_eid, out_adm, log = _decide(
            log, ts_us, rows["event_id"], k, window_us
        )
        state.update(([p for p, _ in log], [pe for _, pe in log]))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_eid),
                "event_id": out_eid,
                "admitted": out_adm,
            }
        )

    return fn


class RateLimitProcessor(StatefulProcessor):
    """transformWithState twin of the limiter: the arrival log lives in
    a ListState (one int64 row per in-window arrival) — the Spark-4
    typed-state API's natural fit for a log-shaped value, alongside
    tws.py's ValueState running totals. Same total order, same
    admission rule, same bounded state as the applyInPandasWithState
    path (which remains the no-protobuf fallback)."""

    def __init__(self, k: int = RATE_LIMIT_K, window_s: int = RATE_WINDOW_S):
        self._k = k
        self._window_us = window_s * _US

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._log = handle.getListState("ts_log", "t bigint, eid bigint")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        log = [(int(r[0]), int(r[1])) for r in self._log.get()]
        batch = pd.concat(list(rows), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        ts_us = batch["ts"].astype("datetime64[us]").astype("int64")
        out_eid, out_adm, log = _decide(
            log, ts_us, batch["event_id"], self._k, self._window_us
        )
        self._log.clear()
        if log:
            self._log.appendList(log)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_eid),
                "event_id": out_eid,
                "admitted": out_adm,
            }
        )

    def close(self) -> None:  # pragma: no cover - no resources held
        pass


def admit_stream(
    events: DataFrame,
    k: int = RATE_LIMIT_K,
    window_s: int = RATE_WINDOW_S,
    use_tws: bool | None = None,
) -> DataFrame:
    """Stream in → one (user_id, event_id, admitted) row per event.

    ``use_tws=None`` auto-detects (same gate as tws.py): the
    transformWithState ListState processor when its protobuf-backed
    worker can run, else the applyInPandasWithState twin."""
    if use_tws is None:
        use_tws = tws_runtime_available()
    if use_tws:
        return events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RateLimitProcessor(k, window_s),
            outputStructType=ADMIT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    return events.groupBy("user_id").applyInPandasWithState(
        _admit_updates(k, window_s),
        outputStructType=ADMIT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    ensure_session_confs(spark)
    stream = read_parquet_stream(spark, events_path, max_files_per_trigger)
    stream = normalize_ts_cols(stream)
    decisions = admit_stream(stream, k, window_s)
    return (
        run_replay(decisions, "update", "rate_limit", python_state_partitions())
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("admitted").cast("long").alias("n_admitted"),
        )
    )
