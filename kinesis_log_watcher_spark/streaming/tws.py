"""Stateful streaming on the modern transformWithState API (Spark 4).

A second custom stateful operator alongside streaming/stateful.py's
applyInPandasWithState sessionization — this one on the
``transformWithStateInPandas`` StatefulProcessor API (typed state
variables via a handle; the engine manages encoding, TTL, and timers).

The operator: per-user running totals (event count + value sum). Each
micro-batch folds its rows into a ``ValueState`` and emits the updated
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
state backend and TTL config apply unchanged on a cluster.

ENVIRONMENT GATE: transformWithState's Python worker requires
``protobuf`` at runtime (its state-server protocol is proto-encoded).
When ``google.protobuf`` is unavailable, ``running_totals_stream`` falls
back to an ``applyInPandasWithState`` implementation of the IDENTICAL
operator semantics (same output schema, same int64 micro-unit
quantization, same update-stream shape) so the replay≡batch invariant
always executes; ``require_tws_runtime()`` tells callers which path a
given environment runs. On a protobuf-equipped cluster the
StatefulProcessor path is used unchanged.
"""

from __future__ import annotations

from kinesis_log_watcher_spark.sources.files import (
    python_state_partitions,
    read_parquet_stream,
    run_replay,
)

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.functions.tscompat import normalize_ts_cols

from kinesis_log_watcher_spark.session import ensure_session_confs
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

def require_tws_runtime() -> None:
    """Raise ImportError unless the transformWithState Python worker can
    actually run here (needs protobuf)."""
    import importlib

    importlib.import_module("google.protobuf.descriptor")


def tws_runtime_available() -> bool:
    try:
        require_tws_runtime()
    except ImportError:
        return False
    return True


OUTPUT_SCHEMA = "user_id bigint, n_events bigint, value_sum_q bigint"
_STATE_SCHEMA = "n_events bigint, value_sum_q bigint"


class RunningTotalsProcessor(StatefulProcessor):
    """ValueState-backed per-key running (count, quantized value sum)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", _STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        n, sq = (self._totals.get() or (0, 0)) if self._totals.exists() else (0, 0)
        for pdf in rows:
            n += len(pdf)
            # int64 micro-units: associative, partition-order independent.
            # floor(x*1e6+0.5) — same rounding rule as batch_totals and
            # operators/similarity.quantize (pandas .round is half-even,
            # F.round half-up; they disagree on .5 micro-unit ties).
            # NULLs are skipped (SQL SUM semantics); NaN through
            # astype('int64') would be platform-defined garbage.
            vals = pdf["value"].dropna().to_numpy()
            sq += int(np.floor(vals * 1_000_000 + 0.5).astype("int64").sum())
        self._totals.update((n, sq))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "value_sum_q": [sq]})

    def close(self) -> None:
        pass


def _running_totals_fallback(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState twin of RunningTotalsProcessor — identical
    fold (same quantization, same snapshot-per-batch update stream)."""
    n, sq = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # NULL-skipping sum (SQL semantics) — see RunningTotalsProcessor.
        vals = pdf["value"].dropna().to_numpy()
        sq += int(np.floor(vals * 1_000_000 + 0.5).astype("int64").sum())
    state.update((n, sq))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "value_sum_q": [sq]})


def running_totals_stream(events: DataFrame, use_tws: bool | None = None) -> DataFrame:
    """Stream in → per-user running-totals update stream out.

    ``use_tws=None`` auto-detects: the transformWithState path when its
    protobuf-backed Python worker can run, else the
    applyInPandasWithState twin (same semantics, no extra deps)."""
    if use_tws is None:
        use_tws = tws_runtime_available()
    if use_tws:
        return events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningTotalsProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fallback,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    ensure_session_confs(spark)
    stream = read_parquet_stream(spark, events_dir, max_files_per_trigger)
    stream = normalize_ts_cols(stream)

    updates = running_totals_stream(stream)
    return final_totals(
        run_replay(updates, "update", "tws_totals", python_state_partitions())
    )
