"""Streaming observability: a StreamingQueryListener that records the
operational metrics a production watcher needs — per-batch input rows,
processing rates, state-store row counts, rows dropped as too late by
the watermark, and event-time watermark lag.

The reference has no metrics surface at all (its only observability is
the rendered stdout stream); a 1000-executor deployment lives or dies
by exactly these numbers: watermark lag says whether late-data windows
are closing, state rows say whether eviction is keeping up, input rate
vs processing rate says whether the stream is falling behind
(main.go:295-396's catch-up loop has no equivalent signal).

Usage::

    rec = MetricsRecorder.attach(spark)
    try:
        ...run streaming queries...
    finally:
        rec.detach()
    rec.summary(query_name)  # -> dict of totals

Listener callbacks arrive on a background thread; the recorder only
appends to a lock-guarded list, and ``summary`` folds after the query
terminates, so there is no cross-thread visibility hazard.
"""

from __future__ import annotations

import threading
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener


class MetricsRecorder(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._progress: list[dict[str, Any]] = []
        self._spark = None

    # -- listener callbacks -------------------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        state_rows = sum(
            (op.numRowsTotal or 0) for op in (p.stateOperators or [])
        )
        state_updated = sum(
            (op.numRowsUpdated or 0) for op in (p.stateOperators or [])
        )
        dropped = sum(
            (op.numRowsDroppedByWatermark or 0)
            for op in (p.stateOperators or [])
        )
        row = {
            "name": p.name,
            "batch_id": p.batchId,
            "input_rows": p.numInputRows or 0,
            "state_rows": state_rows,
            "state_rows_updated": state_updated,
            "rows_dropped_by_watermark": dropped,
            "watermark": (p.eventTime or {}).get("watermark"),
            "duration_ms": (p.durationMs or {}).get("triggerExecution"),
        }
        with self._lock:
            self._progress.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- recorder API -------------------------------------------------------
    @classmethod
    def attach(cls, spark) -> "MetricsRecorder":
        rec = cls()
        rec._spark = spark
        spark.streams.addListener(rec)
        return rec

    def detach(self) -> None:
        if self._spark is not None:
            self._spark.streams.removeListener(self)
            self._spark = None

    def progress(self) -> list[dict[str, Any]]:
        """Snapshot of every recorded progress row (all queries), taken
        under the lock — the poll-friendly public view (tests poll this
        instead of reaching into the private buffer)."""
        with self._lock:
            return list(self._progress)

    def batches(self, query_name: str) -> list[dict[str, Any]]:
        return [r for r in self.progress() if r["name"] == query_name]

    def summary(self, query_name: str) -> dict[str, Any]:
        """Fold a terminated query's progress into run totals."""
        rows = self.batches(query_name)
        return {
            "n_batches": len(rows),
            "total_input_rows": sum(r["input_rows"] for r in rows),
            "max_state_rows": max(
                (r["state_rows"] for r in rows), default=0
            ),
            "total_dropped_by_watermark": sum(
                r["rows_dropped_by_watermark"] for r in rows
            ),
            "last_watermark": rows[-1]["watermark"] if rows else None,
        }
