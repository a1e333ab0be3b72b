"""Watermark semantics: finalized windows are final.

The reference has no lateness concept at all (it keys on arrival time and
drops nothing — SURVEY.md §2.2); this is engine-extension behavior. The
property under test is the guarantee Spark actually makes (Structured
Streaming guide, "Semantic Guarantees of Aggregation with Watermarking"):
in append mode a window is emitted exactly once, when the watermark
passes it, and data arriving later than the watermark after that point is
dropped (numRowsDroppedByWatermark) — it can neither change nor duplicate
the finalized result. (Update mode makes the weaker may-or-may-not-drop
promise, so it is not what we pin down here.)
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from kinesis_log_watcher_spark.sources.files import run_replay
from kinesis_log_watcher_spark.streaming.metrics import MetricsRecorder

T0 = datetime(2024, 1, 1, 0, 0, 0)
M = timedelta(minutes=1)


def _write_batch(spark, tmp_path, name, rows, mtime):
    stage = tmp_path / f"stage_{name}"
    spark.createDataFrame(
        [(i, ts) for i, ts in enumerate(rows)], "event_id long, ts timestamp"
    ).coalesce(1).write.parquet(str(stage))
    (part,) = glob.glob(str(stage / "part-*.parquet"))
    dest = tmp_path / "stream" / f"{name}.parquet"
    shutil.copy(part, dest)
    os.utime(dest, (mtime, mtime))


def test_finalized_window_immune_to_late_rows(spark, tmp_path):
    (tmp_path / "stream").mkdir()
    t = 1_700_000_000
    # b1: 00:01 (window 00:00–00:10) and 00:41 → watermark becomes 00:36
    _write_batch(spark, tmp_path, "b1", [T0 + 1 * M, T0 + 41 * M], t + 1)
    # b2: watermark 00:36 > window end 00:10 → w00:00 finalized (n=1),
    # state evicted; 00:43 keeps the stream moving
    _write_batch(spark, tmp_path, "b2", [T0 + 43 * M], t + 2)
    # b3: 00:02 is later than the watermark and its window is finalized →
    # must be dropped, not resurrect w00:00
    _write_batch(spark, tmp_path, "b3", [T0 + 2 * M], t + 3)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "stream"))
    )
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    rec = MetricsRecorder.attach(spark)
    try:
        sink = run_replay(agg, "append", "wm_append")
        # listener callbacks are asynchronous: wait until the progress of
        # the batch carrying the late row (the 4th input row) has arrived
        qname, deadline = None, time.time() + 30
        while time.time() < deadline:
            qname = next(
                (
                    r["name"]
                    for r in rec.progress()
                    if (r["name"] or "").startswith("wm_append_")
                ),
                None,
            )
            if qname and rec.summary(qname)["total_input_rows"] == 4:
                break
            time.sleep(0.2)
    finally:
        rec.detach()

    emitted = [(r.w_start, r.n) for r in sink.collect()]
    # w00:00 finalized exactly once, with only the on-time event
    assert emitted.count((T0, 1)) == 1
    assert all(w != T0 or n == 1 for w, n in emitted)
    # the late row was counted as dropped by the watermark
    s = rec.summary(qname)
    assert s["total_input_rows"] == 4
    assert s["total_dropped_by_watermark"] == 1
