"""Streaming exact dedup: dropDuplicates over a replayed stream is
state-backed — a key seen in micro-batch 1 suppresses its duplicates in
micro-batch 2 (cross-batch state), and the output carries each key
exactly once. This is the streaming form of the dedup_exact operator
(the LLM-pipeline dedup family, COVERAGE.md).

Suite-speed shape (r8): both replays stage into one module temp dir and
launch in ONE replay_parallel burst; the tests assert on the collected
rows."""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime, timedelta

import pytest

from conftest import replay_parallel

TS0 = datetime(2024, 1, 1, 0, 0, 0)


def _at(minutes):
    return TS0 + timedelta(minutes=minutes)


def _write_file(spark, tmp_path, stream, name, rows, schema, mtime):
    stage = tmp_path / f"stage_{stream}_{name}"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
    (part,) = glob.glob(str(stage / "part-*.parquet"))
    dest = tmp_path / stream / f"{name}.parquet"
    shutil.copy(part, dest)
    os.utime(dest, (mtime, mtime))


@pytest.fixture(scope="module")
def dedup_results(spark, tmp_path_factory):
    from concurrent.futures import ThreadPoolExecutor

    tmp_path = tmp_path_factory.mktemp("sdedup")
    t = 1_700_000_000
    (tmp_path / "exact").mkdir()
    (tmp_path / "wm").mkdir()
    ts_schema = "content_hash string, ts timestamp"
    # staging writes are independent Spark jobs into disjoint dirs —
    # submit them concurrently (same pattern as stage_replay_files)
    stages = [
        # exact-dedup stream: h_a duplicated in-batch, h_a/h_b cross-batch
        ("exact", "b1", [(1, "h_a"), (2, "h_b"), (3, "h_a")],
         "doc_id long, content_hash string", t + 1),
        ("exact", "b2", [(4, "h_b"), (5, "h_c"), (6, "h_a")],
         "doc_id long, content_hash string", t + 2),
        # watermark-bounded stream (see test docstring for the schedule)
        ("wm", "b1", [("A", _at(0))], ts_schema, t + 1),
        ("wm", "b2", [("A", _at(1)), ("W", _at(60))], ts_schema, t + 2),
        ("wm", "b3", [("X", _at(61))], ts_schema, t + 3),
        ("wm", "b4", [("A", _at(120))], ts_schema, t + 4),
    ]
    with ThreadPoolExecutor(max_workers=6) as pool:
        list(pool.map(lambda a: _write_file(spark, tmp_path, *a), stages))

    from kinesis_log_watcher_spark.sources.files import run_replay

    def run_exact():
        stream = (
            spark.readStream.schema("doc_id long, content_hash string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "exact"))
        )
        deduped = stream.dropDuplicates(["content_hash"])
        return run_replay(deduped, "append", "stream_dedup").collect()

    def run_wm():
        stream = (
            spark.readStream.schema("content_hash string, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "wm"))
        )
        deduped = (
            stream.withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["content_hash"])
        )
        return run_replay(deduped, "append", "stream_dedup_wm").collect()

    exact, wm = replay_parallel(run_exact, run_wm)
    return {"exact": exact, "wm": wm}


def test_streaming_dedup_across_batches(dedup_results):
    rows = dedup_results["exact"]
    # each hash exactly once, survivor is the first-seen batch's row
    assert sorted(r.content_hash for r in rows) == ["h_a", "h_b", "h_c"]
    by_hash = {r.content_hash: r.doc_id for r in rows}
    assert by_hash["h_a"] in (1, 3)   # batch-1 occurrence, never doc 6
    assert by_hash["h_b"] == 2        # batch-1 occurrence, never doc 4
    assert by_hash["h_c"] == 5


def test_streaming_dedup_within_watermark_bounds_state(dedup_results):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark
    horizon are suppressed, and state is EVICTED once the watermark
    passes — the same key arriving much later is emitted again. That
    eviction is what makes streaming dedup viable on an unbounded
    100 TB stream (plain dropDuplicates state grows forever).

    Schedule (batch N's watermark derives from data through batch N-1):
    b1 first sight of A at 0min; b2 duplicate A at 1min (suppressed,
    inside the 10-min horizon) + W at 60min pushing max event time;
    b3 the 50min watermark takes effect, A's state (expiry ~11min)
    evicted; b4 A again at 120min — emitted as new."""
    got = [(r.content_hash, r.ts) for r in dedup_results["wm"]]
    a_times = sorted(ts for k, ts in got if k == "A")
    # A emitted exactly twice: once at first sight, once after eviction
    assert a_times == [_at(0), _at(120)], got
    assert ("W", _at(60)) in got
