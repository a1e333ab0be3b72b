"""stage_replay_files: the one replay stager must produce the replay
LAYOUT contract every replay reader consumes: one f{i}.parquet per part,
mtime-ascending, carrying exactly that part's rows. An empty part is
staged as a 0-row file, so it still takes its own micro-batch."""

from __future__ import annotations

import glob
import os

from kinesis_log_watcher_spark.sources.files import (
    await_or_raise,
    read_parquet_stream,
    stage_replay_files,
)


def _rows(spark, path: str):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )


def test_split_staging_layout(spark):
    df = spark.range(0, 100)
    parts = [df.filter(f"id % 3 = {i}") for i in range(3)]
    replay = stage_replay_files(parts, prefix="t_stage_")
    files = sorted(glob.glob(os.path.join(replay, "f*.parquet")))
    assert sorted(os.listdir(replay)) == [
        "f0.parquet", "f1.parquet", "f2.parquet"
    ]
    # mtime-ascending (the replay reader's consumption-order contract)
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes)
    for i, f in enumerate(files):
        got = _rows(spark, f)
        assert got == [(x,) for x in range(100) if x % 3 == i]


def test_split_staging_empty_part_is_an_empty_batch(spark, tmp_path):
    df = spark.range(0, 10)
    replay = stage_replay_files(
        [df.filter("id < 4"), df.filter("id < 0"), df.filter("id >= 4")],
        prefix="t_stage_",
    )
    files = sorted(glob.glob(os.path.join(replay, "f*.parquet")))
    assert [os.path.basename(f) for f in files] == [
        "f0.parquet", "f1.parquet", "f2.parquet"
    ]
    assert _rows(spark, files[1]) == []

    batches: list[tuple[int, int]] = []
    q = (
        read_parquet_stream(spark, replay, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            lambda b, i: batches.append((i, b.count()))
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    assert sorted(batches) == [(0, 4), (1, 0), (2, 6)]
