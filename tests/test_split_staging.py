"""stage_replay_files: the one replay stager must produce the replay
LAYOUT contract every replay reader consumes: one f{i}.parquet per part,
mtime-ascending, carrying exactly that part's rows and not the part
column. An empty part is staged as a 0-row file, so it still takes its
own micro-batch."""

from __future__ import annotations

import glob
import os

from kinesis_log_watcher_spark.sources.files import (
    drain_replay,
    read_parquet_stream,
    stage_replay_files,
)


def _rows(spark, path: str):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )


def test_split_staging_layout(spark):
    # a BIGINT part column, as ``vec_id % n`` gives
    df = spark.range(0, 100).selectExpr("id", "id % 3 AS part")
    replay = stage_replay_files(df, "part", 3, prefix="t_stage_")
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
    # part 1 has no rows
    df = spark.range(0, 10).selectExpr(
        "id", "CASE WHEN id < 4 THEN 0 ELSE 2 END AS part"
    )
    replay = stage_replay_files(df, "part", 3, prefix="t_stage_")
    files = sorted(glob.glob(os.path.join(replay, "f*.parquet")))
    assert [os.path.basename(f) for f in files] == [
        "f0.parquet", "f1.parquet", "f2.parquet"
    ]
    assert _rows(spark, files[1]) == []

    batches: list[tuple[int, int]] = []
    drain_replay(
        read_parquet_stream(spark, replay, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            lambda b, i: batches.append((i, b.count()))
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
    )
    assert sorted(batches) == [(0, 4), (1, 0), (2, 6)]
