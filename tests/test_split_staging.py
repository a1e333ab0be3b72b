"""stage_replay_files_split: the single-partitioned-write replay staging
used by the timer-session harness must produce the replay LAYOUT
contract every replay reader consumes: one f{i}.parquet per part,
mtime-ascending, carrying exactly that part's rows without the part
column. An empty part raises and leaves no staged directory behind."""

from __future__ import annotations

import glob
import os

import pytest

from kinesis_log_watcher_spark.sources.files import stage_replay_files_split


def _rows(spark, path: str):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )


def test_split_staging_layout(spark):
    df = spark.range(0, 100).selectExpr(
        "id", "CAST(id % 3 AS INT) AS part"
    )
    replay = stage_replay_files_split(df, "part", 3, prefix="t_split_")
    files = sorted(glob.glob(os.path.join(replay, "f*.parquet")))
    assert [os.path.basename(f) for f in files] == [
        "f0.parquet", "f1.parquet", "f2.parquet"
    ]
    # mtime-ascending (the replay reader's consumption-order contract)
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes)
    for i, f in enumerate(files):
        got = _rows(spark, f)
        assert got == [(x,) for x in range(100) if x % 3 == i]


def test_split_staging_empty_part_raises(spark, monkeypatch):
    from kinesis_log_watcher_spark import staging

    made: list[str] = []
    real = staging.scratch_dir

    def recording_scratch_dir(prefix):
        made.append(real(prefix))
        return made[-1]

    monkeypatch.setattr(staging, "scratch_dir", recording_scratch_dir)
    df = spark.range(0, 10).selectExpr("id", "CAST(0 AS INT) AS part")
    with pytest.raises(ValueError, match="empty"):
        stage_replay_files_split(df, "part", 2, prefix="t_split_")
    assert len(made) == 1
    assert not os.path.exists(made[0])
