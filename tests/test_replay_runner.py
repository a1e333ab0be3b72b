"""sources.files.run_replay: the one bounded-replay runner every
memory-sink streaming operator goes through. Pins its contract: a
timed-out replay raises and leaves nothing running, concurrent replays
of one operator get their own sink tables, the session's shuffle
partition count survives the replay scope, and no other module grows
its own memory sink, streaming query start or GroupState protocol
back."""

from __future__ import annotations

import pathlib
import re

import pytest

from conftest import replay_parallel
from kinesis_log_watcher_spark.sources import files
from kinesis_log_watcher_spark.sources.files import run_replay

SHUFFLE = "spark.sql.shuffle.partitions"


def _id_stream(spark, tmp_path, name, ids):
    src = str(tmp_path / name)
    rows = spark.createDataFrame([(i,) for i in ids], "id long")
    rows.coalesce(1).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_timeout_raises_and_stops_the_query(spark, tmp_path, monkeypatch):
    # PySpark's awaitTermination rejects a timeout of 0 before waiting,
    # so the smallest bound it accepts (1 ms) stands in for "no time".
    monkeypatch.setattr(files, "REPLAY_TIMEOUT_S", 0.001)
    stream = _id_stream(spark, tmp_path, "in", range(10))
    with pytest.raises(TimeoutError, match="did not finish"):
        run_replay(stream.groupBy("id").count(), "complete", "t_runner_timeout")
    assert not [
        q.name for q in spark.streams.active
        if (q.name or "").startswith("t_runner_timeout")
    ]


def test_concurrent_replays_of_one_name_get_their_own_tables(spark, tmp_path):
    a = _id_stream(spark, tmp_path, "a", range(0, 5))
    b = _id_stream(spark, tmp_path, "b", range(100, 103))

    def views():
        return {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("t_runner_same_")
        }

    def ids(stream):
        sink = run_replay(stream, "append", "t_runner_same")
        return sorted(r.id for r in sink.collect())

    before = views()
    got_a, got_b = replay_parallel(lambda: ids(a), lambda: ids(b))
    assert got_a == list(range(0, 5))
    assert got_b == list(range(100, 103))
    assert len(views() - before) == 2


def test_shuffle_partitions_restored(spark, tmp_path, monkeypatch):
    prev = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "7")
    try:
        counts = _id_stream(spark, tmp_path, "in", range(20)).groupBy("id").count()
        assert run_replay(counts, "complete", "t_runner_conf", 2).count() == 20
        assert spark.conf.get(SHUFFLE) == "7"
        # the failure path restores it too
        monkeypatch.setattr(files, "REPLAY_TIMEOUT_S", 0.001)
        with pytest.raises(TimeoutError):
            run_replay(counts, "complete", "t_runner_conf")
        assert spark.conf.get(SHUFFLE) == "7"
    finally:
        spark.conf.set(SHUFFLE, prev)


def test_memory_sink_only_in_the_runner():
    pkg = pathlib.Path(files.__file__).resolve().parents[1]
    sites = {
        str(p.relative_to(pkg)): p.read_text().count('.format("memory")')
        for p in pkg.rglob("*.py")
    }
    assert {k: v for k, v in sites.items() if v} == {"sources/files.py": 1}


def _sites(pattern: str) -> set[str]:
    """Package modules (relative paths) whose source matches ``pattern``."""
    pkg = pathlib.Path(files.__file__).resolve().parents[1]
    return {
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if re.search(pattern, p.read_text())
    }


def test_group_state_only_in_the_adapter_and_the_timer_operators():
    # every no-timeout stateful operator is a pure fold behind
    # streaming/keyfold.fold_by_key; only the two operators with timers
    # speak the GroupState protocol themselves
    allowed = {"streaming/keyfold.py", "streaming/timers.py", "streaming/neardup.py"}
    assert _sites(r"applyInPandasWithState\(") == allowed
    assert _sites(r"import GroupState") == allowed


def test_streaming_queries_start_only_in_drain_replay_and_the_watcher():
    # ``m.start()`` is a regex match offset, not a query
    assert _sites(r"(?<!\bm)\.start\(\)") == {"sources/files.py", "watcher.py"}
    assert _sites(r"await_or_raise\(") == {"sources/files.py"}
    assert _sites(r"\.trigger\(availableNow=True\)") == {
        "sources/files.py", "watcher.py"
    }
