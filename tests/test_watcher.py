"""watch() end-to-end — the reference CLI path (main.go:63-208)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from kinesis_log_watcher_spark.sources.files import (
    read_raw_records,
    read_raw_records_stream,
)
from kinesis_log_watcher_spark.sources.fixture import (
    EPOCH,
    kinesis_records_fixture,
    write_fixture_parquet,
)
from kinesis_log_watcher_spark.watcher import (
    RenderErrorReporter,
    parse_duration,
    watch,
)


def test_parse_duration():
    assert parse_duration("30s") == timedelta(seconds=30)
    assert parse_duration("5m") == timedelta(minutes=5)
    assert parse_duration("3h") == timedelta(hours=3)
    assert parse_duration("1d") == timedelta(days=1)
    assert parse_duration("1h30m") == timedelta(hours=1, minutes=30)
    assert parse_duration("250ms") == timedelta(milliseconds=250)
    for bad in ("", "x", "5", "5x", "m5"):
        with pytest.raises(ValueError):
            parse_duration(bad)


def test_batch_one_shot_default_template(spark):
    records = kinesis_records_fixture(spark, n_records=40)
    lines = watch(records)
    assert len(lines) == 40
    assert any(l.startswith("abc-123 2024-05-01") for l in lines)


def test_unbounded_collect_warns_past_threshold(spark, monkeypatch):
    """max_lines=None is the opt-in unbounded driver materialization;
    past UNBOUNDED_WARN_ROWS it must say so (the documented footgun
    guard — distributed_sink= is the scale path)."""
    import warnings

    from kinesis_log_watcher_spark import watcher as W

    records = kinesis_records_fixture(spark, n_records=40)
    monkeypatch.setattr(W, "UNBOUNDED_WARN_ROWS", 10)
    with pytest.warns(RuntimeWarning, match="materialized 40 lines"):
        lines = watch(records, max_lines=None)
    assert len(lines) == 40  # a warning, never truncation: opt-in honored

    # under the threshold: silent
    monkeypatch.setattr(W, "UNBOUNDED_WARN_ROWS", 1000)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert len(watch(records, max_lines=None)) == 40


def test_start_filter(spark):
    """-s lookback: only records with arrival ts >= now - start survive
    (the AT_TIMESTAMP analogue, main.go:174, 300-305)."""
    records = kinesis_records_fixture(spark, n_records=400, n_shards=4)
    fake_now = EPOCH.replace(tzinfo=None) + timedelta(seconds=100)
    lines = watch(records, start="20s", now=fake_now)
    # per shard: records at EPOCH+80..99s (±1s jitter) pass → ~20/shard
    assert 4 * 18 <= len(lines) <= 4 * 22
    lines_abs = watch(records, start=fake_now - timedelta(seconds=20))
    assert sorted(lines_abs) == sorted(lines)


def test_error_rows_dropped_and_reported_once(spark):
    records = kinesis_records_fixture(spark, n_records=120)
    reporter = RenderErrorReporter()
    lines = watch(records, template="{{.Log.level}}", reporter=reporter)
    # payload kinds: 3 of 6 are JSON objects → half the rows survive
    assert len(lines) == 60
    assert reporter.dropped_rows == 60
    assert reporter.reported


def test_streaming_one_shot_matches_batch(spark, tmp_path):
    """W2: -O one-shot streaming produces the same record set as batch
    (SURVEY.md §5.2 streaming-semantics test)."""
    path = str(tmp_path / "records")
    write_fixture_parquet(spark, path, n_records=200)

    batch_lines = watch(read_raw_records(spark, path))

    got: list[str] = []
    q = watch(
        read_raw_records_stream(spark, path, max_files_per_trigger=2),
        one_shot=True,
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink=got.append,
    )
    q.awaitTermination(120)
    assert sorted(got) == sorted(batch_lines)


def test_get_spark_turns_off_dataframe_debugging(spark):
    """Call-site capture costs ~8 py4j trips per Column method; get_spark
    turns it off (it only changes error-message call sites)."""
    from kinesis_log_watcher_spark.session import DATAFRAME_DEBUGGING_CONF

    assert spark.conf.get(DATAFRAME_DEBUGGING_CONF) == "false"


def test_streaming_resume_from_checkpoint(spark, tmp_path):
    """W4 done right: a restart re-reads nothing it already emitted and
    emits exactly the records that arrived while it was down, once each
    (the reference *intends* sequence-number resume but its renewal is
    buggy, main.go:345). The checkpoint goes through the file manager
    get_spark() configures; a misspelled class would fail at start."""
    from collections import Counter

    from kinesis_log_watcher_spark.session import (
        CHECKPOINT_FILE_MANAGER,
        CHECKPOINT_FILE_MANAGER_CONF,
    )

    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF) == CHECKPOINT_FILE_MANAGER
    path = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    write_fixture_parquet(spark, path, n_records=100)

    got: list[str] = []
    q = watch(read_raw_records_stream(spark, path), one_shot=True,
              checkpoint_dir=ckpt, sink=got.append)
    q.awaitTermination(120)
    assert q.exception() is None
    n_first = len(got)
    assert n_first == 100

    # records arriving between the runs: an hour later, so every line
    # differs from the first run's
    new = kinesis_records_fixture(spark, n_records=40, seed=7).withColumn(
        "approximateArrivalTimestamp",
        F.col("approximateArrivalTimestamp") + F.expr("INTERVAL 1 HOUR"),
    )
    new.write.mode("append").partitionBy("shardId").parquet(path)
    want_new = watch(new)
    assert len(want_new) == 40

    resumed: list[str] = []
    q = watch(read_raw_records_stream(spark, path), one_shot=True,
              checkpoint_dir=ckpt, sink=resumed.append)
    q.awaitTermination(120)
    assert q.exception() is None
    assert Counter(resumed) == Counter(want_new)

    # third run, same checkpoint: nothing new to read
    q = watch(read_raw_records_stream(spark, path), one_shot=True,
              checkpoint_dir=ckpt, sink=resumed.append)
    q.awaitTermination(120)
    assert len(resumed) == 40


def test_streaming_plan_compiles_once(spark, tmp_path):
    """Every micro-batch re-plans the query, so its generated code must
    be identical from batch to batch or Janino compiles it again on
    every trigger. The evaluate-once gate on the hoisted ``.Log`` parse
    is the part that must carry no per-analysis random seed."""
    src = str(tmp_path / "records")
    for seed in range(3):
        part = kinesis_records_fixture(spark, n_records=24, seed=seed)
        part.coalesce(1).write.mode("append").parquet(src)
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
    seen: list[int] = []

    def sink(line: str) -> None:
        # runs on the driver after the batch's jobs have finished
        seen.append(compiles.getCount())

    q = watch(
        read_raw_records_stream(spark, src, max_files_per_trigger=1),
        template="{{.SequenceNumber}} {{.Log.level}} {{range .Log.nested}}<{{.}}>{{end}}",
        one_shot=True,
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink=sink,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3
    assert seen, "no line was emitted"
    assert compiles.getCount() == seen[0], (
        f"{compiles.getCount() - seen[0]} compiles after the first micro-batch"
    )


def test_render_fn_escape_hatch(spark):
    """Arbitrary-template fallback: full row model incl. parsed Log,
    error rows dropped with report-once (E1/X4 semantics)."""
    from kinesis_log_watcher_spark.sources.fixture import kinesis_records_fixture
    from kinesis_log_watcher_spark.watcher import RenderErrorReporter, watch

    rec = kinesis_records_fixture(spark, n_records=40)

    def render(row):
        # beyond the compiled dialect: conditionals + dict access
        if row["Log"] is None:
            raise ValueError("no json")
        return f"{row['ShortHostId']}|{row['Log'].get('level', '?')}"

    rep = RenderErrorReporter()
    lines = watch(rec, render_fn=render, reporter=rep)
    assert lines and all("|" in l for l in lines)
    # fixture makes some payloads non-JSON → those rows dropped
    assert rep.dropped_rows > 0
    assert len(lines) + rep.dropped_rows == 40


def test_render_fn_matches_compiled_default(spark):
    """The escape hatch and the compiled path agree on the default
    template's semantics."""
    from kinesis_log_watcher_spark.sources.fixture import kinesis_records_fixture
    from kinesis_log_watcher_spark.functions.strftime import go_default_render
    from kinesis_log_watcher_spark.watcher import watch

    rec = kinesis_records_fixture(spark, n_records=40)
    compiled = watch(rec)

    def render(row):
        return f"{row['ShortHostId']} {go_default_render(row['Timestamp'])} {row['LogEntry']}"

    assert sorted(watch(rec, render_fn=render)) == sorted(compiled)


def test_streaming_processing_time_trigger(spark, tmp_path):
    """W1 (continuous poll, main.go:67) + G1 (graceful stop): a
    processingTime-triggered watch emits the same record set a one-shot
    does, and query.stop() ends it cleanly."""
    import time

    from kinesis_log_watcher_spark.sources.files import read_raw_records_stream
    from kinesis_log_watcher_spark.sources.fixture import kinesis_records_fixture
    from kinesis_log_watcher_spark.watcher import watch

    d = tmp_path / "records"
    rec = kinesis_records_fixture(spark, n_records=40)
    rec.write.parquet(str(d))
    expected = sorted(watch(rec, one_shot=True))

    got = []
    q = watch(
        read_raw_records_stream(spark, str(d)),
        poll="1s",
        sink=got.append,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    deadline = time.time() + 120
    while len(got) < len(expected) and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    assert not q.isActive
    assert sorted(got) == expected


def test_per_shard_order_preserved(spark, tmp_path):
    """SURVEY §5.2(3): within a shard, output preserves sequence-number
    order (the reference's only ordering guarantee, main.go:320, 362);
    across shards there is none. The render pipeline is a narrow map, so
    per-partition input order survives to the sink."""
    from kinesis_log_watcher_spark.sources.files import read_raw_records
    from kinesis_log_watcher_spark.sources.fixture import kinesis_records_fixture
    from kinesis_log_watcher_spark.watcher import watch

    d = tmp_path / "sharded"
    rec = kinesis_records_fixture(spark, n_records=400, n_shards=4)
    # one file per shard — the connector-like layout (partition per shard)
    rec.repartition(4, "shardId").sortWithinPartitions("sequenceNumber").write.parquet(str(d))

    lines = watch(
        read_raw_records(spark, str(d)),
        template="{{.SequenceNumber}}",
        one_shot=True,
    )
    assert len(lines) == 400
    # group back by shard (fixture seq numbers embed the shard prefix)
    by_shard: dict[str, list[str]] = {}
    for seq in lines:
        by_shard.setdefault(seq[:4], []).append(seq)
    assert len(by_shard) == 4
    for shard, seqs in by_shard.items():
        assert seqs == sorted(seqs), f"shard {shard} out of order"


def test_watch_max_lines_bounds_driver(spark):
    """max_lines plans a CollectLimit: at most N rendered lines reach the
    driver, and render errors are still counted via an aggregate."""
    records = kinesis_records_fixture(spark, n_records=400)
    rep = RenderErrorReporter()
    lines = watch(records, max_lines=10, reporter=rep)
    assert len(lines) == 10
    # errors still observed (the fixture includes non-JSON payloads that
    # error under a .Log template)
    rep2 = RenderErrorReporter()
    got = watch(records, template="{{.Log.msg}}", max_lines=5, reporter=rep2)
    assert len(got) <= 5
    assert rep2.dropped_rows > 0


def test_watch_default_is_bounded(spark):
    """The library DEFAULT plans a CollectLimit (DEFAULT_MAX_LINES):
    no watch() call can silently materialize unbounded output on the
    driver. Unbounded is an explicit opt-in (max_lines=None — the
    CLI's reference-faithful mode)."""
    from kinesis_log_watcher_spark.watcher import DEFAULT_MAX_LINES, build_lines

    assert DEFAULT_MAX_LINES is not None
    records = kinesis_records_fixture(spark, n_records=50)
    # the exact plan watch() collects by default: limit(DEFAULT_MAX_LINES)
    ok = (
        build_lines(records, keep_errors=True)
        .filter(~F.col("_render_error"))
        .select("line")
        .limit(DEFAULT_MAX_LINES)
    )
    plan = ok._jdf.queryExecution().executedPlan().toString()
    assert "CollectLimit" in plan or "GlobalLimit" in plan
    # and the default returns the same lines as explicit-unbounded for
    # small inputs (the fixture's render-error rows drop on both paths)
    assert sorted(watch(records)) == sorted(watch(records, max_lines=None))


def test_watch_distributed_sink_emits_on_executors(spark, tmp_path):
    """distributed_sink routes emission through foreachPartition — the
    driver materializes no lines (watch returns None); every rendered
    line lands via the executor-side sink."""
    import glob
    import os

    out_dir = tmp_path / "emitted"
    out_dir.mkdir()
    out = str(out_dir)

    def partition_sink(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        with open(os.path.join(out, f"p{pid:05d}.txt"), "a") as f:
            for line in it:
                f.write(line + "\n")

    records = kinesis_records_fixture(spark, n_records=200)
    expected = watch(records)  # reference-faithful collect path
    rep = RenderErrorReporter()
    ret = watch(records, distributed_sink=partition_sink, reporter=rep)
    assert ret is None
    emitted = []
    for path in glob.glob(os.path.join(out, "p*.txt")):
        with open(path) as f:
            emitted.extend(ln.rstrip("\n") for ln in f)
    assert sorted(emitted) == sorted(expected)


def test_streaming_max_lines_caps_each_batch(spark, tmp_path):
    """Streaming mode with max_lines collects at most N lines per
    micro-batch."""
    src = tmp_path / "records"
    write_fixture_parquet(spark, str(src), n_records=60)
    got: list[str] = []
    q = watch(
        read_raw_records_stream(spark, str(src)),
        one_shot=True,
        max_lines=7,
        sink=got.append,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    q.stop()
    assert 0 < len(got) <= 7


def test_streaming_watch_with_log_template(spark, tmp_path):
    """A .Log-accessing template must run on STREAMING input: the
    hoisted payload prep columns are pinned by the evaluate-once gate,
    whose ``spark_partition_id()`` the streaming analyzer accepts
    (``monotonically_increasing_id`` it rejects). Output must equal
    batch."""
    src = tmp_path / "records"
    write_fixture_parquet(spark, str(src), n_records=30)
    tpl = "{{.ShortHostId}} {{.Log.level}} {{range .Log.nested}}<{{.}}>{{end}}"
    batch = watch(read_raw_records(spark, str(src)), template=tpl)
    got: list[str] = []
    q = watch(
        read_raw_records_stream(spark, str(src)),
        template=tpl,
        one_shot=True,
        sink=got.append,
    )
    q.awaitTermination(120)
    assert sorted(got) == sorted(batch)
    assert batch  # fixture renders at least some non-error rows
