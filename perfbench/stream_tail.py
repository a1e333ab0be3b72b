"""stream_tail: open loop. A generator thread appends small parquet files
(pyarrow, no Spark) to a directory at a fixed row rate, and a streaming
``watch()`` tails the directory the way the CLI does (``max_lines=None``,
per-line sink, short poll).

- Each record's creation (due) time is its ``approximateArrivalTimestamp``;
  its lag is the time its line reached the sink minus that due time,
  joined on ``SequenceNumber`` (the stream template prints it first).
- Files are dropped every ``tick`` seconds on a wall-clock grid, much more
  often than the trigger fires, so the lag does not depend on the phase
  between drops and triggers.
- The first ``warmup`` seconds of records are excluded from the lag and
  rate figures (the first batches plan and compile).
- Check: every non-error record is emitted exactly once with its expected
  line, and the reporter's dropped-row count equals the generated
  render-error records.
"""

from __future__ import annotations

import math
import os
import threading
import time
from collections import Counter
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq

import datagen
import harness
import reference
from harness import Metric

SIZES = {
    "full": {"rate": 2000, "tick": 0.1, "warmup": 4.0},
    "tiny": {"rate": 400, "tick": 0.1, "warmup": 2.0},
}
POLL = "0.5s"
DRAIN_TIMEOUT_S = 30.0


class Generator(threading.Thread):
    """Writes ``rate * tick`` records every ``tick`` seconds; file names
    start hidden and are renamed into place, so the file source never sees
    a partial file."""

    def __init__(self, seed: int, out_dir: str, rate: int, tick: float,
                 duration: float, tracer) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.seed, self.out_dir, self.tick, self.tracer = seed, out_dir, tick, tracer
        self.per_tick = int(rate * tick)
        self.n_ticks = int(round(duration / tick))
        self.t0 = math.ceil(time.time() / tick) * tick + tick
        self.tables = []
        self.due: list[float] = []
        self.late_max_s = 0.0
        self.write_s = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for k in range(self.n_ticks):
                due = self.t0 + k * self.tick
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                w0 = time.perf_counter()
                with self.tracer.span("sources.append", tick=k):
                    table = datagen.kinesis_records(
                        self.seed, self.per_tick, start_id=k * self.per_tick,
                        arrival_us=np.full(self.per_tick, int(round(due * 1e6)), np.int64),
                    )
                    tmp = os.path.join(self.out_dir, f".part-{k:06d}.parquet")
                    pq.write_table(table, tmp)
                    os.rename(tmp, os.path.join(self.out_dir, f"part-{k:06d}.parquet"))
                self.write_s += time.perf_counter() - w0
                self.late_max_s = max(self.late_max_s, time.time() - due)
                self.tables.append(table)
                self.due.append(due)
        except BaseException as exc:  # noqa: BLE001 - re-raised by the caller
            self.error = exc


def _progress_start(p) -> float:
    return datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def run(spark_conf, args, tracer, outcome) -> None:
    size = SIZES[args.scale]
    in_dir = os.path.join(harness.WORK_DIR, "stream-in")
    ckpt = os.path.join(harness.WORK_DIR, "checkpoint")
    os.makedirs(in_dir)

    with tracer.span("session.get_spark"):
        spark, get_spark_s = harness.start_session("perfbench-stream_tail", spark_conf)
    try:
        from kinesis_log_watcher_spark.sources.files import read_raw_records_stream
        from kinesis_log_watcher_spark.streaming.metrics import MetricsRecorder
        from kinesis_log_watcher_spark.watcher import RenderErrorReporter, watch

        recorder = MetricsRecorder.attach(spark) if tracer.enabled else None
        emitted: list[tuple[str, float]] = []
        sink_s = [0.0]
        if tracer.enabled:
            def sink(line: str) -> None:
                t = time.perf_counter()
                emitted.append((line, time.time()))
                sink_s[0] += time.perf_counter() - t
        else:
            def sink(line: str) -> None:
                emitted.append((line, time.time()))

        reporter = RenderErrorReporter()
        with harness.traced_layers(tracer):
            t0 = time.perf_counter()
            with tracer.span("stream_tail.watch_start"):
                query = watch(
                    read_raw_records_stream(spark, in_dir),
                    template=reference.STREAM_TEMPLATE,
                    start="5m",
                    now=datetime.now(timezone.utc),
                    poll=POLL,
                    checkpoint_dir=ckpt,
                    sink=sink,
                    reporter=reporter,
                    max_lines=None,
                )
            watch_start_s = time.perf_counter() - t0
        try:
            gen = Generator(args.seed, in_dir, size["rate"], size["tick"],
                            size["warmup"] + args.seconds, tracer)
            gen.start()
            gen.join()
            if gen.error is not None:
                raise gen.error
            gen_stop = time.time()
            expected: dict[str, str] = {}
            n_bad = 0
            for table in gen.tables:
                seqs = table.column("sequenceNumber").to_pylist()
                for seq, line in zip(seqs, reference.expected_lines(table, with_seq=True)):
                    if line is None:
                        n_bad += 1
                    else:
                        expected[seq] = line
            n_good = len(expected)
            with tracer.span("stream_tail.drain"):
                deadline = time.time() + DRAIN_TIMEOUT_S
                while len(emitted) < n_good and time.time() < deadline:
                    time.sleep(0.05)
                query.processAllAvailable()
        finally:
            query.stop()
        progress = list(query.recentProgress)
        run_id = str(query.runId)
        if tracer.enabled:
            recorder.detach()
            stream_stats = harness.JobLedger(spark, tracer.run_id).stats(run_id)
        rss = harness.peak_rss_mb(spark)
    finally:
        harness.stop_session(spark)

    # -- correctness ---------------------------------------------------------
    if args.wrong_expected:
        first = next(iter(expected))
        expected[first] += " corrupted"
    due_of = {}
    for table, due in zip(gen.tables, gen.due):
        for seq in table.column("sequenceNumber").to_pylist():
            due_of[seq] = due
    seen = Counter()
    wrong = 0
    for line, _ in emitted:
        seq = line.split(" ", 1)[0]
        seen[seq] += 1
        if expected.get(seq) != line:
            wrong += 1
    missing = sum(1 for seq in expected if seen[seq] == 0)
    duplicated = sum(c - 1 for seq, c in seen.items() if c > 1)
    outcome.attempted = len(due_of)
    if missing or duplicated or wrong:
        outcome.fail(missing + duplicated + wrong,
                     f"{missing} records missing, {duplicated} emitted twice, "
                     f"{wrong} lines wrong or unexpected")
    if reporter.dropped_rows != n_bad:
        outcome.fail(abs(reporter.dropped_rows - n_bad),
                     f"reporter dropped {reporter.dropped_rows} rows, generated {n_bad} bad")

    # -- metrics ---------------------------------------------------------------
    window_start = gen.t0 + size["warmup"]
    lags = [t - due_of[line.split(" ", 1)[0]] for line, t in emitted
            if due_of.get(line.split(" ", 1)[0], 0.0) >= window_start]
    if not lags:
        raise RuntimeError("no lines delivered in the measured window")
    batches = [p for p in progress if p.numInputRows and _progress_start(p) >= window_start]
    busy_s = sum(p.durationMs.get("triggerExecution", 0) for p in batches) / 1000.0
    rows_in = sum(p.numInputRows for p in batches)
    lag_p50 = harness.median(lags)
    lag_p90 = harness.quantile(lags, 0.9)
    setup_s = get_spark_s + watch_start_s
    outcome.end_to_end = {
        "setup_s": Metric(setup_s, "s"),
        "peak_rss_mb": Metric(rss, "MB"),
        "rows_per_s": Metric(rows_in / busy_s, "1/s", len(batches)),
        "latency_p50_s": Metric(lag_p50, "s", len(lags)),
        "latency_p90_s": Metric(lag_p90, "s", len(lags)),
    }
    outcome.report = {
        "setup_s": outcome.end_to_end["setup_s"],
        "peak_rss_mb": outcome.end_to_end["peak_rss_mb"],
        "fail_rate": Metric(outcome.failed / outcome.attempted, "ratio", outcome.attempted),
        "rows_per_s": outcome.end_to_end["rows_per_s"],
        "lag_p50_s": Metric(lag_p50, "s", len(lags)),
        "lag_p90_s": Metric(lag_p90, "s", len(lags)),
        "offered_rows_per_s": Metric(size["rate"], "1/s"),
        "generator_late_s_max": Metric(gen.late_max_s, "s", len(gen.due)),
    }
    if tracer.enabled:
        outcome.layers = _layers(tracer, recorder, progress, batches, stream_stats,
                                 get_spark_s, gen, gen_stop, reporter, sink_s[0])


def _layers(tracer, recorder, progress, batches, stats, get_spark_s, gen, gen_stop,
            reporter, sink_s) -> dict[str, Metric]:
    def dur(key: str) -> list[float]:
        return [float(p.durationMs.get(key, 0)) for p in batches]

    def p50(xs: list[float]) -> float:
        return harness.median(xs) if xs else 0.0

    n = len(batches)
    waits = []
    ordered = sorted((p for p in progress if p.numInputRows), key=_progress_start)
    for a, b in zip(ordered, ordered[1:]):
        waits.append(1000.0 * (_progress_start(b) - _progress_start(a))
                     - a.durationMs.get("triggerExecution", 0))
    all_batches = [p for p in progress if p.numInputRows]
    processed_by_stop = sum(p.numInputRows for p in all_batches if _progress_start(p) <= gen_stop)
    per_batch = harness.scale_stats(stats, len(all_batches))
    summary = recorder.summary(None)  # watch() leaves its query unnamed
    layers = {
        "session.get_spark_s": Metric(get_spark_s, "s"),
        "sources.stage_s": Metric(gen.write_s / max(1, len(gen.due)), "s", len(gen.due)),
        "watcher.render_errors": Metric(reporter.dropped_rows, "count"),
        "watcher.sink_s_per_batch": Metric(sink_s / max(1, len(all_batches)), "s", len(all_batches)),
        "streaming.batches": Metric(len(all_batches), "count"),
        "streaming.batch_ms_p50": Metric(p50(dur("triggerExecution")), "ms", n),
        "streaming.batch_ms_p90": Metric(
            harness.quantile(dur("triggerExecution"), 0.9) if n else 0.0, "ms", n),
        "streaming.add_batch_ms_p50": Metric(p50(dur("addBatch")), "ms", n),
        "streaming.get_batch_ms_p50": Metric(p50(dur("getBatch")), "ms", n),
        "streaming.latest_offset_ms_p50": Metric(p50(dur("latestOffset")), "ms", n),
        "streaming.query_planning_ms_p50": Metric(p50(dur("queryPlanning")), "ms", n),
        "streaming.wal_commit_ms_p50": Metric(p50(dur("walCommit")), "ms", n),
        "streaming.trigger_wait_ms_p50": Metric(p50(waits), "ms", len(waits)),
        "streaming.input_rows_per_batch_p50": Metric(
            p50([float(p.numInputRows) for p in batches]), "count", n),
        "streaming.backlog_rows_end": Metric(
            len(gen.due) * gen.per_tick - processed_by_stop, "count"),
        "streaming.generator_late_s_max": Metric(gen.late_max_s, "s", len(gen.due)),
        "streaming.state_rows_max": Metric(summary.get("max_state_rows", 0), "count"),
        "catalyst.plan_ms": Metric(p50(dur("queryPlanning")), "ms", n),
        "trace.overhead_s": Metric(tracer.bookkeeping_s / max(1, len(all_batches)), "s",
                                   len(all_batches)),
    }
    layers.update(harness.template_layer_metrics(tracer))
    layers.update(harness.call_layer_metrics([per_batch], [x / 1000.0 for x in dur("addBatch")]))
    layers["spark.calls"] = Metric(len(all_batches), "count")
    return layers
