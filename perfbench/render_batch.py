"""render_batch: closed loop, one caller, rendering a staged Kinesis-shaped
input through ``watcher.build_lines`` and materializing it with a ``noop``
write.

- Input: the ``sources.fixture`` payload mix (half render errors), staged
  with pyarrow as 4 x nproc equal parquet splits.
- Template with ``.Log`` fields, so every row pays the envelope, the JSON
  access and the error test.
- The check and one noop call warm up; then calls run back to back until
  the run's seconds are used. A traced run alternates untraced and traced calls so the tracing
  overhead is the difference of their medians.
- Check (before the timed calls): line count and an order-independent
  hash of the engine's lines equal the pure-Python render in
  ``reference``.
"""

from __future__ import annotations

import os
import time

import datagen
import harness
import reference
from harness import Metric

SIZES = {"full": 1_000_000, "tiny": 20_000}
STAGE_REPS = 3


def _stage(table, splits: int, k: int) -> str:
    out = os.path.join(harness.WORK_DIR, f"records-{k}")
    datagen.write_splits(table, out, splits)
    return out


def run(spark_conf, args, tracer, outcome) -> None:
    from pyspark.sql import functions as F

    n = SIZES[args.scale]
    splits = 4 * harness.cpu_count()
    table = datagen.kinesis_records(args.seed, n)
    with tracer.span("render_batch.reference"):
        want_n, want_h = reference.table_summary(table, harness.cpu_count(), harness.WORK_DIR)
    if args.wrong_expected:
        want_h += 1
    input_dir, stage_times = harness.timed_reps(
        lambda k: _stage(table, splits, k), STAGE_REPS)

    with tracer.span("session.get_spark"):
        spark, get_spark_s = harness.start_session("perfbench-render_batch", spark_conf)
    try:
        from kinesis_log_watcher_spark.sources.files import read_raw_records
        from kinesis_log_watcher_spark import watcher

        ledger = harness.JobLedger(spark, tracer.run_id) if tracer.enabled else None

        def call(traced: bool):
            """One render call; returns (seconds, exec seconds, stats, phases)."""
            group = ledger.new_group() if traced else None
            t0 = time.perf_counter()
            with tracer.span("render_batch.call", traced=traced):
                records = read_raw_records(spark, input_dir)
                lines = watcher.build_lines(records, reference.TEMPLATE)
                phases = harness.catalyst_phases(lines) if traced else None
                t_exec = time.perf_counter()
                with tracer.span("watcher.exec"):
                    lines.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            stats = None
            if traced:
                ledger.clear_group()
                stats = ledger.stats(group)
            return t1 - t0, t1 - t_exec, stats, phases

        with harness.traced_layers(tracer):
            # The check renders the whole input once more than the timed
            # calls, so it also serves as the first warm-up (JIT, codegen,
            # file listing); one noop call completes the warm-up.
            with tracer.span("render_batch.check"):
                lines = watcher.build_lines(read_raw_records(spark, input_dir), reference.TEMPLATE)
                digest = F.conv(F.substring(F.md5("line"), 1, reference.HASH_HEX_DIGITS), 16, 10)
                got = lines.agg(
                    F.count("*").alias("n"),
                    F.sum(digest.cast("decimal(38,0)")).alias("h"),
                ).collect()[0]
            call(False)
            if ledger is not None:
                ledger.mark_sql_seen()
            plain, traced, exec_s, stats, phases = [], [], [], [], []
            t_start = time.perf_counter()
            k = 0
            while (time.perf_counter() - t_start < args.seconds or len(plain) < 2
                   or (tracer.enabled and not traced)):
                is_traced = tracer.enabled and k % 2 == 1
                secs, ex, st, ph = call(is_traced)
                (traced if is_traced else plain).append(secs)
                if is_traced:
                    exec_s.append(ex)
                    stats.append(st)
                    phases.append(ph)
                k += 1
        rss = harness.peak_rss_mb(spark)
    finally:
        harness.stop_session(spark)

    got_n, got_h = int(got["n"]), int(got["h"] or 0)
    outcome.attempted = len(plain) + len(traced) + 1
    if (got_n, got_h) != (want_n, want_h):
        outcome.fail(
            outcome.attempted,
            f"render output differs: engine ({got_n} lines, hash {got_h}) vs "
            f"reference ({want_n} lines, hash {want_h})",
        )

    setup_s = get_spark_s + harness.median(stage_times)
    p50 = harness.median(plain)
    outcome.end_to_end = {
        "setup_s": Metric(setup_s, "s", len(stage_times)),
        "peak_rss_mb": Metric(rss, "MB"),
        "rows_per_s": Metric(n / p50, "1/s", len(plain)),
        "latency_p50_s": Metric(p50, "s", len(plain)),
        "latency_p90_s": Metric(harness.quantile(plain, 0.9), "s", len(plain)),
    }
    outcome.report = {
        "setup_s": outcome.end_to_end["setup_s"],
        "peak_rss_mb": outcome.end_to_end["peak_rss_mb"],
        "fail_rate": Metric(outcome.failed / outcome.attempted, "ratio", outcome.attempted),
        "rows_per_s": outcome.end_to_end["rows_per_s"],
        "call_p50_s": Metric(p50, "s", len(plain)),
        "input_rows": Metric(n, "count"),
        "splits": Metric(splits, "count"),
    }
    outcome.extra["call_s"] = plain
    if tracer.enabled:
        layers = {
            "session.get_spark_s": Metric(get_spark_s, "s"),
            "sources.stage_s": Metric(harness.median(stage_times), "s", len(stage_times)),
            "watcher.render_errors": Metric(n - got_n, "count"),
            "streaming.batches": Metric(0, "count"),
            "trace.overhead_s": Metric(harness.median(traced) - p50, "s", len(traced)),
        }
        layers.update(harness.template_layer_metrics(tracer))
        layers.update(harness.call_layer_metrics(stats, exec_s))
        layers.update(harness.phase_metrics(phases))
        outcome.layers = layers
