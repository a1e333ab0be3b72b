"""watch() — the CLI-equivalent API.

The reference CLI (README.md:9-12):

    kinesis-log-watcher [-f fmt] [-s start] [-w poll] [-O] <stream>

maps to::

    watch(records, template=fmt, start=…, poll=…, one_shot=…)

where ``records`` is any raw-record DataFrame (batch or streaming) in
RAW_KINESIS_SCHEMA. The pipeline is the reference's whole per-record path
(main.go:247-293) as one declarative plan:

    time filter (≥ t₀) → envelope projection → template render →
    drop error rows → sink

- ``start``: lookback duration (default ``5m``, main.go:66) or an absolute
  datetime; the filter sits directly on the source scan so it pushes down
  (the reference pushes it into the AT_TIMESTAMP iterator, main.go:300-305
  — same idea, Catalyst does it for parquet/connector scans).
- ``poll``: trigger interval for streaming (default ``10s``, main.go:67).
- ``one_shot``: ``Trigger.AvailableNow`` — read until caught up, then stop
  (the reference's ``-O``, main.go:89-92, 376-382).
- render errors: first one reported once, bad rows dropped, stream
  continues (main.go:283-289) — implemented in the foreachBatch sink.
"""

from __future__ import annotations

import re
import sys
import threading
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kinesis_log_watcher_spark.envelope import with_envelope
from kinesis_log_watcher_spark.template import DEFAULT_TEMPLATE, compile_template

_DURATION_RE = re.compile(r"^(\d+(?:\.\d+)?)(ms|s|m|h|d)$")
_UNIT_SECONDS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}


def parse_duration(text: str) -> timedelta:
    """Parse the CLI duration dialect (``30s``, ``5m``, ``3h``, ``1d`` —
    reference README.md:10-11, validated via time.ParseDuration at
    main.go:82-87). Composite forms like ``1h30m`` are also accepted."""
    total = 0.0
    pos = 0
    for m in re.finditer(r"(\d+(?:\.\d+)?)(ms|s|m|h|d)", text):
        if m.start() != pos:
            raise ValueError(f"invalid duration: {text!r}")
        total += float(m.group(1)) * _UNIT_SECONDS[m.group(2)]
        pos = m.end()
    if pos != len(text) or pos == 0:
        raise ValueError(f"invalid duration: {text!r}")
    return timedelta(seconds=total)


@dataclass
class RenderErrorReporter:
    """Report-first-error-once across micro-batches (reference keeps an
    atomic print-once flag, main.go:245, 283-286)."""

    reported: bool = False
    dropped_rows: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def observe(self, n_errors: int, sample: str | None) -> None:
        if n_errors <= 0:
            return
        with self._lock:
            self.dropped_rows += n_errors
            if not self.reported:
                self.reported = True
                print(
                    f"error rendering record (first of {n_errors} in batch): "
                    f"{sample!r}; further errors suppressed",
                    file=sys.stderr,
                )


def _start_cutoff(
    start: str | datetime | timedelta | None, now: datetime | None
) -> datetime | None:
    if start is None:
        return None
    if isinstance(start, datetime):
        return start
    if isinstance(start, str):
        start = parse_duration(start)
    if isinstance(start, timedelta):
        if now is None:
            raise ValueError(
                "relative start requires now= (tests pass a fixed time; "
                "prod passes datetime.now(timezone.utc))"
            )
        return now - start
    raise TypeError(f"unsupported start: {start!r}")


def _render_fn_lines(env: DataFrame, render_fn) -> DataFrame:
    """UDF escape hatch for templates beyond the compiled dialect.

    ``render_fn(row: dict) -> str`` sees the reference's full row model
    (main.go:264-279): envelope fields plus ``Log`` — the leniently
    parsed JSON payload, None on parse failure (X4 semantics). A raised
    exception marks the row as a render error (E1 semantics: dropped,
    reported once).

    This is the SLOW PATH by design: row-at-a-time Python, ~100× slower
    than the compiled-Column path — use only for template features the
    compiler doesn't cover.
    """
    import json

    def render(ts, host_id, short_host_id, seq, log_entry):
        try:
            log = json.loads(log_entry)
        except (ValueError, TypeError):
            log = None
        row = {
            "Timestamp": ts,
            "HostId": host_id,
            "HostID": host_id,
            "ShortHostId": short_host_id,
            "ShortHostID": short_host_id,
            "SequenceNumber": seq,
            "LogEntry": log_entry,
            "Log": log,
        }
        try:
            return (str(render_fn(row)), False)
        except Exception as exc:
            return (f"render error: {exc}", True)

    udf = F.udf(render, "line string, _render_error boolean")
    out = udf(
        F.col("Timestamp"),
        F.col("HostId"),
        F.col("ShortHostId"),
        F.col("SequenceNumber"),
        F.col("LogEntry"),
    )
    return env.select(out.alias("r")).select("r.line", "r._render_error")


def build_lines(
    records: DataFrame,
    template: str = DEFAULT_TEMPLATE,
    start: str | datetime | timedelta | None = None,
    now: datetime | None = None,
    keep_errors: bool = False,
    render_fn=None,
) -> DataFrame:
    """The full watch pipeline as a DataFrame of rendered lines.

    Works for batch and streaming inputs alike (same logical plan). With
    ``keep_errors`` the error flag is kept for the sink to report/count.
    ``render_fn`` switches rendering to the Python escape hatch (see
    _render_fn_lines) instead of the compiled template.
    """
    compiled = None if render_fn is not None else compile_template(template)
    df = records
    cutoff = _start_cutoff(start, now)
    if cutoff is not None:
        # Filter on the raw scan column → pushes into the parquet scan /
        # connector start position (the AT_TIMESTAMP analogue).
        df = df.filter(
            F.col("approximateArrivalTimestamp") >= F.lit(cutoff.replace(tzinfo=None))
        )
    env = with_envelope(df)
    if render_fn is not None:
        lines = _render_fn_lines(env, render_fn)
        if keep_errors:
            return lines
        return lines.filter(~F.col("_render_error")).select("line")
    if keep_errors:
        return compiled.apply_with_errors(env)
    return compiled.apply(env)


# Library default for watch(max_lines=…): bounded, so the default plan
# carries a CollectLimit and no call can silently materialize an
# unbounded result on the driver. Pass max_lines=None to opt into the
# reference-faithful unbounded stream (the CLI does — it pipes every
# line to stdout exactly like the reference's single-process tailer).
DEFAULT_MAX_LINES = 100_000

# max_lines=None callers opted into unbounded driver materialization;
# past this row count that choice is probably a mistake at scale, so
# say so once (the collect is the API contract — the warning is the
# guard, distributed_sink= is the fix).
UNBOUNDED_WARN_ROWS = DEFAULT_MAX_LINES


def _warn_unbounded(n_rows: int) -> None:
    import warnings

    warnings.warn(
        f"watch(max_lines=None) materialized {n_rows} lines on the "
        f"driver (> {UNBOUNDED_WARN_ROWS}); for large inputs pass "
        "distributed_sink= to emit on the executors, or keep a finite "
        "max_lines",
        RuntimeWarning,
        stacklevel=3,
    )


def _warn_truncated(max_lines: int) -> None:
    """Loud, non-silent truncation: the reference streams every line
    (main.go:288-292); the bounded library default must not hide loss."""
    import warnings

    warnings.warn(
        f"watch(): output truncated at max_lines={max_lines}; pass "
        "max_lines=None for the unbounded reference-faithful stream or "
        "distributed_sink= to emit on the executors",
        RuntimeWarning,
        stacklevel=3,
    )


def watch(
    records: DataFrame,
    template: str = DEFAULT_TEMPLATE,
    start: str | datetime | timedelta | None = None,
    now: datetime | None = None,
    poll: str = "10s",
    one_shot: bool = False,
    checkpoint_dir: str | None = None,
    sink=print,
    reporter: RenderErrorReporter | None = None,
    render_fn=None,
    max_lines: int | None = DEFAULT_MAX_LINES,
    distributed_sink=None,
) -> StreamingQuery | list[str] | None:
    """Run the watcher.

    Batch input → returns the rendered lines (list[str], collected).
    Streaming input → starts a foreachBatch query printing each line via
    ``sink`` and returns the StreamingQuery (caller: ``awaitTermination()``
    / ``stop()`` — the reference's SIGINT path, main.go:191-208).
    ``render_fn`` routes rendering through the Python escape hatch for
    templates beyond the compiled dialect (slow path).

    Driver-memory bounds:

    - ``max_lines=N`` (default ``DEFAULT_MAX_LINES``): at most N rendered
      lines ever reach the driver. Batch mode plans a CollectLimit
      (executors stop early); streaming mode caps each micro-batch's
      collect. ``max_lines=None`` opts into the unbounded
      reference-faithful stream (the CLI's mode — the reference streams
      every line to one stdout, main.go:288-292).
    - ``distributed_sink=fn``: batch mode emits on the EXECUTORS —
      ``fn(iter_of_lines)`` runs once per partition via
      ``foreachPartition`` and the driver never materializes a single
      line (the 100×-scale path; ``fn`` must be picklable). Returns
      None; render-error totals still reach ``reporter`` via an
      aggregate (a count, not a collect).
    """
    reporter = reporter or RenderErrorReporter()
    lines = build_lines(
        records, template, start=start, now=now, keep_errors=True,
        render_fn=render_fn,
    )

    def observe_errors_via_agg(df: DataFrame) -> None:
        """Error count + first sample as a tiny aggregate row — never a
        data collect."""
        stats = (
            df.filter(F.col("_render_error"))
            .agg(F.count("*").alias("n"), F.first("line").alias("sample"))
            .collect()[0]
        )
        if stats["n"]:
            reporter.observe(stats["n"], stats["sample"])

    if not lines.isStreaming:
        ok = lines.filter(~F.col("_render_error")).select("line")
        if distributed_sink is not None:
            observe_errors_via_agg(lines)
            fn = distributed_sink
            ok.foreachPartition(lambda it: fn(r["line"] for r in it))
            return None
        if max_lines is not None:
            # Two jobs by design: the error count is an aggregate over
            # ALL rows (one full render pass, tiny driver result), while
            # the limited collect early-exits at max_lines (partial
            # pass). Total executor work ≈ 1 full + 1 partial render —
            # the price of bounded driver memory with complete error
            # reporting.
            observe_errors_via_agg(lines)
            # Fetch one row past the cap so truncation is detectable:
            # silently returning a shorter list would hide data loss
            # from library callers.
            rows = ok.limit(max_lines + 1).collect()
            if len(rows) > max_lines:
                _warn_truncated(max_lines)
                rows = rows[:max_lines]
            return [r["line"] for r in rows]
        rows = lines.collect()
        if len(rows) > UNBOUNDED_WARN_ROWS:
            _warn_unbounded(len(rows))
        bad = [r for r in rows if r["_render_error"]]
        if bad:
            reporter.observe(len(bad), bad[0]["line"])
        return [r["line"] for r in rows if not r["_render_error"]]

    def emit_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if max_lines is not None:
            observe_errors_via_agg(batch_df)
            rows = (
                batch_df.filter(~F.col("_render_error"))
                .limit(max_lines + 1)
                .collect()
            )
            if len(rows) > max_lines:
                _warn_truncated(max_lines)
                rows = rows[:max_lines]
            for r in rows:
                sink(r["line"])
            if sink is print:
                sys.stdout.flush()
            return
        rows = batch_df.collect()
        if len(rows) > UNBOUNDED_WARN_ROWS:
            _warn_unbounded(len(rows))
        n_err = sum(1 for r in rows if r["_render_error"])
        if n_err:
            sample = next(r["line"] for r in rows if r["_render_error"])
            reporter.observe(n_err, sample)
        for r in rows:
            if not r["_render_error"]:
                sink(r["line"])
        # per-batch flush ≙ the reference's os.Stdout.Sync() (main.go:292)
        if sink is print:
            sys.stdout.flush()

    writer = lines.writeStream.foreachBatch(emit_batch).outputMode("append")
    if checkpoint_dir:
        # durable offsets — the corrected version of the reference's
        # in-memory sequence-number resume (main.go:320-363, W4)
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if one_shot:
        writer = writer.trigger(availableNow=True)  # -O (main.go:89-92)
    else:
        interval = parse_duration(poll)
        writer = writer.trigger(processingTime=f"{interval.total_seconds()} seconds")
    return writer.start()
