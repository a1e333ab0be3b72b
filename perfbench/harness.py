"""Shared plumbing for the benchmark workloads: environment, Spark session
lifetime, host telemetry, memory, statistics, tracing and the result line.

Nothing here imports the engine at module load; ``start_session`` does,
after the environment (CPU count, temp and local dirs) is pinned.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = os.path.join(BENCH_DIR, "_work")
# Driver JVM heap, fixed at start (initial = maximum): with the JVM's
# default small initial heap, when G1 grows the heap varies run to run, and
# both peak RSS and render time followed it.
DRIVER_HEAP = "1g"


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (inclusive), q in [0, 1]."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def timed_reps(fn, reps: int):
    """Call ``fn(k)`` for k in range(reps); returns the last result and the
    wall time of each call."""
    times, out = [], None
    for k in range(reps):
        t0 = time.perf_counter()
        out = fn(k)
        times.append(time.perf_counter() - t0)
    return out, times


# ---------------------------------------------------------------------------
# outcome of one run
# ---------------------------------------------------------------------------


@dataclass
class Metric:
    value: float
    unit: str
    n: int = 1  # samples behind the value


@dataclass
class Outcome:
    """What a workload measured. ``end_to_end`` holds the metrics every
    workload reports (names in BENCHMARK.json); ``report`` holds the
    workload's own names for them plus anything else worth printing;
    ``layers`` holds the per-layer metrics of a traced run."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    end_to_end: dict[str, Metric] = field(default_factory=dict)
    report: dict[str, Metric] = field(default_factory=dict)
    layers: dict[str, Metric] = field(default_factory=dict)
    extra: dict[str, Any] = field(default_factory=dict)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)


# ---------------------------------------------------------------------------
# environment and session
# ---------------------------------------------------------------------------


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def fresh_work_dir() -> str:
    """An empty per-run work directory inside the checkout; every file a
    run writes (inputs, checkpoints, Spark scratch, temp files) goes here."""
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    os.makedirs(os.path.join(WORK_DIR, "tmp"))
    return WORK_DIR


def pin_environment() -> dict[str, str]:
    """Environment and Spark confs that must be set before the JVM starts:
    ``local[nproc]``, the fixed driver heap, and temp/local dirs inside the
    work directory."""
    tmp = os.path.join(WORK_DIR, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    # No hsperfdata files in the system temp dir, from the launcher JVM or
    # the driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(app_name: str, extra_conf: dict[str, str]):
    """Start the engine's session; returns (spark, seconds)."""
    from kinesis_log_watcher_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name, extra_conf=extra_conf)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave it behind
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus its JVM child."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid(spark)
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


# ---------------------------------------------------------------------------
# host telemetry
# ---------------------------------------------------------------------------


def _cpu_ticks() -> dict[str, int]:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return {n: int(v) for n, v in zip(names, parts[1:9])}


class HostTelemetry:
    """CPU count, steal, busy time and load average over the run, from
    ``/proc/stat`` (USER_HZ = 100), so runs on different hosts or under a
    noisy neighbour are not compared blindly."""

    def __init__(self) -> None:
        self._ticks = _cpu_ticks()
        self._load = os.getloadavg()

    def finish(self) -> dict[str, Any]:
        after = _cpu_ticks()
        d = {k: after[k] - self._ticks[k] for k in after}
        return {
            "cpus": cpu_count(),
            "steal_s": d["steal"] / 100.0,
            "busy_s": (d["user"] + d["nice"] + d["system"]) / 100.0,
            "iowait_s": d["iowait"] / 100.0,
            "load_before": list(self._load),
            "load_after": list(os.getloadavg()),
        }


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id) written out at the
    end of the run. Parents follow the calling thread's open spans."""

    enabled = True

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": self.run_id,
            "attrs": attrs,
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_name(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name]

    def mean_self(self, name: str) -> float:
        st = self.self_times()
        xs = [st[s["id"]] for s in self.by_name(name)]
        return sum(xs) / len(xs) if xs else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans,
                 "self_s": {str(k): v for k, v in self.self_times().items()}},
                fh,
            )


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    enabled = False
    bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


def new_tracer(trace: bool, workload: str, seed: int):
    if not trace:
        return NullTracer()
    return Tracer(f"{workload}-{seed}-{uuid.uuid4().hex[:8]}")


@contextlib.contextmanager
def traced_layers(tracer):
    """While tracing, wrap the engine's public layer entry points so that
    every call into them (from the benchmark or from inside the engine)
    records a span. The engine's source is not modified; the original
    functions are restored on exit."""
    if not tracer.enabled:
        yield
        return
    from kinesis_log_watcher_spark import envelope, template, watcher

    originals = [
        (template, "compile_template"),
        (watcher, "compile_template"),
        (watcher, "build_lines"),
        (watcher, "with_envelope"),
        (envelope, "with_envelope"),
    ]
    saved = [(mod, name, getattr(mod, name)) for mod, name in originals]
    span_names = {
        "compile_template": "template.compile",
        "build_lines": "watcher.build_lines",
        "with_envelope": "envelope.with_envelope",
    }

    def wrap(fn, span_name):
        def traced(*args, **kwargs):
            with tracer.span(span_name) as rec:
                out = fn(*args, **kwargs)
                if span_name == "template.compile":
                    rec["attrs"]["prep_columns"] = len(out.prep)
                return out

        traced.__wrapped__ = fn
        return traced

    for mod, name, fn in saved:
        setattr(mod, name, wrap(fn, span_names[name]))
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


# ---------------------------------------------------------------------------
# Spark job accounting (traced runs)
# ---------------------------------------------------------------------------


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _parse_size_total(text: str) -> float:
    """Bytes from a formatted SQL size metric ("1602.9 KiB" or
    "total (min, med, max ...)\\n1602.9 KiB (...)")."""
    for line in text.splitlines():
        parts = line.strip().split()
        if len(parts) >= 2 and parts[1] in _SIZE_UNITS:
            try:
                return float(parts[0].replace(",", "")) * _SIZE_UNITS[parts[1]]
            except ValueError:
                continue
    return 0.0


@dataclass
class CallStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    stage_busy_s: float = 0.0  # wall time covered by at least one stage
    python_mb_sent: float = 0.0
    python_mb_returned: float = 0.0


class JobLedger:
    """Job, stage, task and executor counters for a set of Spark jobs,
    found by job group. Each call gets a unique group, so counts are per
    call and never accumulate across calls."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self._n = 0
        self._seen_sql = -1

    def new_group(self) -> str:
        self._n += 1
        group = f"{self.run_id}-call{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def clear_group(self) -> None:
        self.sc._jsc.clearJobGroup()

    def stats(self, group: str) -> CallStats:
        st = self.sc.statusTracker()
        job_ids = set(st.getJobIdsForGroup(group))
        store = self.sc._jsc.sc().statusStore()
        out = CallStats(jobs=len(job_ids))
        intervals = []
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                try:
                    d = store.lastStageAttempt(s)
                except Exception:  # noqa: BLE001 - a stage that never ran has no data
                    continue
                if str(d.status()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += d.numCompleteTasks()
                out.executor_run_s += d.executorRunTime() / 1000.0
                out.executor_cpu_s += d.executorCpuTime() / 1e9
                out.gc_s += d.jvmGcTime() / 1000.0
                out.shuffle_read_mb += d.shuffleReadBytes() / 1024**2
                out.shuffle_write_mb += d.shuffleWriteBytes() / 1024**2
                sub, done = d.submissionTime(), d.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
        out.stage_busy_s = _union_ms(intervals) / 1000.0
        self._python_bytes(job_ids, out)
        return out

    def _python_bytes(self, job_ids: set[int], out: CallStats) -> None:
        """Bytes sent to / returned from Python workers, from the SQL
        metrics of the executions that ran these jobs."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.executionId() <= self._seen_sql:
                continue
            jobs = ex.jobs()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = sql.executionMetrics(ex.executionId())
            seen = set()
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                name = m.name()
                if name not in ("data sent to Python workers",
                                "data returned from Python workers"):
                    continue
                v = values.get(m.accumulatorId())
                mb = (_parse_size_total(v.get()) if v.isDefined() else 0.0) / 1024**2
                if name.startswith("data sent"):
                    out.python_mb_sent += mb
                else:
                    out.python_mb_returned += mb

    def mark_sql_seen(self) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        if execs.size():
            self._seen_sql = execs.apply(execs.size() - 1).executionId()


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total = 0.0
    cur = None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst analysis / optimization / planning ms of a DataFrame's
    query execution (forces optimization and physical planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def mean_stats(items: list[CallStats]) -> CallStats:
    out = CallStats()
    if not items:
        return out
    for f in out.__dataclass_fields__:
        setattr(out, f, sum(getattr(i, f) for i in items) / len(items))
    return out


def scale_stats(total: CallStats, n: int) -> CallStats:
    """Per-call averages from totals over ``n`` calls."""
    out = CallStats()
    for f in out.__dataclass_fields__:
        setattr(out, f, getattr(total, f) / max(1, n))
    return out


def call_layer_metrics(calls: list[CallStats], exec_s: list[float]) -> dict[str, Metric]:
    """Per-call Spark-side split shared by every workload."""
    n = len(calls)
    m = mean_stats(calls)
    mean_exec = sum(exec_s) / len(exec_s) if exec_s else 0.0
    return {
        "spark.calls": Metric(n, "count", n),
        "spark.jobs_per_call": Metric(m.jobs, "count", n),
        "spark.stages_per_call": Metric(m.stages, "count", n),
        "spark.tasks_per_call": Metric(m.tasks, "count", n),
        "spark.exec_s": Metric(mean_exec, "s", len(exec_s)),
        "spark.executor_run_s": Metric(m.executor_run_s, "s", n),
        "spark.executor_cpu_s": Metric(m.executor_cpu_s, "s", n),
        "spark.gc_s": Metric(m.gc_s, "s", n),
        "spark.shuffle_read_mb": Metric(m.shuffle_read_mb, "MB", n),
        "spark.shuffle_write_mb": Metric(m.shuffle_write_mb, "MB", n),
        "spark.sched_overhead_s": Metric(max(0.0, mean_exec - m.stage_busy_s), "s", n),
        "operators.python_mb_sent": Metric(m.python_mb_sent, "MB", n),
        "operators.python_mb_returned": Metric(m.python_mb_returned, "MB", n),
    }


def phase_metrics(phases: list[dict[str, float]]) -> dict[str, Metric]:
    """Mean Catalyst phase times per call; ``catalyst.plan_ms`` is
    optimization plus physical planning (what a streaming progress reports
    as ``queryPlanning``)."""
    n = len(phases)

    def mean(key: str) -> float:
        return sum(p[key] for p in phases) / n if n else 0.0

    return {
        "catalyst.analysis_ms": Metric(mean("analysis"), "ms", n),
        "catalyst.optimization_ms": Metric(mean("optimization"), "ms", n),
        "catalyst.planning_ms": Metric(mean("planning"), "ms", n),
        "catalyst.plan_ms": Metric(mean("optimization") + mean("planning"), "ms", n),
    }


def template_layer_metrics(tracer) -> dict[str, Metric]:
    """Compile and build_lines self times from the wrapped layer calls."""
    compiles = tracer.by_name("template.compile")
    builds = tracer.by_name("watcher.build_lines")
    prep = [s["attrs"].get("prep_columns", 0) for s in compiles]
    return {
        "template.compile_s": Metric(tracer.mean_self("template.compile"), "s", len(compiles)),
        "template.prep_columns": Metric(sum(prep) / len(prep) if prep else 0, "count", len(prep)),
        "watcher.plan_s": Metric(tracer.mean_self("watcher.build_lines"), "s", len(builds)),
        "envelope.with_envelope_s": Metric(
            tracer.mean_self("envelope.with_envelope"), "s",
            len(tracer.by_name("envelope.with_envelope")),
        ),
    }


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def _num(x: float) -> float | int:
    return x if isinstance(x, int) else float(x)


def emit(workload: str, seed: int, trace: bool, outcome: Outcome,
         host: dict[str, Any], metric_names: list[str]) -> None:
    """Print the human-readable report line, then the result line (last)."""
    report = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "fail_rate": outcome.failed / max(1, outcome.attempted),
        "problems": outcome.problems[:10],
        "host": host,
        "metrics": {
            k: {"value": _num(m.value), "unit": m.unit, "n": m.n}
            for k, m in {**outcome.report, **outcome.layers}.items()
        },
        **outcome.extra,
    }
    print(json.dumps({"report": report}), flush=True)
    source = outcome.layers if trace else outcome.end_to_end
    missing = [n for n in metric_names if n not in source]
    if missing:
        raise RuntimeError(f"workload did not measure: {missing}")
    result = {
        "correct": outcome.failed == 0,
        "attempted": int(outcome.attempted),
        "failed": int(outcome.failed),
        "metrics": {
            n: {"value": _num(source[n].value), "unit": source[n].unit}
            for n in metric_names
        },
    }
    print(json.dumps(result), flush=True)
