"""File-based record sources (batch + streaming).

The reference reads only from Kinesis (main.go:148-243); for offline
correctness the same logical stream is a parquet/json directory with the
RAW_KINESIS_SCHEMA. Structured Streaming's file source gives the same
micro-batch semantics the connector would (SURVEY.md §1.1).

:func:`read_parquet` and :func:`read_parquet_stream` are the one input
path for the registry's table reads (``queries/base.load`` and
``load_stream``) and for every replay runner in ``streaming/``. They own
the two things each such read needs: they apply the session confs first
(``session.ensure_session_confs``: nanosAsLong, UTC), so a bare session
reads the testdata correctly, and they normalize the ``ts`` layouts
(``functions/tscompat.normalize_ts_cols``), so every caller sees
session-zone ``TimestampType``. Callers neither set confs nor normalize.

:func:`stage_replay_files` is the one stager: one partitioned write
turns each value of a part column into one mtime-ordered file, so a
``maxFilesPerTrigger=1`` replay runs one micro-batch per part, in order.

:func:`drain_replay` is the one place a bounded replay starts: it owns
the trigger (AvailableNow), the replay partition scope and the timeout,
for every sink (memory, ``foreachBatch``, parquet). :func:`run_replay`
is its memory-sink caller: every memory-sink streaming operator is a
declarative query handed to it, and it adds the sink and the query
naming. The timeout is one constant, ``REPLAY_TIMEOUT_S``: a bounded
replay that runs out of it is hung, so there is nothing for a caller to
tune.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession

from kinesis_log_watcher_spark.envelope import RAW_KINESIS_SCHEMA
from kinesis_log_watcher_spark.functions.tscompat import normalize_ts_cols
from kinesis_log_watcher_spark.session import ensure_session_confs


# JSON/CSV are text formats: without an explicit pattern, timestamps
# round-trip at millisecond precision and lose the microseconds the
# envelope carries (arrival timestamps are µs, SURVEY.md §1.3).
TEXT_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def read_raw_records(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Batch read of a raw-record directory."""
    reader = spark.read.format(fmt).schema(RAW_KINESIS_SCHEMA)
    if fmt in ("json", "csv"):
        reader = reader.option("timestampFormat", TEXT_TS_FORMAT)
    return reader.load(path)


def read_raw_records_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of a raw-record directory.

    ``maxFilesPerTrigger`` is the file-source analogue of the reference's
    10k-records-per-GetRecords batch cap (main.go:218) — it bounds
    micro-batch size for backpressure.
    """
    reader = spark.readStream.format(fmt).schema(RAW_KINESIS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def compact_dataset(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    target_files: int,
    sort_col: str,
) -> DataFrame:
    """Small-files compaction — the storage-maintenance pass every
    large table needs (a 100 TB table accreting thousands of tiny
    micro-batch/task outputs reads orders of magnitude slower than the
    same bytes in right-sized files).

    Rewrites ``src_dir`` as ``target_files`` range-partitioned files
    sorted within each file by ``sort_col``: range partitioning gives
    non-overlapping per-file min/max on the sort column (parquet
    row-group statistics then prune file scans for range predicates),
    and the in-file sort maximizes RLE/dictionary compression. One
    range-exchange shuffle, no driver materialization. Returns the
    compacted dataset re-read from disk."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(src_dir)
    (
        df.repartitionByRange(target_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(dest_dir)
    )
    return spark.read.parquet(dest_dir)


def read_parquet(
    spark: SparkSession, path: str, nanos_bigint_cols: tuple[str, ...] = ("ts",)
) -> DataFrame:
    """Batch read of a parquet dataset, confs applied and ``ts``
    normalized (see the module docstring). ``nanos_bigint_cols`` is
    handed to ``normalize_ts_cols``: the bigint columns that hold
    legacy nanosecond epochs."""
    ensure_session_confs(spark)
    return normalize_ts_cols(spark.read.parquet(path), nanos_bigint_cols)


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    nanos_bigint_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Streaming twin of :func:`read_parquet` (schema inferred from a
    batch read). Accepts a single FILE as well as a directory — the
    file stream source wants a directory, so a file path is turned
    into (parent dir + pathGlobFilter) here, ONCE, for every replay."""
    ensure_session_confs(spark)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isfile(path):
        # pathGlobFilter is a GLOB (Hadoop GlobPattern: * ? [..] {..} \),
        # not a literal — backslash-escape metacharacters so a filename
        # containing them matches itself only.
        base = re.sub(r"([\\*?\[\]{}])", r"\\\1", os.path.basename(path))
        reader = reader.option("pathGlobFilter", base)
        path = os.path.dirname(path)
    return normalize_ts_cols(reader.parquet(path), nanos_bigint_cols)


# replay_partitions state: one depth counter + saved conf per session,
# guarded by a lock, so OVERLAPPING replays (the test harnesses run
# 12-wide thread pools against one session) compose: the first entry
# saves the session value and scopes down, nested/concurrent entries
# ride the already-reduced value, and only the LAST exit restores —
# never a stale 'prev' captured mid-scope by a sibling thread.
_REPLAY_LOCK = threading.Lock()
_REPLAY_SCOPES: dict[int, list] = {}  # id(jsparkSession) -> [depth, prev]


def python_state_partitions() -> int:
    """Replay partition count for PYTHON-stateful operators over
    HIGH-CARDINALITY keys (per-user sessionizers/limiters: thousands of
    groups, each group a Python invocation per micro-batch).

    For those, the state-store partition count is also the
    Python-worker parallelism, so the sweet spot scales with cores
    instead of being the fixed overhead-minimizing 2 that JVM-stateful
    replays want: measured at sf0.1 (32 cores) on the timer
    sessionizer, n=2 -> 11-16s vs n=16 -> 4-5s with identical output,
    with the curve flat past 16 (state-store instances start to cost).
    Few-group Python operators (keyed by event_type, ~5 groups) LOSE
    at 16 — parallelism is capped by group count while every partition
    still pays state machinery — so they keep the small default.
    Derived from $SPARK_GRAFT_CPUS so the driver's low-core scaling
    bench sees a proportionally smaller count, never a 32-core
    constant."""
    return max(2, min(16, _env_count("SPARK_GRAFT_CPUS", os.cpu_count() or 4)))


def _env_count(name: str, default: int) -> int:
    """Defensive env parse for partition counts: a malformed or
    non-positive value falls back to the default instead of raising at
    query start (or silently producing an invalid shuffle-partition
    count)."""
    try:
        n = int(os.environ.get(name, "") or default)
    except ValueError:
        return default
    return n if n >= 1 else default


@contextlib.contextmanager
def replay_partitions(spark, n: int | None = None):
    """Scope ``spark.sql.shuffle.partitions`` down for a BOUNDED replay.

    Stateful streaming fixes its state-store partition count from this
    conf at the first micro-batch; at the default 32, a tiny 3-batch
    replay pays 32 state-store instances per stateful operator per
    batch — pure fixed overhead (measured 14.5s -> 3.5s on the chained
    two-level aggregation at sf0.001; a further ~15% per replay going
    4 -> 2, measured on the neardup replay — still multi-partition, so
    cross-partition state merge stays exercised). Replay results are partitioning-
    independent by the repo's determinism contract (order-free state
    merges, exact arithmetic), so the replay harnesses wrap their
    start+await in this scope. Production streams keep the session
    default — this is bounded-replay plumbing only, like the memory
    sink. (Structured Streaming clones the session conf at query
    start, so restoring after the replay cannot affect the running
    query.)

    :func:`drain_replay`, where every bounded replay starts, opens this
    scope; no caller opens it itself.

    ``n`` defaults to 4 (a 2-vs-4-vs-8 sweep over twelve JVM-stateful
    replays at sf0.1 put 4 first or tied-first on ten of them, e.g.
    two-level agg 4.0s -> 3.1s, watermark dedup 1.8s -> 1.3s;
    stream-stream JOINS still pin n=2: their per-partition cost is four
    join state stores, and the sweep read 5.6s/6.3s/10.2s at 2/4/8 on
    the full-outer replay). Callers
    whose per-group work crosses the Python boundary
    (applyInPandasWithState operators) pass a
    larger explicit ``n``: their micro-batch cost is ~|groups| Python
    invocations, and the state-store partition count is also the
    Python-worker parallelism — measured at sf0.1 on the timer
    sessionizer, n=2 -> 11-16s vs n=16 -> 4-5s replay wall with
    identical output. JVM-stateful replays (window aggregations,
    stream-stream joins) keep the small default: their per-partition
    cost is state-store fixed overhead, not parallelizable compute.

    Reentrant and thread-safe: concurrent scopes on one session share
    the first entrant's reduced value (their replays are equally happy
    at any small count) and the session value is restored exactly once,
    at depth 0. A concurrent BATCH query planned during a replay still
    sees the reduced count — that is the documented, perf-only trade
    the partitioning-independence contract allows."""
    if n is None:
        n = 4
    key = "spark.sql.shuffle.partitions"
    sid = id(spark)
    with _REPLAY_LOCK:
        scope = _REPLAY_SCOPES.get(sid)
        if scope is None:
            prev = spark.conf.get(key)
            try:
                target = min(n, int(prev))  # only ever scope DOWN
            except ValueError:  # e.g. "auto" under AQE-managed settings
                target = n
            spark.conf.set(key, str(target))
            _REPLAY_SCOPES[sid] = scope = [1, prev]
        else:
            scope[0] += 1
    try:
        yield
    finally:
        with _REPLAY_LOCK:
            scope = _REPLAY_SCOPES[sid]
            scope[0] -= 1
            if scope[0] == 0:
                del _REPLAY_SCOPES[sid]
                spark.conf.set(key, scope[1])


# Hang detector for every bounded replay, not a tuning knob (see the
# module docstring).
REPLAY_TIMEOUT_S = 300

_REPLAY_IDS = itertools.count()


def await_or_raise(query) -> None:
    """awaitTermination that REFUSES to return a partial answer: a
    bounded replay that hasn't terminated within ``REPLAY_TIMEOUT_S``
    raises instead of letting the caller read a half-populated sink."""
    if not query.awaitTermination(REPLAY_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming replay did not finish within {REPLAY_TIMEOUT_S}s; "
            "partial sink contents would be silently wrong"
        )


def drain_replay(writer, partitions: int | None = None) -> None:
    """Run the bounded streaming query that the ``DataStreamWriter``
    ``writer`` describes (sink, checkpoint and name already set) to its
    end: Trigger.AvailableNow (the reference's -O one-shot,
    main.go:89-92), started inside :func:`replay_partitions` with
    ``partitions``, and awaited by :func:`await_or_raise`. Every bounded
    replay in the package starts here, whatever its sink."""
    with replay_partitions(writer._spark, partitions):
        await_or_raise(writer.trigger(availableNow=True).start())


def run_replay(
    df: DataFrame, mode: str, name: str, partitions: int | None = None
) -> DataFrame:
    """Drain the bounded streaming query ``df`` once (:func:`drain_replay`)
    into a memory sink in ``mode`` ("append"/"complete"/"update") and
    return the sink as a static table.

    The sink is named ``{name}_{n}`` with ``n`` from one process-wide
    counter, so concurrent replays of the same operator never share a
    table and the query name keeps the operator's prefix for progress
    listeners. ``partitions`` is handed to :func:`replay_partitions`.
    Raises ``TimeoutError`` (after stopping the query) if the replay
    does not finish within ``REPLAY_TIMEOUT_S``. Test-scale plumbing:
    production streams are unbounded and never land in a memory sink."""
    table = f"{name}_{next(_REPLAY_IDS)}"
    drain_replay(
        df.writeStream.outputMode(mode).format("memory").queryName(table),
        partitions,
    )
    return df.sparkSession.table(table)


def morton_code(a, b, bits: int = 16):
    """Interleave the low ``bits`` bits of two non-negative int columns
    into a Z-order (Morton) code — the multi-column clustering key
    behind Z-ORDER data layout: sorting by it keeps rows close in BOTH
    dimensions close in the file order, so parquet min/max statistics
    prune scans filtered on EITHER column (a single-column sort only
    prunes its own column). Pure codegen'd bit arithmetic, no UDF."""
    from pyspark.sql import functions as F

    one = F.lit(1).cast("long")
    code = F.lit(0).cast("long")
    for i in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(a.cast("long"), i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b.cast("long"), i).bitwiseAND(one), 2 * i + 1)
        )
    return code


def zorder_write(
    df: DataFrame,
    dest_dir: str,
    col_a: str,
    col_b: str,
    target_files: int,
    bits: int = 16,
) -> DataFrame:
    """Rewrite a dataset clustered by the Morton code of (col_a, col_b):
    range-partitioned into ``target_files`` files and sorted within each
    by the code — Z-ORDER compaction. One range-exchange shuffle."""
    from pyspark.sql import functions as F

    z = morton_code(F.col(col_a), F.col(col_b), bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(target_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(dest_dir)
    )
    spark = df.sparkSession
    return spark.read.parquet(dest_dir)


def stage_replay_files(
    df: DataFrame, part_col: str, n_parts: int, prefix: str = "replay_"
) -> str:
    """Stage ``df`` as a replay directory of ``n_parts`` parts: the rows
    whose integer ``part_col`` is ``i`` become ONE parquet file
    ``f{i}.parquet``, mtime-ordered by ``i``, so a
    ``maxFilesPerTrigger=1`` replay consumes them as one micro-batch
    each, in exactly this order. The part column is a layout key, not
    data: the files do not carry it. A row whose part is NULL or outside
    ``0..n_parts-1`` belongs to no part and is dropped (as a ``filter``
    would drop it). An empty part becomes a 0-row file (an empty
    micro-batch), so a part never disappears from the batch sequence.

    One write job stages every part, so ``df`` is scanned once; a batch
    with no source table (a watermark sentinel) joins ``df`` as a
    ``union`` with a literal part. Test-scale plumbing: production
    streams are unbounded and never staged."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from kinesis_log_watcher_spark.staging import scratch_dir

    replay = scratch_dir(prefix=prefix)
    stage = os.path.join(replay, "_staged")
    # repartitionById sends part i to write task i, which writes the
    # part's one file as part-{i:05d}-*; an empty part's task writes none
    part = F.col(part_col)
    (
        df.filter(part.between(0, n_parts - 1))
        .repartitionById(n_parts, part.cast("int"))
        .drop(part_col)
        .write.parquet(stage)
    )
    for i in range(n_parts):
        dest = os.path.join(replay, f"f{i}.parquet")
        files = _glob.glob(os.path.join(stage, f"part-{i:05d}-*.parquet"))
        if not files:
            empty = os.path.join(stage, f"_empty{i}")
            df.drop(part_col).limit(0).coalesce(1).write.parquet(empty)
            files = _glob.glob(os.path.join(empty, "part-*.parquet"))
        (src,) = files
        shutil.move(src, dest)
        os.utime(dest, (1_700_000_000 + 10 * i,) * 2)
    shutil.rmtree(stage)
    return replay
