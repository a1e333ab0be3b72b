"""SparkSession factory with scale-appropriate defaults.

The engine targets very large inputs on multi-executor clusters; the same
configs are correct (and testable) on ``local[N]``:

- AQE on: runtime re-planning, skew-join splitting, partition coalescing —
  the knobs that keep a 100 TB shuffle healthy without hand-tuning.
- UTC session timezone: parquet timestamps compare cleanly against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: Pandas-UDF paths (similarity search, multimodal) move
  columnar batches, not pickled rows.
- broadcast threshold left at default (10 MB) — dimension tables (region /
  nation / supplier / part at any realistic SF) broadcast; fact-fact joins
  shuffle with AQE watching for skew.
- dynamic partition pruning and runtime bloom-filter joins are Spark
  defaults (verified on; tests/test_partitioned_layout.py pins DPP) —
  join-derived predicates prune fact scans at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "kinesis-log-watcher-spark"

# Streaming checkpoint file manager; get_spark's docstring says why.
CHECKPOINT_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# PySpark's DataFrame-debugging call-site capture; get_spark's docstring
# says why it is off.
DATAFRAME_DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensively apply the runtime-settable confs the engine's semantics
    depend on. Harnesses (like the driver's correctness gate) may build a
    bare SparkSession without this module's factory, so every entry point
    that reads data calls this first. Both confs are runtime-settable:

    - ``nanosAsLong``: testdata events.ts is parquet TIMESTAMP(NANOS),
      which Spark has no native type for — without the legacy conf the
      scan throws PARQUET_TYPE_ILLEGAL.
    - ``session.timeZone=UTC``: the DuckDB oracle compares UTC-naive
      timestamps; a session in another zone would skew every
      timestamp-rendering query.
    - ``canChangeCachedPlanOutputPartitioning=true``: lets AQE coalesce
      shuffle partitions THROUGH a ``.persist()`` boundary. Off (the
      default), a cached relation pins its pre-AQE partition count and
      every downstream stage of an iterative operator (PageRank,
      connected components) schedules that many tasks regardless of
      data size — measured 3x wall-clock on pagerank_two_rounds. The
      documented trade-off (cached output partitioning may change
      between runs) is irrelevant here: no query depends on a cached
      plan's physical layout, only on its rows.
    """
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # non-settable on some build: keep whatever the session has


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured; on a real cluster pass
    ``master=None`` and let spark-submit decide.

    Streaming checkpoints use ``FileSystemBasedCheckpointFileManager``
    (the manager Spark itself falls back to) instead of the default
    FileContext-based one. Without the native libhadoop, the FileContext
    API on the local filesystem forks a ``readlink`` per link-status
    probe (8 per metadata-log write) plus a ``chmod`` per file it
    creates, and every micro-batch writes three logs (``sources/0``,
    ``offsets``, ``commits``): ~30 processes per trigger, against 6
    (``chmod`` only) with this manager. Its writes are a temp file plus
    ``rename``, which is atomic on the local filesystem and on HDFS for
    the non-overwriting writes the metadata logs make.

    PySpark's DataFrame-debugging call-site capture is off. On, every
    Column method and ``F.col`` runs ``inspect.stack()`` and ~8 extra
    py4j round trips to record where it was called from, which only
    error messages read; template compilation and query building pay it
    once per expression node.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    # Consumer ergonomics: a script driving this library from any cwd
    # must still be able to run Python-worker code (mapInPandas kernels,
    # the custom DataSource) — cloudpickle serializes those by module
    # reference, so the package root has to be importable in the WORKER
    # interpreter too, not just the driver. Exporting PYTHONPATH before
    # the JVM launches covers local mode; on a real cluster the package
    # ships via --py-files/venv and this is a no-op.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    if shuffle_partitions is None:
        # local: ~1 partition per core. On a cluster this is overridden by
        # AQE coalescing from a higher initial value.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.minPartitionSize stays at the 1MB DEFAULT.
        # Round 11 lowered it to 256k on an A/B whose harness always ran
        # the new arm second (a systematic ~15% bias, found in round
        # 12); under the order-alternating harness the 256k setting
        # LOSES 11% on a 12-query basket (pagerank 2.7 -> 3.9s,
        # part_cooccurrence 2.2 -> 2.8s, five sub-1s queries +14-18%
        # each) with one winner (ppjoin 0.82x). Wider byte-light stages
        # do not pay for the extra tasks at local core counts, and at
        # production shuffle sizes the advisory target governs anyway.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS), which Spark has no
        # native type for; read as long and convert in queries.base.load().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config(CHECKPOINT_FILE_MANAGER_CONF, CHECKPOINT_FILE_MANAGER)
        .config(DATAFRAME_DEBUGGING_CONF, "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
