"""Streaming CDC upsert sink — merge-on-read over an append-only delta
store (the plain-parquet restatement of MERGE INTO).

A change stream (keyed records with a monotone ``version``) lands via
``foreachBatch`` as one delta directory per micro-batch, written with
``mode("overwrite")`` into a ``batch=<id>``-named child — re-running a
failed batch overwrites its own directory, so the sink is idempotent
under micro-batch retries (the exactly-once-to-files recipe). Nothing
is rewritten on the hot path: upsert resolution happens ON READ with
one ranking window per key (latest version wins) — the merge-on-read
pattern. Compaction of accumulated deltas into a resolved base is the
separately-covered storage-maintenance op (sources/files.compact_dataset).

At 100 TB: the sink appends only each batch's delta (no target rewrite
per trigger, unlike copy-on-write merge); the read-side window
shuffles once on the key — and in production lands on an ACID table
format, which is this exact layout plus a transaction log.
"""

from __future__ import annotations

from kinesis_log_watcher_spark.sources.files import (
    drain_replay,
    python_state_partitions,
    read_parquet_stream,
)

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


_counter = itertools.count()


def resolve_latest(
    deltas: DataFrame, key_cols: tuple[str, ...], version_col: str
) -> DataFrame:
    """Merge-on-read: latest ``version_col`` per key wins; ties broken
    by the sink batch id (later micro-batch wins), making resolution
    total and deterministic."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("batch").desc()
    )
    return (
        deltas.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_cdc_upsert(
    spark: SparkSession,
    changes_path: str,
    target_dir: str,
    key_cols: tuple[str, ...],
    version_col: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Replay ``changes_path`` as a stream, land each micro-batch as an
    idempotent delta directory under ``target_dir``, and return the
    merge-on-read resolved state."""
    stream = read_parquet_stream(
        spark, changes_path, max_files_per_trigger=max_files_per_trigger
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(target_dir, f"batch={batch_id}")
            )
        )

    name = f"cdc_upsert_{next(_counter)}"
    # python_state_partitions() here despite this being a foreachBatch
    # JVM pipeline (no per-group Python state): the helper's docstring
    # rationale doesn't apply, but the round-11 sweep measured this
    # replay FASTER at its core-derived count than at the small JVM
    # default (2.11s -> 1.87s at sf0.1) — the batch writes inside
    # foreachBatch parallelize with the partition count. Kept on the
    # measurement, not the rationale.
    drain_replay(
        stream.writeStream.foreachBatch(land)
        .queryName(name)
        .option("checkpointLocation", os.path.join(target_dir, "_checkpoint")),
        python_state_partitions(),
    )

    deltas = spark.read.option("basePath", target_dir).parquet(
        os.path.join(target_dir, "batch=*")
    )
    return resolve_latest(deltas, key_cols, version_col)


def read_deltas(spark: SparkSession, target_dir: str) -> DataFrame:
    """The landed delta store, with its ``batch`` partition column."""
    import os

    return spark.read.option("basePath", target_dir).parquet(
        os.path.join(target_dir, "batch=*")
    )


def resolve_as_of(
    deltas: DataFrame,
    key_cols: tuple[str, ...],
    version_col: str,
    as_of_batch: int,
) -> DataFrame:
    """TIME TRAVEL over the delta store: the table state as of sink
    batch ``as_of_batch`` is merge-on-read resolution over only the
    deltas landed up to it — snapshot reads fall out of the layout for
    free (this is the append-only property ACID table formats build
    their time travel on; here the batch id IS the snapshot id)."""
    return resolve_latest(
        deltas.filter(F.col("batch") <= as_of_batch), key_cols, version_col
    )
