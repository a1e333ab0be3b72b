"""Streaming ANN index maintenance — incremental IVF cell assignment.

The batch side already covers the IVF index LIFECYCLE (build → persist
→ probe: queries/llm.ann_ivf_persisted). This module maintains that
stored layout as new vectors arrive on a stream:

- the BASE index (vec_id < ``base_max_id``) is built batch-side and
  persisted once — the expensive pass;
- each micro-batch of NEW vectors is assigned to its cell against the
  same broadcast anchors and lands as an idempotent
  ``batch=<id>``-keyed delta directory (the CDC sink recipe,
  streaming/cdc.py — a retried micro-batch overwrites its own dir, so
  the index never double-counts a vector);
- probing is MERGE-ON-READ: base ∪ deltas, no rewrite of the base on
  the hot path. Compacting deltas into the base is the separately
  covered storage op (sources/files.compact_dataset).

Cell assignment depends only on (vector, anchors) and the anchors are
frozen with the base index, so the incrementally maintained index is
bit-identical to a full rebuild — which is exactly what the oracle
asserts (queries/streaming.stream_ivf_index_update shares
ann_ivf_topk's full-rebuild SQL).

At 100 TB: the delta dirs hold only each trigger's arrivals; the
assignment job per trigger is one narrow explode + broadcast-anchor
join + per-vector argmax — corpus-size-independent. Re-clustering the
anchors themselves (when drift degrades cell balance) is a batch
rebuild by design, as in every production IVF serving stack.
"""

from __future__ import annotations

from kinesis_log_watcher_spark.sources.files import (
    drain_replay,
    python_state_partitions,
    read_parquet,
    read_parquet_stream,
    stage_replay_files,
)

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


_counter = itertools.count()

_CELL_SCHEMA = "vec_id bigint, cell bigint"


def _assign_cells(vectors: DataFrame, anchor_comp: DataFrame) -> DataFrame:
    """(vec_id, cell): best-inner-product anchor per vector — the one
    assignment rule the base build, every streamed delta, and the
    oracle's rebuild all share."""
    from kinesis_log_watcher_spark.operators.similarity import (
        exact_dot,
        exploded_components,
    )

    comp = exploded_components(vectors, "vec_id")
    dots = exact_dot(anchor_comp, comp, "a_id", "vec_id", exclude_self=False)
    w = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("a_id"))
    return (
        dots.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("a_id").alias("cell"))
    )


def run_stream_ivf_index_update(
    spark: SparkSession,
    emb_path: str,
    base_max_id: int = 250,
    n_replay_parts: int = 3,
) -> DataFrame:
    """Build the base index, stream the post-``base_max_id`` vectors in
    as ``n_replay_parts`` micro-batches of incremental cell deltas, and
    probe the merge-on-read (base ∪ deltas) index with the standard
    query panel (vec_id 10..19, top-3 per query)."""
    from kinesis_log_watcher_spark.operators.similarity import (
        exact_dot,
        exploded_components,
    )
    from kinesis_log_watcher_spark.staging import scratch_dir

    emb = read_parquet(spark, emb_path)
    comp = exploded_components(emb, "vec_id")
    anchor_comp = comp.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"), F.col("x").alias("qx"), "dim"
    )

    root = scratch_dir(prefix="ivf_stream_")
    base_dir = os.path.join(root, "base")
    delta_dir = os.path.join(root, "deltas")

    # ---- base index: built once, persisted (the expensive pass) ----
    base_vecs = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < base_max_id)
    )
    _assign_cells(base_vecs, anchor_comp).write.mode("overwrite").parquet(base_dir)

    # ---- stream the new vectors; land per-batch cell deltas ----
    fresh = emb.filter(F.col("vec_id") >= base_max_id)
    replay = stage_replay_files(
        fresh.withColumn("part", F.col("vec_id") % n_replay_parts),
        "part",
        n_replay_parts,
        prefix="ivf_replay_",
    )
    stream = read_parquet_stream(spark, replay, max_files_per_trigger=1)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        _assign_cells(batch_df, anchor_comp).write.mode("overwrite").parquet(
            os.path.join(delta_dir, f"batch={batch_id}")
        )

    name = f"ivf_index_update_{next(_counter)}"
    # foreachBatch JVM pipeline, not per-group Python state — kept at
    # python_state_partitions() on measurement (round-11 sweep:
    # 4.33s -> 3.81s at sf0.1 vs the small JVM replay default; the
    # per-batch cell-assign + write parallelizes with the count), not
    # on the helper's Python-parallelism rationale.
    drain_replay(
        stream.writeStream.foreachBatch(land)
        .queryName(name)
        .option("checkpointLocation", os.path.join(root, "_checkpoint")),
        python_state_partitions(),
    )

    # ---- merge-on-read probe over the maintained index ----
    base_cells = spark.read.schema(_CELL_SCHEMA).parquet(base_dir)
    delta_cells = (
        spark.read.schema(_CELL_SCHEMA)
        .option("basePath", delta_dir)
        .parquet(os.path.join(delta_dir, "batch=*"))
        .select("vec_id", "cell")
    )
    stored = base_cells.unionByName(delta_cells)

    qcomp = comp.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("q_id"), F.col("x").alias("qx"), "dim"
    )
    cand_dots = exact_dot(qcomp, comp.filter(F.col("vec_id") >= 8), "q_id", "vec_id")
    qcells = stored.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 20)
    ).select(F.col("vec_id").alias("q_id"), F.col("cell").alias("q_cell"))
    cand = (
        cand_dots.join(stored, "vec_id")
        .join(F.broadcast(qcells), "q_id")
        .filter(F.col("cell") == F.col("q_cell"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "dot", "rank")
    )
