"""Streaming semantic-cache TTL evaluation: per-cluster last-served
state, online hit/miss decisions, per-bucket hit-rate partials — a pure
per-cluster fold (:func:`fold`) run by ``keyfold.fold_by_key``.

The ingest-time form of semantic_cache_ttl_eval (queries/round10.py):
serving requests stream in, each maps to a paraphrase cluster (the
stand-in for an embedding-bucket cache key), and a request HITS when
the same cluster was served within the last TTL sequence numbers. The
batch query answers this with one LAG window after the fact; a serving
stack has to answer it ONLINE — per-cluster state is exactly ONE
bigint (the cluster's last-served sequence number), bounded by the
cluster alphabet, never the stream.

Determinism contract (what makes the stateful fold oracle-comparable):
within a micro-batch each cluster's rows fold in event_id order;
across micro-batches the replay arrives in event_id order (single-file
replay = one batch; multi-file replays are mtime-ordered by id range —
the tokenbudget contract). The DuckDB oracle states the same rule
declaratively (LAG over event_id per cluster), so a green row
certifies the stateful stream == the declarative batch window.

Emissions are per-(cluster, bucket) COUNT PARTIALS for the micro-batch
(not running totals): the memory sink accumulates partials and the
read-side rollup SUMs them per bucket — at scale the same emissions
feed a downstream windowed aggregation instead of a memory table.
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.sources.files import (
    python_state_partitions,
    read_parquet_stream,
    run_replay,
)
from kinesis_log_watcher_spark.streaming.keyfold import fold_by_key

PARTIAL_SCHEMA = "cluster bigint, bucket bigint, n_requests bigint, n_hits bigint"
_STATE_SCHEMA = "last_event bigint"


def fold(cluster, state, rows: pd.DataFrame, *, ttl: int):
    """Fold one micro-batch's requests (event_id order) through the
    cluster's last-served state; emit the per-bucket partial counts for
    THIS batch."""
    last_event = int(state[0]) if state is not None else None
    counts: dict[int, list[int]] = {}
    for event_id in rows.sort_values("event_id")["event_id"]:
        event_id = int(event_id)
        bucket = event_id // 1000
        hit = 1 if (last_event is not None and event_id - last_event <= ttl) else 0
        c = counts.setdefault(bucket, [0, 0])
        c[0] += 1
        c[1] += hit
        last_event = event_id
    return (last_event,), pd.DataFrame(
        {
            "cluster": int(cluster),
            "bucket": list(counts),
            "n_requests": [c[0] for c in counts.values()],
            "n_hits": [c[1] for c in counts.values()],
        }
    )


def run_semcache_eval(
    spark: SparkSession,
    events_path: str,
    clusters: int,
    ttl: int,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay a bounded events table through the online cache gate and
    roll the emitted partials up to the per-bucket hit rates (partials
    are disjoint per (cluster, batch), so the rollup is an order-free
    SUM)."""
    stream = read_parquet_stream(spark, events_path, max_files_per_trigger)
    requests = stream.select(
        "event_id",
        (
            md5_h15(F.concat(F.lit("scq|"), F.col("event_id").cast("string")))
            % clusters
        ).alias("cluster"),
    )
    partials = fold_by_key(
        requests, "cluster", partial(fold, ttl=ttl), PARTIAL_SCHEMA, _STATE_SCHEMA
    )
    return (
        run_replay(partials, "update", "semcache", python_state_partitions())
        .groupBy("bucket")
        .agg(
            F.sum("n_requests").cast("long").alias("n_requests"),
            F.sum("n_hits").cast("long").alias("n_hits"),
        )
        .select(
            "bucket",
            "n_requests",
            "n_hits",
            F.expr("CAST(n_hits * 1000000 div n_requests AS BIGINT)").alias(
                "hit_rate_micro"
            ),
        )
    )
