"""Stream-stream join: watermarked, time-bounded equi-join of two event
streams — the most state-intensive streaming operator Spark offers, and
one the reference has nothing like (SURVEY.md §2.2).

The canonical attribution shape: for every click, the purchases by the
same user within the following hour. Both sides carry watermarks and the
join condition bounds the event-time distance, so the state store can
evict rows once the other side's watermark passes the bound — state is
O(events within the join window), not O(stream).

On a bounded replay the inner join's emissions equal the batch join
(inner stream-stream joins emit eagerly on match; watermarks only bound
state), which is what the SQL oracle computes.
"""

from __future__ import annotations

from kinesis_log_watcher_spark.sources.files import (
    read_parquet,
    read_parquet_stream,
    run_replay,
    stage_replay_files,
)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.streaming.windows import watermark_sentinels


def clicks_to_purchases(
    clicks: DataFrame, purchases: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """The join itself (works for static and streaming inputs)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


def run_stream_stream_join(
    spark: SparkSession,
    events_path: str,
    within: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay the events table as TWO streams (clicks / purchases) and
    stream-stream join them."""
    def stream():
        s = read_parquet_stream(spark, events_path, max_files_per_trigger)
        return s.withWatermark("ts", "1 minute")

    clicks = stream().filter(F.col("event_type") == "click")
    purchases = stream().filter(F.col("event_type") == "purchase")
    joined = clicks_to_purchases(clicks, purchases, within)

    # n=2 pinned: a stream-stream join keeps FOUR state stores per
    # partition; the 2/4/8 sweep read 5.6/6.3/10.2s on the outer twin
    return run_replay(joined, "append", "stream_stream_join", 2)


def run_stream_static_enrich(
    spark: SparkSession,
    events_path: str,
    customer_path: str,
) -> DataFrame:
    """Stream-STATIC join: enrich a replayed event stream with a static
    dimension table, then aggregate per (segment, event_type).

    The static side is a plain batch DataFrame — Spark re-plans it into
    every micro-batch as a broadcast hash join (no state store at all,
    unlike stream-stream joins: a static dim needs no watermark and
    holds no join state). This is the 100 TB enrichment shape: the
    fact stream never shuffles for the join; only the post-join
    aggregate keeps (tiny, per-group) state."""
    from kinesis_log_watcher_spark.functions.exact import dec

    stream = read_parquet_stream(spark, events_path)

    dim = read_parquet(spark, customer_path).select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"]
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("value"), 28, 4)).cast("double").alias("sum_value"),
    )

    return run_replay(agg, "complete", "stream_static_enrich")


def _sentinel_replay_dir(spark: SparkSession, events_path: str) -> str:
    """Stage ``events_path`` as a replay directory of [real data,
    sentinel batch 1, sentinel batch 2] with ascending mtimes. Each
    sentinel batch carries one 'click' AND one 'purchase' row, so it
    passes both sides' event_type filters (see
    ``streaming/windows.watermark_sentinels``); their ``user_id = -1``
    never matches a real row, and callers drop them with
    ``user_id >= 0`` on the SINK output."""
    base = read_parquet(spark, events_path)
    return stage_replay_files(
        base.withColumn("part", F.lit(0)).unionByName(
            watermark_sentinels(base, ("click", "purchase"))
        ),
        "part",
        3,
        prefix="ss_left_join_",
    )


def run_stream_stream_left_join(
    spark: SparkSession,
    events_path: str,
    within: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every click, with its purchases
    within the hour OR an explicit no-purchase row.

    Unlike the inner form (which emits eagerly on match), outer rows
    can only be emitted when the state store EVICTS an unmatched left
    row — i.e. when both sides' watermarks prove no future purchase can
    still match it. That makes this the one streaming operator whose
    bounded replay needs watermark finalization, provided here by the
    sentinel batches of :func:`_sentinel_replay_dir`. Unmatched columns
    are emitted as sentinel values (-1 / epoch) with a ``matched`` flag
    rather than NULLs, per the repo-wide no-NULL-output convention.

    At 100 TB: state is O(events inside the join window) per side —
    the watermark bound, not corpus size — exactly as the inner join;
    the outer form adds no state, only eviction-time emission.
    """
    replay = _sentinel_replay_dir(spark, events_path)

    def stream():
        s = read_parquet_stream(spark, replay, max_files_per_trigger=1)
        return s.withWatermark("ts", "1 minute")

    clicks = stream().filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = stream().filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        F.col("purchase_id").isNotNull().alias("matched"),
        F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
        F.coalesce(
            "purchase_ts", F.lit("1970-01-01 00:00:00").cast("timestamp")
        ).alias("purchase_ts"),
    )

    # n=2 pinned: see run_stream_stream_join
    sink = run_replay(joined, "append", "stream_stream_left_join", 2)
    # Drop the sentinel rows POST-SINK (a batch filter): inside the
    # streaming plan this predicate would be pushed below the watermark
    # node and stop the sentinels from advancing it.
    return sink.filter(F.col("user_id") >= 0)


def run_stream_index_admission(
    spark: SparkSession,
    docs_path: str,
    snapshot_max_id: int = 300,
) -> DataFrame:
    """Streaming admission against a STATIC dedup index — the
    stream-static LEFT ANTI join surface: the historical corpus's
    fingerprint index (built and persisted batch-side, exactly as
    incremental_dedup_update stores it) is anti-joined into every
    micro-batch, so already-known documents never reach the sink and
    the operator keeps ZERO state (the index is a static relation, not
    stream state). Within-batch first-occurrence resolution happens on
    the sink relation with an exact lowest-doc_id window — arrival
    order inside a micro-batch is partition-nondeterministic, so a
    state-backed dropDuplicates could not pin WHICH same-fingerprint
    duplicate wins; the post-sink window can (the downstream
    batch-compactor shape)."""
    from kinesis_log_watcher_spark.staging import scratch_dir

    from pyspark.sql.window import Window

    docs = read_parquet(spark, docs_path).select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    snap = docs.filter(F.col("doc_id") < snapshot_max_id).select("fp").distinct()
    path = scratch_dir(prefix="stream_idx_") + "/fingerprints"
    snap.write.mode("overwrite").parquet(path)
    stored = spark.read.schema("fp string").parquet(path)

    stream = read_parquet_stream(spark, docs_path).select(
        "doc_id", "source", F.md5("text").alias("fp")
    ).filter(F.col("doc_id") >= snapshot_max_id)
    fresh = stream.join(stored, "fp", "left_anti")

    sink = run_replay(fresh, "append", "index_admission")
    rn = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    resolved = sink.withColumn("rn", rn)
    return resolved.groupBy("source").agg(
        F.count("*").cast("long").alias("n_survivors"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_admitted"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_batch"),
    )


def run_stream_stream_full_outer(
    spark: SparkSession,
    events_path: str,
    within: str = "1 hour",
) -> DataFrame:
    """FULL OUTER stream-stream join: every click emits its purchases or
    an explicit no-purchase row, AND every purchase not attributable to
    any click emits a no-click row — both finalized by watermark-driven
    state eviction on their own side. The most state-complete join
    Spark offers: each side's state evicts off the other side's
    watermark plus the time bound, so unmatched-row emission is
    symmetric and append-mode exact. Same sentinel-replay finalization
    and no-NULL-output conventions as run_stream_stream_left_join.
    """
    replay = _sentinel_replay_dir(spark, events_path)

    def stream():
        s = read_parquet_stream(spark, replay, max_files_per_trigger=1)
        return s.withWatermark("ts", "1 minute")

    clicks = stream().filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = stream().filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "full_outer",
    ).select(
        F.coalesce("c_user", "p_user").alias("user_id"),
        (F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()).alias(
            "matched"
        ),
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce("click_ts", epoch).alias("click_ts"),
        F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
        F.coalesce("purchase_ts", epoch).alias("purchase_ts"),
    )

    # n=2 pinned: see run_stream_stream_join
    sink = run_replay(joined, "append", "stream_stream_full_outer", 2)
    # sentinel rows dropped POST-SINK (see run_stream_stream_left_join)
    return sink.filter(F.col("user_id") >= 0)
