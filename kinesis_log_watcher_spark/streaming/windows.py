"""Event-time windowed aggregation over a replayed stream.

``run_windowed_counts`` drives a bounded parquet-backed stream through a
tumbling-window aggregate with Trigger.AvailableNow (the reference's -O
one-shot, main.go:89-92) into a memory sink and returns the static
result — the streaming analogue of a GROUP BY date_trunc query, which is
exactly what its DuckDB oracle computes.

At scale: the same plan with a real source + ``withWatermark`` bounds
state; complete-mode memory sink here is test-scale plumbing only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.functions.exact import dec
from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.sources.files import (
    read_parquet,
    read_parquet_stream,
    run_replay,
    stage_replay_files,
)


def run_windowed_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
) -> DataFrame:
    stream = read_parquet_stream(spark, events_path)
    agg = (
        stream.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec(F.col("value"), 28, 4)).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    return run_replay(agg, "complete", "windowed_counts")


def run_session_windows(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Native session windows (``F.session_window``): Spark's built-in
    gap-merge stateful aggregation — the engine-supplied version of what
    streaming/stateful.py builds by hand with applyInPandasWithState.

    Semantics note: a session window's end is ``last event + gap`` (the
    instant the session *would have* timed out), so the SQL oracle
    computes MAX(ts) + gap, not MAX(ts).

    At scale: same state-store story as any streaming agg — state is one
    entry per open session, shuffled by (user, session); with a watermark
    the store evicts closed sessions (complete-mode memory sink here is
    bounded-replay test plumbing).
    """
    stream = read_parquet_stream(spark, events_path)
    agg = (
        stream.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_replay(agg, "complete", "session_windows")


def run_streaming_dedup(
    spark: SparkSession,
    events_path: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` over a bounded replay —
    first arrival per key wins, later duplicates are suppressed by the
    state store. Output = the distinct key set (key-only projection, so
    the result is deterministic regardless of which physical row arrived
    first — the oracle is SELECT DISTINCT).

    At scale: state is one entry per distinct key; with a watermark the
    ``dropDuplicatesWithinWatermark`` variant bounds the store for
    unbounded keyspaces (pinned in tests/test_streaming_dedup.py).
    """
    keys = keys or ["user_id", "event_type"]
    stream = read_parquet_stream(spark, events_path)
    deduped = stream.select(*keys).dropDuplicates(keys)
    return run_replay(deduped, "append", "stream_dedup")


def run_watermark_dedup(
    spark: SparkSession,
    events_path: str,
    delay: str = "400 days",
) -> DataFrame:
    """Watermark-bounded streaming dedup: ``dropDuplicatesWithinWatermark``
    on (user_id, event_type, minute(ts)). Unlike ``dropDuplicates``, the
    state store EVICTS keys once the watermark passes them — state is
    bounded by the lateness window, not the keyspace, which is the only
    viable dedup shape over an unbounded stream.

    The default delay exceeds the bounded replay's whole time span, so
    every duplicate is in-watermark and the output equals the batch
    DISTINCT (the oracle). Production uses its real out-of-orderness
    bound (minutes) with the identical plan; correctness then holds for
    duplicates within the bound — the documented semantics.
    """
    stream = read_parquet_stream(spark, events_path)
    deduped = (
        stream.withWatermark("ts", delay)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute_ts"),
            F.col("ts"),
        )
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_ts"])
        .select("user_id", "event_type", "minute_ts")
    )
    return run_replay(deduped, "append", "stream_wm_dedup")


def run_sliding_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "2 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """Sliding event-time windows over a bounded replay: each event lands
    in window/slide overlapping windows (2 here). Same AvailableNow →
    memory-sink plumbing as run_windowed_counts; at scale the identical
    plan runs with a watermark bounding state to window+lateness."""
    stream = read_parquet_stream(spark, events_path)
    agg = (
        stream.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    return run_replay(agg, "complete", "sliding_counts")


# Streaming corpus admission (the curation gate applied at ingest time).
ADMISSION_SOURCES = tuple(f"src{i}" for i in range(0, 20, 2))
ADMISSION_MIN_CHARS = 120
ADMISSION_SAMPLE_THRESHOLD = "40000000"  # hash_draw < t ≈ 25%


def run_streaming_admission(
    spark: SparkSession,
    docs_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Corpus admission at INGEST time: the same per-document gates a
    batch curation pass applies (source allowlist, length floor,
    deterministic md5-threshold sampling) evaluated on a document
    stream, rolled up per language in complete mode. Stateless row
    flags + one streaming aggregation — at 100 TB/day of crawl this is
    the shape that avoids landing rejected documents at all: the gate
    runs in the ingest job, only admitted docs reach storage, and the
    per-language counters are the live curation dashboard. The
    deterministic hash sample means an ingest-time 25% draw admits
    exactly the docs a later batch re-run would pick (no RNG drift
    between the streaming and batch paths — the md5 convention from
    operators/sampling.py)."""
    stream = read_parquet_stream(
        spark, docs_path, max_files_per_trigger=max_files_per_trigger
    )
    admitted = F.col("source").isin(*ADMISSION_SOURCES) & (
        F.col("n_chars") >= ADMISSION_MIN_CHARS
    )
    sampled = admitted & (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
        < ADMISSION_SAMPLE_THRESHOLD
    )
    flags = stream.select(
        "lang", admitted.alias("p_admit"), sampled.alias("p_samp")
    )
    agg = flags.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_seen"),
        F.sum(F.when(F.col("p_admit"), 1).otherwise(0))
        .cast("long")
        .alias("n_admitted"),
        F.sum(F.when(F.col("p_samp"), 1).otherwise(0))
        .cast("long")
        .alias("n_sampled"),
    )
    return run_replay(agg, "complete", "stream_admission")


def watermark_sentinels(
    base: DataFrame, event_types: tuple[str, ...], parts: tuple[int, int] = (1, 2)
) -> DataFrame:
    """The two watermark-flush batches of a bounded event-time replay,
    as one DataFrame in ``base``'s columns plus the replay ``part``
    column (:func:`sources.files.stage_replay_files`): batch ``i``
    (1, 2) is part ``parts[i - 1]``.

    Batch ``i`` holds one row per entry of ``event_types``, at
    ``2*i`` hours past the latest ``ts`` in ``base``, with
    ``user_id = -1``, a negative ``event_id`` and every other column
    null. Staged as their own micro-batches after the real data, they
    finalize every real window: the watermark applied while a batch
    runs is computed from the batches before it, so batch 1's
    timestamp is the operative watermark exactly when batch 2 runs,
    past every real row's emission horizon. That is what lets
    append-mode windows and outer-join NULL rows finalize before an
    availableNow replay stops. A production stream keeps running and
    needs no such flush.

    The rows must pass every filter a side applies before its
    watermark: Catalyst pushes a deterministic filter BELOW the
    EventTimeWatermark node, so a rejected row never reaches the
    watermark operator, and under the default multiple-watermark
    policy the query watermark is the MIN across the sides. So a
    stream-stream join carries both sides' event types, and callers
    drop the sentinel rows on the SINK output (``user_id >= 0`` or
    their event type), never inside the streaming plan."""
    rows = base.groupBy().agg(F.max("ts").alias("_mx")).select(
        "_mx",
        F.posexplode(F.array(*(F.lit(t) for t in event_types))).alias(
            "_k", "_type"
        ),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("_i"),
    )
    cols = []
    for f in base.schema.fields:
        if f.name == "ts":
            c = F.col("_mx") + F.col("_i") * F.expr("INTERVAL 2 HOURS")
        elif f.name == "event_type":
            c = F.col("_type")
        elif f.name == "event_id":
            c = F.lit(-1000) - F.col("_i") * len(event_types) - F.col("_k")
        elif f.name == "user_id":
            c = F.lit(-1)
        else:
            c = F.lit(None)
        cols.append(c.cast(f.dataType).alias(f.name))
    part = F.when(F.col("_i") == 1, parts[0]).otherwise(parts[1])
    return rows.select(*cols, part.alias("part"))


def run_late_data_accounting(
    spark: SparkSession,
    events_path: str,
    late_day: int = 5,
) -> DataFrame:
    """Watermark LATE-DATA DROP semantics, replayed deterministically.

    Spark's actual guarantee (pinned in tests/test_watermark.py and
    re-confirmed empirically here) is narrower than 'late rows are
    dropped': a late row is dropped only when its window was already
    FINALIZED AND EVICTED in an earlier batch — late rows for windows
    the store never held are admitted and close immediately. The
    harness therefore stages exactly the guaranteed case:

      f0: everything except the late slice (day ``late_day``'s
          even-event_id half — the odd half stays on time, giving the
          late windows on-time state to finalize);
      f1: a far-future sentinel — its watermark push makes batch 2 run
          with wm past EVERY real window, so all real windows
          (day-``late_day`` ones included) finalize and evict first;
      f2: the late slice — each row's window is now gone from state,
          so the rows are dropped (numRowsDroppedByWatermark);
      f3: a second sentinel, so f1's own sentinel window finalizes and
          can be filtered POST-SINK (in-plan the event_type predicate
          would be pushed below the watermark node and the sentinels
          could never advance it — the pushdown trap of
          streaming/joins.py).

    Final append-mode counts therefore exclude exactly the late slice,
    which the SQL oracle states directly."""
    base = read_parquet(spark, events_path)
    is_late = (F.dayofmonth("ts") == late_day) & (F.col("event_id") % 2 == 0)
    # f0 on time, f1 flush, f2 late slice, f3 flush; a row whose
    # is_late is NULL is in neither slice
    part = F.when(~is_late, 0).when(is_late, 2)
    replay = stage_replay_files(
        base.withColumn("part", part).unionByName(
            watermark_sentinels(base, ("sentinel",), parts=(1, 3))
        ),
        "part",
        4,
        prefix="late_replay_",
    )
    stream = read_parquet_stream(spark, replay, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    sink = run_replay(agg, "append", "late_accounting")
    return sink.filter(F.col("event_type") != "sentinel")


def run_dynamic_session_windows(
    spark: SparkSession,
    events_path: str,
) -> DataFrame:
    """Session windows with a PER-EVENT gap expression — the dynamic
    form of ``F.session_window`` (each event holds its session open for
    its own duration; clicks linger 30 minutes, purchases 2 hours,
    everything else 1 hour). Sessions are the union of the per-event
    intervals [ts, ts + gap): order-free, so the batch oracle can state
    them as interval-union islands (a running prefix-max of interval
    ends). Same state story as the fixed-gap form — one store entry per
    open session."""
    stream = read_parquet_stream(spark, events_path)
    gap = (
        F.when(F.col("event_type") == "click", F.lit("30 minutes"))
        .when(F.col("event_type") == "purchase", F.lit("2 hours"))
        .otherwise(F.lit("1 hour"))
    )
    agg = (
        stream.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_replay(agg, "complete", "dyn_session")


def run_streaming_minhash_overlap(
    spark: SparkSession,
    events_path: str,
    m: int = 64,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING cross-stream Jaccard via one-permutation hashing (Li,
    Owen & Zhang 2012): per (split, register) keep MIN(60-bit md5 hash)
    of the split's activity keys — 2*m state rows total, and MIN is
    associative, commutative, order-free AND duplicate-insensitive, so
    any micro-batch replay split (and any at-least-once re-delivery)
    converges to the batch register table without a streaming distinct.
    Finalized on read: a register where both splits are present votes
    'equal mins' with probability = local Jaccard (the argmin of the
    union lands in the intersection), so the equal-register fraction
    estimates cross-stream key overlap from O(m) state — the live
    'how much does stream A's audience overlap stream B's' dashboard
    that would otherwise need both raw key sets. Registers where only
    one split is present are excluded (the densification refinement of
    OPH; at m << NDV every register is occupied and this is moot)."""
    stream = read_parquet_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    from kinesis_log_watcher_spark.operators.sketch import user_day_key

    sub = stream.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("split"), user_day_key().alias("k")
    )
    h = md5_h15(F.col("k"))
    regs = (
        sub.select("split", h.alias("h"))
        .withColumn("r", F.col("h") % m)
        .groupBy("split", "r")
        .agg(F.min("h").alias("vmin"))
    )
    # (split, r) is unique in the register table, so the a-vs-b
    # comparison is a conditional pivot per register — no self-join of
    # the sink view (which trips conflicting-attribute resolution).
    per_reg = (
        run_replay(regs, "complete", "stream_oph")
        .groupBy("r")
        .agg(
            F.min(F.when(F.col("split") == "click", F.col("vmin"))).alias("va"),
            F.min(F.when(F.col("split") == "purchase", F.col("vmin"))).alias(
                "vb"
            ),
        )
        .filter(F.col("va").isNotNull() & F.col("vb").isNotNull())
    )
    return per_reg.agg(
        F.count("*").cast("long").alias("n_regs_both"),
        F.coalesce(
            F.sum(F.when(F.col("va") == F.col("vb"), 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_regs_equal"),
    )


def run_two_level_agg(
    spark: SparkSession,
    events_path: str,
) -> DataFrame:
    """CHAINED stateful aggregation in one streaming query (Spark 3.4+
    multiple-stateful-operator support): 10-minute tumbling counts per
    event_type, re-aggregated into per-hour rollups (bucket count, max
    bucket, total) downstream IN THE SAME QUERY — the pre-aggregation
    cascade a 100 TB metrics pipeline runs to keep the wide shuffle at
    the fine granularity and the hourly state tiny.

    Chained aggregation REQUIRES append mode + a watermark (complete
    mode forbids it), and append only emits a window once the watermark
    passes its end — so the bounded replay stages two far-future
    sentinel batches (the run_late_data_accounting trick): sentinel 1's
    batch advances the watermark past every real hour, sentinel 2's
    batch runs with that watermark and flushes the real windows through
    BOTH stateful operators. Sentinel rows are filtered post-sink (an
    in-plan filter would be pushed below the watermark node and defeat
    them); their own never-flushed windows simply never reach the sink.

    At scale: level 1 state is one row per (10-min window, type); level
    2 receives |types| rows per closed 10-min window — the second
    shuffle is negligible by construction. Same append-mode memory-sink
    caveat as every replay harness: test-scale plumbing only.
    """
    base = read_parquet(spark, events_path)
    replay = stage_replay_files(
        base.withColumn("part", F.lit(0)).unionByName(
            watermark_sentinels(base, ("sentinel",))
        ),
        "part",
        3,
        prefix="two_level_",
    )
    stream = read_parquet_stream(spark, replay, max_files_per_trigger=1)
    lvl1 = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    lvl2 = (
        lvl1.groupBy(
            F.window(F.window_time("w"), "1 hour").alias("h"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("n").cast("long").alias("total_n"),
            F.max("n").cast("long").alias("max_bucket_n"),
        )
        .select(
            F.col("h.start").alias("hour_start"),
            "event_type",
            "n_buckets",
            "total_n",
            "max_bucket_n",
        )
    )
    sink = run_replay(lvl2, "append", "two_level")
    return sink.filter(F.col("event_type") != "sentinel")
