"""Streaming queries: executed through Structured Streaming, oracle-checked
against the equivalent batch SQL (a bounded stream replay must equal the
batch answer — SURVEY.md §5.2's streaming-semantics property)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kinesis_log_watcher_spark.queries import llm as _llm
from kinesis_log_watcher_spark.queries import relational as _relational
from kinesis_log_watcher_spark.queries.base import load, load_stream, register
from kinesis_log_watcher_spark.streaming.stateful import run_stateful_sessions
from kinesis_log_watcher_spark.streaming.windows import run_session_windows, run_windowed_counts


@register(
    "stream_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1h event-time windows via Structured Streaming "
    "(AvailableNow replay → memory sink); oracle = the batch GROUP BY "
    "date_trunc. The reference has no event-time windowing at all "
    "(SURVEY.md §2.2).",
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_windowed_counts(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_sessionization_stateful",
    """
    WITH lagd AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM lagd)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    doc="Custom stateful streaming operator: applyInPandasWithState "
    "sessionization (30-min gap, per-user state store) replayed over a "
    "bounded stream; the update-mode emissions reduce monotonically to "
    "the batch answer, which the lag/gap SQL oracle computes directly "
    "(streaming/stateful.py).",
)
def stream_sessionization_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stateful_sessions(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_session_windows",
    """
    WITH lagd AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM lagd)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    doc="Native session windows (F.session_window, 30-min gap) over a "
    "replayed stream — Spark's built-in gap-merge stateful aggregation; "
    "window end = last event + gap, which the lag/gap oracle mirrors. "
    "NB: session_window merges on ts > prev + gap vs the oracle's strict "
    "epoch comparison — both sides use the same strict-inequality "
    "boundary (streaming/windows.py).",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_session_windows(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_click_purchase_join",
    """
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    doc="Stream-stream join (watermarked both sides, event-time bounded): "
    "purchases within 1h of a click by the same user, the two streams "
    "replayed from the same bounded table; inner joins emit eagerly so "
    "the replay equals the batch self-join the oracle computes "
    "(streaming/joins.py). State is bounded by the join window via the "
    "watermarks.",
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.joins import run_stream_stream_join

    return run_stream_stream_join(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_exact_dedup",
    """
    SELECT DISTINCT user_id, event_type
    FROM events
    """,
    doc="Streaming exact dedup: dropDuplicates over a replayed stream — "
    "per-key state suppresses every later duplicate; the surviving key "
    "set equals batch SELECT DISTINCT (key-only projection keeps the "
    "result order-independent). The watermark-bounded variant "
    "(dropDuplicatesWithinWatermark) is pinned in "
    "tests/test_streaming_dedup.py (streaming/windows.py).",
)
def stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.windows import run_streaming_dedup

    return run_streaming_dedup(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_sliding_counts",
    """
    SELECT date_trunc('hour', ts) - to_hours(o) AS window_start,
           date_trunc('hour', ts) - to_hours(o) + INTERVAL 2 HOUR
             AS window_end,
           event_type,
           COUNT(*) AS n
    FROM events, (VALUES (0), (1)) AS t(o)
    GROUP BY 1, 2, 3
    """,
    doc="Sliding event-time windows (2h window, 1h slide) via Structured "
    "Streaming: every event contributes to exactly 2 overlapping "
    "windows, which the oracle restates by cross-joining each row with "
    "offsets {0,1} hours off its truncated hour. Complete-mode replay "
    "equals the batch double-count (streaming/windows.py).",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.windows import run_sliding_counts

    return run_sliding_counts(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_static_enrich",
    """
    SELECT c_mktsegment, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    doc="Stream-static enrichment join: the replayed event stream joins "
    "a static customer dim (broadcast into every micro-batch, NO join "
    "state — static sides need no watermark) and aggregates per "
    "(segment, type) with exact decimal sums; complete-mode replay "
    "equals the batch join+GROUP BY the oracle computes "
    "(streaming/joins.py run_stream_static_enrich).",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.joins import run_stream_static_enrich

    return run_stream_static_enrich(
        spark, f"{sf_dir}/events.parquet", f"{sf_dir}/customer.parquet"
    )


@register(
    "stream_running_totals",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_sum_q
    FROM events
    GROUP BY user_id
    """,
    doc="Custom stateful streaming operator on applyInPandasWithState "
    "(streaming/tws.py): per-user running (count, "
    "int64-micro-quantized value sum) held in the group state; the "
    "bounded replay's update stream reduces to the "
    "batch aggregate the oracle computes directly. Quantization makes "
    "the sum associative, so the result is partitioning-independent.",
)
def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.tws import run_running_totals

    return run_running_totals(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_neardup_lsh",
    _llm._MINHASH_LSH_SQL,  # the batch dedup_minhash_lsh SQL verbatim
    doc="STREAMING MinHash+LSH near-dup detection: banded signatures "
    "computed as a narrow map (array_min fold per hash — no shuffle "
    "before the stateful op), per-(band, band_sig) bucket membership in "
    "the state store, each arriving doc paired against its bucket's "
    "prior members. A bounded replay reduces to EXACTLY the batch "
    "candidate relation, which the dedup_minhash_lsh SQL oracle "
    "computes (streaming/neardup.py).",
)
def stream_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.neardup import run_stream_neardup

    return run_stream_neardup(spark, f"{sf_dir}/documents.parquet")


def _admission_oracle() -> str:
    from kinesis_log_watcher_spark.streaming.windows import (
        ADMISSION_MIN_CHARS,
        ADMISSION_SAMPLE_THRESHOLD,
        ADMISSION_SOURCES,
    )

    srcs = ", ".join(f"'{s}'" for s in ADMISSION_SOURCES)
    return f"""
    WITH flags AS (
      SELECT lang,
             (source IN ({srcs})
              AND n_chars >= {ADMISSION_MIN_CHARS}) AS p_admit,
             (source IN ({srcs})
              AND n_chars >= {ADMISSION_MIN_CHARS}
              AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    < '{ADMISSION_SAMPLE_THRESHOLD}') AS p_samp
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_seen,
           CAST(SUM(CASE WHEN p_admit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted,
           CAST(SUM(CASE WHEN p_samp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled
    FROM flags GROUP BY lang
    """


@register(
    "stream_quality_admission",
    _admission_oracle(),
    doc="Ingest-time corpus admission: source allowlist + length floor + "
    "deterministic md5-threshold sampling evaluated on a DOCUMENT "
    "stream (AvailableNow replay -> complete-mode per-language "
    "counters). A bounded replay must equal the batch gate, which the "
    "oracle computes directly — so the streaming and batch curation "
    "paths provably admit the same documents "
    "(streaming/windows.run_streaming_admission).",
)
def stream_quality_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.windows import (
        run_streaming_admission,
    )

    return run_streaming_admission(spark, f"{sf_dir}/documents.parquet")


def _rate_limit_oracle() -> str:
    from kinesis_log_watcher_spark.streaming.ratelimit import (
        RATE_LIMIT_K,
        RATE_WINDOW_S,
    )

    return f"""
    WITH a AS (
      SELECT e1.user_id, e1.event_id,
             (SELECT COUNT(*) FROM events e2
              WHERE e2.user_id = e1.user_id
                AND e2.ts > e1.ts - INTERVAL {RATE_WINDOW_S} SECOND
                AND (e2.ts < e1.ts
                     OR (e2.ts = e1.ts AND e2.event_id < e1.event_id))
             ) < {RATE_LIMIT_K} AS admitted
      FROM events e1)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted
    FROM a GROUP BY user_id
    """


@register(
    "stream_rate_limit",
    _rate_limit_oracle(),
    doc="Stateful streaming rate limiter (sliding-window log): admit an "
    "event iff fewer than K strictly-prior arrivals — total order "
    "(ts, event_id) — from the same user fall in the preceding hour. "
    "The record-level analogue of the reference's connector throttle "
    "(R1): applyInPandasWithState keeps one bounded per-user arrival "
    "log, each micro-batch sorts its rows into the total order, and "
    "the replay provably equals the batch definition, which the "
    "oracle computes as a correlated time-bounded count "
    "(streaming/ratelimit.py).",
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.ratelimit import run_rate_limit

    return run_rate_limit(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_click_purchase_left_join",
    """
    SELECT c.user_id,
           c.event_id AS click_id,
           c.ts AS click_ts,
           p.event_id IS NOT NULL AS matched,
           COALESCE(p.event_id, -1) AS purchase_id,
           COALESCE(p.ts, TIMESTAMP '1970-01-01 00:00:00') AS purchase_ts
    FROM events c
    LEFT JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    """,
    doc="LEFT OUTER stream-stream join: every click emits either its "
    "purchases within 1h or an explicit no-purchase row. Outer rows "
    "are emitted only when watermark-driven state eviction proves no "
    "future match can arrive, so the bounded replay finalizes the "
    "watermark with sentinel batches (streaming/joins.py "
    "_sentinel_replay_dir); unmatched columns carry sentinel values "
    "(-1 / epoch) + a matched flag per the no-NULL-output convention. "
    "Oracle = the batch LEFT JOIN with the purchase predicates in the "
    "ON clause.",
)
def stream_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.joins import (
        run_stream_stream_left_join,
    )

    return run_stream_stream_left_join(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_hll_user_distinct",
    _llm._HLL_SQL,
    doc="STREAMING HyperLogLog: the per-event-type register table is "
    "maintained as streaming aggregation state (groupBy-MAX is "
    "order-free, so any micro-batch split converges to the batch "
    "sketch); estimates are finalized on read over the sink registers, "
    "exactly as a production register store would. Oracle = the batch "
    "hll_user_distinct SQL, bit-matched est + exact; both twins run "
    "the same register builder and finalize (llm._hll_state/"
    "_hll_finalize).",
)
def stream_hll_user_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.sources.files import run_replay

    state = _llm._hll_state(load_stream(spark, sf_dir, "events"))
    return _llm._hll_finalize(
        run_replay(state, "complete", "stream_hll"),
        load(spark, sf_dir, "events"),
    )


def _cdc_change_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build the two-file order change stream (base snapshot at version
    0, the 10%%-of-keys re-price delta at version 1) with ascending
    mtimes, returning (changes_dir, target_root)."""
    from kinesis_log_watcher_spark.staging import scratch_dir

    from pyspark.sql import functions as F

    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        dec(F.col("o_totalprice"), 12, 2).alias("price"),
    )
    v0 = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("price").cast("decimal(14,3)").alias("price"),
        F.lit(0).alias("version"),
        F.lit(0).alias("part"),
    )
    v1 = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("price") * F.lit(1.1).cast("decimal(2,1)"))
        .cast("decimal(14,3)")
        .alias("price"),
        F.lit(1).alias("version"),
        F.lit(1).alias("part"),
    )

    from kinesis_log_watcher_spark.sources.files import stage_replay_files

    changes = stage_replay_files(
        v0.unionByName(v1), "part", 2, prefix="cdc_changes_"
    )
    root = scratch_dir(prefix="cdc_target_")
    return changes, root


@register(
    "stream_cdc_upsert",
    _relational._UPSERT_TOTALS_SQL,
    doc="STREAMING CDC upsert via an idempotent foreachBatch delta sink "
    "+ merge-on-read resolution (streaming/cdc.py): a change stream "
    "(base snapshot, then a re-price delta for 10% of keys) lands one "
    "overwrite-by-batch-id delta dir per micro-batch; latest version "
    "per key wins on read. The resolved totals must equal the batch "
    "CASE oracle — the same post-upsert state orders_upsert_totals "
    "verifies through the anti-join rewrite, reached here through the "
    "streaming sink path instead.",
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from kinesis_log_watcher_spark.streaming.cdc import run_cdc_upsert

    changes, root = _cdc_change_dirs(spark, sf_dir)
    resolved = run_cdc_upsert(
        spark,
        changes,
        os.path.join(root, "target"),
        key_cols=("o_orderkey",),
        version_col="version",
    )
    return resolved.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("price").cast("double").alias("revenue"),
    )


@register(
    "stream_type_counts_mapstate",
    """
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
    doc="Per-user event-type counters on applyInPandasWithState "
    "(streaming/mapstate.py): the per-key map event_type -> count, "
    "held in the group state as two parallel arrays, updates each "
    "micro-batch; addition is order-free so any replay split "
    "converges to the batch GROUP BY the oracle states.",
)
def stream_type_counts_mapstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.mapstate import run_type_counts

    return run_type_counts(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_cdc_time_travel",
    """
    WITH base AS (
      SELECT o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(14,3))
               AS price
      FROM orders),
    final AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 10 = 0
                  THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1.1
                            AS DECIMAL(14,3))
                  ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                            AS DECIMAL(14,3))
             END AS price
      FROM orders)
    SELECT CAST(0 AS BIGINT) AS as_of_batch, o_orderpriority,
           COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS revenue
    FROM base GROUP BY o_orderpriority
    UNION ALL
    SELECT CAST(1 AS BIGINT) AS as_of_batch, o_orderpriority,
           COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS revenue
    FROM final GROUP BY o_orderpriority
    """,
    doc="TIME TRAVEL over the CDC delta store (streaming/cdc.py "
    "resolve_as_of): the same landed delta directories read as of sink "
    "batch 0 (the pre-upsert base snapshot) and as of batch 1 (the "
    "post-upsert state) — snapshot reads fall out of the append-only "
    "batch=<id> layout for free, exactly the property ACID table "
    "formats build time travel on (the batch id IS the snapshot id). "
    "The oracle states both snapshots' aggregates directly; landing "
    "order is deterministic (one file per trigger, ascending mtimes).",
)
def stream_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from kinesis_log_watcher_spark.streaming.cdc import (
        read_deltas,
        resolve_as_of,
        run_cdc_upsert,
    )

    changes, root = _cdc_change_dirs(spark, sf_dir)
    target = os.path.join(root, "target")
    run_cdc_upsert(
        spark, changes, target, key_cols=("o_orderkey",), version_col="version"
    )
    deltas = read_deltas(spark, target).persist()
    out = None
    for b in (0, 1):
        snap = (
            resolve_as_of(deltas, ("o_orderkey",), "version", b)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("price").cast("double").alias("revenue"),
            )
            .select(
                F.lit(b).cast("long").alias("as_of_batch"),
                "o_orderpriority",
                "n",
                "revenue",
            )
        )
        out = snap if out is None else out.unionByName(snap)
    return out


@register(
    "stream_cdc_snapshot_diff",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_changed,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1.1
                         AS DECIMAL(14,3))
                    - CAST(CAST(o_totalprice AS DECIMAL(12,2))
                           AS DECIMAL(14,3))) AS DOUBLE) AS delta_revenue
    FROM orders
    WHERE o_orderkey % 10 = 0
    GROUP BY o_orderpriority
    """,
    doc="SNAPSHOT DIFF over the CDC delta store: resolve the table as "
    "of batch 0 and batch 1 (streaming/cdc.py resolve_as_of), full-key "
    "equi-join the two states, and keep rows whose value changed — "
    "the audit/incremental-downstream primitive an append-only delta "
    "layout gives for free (diffing two snapshots never re-reads the "
    "change stream). The oracle states the changed set directly from "
    "the generating rule (the 10% re-priced keys and their exact "
    "decimal price delta).",
)
def stream_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from kinesis_log_watcher_spark.streaming.cdc import (
        read_deltas,
        resolve_as_of,
        run_cdc_upsert,
    )

    changes, root = _cdc_change_dirs(spark, sf_dir)
    target = os.path.join(root, "target")
    run_cdc_upsert(
        spark, changes, target, key_cols=("o_orderkey",), version_col="version"
    )
    deltas = read_deltas(spark, target).persist()
    s0 = resolve_as_of(deltas, ("o_orderkey",), "version", 0).select(
        "o_orderkey", "o_orderpriority", F.col("price").alias("p0")
    )
    s1 = resolve_as_of(deltas, ("o_orderkey",), "version", 1).select(
        "o_orderkey", F.col("price").alias("p1")
    )
    changed = s0.join(s1, "o_orderkey").filter(F.col("p0") != F.col("p1"))
    return changed.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_changed"),
        F.sum(F.col("p1") - F.col("p0")).cast("double").alias("delta_revenue"),
    )


@register(
    "stream_late_data_accounting",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE NOT (day(ts) = 5 AND event_id % 2 = 0)
    GROUP BY 1, 2
    """,
    doc="Watermark LATE-DATA DROP semantics as an oracled result (not "
    "just a pytest), staged as the case Spark actually guarantees: the "
    "late slice (day 5's even-event_id half) is delivered only AFTER "
    "its windows were finalized AND evicted, so every late row is "
    "dropped and the hourly counts exclude exactly that slice — the "
    "oracle's WHERE NOT (day=5 AND even). Late rows for windows never "
    "held in state are NOT dropped (admitted and closed immediately — "
    "measured, not assumed), which is why the harness finalizes first. "
    "The reference has no lateness concept at all (SURVEY.md §2.2) "
    "(streaming/windows.py run_late_data_accounting).",
)
def stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.windows import (
        run_late_data_accounting,
    )

    return run_late_data_accounting(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_dynamic_session_windows",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             ts + CASE event_type
                    WHEN 'click' THEN INTERVAL 30 MINUTE
                    WHEN 'purchase' THEN INTERVAL 2 HOUR
                    ELSE INTERVAL 1 HOUR
                  END AS iv_end
      FROM events),
    m AS (
      SELECT user_id, ts, event_id, iv_end,
             MAX(iv_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS prev_max_end
      FROM g),
    marked AS (
      SELECT user_id, ts, event_id, iv_end,
             CASE WHEN prev_max_end IS NULL OR ts > prev_max_end
                  THEN 1 ELSE 0 END AS is_start
      FROM m),
    islands AS (
      -- the cumulative sum MUST scan rows in the same (ts, event_id)
      -- order prev_max_end was computed over: on a same-user same-ts
      -- tie, ordering by iv_end here could visit rows in a different
      -- order than the marking pass and attach an event to the wrong
      -- (already-closed) session.
      SELECT user_id, ts, iv_end,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(iv_end) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands
    GROUP BY user_id, sid
    """,
    doc="DYNAMIC-GAP session windows (per-event gap expression: clicks "
    "hold the session 30min, purchases 2h, the rest 1h) — the "
    "session_window API surface beyond the fixed-gap form. A session "
    "is the union of per-event intervals [ts, ts+gap): order-free, so "
    "the oracle states it as interval-union islands via a prefix-MAX "
    "of interval ends (new session iff ts exceeds every previous "
    "event's hold). The engine's session end is the last surviving "
    "interval end — MAX(iv_end) — exactly as the fixed-gap oracle "
    "uses MAX(ts)+gap (streaming/windows.py "
    "run_dynamic_session_windows).",
)
def stream_dynamic_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.windows import (
        run_dynamic_session_windows,
    )

    return run_dynamic_session_windows(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_index_admission",
    """
    WITH snap AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 300),
    batch AS (
      SELECT doc_id, source, md5(text) AS fp
      FROM documents WHERE doc_id >= 300),
    fresh AS (
      SELECT b.doc_id, b.source, b.fp
      FROM batch b WHERE b.fp NOT IN (SELECT fp FROM snap)),
    ranked AS (
      SELECT source,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fresh)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_batch
    FROM ranked GROUP BY source
    """,
    doc="STREAMING admission against a persisted dedup index — the "
    "stream-static LEFT ANTI join surface (the only join flavor the "
    "streaming family didn't yet exercise): known fingerprints never "
    "reach the sink and the operator holds zero state; within-batch "
    "first-occurrence resolution is an exact lowest-doc_id window on "
    "the sink (arrival order inside a micro-batch is partition-"
    "nondeterministic, so stream dropDuplicates could not pin WHICH "
    "duplicate wins — the docstring records why). Oracle = the batch "
    "restatement of admit-if-unknown + first-occurrence "
    "(streaming/joins.py run_stream_index_admission).",
)
def stream_index_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.joins import (
        run_stream_index_admission,
    )

    return run_stream_index_admission(spark, f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# streaming ANN index maintenance
# ---------------------------------------------------------------------------

# the maintained index must answer EXACTLY like a full rebuild, so the
# query shares ann_ivf_topk's batch-rebuild oracle verbatim


@register(
    "stream_ivf_index_update",
    _llm._IVF_TOPK_SQL,
    doc="STREAMING IVF INDEX MAINTENANCE: the persisted cell index "
    "(ann_ivf_persisted's stored layout) is kept current as new "
    "vectors stream in — each micro-batch assigns arrivals to their "
    "best-anchor cell against the frozen broadcast anchors and lands "
    "an idempotent batch=<id> delta dir (the CDC sink recipe); the "
    "probe reads base UNION deltas (merge-on-read, the base is never "
    "rewritten on the hot path). Because assignment depends only on "
    "(vector, anchors), the maintained index answers bit-identically "
    "to a full rebuild — pinned by sharing ann_ivf_topk's rebuild "
    "oracle. Per-trigger cost is corpus-size-independent: one narrow "
    "explode + broadcast-anchor join + per-vector argmax over the "
    "arrivals only (streaming/annindex.py).",
)
def stream_ivf_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.annindex import (
        run_stream_ivf_index_update,
    )

    return run_stream_ivf_index_update(spark, f"{sf_dir}/embeddings.parquet")


@register(
    "stream_minhash_overlap",
    """
    WITH sub AS (
      SELECT event_type AS split,
             CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS k
      FROM events
      WHERE event_type IN ('click', 'purchase')),
    hh AS (
      SELECT split, CAST('0x' || substr(md5(k), 1, 15) AS BIGINT) AS h
      FROM sub),
    regs AS (
      SELECT split, h % 64 AS r, MIN(h) AS vmin FROM hh GROUP BY 1, 2),
    a AS (SELECT r, vmin AS va FROM regs WHERE split = 'click'),
    b AS (SELECT r, vmin AS vb FROM regs WHERE split = 'purchase'),
    j AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_regs_both,
             CAST(COALESCE(SUM(CASE WHEN va = vb THEN 1 END), 0) AS BIGINT)
               AS n_regs_equal
      FROM a JOIN b USING (r)),
    pu AS (
      SELECT k,
             MAX(CASE WHEN split = 'click' THEN 1 ELSE 0 END) AS ca,
             MAX(CASE WHEN split = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM sub GROUP BY k),
    ex AS (
      SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS n_inter,
             CAST(COUNT(*) AS BIGINT) AS n_union
      FROM pu)
    SELECT n_regs_both, n_regs_equal,
           CASE WHEN n_regs_both > 0
                THEN CAST(floor(CAST(n_regs_equal AS DOUBLE)
                                / CAST(n_regs_both AS DOUBLE)
                                * 1000000.0 + 0.5) AS BIGINT)
                ELSE 0 END AS jaccard_est_micro,
           CASE WHEN n_union > 0
                THEN CAST(floor(CAST(n_inter AS DOUBLE)
                                / CAST(n_union AS DOUBLE)
                                * 1000000.0 + 0.5) AS BIGINT)
                ELSE 0 END AS exact_jaccard_micro
    FROM j CROSS JOIN ex
    """,
    doc="STREAMING one-permutation-hashing Jaccard (Li, Owen & Zhang "
    "2012; streaming/windows.run_streaming_minhash_overlap): per "
    "(split, register) MIN of the 60-bit activity-key hash is the "
    "streaming aggregation state — 2x64 rows, order-free AND "
    "duplicate-insensitive (no streaming distinct needed), so any "
    "replay split or re-delivery converges to the batch register "
    "table. Finalized on read: the fraction of both-present registers "
    "with EQUAL mins estimates the cross-stream key-overlap Jaccard "
    "(the argmin of a register's union lands in its intersection with "
    "probability = local Jaccard); the batch-side exact Jaccard is "
    "joined in for the error profile. The live audience-overlap "
    "dashboard from O(m) state — the streaming twin of the batch "
    "kmv_theta_set_ops theta intersection. Oracle rebuilds the "
    "registers AND the exact overlap from the same relation, "
    "bit-matched.",
)
def stream_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from kinesis_log_watcher_spark.streaming.windows import (
        run_streaming_minhash_overlap,
    )

    est = run_streaming_minhash_overlap(spark, f"{sf_dir}/events.parquet")
    from kinesis_log_watcher_spark.operators.sketch import user_day_key

    ev = load(spark, sf_dir, "events")
    sub = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("split"), user_day_key().alias("k")
    )
    pu = sub.groupBy("k").agg(
        F.max(F.when(F.col("split") == "click", 1).otherwise(0)).alias("ca"),
        F.max(F.when(F.col("split") == "purchase", 1).otherwise(0)).alias("cb"),
    )
    ex = pu.agg(
        F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
        .cast("long")
        .alias("n_inter"),
        F.count("*").cast("long").alias("n_union"),
    )

    def ratio_micro(num, den):
        return (
            F.when(
                F.col(den) > 0,
                F.floor(
                    F.col(num).cast("double") / F.col(den).cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    return est.crossJoin(F.broadcast(ex)).select(
        "n_regs_both",
        "n_regs_equal",
        ratio_micro("n_regs_equal", "n_regs_both").alias("jaccard_est_micro"),
        ratio_micro("n_inter", "n_union").alias("exact_jaccard_micro"),
    )


@register(
    "stream_topk_leaderboard",
    """
    WITH q AS (
      SELECT event_type, event_id, user_id,
             CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT)
               AS value_milli
      FROM events)
    SELECT event_type, event_id, user_id, value_milli, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY value_milli DESC, event_id) AS BIGINT) AS rank
      FROM q)
    WHERE rank <= 3
    """,
    doc="Bounded-state streaming top-k leaderboard "
    "(streaming/topk.py): per event_type, the applyInPandasWithState "
    "group state holds ONLY the current top-3 (value_milli, event_id, "
    "user_id) rows — k rows of state per key, never the events — and each "
    "micro-batch folds its candidates into the board with exact "
    "integer ordering. Every emission is a running top-k, so the "
    "distinct union of emissions contains the global board and one "
    "re-rank resolves the update sink order-free in the replay split. "
    "Oracle: the batch per-type top-3 by (value DESC, event_id).",
)
def stream_topk_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.topk import run_stream_topk

    return run_stream_topk(spark, f"{sf_dir}/events.parquet")
