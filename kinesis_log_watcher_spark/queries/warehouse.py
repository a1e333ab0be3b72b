"""Warehouse-governance queries: SCD Type-2 dimension builds, data-
expectation audits, and seasonal-baseline anomaly profiling.

These are the maintenance/governance operators a 100 TB pipeline runs
around the analytics proper: versioned dimension history (so facts join
to the attribute values that were true at event time), constraint
audits (so a bad load is caught before it poisons downstream tables),
and traffic-seasonality baselines (so volume anomalies page someone).

Reference parity note: the reference (main.go) is a stream tailer with
no warehouse layer; these belong to the SURVEY.md §2.2 engine surface
(joins/windows/aggregations composed into governance workflows).

Determinism: every derived quantity is integer (cents, day indexes,
hour buckets) so Spark and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_log_watcher_spark.functions.exact import dec
from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.queries.base import load, register

# --------------------------------------------------------------------------
# SCD Type-2 dimension build (versioned history with effective ranges)
# --------------------------------------------------------------------------


def _scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned customer dimension both SCD2 queries share: a
    deterministic change feed (1-3 versions per key, one every 7 days,
    balance in integer cents) windowed into effective-range rows."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (dec(F.col("c_acctbal"), 12, 2) * 100).cast("long").alias("cents0"),
    )
    feed = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.sequence(F.lit(0), (F.col("c_custkey") % 3).cast("int"))).alias(
            "v"
        ),
        "cents0",
    ).select(
        "c_custkey",
        "c_mktsegment",
        "v",
        ((F.col("c_custkey") % 5) + F.col("v") * 7).alias("from_day"),
        (F.col("cents0") + F.col("v") * 1000).alias("bal_cents"),
    )
    w = Window.partitionBy("c_custkey").orderBy("v")
    return feed.withColumn("to_day", F.lead("from_day").over(w))


# DuckDB twin of _scd2_dim, shared by both oracles.
_SCD2_CTE = """
    feed AS (
      SELECT c_custkey, c_mktsegment, v,
             (c_custkey % 5) + v * 7 AS from_day,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               + v * 1000 AS bal_cents
      FROM customer
      CROSS JOIN (VALUES (0), (1), (2)) AS t(v)
      WHERE v <= c_custkey % 3),
    scd AS (
      SELECT c_custkey, c_mktsegment, from_day, bal_cents,
             LEAD(from_day) OVER (PARTITION BY c_custkey ORDER BY v)
               AS to_day
      FROM feed)
"""


@register(
    "customer_scd2_history",
    f"""
    WITH {_SCD2_CTE}
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS history_rows,
           CAST(SUM(CASE WHEN to_day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_current,
           CAST(SUM(CASE WHEN to_day IS NULL THEN bal_cents END) AS BIGINT)
             AS current_bal_cents,
           CAST(SUM(to_day - from_day) AS BIGINT) AS closed_span_days
    FROM scd
    GROUP BY c_mktsegment
    """,
    doc="SCD Type-2 build: a synthetic change feed (1-3 versions per "
    "customer, deterministic day offsets and balance deltas in integer "
    "cents) is turned into effective-range history rows — "
    "effective_to = LEAD(effective_from) over the per-key version "
    "order, open range = current. The summary pins one-current-per-key "
    "and the closed-range day spans. Scale shape: the LEAD window "
    "partitions on the dimension key (high cardinality, no skew) and "
    "the per-key version list is tiny, so state per window partition "
    "is bounded; one window exchange + one agg exchange.",
)
def customer_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    scd = _scd2_dim(spark, sf_dir)
    return scd.groupBy("c_mktsegment").agg(
        F.count("*").alias("history_rows"),
        F.sum(F.col("to_day").isNull().cast("long")).alias("n_current"),
        F.sum(F.when(F.col("to_day").isNull(), F.col("bal_cents"))).alias(
            "current_bal_cents"
        ),
        F.sum(F.col("to_day") - F.col("from_day")).alias("closed_span_days"),
    )


# --------------------------------------------------------------------------
# point-in-time (temporal) join of facts against the SCD2 dimension
# --------------------------------------------------------------------------


@register(
    "orders_pointintime_scd2",
    f"""
    WITH {_SCD2_CTE},
    facts AS (
      SELECT o_orderkey, o_custkey,
             o_orderkey % 21 AS event_day,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_cents
      FROM orders)
    SELECT s.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(s.bal_cents) AS BIGINT) AS asof_bal_cents,
           CAST(SUM(f.price_cents) AS BIGINT) AS matched_price_cents
    FROM facts f
    JOIN scd s
      ON f.o_custkey = s.c_custkey
     AND f.event_day >= s.from_day
     AND (s.to_day IS NULL OR f.event_day < s.to_day)
    GROUP BY s.c_mktsegment
    """,
    doc="Point-in-time (temporal) dimension join — the reason SCD2 "
    "history exists: each fact joins to the ONE dimension version "
    "whose effective range covers the fact's event day (here a "
    "deterministic synthetic day), so the aggregate reflects attribute "
    "values as they were at event time, not as they are now. Because "
    "per-key ranges tile disjointly, the join is multiplicity-"
    "preserving (≤1 match per fact; facts before a key's first version "
    "drop). Scale shape: an equi-join on the dimension key with the "
    "range condition as a residual predicate — sort-merge/shuffle-hash "
    "on c_custkey, never a broadcast nested loop, and the per-key "
    "probe list is ≤3 versions.",
)
def orders_pointintime_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    scd = _scd2_dim(spark, sf_dir)
    facts = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_orderkey") % 21).alias("event_day"),
        (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long").alias("price_cents"),
    )
    joined = facts.join(
        scd,
        (facts.o_custkey == scd.c_custkey)
        & (facts.event_day >= scd.from_day)
        & (scd.to_day.isNull() | (facts.event_day < scd.to_day)),
        "inner",
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum("bal_cents").alias("asof_bal_cents"),
        F.sum("price_cents").alias("matched_price_cents"),
    )


# --------------------------------------------------------------------------
# data-expectation audit (constraint suite in one pass + one dim join)
# --------------------------------------------------------------------------


@register(
    "orders_expectation_audit",
    """
    WITH j AS (
      SELECT o.*,
             CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END AS orphan
      FROM orders o
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON o.o_custkey = c.c_custkey),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL
                                    THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS null_custkey,
             CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0
                                    THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS nonpositive_price,
             CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS invalid_status,
             CAST(COALESCE(SUM(CASE WHEN o_orderpriority NOT IN
                             ('1-URGENT','2-HIGH','3-MEDIUM',
                              '4-NOT SPECIFIED','5-LOW')
                           THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS invalid_priority,
             CAST(COALESCE(SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                           THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS stale_order_date,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS duplicate_orderkey,
             CAST(COALESCE(SUM(orphan), 0) AS BIGINT) AS orphan_custkey
      FROM j)
    SELECT 'null_custkey' AS check_name, null_custkey AS violations, n_rows
      FROM a
    UNION ALL SELECT 'nonpositive_price', nonpositive_price, n_rows FROM a
    UNION ALL SELECT 'invalid_status', invalid_status, n_rows FROM a
    UNION ALL SELECT 'invalid_priority', invalid_priority, n_rows FROM a
    UNION ALL SELECT 'stale_order_date', stale_order_date, n_rows FROM a
    UNION ALL SELECT 'duplicate_orderkey', duplicate_orderkey, n_rows FROM a
    UNION ALL SELECT 'orphan_custkey', orphan_custkey, n_rows FROM a
    """,
    doc="Data-expectation audit (the pre-publish gate a pipeline runs "
    "on every load): null checks, domain checks, range/freshness "
    "checks, key-uniqueness, and referential orphans — ALL computed in "
    "ONE scan of the fact table (conditional sums in a single "
    "aggregate) plus one left join against the distinct dimension "
    "keys (broadcast here; a shuffle-hash join on the same key at "
    "100 TB). The one-row aggregate unpivots to a check_name/"
    "violations relation via stack(). Stale-date violations are "
    "intentionally non-zero so the non-trivial path is exercised.",
)
def orders_expectation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # an audit of an EMPTY load reports the full check suite with zero
    # violations (not NULLs) — the fixed-cardinality contract
    # test_empty_inputs pins.
    def csum(c):
        return F.coalesce(F.sum(c), F.lit(0).cast("long"))

    orders = load(spark, sf_dir, "orders")
    cust_keys = (
        load(spark, sf_dir, "customer")
        .select("c_custkey")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    j = orders.join(
        F.broadcast(cust_keys), orders.o_custkey == cust_keys.c_custkey, "left"
    )
    agg = j.agg(
        F.count("*").alias("n_rows"),
        csum(F.col("o_custkey").isNull().cast("long")).alias("null_custkey"),
        csum((F.col("o_totalprice") <= 0).cast("long")).alias("nonpositive_price"),
        csum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")).alias(
            "invalid_status"
        ),
        csum(
            (
                ~F.col("o_orderpriority").isin(
                    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
                )
            ).cast("long")
        ).alias("invalid_priority"),
        csum(
            (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).cast("long")
        ).alias("stale_order_date"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("duplicate_orderkey"),
        csum(F.col("_hit").isNull().cast("long")).alias("orphan_custkey"),
    )
    return agg.select(
        F.expr(
            "stack(7,"
            " 'null_custkey', null_custkey,"
            " 'nonpositive_price', nonpositive_price,"
            " 'invalid_status', invalid_status,"
            " 'invalid_priority', invalid_priority,"
            " 'stale_order_date', stale_order_date,"
            " 'duplicate_orderkey', duplicate_orderkey,"
            " 'orphan_custkey', orphan_custkey"
            ") AS (check_name, violations)"
        ),
        F.col("n_rows"),
    )


# --------------------------------------------------------------------------
# seasonal baseline + volume anomalies (integer cross-multiplied test)
# --------------------------------------------------------------------------


@register(
    "events_seasonality_hotspots",
    """
    WITH b AS (
      SELECT epoch_us(ts) // 3600000000 AS bucket_id,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      GROUP BY bucket_id),
    w AS (
      SELECT bucket_id % 168 AS slot, c,
             COUNT(*) OVER (PARTITION BY bucket_id % 168) AS nb,
             SUM(c) OVER (PARTITION BY bucket_id % 168) AS tot
      FROM b)
    SELECT CAST(slot AS BIGINT) AS slot,
           CAST(MAX(nb) AS BIGINT) AS n_buckets,
           CAST(MAX(tot) AS BIGINT) AS slot_total,
           CAST(SUM(CASE WHEN c * nb > 2 * tot THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hot_buckets
    FROM w
    GROUP BY slot
    """,
    doc="Seasonality profile + anomaly count: events roll up to hour "
    "buckets, buckets fold onto a 168-slot weekly cycle (hour index "
    "mod 168 — pure integer epoch math, identical in both engines), "
    "and a bucket is 'hot' when its count exceeds 2x its slot's mean — "
    "tested as c * n_buckets > 2 * slot_total, an integer "
    "cross-multiplication so no float division ever happens. Scale "
    "shape: the bucket rollup is a partial-aggregated groupBy on a "
    "dense integer key; the slot window and final agg share the "
    "168-key exchange. The hot test needs the slot's FULL bucket list "
    "only per 168 slots, each holding #weeks rows — bounded state.",
)
def events_seasonality_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    b = (
        events.select(
            F.expr("unix_micros(ts) div 3600000000").alias("bucket_id")
        )
        .groupBy("bucket_id")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("slot")
    slotted = b.withColumn("slot", F.col("bucket_id") % 168).select(
        "slot",
        "c",
        F.count("*").over(w).alias("nb"),
        F.sum("c").over(w).alias("tot"),
    )
    return slotted.groupBy("slot").agg(
        F.max("nb").alias("n_buckets"),
        F.max("tot").alias("slot_total"),
        F.sum((F.col("c") * F.col("nb") > 2 * F.col("tot")).cast("long")).alias(
            "n_hot_buckets"
        ),
    )


# --------------------------------------------------------------------------
# k-anonymity audit (privacy governance over quasi-identifiers)
# --------------------------------------------------------------------------


@register(
    "customer_k_anonymity",
    """
    WITH qid AS (
      SELECT c_custkey,
             c_nationkey,
             c_mktsegment,
             CAST(floor(CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                                  AS BIGINT) AS DOUBLE) / 100000.0)
                  AS BIGINT) AS bal_band
      FROM customer),
    classes AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM qid
      GROUP BY c_nationkey, c_mktsegment, bal_band)
    SELECT class_size,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
           (class_size < 5) AS violates_k5
    FROM classes
    GROUP BY class_size
    """,
    doc="k-anonymity audit (Sweeney 2002): every released row must be "
    "indistinguishable from at least k-1 others on its quasi-identifiers "
    "(here nation, market segment, $1000 balance band — cents are exact "
    "int64 before the band floor, so both engines bucket identically). "
    "Output is the equivalence-class-size histogram with the k=5 "
    "violation flag: the release gate reads min(class_size) and the "
    "suppression set is the violates_k5 rows. Scale shape: two chained "
    "partial-aggregated groupBys (QID classes, then the size histogram) "
    "- the histogram exchange carries at most one row per distinct "
    "class size, and the QID rollup is map-side combined; no per-row "
    "state leaves the executors. At 100 TB the audit is one scan.",
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    qid = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            (dec(F.col("c_acctbal"), 12, 2) * 100).cast("long").cast("double")
            / 100000.0
        )
        .cast("long")
        .alias("bal_band"),
    )
    classes = qid.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count("*").alias("class_size")
    )
    return (
        classes.groupBy("class_size")
        .agg(F.count("*").alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).cast("long").alias("n_rows"),
            (F.col("class_size") < 5).alias("violates_k5"),
        )
    )


# --------------------------------------------------------------------------
# single-scan column profiling (ANALYZE-style data quality snapshot)
# --------------------------------------------------------------------------


@register(
    "orders_column_profile",
    """
    WITH p AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_total,
        CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT)  AS nn_orderkey,
        CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)    AS nd_orderkey,
        CAST(MIN(o_orderkey) AS VARCHAR)              AS mn_orderkey,
        CAST(MAX(o_orderkey) AS VARCHAR)              AS mx_orderkey,
        CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT)   AS nn_custkey,
        CAST(COUNT(DISTINCT o_custkey) AS BIGINT)     AS nd_custkey,
        CAST(MIN(o_custkey) AS VARCHAR)               AS mn_custkey,
        CAST(MAX(o_custkey) AS VARCHAR)               AS mx_custkey,
        CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS nn_status,
        CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
        CAST(MIN(o_orderstatus) AS VARCHAR)           AS mn_status,
        CAST(MAX(o_orderstatus) AS VARCHAR)           AS mx_status,
        CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS nn_price,
        CAST(COUNT(DISTINCT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS nd_price,
        CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
             AS VARCHAR) AS mn_price,
        CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
             AS VARCHAR) AS mx_price,
        CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS nn_date,
        CAST(COUNT(DISTINCT o_orderdate) AS BIGINT)   AS nd_date,
        CAST(MIN(o_orderdate) AS VARCHAR)             AS mn_date,
        CAST(MAX(o_orderdate) AS VARCHAR)             AS mx_date,
        CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS nn_prio,
        CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_prio,
        CAST(MIN(o_orderpriority) AS VARCHAR)         AS mn_prio,
        CAST(MAX(o_orderpriority) AS VARCHAR)         AS mx_prio
      FROM orders)
    SELECT 'o_orderkey' AS col_name, n_total, nn_orderkey AS n_nulls,
           nd_orderkey AS n_distinct, mn_orderkey AS min_repr,
           mx_orderkey AS max_repr FROM p
    UNION ALL SELECT 'o_custkey', n_total, nn_custkey, nd_custkey,
           mn_custkey, mx_custkey FROM p
    UNION ALL SELECT 'o_orderstatus', n_total, nn_status, nd_status,
           mn_status, mx_status FROM p
    UNION ALL SELECT 'o_totalprice', n_total, nn_price, nd_price,
           mn_price, mx_price FROM p
    UNION ALL SELECT 'o_orderdate', n_total, nn_date, nd_date,
           mn_date, mx_date FROM p
    UNION ALL SELECT 'o_orderpriority', n_total, nn_prio, nd_prio,
           mn_prio, mx_prio FROM p
    """,
    doc="Single-scan column profile (the ANALYZE/data-quality snapshot a "
    "warehouse runs after every load): per column null count, exact "
    "distinct count, and min/max rendered to strings (numerics via exact "
    "int64 cents so both engines print identical representations; dates "
    "via the ISO cast both dialects share). One wide aggregate computes "
    "all 25 stats in a single pass, then a 6-row unpivot reshapes the "
    "1-row result - the data is scanned once and the unpivot touches "
    "one row. Scale note: the exact COUNT(DISTINCT)s plan as Expand "
    "(one stream per distinct column); at 100 TB swap them for "
    "approx_count_distinct/HLL (operators/sketch.py) - the rest of the "
    "profile is a plain partial-agg. Profiling is append-mergeable: "
    "nulls/min/max combine across loads, distinct via the HLL variant.",
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: the 9-column full-profile aggregation map side
    # measured 2.9 -> 2.2s at sf0.1 (A/B r12).
    orders = load(spark, sf_dir, "orders", spread=True)
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    p = orders.agg(
        F.count("*").alias("n_total"),
        (F.count("*") - F.count("o_orderkey")).alias("nn_orderkey"),
        F.countDistinct("o_orderkey").alias("nd_orderkey"),
        F.min("o_orderkey").cast("string").alias("mn_orderkey"),
        F.max("o_orderkey").cast("string").alias("mx_orderkey"),
        (F.count("*") - F.count("o_custkey")).alias("nn_custkey"),
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.min("o_custkey").cast("string").alias("mn_custkey"),
        F.max("o_custkey").cast("string").alias("mx_custkey"),
        (F.count("*") - F.count("o_orderstatus")).alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").cast("string").alias("mn_status"),
        F.max("o_orderstatus").cast("string").alias("mx_status"),
        (F.count("*") - F.count("o_totalprice")).alias("nn_price"),
        F.countDistinct(cents).alias("nd_price"),
        F.min(cents).cast("string").alias("mn_price"),
        F.max(cents).cast("string").alias("mx_price"),
        (F.count("*") - F.count("o_orderdate")).alias("nn_date"),
        F.countDistinct("o_orderdate").alias("nd_date"),
        F.min("o_orderdate").cast("string").alias("mn_date"),
        F.max("o_orderdate").cast("string").alias("mx_date"),
        (F.count("*") - F.count("o_orderpriority")).alias("nn_prio"),
        F.countDistinct("o_orderpriority").alias("nd_prio"),
        F.min("o_orderpriority").cast("string").alias("mn_prio"),
        F.max("o_orderpriority").cast("string").alias("mx_prio"),
    )
    cells = ", ".join(
        f"'{col}', nn_{sfx}, nd_{sfx}, mn_{sfx}, mx_{sfx}"
        for col, sfx in [
            ("o_orderkey", "orderkey"),
            ("o_custkey", "custkey"),
            ("o_orderstatus", "status"),
            ("o_totalprice", "price"),
            ("o_orderdate", "date"),
            ("o_orderpriority", "prio"),
        ]
    )
    return p.selectExpr(
        "n_total",
        f"stack(6, {cells}) AS (col_name, n_nulls, n_distinct, min_repr,"
        " max_repr)",
    ).select(
        "col_name", "n_total", "n_nulls", "n_distinct", "min_repr", "max_repr"
    )


# --------------------------------------------------------------------------
# incremental view maintenance (delta-merge an aggregate, no base rescan)
# --------------------------------------------------------------------------


@register(
    "ivm_incremental_agg",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Incremental view maintenance (the self-maintainable-aggregate "
    "case of Gupta & Mumick's IVM taxonomy): a revenue-by-priority "
    "materialized view is STORED (staged parquet - the simulated MV "
    "store), a delta batch (orderkey % 10 == 0, the rows the view has "
    "not seen) arrives, and maintenance is mv FULL OUTER JOIN "
    "delta_agg with coalesce-add merge - COUNT and SUM are "
    "self-maintainable under inserts, so the base table is NEVER "
    "rescanned: the plan reads the k-row stored view plus only the "
    "delta. The oracle states the invariant that makes IVM correct: "
    "maintained view == full recompute over base+delta. Exact int64 "
    "cents make the merge associative and bit-identical. Scale shape: "
    "at 100 TB the full groupBy rescan is the thing you cannot afford; "
    "this plan's cost is |delta| + |view| regardless of base size, and "
    "the same merge expression maintains the view under any insert "
    "split (the streaming twin is stream_running_totals).",
)
def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.staging import scratch_dir

    orders = load(spark, sf_dir, "orders")
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"), F.sum(cents).alias("revenue_cents")
        )

    # Materialize the view over the base partition into the MV store.
    mv_dir = scratch_dir("ivm_mv_")
    agg(orders.filter(F.col("o_orderkey") % 10 != 0)).write.mode(
        "overwrite"
    ).parquet(mv_dir)

    # Maintenance: stored view ⊕ delta aggregate (no base scan).
    mv = spark.read.parquet(mv_dir)
    delta = agg(orders.filter(F.col("o_orderkey") % 10 == 0)).select(
        "o_orderpriority",
        F.col("n").alias("d_n"),
        F.col("revenue_cents").alias("d_revenue_cents"),
    )
    return mv.join(delta, "o_orderpriority", "full_outer").select(
        "o_orderpriority",
        (
            F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))
        ).cast("long").alias("n"),
        (
            F.coalesce(F.col("revenue_cents"), F.lit(0))
            + F.coalesce(F.col("d_revenue_cents"), F.lit(0))
        ).cast("long").alias("revenue_cents"),
    )


# --------------------------------------------------------------------------
# order-free content digests (cross-store reconciliation)
# --------------------------------------------------------------------------


@register(
    "orders_daily_content_digest",
    """
    WITH h AS (
      SELECT o_orderdate,
             CAST('0x' || substr(md5(
               COALESCE(CAST(o_orderkey AS VARCHAR), '<null>') || '|' ||
               COALESCE(CAST(o_custkey AS VARCHAR), '<null>') || '|' ||
               COALESCE(o_orderstatus, '<null>') || '|' ||
               COALESCE(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT) AS VARCHAR), '<null>') || '|' ||
               COALESCE(o_orderpriority, '<null>')), 1, 15) AS BIGINT)
               AS row_fp
      FROM orders)
    SELECT o_orderdate,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(row_fp) AS BIGINT) AS content_digest
    FROM h
    GROUP BY o_orderdate
    """,
    doc="Order-free per-day content digests for cross-store "
    "reconciliation: each row's fingerprint is an md5 of its canonical "
    "serialization (exact-cents for the price so every engine "
    "serializes identically), and the day digest is count + BIT_XOR of "
    "fingerprints - XOR is associative/commutative, so ANY store "
    "computing the digest over any partitioning/replica order gets the "
    "same 8 bytes, and two stores diff whole days by comparing one "
    "row per day instead of row-by-row. (XOR cancels only if a "
    "duplicated row pairs with a missing one in the same day - pair "
    "the digest with n_rows to close that gap.) Scale shape: narrow "
    "map + one partial-aggregated groupBy per day; digests of shards "
    "merge by XOR, the same stored-sketch pattern as the daily-merge "
    "family.",
)
def orders_daily_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    # explicit NULL sentinel per field: concat_ws silently SKIPS nulls
    # (shifting every later field left), while the oracle's || chain
    # nullifies the row — both would break digest equality on any
    # nullable column, so canonicalize nulls identically on both sides
    sent = lambda c: F.coalesce(c.cast("string"), F.lit("<null>"))  # noqa: E731
    canon = F.concat_ws(
        "|",
        sent(F.col("o_orderkey")),
        sent(F.col("o_custkey")),
        sent(F.col("o_orderstatus")),
        sent(cents),
        sent(F.col("o_orderpriority")),
    )
    fp = md5_h15(canon)
    return (
        orders.select("o_orderdate", fp.alias("row_fp"))
        .groupBy("o_orderdate")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(row_fp)").cast("long").alias("content_digest"),
        )
    )
