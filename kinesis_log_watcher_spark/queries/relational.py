"""Relational surface queries (SURVEY.md §2.2): scans, filters, joins of
every flavor, aggregations (incl. rollup/cube/grouping-sets), windows,
sorts/top-k, set ops, string/date/JSON scalar functions.

Scale notes are per-query docstrings; the common rules:
- dim joins broadcast (region/nation/customer at dimension scale),
- fact-fact joins shuffle on their keys with AQE skew handling,
- top-k never total-sorts (TakeOrderedAndProject),
- exact DECIMAL aggregation for engine-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.functions.exact import davg, dec, dsum
from kinesis_log_watcher_spark.operators.relational import (
    asof_join,
    broadcast_join,
    pivot_counts,
    running_total,
    set_ops_tagged,
    sessionize,
    top_k,
    top_k_per_group,
)
from kinesis_log_watcher_spark.queries.base import load, register

# --------------------------------------------------------------------------
# q01 — TPC-H-Q1-style pricing summary (the flagship: scan+filter+hash agg)
# --------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))
                    * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) / COUNT(*)) AS avg_qty,
           (CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) / COUNT(*)) AS avg_price,
           (CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / COUNT(*)) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Scan + pushed filter + hash aggregate with 8 exact-decimal aggs.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = dec(F.col("l_extendedprice"), 9, 2) * (
        F.lit(1) - dec(F.col("l_discount"), 3, 2)
    )
    charge = disc_price * (F.lit(1) + dec(F.col("l_tax"), 3, 2))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), 9, 2).alias("sum_qty"),
        dsum(F.col("l_extendedprice"), 9, 2).alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        davg(F.col("l_quantity"), 9, 2).alias("avg_qty"),
        davg(F.col("l_extendedprice"), 9, 2).alias("avg_price"),
        davg(F.col("l_discount"), 3, 2).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --------------------------------------------------------------------------
# q02 — time-range filter + projection (the reference's F1/P1 on a table)
# --------------------------------------------------------------------------


@register(
    "events_time_filter",
    """
    SELECT event_id, ts, user_id, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
      AND event_type = 'error'
    """,
    doc="Predicate + projection pushed to the parquet scan "
    "(reference F1: AT_TIMESTAMP start filter, main.go:300-305).",
)
def events_time_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
        & (F.col("event_type") == "error")
    ).select("event_id", "ts", "user_id", "value")


# --------------------------------------------------------------------------
# q03 — broadcast dimension join chain
# --------------------------------------------------------------------------


@register(
    "customers_per_region",
    """
    SELECT r_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal,
           (CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(c_acctbal)) AS avg_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Fact⋈dim⋈dim with both dims broadcast — fact side never shuffles "
    "for the join (only the final small agg).",
)
def customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = broadcast_join(
        broadcast_join(cust, nation, F.col("c_nationkey") == F.col("n_nationkey")),
        region,
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_customers"),
        dsum(F.col("c_acctbal")).alias("sum_acctbal"),
        davg(F.col("c_acctbal")).alias("avg_acctbal"),
    )


# --------------------------------------------------------------------------
# q04 — fact⋈fact shuffle join + aggregate
# --------------------------------------------------------------------------


@register(
    "revenue_by_priority",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="orders⋈lineitem on orderkey: co-partitioned shuffle join (AQE "
    "handles skew); partial aggregation before the final 5-group reduce.",
)
def revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    revenue = dec(F.col("l_extendedprice"), 9, 2) * (
        F.lit(1) - dec(F.col("l_discount"), 3, 2)
    )
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q05/q06 — semi / anti joins
# --------------------------------------------------------------------------


@register(
    "customers_with_recent_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    """,
    doc="Left-semi join (EXISTS). Broadcast of the filtered key set when "
    "small; shuffled semi otherwise — Catalyst/AQE picks.",
)
def customers_with_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-anti join (NOT EXISTS).",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_acctbal")


# --------------------------------------------------------------------------
# q07/q08 — top-k (global and per-group)
# --------------------------------------------------------------------------


@register(
    "top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-k: TakeOrderedAndProject (per-partition heap + driver "
    "merge) — no total sort at any scale. Deterministic tie-break.",
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return top_k(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


@register(
    "top_orders_per_segment",
    """
    SELECT * FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
      FROM orders JOIN customer ON o_custkey = c_custkey)
    WHERE rank <= 5
    """,
    doc="Per-group top-k: ranking window, one shuffle on the group key; "
    "customer side broadcast into the join.",
)
def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    joined = broadcast_join(
        orders, cust.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    ranked = top_k_per_group(
        joined.select("c_mktsegment", "o_orderkey", "o_totalprice"),
        ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        5,
    )
    return ranked.withColumn("rank", F.col("rank").cast("long"))


# --------------------------------------------------------------------------
# q09 — running (prefix) aggregate window
# --------------------------------------------------------------------------


@register(
    "user_running_value",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_value
    FROM events
    WHERE user_id < 20
    """,
    doc="Prefix-sum window; exact decimal accumulation keeps every prefix "
    "bit-identical across engines and partitionings.",
)
def user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    out = running_total(
        ev,
        ["user_id"],
        [F.col("ts"), F.col("event_id")],
        dec(F.col("value"), 28, 4),
        out_col="running_value",
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("running_value").cast("double").alias("running_value")
    )


# --------------------------------------------------------------------------
# q10 — set operations
# --------------------------------------------------------------------------


@register(
    "nation_set_ops",
    """
    SELECT 'union' AS op, n FROM (
        SELECT DISTINCT c_nationkey AS n FROM customer
        UNION SELECT DISTINCT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, n FROM (
        SELECT DISTINCT c_nationkey AS n FROM customer
        INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, n FROM (
        SELECT DISTINCT c_nationkey AS n FROM customer
        EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
    """,
    doc="UNION / INTERSECT / EXCEPT over key sets, tagged in one result.",
)
def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n"))
    supp = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n"))
    return set_ops_tagged(cust, supp, "n").select("op", "n")


# --------------------------------------------------------------------------
# q11/q12 — rollup / cube
# --------------------------------------------------------------------------


@register(
    "order_priority_rollup",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP: partial-aggregate expansion planned by Catalyst (Expand + "
    "single shuffle), not one pass per grouping level.",
)
def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), dsum(F.col("o_totalprice")).alias("sum_total"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
            "sum_total",
        )
    )


@register(
    "lineitem_cube",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over two low-cardinality keys.",
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), dsum(F.col("l_quantity"), 9, 2).alias("sum_qty"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


# --------------------------------------------------------------------------
# q13 — distinct aggregation
# --------------------------------------------------------------------------


@register(
    "segment_distinct_nations",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c_nationkey) AS n_nations
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="COUNT(DISTINCT): two-phase distinct aggregate.",
)
def segment_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


# --------------------------------------------------------------------------
# q14 — multi-column sort + limit
# --------------------------------------------------------------------------


@register(
    "orders_multisort",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 50
    """,
    doc="Multi-key ordered limit — still TakeOrderedAndProject.",
)
def orders_multisort(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return top_k(
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice"),
        [
            F.col("o_orderstatus").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        ],
        50,
    )


# --------------------------------------------------------------------------
# q15 — statistical aggregates from exact sums
# --------------------------------------------------------------------------


@register(
    "nation_acctbal_stats",
    """
    SELECT c_nationkey,
           COUNT(*) AS n,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           (CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)) AS avg_bal,
           CASE WHEN COUNT(*) > 1 THEN
             sqrt((CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))
                           * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   - CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                     * CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
                  / (COUNT(*) - 1))
           END AS stddev_bal
    FROM customer
    GROUP BY c_nationkey
    """,
    doc="min/max/avg/stddev where stddev is derived from exact decimal "
    "sums — deterministic across engines, unlike native STDDEV on doubles.",
)
def nation_acctbal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    agg = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        dsum(F.col("c_acctbal")).alias("s1"),
        # square in DECIMAL (exact), not double: a double product rounds
        # differently when later cast to decimal across engines
        F.sum(dec(F.col("c_acctbal")) * dec(F.col("c_acctbal")))
        .cast("double")
        .alias("s2"),
    )
    n = F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    return agg.select(
        "c_nationkey",
        "n",
        "min_bal",
        "max_bal",
        (F.col("s1") / n).alias("avg_bal"),
        F.when(n > 1, F.sqrt(var)).alias("stddev_bal"),
    )


# --------------------------------------------------------------------------
# q16 — CASE-WHEN bucketing
# --------------------------------------------------------------------------


@register(
    "price_band_agg",
    """
    SELECT CASE WHEN l_extendedprice < 5000 THEN 'low'
                WHEN l_extendedprice < 20000 THEN 'mid'
                ELSE 'high' END AS band,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY 1
    """,
    doc="Computed grouping key (CASE WHEN) — stays in codegen.",
)
def price_band_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_extendedprice") < 5000, "low")
        .when(F.col("l_extendedprice") < 20000, "mid")
        .otherwise("high")
    )
    return li.groupBy(band.alias("band")).agg(
        F.count("*").alias("n"),
        dsum(F.col("l_extendedprice"), 9, 2).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# q17 — SQL front end with correlated EXISTS
# --------------------------------------------------------------------------


@register(
    "big_spender_customers",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    doc="spark.sql() front end: correlated EXISTS — Catalyst rewrites to a "
    "left-semi join (no per-row subquery execution).",
)
def big_spender_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("q17_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("q17_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM q17_customer c
        WHERE EXISTS (SELECT 1 FROM q17_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """
    )


# --------------------------------------------------------------------------
# q18 — string scalar functions
# --------------------------------------------------------------------------


@register(
    "part_brand_stats",
    """
    SELECT p_brand,
           COUNT(*) AS n_parts,
           COUNT(DISTINCT upper(p_type)) AS n_types,
           COUNT(DISTINCT substring(p_name, 1, 4)) AS n_name_prefixes,
           (CAST(SUM(CAST(p_retailprice AS DECIMAL(9,2))) AS DOUBLE) / COUNT(*)) AS avg_price
    FROM part
    GROUP BY p_brand
    """,
    doc="upper/substring in grouping-adjacent expressions.",
)
def part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.countDistinct(F.upper(F.col("p_type"))).alias("n_types"),
        F.countDistinct(F.substring(F.col("p_name"), 1, 4)).alias("n_name_prefixes"),
        davg(F.col("p_retailprice"), 9, 2).alias("avg_price"),
    )


# --------------------------------------------------------------------------
# q19 — date functions
# --------------------------------------------------------------------------


@register(
    "orders_by_month",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY 1, 2
    """,
    doc="year/month extraction + aggregate (time-bucketed rollup).",
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
    ).agg(F.count("*").alias("n"), dsum(F.col("o_totalprice")).alias("sum_total"))


# --------------------------------------------------------------------------
# q20 — JSON extraction (the reference's X4/X5 on a table column)
# --------------------------------------------------------------------------


@register(
    "events_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           (CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
            / COUNT(json_extract_string(props, '$.k'))) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    doc="Schema-on-read JSON access (get_json_object ≙ the reference's "
    "lenient {{.Log.k}} — null on missing, main.go:273-279).",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
    )


# --------------------------------------------------------------------------
# q36 — as-of join (no native Spark op: join + ranked-window composition)
# --------------------------------------------------------------------------


@register(
    "asof_latest_order",
    """
    SELECT event_id, user_id, ts, o_orderkey, o_orderdate
    FROM (
      SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM (SELECT * FROM events WHERE user_id < 50) e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
    WHERE rn = 1 OR o_orderkey IS NULL
    """,
    doc="As-of join (latest order at or before each event). Spark lacks a "
    "native as-of: equi-join on the entity key + time inequality, then a "
    "per-event ranking window keeps the latest. One shuffle on the key; "
    "for dense per-key history, pre-bucket by time or merge_asof per group.",
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .withColumnRenamed("user_id", "o_custkey")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    return asof_join(
        ev, orders, on="o_custkey", left_id="event_id",
        left_ts="ts", right_ts="o_orderdate", tiebreak="o_orderkey",
    ).select(
        "event_id", F.col("o_custkey").alias("user_id"), "ts",
        "o_orderkey", "o_orderdate",
    )


# --------------------------------------------------------------------------
# q37 — sessionization
# --------------------------------------------------------------------------


@register(
    "user_sessions",
    """
    SELECT user_id,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id,
             SUM(CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (SELECT user_id, ts, event_id,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events))
    GROUP BY user_id
    """,
    doc="Gap-based sessionization (30-min gap): lag + running count of "
    "session starts — one shuffle, both windows share the sort.",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", 1800, "event_id")
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# q38 — pivot
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "event_type_pivot",
    """
    SELECT CAST(user_id % 10 AS BIGINT) AS user_decile,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS "view"
    FROM events
    GROUP BY 1
    """,
    doc="Pivot with an explicit value list (no distinct-scan pre-job).",
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return pivot_counts(
        ev,
        (F.col("user_id") % 10).cast("long"),
        "event_type",
        _EVENT_TYPES,
        row_key_name="user_decile",
    )


# --------------------------------------------------------------------------
# q39 — grouping sets
# --------------------------------------------------------------------------


@register(
    "events_grouping_sets",
    """
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           CAST(COALESCE(hour(ts), -1) AS BIGINT) AS hour,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (hour(ts)), ())
    """,
    doc="GROUPING SETS — Expand + one shuffle, like rollup/cube.",
)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("q39_events")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               CAST(COALESCE(hour(ts), -1) AS BIGINT) AS hour,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
        FROM q39_events
        GROUP BY GROUPING SETS ((event_type), (hour(ts)), ())
        """
    )


# --------------------------------------------------------------------------
# q41 — pandas-UDAF aggregate (exact median, no built-in equivalent)
# --------------------------------------------------------------------------


@register(
    "priority_median_price",
    """
    SELECT o_orderpriority,
           median(o_totalprice) AS median_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Grouped-aggregate pandas UDF (exact median — Spark's built-in "
    "percentile_approx is approximate): one shuffle on the grouping key, "
    "one vectorized Arrow reduce per group (functions/udfs.py).",
)
def priority_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.udfs import count_udaf, median_udaf

    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        median_udaf()("o_totalprice").alias("median_price"),
        count_udaf()("o_totalprice").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# q42 — range (theta) join against an interval dimension
# --------------------------------------------------------------------------

_TIERS = [("bronze", 0.0, 100000.0), ("silver", 100000.0, 300000.0),
          ("gold", 300000.0, 1000000.0)]
_TIER_VALUES = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _TIERS)


@register(
    "orders_tier_range_join",
    f"""
    SELECT t.tier,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price
    FROM orders o
    JOIN (VALUES {_TIER_VALUES}) t(tier, lo, hi)
      ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    GROUP BY t.tier
    """,
    doc="Range (theta) join: facts joined to an interval dimension on "
    "lo ≤ x < hi. The interval table broadcasts, so the non-equi "
    "condition evaluates as a broadcast nested-loop over 3 rows — a "
    "narrow map in practice, no fact shuffle before the aggregate. "
    "(For interval tables too large to broadcast, the scale path is "
    "binning both sides to an equi-join key — price_band_agg shows the "
    "degenerate precomputed-bin form.)",
)
def orders_tier_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(_TIERS, "tier string, lo double, hi double")
    joined = orders.join(
        F.broadcast(tiers),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice"), 9, 2).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# q43 — multiset set ops (ALL variants preserve duplicates)
# --------------------------------------------------------------------------


@register(
    "priority_multiset_ops",
    """
    WITH y97 AS (SELECT o_orderpriority AS p FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01'),
    y98 AS (SELECT o_orderpriority AS p FROM orders
            WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
    i AS (SELECT p, 'intersect_all' AS op FROM (SELECT * FROM y97 INTERSECT ALL SELECT * FROM y98)),
    e AS (SELECT p, 'except_all' AS op FROM (SELECT * FROM y97 EXCEPT ALL SELECT * FROM y98))
    SELECT op, p, COUNT(*) AS n
    FROM (SELECT * FROM i UNION ALL SELECT * FROM e)
    GROUP BY op, p
    """,
    doc="Multiset set ops: INTERSECT ALL / EXCEPT ALL keep multiplicities "
    "(Spark intersectAll/exceptAll plan as counted aggregates + joins, "
    "not row-dedup) — counted per priority for a stable result.",
)
def priority_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(F.col("o_orderpriority").alias("p"))
    y98 = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(F.col("o_orderpriority").alias("p"))
    i = y97.intersectAll(y98).withColumn("op", F.lit("intersect_all"))
    e = y97.exceptAll(y98).withColumn("op", F.lit("except_all"))
    return i.unionByName(e).groupBy("op", "p").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# q44 — uncorrelated scalar subquery
# --------------------------------------------------------------------------


@register(
    "above_avg_balance",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_above
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                              / COUNT(c_acctbal)
                       FROM customer)
    GROUP BY c_mktsegment
    """,
    doc="Uncorrelated scalar subquery: the average computes once and "
    "broadcasts into the filter (Catalyst plans a subquery-scalar reuse, "
    "not a per-row re-evaluation). Exact-decimal mean both sides.",
)
def above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_above
        FROM customer_v
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                                  / COUNT(c_acctbal)
                           FROM customer_v)
        GROUP BY c_mktsegment
        """
    )


# --------------------------------------------------------------------------
# q29 — time-RANGE window frame: trailing 1-hour moving aggregate
# --------------------------------------------------------------------------


@register(
    "events_moving_window",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(28,10)))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS win_sum,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS win_n
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc="RANGE-frame window: per-user trailing 1-hour sum/count over "
    "event time, ordered by epoch microseconds so both engines frame "
    "identically (RANGE peers = exact value ties). Parallel by user; "
    "no global sort.",
)
def events_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec(F.col("value"), 28, 10)).over(w).cast("double").alias("win_sum"),
        F.count("*").over(w).alias("win_n"),
    )


# --------------------------------------------------------------------------
# q30 — NTILE deciles within partitions
# --------------------------------------------------------------------------


@register(
    "segment_balance_deciles",
    """
    WITH d AS (
        SELECT c_mktsegment, c_acctbal,
               NTILE(10) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey) AS decile
        FROM customer
    )
    SELECT c_mktsegment, CAST(decile AS BIGINT) AS decile,
           COUNT(*) AS n_customers,
           CAST(MIN(c_acctbal) AS DOUBLE) AS lo,
           CAST(MAX(c_acctbal) AS DOUBLE) AS hi
    FROM d
    GROUP BY c_mktsegment, decile
    """,
    doc="NTILE(10) deciles per market segment (tie-break on c_custkey "
    "makes bucket assignment total-order deterministic), then per-decile "
    "min/max/count. Partitioned window — parallel across segments; a "
    "global decile at corpus scale would instead use approx quantile "
    "boundaries + a broadcast range join.",
)
def segment_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    d = cust.select(
        "c_mktsegment", "c_acctbal", F.ntile(10).over(w).cast("bigint").alias("decile")
    )
    return d.groupBy("c_mktsegment", "decile").agg(
        F.count("*").alias("n_customers"),
        F.min("c_acctbal").cast("double").alias("lo"),
        F.max("c_acctbal").cast("double").alias("hi"),
    )


# --------------------------------------------------------------------------
# q31 — lead / first_value / last_value analytics
# --------------------------------------------------------------------------


@register(
    "user_event_gaps",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts,
             FIRST_VALUE(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS first_type,
             LAST_VALUE(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
      FROM events)
    SELECT user_id, first_type, last_type,
           COUNT(next_ts) AS n_gaps,
           CAST(MAX(epoch_us(next_ts) - epoch_us(ts)) AS BIGINT) AS max_gap_us,
           CAST(SUM(epoch_us(next_ts) - epoch_us(ts)) AS BIGINT) AS total_gap_us
    FROM g
    GROUP BY user_id, first_type, last_type
    """,
    doc="lead + first_value/last_value analytics: per-user inter-event "
    "gaps (integer µs — exact) and first/last event type, all three "
    "window functions sharing one partition sort (tie-break event_id "
    "makes first/last deterministic). One shuffle on user_id.",
)
def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    gap = F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))
    g = ev.select(
        "user_id",
        "ts",
        F.lead("ts").over(w).alias("next_ts"),
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
    )
    return g.groupBy("user_id", "first_type", "last_type").agg(
        F.count("next_ts").alias("n_gaps"),
        F.max(gap).cast("bigint").alias("max_gap_us"),
        F.sum(gap).cast("bigint").alias("total_gap_us"),
    )


# --------------------------------------------------------------------------
# q32 — array functions: collect_set → array_sort → array_join
# --------------------------------------------------------------------------


@register(
    "segment_nation_roster",
    """
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
           CAST(len(list(DISTINCT n_name)) AS BIGINT) AS n_nations
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY c_mktsegment
    """,
    doc="Array aggregation surface: collect_set (unordered) made "
    "deterministic via array_sort, emitted as a joined string so both "
    "engines compare scalar values (array reprs differ across pandas "
    "bridges). Broadcast dim join + one small agg.",
)
def segment_nation_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    j = cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    names = F.array_sort(F.collect_set("n_name"))
    return j.groupBy("c_mktsegment").agg(
        F.array_join(names, ",").alias("nations"),
        F.size(names).cast("bigint").alias("n_nations"),
    )


# --------------------------------------------------------------------------
# q33 — unpivot (wide → long)
# --------------------------------------------------------------------------


@register(
    "acctbal_extremes_unpivot",
    """
    WITH wide AS (
        SELECT c_mktsegment,
               CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
               CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
        FROM customer
        GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, metric, value
    FROM wide
    UNPIVOT (value FOR metric IN (min_bal, max_bal))
    """,
    doc="Unpivot (wide→long): per-segment min/max balance melted into "
    "(metric, value) rows. A narrow 1→k row expansion after the "
    "aggregate — no extra shuffle.",
)
def acctbal_extremes_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    wide = cust.groupBy("c_mktsegment").agg(
        F.min("c_acctbal").cast("double").alias("min_bal"),
        F.max("c_acctbal").cast("double").alias("max_bal"),
    )
    return wide.unpivot(
        ["c_mktsegment"], ["min_bal", "max_bal"], "metric", "value"
    )


# --------------------------------------------------------------------------
# q34 — exact percentile as an order statistic (rank-based, engine-exact)
# --------------------------------------------------------------------------


@register(
    "segment_p95_balance",
    """
    WITH r AS (
        SELECT c_mktsegment, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS rn,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
    )
    SELECT c_mktsegment, CAST(c_acctbal AS DOUBLE) AS p95_bal
    FROM r
    WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)
    """,
    doc="Exact p95 as an order statistic: the value at rank ceil(0.95·n) "
    "per segment — integer rank selection, so no interpolation and no "
    "engine float divergence (unlike percentile_cont). One partitioned "
    "sort; at corpus scale the approx path is approx_percentile, this "
    "is the exact companion.",
)
def segment_p95_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    r = cust.select(
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return r.filter(
        F.col("rn") == F.ceil(F.lit(0.95) * F.col("n")).cast("bigint")
    ).select("c_mktsegment", F.col("c_acctbal").cast("double").alias("p95_bal"))


# --------------------------------------------------------------------------
# q35 — map-typed aggregation emitted as canonical JSON
# --------------------------------------------------------------------------


@register(
    "user_event_type_map",
    """
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events
        GROUP BY user_id, event_type
    )
    SELECT user_id,
           '{' || string_agg('"' || event_type || '":' || cnt, ',' ORDER BY event_type)
               || '}' AS type_counts
    FROM c
    GROUP BY user_id
    """,
    doc="Map-typed aggregation: per-user event_type→count map, emitted "
    "as canonical (key-sorted) JSON so engines compare strings. Two "
    "partial-aggregated shuffles on progressively smaller keys.",
)
def user_event_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    entries = F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
    return c.groupBy("user_id").agg(
        F.to_json(F.map_from_entries(entries)).alias("type_counts")
    )


# --------------------------------------------------------------------------
# q36 — percent_rank / cume_dist distribution cuts
# --------------------------------------------------------------------------


@register(
    "priority_price_distribution",
    """
    WITH r AS (
        SELECT o_orderpriority, o_totalprice,
               PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey) AS pr,
               CUME_DIST() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice, o_orderkey) AS cd
        FROM orders
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(CASE WHEN cd <= 0.25 THEN 1 END) AS n_bottom_quartile,
           CAST(MAX(CASE WHEN pr <= 0.5 THEN o_totalprice END) AS DOUBLE)
               AS median_ish_price
    FROM r
    GROUP BY o_orderpriority
    """,
    doc="percent_rank + cume_dist over a unique total order (tie-break "
    "o_orderkey → single-row peer groups, so both are exact integer "
    "ratios — engine-identical doubles). Distribution cuts per priority.",
)
def priority_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    r = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return r.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(F.col("cd") <= 0.25, 1)).alias("n_bottom_quartile"),
        F.max(F.when(F.col("pr") <= 0.5, F.col("o_totalprice")))
        .cast("double")
        .alias("median_ish_price"),
    )


# --------------------------------------------------------------------------
# q37 — calendar hierarchy rollup (year/quarter date parts)
# --------------------------------------------------------------------------


@register(
    "orders_quarterly_rollup",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS o_quarter,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY ROLLUP (o_year, o_quarter)
    """,
    doc="Calendar-hierarchy rollup: year → quarter subtotals + grand "
    "total over filtered orders (quarter extraction agrees across "
    "engines; exact-decimal revenue). Single scan, one grouping-sets "
    "aggregate.",
)
def orders_quarterly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        orders.select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.quarter("o_orderdate").cast("bigint").alias("o_quarter"),
            "o_totalprice",
        )
        .rollup("o_year", "o_quarter")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# posexplode (position-preserving lateral view)
# --------------------------------------------------------------------------


@register(
    "doc_token_positions",
    """
    SELECT doc_id,
           unnest(range(len(string_split(text, ' ')))) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id < 50
    """,
    doc="posexplode: 1→N lateral fan-out that PRESERVES element position "
    "(the ordinal a plain explode loses). Narrow generator — no shuffle, "
    "output partitioning inherits the scan. Oracle = DuckDB's aligned "
    "dual-unnest (values zipped with their range of ordinals).",
)
def doc_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


# --------------------------------------------------------------------------
# salted (skew-safe) join — result parity with the plain equi-join
# --------------------------------------------------------------------------


@register(
    "salted_user_event_rollup",
    """
    WITH d AS (
      SELECT user_id, COUNT(*) AS user_total
      FROM events GROUP BY user_id)
    SELECT e.user_id, e.event_type, d.user_total, COUNT(*) AS n
    FROM events e JOIN d ON e.user_id = d.user_id
    GROUP BY 1, 2, 3
    """,
    doc="Skew-safe salted join (operators/relational.py salted_join): the "
    "fact side salts into 16 sub-keys, the dim side explodes 16×, the "
    "hot key's rows spread across 16 shuffle partitions instead of one "
    "straggler task. The oracle is the PLAIN join — salting must be "
    "result-invariant, which is the whole point (AQE skew-split is the "
    "runtime variant; this is the explicit one for streaming/known-"
    "pathological keys).",
)
def salted_user_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.relational import salted_join

    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    dim = ev.groupBy("user_id").agg(F.count("*").alias("user_total"))
    return (
        salted_join(ev, dim, "user_id", salt=16)
        .groupBy("user_id", "event_type", "user_total")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# forward as-of join (next event at or after each order)
# --------------------------------------------------------------------------


@register(
    "asof_next_event",
    """
    SELECT o_orderkey, o_custkey, o_orderdate, event_id, ts
    FROM (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, e.event_id, e.ts,
             ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                  ORDER BY e.ts ASC, e.event_id ASC) AS rn
      FROM (SELECT * FROM orders WHERE o_custkey < 50) o
      LEFT JOIN events e
        ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
    WHERE rn = 1
    """,
    doc="FORWARD as-of join (asof_join direction='forward'): for each "
    "order, the EARLIEST event at or after the order date by the same "
    "user — the mirror of asof_latest_order's backward lookup. Same "
    "shape: one equi-join shuffle + per-left-row ranking window, "
    "ascending with (ts, event_id) tiebreak.",
)
def asof_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50).select(
        "o_orderkey", F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    events = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    out = asof_join(
        orders,
        events,
        on="user_id",
        left_id="o_orderkey",
        left_ts="o_orderdate",
        right_ts="ts",
        tiebreak="event_id",
        direction="forward",
    )
    return out.select(
        "o_orderkey",
        F.col("user_id").alias("o_custkey"),
        "o_orderdate",
        "event_id",
        "ts",
    )


# --------------------------------------------------------------------------
# file-format round-trips: text/columnar sinks re-read as sources
# --------------------------------------------------------------------------

_RT_ORACLE = """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS revenue,
           MIN(o_orderdate) AS first_order
    FROM orders
    GROUP BY o_orderpriority
"""


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Write orders through a sink format, read it back as a source, and
    aggregate — byte-faithful round-trip is what makes the oracle (which
    reads the ORIGINAL parquet) hash-match. Text formats carry the
    explicit µs timestampFormat (sources/files.py): without it Spark
    truncates to millis on write."""
    from kinesis_log_watcher_spark.staging import scratch_dir

    from kinesis_log_watcher_spark.sources.files import TEXT_TS_FORMAT

    orders = load(spark, sf_dir, "orders")
    path = scratch_dir(prefix=f"rt_{fmt}_") + "/orders"
    writer = orders.write.mode("overwrite")
    reader = spark.read.schema(orders.schema)
    if fmt in ("csv", "json"):
        writer = writer.option("timestampFormat", TEXT_TS_FORMAT)
        reader = reader.option("timestampFormat", TEXT_TS_FORMAT)
    if fmt == "csv":
        writer = writer.option("header", True)
        reader = reader.option("header", True)
    getattr(writer, fmt)(path)
    back = getattr(reader, fmt)(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        dsum(F.col("o_totalprice"), 12, 2).alias("revenue"),
        F.min("o_orderdate").alias("first_order"),
    )


@register(
    "orders_csv_roundtrip",
    _RT_ORACLE,
    doc="CSV sink → CSV source round-trip: header, explicit µs timestamp "
    "format both directions, schema-applied read (no inference on the "
    "hot path). The aggregate hash-matches the oracle computed on the "
    "ORIGINAL parquet — the round-trip lost nothing.",
)
def orders_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "csv")


@register(
    "orders_json_roundtrip",
    _RT_ORACLE,
    doc="JSON-lines sink → source round-trip with explicit µs timestamp "
    "format (default JSON write truncates timestamps to millis). Same "
    "original-parquet oracle as the CSV variant.",
)
def orders_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "json")


@register(
    "orders_orc_roundtrip",
    _RT_ORACLE,
    doc="ORC sink → source round-trip (columnar, typed — no text-format "
    "timestamp hazards; included so both columnar formats have an "
    "official correctness row, not just parquet).",
)
def orders_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


# --------------------------------------------------------------------------
# bucketed co-located join (storage-layout shuffle elimination)
# --------------------------------------------------------------------------


@register(
    "bucketed_order_lineitem_join",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE)
             AS gross
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Bucketed co-located fact⋈fact join (operators/bucketing.py): "
    "both tables re-written bucketed (8 buckets, in-bucket sorted) on "
    "the order key, then joined and aggregated — the join itself plans "
    "NO Exchange on either side (write-time shuffle amortized across "
    "every downstream keyed query; the 100 TB join story). Oracle = the "
    "same join on the original parquet: bucketing must be "
    "result-invariant. Exchange-freeness is pinned by "
    "tests/test_bucketing.py; this row pins the results.",
)
def bucketed_order_lineitem_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.staging import scratch_dir
    import uuid

    from kinesis_log_watcher_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    tag = uuid.uuid4().hex[:8]
    base = scratch_dir(prefix="bucketed_q_")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    write_bucketed(orders.withColumnRenamed("o_orderkey", "k"),
                   f"bq_orders_{tag}", "k", n_buckets=8, path=f"{base}/o")
    write_bucketed(li.withColumnRenamed("l_orderkey", "k"),
                   f"bq_lineitem_{tag}", "k", n_buckets=8, path=f"{base}/l")
    j = bucketed_join(spark, f"bq_orders_{tag}", f"bq_lineitem_{tag}", "k")
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        dsum(F.col("l_extendedprice"), 9, 2).alias("gross"),
    )


# --------------------------------------------------------------------------
# time-series gap filling (dense hourly series incl. empty buckets)
# --------------------------------------------------------------------------


@register(
    "events_hourly_gapfill",
    """
    WITH bounds AS (
      SELECT event_type,
             date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM events GROUP BY 1),
    hours AS (
      SELECT event_type,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds),
    counts AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_start,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT h.event_type, h.hour_start, COALESCE(c.n, 0) AS n
    FROM hours h
    LEFT JOIN counts c
      ON h.event_type = c.event_type AND h.hour_start = c.hour_start
    """,
    doc="Time-series gap filling (the time_bucket_gapfill shape): per "
    "series, generate the dense hourly axis with sequence() + explode "
    "and left-join the sparse counts so EMPTY hours appear as 0 — the "
    "operator dashboards/alerting need that a plain GROUP BY can't give. "
    "The generated axis is tiny (series × hours); the one real shuffle "
    "is the counts aggregate.",
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour_start"),
    )
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count("*").alias("n"))
    return (
        hours.join(counts, ["event_type", "hour_start"], "left")
        .select(
            "event_type",
            "hour_start",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# retention cohorts (week-over-week distinct-user retention)
# --------------------------------------------------------------------------


@register(
    "user_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort
      FROM events GROUP BY 1),
    weeks AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
    joined AS (
      SELECT f.cohort,
             CAST((epoch(w.wk) - epoch(f.cohort)) / 604800 AS BIGINT)
               AS week_k,
             w.user_id
      FROM firsts f JOIN weeks w ON f.user_id = w.user_id)
    SELECT cohort, week_k,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM joined GROUP BY 1, 2
    """,
    doc="Retention cohort analysis: users grouped by first-activity week, "
    "counted distinct in each subsequent week (week_k = exact 7-day "
    "offsets between week-truncated stamps — engine-portable integer "
    "division, no week-boundary-crossing semantics). Two aggregates + "
    "one user-keyed join; every stage shuffles on user or (cohort, "
    "week) — no skew risk beyond AQE's handling.",
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    joined = firsts.join(weeks, "user_id").select(
        "cohort",
        (
            (F.unix_timestamp("wk") - F.unix_timestamp("cohort")) / 604800
        ).cast("long").alias("week_k"),
        "user_id",
    )
    return joined.groupBy("cohort", "week_k").agg(
        F.count_distinct("user_id").cast("long").alias("n_users")
    )


# --------------------------------------------------------------------------
# gaps-and-islands (consecutive same-value run detection)
# --------------------------------------------------------------------------


@register(
    "user_event_type_islands",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type IS DISTINCT FROM
                       LAG(event_type) OVER w THEN 1 ELSE 0 END AS is_start
      FROM events
      WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    islands AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_start) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS island_id
      FROM flagged)
    SELECT user_id, island_id, event_type,
           MIN(ts) AS island_start,
           MAX(ts) AS island_end,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, island_id, event_type
    """,
    doc="Gaps-and-islands: detect runs of CONSECUTIVE same-type events "
    "per user (state-change sessionization — the SCD2/run-length shape): "
    "lag() marks run starts, a running sum assigns island ids, then one "
    "aggregate per island. Two window passes + one aggregate over the "
    "same (user) partitioning — a single shuffle reused across all "
    "three stages.",
)
def user_event_type_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
        ).otherwise(0).alias("is_start"),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("user_id", "island_id", "event_type").agg(
        F.min("ts").alias("island_start"),
        F.max("ts").alias("island_end"),
        F.count("*").alias("n_events"),
    )


@register(
    "json_corrupt_tolerance",
    """
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey < 1000) AS n_good,
           CAST(2 AS BIGINT) AS n_bad
    """,
    doc="Resilient ingestion: a JSON source containing malformed lines "
    "reads under PERMISSIVE mode with an explicit _corrupt_record "
    "column — bad rows are captured, good rows parse, nothing throws "
    "(the lenient-parse posture of X4 applied at the source level). "
    "The oracle states the expected good/bad split arithmetically.",
)
def json_corrupt_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    from kinesis_log_watcher_spark.staging import scratch_dir

    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderpriority")
    )
    d = scratch_dir(prefix="corrupt_json_") + "/data"
    orders.write.mode("overwrite").json(d)
    with open(os.path.join(d, "zz_corrupt.json"), "w") as f:
        f.write('this is not json\n{"o_orderkey": 1, "unterminated\n')
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_orderpriority string, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(d)
        # Spark disallows referencing ONLY _corrupt_record in a query
        # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); the documented workaround
        # is materializing first.
        .cache()
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_bad"),
    )


# --------------------------------------------------------------------------
# statistical aggregates from exact-decimal moments (Pearson correlation)
# --------------------------------------------------------------------------


@register(
    "price_quantity_correlation",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,1))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                      * CAST(l_quantity AS DECIMAL(4,1))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                      * CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,1))
                      * CAST(l_quantity AS DECIMAL(4,1))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_lines,
           CAST(floor((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             * 1000000000 + 0.5) AS BIGINT) AS corr_q9
    FROM m
    """,
    doc="Pearson correlation the partitioning-independent way: the five "
    "co-moments accumulate as EXACT decimals (map-side partial sums — "
    "order never matters) and convert to double once. The closed form "
    "is then quantized to int64 at 1e9 (the repo's floor(x·k + 0.5) "
    "convention): C compilers may fuse a·b − c·d into an FMA where the "
    "JVM performs two rounded ops, so the raw double can differ in the "
    "last ulp between engines (observed 3e-18 at sf0.001) — nine "
    "decimal digits of r is far beyond any statistical meaning anyway. "
    "Spark's built-in corr() streams float co-moments and is "
    "partitioning-dependent — unusable under a hash-compare gate.",
)
def price_quantity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    x = dec(F.col("l_extendedprice"), 9, 2)
    y = dec(F.col("l_quantity"), 4, 1)
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_lines"),
        F.floor(corr * 1000000000 + F.lit(0.5)).cast("long").alias("corr_q9"),
    )


# --------------------------------------------------------------------------
# partitioned-layout write + partition-pruned read (official row)
# --------------------------------------------------------------------------


@register(
    "orders_partitioned_pruning",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
    doc="Partitioned-directory layout end-to-end: orders written "
    "partitionBy(o_orderpriority) to a fresh location, read back with a "
    "partition-column filter — the scan plans PartitionFilters and "
    "touches 2 of 5 directories (pruning pinned in "
    "tests/test_partitioned_layout.py; this row pins the results "
    "against the original-parquet oracle).",
)
def orders_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.staging import scratch_dir

    orders = load(spark, sf_dir, "orders")
    path = scratch_dir(prefix="part_layout_") + "/orders"
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    # explicit schema: an EMPTY partitioned write leaves nothing to infer
    # from (and production reads shouldn't pay inference anyway)
    back = spark.read.schema(orders.schema).parquet(path).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        dsum(F.col("o_totalprice"), 12, 2).alias("revenue"),
    )


# --------------------------------------------------------------------------
# CDC-style upsert (apply a change batch via anti-join ∪ union)
# --------------------------------------------------------------------------


_UPSERT_TOTALS_SQL = """
    WITH applied AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 10 = 0
                  THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1.1
                            AS DECIMAL(14,3))
                  ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                            AS DECIMAL(14,3))
             END AS price
      FROM orders)
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(price) AS DOUBLE) AS revenue
    FROM applied
    GROUP BY o_orderpriority
    """


@register(
    "orders_upsert_totals",
    _UPSERT_TOTALS_SQL,
    doc="CDC-style upsert on plain parquet (no MERGE INTO in OSS Spark): "
    "a change batch (10% of orders re-priced +10%, in exact decimal) "
    "applies as changes ∪ (base ANTI-JOIN changes) — the standard "
    "rewrite; the anti-join broadcasts when the delta is small, and the "
    "row count must be invariant. The oracle states the post-upsert "
    "totals directly with a CASE.",
)
def orders_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec(F.col("o_totalprice"), 12, 2).alias("price")
    )
    changes = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "price", (F.col("price") * F.lit(1.1).cast("decimal(2,1)")).cast("decimal(14,3)")
    )
    base_kept = orders.join(
        F.broadcast(changes.select("o_orderkey")), "o_orderkey", "left_anti"
    ).withColumn("price", F.col("price").cast("decimal(14,3)"))
    upserted = changes.unionByName(base_kept)
    return upserted.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("price").cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# recursive CTE (Spark 4 WITH RECURSIVE — iterative SQL)
# --------------------------------------------------------------------------


@register(
    "user_ancestry_chain",
    """
    WITH RECURSIVE anc(user_id, node, depth) AS (
      SELECT user_id, user_id, 0
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 64)
      UNION ALL
      SELECT user_id, node // 2, depth + 1 FROM anc WHERE node > 0)
    SELECT user_id,
           CAST(MAX(depth) AS BIGINT) AS depth_to_root,
           CAST(COUNT(*) AS BIGINT) AS chain_len,
           CAST(SUM(node) AS BIGINT) AS path_sum
    FROM anc GROUP BY user_id
    """,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE): walk each user's "
    "synthetic ancestor chain (parent = node div 2 — a binary-tree "
    "hierarchy) to the root and aggregate per-path depth/length/sum — "
    "the iterative-SQL surface (org charts, BOM explosions, graph "
    "reachability) executed as Catalyst's recursion operator rather "
    "than a driver-side loop.",
)
def user_ancestry_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("rcte_events")
    return spark.sql(
        """
        WITH RECURSIVE anc(user_id, node, depth) AS (
          SELECT user_id, user_id, 0
          FROM (SELECT DISTINCT user_id FROM rcte_events WHERE user_id < 64)
          UNION ALL
          SELECT user_id, node div 2, depth + 1 FROM anc WHERE node > 0)
        SELECT user_id,
               CAST(MAX(depth) AS BIGINT) AS depth_to_root,
               COUNT(*) AS chain_len,
               CAST(SUM(node) AS BIGINT) AS path_sum
        FROM anc GROUP BY user_id
        """
    )


@register(
    "orders_compaction_roundtrip",
    _RT_ORACLE,
    doc="Small-files compaction round-trip: orders written as 64 tiny "
    "fragments (the accretion pathology of micro-batch sinks), "
    "compacted to 4 range-partitioned files sorted by o_orderkey "
    "(sources/files.compact_dataset — non-overlapping file ranges make "
    "parquet min/max stats prune range scans; in-file sort maximizes "
    "encoding). The aggregate hash-matches the oracle on the ORIGINAL "
    "parquet — compaction lost nothing; tests/test_file_formats pins "
    "the file-count reduction and per-file ranges.",
)
def orders_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.staging import scratch_dir

    from kinesis_log_watcher_spark.sources.files import compact_dataset

    orders = load(spark, sf_dir, "orders")
    base = scratch_dir(prefix="compact_")
    frag, packed = f"{base}/fragmented", f"{base}/compacted"
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    back = compact_dataset(spark, frag, packed, target_files=4,
                           sort_col="o_orderkey")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        dsum(F.col("o_totalprice"), 12, 2).alias("revenue"),
        F.min("o_orderdate").alias("first_order"),
    )


_Z_BITS = 16
_Z_TERMS = " | ".join(
    f"(((l_partkey >> {i}) & 1) << {2 * i}) | "
    f"(((l_suppkey >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


@register(
    "lineitem_zorder_buckets",
    f"""
    SELECT CAST((z >> 12) AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM (SELECT ({_Z_TERMS}) AS z, l_quantity FROM lineitem)
    GROUP BY 1
    """,
    doc="Z-order (Morton) clustering key over (l_partkey, l_suppkey): "
    "interleave the low 16 bits of both keys so file-order locality "
    "holds in BOTH dimensions — the multi-column analogue of the "
    "range-partitioned compaction (sources/files.morton_code / "
    "zorder_write; parquet min/max stats then prune scans filtered on "
    "either column). The code is pure codegen'd bit arithmetic — the "
    "oracle recomputes the identical interleave with SQL bit ops — and "
    "the query rolls rows up per Z bucket (code >> 12) with an exact "
    "decimal sum. tests/test_file_formats.py pins the clustered write "
    "(file count, per-file Z monotonicity, content preservation).",
)
def lineitem_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.sources.files import morton_code

    li = load(spark, sf_dir, "lineitem")
    z = morton_code(F.col("l_partkey"), F.col("l_suppkey"), _Z_BITS)
    return (
        li.select(z.alias("z"), "l_quantity")
        .groupBy(F.shiftright(F.col("z"), 12).cast("long").alias("z_bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum(F.col("l_quantity"), 12, 2).alias("qty"),
        )
    )


# ---------------------------------------------------------------------------
# event-sequence mining: first-order Markov transition matrix
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type)
    SELECT from_type, to_type, n,
           CAST(floor(CAST(n AS DOUBLE)
                      / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) AS prob_micro
    FROM c
    """,
    doc="Event-sequence mining: the first-order Markov transition matrix "
    "over per-user event streams — P(next event type | current), the "
    "user-behavior model sitting under next-action prediction and "
    "anomaly scoring. One lead() window per user (total order ts, "
    "event_id — ties broken deterministically), one (from, to) count "
    "aggregation, and row-normalized probabilities where the per-from "
    "total comes from a window over the K^2-row matrix (never a second "
    "scan). Scale shape: the sequence window shuffles once on user_id, "
    "the count agg once on the (from, to) pair — both partial-agg "
    "friendly; the matrix itself is event-type-cardinality-sized, tiny "
    "at any corpus scale. prob_micro = floor(n/total*1e6+0.5): one "
    "IEEE division of exact int64s, engine-identical.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    nxt = F.lead("event_type").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    seq = ev.select("user_id", "event_type", nxt.alias("next_type"))
    c = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy("from_type"))
    prob = F.floor(
        F.col("n").cast("double") / total.cast("double") * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return c.select("from_type", "to_type", "n", prob.alias("prob_micro"))


# ---------------------------------------------------------------------------
# file robustness: schema evolution + corrupt-file tolerance
# ---------------------------------------------------------------------------


@register(
    "orders_schema_evolution",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                         THEN o_custkey ELSE 0 END) AS BIGINT) AS evolved_sum
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Schema-evolution read: the orders table is re-written as TWO "
    "parquet generations — an old file WITHOUT the o_custkey column "
    "(odd orderkeys) and a new file with it (even orderkeys) — then "
    "read back with mergeSchema, where rows from the old generation "
    "surface o_custkey as NULL. The aggregate coalesces the evolved "
    "column (SUM over even keys only), and the oracle computes the "
    "same from the ORIGINAL table — proving merged reads lose nothing "
    "and misalign nothing. At 100 TB this is routine, not exotic: a "
    "decade of crawl output never has one schema; readers must handle "
    "per-file column sets without a rewrite.",
)
def orders_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.staging import scratch_dir

    orders = load(spark, sf_dir, "orders")
    path = scratch_dir(prefix="evo_") + "/orders"
    old_gen = orders.filter(F.col("o_orderkey") % 2 == 1).drop("o_custkey")
    new_gen = orders.filter(F.col("o_orderkey") % 2 == 0)
    old_gen.write.mode("overwrite").parquet(f"{path}/gen=old")
    new_gen.write.mode("overwrite").parquet(f"{path}/gen=new")
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.coalesce(F.col("o_custkey"), F.lit(0)))
        .cast("long")
        .alias("evolved_sum"),
    )


@register(
    "orders_corrupt_file_tolerance",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    """,
    doc="File-level corruption tolerance: the orders table is written to "
    "a directory alongside a garbage file with a .parquet name, then "
    "read with ignoreCorruptFiles — the scan must return exactly the "
    "valid rows (oracle = the original table) instead of failing the "
    "whole job. Complements json_corrupt_tolerance (RECORD-level "
    "PERMISSIVE parse): at 100 TB a handful of truncated files from "
    "failed writers are a statistical certainty, and a reader that "
    "dies on the first one cannot finish a day.",
)
def orders_corrupt_file_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.staging import scratch_dir

    orders = load(spark, sf_dir, "orders")
    path = scratch_dir(prefix="corrupt_") + "/orders"
    orders.write.mode("overwrite").parquet(path)
    with open(f"{path}/part-junk.parquet", "wb") as fh:
        fh.write(b"this is not a parquet file at all \x00\x01\x02")
    back = (
        spark.read.schema(orders.schema)
        .option("ignoreCorruptFiles", True)
        .parquet(path)
    )
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# time-series similarity search: z-normalized profile matching
# ---------------------------------------------------------------------------

_TSS_QUERY_USER = 1
_TSS_TOPK = 10


@register(
    "ts_profile_similarity",
    f"""
    WITH hours AS (
      SELECT DISTINCT e.user_id, h.h
      FROM events e, (SELECT unnest(range(24)) AS h) h),
    sums AS (
      SELECT user_id, CAST(hour(ts) AS BIGINT) AS h,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                        * 100 + 0.5) AS BIGINT) AS vq
      FROM events GROUP BY user_id, hour(ts)),
    series AS (
      SELECT hours.user_id, hours.h, COALESCE(sums.vq, 0) AS vq
      FROM hours LEFT JOIN sums
        ON hours.user_id = sums.user_id AND hours.h = sums.h),
    stats AS (
      SELECT user_id,
             CAST(SUM(vq) AS DOUBLE) / 24 AS mu,
             CAST(SUM(vq * vq) AS DOUBLE) / 24
               - (CAST(SUM(vq) AS DOUBLE) / 24)
                 * (CAST(SUM(vq) AS DOUBLE) / 24) AS var
      FROM series GROUP BY user_id),
    z AS (
      SELECT s.user_id, s.h,
             CAST(floor(CASE WHEN st.var = 0 THEN 0
                             ELSE (s.vq - st.mu) / sqrt(st.var) END
                        * 1000000 + 0.5) AS BIGINT) AS zq
      FROM series s JOIN stats st ON s.user_id = st.user_id),
    q AS (SELECT h, zq AS qzq FROM z WHERE user_id = {_TSS_QUERY_USER}),
    d AS (
      SELECT z.user_id,
             CAST(SUM((z.zq - q.qzq) * (z.zq - q.qzq)) AS BIGINT) AS dist_q
      FROM z JOIN q ON z.h = q.h
      WHERE z.user_id <> {_TSS_QUERY_USER}
      GROUP BY z.user_id)
    SELECT user_id, dist_q,
           CAST(ROW_NUMBER() OVER (ORDER BY dist_q, user_id) AS BIGINT)
             AS rank
    FROM (SELECT * FROM d ORDER BY dist_q, user_id LIMIT {_TSS_TOPK})
    """,
    doc="Time-series similarity search (the distributed restatement of "
    "streaming-subsequence matching, cf. 'Time Series Similarity Search "
    "for Streaming Data in Distributed Systems', EDBT 2019): each "
    "user's activity profile is the dense 24-hour vector of exact-"
    "decimal hourly value sums (missing hours zero-filled), z-"
    "normalized per user (sqrt is IEEE-correctly-rounded; sigma=0 "
    "degenerates to z=0), QUANTIZED to int64 micro-units, and matched "
    "against the query user's profile by exact integer squared "
    "distance — top-k under the total order (dist, user_id). Scale "
    "shape: profiles = one (user, hour) agg; stats = one user agg; the "
    "24-row query vector broadcasts to the z relation; top-k = "
    "sort+limit (TakeOrdered). The z-normalization makes it match "
    "SHAPE, not magnitude — the similarity-search semantics profile "
    "matching needs.",
)
def ts_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    hours = users.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("h")
    )
    sums = ev.groupBy(
        "user_id", F.hour("ts").cast("long").alias("h")
    ).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double")
            * F.lit(100)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("vq")
    )
    series = hours.join(sums, ["user_id", "h"], "left").select(
        "user_id", "h", F.coalesce("vq", F.lit(0)).alias("vq")
    )
    stats = series.groupBy("user_id").agg(
        (F.sum("vq").cast("double") / 24).alias("mu"),
        (
            F.sum(F.col("vq") * F.col("vq")).cast("double") / 24
            - (F.sum("vq").cast("double") / 24)
            * (F.sum("vq").cast("double") / 24)
        ).alias("var"),
    )
    z = series.join(stats, "user_id").select(
        "user_id",
        "h",
        F.floor(
            F.when(F.col("var") == 0, F.lit(0.0)).otherwise(
                (F.col("vq") - F.col("mu")) / F.sqrt(F.col("var"))
            )
            * F.lit(1000000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("zq"),
    )
    q = z.filter(F.col("user_id") == _TSS_QUERY_USER).select(
        "h", F.col("zq").alias("qzq")
    )
    d = (
        z.filter(F.col("user_id") != _TSS_QUERY_USER)
        .join(F.broadcast(q), "h")
        .groupBy("user_id")
        .agg(
            F.sum((F.col("zq") - F.col("qzq")) * (F.col("zq") - F.col("qzq")))
            .cast("long")
            .alias("dist_q")
        )
    )
    top = d.orderBy(F.col("dist_q").asc(), F.col("user_id").asc()).limit(
        _TSS_TOPK
    )
    rank = F.row_number().over(
        Window.orderBy(F.col("dist_q").asc(), F.col("user_id").asc())
    )
    return top.select("user_id", "dist_q", rank.cast("long").alias("rank"))


# --------------------------------------------------------------------------
# temporal overlap join — bucketized interval x interval (co-presence)
# --------------------------------------------------------------------------


@register(
    "concurrent_session_pairs",
    """
    WITH marked AS (
      SELECT user_id, ts,
             SUM(CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM (SELECT user_id, ts, event_id,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_ts
            FROM events WHERE user_id < 40)),
    sess AS (
      SELECT user_id, session_id,
             MIN(ts) AS s,
             MAX(ts) + INTERVAL 30 MINUTE AS e
      FROM marked GROUP BY 1, 2),
    ovl AS (
      SELECT a.user_id AS u1, b.user_id AS u2,
             CAST(epoch_us(LEAST(a.e, b.e))
                  - epoch_us(GREATEST(a.s, b.s)) AS BIGINT) AS ov_us
      FROM sess a JOIN sess b
        ON a.user_id < b.user_id
       AND a.s <= b.e AND b.s <= a.e)
    SELECT u1, u2,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(ov_us) AS BIGINT) AS overlap_us
    FROM ovl
    GROUP BY u1, u2
    """,
    doc="Temporal OVERLAP JOIN (interval x interval) via time-bucketing "
    "— the scale pattern for fact-to-fact interval joins, which naive "
    "theta-join plans execute as a nested-loop scan: each presence "
    "window (gap-sessionized, +30min linger) explodes into its covered "
    "hour buckets, candidate pairs come from an EQUI-join on the "
    "bucket, multi-bucket duplicates collapse on the session-pair key, "
    "and the exact overlap predicate + exact int64 microsecond overlap "
    "length are evaluated only on candidates. The oracle computes the "
    "direct theta join (affordable at oracle scale); the engine plan "
    "must contain no nested-loop join — at 100 TB bucket width trades "
    "candidate volume vs duplicate factor exactly like every banding "
    "scheme in this repo. Co-presence/concurrency analytics shape "
    "(sessions overlapping sessions of OTHER users).",
)
def concurrent_session_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.relational import sessionize

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    marked = sessionize(ev, "user_id", "ts", 1800, "event_id")
    sess = marked.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    buckets = sess.select(
        "user_id",
        "session_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s")),
                F.date_trunc("hour", F.col("e")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    a = buckets.select(
        F.col("user_id").alias("u1"), F.col("session_id").alias("s1"),
        F.col("s").alias("a_s"), F.col("e").alias("a_e"), "bucket",
    )
    b = buckets.select(
        F.col("user_id").alias("u2"), F.col("session_id").alias("s2"),
        F.col("s").alias("b_s"), F.col("e").alias("b_e"), "bucket",
    )
    cand = (
        a.join(b, "bucket")
        .filter(F.col("u1") < F.col("u2"))
        .filter((F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e")))
        .select("u1", "s1", "u2", "s2", "a_s", "a_e", "b_s", "b_e")
        .distinct()  # collapse multi-bucket duplicates on the pair key
    )
    ov = (
        F.unix_micros(F.least("a_e", "b_e"))
        - F.unix_micros(F.greatest("a_s", "b_s"))
    ).cast("long")
    return (
        cand.select("u1", "u2", ov.alias("ov_us"))
        .groupBy("u1", "u2")
        .agg(
            F.count("*").cast("long").alias("n_overlaps"),
            F.sum("ov_us").cast("long").alias("overlap_us"),
        )
    )


# --------------------------------------------------------------------------
# Poissonized bootstrap — uncertainty quantification in one pass
# --------------------------------------------------------------------------

_BOOT_B = 16
# Cumulative Poisson(1) CDF in 2^16 units (shared literals; multiplicity
# capped at 7 — P(X>7) < 1e-5 at lambda=1). 16-bit resolution biases
# each threshold by < 1/65536 — noise far below bootstrap noise — and
# lets all 16 replicate draws come out of TWO md5 digests (4 hex chars
# per replicate) instead of one digest per replicate: md5 dominates the
# scan cost of the resample.
import math as _math  # noqa: E402

_BOOT_CDF = []
_acc = 0.0
for _k in range(8):
    _acc += _math.exp(-1.0) / _math.factorial(_k)
    _BOOT_CDF.append(min(int(_acc * (1 << 16)), (1 << 16) - 1))


def _boot_oracle() -> str:
    u = ("CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|g{g}'), "
         "{pos}, 4) AS BIGINT)")
    mult = "CASE " + " ".join(
        f"WHEN {{u}} < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF[:-1])
    ) + " ELSE 7 END"
    cols = []
    for b in range(_BOOT_B):
        m = mult.format(u=u.format(g=b // 8, pos=1 + 4 * (b % 8)))
        cols.append(f"CAST(SUM({m}) AS BIGINT) AS n_{b}")
        cols.append(
            f"CAST(SUM(({m}) * CAST(o_totalprice AS DECIMAL(12,2)))"
            f" AS DECIMAL(24,2)) AS s_{b}"
        )
    sel = ",\n             ".join(cols)
    arms = "\n      UNION ALL\n".join(
        f"      SELECT CAST({b} AS BIGINT) AS replicate, n_{b} AS n_eff, "
        f"CAST(s_{b} AS DOUBLE) / n_{b} AS boot_mean FROM agg "
        f"WHERE n_{b} > 0"
        for b in range(_BOOT_B)
    )
    return f"""
    WITH agg AS (
      SELECT {sel}
      FROM orders)
{arms}
    """


@register(
    "bootstrap_mean_ci",
    _boot_oracle(),
    doc=f"Poissonized bootstrap ({_BOOT_B} replicates) of mean order "
    "price — uncertainty quantification at corpus scale: each row's "
    "multiplicity in replicate b is a Poisson(1) draw keyed by "
    "md5(key|b) against shared integer CDF literals, so the resample "
    "is deterministic, engine-reproducible, and needs NO data "
    "duplication — all replicates are SUM(CASE) column pairs folded "
    "in ONE scan (the scale form; an explode-by-B would inflate the "
    "shuffle B-fold), unpivoted to (replicate, n_eff, boot_mean) "
    "rows at the end. Sums are exact decimal; each mean is one IEEE "
    "division. The replicate spread is the standard error every "
    "corpus metric in a curation report should carry.",
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    # spread=True: 200 decimal bootstrap-replicate sums per row are a
    # heavy map side (measured 4.2 -> 1.9s at sf0.1, A/B r12).
    orders = load(spark, sf_dir, "orders", spread=True)
    price = dec(F.col("o_totalprice"), 12, 2)
    aggs = []
    for b in range(_BOOT_B):
        u = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(f"|g{b // 8}"),
                    )
                ),
                1 + 4 * (b % 8),
                4,
            ),
            16,
            10,
        ).cast("long")
        mult = F.lit(7)
        for k in range(len(_BOOT_CDF) - 2, -1, -1):
            mult = F.when(u < _BOOT_CDF[k], k).otherwise(mult)
        aggs.append(F.sum(mult).cast("long").alias(f"n_{b}"))
        aggs.append(
            F.sum(mult.cast("decimal(4,0)") * price)
            .cast("decimal(24,2)")
            .alias(f"s_{b}")
        )
    agg = orders.agg(*aggs)
    # ONE unpivot projection over the single agg row — a union of B
    # per-replicate selects would re-evaluate the full aggregate B times.
    stack = ", ".join(
        f"CAST({b} AS BIGINT), n_{b}, s_{b}" for b in range(_BOOT_B)
    )
    wide = agg.select(
        F.expr(f"stack({_BOOT_B}, {stack}) AS (replicate, n_eff, s)")
    )
    # an empty (or degenerate) input yields NULL/zero effective sizes —
    # such replicates carry no mean and are dropped on both engines
    return wide.filter(F.col("n_eff") > 0).select(
        "replicate",
        "n_eff",
        (F.col("s").cast("double") / F.col("n_eff")).alias("boot_mean"),
    )


# --------------------------------------------------------------------------
# key-skew diagnosis — the "should I salt this join?" profile
# --------------------------------------------------------------------------


@register(
    "key_skew_profile",
    """
    WITH kc AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c, user_id) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n_keys,
             SUM(c) OVER (PARTITION BY event_type) AS total
      FROM kc)
    SELECT event_type,
           CAST(MAX(n_keys) AS BIGINT) AS n_keys,
           CAST(MAX(total) AS BIGINT) AS total,
           CAST(MAX(c) * 1000000 // MAX(total) AS BIGINT)
             AS top1_share_micro,
           CAST((2 * SUM(CAST(i AS BIGINT) * c)
            - (MAX(n_keys) + 1) * MAX(total)) * 1000000
             // (MAX(n_keys) * MAX(total)) AS BIGINT) AS gini_micro
    FROM ranked
    GROUP BY event_type
    """,
    doc="Key-skew DIAGNOSIS: the per-join-key frequency profile that "
    "answers 'does this join need salting / AQE skew handling?' before "
    "the shuffle burns: per group, distinct-key count, top-1 key share "
    "and the Gini coefficient of the key-frequency distribution — the "
    "standard closed form G = (2*SUM(i*c_i) - (n+1)*N) / (n*N) over "
    "counts ranked ascending, exact int64 to the final micro-quantized "
    "integer division. Shape: one (group, key) hash agg (map-side "
    "partial) + windows over the KEY relation (counts, not rows) — at "
    "100 TB the profile costs one pass over keys, and its output "
    "decides whether operators/relational.salted_join is worth its "
    "replication factor.",
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    kc = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.partitionBy("event_type")
    ranked = kc.select(
        "event_type",
        "c",
        F.row_number()
        .over(w.orderBy("c", "user_id"))
        .cast("long")
        .alias("i"),
        F.count("*").over(w).alias("n_keys"),
        F.sum("c").over(w).alias("total"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n_keys").cast("long").alias("n_keys"),
            F.max("total").cast("long").alias("total"),
            F.max("c").alias("max_c"),
            F.sum(F.col("i") * F.col("c")).alias("ic_sum"),
        )
        .select(
            "event_type",
            "n_keys",
            "total",
            F.expr("max_c * 1000000 div total").alias("top1_share_micro"),
            F.expr(
                "(2 * ic_sum - (n_keys + 1) * total) * 1000000"
                " div (n_keys * total)"
            ).alias("gini_micro"),
        )
    )


# --------------------------------------------------------------------------
# two-phase top-k per group — partial top-k before the global ranking
# --------------------------------------------------------------------------

_TPG_K = 3
_TPG_SALTS = 8


@register(
    "topk_orders_per_segment_twophase",
    f"""
    SELECT c_mktsegment, o_orderkey, price, rnk
    FROM (
      SELECT c.c_mktsegment, o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(12,2)) AS price,
             CAST(ROW_NUMBER() OVER (
                    PARTITION BY c.c_mktsegment
                    ORDER BY CAST(o.o_totalprice AS DECIMAL(12,2)) DESC,
                             o.o_orderkey) AS BIGINT) AS rnk
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
    WHERE rnk <= {_TPG_K}
    """,
    doc=f"TWO-PHASE top-{_TPG_K} per group: phase 1 ranks within "
    f"(group, md5-salt) over {_TPG_SALTS} salts and keeps each salt "
    f"bucket's top-{_TPG_K}; phase 2 ranks the <= {_TPG_SALTS}x"
    f"{_TPG_K}-row survivors per group. Result-invariant vs the "
    "single-pass ranking window (the oracle computes that directly): "
    "any row outside its salt bucket's top-k is beaten by k rows in "
    "its OWN group, so it cannot be in the group's global top-k. The "
    "scale point: a single ranking window sorts EVERY group member "
    "through one shuffle partition per group (the classic top-k-"
    "per-group OOM); the salted first phase bounds every partition's "
    "sort to its salt slice and the second phase touches only "
    "salts*k rows per group. Both phases are window ranks over "
    "exact-decimal prices with deterministic (price, key) tie-break.",
)
def topk_orders_per_segment_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", dec(F.col("o_totalprice"), 12, 2).alias("price")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select("c_mktsegment", "o_orderkey", "price")
    salt = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % _TPG_SALTS
    )
    w1 = Window.partitionBy("c_mktsegment", "salt").orderBy(
        F.col("price").desc(), F.col("o_orderkey")
    )
    partial = (
        joined.withColumn("salt", salt)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _TPG_K)
        .drop("salt", "r1")
    )
    w2 = Window.partitionBy("c_mktsegment").orderBy(
        F.col("price").desc(), F.col("o_orderkey")
    )
    return (
        partial.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= _TPG_K)
        .select("c_mktsegment", "o_orderkey", "price", "rnk")
    )


# --------------------------------------------------------------------------
# robust outlier profiling — exact-IQR fences (data cleaning)
# --------------------------------------------------------------------------


@register(
    "price_outlier_profile",
    """
    WITH c AS (
      SELECT o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             o_orderkey
      FROM orders),
    r AS (
      SELECT o_orderpriority, cents,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY cents, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM c),
    q AS (
      SELECT o_orderpriority,
             MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                      THEN cents END) AS q1,
             MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                      THEN cents END) AS q3
      FROM r GROUP BY o_orderpriority),
    f AS (
      SELECT o_orderpriority, q1, q3,
             q1 - (3 * (q3 - q1)) // 2 AS lo,
             q3 + (3 * (q3 - q1)) // 2 AS hi
      FROM q)
    SELECT c.o_orderpriority,
           CAST(MAX(f.q1) AS BIGINT) AS q1_cents,
           CAST(MAX(f.q3) AS BIGINT) AS q3_cents,
           CAST(SUM(CASE WHEN c.cents < f.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_outliers,
           CAST(SUM(CASE WHEN c.cents > f.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM c JOIN f USING (o_orderpriority)
    GROUP BY c.o_orderpriority
    """,
    doc="Robust outlier profiling (data cleaning): exact Tukey fences "
    "per group — Q1/Q3 as integer-rank order statistics (the "
    "segment_p95_balance convention: no interpolation, no engine float "
    "divergence), fences at Q1/Q3 -/+ floor(1.5*IQR) in integer CENTS "
    "(decimal(12,2)*100 is exact int64; the floor-halves fence is "
    "deterministic on both engines), and per-group outlier counts via "
    "one broadcast of the |groups|-row fence relation back onto the "
    "price scan. Shape: one partitioned sort for the ranks + one "
    "broadcast-join counting pass — the screening step a curation "
    "pipeline runs before trusting numeric columns.",
)
def price_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderpriority",
        (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    r = c.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    q = r.groupBy("o_orderpriority").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.25) * F.col("n")).cast("bigint"),
                F.col("cents"),
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.75) * F.col("n")).cast("bigint"),
                F.col("cents"),
            )
        ).alias("q3"),
    )
    f = q.select(
        "o_orderpriority",
        "q1",
        "q3",
        (F.col("q1") - F.expr("(3 * (q3 - q1)) div 2")).alias("lo"),
        (F.col("q3") + F.expr("(3 * (q3 - q1)) div 2")).alias("hi"),
    )
    return (
        c.join(F.broadcast(f), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("q1").cast("long").alias("q1_cents"),
            F.max("q3").cast("long").alias("q3_cents"),
            F.sum(F.when(F.col("cents") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_low_outliers"),
            F.sum(F.when(F.col("cents") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_high_outliers"),
            F.count("*").cast("long").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# winsorized statistics — robust means after clamping at exact percentiles
# --------------------------------------------------------------------------


@register(
    "winsorized_price_stats",
    """
    WITH c AS (
      SELECT o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             o_orderkey
      FROM orders),
    r AS (
      SELECT o_orderpriority, cents,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY cents, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM c),
    q AS (
      SELECT o_orderpriority,
             MAX(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                      THEN cents END) AS p05,
             MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                      THEN cents END) AS p95
      FROM r GROUP BY o_orderpriority)
    SELECT c.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c.cents) AS DOUBLE) / COUNT(*) AS mean_cents,
           CAST(SUM(LEAST(GREATEST(c.cents, q.p05), q.p95)) AS DOUBLE)
             / COUNT(*) AS winsorized_mean_cents,
           CAST(SUM(CASE WHEN c.cents < q.p05 OR c.cents > q.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM c JOIN q USING (o_orderpriority)
    GROUP BY c.o_orderpriority
    """,
    doc="WINSORIZED statistics (robust data cleaning): per-group means "
    "recomputed after clamping every value into [p05, p95], where the "
    "percentile bounds are exact integer-rank order statistics in "
    "integer cents — so clamping, clamp counts, and both sums are "
    "exact int64, and each mean is one IEEE division. Complements "
    "price_outlier_profile: the fences there COUNT the tail, the "
    "winsorized mean NEUTRALIZES it — the pair a metrics pipeline "
    "publishes for heavy-tailed columns. Same shape: one partitioned "
    "rank + one broadcast of the per-group bound relation.",
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderpriority",
        (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    r = c.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    q = r.groupBy("o_orderpriority").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.05) * F.col("n")).cast("bigint"),
                F.col("cents"),
            )
        ).alias("p05"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.95) * F.col("n")).cast("bigint"),
                F.col("cents"),
            )
        ).alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("cents"), F.col("p05")), F.col("p95"))
    out_of = (F.col("cents") < F.col("p05")) | (F.col("cents") > F.col("p95"))
    return (
        c.join(F.broadcast(q), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.sum("cents").cast("double") / F.count("*")).alias("mean_cents"),
            (F.sum(clamped).cast("double") / F.count("*")).alias(
                "winsorized_mean_cents"
            ),
            F.sum(F.when(out_of, 1).otherwise(0)).cast("long").alias("n_clamped"),
        )
    )


# --------------------------------------------------------------------------
# daily product metrics: rolling distinct actives + first-seen growth
# --------------------------------------------------------------------------


@register(
    "rolling_active_users",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events),
    c AS (
      SELECT DISTINCT user_id, day + o AS day7
      FROM ud CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6)) t(o))
    SELECT CAST(day7 AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS active_users
    FROM c GROUP BY day7
    """,
    doc="EXACT 7-day rolling active users — sliding-window COUNT "
    "DISTINCT, the metric sketches can only approximate. Distinct "
    "counts don't merge across days, so the scale-safe exact shape is "
    "the CONTRIBUTION EXPLODE: dedup to (user, active-day) grain, "
    "fan each row out to the <=7 window-end days it contributes to (a "
    "narrow <=7x map, no join against a day grid), dedup again, and "
    "count. Two well-distributed (user, day) shuffles + one partial-"
    "agged count; days after the last observation carry the trailing "
    "window by construction. The approximate path for wider windows "
    "is the mergeable-register rollup shown by hll_daily_merge.",
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
    ).distinct()
    return contrib.groupBy("day").agg(F.count("*").alias("active_users"))


@register(
    "user_growth_accumulation",
    """
    WITH f AS (
      SELECT user_id,
             MIN(epoch_us(ts) // 86400000000) AS first_day
      FROM events GROUP BY user_id),
    d AS (
      SELECT first_day AS day, COUNT(*) AS new_users
      FROM f GROUP BY first_day)
    SELECT CAST(day AS BIGINT) AS day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM d
    """,
    doc="User-growth accumulation: first-seen day per user (one "
    "groupBy on the high-cardinality key), daily new-user counts, and "
    "the running cumulative total. The global-order window runs on the "
    "ALREADY-AGGREGATED per-day relation — #days rows, bounded by the "
    "calendar, so the single-partition sort is a constant-size "
    "epilogue, never a corpus-wide total sort.",
)
def user_growth_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    f = events.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(ts) div 86400000000")).alias("first_day")
    )
    d = f.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return d.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


# --------------------------------------------------------------------------
# phrase search (positional inverted index) + group-wise linear fit
# --------------------------------------------------------------------------

_PHRASES = (("table", "hash"), ("merge", "group"), ("slow", "key"))
_PHRASE_VALUES = ", ".join(f"('{a}','{b}')" for a, b in _PHRASES)


@register(
    "phrase_search_inverted",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(range(len(string_split(text, ' ')))) AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents),
    p AS (SELECT * FROM (VALUES {_PHRASE_VALUES}) t(w1, w2)),
    hits AS (
      SELECT p.w1, p.w2, a.doc_id
      FROM toks a
      JOIN p ON a.tok = p.w1
      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                 AND b.tok = p.w2)
    SELECT w1 || ' ' || w2 AS phrase,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM hits GROUP BY phrase
    """,
    doc="Exact phrase search over a positional inverted index — the "
    "search-engine primitive: token postings carry their ordinal, a "
    "phrase matches where consecutive terms sit at consecutive "
    "positions. Scale shape: the query phrases BROADCAST onto the "
    "posting stream so only query-term postings survive before the "
    "positional self-join, which is a pure equi-join on "
    "(doc_id, pos+1) = (doc_id, pos) with the second term as residual "
    "— hash-joinable, no nested loop, and the joined volume is "
    "|postings(w1)| not |corpus|. The same plan serves k-term phrases "
    "by chaining +1 joins.",
)
def phrase_search_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    phrases = spark.createDataFrame(list(_PHRASES), "w1 string, w2 string")
    a = toks.join(F.broadcast(phrases), toks.tok == phrases.w1).select(
        "doc_id", "pos", "w1", "w2"
    )
    b = toks.select(
        F.col("doc_id").alias("b_doc_id"),
        F.col("pos").alias("b_pos"),
        F.col("tok").alias("b_tok"),
    )
    hits = a.join(
        b,
        (a.doc_id == b.b_doc_id)
        & (b.b_pos == a.pos + 1)
        & (b.b_tok == a.w2),
    )
    return hits.groupBy(
        F.concat_ws(" ", "w1", "w2").alias("phrase")
    ).agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register(
    "groupwise_linear_fit",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,1))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sp,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,1))
                      * CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sqp,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,1))
                      * CAST(l_quantity AS DECIMAL(4,1))) AS DOUBLE) AS sqq
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_lines,
           CAST(floor((n * sqp - sq * sp) / (n * sqq - sq * sq)
                      * 1000000 + 0.5) AS BIGINT) AS slope_q6,
           CAST(floor((sp * sqq - sq * sqp) / (n * sqq - sq * sq)
                      * 1000000 + 0.5) AS BIGINT) AS intercept_q6
    FROM m
    """,
    doc="Group-wise ordinary-least-squares fit (price ~ quantity per "
    "returnflag) from the SAME exact-decimal co-moment pattern as "
    "price_quantity_correlation: partial sums are order-independent "
    "decimals, slope AND intercept are each ONE closed-form rational "
    "of those doubles (the intercept never reuses the rounded slope), "
    "quantized at 1e6 by the repo's floor(x*k + 0.5) convention. One "
    "partial-aggregated scan — regression at 100 TB is the same plan "
    "as a SUM.",
)
def groupwise_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    q = dec(F.col("l_quantity"), 4, 1)
    p = dec(F.col("l_extendedprice"), 9, 2)
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q).cast("double").alias("sq"),
        F.sum(p).cast("double").alias("sp"),
        F.sum(q * p).cast("double").alias("sqp"),
        F.sum(q * q).cast("double").alias("sqq"),
    )
    n, sq, sp = F.col("n"), F.col("sq"), F.col("sp")
    sqp, sqq = F.col("sqp"), F.col("sqq")
    det = n * sqq - sq * sq
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_lines"),
        F.floor((n * sqp - sq * sp) / det * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("slope_q6"),
        F.floor((sp * sqq - sq * sqp) / det * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("intercept_q6"),
    )
