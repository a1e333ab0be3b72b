"""Round-2 surface extensions: join flavors and pipeline ops the registry
did not yet cover — full outer join, correlated LATERAL join, funnel
(sequential-pattern) analysis, blocked Levenshtein near-dup, corpus
mixture reweighting, deterministic shard assignment, vocabulary coverage.

Scale rules as everywhere in the repo: dims broadcast, no cartesian
products (1-row "corpus total" denominators use an empty-frame window,
not a cross join), exact integer/decimal math for engine-identical
results, every ranking carries a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.operators import text as T
from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.queries.base import load, register

# --------------------------------------------------------------------------
# full outer join — both-sides-preserved merge of two filtered aggregates
# --------------------------------------------------------------------------


@register(
    "nation_full_outer_balance",
    """
    WITH c AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_rich_cust
      FROM customer WHERE c_acctbal > 9000 AND c_mktsegment = 'MACHINERY'
      GROUP BY c_nationkey),
    s AS (
      SELECT s_nationkey AS nationkey, COUNT(*) AS n_rich_supp
      FROM supplier WHERE s_acctbal > 8000
      GROUP BY s_nationkey)
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(c.n_rich_cust, 0) AS n_rich_cust,
           COALESCE(s.n_rich_supp, 0) AS n_rich_supp
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    doc="FULL OUTER join of two filtered per-nation aggregates; the "
    "thresholds leave unmatched rows on BOTH sides, so every outer-join "
    "path (matched, left-only, right-only) is exercised. Post-aggregate "
    "inputs are dimension-sized -> broadcast or tiny shuffle either way.",
)
def nation_full_outer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "customer")
        .filter((F.col("c_acctbal") > 9000) & (F.col("c_mktsegment") == "MACHINERY"))
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_rich_cust"))
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_rich_supp"))
    )
    joined = cust.withColumnRenamed("nationkey", "c_key").join(
        supp.withColumnRenamed("nationkey", "s_key"),
        F.col("c_key") == F.col("s_key"),
        "full_outer",
    )
    return joined.select(
        F.coalesce("c_key", "s_key").alias("nationkey"),
        F.coalesce("n_rich_cust", F.lit(0)).alias("n_rich_cust"),
        F.coalesce("n_rich_supp", F.lit(0)).alias("n_rich_supp"),
    )


# --------------------------------------------------------------------------
# correlated LATERAL join — per-row dependent subquery (SQL front end)
# --------------------------------------------------------------------------


@register(
    "lateral_top_orders_per_customer",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey
                  LIMIT 2) t
    WHERE c.c_custkey <= 40
    """,
    doc="Correlated LATERAL subquery (per-customer dependent top-2): the "
    "SQL front end's lateral-join surface. Catalyst decorrelates the "
    "LIMIT-under-LATERAL into a ranked window over one shuffled join — "
    "no per-row re-execution, so the same query is safe on a 10^9-row "
    "left side. Deterministic: total order (o_totalprice DESC, "
    "o_orderkey).",
)
def lateral_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("ext_lat_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("ext_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM ext_lat_customer c,
             LATERAL (SELECT o_orderkey, o_totalprice
                      FROM ext_lat_orders
                      WHERE o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey
                      LIMIT 2) t
        WHERE c.c_custkey <= 40
        """
    )


# --------------------------------------------------------------------------
# funnel (sequential event pattern) — strictly-ordered stage progression
# --------------------------------------------------------------------------


@register(
    "event_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
    SELECT COUNT(v.t_view) AS n_view,
           COUNT(c.t_click) AS n_view_click,
           COUNT(p.t_purchase) AS n_full_funnel
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    doc="Funnel analysis: users progressing view -> later click -> later "
    "purchase (earliest-qualifying timestamp at each stage). Three "
    "per-user aggregates chained by key-equi joins — each stage shuffles "
    "on user_id only, and AQE broadcasts the shrinking stage frames. "
    "MIN(timestamp) is exact, so the result is engine-identical.",
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("t_view").alias("n_view"),
            F.count("t_click").alias("n_view_click"),
            F.count("t_purchase").alias("n_full_funnel"),
        )
    )


# --------------------------------------------------------------------------
# blocked Levenshtein near-dup — edit-distance pairs without all-pairs
# --------------------------------------------------------------------------


@register(
    "doc_levenshtein_neardup",
    """
    WITH d AS (
      SELECT doc_id, substr(text, 1, 16) AS blk, substr(text, 1, 80) AS head
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 12
    """,
    doc="Edit-distance near-dup detection with prefix blocking: candidate "
    "pairs come from an equi-join on the 16-char prefix (hash-partitioned "
    "-> never all-pairs), then an 80-char-head Levenshtein verifies. The "
    "O(L^2) distance runs on bounded heads only and only inside blocks — "
    "the standard blocking shape that survives a 100x corpus. Spark and "
    "DuckDB implement the same unit-cost edit distance.",
)
def doc_levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 16).alias("blk"),
        F.substring("text", 1, 80).alias("head"),
    )
    a = d.alias("a")
    b = d.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= 12)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("bigint").alias("edit_dist"),
        )
    )


# --------------------------------------------------------------------------
# corpus mixture reweighting — per-source sampling weights to a target mix
# --------------------------------------------------------------------------


@register(
    "source_mixture_weights",
    """
    WITH s AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens
      FROM documents GROUP BY source)
    SELECT source, ws_tokens,
           CAST(FLOOR(CAST(SUM(ws_tokens) OVER () AS DOUBLE)
                      / CAST(20 * ws_tokens AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS weight_micro
    FROM s
    """,
    doc="Domain-mixture reweighting: per-source token mass -> the sampling "
    "weight that flattens the corpus to a uniform 1/20-per-source target "
    "mix (weight = target_share / actual_share). The corpus total comes "
    "from an empty-frame window over the 20-row aggregate — no cross "
    "join, no driver collect. One double division in identical order on "
    "both engines, quantized to micro-units for bit-stable comparison.",
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(T.ws_token_count(F.col("text"))).alias("ws_tokens")
    )
    total = F.sum("ws_tokens").over(Window.partitionBy())
    ratio = total.cast("double") / (F.lit(20) * F.col("ws_tokens")).cast("double")
    return per_source.select(
        "source",
        "ws_tokens",
        F.floor(ratio * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias(
            "weight_micro"
        ),
    )


# --------------------------------------------------------------------------
# deterministic shard assignment — reproducible training-export layout
# --------------------------------------------------------------------------


@register(
    "training_shard_assign",
    """
    WITH s AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 16 AS shard
      FROM documents)
    SELECT shard, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s GROUP BY shard
    """,
    doc="Deterministic training-shard assignment: shard = md5(doc_id) mod "
    "16 — stable across engines, runs, and cluster sizes (no "
    "spark_partition_id, no RNG), so a re-export lands every document in "
    "the same shard. The md5 spreads keys uniformly, which is exactly "
    "the skew-free write layout wanted for a 100 TB export.",
)
def training_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    shard = (
        md5_h15(F.col("doc_id").cast("string"))
        % 16
    )
    return (
        docs.select("doc_id", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# --------------------------------------------------------------------------
# vocabulary coverage — top-K vocab, per-language OOV profile
# --------------------------------------------------------------------------


@register(
    "vocab_coverage_by_lang",
    """
    WITH words AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS w
      FROM documents),
    vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS cnt FROM words GROUP BY w
        ORDER BY cnt DESC, w LIMIT 200)),
    cov AS (
      SELECT lang,
             COUNT(*) AS total_tokens,
             COUNT(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 END)
               AS in_vocab_tokens
      FROM words GROUP BY lang)
    SELECT lang, total_tokens, in_vocab_tokens,
           CAST(FLOOR(CAST(in_vocab_tokens AS DOUBLE)
                      / CAST(total_tokens AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS coverage_micro
    FROM cov
    """,
    doc="Tokenizer-vocabulary coverage: build the corpus top-200 word "
    "vocabulary (count DESC, word ASC — a total order), then measure the "
    "per-language share of tokens it covers (the OOV-rate profile used "
    "to size multilingual tokenizers). The vocab is 200 rows -> "
    "broadcast semi-join against the exploded words; the explode itself "
    "is map-side (no shuffle before the counting aggregate).",
)
def vocab_coverage_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(200)
        .select("w")
    )
    tagged = words.join(
        F.broadcast(vocab.withColumn("_in_vocab", F.lit(1))), "w", "left"
    )
    cov = tagged.groupBy("lang").agg(
        F.count("*").alias("total_tokens"),
        F.count("_in_vocab").alias("in_vocab_tokens"),
    )
    ratio = F.col("in_vocab_tokens").cast("double") / F.col("total_tokens").cast(
        "double"
    )
    return cov.select(
        "lang",
        "total_tokens",
        "in_vocab_tokens",
        F.floor(ratio * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias(
            "coverage_micro"
        ),
    )


# --------------------------------------------------------------------------
# temperature-scaled mixture weights — multinomial source sampling shares
# --------------------------------------------------------------------------


@register(
    "temperature_mixture_weights",
    """
    WITH s AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens
      FROM documents GROUP BY source),
    q AS (
      SELECT source, ws_tokens,
             CAST(floor(sqrt(CAST(ws_tokens AS DOUBLE)
                             / CAST(SUM(ws_tokens) OVER () AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS q_nano
      FROM s)
    SELECT source, ws_tokens,
           CAST(floor(CAST(q_nano AS DOUBLE) * 1000000
                      / CAST(SUM(q_nano) OVER () AS DOUBLE) + 0.5)
                AS BIGINT) AS share_micro
    FROM q
    """,
    doc="Temperature-scaled multinomial source sampling (the XLM-R / mT5 "
    "mixture rule: sample source i with probability proportional to "
    "p_i^alpha, flattening head domains and up-weighting the tail). "
    "alpha = 0.5, computed as sqrt(): IEEE-754 requires sqrt to be "
    "correctly rounded, so — unlike pow()/ln(), which are only "
    "libm-close — this op has NO libm dependence at all. Determinism: "
    "p_i is one exact int64/int64 double division; sqrt(p_i) is "
    "quantized to int64 nano-units per source BEFORE the normalizing "
    "window-SUM, so the denominator is an associative integer sum. "
    "Scale shape identical to source_mixture_weights: one (source) "
    "hash agg over the corpus, then windows over the source-count-sized "
    "relation (20 rows; domains at web scale are ~10^5 rows — still one "
    "tiny post-agg relation, no cross join, no collect).",
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(T.ws_token_count(F.col("text"))).cast("long").alias("ws_tokens")
    )
    total = F.sum("ws_tokens").over(Window.partitionBy())
    q_nano = F.floor(
        F.sqrt(F.col("ws_tokens").cast("double") / total.cast("double"))
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    q = per_source.select("source", "ws_tokens", q_nano.alias("q_nano"))
    denom = F.sum("q_nano").over(Window.partitionBy())
    share = F.floor(
        F.col("q_nano").cast("double") * F.lit(1000000.0) / denom.cast("double")
        + F.lit(0.5)
    ).cast("long")
    return q.select("source", "ws_tokens", share.alias("share_micro"))
