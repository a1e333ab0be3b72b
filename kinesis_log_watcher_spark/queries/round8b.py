"""Round-8 wave B: sketch estimation audits, privacy-preserving
collection, spatial bucketing, and paradox detection.

The reference (dacut/kinesis-log-watcher, a 416-line Go CLI that tails a
Kinesis stream and renders log lines — main.go) has none of this
surface; these queries extend the LLM-data-pipeline / analytics families
(SURVEY.md §7.5) with four primitives a 100 TB curation stack runs
routinely:

- AMS (Alon-Matias-Szegedy) tug-of-war F2 sketch, the classic streaming
  second-moment estimator, certified against the exact F2 in-row;
- randomized response (Warner), the local-DP collection mechanism, with
  its unbiased debiasing estimate certified against the true count;
- grid-cell (geohash-style) spatial bucketing — the equi-join shape
  that replaces the quadratic distance cross-join;
- Simpson's-paradox detection, the aggregation-reversal audit every
  observational metric pipeline needs before it trusts a pooled rate;
- greedy maximum-coverage document selection (submodular set cover);
- SAX symbolization + motif counting over a bounded-domain series;
- speculative-decoding acceptance pricing (greedy draft vs target);
- CUPED covariate variance reduction for experiment metrics;
- leave-one-source-out OLS influence (data valuation from sufficient
  statistics, 20 refits from one scan);
- multi-touch attribution (first/last/linear) via as-of candidates;
- ANF 2-hop reach estimation via KMV sketch propagation.

House disciplines throughout: every random draw is a deterministic
md5-derived integer computed IDENTICALLY in both dialects; all
statistics are exact int64 (micro-quantized where fractional); no
cross joins — scalar "global" values ride bounded-domain windows, not
1-row broadcast joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.queries.base import load, load_stream, register


# ===========================================================================
# AMS tug-of-war F2 sketch
# ===========================================================================

_AMS_S = 16  # independent estimators


_AMS_SQL = f"""
    WITH freq AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id),
    sk AS (
      SELECT e.estimator,
             CAST(SUM((1 - 2 * (CAST('0x' || substr(md5(
                      'ams' || CAST(e.estimator AS VARCHAR) || '|'
                      || CAST(f.user_id AS VARCHAR)), 1, 15) AS BIGINT)
                      % 2)) * f.n) AS BIGINT) AS z,
             CAST(SUM(f.n * f.n) AS BIGINT) AS f2_exact
      FROM freq f
      CROSS JOIN (SELECT unnest(range(0, {_AMS_S})) AS estimator) e
      GROUP BY e.estimator)
    SELECT CAST(estimator AS BIGINT) AS estimator, z,
           CAST(z * z AS BIGINT) AS x,
           f2_exact,
           CAST(SUM(z * z) OVER () // {_AMS_S} AS BIGINT) AS est_mean,
           CAST(CAST(abs(SUM(z * z) OVER () // {_AMS_S} - f2_exact)
                     AS HUGEINT) * 1000000
                // f2_exact AS BIGINT) AS rel_err_micro
    FROM sk
    """


@register(
    "ams_f2_sketch_estimate",
    _AMS_SQL,
    doc="AMS tug-of-war F2 sketch (Alon-Matias-Szegedy '96): 16 "
    "independent +/-1-signed running sums over the user-frequency "
    "vector of events; each Z_j^2 is an unbiased estimate of the "
    "second moment F2 = sum(n_u^2) (the self-join size of events on "
    "user_id, the number a join planner wants before it picks a "
    "strategy). Signs are the deterministic md5 draw computed "
    "identically in both dialects; the exact F2 is a one-row "
    "aggregate of the same scan, so a green row certifies estimator "
    "and ground truth together, and the F2 and mean-estimate/"
    "relative-error columns ride a window over the bounded 17-row "
    "union of sketch and F2 rows — no 1-row broadcast join anywhere. "
    "Scale shape: one shuffle to the user-frequency vector, then a 16x "
    "explode of that (bounded-by-distinct-users) vector into the "
    "16-row sketch (the same state builder stream_ams_f2_sketch runs "
    "over one (user, 1) row per event), and F2 is a one-row aggregate "
    "of the same vector; at petabyte row counts the signed sums exceed "
    "int64 when total events approach 3e9 per estimator-sign — the "
    "documented swap is DECIMAL(38,0) for z*z, counters stay exact. "
    "(No counterpart in reference main.go.)",
)
def ams_f2_sketch_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    freq = _ams_freq(load(spark, sf_dir, "events"))
    return _ams_finalize(_ams_state(freq), freq)


def _ams_freq(events: DataFrame) -> DataFrame:
    """The user-frequency vector ``(user_id, n)`` of ``events``."""
    return events.groupBy("user_id").agg(F.count("*").cast("long").alias("n"))


def _ams_state(freq: DataFrame) -> DataFrame:
    """The 16 signed sums Z_j = sum over ``(user_id, n)`` rows of
    sgn_j(user) * n. The batch twin passes the user-frequency vector
    (one sign per user); the stream twin passes one ``(user_id, 1)`` row
    per event. Both equal sum_u sgn_j(u) * n_u, and it is a plain
    order-free SUM, so the stream holds these 16 rows as its
    complete-mode state (never the events)."""
    signed = freq.select(
        F.explode(F.sequence(F.lit(0), F.lit(_AMS_S - 1))).alias(
            "estimator"
        ),
        "user_id",
        "n",
    ).select(
        F.col("estimator").cast("long").alias("estimator"),
        (
            (
                1
                - 2
                * (
                    md5_h15(
                        F.concat(
                            F.lit("ams"),
                            F.col("estimator").cast("string"),
                            F.lit("|"),
                            F.col("user_id").cast("string"),
                        )
                    )
                    % 2
                )
            )
            * F.col("n")
        ).alias("zn"),
    )
    return signed.groupBy("estimator").agg(
        F.sum("zn").cast("long").alias("z")
    )


def _ams_finalize(sk: DataFrame, freq: DataFrame) -> DataFrame:
    """Attach the exact F2 = sum_u n_u^2 (a one-row aggregate over the
    batch user-frequency vector ``freq``) and the mean/error columns.
    The F2 row rides a UNION with the 16 sketch rows and reaches them
    through a window over that bounded relation — no 1-row broadcast
    join."""
    f2 = freq.agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("f2_exact")
    )
    rows = sk.select(
        "estimator", "z", F.lit(None).cast("long").alias("f2_exact")
    ).unionByName(
        f2.select(
            F.lit(None).cast("long").alias("estimator"),
            F.lit(None).cast("long").alias("z"),
            "f2_exact",
        )
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = rows.select(
        "estimator",
        "z",
        F.max("f2_exact").over(wall).alias("f2_exact"),
        F.sum(F.col("z") * F.col("z")).over(wall).cast("long").alias("sumzz"),
    ).filter(F.col("estimator").isNotNull())
    # true integer `div` (never float /+floor: the quotient-boundary
    # parity trap) and the documented DECIMAL(38,0) swap on the rel_err
    # numerator — abs(est-f2)*1e6 outgrows int64 once F2 passes ~9e12
    return tot.select(
        "estimator",
        "z",
        (F.col("z") * F.col("z")).cast("long").alias("x"),
        "f2_exact",
        F.expr(f"sumzz div {_AMS_S}").cast("long").alias("est_mean"),
        F.expr(
            f"cast(cast(abs(sumzz div {_AMS_S} - f2_exact) "
            f"as decimal(38,0)) * 1000000 div f2_exact as long)"
        ).alias("rel_err_micro"),
    )


# ===========================================================================
# Randomized response (Warner's local-DP mechanism) with debiasing
# ===========================================================================


@register(
    "randomized_response_debias",
    """
    WITH flips AS (
      SELECT o_orderstatus AS status,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS truth,
             CASE WHEN CAST('0x' || substr(md5(
                      'rr|' || CAST(o_orderkey AS VARCHAR)), 1, 15)
                      AS BIGINT) % 4 < 3
                  THEN CASE WHEN o_orderpriority = '1-URGENT'
                            THEN 1 ELSE 0 END
                  ELSE 1 - CASE WHEN o_orderpriority = '1-URGENT'
                                THEN 1 ELSE 0 END
             END AS reported
      FROM orders)
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(truth) AS BIGINT) AS true_cnt,
           CAST(SUM(reported) AS BIGINT) AS observed_cnt,
           CAST((4 * SUM(reported) - COUNT(*)) * 500000 AS BIGINT)
             AS est_micro,
           CAST((4 * SUM(reported) - COUNT(*)) * 500000
                - SUM(truth) * 1000000 AS BIGINT) AS err_micro
    FROM flips GROUP BY status
    """,
    doc="Randomized response (Warner 1965, the local-DP collection "
    "mechanism): each order reports its is-urgent bit truthfully with "
    "p=3/4 and flipped with p=1/4 (ln(3)-LDP), drawn from the "
    "deterministic md5 coin computed identically in both dialects; "
    "the collector then debiases with the closed-form unbiased "
    "estimator n_hat = (4*observed - n)/2, emitted as exact micros "
    "(x500000 keeps the /2 exact in int64). err_micro certifies the "
    "estimate against the ground truth the mechanism hides. The "
    "privacy-preserving telemetry primitive for collecting corpus "
    "statistics without seeing any row's true bit. Scale shape: one "
    "narrow map + one partial-agg shuffle on the bounded status "
    "domain. (No counterpart in reference main.go.)",
)
def randomized_response_debias(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    truth = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    keep = (
        md5_h15(F.concat(F.lit("rr|"), F.col("o_orderkey").cast("string"))) % 4
        < 3
    )
    flips = orders.select(
        F.col("o_orderstatus").alias("status"),
        truth.alias("truth"),
        F.when(keep, truth).otherwise(1 - truth).alias("reported"),
    )
    return flips.groupBy("status").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("truth").cast("long").alias("true_cnt"),
        F.sum("reported").cast("long").alias("observed_cnt"),
        ((4 * F.sum("reported") - F.count("*")) * 500000)
        .cast("long")
        .alias("est_micro"),
        (
            (4 * F.sum("reported") - F.count("*")) * 500000
            - F.sum("truth") * 1000000
        )
        .cast("long")
        .alias("err_micro"),
    )


# ===========================================================================
# Simpson's-paradox (aggregation reversal) audit
# ===========================================================================


@register(
    "simpson_paradox_audit",
    """
    WITH strata AS (
      SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_year,
             CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_t,
             CAST(SUM(CASE WHEN l_discount > 0.05
                           AND l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_t,
             CAST(SUM(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_c,
             CAST(SUM(CASE WHEN l_discount <= 0.05
                           AND l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_c
      FROM lineitem GROUP BY 1),
    pooled AS (
      SELECT *,
             SUM(n_t) OVER () AS pn_t, SUM(r_t) OVER () AS pr_t,
             SUM(n_c) OVER () AS pn_c, SUM(r_c) OVER () AS pr_c
      FROM strata)
    SELECT ship_year, n_t, r_t, n_c, r_c,
           CAST(sign(r_t * n_c - r_c * n_t) AS BIGINT) AS dir_stratum,
           CAST(sign(pr_t * pn_c - pr_c * pn_t) AS BIGINT) AS dir_pooled,
           CAST(sign(r_t * n_c - r_c * n_t)
                * sign(pr_t * pn_c - pr_c * pn_t) AS BIGINT) = -1
             AS reversed
    FROM pooled
    """,
    doc="Simpson's-paradox audit: does the pooled association between "
    "deep discounting (l_discount > 0.05) and returns (l_returnflag = "
    "'R') reverse inside any ship-year stratum? Rate comparisons are "
    "exact integer cross-multiplications (r_t*n_c vs r_c*n_t), never "
    "float division; the pooled direction is recovered from the SAME "
    "7-row stratum relation by window sums (pooled counts are the "
    "stratum sums), so no second scan and no 1-row broadcast join. "
    "The aggregation-reversal gate an observational metrics pipeline "
    "runs before trusting any pooled rate. Scale shape: one "
    "partial-agg shuffle to a bounded 7-row relation; windows run on "
    "that bounded domain. (No counterpart in reference main.go.)",
)
def simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    t = F.when(F.col("l_discount") > 0.05, 1).otherwise(0)
    r = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    strata = li.groupBy(
        F.year(F.to_date("l_shipdate")).cast("long").alias("ship_year")
    ).agg(
        F.sum(t).cast("long").alias("n_t"),
        F.sum(t * r).cast("long").alias("r_t"),
        F.sum(1 - t).cast("long").alias("n_c"),
        F.sum((1 - t) * r).cast("long").alias("r_c"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pooled = strata.select(
        "*",
        F.sum("n_t").over(wall).alias("pn_t"),
        F.sum("r_t").over(wall).alias("pr_t"),
        F.sum("n_c").over(wall).alias("pn_c"),
        F.sum("r_c").over(wall).alias("pr_c"),
    )
    def isign(x):
        return (
            F.when(x > 0, 1).when(x < 0, -1).otherwise(0).cast("long")
        )

    ds = isign(F.col("r_t") * F.col("n_c") - F.col("r_c") * F.col("n_t"))
    dp = isign(
        F.col("pr_t") * F.col("pn_c") - F.col("pr_c") * F.col("pn_t")
    )
    return pooled.select(
        "ship_year",
        "n_t",
        "r_t",
        "n_c",
        "r_c",
        ds.alias("dir_stratum"),
        dp.alias("dir_pooled"),
        ((ds * dp) == -1).alias("reversed"),
    )


# ===========================================================================
# Grid-cell (geohash-style) spatial bucketed join
# ===========================================================================

# 15-degree cells in micro-degrees: 12 latitude bands x 24 longitude
# bands = 288 cells. Coordinates are synthesized deterministically from
# the entity keys (TPC-H has no geography), identically in both
# dialects.
_GEO_CELL = 15_000_000


@register(
    "geohash_cell_pair_stats",
    f"""
    WITH cust AS (
      SELECT c_custkey,
             CAST('0x' || substr(md5('glat|' || CAST(c_custkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 180000000 - 90000000 AS lat,
             CAST('0x' || substr(md5('glon|' || CAST(c_custkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 360000000 - 180000000 AS lon
      FROM customer),
    supp AS (
      SELECT s_suppkey,
             CAST('0x' || substr(md5('glat|s' || CAST(s_suppkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 180000000 - 90000000 AS lat,
             CAST('0x' || substr(md5('glon|s' || CAST(s_suppkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 360000000 - 180000000 AS lon
      FROM supplier),
    cc AS (
      SELECT *, ((lat + 90000000) // {_GEO_CELL}) * 24
                + ((lon + 180000000) // {_GEO_CELL}) AS cell
      FROM cust),
    sc AS (
      SELECT *, ((lat + 90000000) // {_GEO_CELL}) * 24
                + ((lon + 180000000) // {_GEO_CELL}) AS cell
      FROM supp)
    SELECT CAST(cc.cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN((cc.lat - sc.lat) * (cc.lat - sc.lat)
                    + (cc.lon - sc.lon) * (cc.lon - sc.lon)) AS BIGINT)
             AS min_d2,
           CAST(SUM(CASE WHEN (cc.lat - sc.lat) * (cc.lat - sc.lat)
                              + (cc.lon - sc.lon) * (cc.lon - sc.lon)
                              < 25000000000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_5deg
    FROM cc JOIN sc ON cc.cell = sc.cell
    GROUP BY cc.cell
    """,
    doc="Spatial bucketed join (the geohash pattern): customers and "
    "suppliers get deterministic md5-synthesized micro-degree "
    "coordinates, land in 15-degree grid cells (12x24=288), and "
    "customer-supplier proximity stats aggregate per cell over an "
    "EQUI-join on cell id — the shape that replaces the quadratic "
    "all-pairs distance cross-join at scale. Distances are exact "
    "integer squared micro-degrees (equirectangular; max term 4.5e14, "
    "int64-safe). Scale shape: both sides shuffle once on the cell "
    "key; per-cell pair volume is bounded by cell granularity — at "
    "higher density the grid refines (more cells, same join shape) "
    "and boundary-crossing pairs are found by the standard "
    "neighbor-cell replication, both leaving the plan an equi-join. "
    "This query certifies the cell assignment + same-cell pair "
    "algebra. (No counterpart in reference main.go.)",
)
def geohash_cell_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def with_coords(df: DataFrame, key: str, tag: str) -> DataFrame:
        k = F.col(key).cast("string")
        lat = (
            md5_h15(F.concat(F.lit("glat|" + tag), k)) % 180000000 - 90000000
        )
        lon = (
            md5_h15(F.concat(F.lit("glon|" + tag), k)) % 360000000 - 180000000
        )
        return df.select(
            lat.alias("lat"),
            lon.alias("lon"),
        ).select(
            "lat",
            "lon",
            (
                F.floor((F.col("lat") + 90000000) / _GEO_CELL) * 24
                + F.floor((F.col("lon") + 180000000) / _GEO_CELL)
            )
            .cast("long")
            .alias("cell"),
        )

    cc = with_coords(load(spark, sf_dir, "customer"), "c_custkey", "")
    sc = (
        with_coords(load(spark, sf_dir, "supplier"), "s_suppkey", "s")
        .withColumnRenamed("lat", "slat")
        .withColumnRenamed("lon", "slon")
    )
    d2 = (F.col("lat") - F.col("slat")) * (
        F.col("lat") - F.col("slat")
    ) + (F.col("lon") - F.col("slon")) * (F.col("lon") - F.col("slon"))
    return (
        cc.join(sc, "cell")
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min(d2).cast("long").alias("min_d2"),
            F.sum(F.when(d2 < 25000000000000, 1).otherwise(0))
            .cast("long")
            .alias("n_within_5deg"),
        )
    )


# ===========================================================================
# Greedy maximum-coverage document selection (budgeted set cover)
# ===========================================================================

_COVER_K = 4  # selection rounds


def _cover_pick_sql(dw: str, cov: str, exclude: str) -> str:
    """One greedy round in the oracle dialect: argmax uncovered-word
    gain over doc->word sets, ties to the smallest doc_id."""
    excl = f"AND d.doc_id NOT IN (SELECT doc_id FROM {exclude})" if exclude else ""
    notin = f"AND d.word NOT IN (SELECT word FROM {cov})" if cov else ""
    return f"""(
      SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM {dw} d WHERE 1=1 {notin} {excl}
      GROUP BY d.doc_id ORDER BY gain DESC, d.doc_id LIMIT 1)"""


@register(
    "greedy_set_cover_docs",
    f"""
    WITH dw AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> array_to_string(
                      list_slice(string_split(text, ' '), i, i + 2), ' ')
             ))) AS word
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    p1 AS {_cover_pick_sql('dw', '', '')},
    c1 AS (SELECT DISTINCT word FROM dw JOIN p1 USING (doc_id)),
    p2 AS {_cover_pick_sql('dw', 'c1', 'p1')},
    c2 AS (SELECT word FROM c1 UNION
           SELECT word FROM dw JOIN p2 USING (doc_id)),
    px AS (SELECT doc_id FROM p1 UNION SELECT doc_id FROM p2),
    p3 AS {_cover_pick_sql('dw', 'c2', 'px')},
    c3 AS (SELECT word FROM c2 UNION
           SELECT word FROM dw JOIN p3 USING (doc_id)),
    py AS (SELECT doc_id FROM px UNION SELECT doc_id FROM p3),
    p4 AS {_cover_pick_sql('dw', 'c3', 'py')},
    c4 AS (SELECT word FROM c3 UNION
           SELECT word FROM dw JOIN p4 USING (doc_id))
    SELECT 1 AS round, p1.doc_id, p1.gain,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS covered_cum
    FROM p1
    UNION ALL SELECT 2, p2.doc_id, p2.gain,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) FROM p2
    UNION ALL SELECT 3, p3.doc_id, p3.gain,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c3) FROM p3
    UNION ALL SELECT 4, p4.doc_id, p4.gain,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c4) FROM p4
    """,
    doc="Greedy maximum-coverage selection (the classic (1-1/e) "
    "set-cover greedy): 4 rounds, each picking the document whose "
    "3-token shingle set covers the most still-uncovered shingles "
    "(ties to the smallest doc_id) — the submodular data-selection "
    "primitive behind 'pick the k docs that cover the most n-grams' "
    "corpus curation. The engine runs the loop as K bounded driver "
    "iterations, each ONE anti-join (uncovered words) + partial-agg "
    "argmax; the covered set is only the union of at most K picked "
    "documents' words, so the anti-join build side stays broadcast-"
    "small by construction. The oracle unrolls the same 4 rounds as "
    "CTEs. Scale shape: per round one shuffle on the word key over "
    "the doc->word relation (persisted across rounds); the argmax is "
    "a two-phase top-1 (WindowGroupLimit), never a global sort; "
    "driver-side data is K scalar picks. (No counterpart in "
    "reference main.go.)",
)
def greedy_set_cover_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import exploded_shingles
    from kinesis_log_watcher_spark.queries.base import finalize_unpersist

    # spread examined and left OFF: three A/Bs read 0.81 / 0.94 / 1.05
    # vs unspread (not reproducible once the A/B harness alternated arm
    # order) — the per-round aggregation over the persisted relation,
    # not the explode, is the cost here.
    docs = load(spark, sf_dir, "documents")
    dw = (
        exploded_shingles(docs)
        .withColumnRenamed("shingle", "word")
        .persist()
    )
    picked: list[int] = []
    rows = []
    cum = 0
    for rnd in range(1, _COVER_K + 1):
        cand = dw
        if picked:
            # covered = union of the picked docs' shingle sets — at most
            # K documents' worth, broadcast-small by construction; the
            # greedy gain is |words(d) \ covered| via one anti-join.
            cand = cand.filter(~F.col("doc_id").isin(picked)).join(
                F.broadcast(
                    dw.filter(F.col("doc_id").isin(picked)).select("word")
                ),
                "word",
                "left_anti",
            )
        gains = cand.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("gain")
        )
        w = Window.orderBy(F.col("gain").desc(), F.col("doc_id").asc())
        pick = (
            gains.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "gain")
            .collect()
        )
        if not pick:
            break
        doc_id, gain = pick[0]["doc_id"], pick[0]["gain"]
        picked.append(doc_id)
        # the round's gain IS the newly-covered count (distinct-per-doc
        # shingles minus already-covered), so the cumulative coverage is
        # a running sum — no extra count job per round.
        cum += gain
        rows.append((rnd, doc_id, gain, cum))
    out = spark.createDataFrame(
        rows, "round int, doc_id long, gain long, covered_cum long"
    ).select(
        F.col("round").cast("int").alias("round"),
        "doc_id",
        "gain",
        "covered_cum",
    )
    return finalize_unpersist(out, dw)


# ===========================================================================
# SAX symbolization + motif counting over the daily revenue series
# ===========================================================================


@register(
    "sax_daily_revenue_motifs",
    """
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    sym AS (
      SELECT prio, day,
             ((ROW_NUMBER() OVER (PARTITION BY prio
                                  ORDER BY cents, day) - 1) * 4)
               // COUNT(*) OVER (PARTITION BY prio) AS s
      FROM daily),
    words AS (
      SELECT prio,
             s * 64
             + lead(s, 1) OVER w * 16
             + lead(s, 2) OVER w * 4
             + lead(s, 3) OVER w AS word
      FROM sym
      WINDOW w AS (PARTITION BY prio ORDER BY day))
    SELECT prio, CAST(word AS BIGINT) AS word,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM words WHERE word IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="SAX (symbolic aggregate approximation) motif discovery over "
    "the per-priority daily revenue series: each day's exact-cents "
    "revenue maps to a quartile symbol 0-3 by rank within its series "
    "(rank-based symbolization — exact integers, no z-normalization "
    "floats), consecutive 4-day symbol windows form base-4 motif "
    "words, and the query counts every motif's occurrences — the "
    "repeated-pattern primitive behind time-series indexing "
    "(Lin/Keogh SAX) re-expressed as rank + lead windows. Scale "
    "shape: one partial-agg shuffle to the bounded (priority x day) "
    "domain (~12k rows regardless of order volume — the histogram-"
    "family pattern); every window runs on that bounded relation. "
    "(No counterpart in reference main.go.)",
)
def sax_daily_revenue_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.to_date("o_orderdate"), epoch).cast("long").alias(
            "day"
        ),
    ).agg(
        F.sum((dec(F.col("o_totalprice"), 12, 2) * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wrank = Window.partitionBy("prio").orderBy("cents", "day")
    wall = Window.partitionBy("prio").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sym = daily.select(
        "prio",
        "day",
        F.floor(
            (F.row_number().over(wrank) - 1) * 4 / F.count("*").over(wall)
        ).alias("s"),
    )
    wday = Window.partitionBy("prio").orderBy("day")
    words = sym.select(
        "prio",
        (
            F.col("s") * 64
            + F.lead("s", 1).over(wday) * 16
            + F.lead("s", 2).over(wday) * 4
            + F.lead("s", 3).over(wday)
        ).alias("word"),
    ).filter(F.col("word").isNotNull())
    return words.groupBy("prio", F.col("word").cast("long").alias("word")).agg(
        F.count("*").cast("long").alias("n")
    )


# ===========================================================================
# Speculative-decoding acceptance pricing (greedy draft vs greedy target)
# ===========================================================================

_SPEC_K = 4  # draft tokens proposed per target forward pass


@register(
    "speculative_decode_acceptance",
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents),
    bg AS (
      SELECT d.source,
             string_split(d.text, ' ')[t.i] AS prev,
             string_split(d.text, ' ')[t.i + 1] AS cur
      FROM documents d,
           unnest(range(1, len(string_split(d.text, ' ')))) AS t(i)),
    c1 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM toks GROUP BY word),
    g AS (SELECT word AS gword FROM c1
          ORDER BY cnt DESC, word LIMIT 1),
    c2 AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM bg GROUP BY prev, cur),
    winners AS (
      SELECT prev, cur AS win FROM (
        SELECT prev, cur,
               ROW_NUMBER() OVER (PARTITION BY prev
                                  ORDER BY cnt DESC, cur) AS rn
        FROM c2) WHERE rn = 1),
    acc AS (
      SELECT b.source,
             CASE WHEN w.win = (SELECT gword FROM g) THEN 1 ELSE 0 END
               AS accept
      FROM bg b JOIN winners w USING (prev)),
    base AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS positions,
             CAST(SUM(accept) AS BIGINT) AS accepted,
             CAST(SUM(accept) * 1000000 // COUNT(*) AS BIGINT) AS a_micro
      FROM acc GROUP BY source),
    pw AS (
      SELECT *,
             a_micro * a_micro // 1000000 AS a2,
             a_micro * a_micro // 1000000 * a_micro // 1000000 AS a3
      FROM base)
    SELECT source, positions, accepted, a_micro,
           CAST(1000000 + a_micro + a2 + a3
                + a3 * a_micro // 1000000 AS BIGINT)
             AS exp_tokens_micro
    FROM pw
    """,
    doc="Speculative-decoding acceptance pricing: the draft model is "
    "the greedy unigram LM (always proposes the corpus-argmax token), "
    "the target is the greedy bigram LM (argmax continuation of the "
    "previous token, ties to the lexicographically smallest); under "
    "greedy decoding the target accepts a drafted token iff the two "
    "argmaxes agree, so the per-source acceptance rate a is the "
    "fraction of bigram positions whose bigram winner IS the global "
    "unigram winner — and the expected tokens emitted per target "
    "forward pass with k=4 drafts is sum(a^i, i=0..4), evaluated in "
    "truncating integer micros identically in both dialects. The "
    "capacity-planning number for speculative inference serving. "
    "Scale shape: bigrams are a narrow array-transform generator (no "
    "window); winner selection is a two-phase per-prev top-1 "
    "(WindowGroupLimit); the global argmax joins back as a broadcast "
    "1-row EQUI-join on the winner word, never a cross join. (No "
    "counterpart in reference main.go.)",
)
def speculative_decode_acceptance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # spread=True: interleaved A/B r12, 0.86 (1.5 -> 1.3s) at sf0.1.
    docs = load(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    # guard the bigram generator: Spark's sequence(1, 0) counts DOWN to
    # [1, 0] (the documented empty-array-fold trap) while the oracle's
    # range(1, 1) is empty — a 1-token doc must contribute no bigrams,
    # not an ANSI out-of-bounds crash
    bg = (
        docs.filter(F.size(F.split(F.col("text"), " ")) >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1), "
                    "i -> struct(element_at(split(text, ' '), i) AS prev, "
                    "element_at(split(text, ' '), i + 1) AS cur))"
                )
            ).alias("p"),
        )
        .select("source", "p.prev", "p.cur")
    )
    c1 = toks.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    wg = Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
    g = (
        c1.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") == 1)
        .select(F.col("word").alias("gword"))
    )
    c2 = bg.groupBy("prev", "cur").agg(
        F.count("*").cast("long").alias("cnt")
    )
    ww = Window.partitionBy("prev").orderBy(
        F.col("cnt").desc(), F.col("cur").asc()
    )
    winners = (
        c2.withColumn("rn", F.row_number().over(ww))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("cur").alias("win"))
        .join(F.broadcast(g), F.col("win") == F.col("gword"), "left")
        .select(
            "prev",
            F.when(F.col("gword").isNotNull(), 1).otherwise(0).alias(
                "accept"
            ),
        )
    )
    base = (
        bg.join(winners, "prev")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("positions"),
            F.sum("accept").cast("long").alias("accepted"),
            F.expr("sum(accept) * 1000000 div count(*)")
            .cast("long")
            .alias("a_micro"),
        )
    )
    a = F.col("a_micro")
    a2 = F.expr("a_micro * a_micro div 1000000")
    a3 = F.expr("a_micro * a_micro div 1000000 * a_micro div 1000000")
    a4 = F.expr(
        "a_micro * a_micro div 1000000 * a_micro div 1000000 "
        "* a_micro div 1000000"
    )
    return base.select(
        "source",
        "positions",
        "accepted",
        "a_micro",
        (F.lit(1000000) + a + a2 + a3 + a4)
        .cast("long")
        .alias("exp_tokens_micro"),
    )


# ===========================================================================
# CUPED variance reduction for experiment metrics
# ===========================================================================

# Exact micro-mean of a nonnegative BIGINT sum without int64 overflow:
# s*1e6 div n == (s div n)*1e6 + (s mod n)*1e6 div n, and both terms
# stay far below int64 even when s*1e6 would not.
_CUPED_MEAN_MICRO = "( ({s}) // ({n}) * 1000000 + ({s}) % ({n}) * 1000000 // ({n}) )"


@register(
    "cuped_variance_reduction",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST('0x' || substr(md5('cuped|' || CAST(o_custkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS arm,
             CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                           THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                     * 100 AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
                           THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                     * 100 AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    arms AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS syy
      FROM cust GROUP BY arm),
    pooled AS (
      SELECT *,
             CAST(SUM(n) OVER () AS DOUBLE) AS pn,
             CAST(SUM(sx) OVER () AS DOUBLE) AS psx,
             CAST(SUM(sy) OVER () AS DOUBLE) AS psy,
             SUM(sxy) OVER () AS psxy,
             SUM(sxx) OVER () AS psxx,
             SUM(syy) OVER () AS psyy,
             SUM(n) OVER () AS pni,
             SUM(sx) OVER () AS psxi
      FROM arms),
    th AS (
      SELECT *,
             CAST(floor((pn * psxy - psx * psy)
                        / (pn * psxx - psx * psx) * 1000000 + 0.5)
                  AS BIGINT) AS theta_micro,
             CAST(floor((pn * psxy - psx * psy) * (pn * psxy - psx * psy)
                        / ((pn * psxx - psx * psx)
                           * (pn * psyy - psy * psy)) * 1000000 + 0.5)
                  AS BIGINT) AS rho2_micro
      FROM pooled)
    SELECT arm, n,
           CAST({_CUPED_MEAN_MICRO.format(s='sy', n='n')} AS BIGINT)
             AS mean_y_microcents,
           CAST({_CUPED_MEAN_MICRO.format(s='sy', n='n')}
                - theta_micro * (sx // n - psxi // pni) AS BIGINT)
             AS adj_mean_microcents,
           theta_micro, rho2_micro
    FROM th
    """,
    doc="CUPED variance reduction (controlled experiments using "
    "pre-experiment data): each customer's 1997 spend (metric y) is "
    "adjusted by their 1996 spend (covariate x) with the pooled OLS "
    "theta = cov(x,y)/var(x); arms are a deterministic md5 split. "
    "Sums are exact int64 cents with DECIMAL(38,0) cross products "
    "(the embedding_label_drift headroom discipline) collapsed to "
    "DOUBLE only at the bounded 2-row arm relation, where IEEE "
    "arithmetic is bit-identical across engines; theta and rho^2 "
    "(the variance-reduction fraction) quantize to micros by the "
    "same floor(+0.5) in both dialects, and the adjusted means use "
    "an overflow-free split-division micro-mean identity. Pooled "
    "moments ride window sums over the 2-row arm relation — no 1-row "
    "broadcast join. The A/B-testing sensitivity primitive for "
    "evaluating data-recipe experiments. Scale shape: one shuffle to "
    "per-customer (x, y), one partial-agg shuffle to 2 arm rows; "
    "everything after is constant-size. (No counterpart in reference "
    "main.go.)",
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    yr = F.year(F.to_date("o_orderdate"))
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(yr == 1996, cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(yr == 1997, cents).otherwise(0))
        .cast("long")
        .alias("y"),
    ).select(
        (
            md5_h15(
                F.concat(F.lit("cuped|"), F.col("o_custkey").cast("string"))
            )
            % 2
        ).alias("arm"),
        "x",
        "y",
    )
    d38 = "decimal(38,0)"
    arms = cust.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y").cast(d38))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y").cast(d38))
        .cast("double")
        .alias("syy"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pooled = arms.select(
        "*",
        F.sum("n").over(wall).cast("double").alias("pn"),
        F.sum("sx").over(wall).cast("double").alias("psx"),
        F.sum("sy").over(wall).cast("double").alias("psy"),
        F.sum("sxy").over(wall).alias("psxy"),
        F.sum("sxx").over(wall).alias("psxx"),
        F.sum("syy").over(wall).alias("psyy"),
        F.sum("n").over(wall).alias("pni"),
        F.sum("sx").over(wall).alias("psxi"),
    )
    cov = F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy")
    vx = F.col("pn") * F.col("psxx") - F.col("psx") * F.col("psx")
    vy = F.col("pn") * F.col("psyy") - F.col("psy") * F.col("psy")
    th = pooled.select(
        "*",
        F.floor(cov / vx * 1000000 + 0.5).cast("long").alias("theta_micro"),
        F.floor(cov * cov / (vx * vy) * 1000000 + 0.5)
        .cast("long")
        .alias("rho2_micro"),
    )
    mean_micro = F.expr(_CUPED_MEAN_MICRO.format(s="sy", n="n").replace("//", " div "))
    return th.select(
        "arm",
        "n",
        mean_micro.cast("long").alias("mean_y_microcents"),
        (
            mean_micro
            - F.col("theta_micro")
            * (
                F.expr("sx div n")
                - F.expr("psxi div pni")
            )
        )
        .cast("long")
        .alias("adj_mean_microcents"),
        "theta_micro",
        "rho2_micro",
    )


# ===========================================================================
# Leave-one-source-out OLS influence (data valuation from sufficient stats)
# ===========================================================================


@register(
    "logo_source_influence",
    """
    WITH pts AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
             n_chars AS y
      FROM documents),
    grp AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY source),
    pooled AS (
      SELECT *,
             CAST(SUM(n) OVER () AS DOUBLE) AS pn,
             CAST(SUM(sx) OVER () AS DOUBLE) AS psx,
             CAST(SUM(sy) OVER () AS DOUBLE) AS psy,
             CAST(SUM(sxy) OVER () AS DOUBLE) AS psxy,
             CAST(SUM(sxx) OVER () AS DOUBLE) AS psxx
      FROM grp)
    SELECT source, n,
           CAST(floor((pn * psxy - psx * psy)
                      / (pn * psxx - psx * psx) * 1000000 + 0.5)
                AS BIGINT) AS beta_full_micro,
           CAST(floor(((pn - n) * (psxy - sxy) - (psx - sx) * (psy - sy))
                      / ((pn - n) * (psxx - sxx)
                         - (psx - sx) * (psx - sx)) * 1000000 + 0.5)
                AS BIGINT) AS beta_loo_micro,
           CAST(floor(((pn - n) * (psxy - sxy) - (psx - sx) * (psy - sy))
                      / ((pn - n) * (psxx - sxx)
                         - (psx - sx) * (psx - sx)) * 1000000 + 0.5)
                - floor((pn * psxy - psx * psy)
                        / (pn * psxx - psx * psx) * 1000000 + 0.5)
                AS BIGINT) AS influence_micro
    FROM pooled
    """,
    doc="Leave-one-group-out (LOGO) influence for data valuation: the "
    "OLS slope of n_chars on token count is refit WITHOUT each source "
    "by subtracting that source's sufficient statistics (n, sx, sy, "
    "sxy, sxx) from the pooled ones — 20 leave-out refits from ONE "
    "scan, no per-group re-aggregation, the trick that makes "
    "influence-style data valuation feasible at corpus scale. "
    "Per-source sums are exact int64; pooled moments ride window sums "
    "over the bounded 20-row source relation and collapse to IEEE "
    "double only there (bit-identical across engines), then quantize "
    "by the same floor(+0.5). influence_micro > 0 means removing the "
    "source RAISES the slope — the source drags the fit down. Scale "
    "shape: one narrow map + one partial-agg shuffle to |sources| "
    "rows; everything after is constant-size. (No counterpart in "
    "reference main.go.)",
)
def logo_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pts = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("x"),
        F.col("n_chars").alias("y"),
    )
    grp = pts.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pooled = grp.select(
        "*",
        F.sum("n").over(wall).cast("double").alias("pn"),
        F.sum("sx").over(wall).cast("double").alias("psx"),
        F.sum("sy").over(wall).cast("double").alias("psy"),
        F.sum("sxy").over(wall).cast("double").alias("psxy"),
        F.sum("sxx").over(wall).cast("double").alias("psxx"),
    )
    full = F.floor(
        (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy"))
        / (F.col("pn") * F.col("psxx") - F.col("psx") * F.col("psx"))
        * 1000000
        + 0.5
    ).cast("long")
    ln = F.col("pn") - F.col("n")
    lsx = F.col("psx") - F.col("sx")
    lsy = F.col("psy") - F.col("sy")
    lsxy = F.col("psxy") - F.col("sxy")
    lsxx = F.col("psxx") - F.col("sxx")
    loo = F.floor(
        (ln * lsxy - lsx * lsy) / (ln * lsxx - lsx * lsx) * 1000000 + 0.5
    ).cast("long")
    return pooled.select(
        "source",
        "n",
        full.alias("beta_full_micro"),
        loo.alias("beta_loo_micro"),
        (loo - full).alias("influence_micro"),
    )


# ===========================================================================
# Multi-touch attribution (first / last / linear)
# ===========================================================================

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1000000  # 7 days in microseconds


@register(
    "attribution_multi_touch",
    f"""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id,
             epoch_us(ts) AS cts, hour(ts) AS hr
      FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts
      FROM events WHERE event_type = 'purchase'),
    cand AS (
      SELECT p.purchase_id, c.click_id, c.hr, c.cts
      FROM purchases p JOIN clicks c USING (user_id)
      WHERE c.cts < p.pts AND c.cts >= p.pts - {_ATTR_WINDOW_US}),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY cts ASC, click_id ASC) AS rn_f,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY cts DESC, click_id DESC) AS rn_l,
             COUNT(*) OVER (PARTITION BY purchase_id) AS k
      FROM cand),
    scored AS (
      SELECT 'first' AS model, hr, 1000000 AS w FROM ranked WHERE rn_f = 1
      UNION ALL
      SELECT 'last', hr, 1000000 FROM ranked WHERE rn_l = 1
      UNION ALL
      SELECT 'linear', hr, 1000000 // k FROM ranked)
    SELECT model, CAST(hr AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(w) AS BIGINT) AS credit_micro
    FROM scored GROUP BY model, hr
    """,
    doc="Multi-touch attribution: every purchase credits the clicks the "
    "same user made in the preceding 7 days — fully to the FIRST "
    "touch, fully to the LAST touch, and split evenly (1e6 div k "
    "integer micros) under the LINEAR model — aggregated by "
    "click hour-of-day. First/last are row_number argmin/argmax with "
    "deterministic event-id tie-breaks; the candidate join is a "
    "user-key EQUI-join with a time-band filter (the as-of-join "
    "candidate shape: per-user fan-out is click-rate x window, "
    "bounded, never all-pairs). The marketing/conversion analytics "
    "primitive. Scale shape: one shuffle on user_id for the candidate "
    "join, windows partition by purchase (high-cardinality keys, no "
    "global window), final rollup on the bounded (model x 24h) "
    "domain. (No counterpart in reference main.go.)",
)
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        us.alias("cts"),
        F.hour("ts").alias("hr"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), us.alias("pts")
    )
    cand = purchases.join(clicks, "user_id").filter(
        (F.col("cts") < F.col("pts"))
        & (F.col("cts") >= F.col("pts") - _ATTR_WINDOW_US)
    )
    wf = Window.partitionBy("purchase_id").orderBy(
        F.col("cts").asc(), F.col("click_id").asc()
    )
    wl = Window.partitionBy("purchase_id").orderBy(
        F.col("cts").desc(), F.col("click_id").desc()
    )
    wk = Window.partitionBy("purchase_id")
    ranked = cand.select(
        "purchase_id",
        "hr",
        F.row_number().over(wf).alias("rn_f"),
        F.row_number().over(wl).alias("rn_l"),
        F.count("*").over(wk).alias("k"),
    )
    scored = (
        ranked.filter(F.col("rn_f") == 1)
        .select(F.lit("first").alias("model"), "hr", F.lit(1000000).alias("w"))
        .unionAll(
            ranked.filter(F.col("rn_l") == 1).select(
                F.lit("last").alias("model"), "hr", F.lit(1000000).alias("w")
            )
        )
        .unionAll(
            ranked.select(
                F.lit("linear").alias("model"),
                "hr",
                F.expr("1000000 div k").alias("w"),
            )
        )
    )
    return scored.groupBy("model", F.col("hr").cast("long").alias("hour")).agg(
        F.count("*").cast("long").alias("n_touches"),
        F.sum("w").cast("long").alias("credit_micro"),
    )


# ===========================================================================
# ANF: approximate neighborhood function via KMV sketch propagation
# ===========================================================================

_ANF_K = 8  # k-minimum-values sketch size
_ANF_DOMAIN = 1 << 60  # h15 hash domain (15 hex chars)


@register(
    "graph_anf_reach_kmv",
    f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS t
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    h AS (
      SELECT c, t,
             CAST('0x' || substr(md5('anf|' || CAST(t AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM e),
    sketch_c AS (
      SELECT c, hv FROM (
        SELECT c, hv,
               ROW_NUMBER() OVER (PARTITION BY c ORDER BY hv) AS rn
        FROM h) WHERE rn <= {_ANF_K}),
    samp AS (SELECT c, t AS s FROM e WHERE t % 20 = 0),
    merged AS (
      SELECT DISTINCT sp.s, sk.hv
      FROM samp sp JOIN sketch_c sk USING (c)),
    kmv AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS kmv_k,
             CAST(MAX(hv) AS BIGINT) AS kth_hash
      FROM (
        SELECT s, hv,
               ROW_NUMBER() OVER (PARTITION BY s ORDER BY hv) AS rn
        FROM merged) WHERE rn <= {_ANF_K}
      GROUP BY s),
    exact AS (
      SELECT sp.s, CAST(COUNT(DISTINCT e2.t) AS BIGINT) AS exact_n2
      FROM samp sp JOIN e e2 USING (c)
      GROUP BY sp.s)
    SELECT k.s AS suppkey, x.exact_n2, k.kmv_k,
           CASE WHEN k.kmv_k < {_ANF_K} THEN k.kmv_k
                ELSE ({_ANF_K - 1} * {_ANF_DOMAIN}) // k.kth_hash
           END AS est_n2
    FROM kmv k JOIN exact x ON k.s = x.s
    """,
    doc="ANF (approximate neighborhood function, Palmer/Gibbons/"
    "Faloutsos) via KMV sketch propagation: every supplier's 2-hop "
    "neighborhood size |suppliers sharing a customer| is estimated by "
    "propagating k=8-minimum-value hash sketches along the bipartite "
    "customer-supplier edge relation — one supplier->customer round "
    "(per-customer k smallest supplier hashes) and one customer->"
    "supplier merge (k smallest of the union, distinct-by-hash), "
    "estimate (k-1)*D/h_(k) with the exact count when the sketch "
    "isn't full. The exact 2-hop expansion rides along on a 1-in-20 "
    "supplier sample as the certificate (the minhash_prob_vs_exact "
    "discipline: the oracle certifies estimator AND truth). This is "
    "the algorithm that makes graph reach/diameter computable at "
    "scale: sketches are fixed-size and mergeable, so h-hop "
    "neighborhoods cost h equi-join rounds instead of an exponential "
    "frontier expansion. Scale shape: per round one shuffle on the "
    "join key with per-key top-k (WindowGroupLimit) keeping state at "
    "k rows per node; the exact branch (quadratic in degree) is "
    "confined to the bounded sample. All-integer arithmetic: "
    "(k-1)*2^60 = 8.07e18 fits int64. (No counterpart in reference "
    "main.go.)",
)
def graph_anf_reach_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    e = (
        orders.select(F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("c"))
        .join(li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("t")), "ok")
        .select("c", "t")
        .distinct()
    )
    h = e.select(
        "c",
        "t",
        md5_h15(F.concat(F.lit("anf|"), F.col("t").cast("string"))).alias("hv"),
    )
    wc = Window.partitionBy("c").orderBy("hv")
    sketch_c = (
        h.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= _ANF_K)
        .select("c", "hv")
    )
    samp = e.filter(F.col("t") % 20 == 0).select("c", F.col("t").alias("s"))
    merged = samp.join(sketch_c, "c").select("s", "hv").distinct()
    ws = Window.partitionBy("s").orderBy("hv")
    kmv = (
        merged.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _ANF_K)
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("kmv_k"),
            F.max("hv").cast("long").alias("kth_hash"),
        )
    )
    exact = (
        samp.join(e, "c")
        .groupBy("s")
        .agg(F.count_distinct("t").cast("long").alias("exact_n2"))
    )
    return kmv.join(exact, "s").select(
        F.col("s").alias("suppkey"),
        "exact_n2",
        "kmv_k",
        F.when(F.col("kmv_k") < _ANF_K, F.col("kmv_k"))
        .otherwise(
            F.expr(f"{_ANF_K - 1} * {_ANF_DOMAIN}L div kth_hash")
        )
        .cast("long")
        .alias("est_n2"),
    )


# ===========================================================================
# Streaming AMS F2 twin: the sketch as streaming aggregation state
# ===========================================================================

@register(
    "stream_ams_f2_sketch",
    _AMS_SQL,
    doc="STREAMING AMS sketch: the defining property of the tug-of-war "
    "estimator is that each Z_j is a plain SUM of per-event signed "
    "contributions (sign depends only on the event's user hash), so "
    "the 16-counter sketch is associative/commutative streaming "
    "aggregation state — ANY micro-batch replay split converges to "
    "the batch sketch. The stream folds sum(sign) per estimator in "
    "complete mode (state = 16 integer rows, never the events); "
    "finalization (the batch twin's _ams_finalize) attaches the exact "
    "F2 (a one-row aggregate of a batch events scan, in the same "
    "plan) and the mean/error columns. Oracle = the batch "
    "ams_f2_sketch_estimate SQL verbatim, so a green row proves "
    "streamed sketch == batch sketch bit-for-bit — the mergeability "
    "claim the batch query documents, proven live. Scale shape: "
    "per-batch work is a narrow 16x explode + partial agg; state is "
    "O(16) regardless of stream length. (No counterpart in reference "
    "main.go.)",
)
def stream_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.sources.files import run_replay

    events = load_stream(spark, sf_dir, "events")
    state = _ams_state(events.select("user_id", F.lit(1).cast("long").alias("n")))
    return _ams_finalize(
        run_replay(state, "complete", "stream_ams"),
        _ams_freq(load(spark, sf_dir, "events")),
    )


# ===========================================================================
# Horvitz-Thompson inverse-propensity debiasing of a biased sample
# ===========================================================================


@register(
    "ipw_biased_sample_debias",
    """
    WITH base AS (
      SELECT lang, n_chars,
             1 + CAST('0x' || substr(md5('ipwp|' || source), 1, 15)
                     AS BIGINT) % 4 AS k,
             CAST('0x' || substr(md5('ipwc|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 4 AS coin
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN coin < k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_included,
           CAST(SUM(n_chars) AS BIGINT) AS true_chars,
           CAST(SUM(CASE WHEN coin < k
                         THEN n_chars * (4000000 // k) ELSE 0 END)
                AS BIGINT) AS est_chars_micro,
           CAST(SUM(CASE WHEN coin < k
                         THEN n_chars * (4000000 // k) ELSE 0 END)
                - SUM(n_chars) * 1000000 AS BIGINT) AS err_micro
    FROM base GROUP BY lang
    """,
    doc="Horvitz-Thompson inverse-propensity debiasing: documents enter "
    "a biased sample with a source-dependent inclusion probability "
    "p_s = k/4 (k = 1..4 from the source hash; the inclusion coin is "
    "an independent per-doc md5 draw), and the estimator recovers "
    "each language's total character count from the sample alone by "
    "weighting every included doc by 1/p_s (integer micros, 4e6 div "
    "k). err_micro certifies the estimate against the full-population "
    "truth the sampler never sees. The bias-correction primitive for "
    "corpus statistics computed off non-uniform crawls or "
    "rate-limited collectors. Scale shape: one narrow map + one "
    "partial-agg shuffle on the bounded language domain; the sample "
    "membership never materializes. (No counterpart in reference "
    "main.go.)",
)
def ipw_biased_sample_debias(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    k = 1 + md5_h15(F.concat(F.lit("ipwp|"), F.col("source"))) % 4
    coin = md5_h15(F.concat(F.lit("ipwc|"), F.col("doc_id").cast("string"))) % 4
    base = docs.select(
        "lang",
        "n_chars",
        k.alias("k"),
        coin.alias("coin"),
    )
    inc = F.when(F.col("coin") < F.col("k"), 1).otherwise(0)
    w = F.expr("4000000 div k")
    return base.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(inc).cast("long").alias("n_included"),
        F.sum("n_chars").cast("long").alias("true_chars"),
        F.sum(
            F.when(F.col("coin") < F.col("k"), F.col("n_chars") * w).otherwise(
                0
            )
        )
        .cast("long")
        .alias("est_chars_micro"),
        (
            F.sum(
                F.when(
                    F.col("coin") < F.col("k"), F.col("n_chars") * w
                ).otherwise(0)
            )
            - F.sum("n_chars") * 1000000
        )
        .cast("long")
        .alias("err_micro"),
    )


# ===========================================================================
# Difference-in-differences (2x2 panel) on exact order revenue
# ===========================================================================


@register(
    "did_region_revenue",
    """
    WITH cells AS (
      SELECT CASE WHEN r.r_name = 'ASIA' THEN 1 ELSE 0 END AS treated,
             CASE WHEN year(CAST(o.o_orderdate AS DATE)) >= 1996
                  THEN 1 ELSE 0 END AS post,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    means AS (
      SELECT *,
             cents // n_orders * 1000000
             + cents % n_orders * 1000000 // n_orders AS mean_microcents
      FROM cells)
    SELECT treated, post, n_orders, cents, mean_microcents,
           CAST(SUM(CASE WHEN treated = 1 AND post = 1 THEN mean_microcents
                         WHEN treated = 1 AND post = 0 THEN -mean_microcents
                         WHEN treated = 0 AND post = 1 THEN -mean_microcents
                         ELSE mean_microcents END) OVER ()
                AS BIGINT) AS did_microcents
    FROM means
    """,
    doc="Difference-in-differences on the 2x2 (treated region x "
    "pre/post-1996) panel: the causal-inference workhorse for policy "
    "changes, computed on exact cents with the overflow-free "
    "split-division micro-mean identity (quotient*1e6 + "
    "remainder*1e6/n — exact integer, no s*1e6 overflow at any "
    "scale). The DiD contrast (TT_post - TT_pre) - (C_post - C_pre) "
    "rides a window sum over the bounded 4-row cell relation, "
    "identical on every row — no 1-row broadcast join. Scale shape: "
    "dimension joins broadcast (customer->nation->region), the fact "
    "pays one partial-agg shuffle to 4 cells. (No counterpart in "
    "reference main.go.)",
)
def did_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    dim = (
        customer.select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey", "r_name")
    )
    cells = (
        orders.join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.when(F.col("r_name") == "ASIA", 1).otherwise(0).alias("treated"),
            F.when(F.year(F.to_date("o_orderdate")) >= 1996, 1)
            .otherwise(0)
            .alias("post"),
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum((dec(F.col("o_totalprice"), 12, 2) * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    mean = F.expr(
        "cents div n_orders * 1000000 "
        "+ cents % n_orders * 1000000 div n_orders"
    )
    means = cells.select("*", mean.alias("mean_microcents"))
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    contrib = (
        F.when(
            (F.col("treated") == 1) & (F.col("post") == 1),
            F.col("mean_microcents"),
        )
        .when(
            (F.col("treated") == 1) & (F.col("post") == 0),
            -F.col("mean_microcents"),
        )
        .when(
            (F.col("treated") == 0) & (F.col("post") == 1),
            -F.col("mean_microcents"),
        )
        .otherwise(F.col("mean_microcents"))
    )
    return means.select(
        "treated",
        "post",
        "n_orders",
        "cents",
        "mean_microcents",
        F.sum(contrib).over(wall).cast("long").alias("did_microcents"),
    )


# ===========================================================================
# Capture-recapture (Chapman) population estimation
# ===========================================================================


@register(
    "capture_recapture_estimate",
    """
    WITH marks AS (
      SELECT o_orderpriority AS prio,
             CASE WHEN CAST('0x' || substr(md5(
                      'crA|' || CAST(o_orderkey AS VARCHAR)), 1, 15)
                      AS BIGINT) % 5 = 0 THEN 1 ELSE 0 END AS in_a,
             CASE WHEN CAST('0x' || substr(md5(
                      'crB|' || CAST(o_orderkey AS VARCHAR)), 1, 15)
                      AS BIGINT) % 4 = 0 THEN 1 ELSE 0 END AS in_b
      FROM orders)
    SELECT prio,
           CAST(COUNT(*) AS BIGINT) AS true_n,
           CAST(SUM(in_a) AS BIGINT) AS n1,
           CAST(SUM(in_b) AS BIGINT) AS n2,
           CAST(SUM(in_a * in_b) AS BIGINT) AS m,
           CAST((SUM(in_a) + 1) * (SUM(in_b) + 1) * 1000000
                // (SUM(in_a * in_b) + 1) - 1000000 AS BIGINT)
             AS est_n_micro
    FROM marks GROUP BY prio
    """,
    doc="Capture-recapture population estimation (Chapman's "
    "nearly-unbiased variant of Lincoln-Petersen): two independent "
    "deterministic md5 samples of orders (20% and 25%) play the two "
    "capture occasions; the overlap m estimates each priority class's "
    "total as (n1+1)(n2+1)/(m+1) - 1, in exact truncating micros "
    "identical in both dialects, certified against the true count the "
    "estimator never sees. The coverage-estimation primitive for "
    "'how big is the crawlable corpus' questions answered from two "
    "overlapping crawls. Scale shape: one narrow map + one "
    "partial-agg shuffle on the bounded priority domain; int64-safe "
    "while n1*n2*1e6 < 9.2e18 (n ~ 3e6 per class per sample at the "
    "observed rates; the documented swap past that is DECIMAL(38,0) "
    "for the cross product). (No counterpart in reference main.go.)",
)
def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    okey = F.col("o_orderkey").cast("string")
    in_a = F.when(
        md5_h15(F.concat(F.lit("crA|"), okey)) % 5 == 0, 1
    ).otherwise(0)
    in_b = F.when(
        md5_h15(F.concat(F.lit("crB|"), okey)) % 4 == 0, 1
    ).otherwise(0)
    marks = orders.select(
        F.col("o_orderpriority").alias("prio"),
        in_a.alias("in_a"),
        in_b.alias("in_b"),
    )
    return marks.groupBy("prio").agg(
        F.count("*").cast("long").alias("true_n"),
        F.sum("in_a").cast("long").alias("n1"),
        F.sum("in_b").cast("long").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("m"),
        F.expr(
            "(sum(in_a) + 1) * (sum(in_b) + 1) * 1000000 "
            "div (sum(in_a * in_b) + 1) - 1000000"
        )
        .cast("long")
        .alias("est_n_micro"),
    )


# ===========================================================================
# James-Stein shrinkage of per-source means
# ===========================================================================


@register(
    "james_stein_source_means",
    """
    WITH grp AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY source),
    moments AS (
      SELECT *,
             CAST(s AS DOUBLE) / n AS m,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
               / (n - 1) / n AS v
      FROM grp),
    pooled AS (
      SELECT *,
             COUNT(*) OVER () AS k,
             AVG(m) OVER () AS grand,
             AVG(v) OVER () AS vbar,
             SUM(m * m) OVER ()
               - COUNT(*) OVER () * AVG(m) OVER () * AVG(m) OVER ()
               AS ssb
      FROM moments),
    shrunk AS (
      SELECT *,
             CASE WHEN 1 - (k - 3) * vbar / ssb > 0
                  THEN 1 - (k - 3) * vbar / ssb ELSE 0 END AS c
      FROM pooled)
    SELECT source, n,
           CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS mean_micro,
           CAST(floor((grand + c * (m - grand)) * 1000000 + 0.5) AS BIGINT)
             AS shrunk_micro,
           CAST(floor(c * 1000000 + 0.5) AS BIGINT) AS shrink_c_micro
    FROM shrunk
    """,
    doc="James-Stein shrinkage of per-source mean document lengths "
    "toward the grand mean: the empirical-Bayes estimator that "
    "dominates per-group MLEs whenever 4+ groups are estimated "
    "simultaneously — the right default for per-source rate/quality "
    "statistics a curation pipeline acts on. Shrinkage factor "
    "c = max(0, 1 - (K-3)*vbar/SSB) with vbar the mean sampling "
    "variance of the group means and SSB the between-group sum of "
    "squares, all computed from exact int64 sums collapsed to IEEE "
    "doubles only on the bounded 20-row source relation (bit-"
    "identical across engines), quantized by the same floor(+0.5). "
    "Scale shape: one partial-agg shuffle to |sources| rows; windows "
    "run on that bounded relation. (No counterpart in reference "
    "main.go.)",
)
def james_stein_source_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    grp = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ss"),
    )
    moments = grp.select(
        "*",
        (F.col("s").cast("double") / F.col("n")).alias("m"),
        (
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("v"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pooled = moments.select(
        "*",
        F.count("*").over(wall).alias("k"),
        F.avg("m").over(wall).alias("grand"),
        F.avg("v").over(wall).alias("vbar"),
        (
            F.sum(F.col("m") * F.col("m")).over(wall)
            - F.count("*").over(wall)
            * F.avg("m").over(wall)
            * F.avg("m").over(wall)
        ).alias("ssb"),
    )
    raw_c = 1 - (F.col("k") - 3) * F.col("vbar") / F.col("ssb")
    shrunk = pooled.select(
        "*", F.when(raw_c > 0, raw_c).otherwise(F.lit(0.0)).alias("c")
    )
    return shrunk.select(
        "source",
        "n",
        F.floor(F.col("m") * 1000000 + 0.5).cast("long").alias("mean_micro"),
        F.floor(
            (F.col("grand") + F.col("c") * (F.col("m") - F.col("grand")))
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("shrunk_micro"),
        F.floor(F.col("c") * 1000000 + 0.5)
        .cast("long")
        .alias("shrink_c_micro"),
    )


# ===========================================================================
# Neyman optimal sample allocation with largest-remainder rounding
# ===========================================================================

_NEYMAN_BUDGET = 1000


@register(
    "neyman_allocation",
    f"""
    WITH grp AS (
      SELECT o_orderpriority AS prio,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS s,
             SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT) AS DECIMAL(38,0))
                 * CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT) AS DECIMAL(38,0))) AS ssd
      FROM orders GROUP BY 1),
    -- variance numerator n*ss - s^2 stays EXACT; the >2^53 integer is
    -- converted to double via the engine-stable two-part split
    -- hi*2^30 + lo (each half < 2^53, so each cast is exact in both
    -- engines). A direct DECIMAL(38,0)->DOUBLE cast diverged in the
    -- last bit between engines at sf0.1 (DuckDB's conversion is not
    -- correctly rounded above 2^53; Java's is), and a micro-quantized
    -- output at 4e17 magnitude amplifies that ulp to a hash mismatch.
    -- NB DuckDB's // on DECIMAL routes through float — HUGEINT // is
    -- the exact path that matches Spark's decimal `div`.
    vn AS (
      SELECT prio, n, s,
             CAST(CAST(n AS DECIMAL(38,0)) * ssd
                  - CAST(s AS DECIMAL(38,0)) * s AS HUGEINT) AS vnum
      FROM grp),
    wt AS (
      SELECT prio, n, s,
             n * sqrt((CAST(CAST(vnum // 1073741824 AS BIGINT) AS DOUBLE)
                       * 1073741824.0
                       + CAST(CAST(vnum % 1073741824 AS BIGINT) AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (n - 1))) AS w
      FROM vn),
    share AS (
      SELECT *,
             {_NEYMAN_BUDGET} * w / SUM(w) OVER () AS exact_share
      FROM wt),
    fl AS (
      SELECT *,
             CAST(floor(exact_share) AS BIGINT) AS base,
             exact_share - floor(exact_share) AS frac,
             {_NEYMAN_BUDGET} - SUM(CAST(floor(exact_share) AS BIGINT))
               OVER () AS leftover
      FROM share)
    SELECT prio, n,
           CAST(floor(w * 1000000 + 0.5) AS BIGINT) AS weight_micro,
           base + CASE WHEN ROW_NUMBER() OVER (ORDER BY frac DESC, prio)
                            <= leftover THEN 1 ELSE 0 END AS alloc
    FROM fl
    """,
    doc="Neyman optimal allocation of a 1000-sample budget across "
    "priority strata: n_h proportional to N_h * S_h (stratum size "
    "times cents standard deviation), with largest-remainder rounding "
    "so allocations sum EXACTLY to the budget (fractional parts "
    "ranked, ties to the stratum name — fully deterministic). The "
    "stratified-sampling design primitive that minimizes estimator "
    "variance for a fixed labeling/eval budget. The variance "
    "numerator n*ss - s^2 stays an EXACT DECIMAL(38,0)/HUGEINT and "
    "collapses to an IEEE double via the engine-stable two-part "
    "hi*2^30+lo split on the bounded 5-row stratum relation only — a "
    "direct >2^53 DECIMAL->DOUBLE cast is not correctly rounded in "
    "DuckDB and diverged in the last bit at sf0.1 (caught by the r9 "
    "overflow-family sweep). Scale shape: one partial-agg shuffle to "
    "|strata| rows; windows on the bounded relation. (No counterpart "
    "in reference main.go.)",
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    d38 = "decimal(38,0)"
    grp = orders.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(cents).cast("long").alias("s"),
        F.sum(cents.cast(d38) * cents.cast(d38)).alias("ssd"),
    )
    # exact variance numerator + the engine-stable two-part double
    # conversion (see the oracle SQL comment: a direct >2^53
    # DECIMAL->DOUBLE cast is not correctly rounded in DuckDB)
    vn = grp.select(
        "prio",
        "n",
        "s",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * ssd "
            "- CAST(s AS DECIMAL(38,0)) * s"
        ).alias("vnum"),
    )
    wt = vn.select(
        "prio",
        "n",
        "s",
        F.expr(
            "n * sqrt((CAST(CAST(vnum div 1073741824 AS BIGINT) AS DOUBLE)"
            " * 1073741824.0"
            " + CAST(CAST(vnum % 1073741824 AS BIGINT) AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * (n - 1)))"
        ).alias("w"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = wt.select(
        "*",
        (F.lit(_NEYMAN_BUDGET) * F.col("w") / F.sum("w").over(wall)).alias(
            "exact_share"
        ),
    )
    fl = share.select(
        "*",
        F.floor("exact_share").cast("long").alias("base"),
        (F.col("exact_share") - F.floor("exact_share")).alias("frac"),
        (
            F.lit(_NEYMAN_BUDGET)
            - F.sum(F.floor("exact_share").cast("long")).over(wall)
        ).alias("leftover"),
    )
    wr = Window.orderBy(F.col("frac").desc(), F.col("prio").asc())
    return fl.select(
        "prio",
        "n",
        F.floor(F.col("w") * 1000000 + 0.5).cast("long").alias("weight_micro"),
        (
            F.col("base")
            + F.when(F.row_number().over(wr) <= F.col("leftover"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("alloc"),
    )


# ===========================================================================
# MMR (maximal marginal relevance) diverse selection over embeddings
# ===========================================================================

_MMR_K = 3  # selection rounds
# integer-exact MMR with lambda = 2/3: score = 3*(lam*rel - (1-lam)*ms)
#                                            = 2*rel - ms
_MMR_Q_SQL = """
  q AS (
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5)
                       AS BIGINT)) AS qe
    FROM embeddings),
  rel AS (
    SELECT c.vec_id,
           CAST(list_sum(list_transform(list_zip(c.qe, q0.qe),
                p -> p[1] * p[2])) AS BIGINT) AS rel
    FROM q c, (SELECT qe FROM q WHERE vec_id = 0) q0
    WHERE c.vec_id >= 1)
"""


def _mmr_dot_sql(cand: str, sel: str) -> str:
    """Max candidate-to-selected dot product (sel is a bounded pick
    set), same int64 quantized arithmetic as rel."""
    return f"""(
      SELECT r.vec_id, r.rel, MAX(CAST(list_sum(list_transform(
               list_zip(qc.qe, qs.qe), p -> p[1] * p[2])) AS BIGINT)) AS ms
      FROM rel r
      JOIN q qc ON qc.vec_id = r.vec_id
      JOIN {sel} sv ON r.vec_id <> sv.vec_id
      JOIN q qs ON qs.vec_id = sv.vec_id
      WHERE r.vec_id NOT IN (SELECT vec_id FROM {sel})
      GROUP BY r.vec_id, r.rel)"""


@register(
    "mmr_diverse_selection",
    f"""
    WITH {_MMR_Q_SQL},
    p1 AS (
      SELECT vec_id, rel, CAST(0 AS BIGINT) AS ms, 2 * rel AS score
      FROM rel ORDER BY score DESC, vec_id LIMIT 1),
    sel1 AS (SELECT vec_id FROM p1),
    s2 AS {_mmr_dot_sql('rel', 'sel1')},
    p2 AS (
      SELECT vec_id, rel, ms, 2 * rel - ms AS score
      FROM s2 ORDER BY score DESC, vec_id LIMIT 1),
    sel2 AS (SELECT vec_id FROM p1 UNION SELECT vec_id FROM p2),
    s3 AS {_mmr_dot_sql('rel', 'sel2')},
    p3 AS (
      SELECT vec_id, rel, ms, 2 * rel - ms AS score
      FROM s3 ORDER BY score DESC, vec_id LIMIT 1)
    SELECT 1 AS round, vec_id, rel, ms, CAST(score AS BIGINT) AS score
    FROM p1
    UNION ALL SELECT 2, vec_id, rel, ms, CAST(score AS BIGINT) FROM p2
    UNION ALL SELECT 3, vec_id, rel, ms, CAST(score AS BIGINT) FROM p3
    """,
    doc="MMR (maximal marginal relevance, Carbonell-Goldstein) diverse "
    "selection: 3 greedy rounds picking the embedding that maximizes "
    "2*relevance - max-similarity-to-selected (lambda = 2/3 scaled to "
    "integers; relevance = dot with the query vector vec_id 0; ties "
    "to the smallest vec_id) — the diversity-aware retrieval/data-"
    "selection primitive that stops top-k returning near-duplicates. "
    "All dot products are int64 sums of 1e7-quantized components (the "
    "ANN family's engine-exact arithmetic). The engine runs K bounded "
    "driver rounds; the diversity term each round joins candidates "
    "against the <= K-row selected set BROADCAST on the dim key, "
    "never against other candidates — cost K * |candidates| * dim, "
    "not quadratic. Scale shape: relevance is one dim-key join + "
    "partial agg; per-round argmax is two-phase top-1 "
    "(WindowGroupLimit). (No counterpart in reference main.go.)",
)
def mmr_diverse_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exploded_components,
        quantize,
    )
    from kinesis_log_watcher_spark.queries.base import finalize_unpersist

    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id").select(
        "vec_id", "dim", quantize(F.col("x")).alias("qx")
    )
    qv = comp.filter(F.col("vec_id") == 0).select(
        "dim", F.col("qx").alias("q0")
    )
    cand = comp.filter(F.col("vec_id") >= 1)
    rel = (
        cand.join(F.broadcast(qv), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("qx") * F.col("q0")).cast("long").alias("rel"))
        .persist()
    )
    picked: list[tuple[int, int, int, int]] = []  # (vec_id, rel, ms, score)
    for _ in range(_MMR_K):
        sel_ids = [p[0] for p in picked]
        if not picked:
            scored = rel.select(
                "vec_id",
                "rel",
                F.lit(0).cast("long").alias("ms"),
                (2 * F.col("rel")).alias("score"),
            )
        else:
            sel_comp = comp.filter(F.col("vec_id").isin(sel_ids)).select(
                F.col("vec_id").alias("sid"), "dim", F.col("qx").alias("qs")
            )
            ms = (
                cand.filter(~F.col("vec_id").isin(sel_ids))
                .join(F.broadcast(sel_comp), "dim")
                .groupBy("vec_id", "sid")
                .agg(F.sum(F.col("qx") * F.col("qs")).cast("long").alias("d"))
                .groupBy("vec_id")
                .agg(F.max("d").alias("ms"))
            )
            scored = rel.join(ms, "vec_id").select(
                "vec_id", "rel", "ms", (2 * F.col("rel") - F.col("ms")).alias("score")
            )
        w = Window.orderBy(F.col("score").desc(), F.col("vec_id").asc())
        row = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        )
        if not row:
            break
        r = row[0]
        picked.append((r["vec_id"], r["rel"], r["ms"], r["score"]))
    out = spark.createDataFrame(
        [
            (i + 1, v, rl, m, sc)
            for i, (v, rl, m, sc) in enumerate(picked)
        ],
        "round int, vec_id long, rel long, ms long, score long",
    )
    return finalize_unpersist(out, rel)


# ===========================================================================
# Bandit policy replay (full-information epsilon-greedy, integer-exact)
# ===========================================================================

_BANDIT_PRIOS = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)
_BANDIT_THRESH_CENTS = 20_000_000  # reward: any order that day > $200k

_BANDIT_RW_SQL = ", ".join(
    f"MAX(CASE WHEN o_orderpriority = '{p}' AND cents > "
    f"{_BANDIT_THRESH_CENTS} THEN 1 ELSE 0 END)::BIGINT AS r{i}"
    for i, p in enumerate(_BANDIT_PRIOS)
)


@register(
    "bandit_replay_egreedy",
    f"""
    WITH RECURSIVE wide AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d, {_BANDIT_RW_SQL}
      FROM (SELECT o_orderdate, o_orderpriority,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS cents
            FROM orders)
      GROUP BY 1),
    days AS (
      SELECT d, [r0, r1, r2, r3, r4] AS rw,
             ROW_NUMBER() OVER (ORDER BY d) AS i,
             CASE WHEN CAST('0x' || substr(md5('bd|' || CAST(d AS VARCHAR)),
                            1, 15) AS BIGINT) % 10 = 0
                  THEN 1 + CAST('0x' || substr(md5('ba|'
                           || CAST(d AS VARCHAR)), 1, 15) AS BIGINT) % 5
                  ELSE 0 END AS explore_arm
      FROM wide),
    rec AS (
      SELECT CAST(0 AS BIGINT) AS i,
             CAST([0, 0, 0, 0, 0] AS BIGINT[]) AS s,
             CAST([0, 0, 0, 0, 0] AS BIGINT[]) AS ch,
             CAST(0 AS BIGINT) AS pol
      UNION ALL
      SELECT d.i,
             list_transform(list_zip(r.s, d.rw), p -> p[1] + p[2]),
             list_transform(range(1, 6), j -> r.ch[j] + CASE WHEN j =
               (CASE WHEN d.explore_arm > 0 THEN d.explore_arm
                     ELSE list_position(r.s, list_max(r.s)) END)
               THEN 1 ELSE 0 END),
             r.pol + d.rw[CASE WHEN d.explore_arm > 0 THEN d.explore_arm
                          ELSE list_position(r.s, list_max(r.s)) END]
      FROM rec r JOIN days d ON d.i = r.i + 1),
    fin AS (SELECT * FROM rec WHERE i = (SELECT MAX(i) FROM days)),
    arms AS (
      SELECT unnest(range(1, 6)) AS arm_idx)
    SELECT CAST(a.arm_idx - 1 AS BIGINT) AS arm,
           f.s[a.arm_idx] AS total_reward,
           f.ch[a.arm_idx] AS times_chosen,
           f.pol AS policy_total,
           CAST(list_max(f.s) AS BIGINT) AS best_fixed_total,
           CAST(list_max(f.s) - f.pol AS BIGINT) AS regret
    FROM arms a, fin f
    """,
    doc="Bandit policy replay over the daily order log: arms are the 5 "
    "order priorities, the day-d reward of an arm is 1 iff that "
    "priority saw an order above $200k that day, and a "
    "full-information epsilon-greedy policy (explore on the "
    "deterministic md5 day-coin ~10%, else follow-the-leader with "
    "first-index tie-break via array_position(s, max(s))) is replayed "
    "day by day as ONE integer-exact fold over the sorted bounded day "
    "domain — the offline policy-evaluation primitive for data-"
    "collection schedulers. Regret = best fixed arm minus policy "
    "total, certified exactly (no libm anywhere: full information "
    "means argmax on integer totals, never mean ratios). Scale shape: "
    "the fact table pays one partial-agg shuffle to the (day x 5) "
    "reward matrix; the sequential fold runs on the bounded day "
    "domain in a single task (the Holt-forecast pattern). (No "
    "counterpart in reference main.go.)",
)
def bandit_replay_egreedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01")
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    base = orders.select(
        F.datediff(F.to_date("o_orderdate"), epoch).cast("long").alias("d"),
        F.col("o_orderpriority").alias("prio"),
        cents.alias("cents"),
    )
    aggs = [
        F.max(
            F.when(
                (F.col("prio") == p) & (F.col("cents") > _BANDIT_THRESH_CENTS),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias(f"r{i}")
        for i, p in enumerate(_BANDIT_PRIOS)
    ]
    wide = base.groupBy("d").agg(*aggs)
    explore = F.when(
        md5_h15(F.concat(F.lit("bd|"), F.col("d").cast("string"))) % 10 == 0,
        1 + md5_h15(F.concat(F.lit("ba|"), F.col("d").cast("string"))) % 5,
    ).otherwise(F.lit(0))
    days = wide.select(
        "d",
        F.array(*[F.col(f"r{i}") for i in range(5)]).alias("rw"),
        explore.cast("long").alias("explore_arm"),
    )
    arr = days.agg(
        F.array_sort(
            F.collect_list(F.struct("d", "rw", "explore_arm"))
        ).alias("seq")
    )
    fold = F.expr(
        """
        aggregate(
          seq,
          struct(
            CAST(array(0,0,0,0,0) AS array<bigint>) AS s,
            CAST(array(0,0,0,0,0) AS array<bigint>) AS ch,
            CAST(0 AS BIGINT) AS pol
          ),
          (acc, x) -> struct(
            zip_with(acc.s, x.rw, (a, b) -> a + b) AS s,
            transform(acc.ch, (v, j) -> v + CASE WHEN j + 1 =
              (CASE WHEN x.explore_arm > 0 THEN x.explore_arm
                    ELSE array_position(acc.s, array_max(acc.s)) END)
              THEN 1 ELSE 0 END) AS ch,
            acc.pol + element_at(x.rw,
              CAST((CASE WHEN x.explore_arm > 0 THEN x.explore_arm
                    ELSE array_position(acc.s, array_max(acc.s)) END)
                   AS INT)) AS pol
          ),
          acc -> acc
        )
        """
    )
    # empty input => no days => no rows (the oracle's fin is empty too);
    # without this gate the fold's initial state would fabricate 5 rows
    fin = arr.select(fold.alias("f"), F.size("seq").alias("n_days")).filter(
        F.col("n_days") > 0
    )
    return fin.select(
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("arm_idx"), "f"
    ).select(
        (F.col("arm_idx") - 1).cast("long").alias("arm"),
        F.expr("element_at(f.s, CAST(arm_idx AS INT))").alias(
            "total_reward"
        ),
        F.expr("element_at(f.ch, CAST(arm_idx AS INT))").alias(
            "times_chosen"
        ),
        F.col("f.pol").alias("policy_total"),
        F.expr("array_max(f.s)").cast("long").alias("best_fixed_total"),
        (F.expr("array_max(f.s)") - F.col("f.pol"))
        .cast("long")
        .alias("regret"),
    )


# ===========================================================================
# Mann-Whitney U (exact, tie-corrected ranks, integer arithmetic)
# ===========================================================================


@register(
    "mann_whitney_u_returns",
    """
    WITH vals AS (
      SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS c,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp
      FROM lineitem),
    byval AS (
      SELECT c,
             CAST(SUM(grp) AS BIGINT) AS n1v,
             CAST(COUNT(*) AS BIGINT) AS ntot
      FROM vals GROUP BY c),
    ranked AS (
      SELECT *,
             COALESCE(SUM(ntot) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM byval),
    sums AS (
      SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(ntot - n1v) AS BIGINT) AS n2,
             -- doubled mid-rank sum of group 1: each tied value block
             -- contributes n1v * (2*below + ntot + 1)
             CAST(SUM(n1v * (2 * below + ntot + 1)) AS BIGINT) AS r1_x2,
             CAST(SUM(ntot * (ntot * ntot - 1)) AS BIGINT) AS tie_term
      FROM ranked)
    SELECT n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS BIGINT) AS u2_x2,
           tie_term
    FROM sums
    """,
    doc="Mann-Whitney U test statistic (exact, tie-corrected): do "
    "returned line items ('R') price differently from the rest? "
    "Doubled mid-ranks keep tied-rank arithmetic in exact int64 — a "
    "tie block of size t starting above `below` items contributes "
    "t_g * (2*below + t + 1) to each group's doubled rank sum — so "
    "U1*2 = R1*2 - n1(n1+1) and the identity U1+U2 = n1*n2 holds "
    "exactly (pinned in tests). tie_term = sum(t^3 - t) is the "
    "variance tie correction, emitted for downstream normal "
    "approximation. Completes the repo's nonparametric family (KS, "
    "runs, Spearman, ANOVA, chi-square). Scale shape: one partial-agg "
    "shuffle to the VALUE domain (distinct cents), one prefix-sum "
    "window over that domain ordered by value — the histogram-family "
    "swap (bucketed cents) is the documented path when the distinct "
    "domain itself is too large to window. (No counterpart in "
    "reference main.go.)",
)
def mann_whitney_u_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    li = load(spark, sf_dir, "lineitem")
    vals = li.select(
        (dec(F.col("l_extendedprice"), 12, 2) * 100).cast("long").alias("c"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("grp"),
    )
    byval = vals.groupBy("c").agg(
        F.sum("grp").cast("long").alias("n1v"),
        F.count("*").cast("long").alias("ntot"),
    )
    wb = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    ranked = byval.select(
        "*", F.coalesce(F.sum("ntot").over(wb), F.lit(0)).alias("below")
    )
    sums = ranked.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum(F.col("ntot") - F.col("n1v")).cast("long").alias("n2"),
        F.sum(
            F.col("n1v") * (2 * F.col("below") + F.col("ntot") + 1)
        )
        .cast("long")
        .alias("r1_x2"),
        F.sum(F.col("ntot") * (F.col("ntot") * F.col("ntot") - 1))
        .cast("long")
        .alias("tie_term"),
    )
    return sums.select(
        "n1",
        "n2",
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1))
        .cast("long")
        .alias("u1_x2"),
        (
            2 * F.col("n1") * F.col("n2")
            - (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1))
        )
        .cast("long")
        .alias("u2_x2"),
        "tie_term",
    )


# ===========================================================================
# Exact Shapley valuation of source buckets by vocabulary coverage
# ===========================================================================

# 4 players => subset weights s!(4-1-s)!/4! times 12 are integers:
# |S|=0 -> 3, |S|=1 -> 1, |S|=2 -> 1, |S|=3 -> 3.
_SHAP_W12 = {0: 3, 1: 1, 2: 1, 3: 3}


@register(
    "shapley_source_coverage",
    f"""
    WITH sh AS (
      SELECT CAST(substr(source, 4) AS BIGINT) % 4 AS bucket,
             unnest(list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> array_to_string(
                      list_slice(string_split(text, ' '), i, i + 2), ' ')
             ))) AS shingle
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    bitmap AS (
      SELECT shingle,
             CAST(MAX(CASE WHEN bucket = 0 THEN 1 ELSE 0 END)
                  + 2 * MAX(CASE WHEN bucket = 1 THEN 1 ELSE 0 END)
                  + 4 * MAX(CASE WHEN bucket = 2 THEN 1 ELSE 0 END)
                  + 8 * MAX(CASE WHEN bucket = 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS mask
      FROM sh GROUP BY shingle),
    mc AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bitmap GROUP BY mask),
    subsets AS (SELECT unnest(range(0, 16)) AS s),
    v AS (
      SELECT s.s,
             CAST(COALESCE(SUM(CASE WHEN (m.mask & s.s) <> 0
                                    THEN m.cnt ELSE 0 END), 0) AS BIGINT)
               AS cov
      FROM subsets s, mc m
      GROUP BY s.s),
    players AS (SELECT unnest(range(0, 4)) AS p),
    contrib AS (
      SELECT p.p,
             CASE bit_count(CAST(v0.s AS BIGINT) & 15)
               WHEN 0 THEN 3 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 3 END
               * (v1.cov - v0.cov) AS c
      FROM players p
      JOIN v v0 ON (v0.s & (1 << p.p)) = 0
      JOIN v v1 ON v1.s = (v0.s | (1 << p.p)))
    SELECT CAST(p AS BIGINT) AS bucket,
           CAST(SUM(c) AS BIGINT) AS shapley_x12,
           CAST((SELECT cov FROM v WHERE s = 15) AS BIGINT) AS v_full
    FROM contrib GROUP BY p
    """,
    doc="Exact Shapley valuation of 4 source buckets by 3-token-shingle "
    "vocabulary coverage: the cooperative-game data-valuation "
    "primitive ('what does each data source contribute, averaged over "
    "all join orders'), computed EXACTLY — the coverage of all 2^4 "
    "subsets comes from ONE aggregation over the shingle relation "
    "(each shingle carries a 4-bit presence bitmap; v(S) = count of "
    "shingles whose mask intersects S), and Shapley values are "
    "integer combinations (weights x12 are 3,1,1,3) of those 16 "
    "numbers. Efficiency axiom sum(shapley) = 12*(v(full)-v(empty)) "
    "is pinned in tests. Scale shape: corpus-side work is one shuffle "
    "on the shingle key to a 4-bit bitmap + a 16-row mask histogram; "
    "the subset/player algebra runs on bounded 16- and 4-row "
    "relations. The exponential subset enumeration never touches the "
    "data — it touches the mask histogram. (No counterpart in "
    "reference main.go.)",
)
def shapley_source_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import exploded_shingles

    # spread=True: interleaved A/B r12, 0.83 (1.3 -> 1.1s) at sf0.1.
    docs = load(spark, sf_dir, "documents", spread=True)
    sh = exploded_shingles(
        docs.select(
            (F.substring(F.col("source"), 4, 10).cast("long") % 4).alias(
                "doc_id"  # reuse the id slot for the bucket
            ),
            "text",
        )
    ).withColumnRenamed("doc_id", "bucket")
    bitmap = sh.groupBy("shingle").agg(
        (
            F.max(F.when(F.col("bucket") == 0, 1).otherwise(0))
            + 2 * F.max(F.when(F.col("bucket") == 1, 1).otherwise(0))
            + 4 * F.max(F.when(F.col("bucket") == 2, 1).otherwise(0))
            + 8 * F.max(F.when(F.col("bucket") == 3, 1).otherwise(0))
        )
        .cast("long")
        .alias("mask")
    )
    mc = bitmap.groupBy("mask").agg(F.count("*").cast("long").alias("cnt"))
    # v(S) for all 16 subsets from the bounded 16-row mask histogram
    v = (
        mc.select(
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("s"),
            "mask",
            "cnt",
        )
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("mask").bitwiseAND(F.col("s")) != 0,
                        F.col("cnt"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("cov")
        )
    )
    # (p, s0) pairs as a narrow generator (each player's 8 subsets
    # without its bit), then two broadcast EQUI-joins against the
    # bounded 16-row v relation — no nested-loop join anywhere.
    pairs = (
        spark.range(4)
        .select(F.col("id").cast("int").alias("p"))
        .select(
            "p",
            F.explode(
                F.expr(
                    "filter(sequence(0, 15), s -> (s & shiftleft(1, p)) = 0)"
                )
            ).alias("s0"),
        )
        .select("p", "s0", F.expr("s0 | shiftleft(1, p)").alias("s1"))
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("cov").alias("cov0"))
    v1 = v.select(F.col("s").alias("s1"), F.col("cov").alias("cov1"))
    w12 = (
        F.when(F.bit_count(F.col("s0").bitwiseAND(F.lit(15))) == 0, 3)
        .when(F.bit_count(F.col("s0").bitwiseAND(F.lit(15))) == 1, 1)
        .when(F.bit_count(F.col("s0").bitwiseAND(F.lit(15))) == 2, 1)
        .otherwise(3)
    )
    contrib = (
        pairs.join(F.broadcast(v0), "s0")
        .join(F.broadcast(v1), "s1")
        .select("p", (w12 * (F.col("cov1") - F.col("cov0"))).alias("c"))
    )
    v_full = v.filter(F.col("s") == 15).select(
        F.col("cov").alias("v_full"), F.lit(1).alias("j")
    )
    return (
        contrib.groupBy("p")
        .agg(F.sum("c").cast("long").alias("shapley_x12"))
        .select(
            F.col("p").cast("long").alias("bucket"),
            "shapley_x12",
            F.lit(1).alias("j"),
        )
        .join(F.broadcast(v_full), "j")
        .select("bucket", "shapley_x12", "v_full")
    )


# ===========================================================================
# Binary-quantized Hamming search with exact rerank
# ===========================================================================

_BQ_K = 5  # Hamming candidates per query, all exactly reranked

# sign-bit packing: dims 1-32 -> w1, 33-64 -> w2 (two 32-bit halves keep
# every packed word positive in int64 — no sign-bit traps in either
# engine). A component counts as 1 iff strictly positive.
_BQ_PACK_SQL = """
  bits AS (
    SELECT vec_id,
           CAST(list_sum(list_transform(range(1, 33),
             i -> CASE WHEN embedding[i] > 0
                       THEN CAST(1 AS BIGINT) << (i - 1)
                       ELSE 0 END)) AS BIGINT) AS w1,
           CAST(list_sum(list_transform(range(33, 65),
             i -> CASE WHEN embedding[i] > 0
                       THEN CAST(1 AS BIGINT) << (i - 33)
                       ELSE 0 END)) AS BIGINT) AS w2
    FROM embeddings),
  q AS (
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5)
                       AS BIGINT)) AS qe
    FROM embeddings)
"""


@register(
    "bq_hamming_rerank",
    f"""
    WITH {_BQ_PACK_SQL},
    ham AS (
      SELECT qb.vec_id AS qid, cb.vec_id AS cid,
             CAST(bit_count(xor(qb.w1, cb.w1))
                  + bit_count(xor(qb.w2, cb.w2)) AS BIGINT) AS hamming
      FROM bits qb JOIN bits cb ON qb.vec_id < 4 AND cb.vec_id >= 8),
    topk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY hamming, cid) AS hrank
        FROM ham) WHERE hrank <= {_BQ_K}),
    rer AS (
      SELECT t.qid, t.cid, t.hamming,
             CAST(list_sum(list_transform(list_zip(qq.qe, qc.qe),
                  p -> p[1] * p[2])) AS BIGINT) AS dot
      FROM topk t
      JOIN q qq ON qq.vec_id = t.qid
      JOIN q qc ON qc.vec_id = t.cid)
    SELECT qid, cid AS vec_id, hamming, dot,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY dot DESC, cid) AS BIGINT) AS rank
    FROM rer
    """,
    doc="Binary-quantized vector search with exact rerank (the "
    "modern vector-DB two-stage: 64x compression, then precision "
    "restored on a bounded candidate set): every embedding packs to "
    "two positive 32-bit sign words; Hamming distance = popcount of "
    "the XORed words ranks candidates per query (ties to the smaller "
    "id); the top-5 per query are reranked by the exact int64 "
    "quantized dot product. Scale shape: packing is a narrow map (8 "
    "bytes per vector - the scan that replaces reading 256 bytes of "
    "floats); the query panel is a bounded broadcast; rerank touches "
    "only k*|queries| vectors. The candidate scan is linear here "
    "(certifying the BQ algebra); the production path composes with "
    "the IVF/LSH bucketing already in the tree to prune it. (No "
    "counterpart in reference main.go.)",
)
def bq_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exploded_components,
        quantize,
    )

    emb = load(spark, sf_dir, "embeddings")
    pack = F.expr(
        """
        struct(
          aggregate(sequence(1, 32), CAST(0 AS BIGINT),
            (acc, i) -> acc + IF(element_at(embedding, i) > 0,
                                 shiftleft(CAST(1 AS BIGINT), i - 1), 0))
            AS w1,
          aggregate(sequence(33, 64), CAST(0 AS BIGINT),
            (acc, i) -> acc + IF(element_at(embedding, i) > 0,
                                 shiftleft(CAST(1 AS BIGINT), i - 33), 0))
            AS w2
        )
        """
    )
    bits = emb.select("vec_id", pack.alias("b")).select(
        "vec_id", "b.w1", "b.w2"
    )
    qb = bits.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
        F.lit(1).alias("j"),
    )
    cb = bits.filter(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("cid"), "w1", "w2", F.lit(1).alias("j")
    )
    ham = cb.join(F.broadcast(qb), "j").select(
        "qid",
        "cid",
        (
            F.bit_count(F.expr("qw1 ^ w1")) + F.bit_count(F.expr("qw2 ^ w2"))
        )
        .cast("long")
        .alias("hamming"),
    )
    wh = Window.partitionBy("qid").orderBy("hamming", "cid")
    topk = (
        ham.withColumn("hrank", F.row_number().over(wh))
        .filter(F.col("hrank") <= _BQ_K)
        .select("qid", "cid", "hamming")
    )
    comp = exploded_components(emb, "vec_id").select(
        "vec_id", "dim", quantize(F.col("x")).alias("qx")
    )
    qcomp = comp.withColumnRenamed("vec_id", "qid").withColumnRenamed(
        "qx", "qq"
    )
    ccomp = comp.withColumnRenamed("vec_id", "cid").withColumnRenamed(
        "qx", "qc"
    )
    rer = (
        topk.join(ccomp, "cid")
        .join(F.broadcast(qcomp), ["qid", "dim"])
        .groupBy("qid", "cid", "hamming")
        .agg(F.sum(F.col("qq") * F.col("qc")).cast("long").alias("dot"))
    )
    wr = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "cid")
    return rer.select(
        "qid",
        F.col("cid").alias("vec_id"),
        "hamming",
        "dot",
        F.row_number().over(wr).cast("long").alias("rank"),
    )


# ===========================================================================
# Overdispersion (variance-to-mean) audit of daily event counts
# ===========================================================================


@register(
    "event_overdispersion_audit",
    """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    grp AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss
      FROM daily GROUP BY event_type)
    SELECT event_type, n, s,
           -- dispersion index D = sample_var/mean as exact micros:
           -- D*1e6 = (n*ss - s*s) * 1e6 // ((n-1) * s)
           CAST((n * ss - s * s) * 1000000 // ((n - 1) * s) AS BIGINT)
             AS dispersion_micro,
           (n * ss - s * s) > (n - 1) * s AS overdispersed
    FROM grp
    """,
    doc="Overdispersion audit of daily event counts: the index of "
    "dispersion D = variance/mean is 1 for a Poisson process; D > 1 "
    "(burstiness) means Poisson-based capacity/error models "
    "underestimate tails. Computed per event type as ONE exact "
    "integer rational — the comparison itself is the cross-"
    "multiplication n*ss - s*s vs (n-1)*s, no division — with the "
    "micro-quantized ratio alongside. The count-model sanity gate "
    "for rate forecasting. Scale shape: one partial-agg shuffle to "
    "the bounded (type x day) domain, then a 5-row aggregate. At "
    "extreme scale s*s widens to DECIMAL(38,0) (documented swap). "
    "(No counterpart in reference main.go.)",
)
def event_overdispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), epoch).cast("long").alias("d"),
    ).agg(F.count("*").cast("long").alias("x"))
    grp = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    num = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    den = (F.col("n") - 1) * F.col("s")
    return grp.select(
        "event_type",
        "n",
        "s",
        F.expr(
            "(n * ss - s * s) * 1000000 div ((n - 1) * s)"
        )
        .cast("long")
        .alias("dispersion_micro"),
        (num > den).alias("overdispersed"),
    )


# ===========================================================================
# Bigram collocation strength (per-bigram 2x2 chi-square)
# ===========================================================================

_COLL_TOPK = 25


@register(
    "bigram_collocation_chi2",
    f"""
    WITH bg AS (
      SELECT string_split(d.text, ' ')[t.i] AS w1,
             string_split(d.text, ' ')[t.i + 1] AS w2
      FROM documents d,
           unnest(range(1, len(string_split(d.text, ' ')))) AS t(i)),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS f12
            FROM bg GROUP BY w1, w2),
    -- the marginals and the corpus total are re-aggregations of the
    -- BOUNDED pair relation (vocab^2), never second corpus passes
    c1 AS (SELECT w1, CAST(SUM(f12) AS BIGINT) AS f1 FROM c12 GROUP BY w1),
    c2 AS (SELECT w2, CAST(SUM(f12) AS BIGINT) AS f2 FROM c12 GROUP BY w2),
    joined AS (
      SELECT c.w1, c.w2, c.f12, a.f1, b.f2,
             CAST(SUM(c.f12) OVER () AS BIGINT) AS n
      FROM c12 c JOIN c1 a USING (w1) JOIN c2 b USING (w2)),
    scored AS (
      SELECT w1, w2, f12, f1, f2,
             CAST(floor(
               n * power(CAST(f12 AS DOUBLE) * n
                         - CAST(f1 AS DOUBLE) * f2, 2)
               / (CAST(f1 AS DOUBLE) * f2 * (n - f1) * (n - f2))
               * 1000 + 0.5) AS BIGINT) AS chi2_milli
      FROM joined),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_milli DESC, w1, w2)
               AS rank
      FROM scored)
    SELECT CAST(rank AS BIGINT) AS rank, w1, w2, f12, f1, f2, chi2_milli
    FROM ranked WHERE rank <= {_COLL_TOPK}
    """,
    doc="Bigram collocation strength via the per-bigram 2x2 chi-square "
    "statistic chi2 = N(f12*N - f1*f2)^2 / (f1*f2*(N-f1)*(N-f2)) — "
    "the classic collocation extraction score (Manning & Schutze "
    "ch.5), ranking word pairs that co-occur far above independence. "
    "Cross products run in IEEE doubles from exact int64 counts "
    "(bit-identical across engines; exact counts ride along as "
    "columns), quantized by the same floor(+0.5) to millis; top-25 "
    "with full lexicographic tie-breaks. Scale shape: ONE corpus pass "
    "(narrow bigram generator + pair-count partial agg); marginals "
    "and the corpus total are re-aggregations and a window over the "
    "BOUNDED vocab^2 pair relation; the global top-k is two-phase "
    "(WindowGroupLimit). (No counterpart in reference main.go.)",
)
def bigram_collocation_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: interleaved A/B r12, 0.87 (1.4 -> 1.2s) at sf0.1.
    docs = load(spark, sf_dir, "documents", spread=True)
    # size >= 2 guard: Spark sequence(1, 0) descends to [1, 0] while the
    # oracle's range(1, 1) is empty — short docs contribute no bigrams
    bg = (
        docs.filter(F.size(F.split(F.col("text"), " ")) >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1), "
                    "i -> struct(element_at(split(text, ' '), i) AS w1, "
                    "element_at(split(text, ' '), i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    from pyspark.storagelevel import StorageLevel

    # Four consumers (both marginals, the join spine, the corpus-total
    # window) fan out of the bigram-count relation with different
    # shapes; persist runs the explode+count once (measured ~3.1s ->
    # ~3.0s at sf0.1 — small but consistent over 5 interleaved reps).
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("f12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # marginals + corpus total from the BOUNDED pair relation — the
    # corpus is scanned exactly once (the first cut recomputed the
    # bigram explode four times: 19.6s -> ~3s at sf0.1)
    c1 = c12.groupBy("w1").agg(F.sum("f12").cast("long").alias("f1"))
    c2 = c12.groupBy("w2").agg(F.sum("f12").cast("long").alias("f2"))
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    joined = (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .select(
            "w1",
            "w2",
            "f12",
            "f1",
            "f2",
            F.sum("f12").over(wall).cast("long").alias("n"),
        )
    )
    scored = joined.select(
        "w1",
        "w2",
        "f12",
        "f1",
        "f2",
        F.floor(
            F.col("n").cast("double")
            * F.pow(
                F.col("f12").cast("double") * F.col("n")
                - F.col("f1").cast("double") * F.col("f2"),
                F.lit(2.0),
            )
            / (
                F.col("f1").cast("double")
                * F.col("f2")
                * (F.col("n") - F.col("f1"))
                * (F.col("n") - F.col("f2"))
            )
            * 1000
            + 0.5
        )
        .cast("long")
        .alias("chi2_milli"),
    )
    wr = Window.orderBy(F.col("chi2_milli").desc(), "w1", "w2")
    out = (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _COLL_TOPK)
        .select("rank", "w1", "w2", "f12", "f1", "f2", "chi2_milli")
    )
    # top-k rows only: materialize and release the persisted bigram
    # relation deterministically (library-consumer memory discipline).
    from kinesis_log_watcher_spark.queries.base import finalize_unpersist

    return finalize_unpersist(out, c12)


# ===========================================================================
# Huber robust regression (one IRLS step from the OLS fit)
# ===========================================================================

_HUBER_C_CENTS = 2_000_000  # $20k residual clamp


@register(
    "huber_one_step_fit",
    f"""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS y
      FROM lineitem),
    ols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx
      FROM pts),
    beta0 AS (
      SELECT CAST(floor((n * sxy - CAST(sx AS DOUBLE) * sy)
                        / (n * sxx - CAST(sx AS DOUBLE) * sx)
                        * 1000000 + 0.5) AS BIGINT) AS b_micro,
             CAST(floor((CAST(sy AS DOUBLE)
                         - (n * sxy - CAST(sx AS DOUBLE) * sy)
                           / (n * sxx - CAST(sx AS DOUBLE) * sx) * sx)
                        / n * 1000000 + 0.5) AS BIGINT) AS a_micro
      FROM ols),
    wts AS (
      SELECT p.x, p.y,
             abs(p.y * 1000000 - (b.a_micro + b.b_micro * p.x)) AS r_abs,
             CASE WHEN abs(p.y * 1000000 - (b.a_micro + b.b_micro * p.x))
                       <= {_HUBER_C_CENTS} * CAST(1000000 AS BIGINT)
                  THEN CAST(1000000 AS BIGINT)
                  ELSE {_HUBER_C_CENTS} * CAST(1000000 AS BIGINT)
                       * 1000000
                       // abs(p.y * 1000000
                              - (b.a_micro + b.b_micro * p.x)) END AS w
      FROM pts p, beta0 b),
    wols AS (
      SELECT CAST(SUM(w) AS BIGINT) AS sw,
             CAST(SUM(CAST(w AS DECIMAL(38,0)) * x) AS DOUBLE) AS swx,
             CAST(SUM(CAST(w AS DECIMAL(38,0)) * y) AS DOUBLE) AS swy,
             CAST(SUM(CAST(w AS DECIMAL(38,0)) * x * y) AS DOUBLE) AS swxy,
             CAST(SUM(CAST(w AS DECIMAL(38,0)) * x * x) AS DOUBLE) AS swxx,
             CAST(SUM(CASE WHEN w < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down
      FROM wts),
    fit AS (
      SELECT w.*, b.a_micro AS ols_a_micro, b.b_micro AS ols_b_micro
      FROM wols w, beta0 b)
    SELECT CAST(sw AS BIGINT) AS sw, n_down, ols_a_micro, ols_b_micro,
           CAST(floor((CAST(sw AS DOUBLE) * swxy - swx * swy)
                      / (CAST(sw AS DOUBLE) * swxx - swx * swx)
                      * 1000000 + 0.5) AS BIGINT) AS huber_b_micro,
           CAST(floor((swy - (CAST(sw AS DOUBLE) * swxy - swx * swy)
                             / (CAST(sw AS DOUBLE) * swxx - swx * swx)
                             * swx) / sw * 1000000 + 0.5) AS BIGINT)
             AS huber_a_micro
    FROM fit
    """,
    doc="Huber robust regression, one IRLS step from the OLS start: "
    "fit extendedprice-on-quantity by OLS, clamp each point's "
    "influence with the Huber weight w = min(1, c/|residual|) "
    "(c = $20k, weights as exact integer micros — the residual is an "
    "exact int64 micro-cents value because the OLS coefficients are "
    "quantized before the residual pass), then refit weighted OLS. "
    "The outlier-resistant alternative the robust-stats family "
    "(median/MAD/winsorize) lacked on the REGRESSION side. Moment "
    "sums are exact DECIMAL(38,0), collapsed to IEEE doubles only in "
    "the 1-row fit relations; both dialects quantize with the same "
    "floor(+0.5). Scale shape: two scans (OLS pass, weighted pass), "
    "each one map-side-combinable aggregation; the coefficient "
    "handoff is a 1-row broadcast. (No counterpart in reference "
    "main.go.)",
)
def huber_one_step_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    li = load(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        (dec(F.col("l_extendedprice"), 12, 2) * 100).cast("long").alias("y"),
    )
    d38 = "decimal(38,0)"
    ols = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast("double").alias("sxx"),
    ).collect()[0]
    n, sx, sy, sxy, sxx = ols["n"], ols["sx"], ols["sy"], ols["sxy"], ols["sxx"]
    if not n:
        # empty input: no fit exists (the oracle's 1-row relation still
        # appears, but every moment is NULL there too — emit no rows)
        return (
            pts.agg(F.count("*").alias("_n"))
            .filter(F.col("_n") < 0)
            .select(
                F.lit(0).cast("long").alias("sw"),
                F.lit(0).cast("long").alias("n_down"),
                F.lit(0).cast("long").alias("ols_a_micro"),
                F.lit(0).cast("long").alias("ols_b_micro"),
                F.lit(0).cast("long").alias("huber_b_micro"),
                F.lit(0).cast("long").alias("huber_a_micro"),
            )
        )
    import math

    b = (n * sxy - float(sx) * sy) / (n * sxx - float(sx) * sx)
    b_micro = math.floor(b * 1000000 + 0.5)
    a_micro = math.floor((float(sy) - b * sx) / n * 1000000 + 0.5)
    cth = _HUBER_C_CENTS * 1000000
    cmul = cth * 1000000  # 2e18, int64-safe
    r_abs = F.abs(
        F.col("y") * 1000000 - (F.lit(a_micro) + F.lit(b_micro) * F.col("x"))
    )
    # TRUE integer division (matches the oracle's `//`) — a float-floor
    # here could flip the last micro at quotient boundaries
    wts = pts.select("x", "y", r_abs.alias("r_abs")).select(
        "x",
        "y",
        F.expr(
            f"IF(r_abs <= {cth}L, 1000000L, {cmul}L div r_abs)"
        ).alias("w"),
    )
    wols = wts.agg(
        F.sum("w").cast("long").alias("sw"),
        F.sum(F.col("w").cast(d38) * F.col("x")).cast("double").alias("swx"),
        F.sum(F.col("w").cast(d38) * F.col("y")).cast("double").alias("swy"),
        F.sum(F.col("w").cast(d38) * F.col("x") * F.col("y"))
        .cast("double")
        .alias("swxy"),
        F.sum(F.col("w").cast(d38) * F.col("x") * F.col("x"))
        .cast("double")
        .alias("swxx"),
        F.sum(F.when(F.col("w") < 1000000, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
    )
    hb = (
        F.col("sw").cast("double") * F.col("swxy")
        - F.col("swx") * F.col("swy")
    ) / (
        F.col("sw").cast("double") * F.col("swxx")
        - F.col("swx") * F.col("swx")
    )
    return wols.select(
        "sw",
        "n_down",
        F.lit(a_micro).cast("long").alias("ols_a_micro"),
        F.lit(b_micro).cast("long").alias("ols_b_micro"),
        F.floor(hb * 1000000 + 0.5).cast("long").alias("huber_b_micro"),
        F.floor(
            (F.col("swy") - hb * F.col("swx")) / F.col("sw") * 1000000 + 0.5
        )
        .cast("long")
        .alias("huber_a_micro"),
    )


# ===========================================================================
# Per-language AUC fairness audit of the quality scorer
# ===========================================================================


def _auc_fairness_oracle() -> str:
    from kinesis_log_watcher_spark.queries.quality import (
        _SCORE_LABEL_CTE,
        _STOPS_SQL,
    )

    return f"""
    WITH {_SCORE_LABEL_CTE.format(stops=_STOPS_SQL)},
    sl2 AS (
      SELECT s.score, s.y, d.lang
      FROM sl s JOIN documents d USING (doc_id)),
    vals AS (
      SELECT lang, score,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM sl2 GROUP BY lang, score),
    cum AS (
      SELECT lang, score, cnt, pos,
             CAST(COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_prev
      FROM vals),
    tot AS (
      SELECT lang,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * cum_prev + cnt + 1)) AS BIGINT) AS r2
      FROM cum GROUP BY lang),
    auc AS (
      SELECT lang, n_pos, n_neg,
             CASE WHEN n_pos > 0 AND n_neg > 0
                  THEN CAST((r2 - n_pos * (n_pos + 1)) * 500000
                            // (n_pos * n_neg) AS BIGINT)
                  ELSE 500000 END AS auc_micro
      FROM tot)
    SELECT lang, n_pos, n_neg, auc_micro,
           CAST(MAX(auc_micro) OVER () - MIN(auc_micro) OVER () AS BIGINT)
             AS gap_micro
    FROM auc
    """


@register(
    "auc_fairness_by_lang",
    _auc_fairness_oracle(),
    doc="Per-language AUC fairness audit of the linear quality scorer "
    "against the Gopher gate verdict: the exact tie-corrected "
    "Mann-Whitney AUC (doubled midranks, integer micros via *500000 "
    "// n_pos*n_neg) computed WITHIN each language, plus the max-min "
    "gap — the disaggregated-evaluation primitive that catches a "
    "scorer working for en and failing for zh before the filter "
    "ships. Scale shape: the per-language U statistics aggregate the "
    "(lang x distinct score) relation with lang-partitioned prefix "
    "windows (never a global sort); the gap rides a window over the "
    "bounded language relation. (No counterpart in reference "
    "main.go.)",
)
def auc_fairness_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.queries.quality import _score_label

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    sl2 = _score_label(spark, sf_dir).join(docs, "doc_id")
    vals = sl2.groupBy("lang", "score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    wprev = Window.partitionBy("lang").orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = vals.withColumn(
        "cum_prev", F.coalesce(F.sum("cnt").over(wprev), F.lit(0)).cast("long")
    )
    tot = cum.groupBy("lang").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos")).cast("long").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("cum_prev") + F.col("cnt") + 1))
        .cast("long")
        .alias("r2"),
    )
    auc = tot.select(
        "lang",
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                "(r2 - n_pos * (n_pos + 1)) * 500000 div (n_pos * n_neg)"
            ),
        )
        .otherwise(500000)
        .cast("long")
        .alias("auc_micro"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return auc.select(
        "*",
        (F.max("auc_micro").over(wall) - F.min("auc_micro").over(wall))
        .cast("long")
        .alias("gap_micro"),
    )


# ===========================================================================
# Budgeted (cost-aware) greedy coverage: gain-per-token selection
# ===========================================================================


def _budget_pick_sql(cov: str, exclude: str) -> str:
    """One cost-aware greedy round: argmax gain/cost via exact
    cross-multiplied ratio ordering (gain*1e6 // cost as the sort key,
    ties to gain then doc_id)."""
    excl = (
        f"AND d.doc_id NOT IN (SELECT doc_id FROM {exclude})"
        if exclude
        else ""
    )
    notin = f"AND d.word NOT IN (SELECT word FROM {cov})" if cov else ""
    return f"""(
      SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS gain,
             ANY_VALUE(d.cost) AS cost,
             CAST(COUNT(*) * 1000000 // ANY_VALUE(d.cost) AS BIGINT)
               AS ratio_micro
      FROM dwc d WHERE 1=1 {notin} {excl}
      GROUP BY d.doc_id
      ORDER BY ratio_micro DESC, gain DESC, d.doc_id LIMIT 1)"""


@register(
    "budgeted_coverage_greedy",
    f"""
    WITH dwc AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS cost,
             unnest(list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> array_to_string(
                      list_slice(string_split(text, ' '), i, i + 2), ' ')
             ))) AS word
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    p1 AS {_budget_pick_sql('', '')},
    c1 AS (SELECT DISTINCT word FROM dwc JOIN p1 USING (doc_id)),
    p2 AS {_budget_pick_sql('c1', 'p1')},
    c2 AS (SELECT word FROM c1 UNION
           SELECT word FROM dwc JOIN p2 USING (doc_id)),
    px AS (SELECT doc_id FROM p1 UNION SELECT doc_id FROM p2),
    p3 AS {_budget_pick_sql('c2', 'px')}
    SELECT 1 AS round, doc_id, gain, cost, ratio_micro FROM p1
    UNION ALL SELECT 2, doc_id, gain, cost, ratio_micro FROM p2
    UNION ALL SELECT 3, doc_id, gain, cost, ratio_micro FROM p3
    """,
    doc="Budgeted (cost-aware) greedy coverage: each round picks the "
    "document with the best NEW-shingles-per-token ratio (the "
    "cost-benefit greedy that approximates budgeted max-coverage; "
    "cost = token count), with the ratio as exact truncating micros "
    "and gain/doc_id tie-breaks. The variant of greedy_set_cover_docs "
    "a real token-budgeted curation run uses — coverage per training "
    "token, not coverage per document. Scale shape: identical to the "
    "uncosted greedy — per round one anti-join on the shingle key "
    "plus a two-phase top-1; the covered set stays broadcast-small "
    "by construction. (No counterpart in reference main.go.)",
)
def budgeted_coverage_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import exploded_shingles
    from kinesis_log_watcher_spark.queries.base import finalize_unpersist

    docs = load(spark, sf_dir, "documents")
    dwc = (
        exploded_shingles(docs)
        .withColumnRenamed("shingle", "word")
        .join(
            docs.select(
                "doc_id",
                F.size(F.split(F.col("text"), " ")).cast("long").alias(
                    "cost"
                ),
            ),
            "doc_id",
        )
        .persist()
    )
    picked: list[int] = []
    rows = []
    for rnd in range(1, 4):
        cand = dwc
        if picked:
            cand = cand.filter(~F.col("doc_id").isin(picked)).join(
                F.broadcast(
                    dwc.filter(F.col("doc_id").isin(picked)).select("word")
                ),
                "word",
                "left_anti",
            )
        gains = cand.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("gain"),
            F.first("cost").alias("cost"),
        ).select(
            "doc_id",
            "gain",
            "cost",
            F.expr("gain * 1000000 div cost").cast("long").alias(
                "ratio_micro"
            ),
        )
        w = Window.orderBy(
            F.col("ratio_micro").desc(), F.col("gain").desc(), "doc_id"
        )
        pick = (
            gains.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        )
        if not pick:
            break
        r = pick[0]
        picked.append(r["doc_id"])
        rows.append(
            (rnd, r["doc_id"], r["gain"], r["cost"], r["ratio_micro"])
        )
    out = spark.createDataFrame(
        rows,
        "round int, doc_id long, gain long, cost long, ratio_micro long",
    )
    return finalize_unpersist(out, dwc)


# ===========================================================================
# Markov absorption: probability of reaching 'purchase' within k steps
# ===========================================================================

_MK_ABS = "purchase"


@register(
    "markov_purchase_absorption",
    f"""
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    cnt AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt),
    m AS (
      -- row-stochastic micro matrix; '{_MK_ABS}' is absorbing
      SELECT cur, nxt,
             CASE WHEN cur = '{_MK_ABS}'
                  THEN CASE WHEN nxt = '{_MK_ABS}'
                            THEN CAST(1000000 AS BIGINT) ELSE 0 END
                  ELSE c * 1000000 // SUM(c) OVER (PARTITION BY cur) END
               AS p
      FROM cnt),
    v0 AS (
      SELECT DISTINCT cur AS state,
             CASE WHEN cur = '{_MK_ABS}' THEN CAST(1000000 AS BIGINT)
                  ELSE 0 END AS v
      FROM cnt),
    v1 AS (
      SELECT m.cur AS state,
             CAST(SUM(m.p * v.v) // 1000000 AS BIGINT) AS v
      FROM m JOIN v0 v ON m.nxt = v.state GROUP BY m.cur),
    v2 AS (
      SELECT m.cur AS state,
             CAST(SUM(m.p * v.v) // 1000000 AS BIGINT) AS v
      FROM m JOIN v1 v ON m.nxt = v.state GROUP BY m.cur),
    v3 AS (
      SELECT m.cur AS state,
             CAST(SUM(m.p * v.v) // 1000000 AS BIGINT) AS v
      FROM m JOIN v2 v ON m.nxt = v.state GROUP BY m.cur)
    SELECT v1.state, v1.v AS p1_micro, v2.v AS p2_micro, v3.v AS p3_micro
    FROM v1 JOIN v2 USING (state) JOIN v3 USING (state)
    """,
    doc="Markov absorption probabilities: from each event type, the "
    "probability of hitting '{_MK_ABS}' within 1/2/3 steps under the "
    "empirical per-user transition kernel, with 'purchase' made "
    "absorbing — the funnel primitive that answers 'how close is "
    "each state to conversion' from the same transition counts the "
    "event_transition_matrix query certifies. The kernel is the "
    "row-normalized micro matrix (truncating, identical in both "
    "dialects); each step is one join+agg of the BOUNDED 25-row "
    "matrix against the 5-row value vector, truncated once per step "
    "after the sum. Scale shape: the fact table pays one lead-window "
    "pass partitioned by user (high-cardinality keys) + one "
    "partial-agg shuffle to the bounded kernel; the matrix powers "
    "never touch the data again. (No counterpart in reference "
    "main.go.)",
)
def markov_purchase_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wseq).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cnt = seq.groupBy("cur", "nxt").agg(F.count("*").cast("long").alias("c"))
    m = cnt.select(
        "cur",
        "nxt",
        F.expr(
            f"CAST(CASE WHEN cur = '{_MK_ABS}' "
            f"THEN IF(nxt = '{_MK_ABS}', 1000000L, 0L) "
            "ELSE c * 1000000 div sum(c) over (partition by cur) END "
            "AS BIGINT)"
        ).alias("p"),
    )
    v = cnt.select("cur").distinct().select(
        F.col("cur").alias("state"),
        F.when(F.col("cur") == _MK_ABS, F.lit(1000000))
        .otherwise(0)
        .cast("long")
        .alias("v"),
    )
    outs = []
    for _ in range(3):
        v = (
            m.join(v, m["nxt"] == v["state"])
            .groupBy("cur")
            .agg(
                F.expr("sum(p * v) div 1000000")
                .cast("long")
                .alias("v")
            )
            .select(F.col("cur").alias("state"), "v")
        )
        outs.append(v)
    v1, v2, v3 = outs
    return (
        v1.withColumnRenamed("v", "p1_micro")
        .join(v2.withColumnRenamed("v", "p2_micro"), "state")
        .join(v3.withColumnRenamed("v", "p3_micro"), "state")
    )


# ===========================================================================
# Dawid-Skene one-step label aggregation over the 3 deterministic raters
# ===========================================================================

_DS_RATERS_SQL = """
      SELECT CASE WHEN len(string_split(text, ' ')) >= 48
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN 2 * len(list_distinct(string_split(lower(text), ' ')))
                      >= len(string_split(text, ' '))
                  THEN 1 ELSE 0 END AS b,
             CASE WHEN n_chars >= 280 THEN 1 ELSE 0 END AS c
      FROM documents
"""

# sequential micro-product: prior, then one factor per rater, truncating
# after every multiply — the SAME nesting in both dialects.
def _ds_w_sql(prior: str, fa: str, fb: str, fc: str) -> str:
    return (
        f"(((({prior}) * ({fa}) // 1000000) * ({fb}) // 1000000)"
        f" * ({fc}) // 1000000)"
    )


@register(
    "dawid_skene_one_step",
    f"""
    WITH r AS ({_DS_RATERS_SQL}),
    pat AS (
      SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CASE WHEN a + b + c >= 2 THEN 1 ELSE 0 END AS maj
      FROM r GROUP BY a, b, c),
    st AS (
      SELECT *,
             SUM(n_docs) OVER () AS nt,
             SUM(n_docs * maj) OVER () AS npos,
             SUM(n_docs * a * maj) OVER () AS tpa,
             SUM(n_docs * a * (1 - maj)) OVER () AS fpa,
             SUM(n_docs * (1 - a) * maj) OVER () AS fna,
             SUM(n_docs * (1 - a) * (1 - maj)) OVER () AS tna,
             SUM(n_docs * b * maj) OVER () AS tpb,
             SUM(n_docs * b * (1 - maj)) OVER () AS fpb,
             SUM(n_docs * (1 - b) * maj) OVER () AS fnb,
             SUM(n_docs * (1 - b) * (1 - maj)) OVER () AS tnb,
             SUM(n_docs * c * maj) OVER () AS tpc,
             SUM(n_docs * c * (1 - maj)) OVER () AS fpc,
             SUM(n_docs * (1 - c) * maj) OVER () AS fnc,
             SUM(n_docs * (1 - c) * (1 - maj)) OVER () AS tnc
      FROM pat),
    scored AS (
      SELECT a, b, c, n_docs, maj,
             {_ds_w_sql(
                 "npos * 1000000 // nt",
                 "CASE WHEN a = 1 THEN tpa * 1000000 // (tpa + fna) "
                 "ELSE 1000000 - tpa * 1000000 // (tpa + fna) END",
                 "CASE WHEN b = 1 THEN tpb * 1000000 // (tpb + fnb) "
                 "ELSE 1000000 - tpb * 1000000 // (tpb + fnb) END",
                 "CASE WHEN c = 1 THEN tpc * 1000000 // (tpc + fnc) "
                 "ELSE 1000000 - tpc * 1000000 // (tpc + fnc) END",
             )} AS w1_micro,
             {_ds_w_sql(
                 "(nt - npos) * 1000000 // nt",
                 "CASE WHEN a = 1 THEN 1000000 - tna * 1000000 "
                 "// (tna + fpa) ELSE tna * 1000000 // (tna + fpa) END",
                 "CASE WHEN b = 1 THEN 1000000 - tnb * 1000000 "
                 "// (tnb + fpb) ELSE tnb * 1000000 // (tnb + fpb) END",
                 "CASE WHEN c = 1 THEN 1000000 - tnc * 1000000 "
                 "// (tnc + fpc) ELSE tnc * 1000000 // (tnc + fpc) END",
             )} AS w0_micro
      FROM st)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, n_docs,
           CAST(maj AS BIGINT) AS maj_label,
           CAST(w1_micro AS BIGINT) AS w1_micro,
           CAST(w0_micro AS BIGINT) AS w0_micro,
           CAST(CASE WHEN w1_micro > w0_micro THEN 1 ELSE 0 END AS BIGINT)
             AS ds_label,
           (CASE WHEN w1_micro > w0_micro THEN 1 ELSE 0 END) <> maj
             AS flipped
    FROM scored
    """,
    doc="Dawid-Skene label aggregation, one EM step: initialize with "
    "majority vote over the three deterministic rater gates, estimate "
    "each rater's sensitivity/specificity from the confusion counts, "
    "then re-score every response PATTERN with the class-prior-times-"
    "per-rater-likelihood product (exact integer micros, truncating "
    "after each factor, the same nesting in both dialects) — the "
    "crowdsourced-label aggregation primitive that beats majority "
    "vote when raters differ in reliability; `flipped` marks patterns "
    "the likelihood model re-labels against the majority. Everything "
    "after the one corpus aggregation lives on the BOUNDED 8-row "
    "response-pattern relation (2^3 rater bitmaps), so the EM step "
    "costs nothing at any corpus size. Scale shape: one partial-agg "
    "shuffle to 8 rows; windows on that bounded relation. (No "
    "counterpart in reference main.go.)",
)
def dawid_skene_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ltoks = F.split(F.lower(F.col("text")), " ")
    r = docs.select(
        F.when(F.size(toks) >= 48, 1).otherwise(0).alias("a"),
        F.when(
            2 * F.size(F.array_distinct(ltoks)) >= F.size(toks), 1
        )
        .otherwise(0)
        .alias("b"),
        F.when(F.col("n_chars") >= 280, 1).otherwise(0).alias("c"),
    )
    pat = r.groupBy("a", "b", "c").agg(
        F.count("*").cast("long").alias("n_docs")
    ).withColumn(
        "maj", F.when(F.col("a") + F.col("b") + F.col("c") >= 2, 1).otherwise(0)
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sums = {
        "nt": F.col("n_docs"),
        "npos": F.col("n_docs") * F.col("maj"),
    }
    for rr in ("a", "b", "c"):
        sums[f"tp{rr}"] = F.col("n_docs") * F.col(rr) * F.col("maj")
        sums[f"fp{rr}"] = F.col("n_docs") * F.col(rr) * (1 - F.col("maj"))
        sums[f"fn{rr}"] = F.col("n_docs") * (1 - F.col(rr)) * F.col("maj")
        sums[f"tn{rr}"] = (
            F.col("n_docs") * (1 - F.col(rr)) * (1 - F.col("maj"))
        )
    st = pat.select(
        "*", *[F.sum(e).over(wall).alias(k) for k, e in sums.items()]
    )

    def sens_factor(rr: str) -> str:
        return (
            f"CASE WHEN {rr} = 1 THEN tp{rr} * 1000000 div (tp{rr} + fn{rr}) "
            f"ELSE 1000000 - tp{rr} * 1000000 div (tp{rr} + fn{rr}) END"
        )

    def spec_factor(rr: str) -> str:
        return (
            f"CASE WHEN {rr} = 1 THEN 1000000 - tn{rr} * 1000000 "
            f"div (tn{rr} + fp{rr}) "
            f"ELSE tn{rr} * 1000000 div (tn{rr} + fp{rr}) END"
        )

    def w_expr(prior: str, fa: str, fb: str, fc: str) -> str:
        return (
            f"(((({prior}) * ({fa}) div 1000000) * ({fb}) div 1000000)"
            f" * ({fc}) div 1000000)"
        )

    w1 = w_expr(
        "npos * 1000000 div nt",
        sens_factor("a"),
        sens_factor("b"),
        sens_factor("c"),
    )
    w0 = w_expr(
        "(nt - npos) * 1000000 div nt",
        spec_factor("a"),
        spec_factor("b"),
        spec_factor("c"),
    )
    scored = st.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        "n_docs",
        F.col("maj").cast("long").alias("maj_label"),
        F.expr(w1).cast("long").alias("w1_micro"),
        F.expr(w0).cast("long").alias("w0_micro"),
    )
    return scored.select(
        "*",
        F.when(F.col("w1_micro") > F.col("w0_micro"), 1)
        .otherwise(0)
        .cast("long")
        .alias("ds_label"),
    ).select(
        "a",
        "b",
        "c",
        "n_docs",
        "maj_label",
        "w1_micro",
        "w0_micro",
        "ds_label",
        (F.col("ds_label") != F.col("maj_label")).alias("flipped"),
    )


# ===========================================================================
# Instrumental-variable (Wald) estimator
# ===========================================================================


@register(
    "iv_wald_estimator",
    """
    WITH base AS (
      SELECT CAST('0x' || substr(md5('iv|' || CAST(o_orderkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS z,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       OR CAST('0x' || substr(md5('ivc|'
                          || CAST(o_orderkey AS VARCHAR)), 1, 15)
                          AS BIGINT) % 3 = 0
                  THEN 1 ELSE 0 END AS x,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS y
      FROM orders),
    arms AS (
      SELECT z, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy
      FROM base GROUP BY z),
    wide AS (
      SELECT *,
             SUM(CASE WHEN z = 1 THEN sy END) OVER () AS sy1,
             SUM(CASE WHEN z = 1 THEN n END) OVER () AS n1,
             SUM(CASE WHEN z = 0 THEN sy END) OVER () AS sy0,
             SUM(CASE WHEN z = 0 THEN n END) OVER () AS n0,
             SUM(CASE WHEN z = 1 THEN sx END) OVER () AS sx1,
             SUM(CASE WHEN z = 0 THEN sx END) OVER () AS sx0
      FROM arms)
    SELECT z, n, sx, sy,
           CAST(floor((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
                      / (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
                      * 1000000 + 0.5) AS BIGINT) AS wald_microcents
    FROM wide
    """,
    doc="Instrumental-variable (Wald) estimator: a deterministic md5 "
    "instrument z nudges treatment uptake x (priority OR an "
    "instrument-correlated compliance coin), and the Wald ratio "
    "(E[y|z=1]-E[y|z=0]) / (E[x|z=1]-E[x|z=0]) estimates the local "
    "average treatment effect on order value — the causal-inference "
    "primitive for encouragement designs where treatment itself "
    "can't be randomized. Completes the repo's causal family "
    "(DiD, CUPED, IPW). Arm moments are exact int64; the ratio "
    "collapses to IEEE doubles on the bounded 2-row arm relation "
    "(bit-identical across engines) and quantizes with the same "
    "floor(+0.5). Scale shape: one narrow map + one partial-agg "
    "shuffle to 2 rows; windows on that bounded relation. (No "
    "counterpart in reference main.go.)",
)
def iv_wald_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    okey = F.col("o_orderkey").cast("string")
    z = md5_h15(F.concat(F.lit("iv|"), okey)) % 2
    x = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        | (md5_h15(F.concat(F.lit("ivc|"), okey)) % 3 == 0),
        1,
    ).otherwise(0)
    y = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    base = orders.select(z.alias("z"), x.alias("x"), y.alias("y"))
    arms = base.groupBy("z").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wide = arms.select(
        "*",
        F.sum(F.when(F.col("z") == 1, F.col("sy"))).over(wall).alias("sy1"),
        F.sum(F.when(F.col("z") == 1, F.col("n"))).over(wall).alias("n1"),
        F.sum(F.when(F.col("z") == 0, F.col("sy"))).over(wall).alias("sy0"),
        F.sum(F.when(F.col("z") == 0, F.col("n"))).over(wall).alias("n0"),
        F.sum(F.when(F.col("z") == 1, F.col("sx"))).over(wall).alias("sx1"),
        F.sum(F.when(F.col("z") == 0, F.col("sx"))).over(wall).alias("sx0"),
    )
    wald = (
        F.col("sy1").cast("double") / F.col("n1")
        - F.col("sy0").cast("double") / F.col("n0")
    ) / (
        F.col("sx1").cast("double") / F.col("n1")
        - F.col("sx0").cast("double") / F.col("n0")
    )
    return wide.select(
        "z",
        "n",
        "sx",
        "sy",
        F.floor(wald * 1000000 + 0.5).cast("long").alias("wald_microcents"),
    )


# ===========================================================================
# A/B test minimum detectable effect (power analysis from the data)
# ===========================================================================

# z_{alpha/2} + z_{beta} for alpha=.05, power=.8, as an exact micro
# constant (1.959964 + 0.841621), embedded in BOTH dialects — no
# runtime inverse-normal anywhere.
_MDE_ZSUM_MICRO = 2_801_585


@register(
    "ab_test_mde",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST('0x' || substr(md5('cuped|' || CAST(o_custkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS arm,
             CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
                           THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                     * 100 AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS ss
      FROM cust GROUP BY arm),
    pooled AS (
      SELECT *,
             SUM(n) OVER () AS nt,
             (SUM(ss) OVER ()
              - CAST(SUM(s) OVER () AS DOUBLE) * SUM(s) OVER ()
                / SUM(n) OVER ()) / (SUM(n) OVER () - 1) AS var_pooled
      FROM arms)
    SELECT arm, n, s,
           CAST(floor(sqrt(var_pooled) + 0.5) AS BIGINT) AS sd_cents,
           CAST(floor({_MDE_ZSUM_MICRO} / 1000000.0
                      * sqrt(2 * var_pooled / n) + 0.5) AS BIGINT)
             AS mde_cents
    FROM pooled
    """,
    doc="A/B-test power analysis from the data: the minimum detectable "
    "effect (alpha=.05 two-sided, power=.8) for the 1997-spend metric "
    "at each arm's realized sample size, MDE = (z_a+z_b) * "
    "sqrt(2*sigma^2/n) — the experiment-design primitive that says "
    "whether a proposed data-recipe test is even worth running. The "
    "normal quantile sum is a build-time micro constant embedded in "
    "both dialects (no runtime inverse-normal); variance comes from "
    "exact DECIMAL(38,0) sums collapsed to IEEE doubles on the "
    "bounded 2-row arm relation; sqrt is the one correctly-rounded "
    "IEEE libm call both engines share. Scale shape: one shuffle to "
    "per-customer spend, one partial agg to 2 rows. (No counterpart "
    "in reference main.go.)",
)
def ab_test_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    yr = F.year(F.to_date("o_orderdate"))
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(yr == 1997, cents).otherwise(0)).cast("long").alias("y")
    ).select(
        (
            md5_h15(
                F.concat(F.lit("cuped|"), F.col("o_custkey").cast("string"))
            )
            % 2
        ).alias("arm"),
        "y",
    )
    d38 = "decimal(38,0)"
    arms = cust.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast(d38) * F.col("y")).cast("double").alias("ss"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    var_pooled = (
        F.sum("ss").over(wall)
        - F.sum("s").over(wall).cast("double")
        * F.sum("s").over(wall)
        / F.sum("n").over(wall)
    ) / (F.sum("n").over(wall) - 1)
    pooled = arms.select("*", var_pooled.alias("var_pooled"))
    return pooled.select(
        "arm",
        "n",
        "s",
        F.floor(F.sqrt(F.col("var_pooled")) + 0.5)
        .cast("long")
        .alias("sd_cents"),
        F.floor(
            F.lit(_MDE_ZSUM_MICRO / 1000000.0)
            * F.sqrt(2 * F.col("var_pooled") / F.col("n"))
            + 0.5
        )
        .cast("long")
        .alias("mde_cents"),
    )


# ===========================================================================
# Heaps-law vocabulary growth at doubling checkpoints
# ===========================================================================

_HEAPS_CKPTS = (32, 64, 128, 256, 512, 1024, 2048, 4096, 8192)


@register(
    "heaps_vocab_growth",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents),
    firstdoc AS (
      SELECT word, CAST(MIN(doc_id) AS BIGINT) AS fd
      FROM words GROUP BY word),
    doctok AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      FROM documents),
    ck AS (SELECT unnest([{", ".join(str(c) for c in _HEAPS_CKPTS)}])
             AS checkpoint_n)
    SELECT CAST(c.checkpoint_n AS BIGINT) AS checkpoint_n,
           (SELECT CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM doctok
            WHERE doc_id < c.checkpoint_n) AS tokens_cum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM firstdoc
            WHERE fd < c.checkpoint_n) AS vocab_cum
    FROM ck c
    """,
    doc="Heaps-law vocabulary growth curve: cumulative distinct "
    "vocabulary vs cumulative tokens at doubling document-count "
    "checkpoints — the sublinear V ~ K*n^beta curve that sizes "
    "tokenizer vocabularies and predicts how much NEW vocabulary "
    "another crawl buys. ONE corpus pass: each word's first-"
    "appearance doc (min doc_id) turns every checkpoint's vocabulary "
    "into a simple count over the word relation — no per-checkpoint "
    "rescan, no sequential fold. Scale shape: one shuffle on the "
    "word key to first-appearance, then bounded checkpoint "
    "aggregations (the engine folds all checkpoints in one "
    "conditional aggregation over first-doc values). (No counterpart "
    "in reference main.go.)",
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    firstdoc = words.groupBy("word").agg(
        F.min("doc_id").cast("long").alias("fd")
    )
    # token rows (isv=0, one per word occurrence) and first-appearance
    # rows (isv=1, one per distinct word) fold through ONE aggregation —
    # no 1-row x 1-row combine join anywhere
    tagged = words.select(
        F.col("doc_id").alias("k"), F.lit(0).alias("isv")
    ).unionAll(firstdoc.select(F.col("fd").alias("k"), F.lit(1).alias("isv")))
    merged = tagged.agg(
        *[
            F.sum(
                F.when((F.col("k") < c) & (F.col("isv") == 0), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias(f"t{c}")
            for c in _HEAPS_CKPTS
        ],
        *[
            F.sum(
                F.when((F.col("k") < c) & (F.col("isv") == 1), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias(f"v{c}")
            for c in _HEAPS_CKPTS
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).cast("long").alias("checkpoint_n"),
                F.col(f"t{c}").alias("tokens_cum"),
                F.col(f"v{c}").alias("vocab_cum"),
            )
            for c in _HEAPS_CKPTS
        ]
    )
    return merged.select(F.explode(pairs).alias("r")).select(
        "r.checkpoint_n", "r.tokens_cum", "r.vocab_cum"
    )


# ===========================================================================
# Forecast backtest: seasonal-naive vs naive, exact MASE
# ===========================================================================


@register(
    "forecast_mase_backtest",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    lagged AS (
      SELECT d, cents,
             LAG(cents, 1) OVER (ORDER BY d) AS naive_f,
             LAG(cents, 7) OVER (ORDER BY d) AS seasonal_f
      FROM daily),
    errs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(abs(cents - naive_f)) AS BIGINT) AS naive_mae_sum,
             CAST(SUM(abs(cents - seasonal_f)) AS BIGINT)
               AS seasonal_mae_sum
      FROM lagged WHERE naive_f IS NOT NULL AND seasonal_f IS NOT NULL)
    SELECT n, naive_mae_sum, seasonal_mae_sum,
           CAST(seasonal_mae_sum * 1000000 // naive_mae_sum AS BIGINT)
             AS mase_micro,
           seasonal_mae_sum < naive_mae_sum AS seasonal_wins
    FROM errs
    """,
    doc="Forecast backtest with exact MASE: the seasonal-naive (lag-7) "
    "daily-revenue forecast scored against the naive (lag-1) "
    "benchmark on the same evaluation days — MASE = seasonal MAE / "
    "naive MAE as an exact truncating micro ratio (the "
    "scale-independent forecast-accuracy metric of Hyndman-Koehler), "
    "with the comparison itself an exact integer inequality. "
    "Completes the forecasting family (Holt, STL, periodogram) with "
    "its standard evaluation metric. Scale shape: one partial-agg "
    "shuffle to the bounded day domain; lags are windows over that "
    "bounded relation; the verdict is one aggregate row. (No "
    "counterpart in reference main.go.)",
)
def forecast_mase_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01")
    daily = orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), epoch).cast("long").alias("d")
    ).agg(
        F.sum((dec(F.col("o_totalprice"), 12, 2) * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wd = Window.orderBy("d")
    lagged = daily.select(
        "cents",
        F.lag("cents", 1).over(wd).alias("naive_f"),
        F.lag("cents", 7).over(wd).alias("seasonal_f"),
    ).filter(F.col("naive_f").isNotNull() & F.col("seasonal_f").isNotNull())
    errs = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.abs(F.col("cents") - F.col("naive_f")))
        .cast("long")
        .alias("naive_mae_sum"),
        F.sum(F.abs(F.col("cents") - F.col("seasonal_f")))
        .cast("long")
        .alias("seasonal_mae_sum"),
    )
    return errs.select(
        "n",
        "naive_mae_sum",
        "seasonal_mae_sum",
        F.expr("seasonal_mae_sum * 1000000 div naive_mae_sum")
        .cast("long")
        .alias("mase_micro"),
        (F.col("seasonal_mae_sum") < F.col("naive_mae_sum")).alias(
            "seasonal_wins"
        ),
    )


# ===========================================================================
# Compaction planning: first-fit-decreasing bin packing of partition files
# ===========================================================================

_PACK_TARGET_ROWS = 2048  # target rows per compacted output file


@register(
    "compaction_binpack_plan",
    f"""
    WITH RECURSIVE files AS (
      SELECT date_diff('month', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS file_id,
             CAST(COUNT(*) AS BIGINT) AS rows_
      FROM orders GROUP BY 1),
    ordered AS (
      SELECT file_id, rows_,
             ROW_NUMBER() OVER (ORDER BY rows_ DESC, file_id) AS i
      FROM files),
    -- FFD fold: state = list of bin loads; place each file (descending)
    -- into the first bin it fits, else open a new bin
    rec AS (
      SELECT CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS bins
      UNION ALL
      SELECT o.i,
             CASE WHEN len(list_filter(range(1, len(r.bins) + 1),
                     j -> r.bins[j] + o.rows_ <= {_PACK_TARGET_ROWS})) > 0
                  THEN list_transform(range(1, len(r.bins) + 1),
                    j -> r.bins[j] + CASE WHEN j = list_filter(
                           range(1, len(r.bins) + 1),
                           k -> r.bins[k] + o.rows_
                                <= {_PACK_TARGET_ROWS})[1]
                         THEN o.rows_ ELSE 0 END)
                  ELSE list_append(r.bins, o.rows_) END
      FROM rec r JOIN ordered o ON o.i = r.i + 1),
    fin AS (SELECT bins FROM rec
            WHERE i = (SELECT COALESCE(MAX(i), 0) FROM ordered)),
    stats AS (
      SELECT CAST(len(bins) AS BIGINT) AS n_bins,
             CAST(COALESCE(list_sum(bins), 0) AS BIGINT) AS total_rows
      FROM fin)
    SELECT n_bins, total_rows,
           CAST((total_rows + {_PACK_TARGET_ROWS} - 1)
                // {_PACK_TARGET_ROWS} AS BIGINT) AS lower_bound_bins,
           CAST(CASE WHEN n_bins > 0
                     THEN total_rows * 1000000 // (n_bins
                          * {_PACK_TARGET_ROWS}) ELSE 0 END AS BIGINT)
             AS fill_micro
    FROM stats
    """,
    doc="Compaction planning by first-fit-decreasing bin packing: "
    "monthly order partitions (the 'small files') are packed into "
    f"{_PACK_TARGET_ROWS}-row target output files by the classic FFD "
    "greedy (11/9 OPT + 6/9 guarantee), run as one integer fold over "
    "the size-sorted BOUNDED file manifest; reports bins used vs the "
    "ceil(total/target) lower bound and the achieved fill rate. The "
    "small-files maintenance planner every lakehouse table needs. "
    "Scale shape: the fact table pays one partial-agg shuffle to the "
    "bounded partition manifest (~100 rows per decade of months); "
    "the sequential pack runs on that manifest only — file COUNTS "
    "scale with partitions, never with rows. (No counterpart in "
    "reference main.go.)",
)
def compaction_binpack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.expr(
            "CAST(months_between(to_date(o_orderdate), "
            "to_date('1970-01-01')) AS BIGINT)"
        ).alias("file_id")
    ).agg(F.count("*").cast("long").alias("rows_"))
    arr = files.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("rows_")).alias("neg_rows"),
                    "file_id",
                    "rows_",
                )
            )
        ).alias("seq")
    )
    fold = F.expr(
        f"""
        aggregate(
          seq,
          CAST(array() AS array<bigint>),
          (bins, x) -> CASE
            -- Spark sequence(1, 0) counts DOWN to [1, 0]; empty bins
            -- must short-circuit before any sequence over their size
            WHEN size(bins) = 0 THEN array(x.rows_)
            WHEN size(filter(sequence(1, size(bins)),
                   j -> element_at(bins, CAST(j AS INT)) + x.rows_
                        <= {_PACK_TARGET_ROWS})) > 0
            THEN transform(bins, (v, j0) -> v + IF(j0 + 1 =
                   element_at(filter(sequence(1, size(bins)),
                     k -> element_at(bins, CAST(k AS INT)) + x.rows_
                          <= {_PACK_TARGET_ROWS}), 1),
                   x.rows_, CAST(0 AS BIGINT)))
            ELSE concat(bins, array(x.rows_)) END,
          bins -> struct(
            CAST(size(bins) AS BIGINT) AS n_bins,
            CAST(coalesce(aggregate(bins, CAST(0 AS BIGINT),
                 (a, b) -> a + b), 0) AS BIGINT) AS total_rows)
        )
        """
    )
    fin = arr.select(fold.alias("f")).select("f.n_bins", "f.total_rows")
    return fin.select(
        "n_bins",
        "total_rows",
        F.expr(
            f"CAST((total_rows + {_PACK_TARGET_ROWS - 1}) "
            f"div {_PACK_TARGET_ROWS} AS BIGINT)"
        ).alias("lower_bound_bins"),
        F.when(
            F.col("n_bins") > 0,
            F.expr(
                f"total_rows * 1000000 div (n_bins * {_PACK_TARGET_ROWS})"
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("fill_micro"),
    )


# ===========================================================================
# Distribution-free median CI from order statistics
# ===========================================================================


@register(
    "median_ci_order_statistics",
    """
    WITH vals AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS c
      FROM orders),
    byval AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY c),
    cum AS (
      SELECT c, cnt,
             SUM(cnt) OVER (ORDER BY c) AS cum,
             SUM(cnt) OVER () AS n
      FROM byval),
    ranks AS (
      SELECT *,
             (n + 1) // 2 AS r_med,
             CAST(greatest(1, n // 2
                  - CAST(ceil(0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT))
               AS BIGINT) AS r_lo,
             CAST(least(n, n // 2 + 1
                  + CAST(ceil(0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT))
               AS BIGINT) AS r_hi
      FROM cum)
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(r_lo) AS BIGINT) AS r_lo,
           CAST(MAX(r_hi) AS BIGINT) AS r_hi,
           CAST(MIN(CASE WHEN cum >= r_med THEN c END) AS BIGINT)
             AS median_cents,
           CAST(MIN(CASE WHEN cum >= r_lo THEN c END) AS BIGINT)
             AS ci_lo_cents,
           CAST(MIN(CASE WHEN cum >= r_hi THEN c END) AS BIGINT)
             AS ci_hi_cents
    FROM ranks
    """,
    doc="Distribution-free ~95% confidence interval for the median via "
    "order statistics: the CI endpoints are the values at ranks "
    "n/2 -/+ ceil(0.98*sqrt(n)) (the binomial normal approximation; "
    "0.98 = z_{{.975}}/2), needing NO resampling — the uncertainty "
    "primitive bootstrap_mean_ci provides for the mean, here for the "
    "median with zero replicates. All three rank lookups are "
    "conditional MINs over the cumulative value-count relation in "
    "ONE aggregation; sqrt/ceil is the single correctly-rounded IEEE "
    "call both engines share. Scale shape: one partial-agg shuffle "
    "to the distinct-cents domain + one prefix window over it (the "
    "mann_whitney pattern; the histogram swap is the documented path "
    "past that). (No counterpart in reference main.go.)",
)
def median_ci_order_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    vals = orders.select(
        (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long").alias("c")
    )
    byval = vals.groupBy("c").agg(F.count("*").cast("long").alias("cnt"))
    wc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = byval.select(
        "c",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    half = F.expr("CAST(ceil(0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT)")
    ranks = cum.select(
        "*",
        F.expr("(n + 1) div 2").alias("r_med"),
        F.greatest(F.lit(1).cast("long"), F.expr("n div 2") - half).alias(
            "r_lo"
        ),
        F.least(F.col("n"), F.expr("n div 2 + 1") + half).alias("r_hi"),
    )
    return ranks.agg(
        F.max("n").cast("long").alias("n"),
        F.max("r_lo").cast("long").alias("r_lo"),
        F.max("r_hi").cast("long").alias("r_hi"),
        F.min(F.when(F.col("cum") >= F.col("r_med"), F.col("c")))
        .cast("long")
        .alias("median_cents"),
        F.min(F.when(F.col("cum") >= F.col("r_lo"), F.col("c")))
        .cast("long")
        .alias("ci_lo_cents"),
        F.min(F.when(F.col("cum") >= F.col("r_hi"), F.col("c")))
        .cast("long")
        .alias("ci_hi_cents"),
    )


# ===========================================================================
# Revenue concentration: exact Gini + HHI per nation's supplier base
# ===========================================================================


@register(
    "supplier_revenue_concentration",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_suppkey),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, l_suppkey) AS i,
             COUNT(*) OVER () AS n,
             SUM(cents) OVER () AS tot
      FROM rev),
    g AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n_suppliers,
             CAST(MAX(tot) AS BIGINT) AS total_cents,
             CAST(SUM(CAST(i AS DECIMAL(38,0)) * cents) AS DOUBLE) AS iws,
             CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE)
               AS sq
      FROM ranked)
    SELECT n_suppliers, total_cents,
           CAST(floor((2.0 * iws / (n_suppliers
                       * CAST(total_cents AS DOUBLE))
                       - (n_suppliers + 1.0) / n_suppliers)
                      * 1000000 + 0.5) AS BIGINT) AS gini_micro,
           CAST(floor(sq / (CAST(total_cents AS DOUBLE) * total_cents)
                      * 1000000 + 0.5) AS BIGINT) AS hhi_micro
    FROM g
    """,
    doc="Revenue concentration: the exact Gini coefficient (from the "
    "rank-weighted sum identity G = 2*sum(i*x_i)/(n*sum(x)) - "
    "(n+1)/n over ascending-sorted supplier revenues, deterministic "
    "suppkey tie-break) and the Herfindahl-Hirschman index "
    "(sum of squared revenue shares) — the two standard inequality/ "
    "concentration diagnostics for 'is this corpus/market dominated "
    "by a few contributors'. Exact int64 cents with DECIMAL(38,0) "
    "cross products collapsed to IEEE doubles at the 1-row relation; "
    "both dialects quantize with the same floor(+0.5). Scale shape: "
    "one partial-agg shuffle to the supplier relation; the rank "
    "window runs over that bounded-by-|suppliers| relation (the "
    "histogram swap applies if the entity domain itself explodes). "
    "(No counterpart in reference main.go.)",
)
def supplier_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum((dec(F.col("l_extendedprice"), 12, 2) * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wr = Window.orderBy("cents", "l_suppkey")
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d38 = "decimal(38,0)"
    ranked = rev.select(
        "cents",
        F.row_number().over(wr).cast("long").alias("i"),
        F.count("*").over(wall).alias("n"),
        F.sum("cents").over(wall).alias("tot"),
    )
    g = ranked.agg(
        F.max("n").cast("long").alias("n_suppliers"),
        F.max("tot").cast("long").alias("total_cents"),
        F.sum(F.col("i").cast(d38) * F.col("cents"))
        .cast("double")
        .alias("iws"),
        F.sum(F.col("cents").cast(d38) * F.col("cents"))
        .cast("double")
        .alias("sq"),
    )
    gini = (
        F.lit(2.0) * F.col("iws")
        / (F.col("n_suppliers") * F.col("total_cents").cast("double"))
        - (F.col("n_suppliers") + F.lit(1.0)) / F.col("n_suppliers")
    )
    hhi = F.col("sq") / (
        F.col("total_cents").cast("double") * F.col("total_cents")
    )
    return g.select(
        "n_suppliers",
        "total_cents",
        F.floor(gini * 1000000 + 0.5).cast("long").alias("gini_micro"),
        F.floor(hhi * 1000000 + 0.5).cast("long").alias("hhi_micro"),
    )


# ===========================================================================
# Cluster-sampling design effect (DEFF via one-way ANOVA ICC)
# ===========================================================================


@register(
    "cluster_design_effect",
    """
    WITH grp AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                                AS BIGINT) AS DECIMAL(38,0))
                      * CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS DOUBLE) AS ss
      FROM orders GROUP BY o_custkey),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(m) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS st,
             SUM(ss) AS sst,
             SUM(CAST(s AS DOUBLE) * s / m) AS sbm
      FROM grp),
    comp AS (
      SELECT *,
             sbm - CAST(st AS DOUBLE) * st / n AS ssb,
             sst - sbm AS ssw,
             CAST(n AS DOUBLE) / k AS mbar
      FROM tot),
    icc AS (
      SELECT *,
             ((ssb / (k - 1)) - (ssw / (n - k)))
             / ((ssb / (k - 1)) + (mbar - 1) * (ssw / (n - k))) AS rho
      FROM comp)
    SELECT k AS n_clusters, n AS n_orders,
           CAST(floor(mbar * 1000000 + 0.5) AS BIGINT) AS mbar_micro,
           CAST(floor(rho * 1000000 + 0.5) AS BIGINT) AS icc_micro,
           CAST(floor((1 + (mbar - 1) * rho) * 1000000 + 0.5) AS BIGINT)
             AS deff_micro
    FROM icc
    """,
    doc="Cluster-sampling design effect: if you sample CUSTOMERS (the "
    "clusters) instead of orders, the effective sample size shrinks "
    "by DEFF = 1 + (mbar - 1)*ICC, with the intraclass correlation "
    "from the one-way ANOVA components (between/within sums of "
    "squares over the per-customer order clusters) — the "
    "survey-design primitive that prices clustered data collection "
    "(and clustered A/B randomization). Exact int64 cents and "
    "DECIMAL(38,0) squared sums collapse to IEEE doubles only in the "
    "1-row component relation; same floor(+0.5) in both dialects. "
    "Scale shape: one partial-agg shuffle to per-cluster moments, "
    "then a single aggregate row. (No counterpart in reference "
    "main.go.)",
)
def cluster_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    d38 = "decimal(38,0)"
    grp = orders.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("m"),
        F.sum(cents).cast("long").alias("s"),
        F.sum(cents.cast(d38) * cents).cast("double").alias("ss"),
    )
    tot = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("m").cast("long").alias("n"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").alias("sst"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("m")).alias(
            "sbm"
        ),
    )
    comp = tot.select(
        "*",
        (
            F.col("sbm")
            - F.col("st").cast("double") * F.col("st") / F.col("n")
        ).alias("ssb"),
        (F.col("sst") - F.col("sbm")).alias("ssw"),
        (F.col("n").cast("double") / F.col("k")).alias("mbar"),
    )
    msb = F.col("ssb") / (F.col("k") - 1)
    msw = F.col("ssw") / (F.col("n") - F.col("k"))
    rho = (msb - msw) / (msb + (F.col("mbar") - 1) * msw)
    icc = comp.select("*", rho.alias("rho"))
    return icc.select(
        F.col("k").alias("n_clusters"),
        F.col("n").alias("n_orders"),
        F.floor(F.col("mbar") * 1000000 + 0.5)
        .cast("long")
        .alias("mbar_micro"),
        F.floor(F.col("rho") * 1000000 + 0.5).cast("long").alias("icc_micro"),
        F.floor((1 + (F.col("mbar") - 1) * F.col("rho")) * 1000000 + 0.5)
        .cast("long")
        .alias("deff_micro"),
    )


# ===========================================================================
# Raking (iterative proportional fitting), two exact-micro iterations
# ===========================================================================


@register(
    "raking_ipf_two_iters",
    """
    WITH cell AS (
      SELECT o_orderpriority AS prio, o_orderstatus AS status,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2),
    -- margin TARGETS: uniform across priorities, observed across status
    -- (the classic post-stratification shape: fix one margin, keep the
    -- other) — targets derived from the same bounded cell relation
    t AS (
      SELECT *,
             SUM(n) OVER () AS nt,
             SUM(n) OVER (PARTITION BY status) AS col_obs,
             COUNT(*) OVER (PARTITION BY status) AS _c,
             CAST(1000000 AS BIGINT) AS w0
      FROM cell),
    -- iteration 1a: scale rows (priorities) to the uniform target
    -- nt/5 per priority
    r1 AS (
      SELECT *,
             w0 * (nt // 5) // SUM(n * w0 // 1000000)
                                 OVER (PARTITION BY prio) AS w1
      FROM t),
    -- iteration 1b: scale columns (status) back to their observed
    -- margins
    r2 AS (
      SELECT *,
             w1 * col_obs // SUM(n * w1 // 1000000)
                               OVER (PARTITION BY status) AS w2
      FROM r1)
    SELECT prio, status, n,
           CAST(w2 AS BIGINT) AS weight_micro,
           CAST(n * w2 // 1000000 AS BIGINT) AS weighted_n
    FROM r2
    """,
    doc="Raking / iterative proportional fitting, one full row+column "
    "cycle in exact truncating micros: reweight the (priority x "
    "status) contingency cells so priorities match a UNIFORM target "
    "margin while status margins stay at their observed totals — the "
    "post-stratification primitive for correcting a corpus or panel "
    "toward known population margins. Every scaling factor is an "
    "integer micro ratio over window sums of the BOUNDED 15-cell "
    "relation, identical in both dialects; weighted_n certifies the "
    "fit. Scale shape: one partial-agg shuffle to the bounded cell "
    "relation; all iterations are windows over it. (No counterpart "
    "in reference main.go.)",
)
def raking_ipf_two_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cell = orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count("*").cast("long").alias("n"))
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wst = Window.partitionBy("status").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = cell.select(
        "*",
        F.sum("n").over(wall).alias("nt"),
        F.sum("n").over(wst).alias("col_obs"),
        F.lit(1000000).cast("long").alias("w0"),
    )
    # integer division against the window sum (matches the oracle's //)
    r1 = t.select(
        "*",
        F.expr(
            "CAST(w0 * (nt div 5) div (sum(n * w0 div 1000000) "
            "over (partition by prio)) AS BIGINT)"
        ).alias("w1"),
    )
    r2 = r1.select(
        "*",
        F.expr(
            "CAST(w1 * col_obs div (sum(n * w1 div 1000000) "
            "over (partition by status)) AS BIGINT)"
        ).alias("w2"),
    )
    return r2.select(
        "prio",
        "status",
        "n",
        F.col("w2").alias("weight_micro"),
        F.expr("n * w2 div 1000000").cast("long").alias("weighted_n"),
    )

# ===========================================================================
# Kaplan-Meier product-limit survival with right censoring
# ===========================================================================

_KM_CORE_SQL = """
    t0 AS (
      SELECT user_id, MIN(ts) AS first_click
      FROM events WHERE event_type = 'click' GROUP BY user_id),
    t1 AS (
      SELECT user_id, MIN(ts) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    last AS (
      SELECT user_id, MAX(ts) AS last_seen FROM events GROUP BY user_id),
    subj AS (
      SELECT c.user_id,
             CASE WHEN p.first_purchase IS NOT NULL
                       AND p.first_purchase >= c.first_click
                  THEN 1 ELSE 0 END AS event,
             CAST(date_diff('day', c.first_click,
                    CASE WHEN p.first_purchase IS NOT NULL
                              AND p.first_purchase >= c.first_click
                         THEN p.first_purchase ELSE l.last_seen END)
                  AS BIGINT) AS t
      FROM t0 c
      LEFT JOIN t1 p USING (user_id)
      JOIN last l USING (user_id))
"""

_KM_SUBJ_SQL = _KM_CORE_SQL + """,
    byday AS (
      SELECT t, CAST(SUM(event) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM subj GROUP BY t),
    risk AS (
      SELECT t, d,
             CAST(SUM(leaving) OVER (ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_risk
      FROM byday),
    ordered AS (
      SELECT t, d, n_risk,
             CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS i
      FROM risk WHERE d > 0)
"""


@register(
    "kaplan_meier_survival",
    f"""
    WITH RECURSIVE {_KM_SUBJ_SQL},
    rec AS (
      SELECT CAST(0 AS BIGINT) AS i, CAST(1000000 AS BIGINT) AS s
      UNION ALL
      SELECT o.i,
             r.s * ((o.n_risk - o.d) * 1000000 // o.n_risk) // 1000000
      FROM rec r JOIN ordered o ON o.i = r.i + 1)
    SELECT o.t AS day, o.d AS n_events, o.n_risk,
           CAST((o.n_risk - o.d) * 1000000 // o.n_risk AS BIGINT)
             AS factor_micro,
           CAST(r.s AS BIGINT) AS surv_micro
    FROM ordered o JOIN rec r ON r.i = o.i
    """,
    doc="Kaplan-Meier product-limit survival with RIGHT CENSORING: "
    "time from a user's first click to first purchase, with "
    "never-purchasing users censored at their last observed event — "
    "the estimator click_to_purchase_survival approximates without "
    "censoring (its denominators ignore dropout; KM's shrinking risk "
    "sets are the correct treatment). Risk sets come from one "
    "reversed prefix sum over the bounded day-lag domain; the "
    "survival curve is the exact sequential truncating micro product "
    "S_i = S_(i-1) * ((n_i - d_i) * 1e6 // n_i) // 1e6, run as the "
    "recursive fold both dialects share (the bandit/FFD pattern). "
    "Scale shape: the fact table pays three per-user aggregations + "
    "one shuffle to the bounded lag relation; the product folds over "
    "event days only. (No counterpart in reference main.go.)",
)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t0 = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    t1 = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    last = ev.groupBy("user_id").agg(F.max("ts").alias("last_seen"))
    has_event = F.col("first_purchase").isNotNull() & (
        F.col("first_purchase") >= F.col("first_click")
    )
    end = F.when(has_event, F.col("first_purchase")).otherwise(
        F.col("last_seen")
    )
    subj = (
        t0.join(t1, "user_id", "left")
        .join(last, "user_id")
        .select(
            F.when(has_event, 1).otherwise(0).alias("event"),
            F.datediff(F.to_date(end), F.to_date("first_click"))
            .cast("long")
            .alias("t"),
        )
    )
    byday = subj.groupBy("t").agg(
        F.sum("event").cast("long").alias("d"),
        F.count("*").cast("long").alias("leaving"),
    )
    wrev = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    risk = byday.select(
        "t", "d", F.sum("leaving").over(wrev).alias("n_risk")
    ).filter(F.col("d") > 0)
    # exact sequential product as ONE fold over the bounded, sorted
    # event-day relation (the bandit/FFD pattern)
    arr = risk.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "d", "n_risk"))
        ).alias("seq")
    )
    fold = F.expr(
        """
        aggregate(
          seq,
          struct(CAST(1000000 AS BIGINT) AS s,
                 CAST(array() AS array<struct<day:bigint,n_events:bigint,
                      n_risk:bigint,factor_micro:bigint,
                      surv_micro:bigint>>) AS out),
          (acc, x) -> struct(
            acc.s * ((x.n_risk - x.d) * 1000000 div x.n_risk)
              div 1000000 AS s,
            array_append(acc.out, struct(
              x.t AS day, x.d AS n_events, x.n_risk AS n_risk,
              (x.n_risk - x.d) * 1000000 div x.n_risk AS factor_micro,
              acc.s * ((x.n_risk - x.d) * 1000000 div x.n_risk)
                div 1000000 AS surv_micro)) AS out
          ),
          acc -> acc.out
        )
        """
    )
    return arr.select(F.explode(fold).alias("r")).select(
        "r.day", "r.n_events", "r.n_risk", "r.factor_micro", "r.surv_micro"
    )


# ===========================================================================
# Youden-optimal decision threshold for the quality scorer
# ===========================================================================


def _youden_oracle() -> str:
    from kinesis_log_watcher_spark.queries.quality import (
        _SCORE_LABEL_CTE,
        _STOPS_SQL,
    )

    return f"""
    WITH {_SCORE_LABEL_CTE.format(stops=_STOPS_SQL)},
    vals AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM sl GROUP BY score),
    cum AS (
      SELECT score, cnt, pos,
             CAST(SUM(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
             CAST(SUM(cnt - pos) OVER (ORDER BY score DESC) AS BIGINT)
               AS fp,
             CAST(SUM(pos) OVER () AS BIGINT) AS np,
             CAST(SUM(cnt - pos) OVER () AS BIGINT) AS nn
      FROM vals),
    j AS (
      SELECT score AS threshold, tp, fp, np, nn,
             -- J*1e6 = TPR - FPR in micros, exact integer rationals
             CAST(tp * 1000000 // np - fp * 1000000 // nn AS BIGINT)
               AS j_micro
      FROM cum)
    SELECT threshold, tp, fp, np, nn, j_micro
    FROM j
    ORDER BY j_micro DESC, threshold LIMIT 1
    """


@register(
    "youden_optimal_threshold",
    _youden_oracle(),
    doc="Youden-optimal decision threshold for the linear quality "
    "scorer: the score cut maximizing J = TPR - FPR against the "
    "Gopher gate verdict (exact integer micro rationals; ties to the "
    "lowest threshold) — the operating-point selection step that "
    "turns the AUC family's ranking quality into an actual deployable "
    "filter threshold. TP/FP at every candidate threshold come from "
    "descending prefix sums over the bounded distinct-score relation; "
    "the argmax is a two-phase top-1 (WindowGroupLimit). Scale shape: "
    "the corpus pays the one shared word-count aggregation; "
    "everything else runs on the bounded score domain. (No "
    "counterpart in reference main.go.)",
)
def youden_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.queries.quality import _score_label

    sl = _score_label(spark, sf_dir)
    vals = sl.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    wdesc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vals.select(
        "score",
        F.sum("pos").over(wdesc).alias("tp"),
        F.sum(F.col("cnt") - F.col("pos")).over(wdesc).alias("fp"),
        F.sum("pos").over(wall).alias("np"),
        F.sum(F.col("cnt") - F.col("pos")).over(wall).alias("nn"),
    )
    j = cum.select(
        F.col("score").alias("threshold"),
        "tp",
        "fp",
        "np",
        "nn",
        F.expr("tp * 1000000 div np - fp * 1000000 div nn")
        .cast("long")
        .alias("j_micro"),
    )
    w = Window.orderBy(F.col("j_micro").desc(), F.col("threshold").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ===========================================================================
# Anytime-valid sequential test via e-values (test martingale)
# ===========================================================================

# likelihood-ratio factors for H0: p = 1/2 vs H1: p = 0.6, in micros:
# x=1 -> 2*0.6 = 1.2, x=0 -> 2*0.4 = 0.8
_EV_F1 = 1_200_000
_EV_F0 = 800_000
_EV_THRESH = 20_000_000  # reject H0 when E >= 20 (alpha <= 1/20)
# cap the running product at E = 1e6 (micro 1e12): far above the
# threshold, and capping a test supermartingale preserves validity —
# this keeps every int64 micro multiply in range at ANY horizon
_EV_CAP = 1_000_000_000_000


@register(
    "evalue_sequential_test",
    f"""
    WITH RECURSIVE daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             MAX(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN 1 ELSE 0 END) AS x
      FROM orders GROUP BY 1),
    ordered AS (
      SELECT d, x, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i
      FROM daily),
    rec AS (
      SELECT CAST(0 AS BIGINT) AS i, CAST(1000000 AS BIGINT) AS e,
             CAST(1000000 AS BIGINT) AS emax,
             CAST(0 AS BIGINT) AS first_reject
      UNION ALL
      SELECT o.i,
             greatest(1, least({_EV_CAP}, r.e * (CASE WHEN o.x = 1 THEN {_EV_F1}
                         ELSE {_EV_F0} END) // 1000000)),
             greatest(r.emax,
               least({_EV_CAP}, r.e * (CASE WHEN o.x = 1 THEN {_EV_F1}
                           ELSE {_EV_F0} END) // 1000000)),
             CASE WHEN r.first_reject > 0 THEN r.first_reject
                  WHEN least({_EV_CAP},
                         r.e * (CASE WHEN o.x = 1 THEN {_EV_F1}
                                ELSE {_EV_F0} END) // 1000000)
                       >= {_EV_THRESH} THEN o.i ELSE 0 END
      FROM rec r JOIN ordered o ON o.i = r.i + 1)
    SELECT i AS n_days, e AS e_final_micro, emax AS e_max_micro,
           first_reject,
           emax >= {_EV_THRESH} AS rejected
    FROM rec WHERE i = (SELECT COALESCE(MAX(i), 0) FROM ordered)
    """,
    doc="Anytime-valid sequential test via a test martingale "
    "(e-values): each day contributes the likelihood ratio of its "
    "'urgent order seen' bit under H1 (p=0.6) vs H0 (p=1/2) — 1.2 on "
    "hit, 0.8 on miss — and the running product E_t is an e-process, "
    "so rejecting whenever E >= 20 controls alpha <= 1/20 at ANY "
    "stopping time (Ville's inequality): the continuous-monitoring "
    "primitive that lets an experiment dashboard peek daily without "
    "p-hacking. Exact truncating micro product as the shared "
    "recursive fold; reports the final E, the running max, and the "
    "first rejection day. Scale shape: one partial-agg shuffle to the "
    "bounded day domain, then the bounded sequential fold. (No "
    "counterpart in reference main.go.)",
)
def evalue_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01")
    daily = orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), epoch).cast("long").alias("d")
    ).agg(
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("x")
    )
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("seq")
    )
    fold = F.expr(
        f"""
        aggregate(
          seq,
          struct(CAST(0 AS BIGINT) AS i, CAST(1000000 AS BIGINT) AS e,
                 CAST(1000000 AS BIGINT) AS emax,
                 CAST(0 AS BIGINT) AS first_reject),
          (acc, v) -> struct(
            acc.i + 1 AS i,
            greatest(1L, least({_EV_CAP}L,
              acc.e * (IF(v.x = 1, {_EV_F1}, {_EV_F0}))
              div 1000000)) AS e,
            greatest(acc.emax,
              least({_EV_CAP}L,
                acc.e * (IF(v.x = 1, {_EV_F1}, {_EV_F0})) div 1000000))
              AS emax,
            CASE WHEN acc.first_reject > 0 THEN acc.first_reject
                 WHEN least({_EV_CAP}L,
                        acc.e * (IF(v.x = 1, {_EV_F1}, {_EV_F0}))
                        div 1000000) >= {_EV_THRESH} THEN acc.i + 1
                 ELSE 0 END AS first_reject
          ),
          acc -> acc
        )
        """
    )
    fin = arr.select(fold.alias("f"), F.size("seq").alias("n")).filter(
        F.col("n") >= 0
    )
    return fin.select(
        F.col("f.i").alias("n_days"),
        F.col("f.e").alias("e_final_micro"),
        F.col("f.emax").alias("e_max_micro"),
        F.col("f.first_reject").alias("first_reject"),
        (F.col("f.emax") >= _EV_THRESH).alias("rejected"),
    )


# ===========================================================================
# Luhn checksum PII audit (payment-card-number detection)
# ===========================================================================

# deterministic synthesis: each order contributes a 16-digit candidate;
# even orderkeys get a VALID Luhn check digit, odd ones get check+1
# (mod 10) — so ground truth is the key parity, and detection is the
# Luhn fold itself.


@register(
    "luhn_cardnumber_audit",
    """
    WITH cand AS (
      SELECT o_orderkey,
             lpad(CAST(CAST('0x' || substr(md5('luhn|'
                    || CAST(o_orderkey AS VARCHAR)), 1, 12) AS BIGINT)
                    % 1000000000000000 AS VARCHAR), 15, '0') AS body,
             o_orderkey % 2 = 0 AS should_pass
      FROM orders),
    withcheck AS (
      SELECT o_orderkey, should_pass,
             body || CAST(
               (CASE WHEN should_pass THEN 0 ELSE 1 END
                + 10 - (list_sum(list_transform(range(1, 16),
                    i -> CASE WHEN i % 2 = 1
                              THEN CASE WHEN 2 * CAST(body[i] AS BIGINT) > 9
                                        THEN 2 * CAST(body[i] AS BIGINT) - 9
                                        ELSE 2 * CAST(body[i] AS BIGINT) END
                              ELSE CAST(body[i] AS BIGINT) END)) % 10))
               % 10 AS VARCHAR) AS pan
      FROM cand),
    detected AS (
      SELECT should_pass,
             CASE WHEN list_sum(list_transform(range(1, 17),
                    i -> CASE WHEN i % 2 = 1
                              THEN CASE WHEN 2 * CAST(pan[i] AS BIGINT) > 9
                                        THEN 2 * CAST(pan[i] AS BIGINT) - 9
                                        ELSE 2 * CAST(pan[i] AS BIGINT) END
                              ELSE CAST(pan[i] AS BIGINT) END)) % 10 = 0
                  THEN 1 ELSE 0 END AS luhn_ok
      FROM withcheck)
    SELECT should_pass,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(luhn_ok) AS BIGINT) AS n_detected,
           CAST(SUM(luhn_ok) AS BIGINT) = CASE WHEN should_pass
                THEN CAST(COUNT(*) AS BIGINT) ELSE CAST(0 AS BIGINT) END
             AS detection_exact
    FROM detected GROUP BY should_pass
    """,
    doc="Luhn checksum audit for payment-card-number detection: "
    "16-digit candidates are synthesized deterministically with the "
    "check digit computed by the REAL Luhn algorithm (double every "
    "second digit from the right, subtract 9 above 9, mod-10 "
    "complement) — even order keys get a valid check digit, odd keys "
    "an off-by-one — and the detector re-runs the Luhn fold over "
    "every candidate, so detection_exact certifies zero false "
    "positives AND zero false negatives against construction. The "
    "checksum-validation primitive a PII scrubber runs after its "
    "regex pass to kill 16-digit false alarms. Scale shape: one "
    "narrow per-row array fold (16 digits, constant work), one "
    "partial-agg shuffle to 2 rows. (No counterpart in reference "
    "main.go.)",
)
def luhn_cardnumber_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: the md5-derive + 16-digit Luhn fold per row is a
    # heavy map side (measured 1.6 -> 0.6s at sf0.1, A/B r12).
    orders = load(spark, sf_dir, "orders", spread=True)
    body = F.lpad(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("luhn|"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % 1000000000000000
        ).cast("string"),
        15,
        "0",
    )
    # Luhn digit-sum of a digit string s (1-based positions; odd
    # positions of the 15-digit body are "every second from the right"
    # once the 16th check digit is appended)
    def luhn_sum(col: str, n: int) -> str:
        return (
            f"aggregate(sequence(1, {n}), CAST(0 AS BIGINT), (acc, i) -> "
            f"acc + IF(i % 2 = 1, "
            f"IF(2 * CAST(substring({col}, i, 1) AS BIGINT) > 9, "
            f"2 * CAST(substring({col}, i, 1) AS BIGINT) - 9, "
            f"2 * CAST(substring({col}, i, 1) AS BIGINT)), "
            f"CAST(substring({col}, i, 1) AS BIGINT)))"
        )

    cand = orders.select(
        body.alias("body"),
        (F.col("o_orderkey") % 2 == 0).alias("should_pass"),
    )
    withcheck = cand.select(
        "should_pass",
        F.concat(
            F.col("body"),
            F.expr(
                f"CAST((IF(should_pass, 0, 1) + 10 "
                f"- ({luhn_sum('body', 15)}) % 10) % 10 AS STRING)"
            ),
        ).alias("pan"),
    )
    detected = withcheck.select(
        "should_pass",
        F.expr(
            f"IF(({luhn_sum('pan', 16)}) % 10 = 0, 1, 0)"
        ).alias("luhn_ok"),
    )
    return detected.groupBy("should_pass").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("luhn_ok").cast("long").alias("n_detected"),
        (
            F.sum("luhn_ok").cast("long")
            == F.when(F.col("should_pass"), F.count("*").cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("detection_exact"),
    )


# ===========================================================================
# Benjamini-Hochberg FDR over per-type chi-square tests
# ===========================================================================

# chi2 (1 df) critical values for the BH ladder alpha*i/m, m=5,
# alpha=.05, precomputed ONCE at build time (Newton on the erf CDF) and
# embedded in BOTH dialects — no runtime inverse-chi2 anywhere. Ranks
# beyond the precomputed ladder get an effectively infinite critical
# value (int64 max) so a 6th event_type can never satisfy the step-up
# rule and silently reject everything — an ELSE 0 would, since
# chi2_micro >= 0 always (r8 ADVICE finding).
_BH_CRIT_MICRO = (6634897, 5411894, 4709292, 4217885, 3841459)
_BH_CRIT_CASE = (
    "CASE rank "
    + " ".join(
        f"WHEN {i + 1} THEN {c}" for i, c in enumerate(_BH_CRIT_MICRO)
    )
    + " ELSE 9223372036854775807 END"
)


@register(
    "bh_fdr_event_tests",
    f"""
    WITH cells AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN hour(ts) < 12 AND value > 0.5
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN hour(ts) < 12 AND value <= 0.5
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN hour(ts) >= 12 AND value > 0.5
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN hour(ts) >= 12 AND value <= 0.5
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM events GROUP BY event_type),
    stat AS (
      SELECT event_type, a, b, c, d,
             CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(
               (a + b + c + d)
               * power(CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c, 2)
               / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d))
               * 1000000 + 0.5) AS BIGINT) END AS chi2_micro
      FROM cells),
    ranked AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER (ORDER BY chi2_micro DESC, event_type)
                  AS BIGINT) AS rank
      FROM stat),
    laddered AS (
      SELECT *, CAST({_BH_CRIT_CASE} AS BIGINT) AS crit_micro
      FROM ranked),
    kmax AS (
      SELECT *,
             CAST(COALESCE(MAX(CASE WHEN chi2_micro >= crit_micro
                                    THEN rank END) OVER (), 0) AS BIGINT)
               AS k
      FROM laddered)
    SELECT event_type, rank, chi2_micro, crit_micro,
           rank <= k AS rejected
    FROM kmax
    """,
    doc="Benjamini-Hochberg FDR control over the five per-event-type "
    "chi-square independence tests (morning-vs-afternoon x high-vs-low "
    "value): statistics rank descending, each compared against its BH "
    "ladder critical value chi2_1(alpha*i/m) — precomputed at build "
    "time and embedded in both dialects, so no runtime inverse-CDF — "
    "and every rank up to the largest satisfying one rejects (the "
    "step-up rule). The multiple-testing primitive for dashboards "
    "that run one test per segment. Scale shape: one partial-agg "
    "shuffle to 5 strata cells; ranking and the step-up max ride "
    "windows on that bounded relation. (No counterpart in reference "
    "main.go.)",
)
def bh_fdr_event_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    am = F.hour("ts") < 12
    hi = F.col("value") > 0.5
    cells = events.groupBy("event_type").agg(
        F.sum(F.when(am & hi, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(am & ~hi, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~am & hi, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~am & ~hi, 1).otherwise(0)).cast("long").alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    num = F.col("a").cast("double") * F.col("d") - F.col("b").cast(
        "double"
    ) * F.col("c")
    den = (
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    )
    # an empty margin means no association is measurable: chi2 = 0
    # (also keeps ANSI mode from raising on the 0 denominator)
    stat = cells.select(
        "event_type",
        "a",
        "b",
        "c",
        "d",
        F.when(
            (F.col("a") + F.col("b"))
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            == 0,
            F.lit(0).cast("long"),
        )
        .otherwise(
            F.floor(n * F.pow(num, F.lit(2.0)) / den * 1000000 + 0.5).cast(
                "long"
            )
        )
        .alias("chi2_micro"),
    )
    wr = Window.orderBy(F.col("chi2_micro").desc(), "event_type")
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = stat.select(
        "event_type",
        "chi2_micro",
        F.row_number().over(wr).cast("long").alias("rank"),
    ).select("*", F.expr(_BH_CRIT_CASE).cast("long").alias("crit_micro"))
    kmax = ranked.select(
        "*",
        F.coalesce(
            F.max(
                F.when(
                    F.col("chi2_micro") >= F.col("crit_micro"),
                    F.col("rank"),
                )
            ).over(wall),
            F.lit(0),
        )
        .cast("long")
        .alias("k"),
    )
    return kmax.select(
        "event_type",
        "rank",
        "chi2_micro",
        "crit_micro",
        (F.col("rank") <= F.col("k")).alias("rejected"),
    )


# ===========================================================================
# Log-rank test comparing two arms' survival curves
# ===========================================================================


@register(
    "logrank_two_arm",
    f"""
    WITH {_KM_CORE_SQL},
    armed AS (
      SELECT s.*, s.user_id % 2 AS arm FROM subj s),
    byday AS (
      SELECT t,
             CAST(SUM(event) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN arm = 1 THEN event ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(COUNT(*) AS BIGINT) AS leaving,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS leaving1
      FROM armed GROUP BY t),
    risk AS (
      SELECT t, d, d1,
             CAST(SUM(leaving) OVER (ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n,
             CAST(SUM(leaving1) OVER (ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n1
      FROM byday),
    terms AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             SUM(CAST(d AS DOUBLE) * n1 / n) AS e1,
             SUM(CASE WHEN n > 1
                      THEN CAST(d AS DOUBLE) * n1 / n * (n - n1) / n
                           * (n - d) / (n - 1) ELSE 0 END) AS v
      FROM risk WHERE d > 0)
    SELECT o1,
           CAST(floor(e1 * 1000000 + 0.5) AS BIGINT) AS e1_micro,
           CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS v_micro,
           CAST(floor((o1 - e1) * (o1 - e1) / v * 1000000 + 0.5)
                AS BIGINT) AS logrank_chi2_micro
    FROM terms
    """,
    doc="Log-rank test comparing click-to-purchase survival between "
    "the two user-parity arms: at every event day the observed arm-1 "
    "events are compared with the hypergeometric expectation "
    "d * n1/n from the shared risk set, and (O-E)^2/V is the "
    "chi-square(1) log-rank statistic — the standard two-sample "
    "survival comparison completing the Kaplan-Meier family. "
    "Per-day terms come from exact int64 (d, d1, n, n1) quadruples "
    "(the same reversed prefix sums as KM) and collapse to IEEE "
    "doubles only in the final 1-row aggregation; both dialects "
    "quantize with the same floor(+0.5). Scale shape: one shuffle to "
    "the bounded day-lag relation; windows on that bounded domain. "
    "(No counterpart in reference main.go.)",
)
def logrank_two_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t0 = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    t1 = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    last = ev.groupBy("user_id").agg(F.max("ts").alias("last_seen"))
    has_event = F.col("first_purchase").isNotNull() & (
        F.col("first_purchase") >= F.col("first_click")
    )
    end = F.when(has_event, F.col("first_purchase")).otherwise(
        F.col("last_seen")
    )
    subj = (
        t0.join(t1, "user_id", "left")
        .join(last, "user_id")
        .select(
            (F.col("user_id") % 2).alias("arm"),
            F.when(has_event, 1).otherwise(0).alias("event"),
            F.datediff(F.to_date(end), F.to_date("first_click"))
            .cast("long")
            .alias("t"),
        )
    )
    byday = subj.groupBy("t").agg(
        F.sum("event").cast("long").alias("d"),
        F.sum(F.when(F.col("arm") == 1, F.col("event")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.count("*").cast("long").alias("leaving"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("leaving1"),
    )
    wrev = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    risk = byday.select(
        "t",
        "d",
        "d1",
        F.sum("leaving").over(wrev).cast("long").alias("n"),
        F.sum("leaving1").over(wrev).cast("long").alias("n1"),
    ).filter(F.col("d") > 0)
    terms = risk.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(F.col("d").cast("double") * F.col("n1") / F.col("n")).alias(
            "e1"
        ),
        F.sum(
            F.when(
                F.col("n") > 1,
                F.col("d").cast("double")
                * F.col("n1")
                / F.col("n")
                * (F.col("n") - F.col("n1"))
                / F.col("n")
                * (F.col("n") - F.col("d"))
                / (F.col("n") - 1),
            ).otherwise(0.0)
        ).alias("v"),
    )
    return terms.select(
        "o1",
        F.floor(F.col("e1") * 1000000 + 0.5).cast("long").alias("e1_micro"),
        F.floor(F.col("v") * 1000000 + 0.5).cast("long").alias("v_micro"),
        F.floor(
            (F.col("o1") - F.col("e1"))
            * (F.col("o1") - F.col("e1"))
            / F.col("v")
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("logrank_chi2_micro"),
    )


# ===========================================================================
# Negative-binomial moment fit of overdispersed daily counts
# ===========================================================================


@register(
    "negbin_moment_fit",
    """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    grp AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss
      FROM daily GROUP BY event_type),
    mom AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / n AS m,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
               AS var
      FROM grp)
    SELECT event_type, n,
           CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS mean_micro,
           CAST(floor(var * 1000000 + 0.5) AS BIGINT) AS var_micro,
           CAST(floor(m * m / (var - m) * 1000000 + 0.5) AS BIGINT)
             AS r_micro,
           CAST(floor(m / var * 1000000 + 0.5) AS BIGINT) AS p_micro
    FROM mom WHERE var > m
    """,
    doc="Negative-binomial method-of-moments fit of overdispersed "
    "daily event counts: r = mean^2/(var-mean), p = mean/var — the "
    "count model the overdispersion audit says Poisson isn't "
    "(emitted only for types where var > mean, the moment fit's "
    "domain); the capacity/burst model for event-rate forecasting. "
    "Moments come from exact int64 sums collapsed to IEEE doubles on "
    "the bounded 5-type relation, same floor(+0.5) in both dialects. "
    "Scale shape: one partial-agg shuffle to the bounded (type x "
    "day) domain, then a 5-row aggregate. (No counterpart in "
    "reference main.go.)",
)
def negbin_moment_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), epoch).cast("long").alias("day"),
    ).agg(F.count("*").cast("long").alias("x"))
    grp = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    m = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    mom = grp.select("event_type", "n", m.alias("m"), var.alias("var"))
    return mom.filter(F.col("var") > F.col("m")).select(
        "event_type",
        "n",
        F.floor(F.col("m") * 1000000 + 0.5).cast("long").alias("mean_micro"),
        F.floor(F.col("var") * 1000000 + 0.5).cast("long").alias("var_micro"),
        F.floor(
            F.col("m") * F.col("m") / (F.col("var") - F.col("m")) * 1000000
            + 0.5
        )
        .cast("long")
        .alias("r_micro"),
        F.floor(F.col("m") / F.col("var") * 1000000 + 0.5)
        .cast("long")
        .alias("p_micro"),
    )


# ===========================================================================
# Experimentation pipeline end-to-end composition certificate
# ===========================================================================


@register(
    "experiment_pipeline_e2e",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST('0x' || substr(md5('cuped|' || CAST(o_custkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS arm,
             CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                           THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                     * 100 AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
                           THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                     * 100 AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    arms AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS syy
      FROM cust GROUP BY arm),
    pooled AS (
      SELECT *,
             CAST(SUM(n) OVER () AS DOUBLE) AS pn,
             CAST(SUM(sx) OVER () AS DOUBLE) AS psx,
             CAST(SUM(sy) OVER () AS DOUBLE) AS psy,
             SUM(sxy) OVER () AS psxy,
             SUM(sxx) OVER () AS psxx,
             SUM(syy) OVER () AS psyy,
             SUM(n) OVER () AS pni,
             SUM(sx) OVER () AS psxi
      FROM arms),
    fit AS (
      SELECT *,
             (pn * psxy - psx * psy) / (pn * psxx - psx * psx) AS theta,
             ((pn * psxy - psx * psy) * (pn * psxy - psx * psy))
               / ((pn * psxx - psx * psx) * (pn * psyy - psy * psy))
               AS rho2,
             (psyy - psy * psy / pn) / (pn - 1) AS var_y
      FROM pooled),
    scored AS (
      SELECT arm, n,
             CAST(floor(CAST(sy AS DOUBLE) / n * 1000000 + 0.5) AS BIGINT)
               AS mean_y_micro,
             CAST(floor((CAST(sy AS DOUBLE) / n
                         - theta * (CAST(sx AS DOUBLE) / n
                                    - psxi / CAST(pni AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS adj_mean_micro,
             CAST(floor(theta * 1000000 + 0.5) AS BIGINT) AS theta_micro,
             CAST(floor(rho2 * 1000000 + 0.5) AS BIGINT) AS rho2_micro,
             -- MDE at the realized n under the CUPED-adjusted variance
             -- var_y*(1 - rho2): the sensitivity the adjustment buys
             CAST(floor({_MDE_ZSUM_MICRO} / 1000000.0
                        * sqrt(2 * var_y * (1 - rho2) / n) + 0.5)
                  AS BIGINT) AS mde_adj_cents,
             CAST(floor({_MDE_ZSUM_MICRO} / 1000000.0
                        * sqrt(2 * var_y / n) + 0.5) AS BIGINT)
               AS mde_raw_cents
      FROM fit),
    verdict AS (
      SELECT *,
             abs(MAX(CASE WHEN arm = 1 THEN adj_mean_micro END) OVER ()
                 - MAX(CASE WHEN arm = 0 THEN adj_mean_micro END) OVER ())
               AS adj_diff_micro
      FROM scored)
    SELECT arm, n, mean_y_micro, adj_mean_micro, theta_micro, rho2_micro,
           mde_raw_cents, mde_adj_cents,
           CAST(adj_diff_micro AS BIGINT) AS adj_diff_micro,
           adj_diff_micro >= mde_adj_cents * 1000000 AS powered_difference
    FROM verdict
    """,
    doc="Experimentation pipeline end-to-end composition certificate: "
    "deterministic assignment -> per-arm metric moments -> CUPED "
    "covariate adjustment (pooled theta, rho^2) -> minimum detectable "
    "effect at the realized n under BOTH the raw and the "
    "CUPED-reduced variance (the sensitivity the adjustment buys, "
    "var*(1-rho^2)) -> the final powered-difference verdict comparing "
    "the observed adjusted gap against the adjusted MDE — the whole "
    "experiment-readout chain in ONE query, with the oracle "
    "restating every stage, so a green row certifies the engines "
    "agree at every stage boundary (the curation_pipeline_e2e "
    "pattern, for the causal family). Exact int64 sums, DECIMAL(38,0) "
    "cross products, IEEE-double collapse only on the bounded 2-row "
    "arm relation, one shared build-time normal-quantile constant. "
    "Scale shape: one shuffle to per-customer (x, y), one partial agg "
    "to 2 rows; everything after is constant-size. (No counterpart "
    "in reference main.go.)",
)
def experiment_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    yr = F.year(F.to_date("o_orderdate"))
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(yr == 1996, cents).otherwise(0)).cast("long").alias("x"),
        F.sum(F.when(yr == 1997, cents).otherwise(0)).cast("long").alias("y"),
    ).select(
        (
            md5_h15(
                F.concat(F.lit("cuped|"), F.col("o_custkey").cast("string"))
            )
            % 2
        ).alias("arm"),
        "x",
        "y",
    )
    d38 = "decimal(38,0)"
    arms = cust.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y").cast(d38))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y").cast(d38))
        .cast("double")
        .alias("syy"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pooled = arms.select(
        "*",
        F.sum("n").over(wall).cast("double").alias("pn"),
        F.sum("sx").over(wall).cast("double").alias("psx"),
        F.sum("sy").over(wall).cast("double").alias("psy"),
        F.sum("sxy").over(wall).alias("psxy"),
        F.sum("sxx").over(wall).alias("psxx"),
        F.sum("syy").over(wall).alias("psyy"),
        F.sum("n").over(wall).alias("pni"),
        F.sum("sx").over(wall).alias("psxi"),
    )
    theta = (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy")) / (
        F.col("pn") * F.col("psxx") - F.col("psx") * F.col("psx")
    )
    rho2 = (
        (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy"))
        * (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy"))
    ) / (
        (F.col("pn") * F.col("psxx") - F.col("psx") * F.col("psx"))
        * (F.col("pn") * F.col("psyy") - F.col("psy") * F.col("psy"))
    )
    var_y = (
        F.col("psyy") - F.col("psy") * F.col("psy") / F.col("pn")
    ) / (F.col("pn") - 1)
    fit = pooled.select(
        "*", theta.alias("theta"), rho2.alias("rho2"), var_y.alias("var_y")
    )
    zsum = _MDE_ZSUM_MICRO / 1000000.0
    scored = fit.select(
        "arm",
        "n",
        F.floor(F.col("sy").cast("double") / F.col("n") * 1000000 + 0.5)
        .cast("long")
        .alias("mean_y_micro"),
        F.floor(
            (
                F.col("sy").cast("double") / F.col("n")
                - F.col("theta")
                * (
                    F.col("sx").cast("double") / F.col("n")
                    - F.col("psxi") / F.col("pni").cast("double")
                )
            )
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("adj_mean_micro"),
        F.floor(F.col("theta") * 1000000 + 0.5).cast("long").alias(
            "theta_micro"
        ),
        F.floor(F.col("rho2") * 1000000 + 0.5).cast("long").alias(
            "rho2_micro"
        ),
        F.floor(
            F.lit(zsum)
            * F.sqrt(2 * F.col("var_y") * (1 - F.col("rho2")) / F.col("n"))
            + 0.5
        )
        .cast("long")
        .alias("mde_adj_cents"),
        F.floor(F.lit(zsum) * F.sqrt(2 * F.col("var_y") / F.col("n")) + 0.5)
        .cast("long")
        .alias("mde_raw_cents"),
    )
    verdict = scored.select(
        "*",
        F.abs(
            F.max(
                F.when(F.col("arm") == 1, F.col("adj_mean_micro"))
            ).over(wall)
            - F.max(
                F.when(F.col("arm") == 0, F.col("adj_mean_micro"))
            ).over(wall)
        ).alias("adj_diff_micro"),
    )
    return verdict.select(
        "arm",
        "n",
        "mean_y_micro",
        "adj_mean_micro",
        "theta_micro",
        "rho2_micro",
        "mde_raw_cents",
        "mde_adj_cents",
        F.col("adj_diff_micro").cast("long").alias("adj_diff_micro"),
        (
            F.col("adj_diff_micro")
            >= F.col("mde_adj_cents") * 1000000
        ).alias("powered_difference"),
    )


# ===========================================================================
# Rank-biased overlap (RBO) of two supplier rankings
# ===========================================================================

_RBO_DEPTH = 10
_RBO_P_MICRO = 900_000  # persistence p = 0.9


@register(
    "rbo_ranking_overlap",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem GROUP BY l_suppkey),
    ra AS (
      SELECT l_suppkey,
             CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, l_suppkey)
                  AS BIGINT) AS r
      FROM rev),
    rb AS (
      SELECT l_suppkey,
             CAST(ROW_NUMBER() OVER (ORDER BY n_items DESC, l_suppkey)
                  AS BIGINT) AS r
      FROM rev),
    depths AS (SELECT unnest(range(1, {_RBO_DEPTH + 1})) AS d),
    ov AS (
      SELECT d.d,
             CAST((SELECT COUNT(*) FROM ra a JOIN rb b USING (l_suppkey)
                   WHERE a.r <= d.d AND b.r <= d.d) AS BIGINT) AS inter
      FROM depths d),
    -- geometric weights p^(d-1) as exact truncating micro powers
    wts AS (
      SELECT d, inter,
             CAST(floor(power({_RBO_P_MICRO} / 1000000.0, d - 1)
                        * 1000000 + 0.5) AS BIGINT) AS w_micro
      FROM ov)
    SELECT CAST(d AS BIGINT) AS depth, inter,
           CAST(inter * 1000000 // d AS BIGINT) AS agreement_micro,
           w_micro,
           CAST(SUM(inter * 1000000 // d * w_micro // 1000000)
                  OVER (ORDER BY d)
                * (1000000 - {_RBO_P_MICRO}) // 1000000 AS BIGINT)
             AS rbo_prefix_micro
    FROM wts
    """,
    doc="Rank-biased overlap (Webber-Moffat-Zobel) between the "
    "revenue ranking and the item-count ranking of suppliers: "
    "agreement |A@d intersect B@d| / d at each depth, geometrically "
    "weighted by p^(d-1) (p=0.9, powers as floor(+0.5) micros from "
    "the one shared IEEE pow), accumulated to the (1-p)-scaled RBO "
    "prefix — the top-weighted ranking-similarity metric that "
    "Kendall/Spearman (whole-list, unweighted) can't express, and "
    "the standard way to compare retrieval runs. Scale shape: one "
    "partial-agg shuffle to the supplier relation, two rank windows "
    "over it, then all depth algebra on the bounded 10-row depth "
    "relation (the overlap-at-depth join touches only rank <= 10 "
    "rows). (No counterpart in reference main.go.)",
)
def rbo_ranking_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum((dec(F.col("l_extendedprice"), 12, 2) * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.count("*").cast("long").alias("n_items"),
    )
    wa = Window.orderBy(F.col("cents").desc(), "l_suppkey")
    wb = Window.orderBy(F.col("n_items").desc(), "l_suppkey")
    ranked = rev.select(
        "l_suppkey",
        F.row_number().over(wa).cast("long").alias("ra"),
        F.row_number().over(wb).cast("long").alias("rb"),
    ).filter(
        (F.col("ra") <= _RBO_DEPTH) | (F.col("rb") <= _RBO_DEPTH)
    )
    # overlap at every depth from the bounded top-rank relation: a
    # supplier contributes to depth d iff max(ra, rb) <= d. The
    # max-rank filter must precede the sequence explode — Spark's
    # sequence(a, b) DESCENDS when a > b instead of being empty.
    ov = (
        ranked.filter(
            F.greatest(F.col("ra"), F.col("rb")) <= _RBO_DEPTH
        )
        .select(
            F.explode(
                F.sequence(
                    F.greatest(F.col("ra"), F.col("rb")),
                    F.lit(_RBO_DEPTH).cast("long"),
                )
            ).alias("d")
        )
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    depths = spark.range(1, _RBO_DEPTH + 1).select(
        F.col("id").cast("long").alias("d")
    )
    full = depths.join(ov, "d", "left").select(
        "d", F.coalesce(F.col("inter"), F.lit(0)).cast("long").alias("inter")
    )
    w_micro = F.floor(
        F.pow(F.lit(_RBO_P_MICRO / 1000000.0), F.col("d") - 1) * 1000000
        + 0.5
    ).cast("long")
    wts = full.select("d", "inter", w_micro.alias("w_micro"))
    return wts.select(
        F.col("d").alias("depth"),
        "inter",
        F.expr("inter * 1000000 div d").cast("long").alias(
            "agreement_micro"
        ),
        "w_micro",
        F.expr(
            f"CAST(sum(inter * 1000000 div d * w_micro div 1000000) "
            f"over (order by d) * {1000000 - _RBO_P_MICRO} div 1000000 "
            f"AS BIGINT)"
        ).alias("rbo_prefix_micro"),
    )


# ===========================================================================
# Stratified ATE on a coarsened covariate
# ===========================================================================

_ATE_BUCKET_CENTS = 20_000_000  # $200k pre-period spend buckets


@register(
    "stratified_ate_coarsened",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST('0x' || substr(md5('cuped|' || CAST(o_custkey AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS arm,
             CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                           THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                     * 100 AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
                           THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                     * 100 AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    strat AS (
      SELECT least(x // {_ATE_BUCKET_CENTS}, 4) AS stratum, arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s
      FROM cust GROUP BY 1, 2),
    wide AS (
      SELECT stratum,
             CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm = 1 THEN s END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 0 THEN s END) AS BIGINT) AS s0
      FROM strat GROUP BY stratum
      HAVING SUM(CASE WHEN arm = 1 THEN n END) > 0
         AND SUM(CASE WHEN arm = 0 THEN n END) > 0),
    scored AS (
      SELECT CAST(stratum AS BIGINT) AS stratum, n1, n0,
             CAST(floor((CAST(s1 AS DOUBLE) / n1
                         - CAST(s0 AS DOUBLE) / n0) * 1000000 + 0.5)
                  AS BIGINT) AS diff_micro
      FROM wide)
    SELECT *,
           CAST(floor(SUM(CAST(diff_micro AS DOUBLE) * (n1 + n0))
                        OVER ()
                      / SUM(n1 + n0) OVER () + 0.5) AS BIGINT)
             AS ate_micro
    FROM scored
    """,
    doc="Stratified average treatment effect on a coarsened covariate "
    "(the subclassification estimator of Cochran/Rubin): customers "
    "stratify by $200k pre-period-spend buckets (capped at 5 strata "
    "— coarsened exact stratification), the arm difference of 1997 "
    "spend is taken WITHIN each stratum, and the ATE is the "
    "stratum-size-weighted average — the observational-causal "
    "workhorse that removes covariate imbalance the raw difference "
    "absorbs (complements IPW and CUPED in the causal family). "
    "Strata with an empty arm drop (no within-stratum contrast "
    "exists). Exact int64 sums collapse to IEEE doubles on the "
    "bounded stratum relation; the weighted average rides a window "
    "over it. Scale shape: one shuffle to per-customer (x, y), one "
    "partial agg to <= 10 (stratum x arm) rows. (No counterpart in "
    "reference main.go.)",
)
def stratified_ate_coarsened(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    yr = F.year(F.to_date("o_orderdate"))
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(yr == 1996, cents).otherwise(0)).cast("long").alias("x"),
        F.sum(F.when(yr == 1997, cents).otherwise(0)).cast("long").alias("y"),
    ).select(
        (
            md5_h15(
                F.concat(F.lit("cuped|"), F.col("o_custkey").cast("string"))
            )
            % 2
        ).alias("arm"),
        F.least(
            F.expr(f"x div {_ATE_BUCKET_CENTS}"), F.lit(4).cast("long")
        ).alias("stratum"),
        "y",
    )
    strat = cust.groupBy("stratum", "arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    wide = (
        strat.groupBy("stratum")
        .agg(
            F.sum(F.when(F.col("arm") == 1, F.col("n"))).cast("long").alias("n1"),
            F.sum(F.when(F.col("arm") == 1, F.col("s"))).cast("long").alias("s1"),
            F.sum(F.when(F.col("arm") == 0, F.col("n"))).cast("long").alias("n0"),
            F.sum(F.when(F.col("arm") == 0, F.col("s"))).cast("long").alias("s0"),
        )
        .filter((F.col("n1") > 0) & (F.col("n0") > 0))
    )
    scored = wide.select(
        F.col("stratum").cast("long").alias("stratum"),
        "n1",
        "n0",
        F.floor(
            (
                F.col("s1").cast("double") / F.col("n1")
                - F.col("s0").cast("double") / F.col("n0")
            )
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("diff_micro"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return scored.select(
        "*",
        F.floor(
            F.sum(
                F.col("diff_micro").cast("double")
                * (F.col("n1") + F.col("n0"))
            ).over(wall)
            / F.sum(F.col("n1") + F.col("n0")).over(wall)
            + 0.5
        )
        .cast("long")
        .alias("ate_micro"),
    )
