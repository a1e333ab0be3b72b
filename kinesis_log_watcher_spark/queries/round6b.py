"""Round-6 waves 3-8: the statistics/graph/text/layout/streaming
extension family added in the round's second half.

- trend & robust statistics: Mann-Kendall + Theil-Sen, tie-aware
  Spearman (joint-histogram ranks), two-sample KS, one-way and two-way
  ANOVA (ordered float folds), Wald-Wolfowitz runs test, CUSUM
  changepoints (prefix-extrema closed form), conformal calibration;
- graph: synchronous label-propagation communities, degree
  assortativity, Newman modularity (shared LPA kernel);
- text/corpus: lexical-diversity profile, Zipf-law fit, blocklist
  phrase filtering, greedy bigram-LM decoding;
- relational/layout: skyline (bucketed, no global sort), weighted
  median, bitmap status rollup, FD discovery, zone-map skip audit,
  RFM segmentation, l-diversity;
- LLM-pipeline: greedy k-center coresets (exact quantized distances);
- streaming: chained two-level aggregation, stateful CUSUM monitor,
  point-in-time SCD2 enrichment;
- sources: the custom Python DataSource (Kinesis simulator) queries,
  including the end-to-end render certificate;
- multimodal: scene-cut detection over the real WAV codec path.

Every query keeps the repo-wide determinism contract (queries/base.py
module docstring): integer-exact arithmetic end to end, or doubles
derived from exact integers through an op sequence written identically
in both dialects, quantized to int64 once at the end (floor(x*k + 0.5)).
Every SUM in oracle SQL is CAST to BIGINT at the aggregation site (the
round-5 key_skew_profile HUGEINT lesson).

Reference parity note: the reference (/root/reference/main.go) is a
416-line Kinesis tailer with no analytics surface — these operators are
the SURVEY.md §2.2 "beyond-reference" engine surface, same family as
queries/round6.py and queries/mining.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.queries.base import load, register
from kinesis_log_watcher_spark.queries.mining import _NEARDUP_EDGE_CTE

# ---------------------------------------------------------------------------
# 1. revenue_trend_mann_kendall — exact trend test + Theil-Sen slope
# ---------------------------------------------------------------------------
#
# Mann-Kendall S and its tie-corrected variance are EXACT integer
# statistics (signs and counts); the Theil-Sen slope is the lower median
# of the pairwise slopes, each quantized to milli-units ONCE via the
# repo's floor(x*k + 0.5) convention before the (integer) median pick —
# so the whole test is hash-comparable with no float aggregation.

_MK_SQL = """
    WITH monthly AS (
      SELECT o_orderpriority AS pri,
             year(o_orderdate) * 12 + month(o_orderdate) AS m,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2),
    pairs AS (
      SELECT a.pri,
             CASE WHEN b.cnt > a.cnt THEN 1
                  WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS sgn,
             CAST(floor((b.cnt - a.cnt) * 1000.0 / (b.m - a.m) + 0.5)
                  AS BIGINT) AS slope_milli,
             a.m AS am, b.m AS bm
      FROM monthly a JOIN monthly b ON a.pri = b.pri AND a.m < b.m),
    sstat AS (
      SELECT pri, CAST(SUM(sgn) AS BIGINT) AS s_stat,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1),
    med AS (
      SELECT pri, slope_milli AS theil_sen_slope_milli
      FROM (SELECT pri, slope_milli,
                   ROW_NUMBER() OVER (PARTITION BY pri
                                      ORDER BY slope_milli, am, bm) AS rn,
                   COUNT(*) OVER (PARTITION BY pri) AS p
            FROM pairs)
      WHERE rn = (p + 1) // 2),
    ties AS (
      SELECT pri,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT pri, cnt, CAST(COUNT(*) AS BIGINT) AS t
            FROM monthly GROUP BY 1, 2)
      GROUP BY 1),
    nm AS (
      SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly
      GROUP BY 1)
    SELECT n.pri AS o_orderpriority, n.n_months, s.s_stat,
           n.n_months * (n.n_months - 1) * (2 * n.n_months + 5)
             - t.tie_term AS var_s_x18,
           m.theil_sen_slope_milli,
           CASE WHEN s.s_stat > 0 THEN 'increasing'
                WHEN s.s_stat < 0 THEN 'decreasing'
                ELSE 'flat' END AS trend
    FROM nm n
    JOIN sstat s ON s.pri = n.pri
    JOIN ties t ON t.pri = n.pri
    JOIN med m ON m.pri = n.pri
    """


@register(
    "revenue_trend_mann_kendall",
    _MK_SQL,
    doc="Mann-Kendall trend test + Theil-Sen slope over each priority's "
    "monthly order-count series: S = sum of pairwise sign differences, "
    "variance via the exact tie-corrected formula (kept as the x18 "
    "integer numerator — no division, no float), slope = lower median "
    "of milli-quantized pairwise slopes with a deterministic "
    "(slope, month-pair) tie-break. Scale shape: the ONLY fact-table "
    "pass is the (priority, month) count aggregation; the pair "
    "generator runs on the tiny monthly relation (P = n_months^2/2 "
    "pairs per priority, bounded by the calendar, not the data), so "
    "100 TB of orders costs one partial-agg shuffle and the test "
    "itself is constant work. The robust (rank-based) complement to "
    "groupwise_linear_fit's OLS trend.",
)
def revenue_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.col("o_orderpriority").alias("pri"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
        .persist()
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = a.join(
        b, (F.col("a.pri") == F.col("b.pri")) & (F.col("a.m") < F.col("b.m"))
    ).select(
        F.col("a.pri").alias("pri"),
        F.when(F.col("b.cnt") > F.col("a.cnt"), 1)
        .when(F.col("b.cnt") < F.col("a.cnt"), -1)
        .otherwise(0)
        .alias("sgn"),
        F.floor(
            (F.col("b.cnt") - F.col("a.cnt"))
            * F.lit(1000.0)
            / (F.col("b.m") - F.col("a.m"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("slope_milli"),
        F.col("a.m").alias("am"),
        F.col("b.m").alias("bm"),
    )
    sstat = pairs.groupBy("pri").agg(
        F.sum("sgn").cast("long").alias("s_stat")
    )
    w = Window.partitionBy("pri").orderBy("slope_milli", "am", "bm")
    med = (
        pairs.select(
            "pri",
            "slope_milli",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("pri")).alias("p"),
        )
        .filter(F.col("rn") == F.expr("(p + 1) div 2"))
        .select("pri", F.col("slope_milli").alias("theil_sen_slope_milli"))
    )
    ties = (
        monthly.groupBy("pri", "cnt")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("pri")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    nm = monthly.groupBy("pri").agg(F.count("*").cast("long").alias("n_months"))
    out = (
        nm.join(sstat, "pri")
        .join(ties, "pri")
        .join(med, "pri")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_months",
            "s_stat",
            (
                F.col("n_months")
                * (F.col("n_months") - 1)
                * (2 * F.col("n_months") + 5)
                - F.col("tie_term")
            ).alias("var_s_x18"),
            "theil_sen_slope_milli",
            F.when(F.col("s_stat") > 0, "increasing")
            .when(F.col("s_stat") < 0, "decreasing")
            .otherwise("flat")
            .alias("trend"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# 2. spearman_quantity_discount — rank correlation via joint histogram
# ---------------------------------------------------------------------------
#
# Spearman rho with AVERAGE ranks for ties, decomposed so the fact table
# is scanned once into a (flag, qty, discount) joint histogram and every
# rank is derived from value-marginal counts: with B = rows strictly
# below value v and f = rows at v, 2*avg_rank = 2*(B + f) - f + 1 —
# an exact integer ("rank2"). All five co-moment sums then come from the
# tiny cell relation. No per-row window, no global sort — the classic
# O(n log n) rank step becomes one partial-agg shuffle.

_SP_SQL = """
    WITH cells AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qv,
             CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS dv,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2, 3),
    xm AS (
      SELECT flag, qv,
             2 * SUM(fx) OVER (PARTITION BY flag ORDER BY qv
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - fx + 1 AS r2x
      FROM (SELECT flag, qv, CAST(SUM(cnt) AS BIGINT) AS fx
            FROM cells GROUP BY 1, 2)),
    ym AS (
      SELECT flag, dv,
             2 * SUM(fy) OVER (PARTITION BY flag ORDER BY dv
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - fy + 1 AS r2y
      FROM (SELECT flag, dv, CAST(SUM(cnt) AS BIGINT) AS fy
            FROM cells GROUP BY 1, 2)),
    m AS (
      SELECT c.flag,
             CAST(SUM(c.cnt) AS BIGINT) AS n,
             CAST(SUM(c.cnt * x.r2x) AS BIGINT) AS sx,
             CAST(SUM(c.cnt * y.r2y) AS BIGINT) AS sy,
             CAST(SUM(c.cnt * x.r2x * x.r2x) AS BIGINT) AS sxx,
             CAST(SUM(c.cnt * y.r2y * y.r2y) AS BIGINT) AS syy,
             CAST(SUM(c.cnt * x.r2x * y.r2y) AS BIGINT) AS sxy
      FROM cells c
      JOIN xm x ON x.flag = c.flag AND x.qv = c.qv
      JOIN ym y ON y.flag = c.flag AND y.dv = c.dv
      GROUP BY 1)
    SELECT flag AS l_returnflag, n AS n_rows,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
                  OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0
                THEN 0
                ELSE CAST(floor(
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) END AS rho_micro
    FROM m
    """


@register(
    "spearman_quantity_discount",
    _SP_SQL,
    doc="Spearman rank correlation (average ranks for ties) between "
    "quantity and discount per returnflag — the distribution-free "
    "complement to price_quantity_correlation's Pearson r. The rank "
    "step is decomposed through the joint (flag, qty, discount) "
    "histogram: 2*avg_rank is an exact integer derived from marginal "
    "cumulative counts, so there is NO per-row ranking window and no "
    "global sort — the fact table is scanned once into cells bounded "
    "by |qty values| x |discount values|, and every co-moment is an "
    "exact int64 sum over that tiny relation. rho is quantized to "
    "int64 micro-units once, from identical double op sequences in "
    "both dialects. At 100 TB the plan is one partial-agg shuffle; "
    "the int64 co-moments hold to ~4n^3 < 2^63 per group (document "
    "DECIMAL(38) as the swap past ~1e6 rows/group x 4e5 rank width).",
)
def spearman_quantity_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qv"),
            F.floor(F.col("l_discount") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("dv"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
        .persist()
    )

    def margin(col: str, out: str) -> DataFrame:
        f = cells.groupBy("flag", col).agg(F.sum("cnt").cast("long").alias("f"))
        w = (
            Window.partitionBy("flag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return f.select(
            "flag",
            col,
            (2 * F.sum("f").over(w) - F.col("f") + 1).alias(out),
        )

    xm = margin("qv", "r2x")
    ym = margin("dv", "r2y")
    m = (
        cells.join(xm, ["flag", "qv"])
        .join(ym, ["flag", "dv"])
        .groupBy("flag")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.col("cnt") * F.col("r2x")).cast("long").alias("sx"),
            F.sum(F.col("cnt") * F.col("r2y")).cast("long").alias("sy"),
            F.sum(F.col("cnt") * F.col("r2x") * F.col("r2x"))
            .cast("long")
            .alias("sxx"),
            F.sum(F.col("cnt") * F.col("r2y") * F.col("r2y"))
            .cast("long")
            .alias("syy"),
            F.sum(F.col("cnt") * F.col("r2x") * F.col("r2y"))
            .cast("long")
            .alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    denx = nd * sxxd - sxd * sxd
    deny = nd * syyd - syd * syd
    rho = F.floor(
        (nd * sxyd - sxd * syd) / F.sqrt(denx * deny) * 1000000 + F.lit(0.5)
    ).cast("long")
    return m.select(
        F.col("flag").alias("l_returnflag"),
        F.col("n").alias("n_rows"),
        F.when((denx <= 0) | (deny <= 0), F.lit(0).cast("long"))
        .otherwise(rho)
        .alias("rho_micro"),
    )


# ---------------------------------------------------------------------------
# 3. community_label_propagation — 2 synchronous LPA rounds
# ---------------------------------------------------------------------------

# Shared CTE chain: near-dup edges -> 2 synchronous LPA rounds (l2).
# Used by community_label_propagation and community_modularity.
_LPA_CTES = f"""{_NEARDUP_EDGE_CTE},
    nbrs AS (
      SELECT vec_a AS node, vec_b AS nbr FROM edges
      UNION ALL SELECT vec_b, vec_a FROM edges),
    l0 AS (SELECT DISTINCT node, node AS lbl FROM nbrs),
    v1 AS (
      SELECT n.node, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
      FROM nbrs n JOIN l0 l ON l.node = n.nbr GROUP BY 1, 2),
    l1 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM v1) WHERE rn = 1),
    v2 AS (
      SELECT n.node, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
      FROM nbrs n JOIN l1 l ON l.node = n.nbr GROUP BY 1, 2),
    l2 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM v2) WHERE rn = 1)"""

_LPA_SQL = f"""
    WITH {_LPA_CTES},
    sizes AS (
      SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz FROM l2 GROUP BY 1)
    SELECT l2.node AS vec_id, l2.lbl AS community, s.sz AS community_size
    FROM l2 JOIN sizes s ON s.lbl = l2.lbl
    """


def _lpa_labels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared LPA kernel: (edges, labels-after-2-sync-rounds). Used by
    community_label_propagation and community_modularity."""
    from kinesis_log_watcher_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = load(spark, sf_dir, "embeddings")
    edges = embedding_near_dup_pairs(emb, threshold=0.35).select(
        "vec_a", "vec_b"
    )
    # Pre-partition the adjacency by the vote key ONCE (the
    # bfs_reach_hops lesson): each round joins labels on nbr, and a
    # cached HashPartitioning(nbr) relation keeps the per-round
    # exchange on the (small) label side only.
    nbrs = (
        edges.select(F.col("vec_a").alias("node"), F.col("vec_b").alias("nbr"))
        .unionAll(
            edges.select(
                F.col("vec_b").alias("node"), F.col("vec_a").alias("nbr")
            )
        )
        .repartition("nbr")
        .persist()
    )
    labels = nbrs.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl"))
    for _ in (1, 2):
        votes = (
            nbrs.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("lbl")
                ),
                "nbr",
            )
            .groupBy("node", "lbl")
            .agg(F.count("*").cast("long").alias("c"))
        )
        labels = (
            votes.select(
                "node", "lbl", F.row_number().over(w).alias("rn")
            )
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return edges, labels


@register(
    "community_label_propagation",
    _LPA_SQL,
    doc="Synchronous label propagation (2 rounds) over the verified "
    "near-dup graph (same LSH-banded, cosine>=0.35 edge set as "
    "neardup_graph_triangles): labels init to node ids; each round "
    "every node adopts its neighbors' MODE label with a deterministic "
    "min-label tie-break. Distinct from dedup_clusters' connected "
    "components: LPA finds DENSE communities (a bridge edge doesn't "
    "merge two cliques, because mode voting outweighs it). Scale "
    "shape: each round is one equi-join (adjacency x labels) + one "
    "count aggregation + one per-node top-1 — all hash-partitioned by "
    "node id, state is one label per node, and the synchronous "
    "mode/min-tie-break semantics are replay-deterministic (unlike "
    "async LPA). The oracle states both rounds as explicit CTEs.",
)
def community_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, labels = _lpa_labels(spark, sf_dir)
    sizes = labels.groupBy("lbl").agg(
        F.count("*").cast("long").alias("community_size")
    )
    return labels.join(sizes, "lbl").select(
        F.col("node").alias("vec_id"),
        F.col("lbl").alias("community"),
        "community_size",
    )


# ---------------------------------------------------------------------------
# 4. doc_lexical_diversity — Simpson index / TTR / hapax rate per doc
# ---------------------------------------------------------------------------

_LEX_SQL = """
    WITH tc AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text IS NOT NULL)
      GROUP BY 1, 2),
    st AS (
      SELECT doc_id,
             CAST(SUM(f) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(f * (f - 1)) AS BIGINT) AS rep_num,
             CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM tc GROUP BY 1)
    SELECT doc_id, n_tokens, n_distinct,
           CAST(n_distinct * 1000000 // n_tokens AS BIGINT) AS ttr_micro,
           CAST(CASE WHEN n_tokens < 2 THEN 0
                     ELSE rep_num * 1000000 // (n_tokens * (n_tokens - 1))
                END AS BIGINT) AS simpson_micro,
           CAST(n_hapax * 1000000 // n_tokens AS BIGINT) AS hapax_micro
    FROM st
    """


@register(
    "doc_lexical_diversity",
    _LEX_SQL,
    doc="Lexical-diversity profile per document: type-token ratio, "
    "Simpson repeat index sum f(f-1)/(n(n-1)) (the probability two "
    "random token draws collide — high = templated/boilerplate text, "
    "a standard pretraining-corpus quality signal), and hapax-legomenon "
    "rate. All three are exact integer rationals in micro-units — no "
    "float anywhere. Distinct from doc_quality_scores (length/stopword "
    "ratios) and doc_repetition_filter (positional n-gram repeats): "
    "this is the frequency-spectrum view. Scale shape: one explode -> "
    "(doc, token) count -> per-doc fold; everything hash-partitions by "
    "doc_id, no window, no sort.",
)
def doc_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tc = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("f"))
    )
    st = tc.groupBy("doc_id").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.col("f") * (F.col("f") - 1)).cast("long").alias("rep_num"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return st.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.expr("n_distinct * 1000000 div n_tokens").alias("ttr_micro"),
        F.when(F.col("n_tokens") < 2, F.lit(0).cast("long"))
        .otherwise(
            F.expr("rep_num * 1000000 div (n_tokens * (n_tokens - 1))")
        )
        .alias("simpson_micro"),
        F.expr("n_hapax * 1000000 div n_tokens").alias("hapax_micro"),
    )


# ---------------------------------------------------------------------------
# 5. zipf_law_fit — log-log OLS over the per-language frequency spectrum
# ---------------------------------------------------------------------------
#
# ln(rank) / ln(freq) are each quantized to int64 micro-nats ONCE per
# point (the RRF/KN-perplexity convention: libm's last ulp differs
# across engines, so never SUM raw doubles), then every OLS moment is an
# exact integer sum and the slope/intercept come from identical double
# closed forms.

_ZIPF_TOP = 100

_ZIPF_SQL = f"""
    WITH tf AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL)
      GROUP BY 1, 2),
    rk AS (
      SELECT lang, f,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY f DESC, tok) AS r
      FROM tf),
    pts AS (
      SELECT lang,
             CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS xq,
             CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS yq
      FROM rk WHERE r <= {_ZIPF_TOP}),
    m AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(SUM(xq) AS BIGINT) AS sx,
             CAST(SUM(yq) AS BIGINT) AS sy,
             CAST(SUM(xq * xq) AS BIGINT) AS sxx,
             CAST(SUM(xq * yq) AS BIGINT) AS sxy
      FROM pts GROUP BY 1),
    fit AS (
      SELECT lang, n_points, sx, sy,
             CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
             CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num
      FROM m)
    SELECT lang, n_points,
           CASE WHEN den <= 0 THEN 0
                ELSE CAST(floor(num / den * 1000000 + 0.5) AS BIGINT)
           END AS slope_micro,
           CASE WHEN den <= 0 THEN 0
                ELSE CAST(floor((CAST(sy AS DOUBLE) - num / den
                                 * CAST(sx AS DOUBLE))
                                / CAST(n_points AS DOUBLE) + 0.5) AS BIGINT)
           END AS intercept_micro
    FROM fit
    """


@register(
    "zipf_law_fit",
    _ZIPF_SQL,
    doc="Zipf's-law exponent per language: OLS slope of ln(freq) on "
    f"ln(rank) over each language's top-{_ZIPF_TOP} token frequencies "
    "(slope ~ -1 for natural text; a corpus whose exponent drifts is a "
    "generation/dedup red flag). Each point's ln() is quantized to "
    "int64 micro-nats BEFORE any aggregation (float addition is not "
    "associative; libm last-ulps differ across engines), so the OLS "
    "moments are exact integers and the slope/intercept are identical "
    "double closed forms quantized once. Scale shape: one explode -> "
    "(lang, token) count; the ranking window runs on the per-language "
    "VOCABULARY relation (bounded by vocabulary size, not corpus "
    "size), and the fit itself is per-language constant work.",
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    tf = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("long").alias("f"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("f").desc(), F.col("tok"))
    pts = (
        tf.select("lang", "f", F.row_number().over(w).alias("r"))
        .filter(F.col("r") <= _ZIPF_TOP)
        .select(
            "lang",
            F.floor(F.log(F.col("r").cast("double")) * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("xq"),
            F.floor(F.log(F.col("f").cast("double")) * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("yq"),
        )
    )
    m = pts.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
    )
    npd = F.col("n_points").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    den = npd * F.col("sxx").cast("double") - sxd * sxd
    num = npd * F.col("sxy").cast("double") - sxd * syd
    return m.select(
        "lang",
        "n_points",
        F.when(den <= 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(num / den * 1000000 + F.lit(0.5)).cast("long")
        )
        .alias("slope_micro"),
        F.when(den <= 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor((syd - num / den * sxd) / npd + F.lit(0.5)).cast("long")
        )
        .alias("intercept_micro"),
    )


# ---------------------------------------------------------------------------
# 6. blocklist_phrase_filter — broadcast multi-phrase containment audit
# ---------------------------------------------------------------------------

# The blocklist is part of the operator definition (both dialects embed
# the same literal list). Substring containment cannot be an equi-join;
# the correct distributed plan for a SMALL pattern set is a broadcast
# nested-loop against the corpus — the build side is the (bounded,
# human-curated) blocklist, never data-sized.
_BLOCKLIST = (
    ("slow fast", "perf"),
    ("fast table", "perf"),
    ("scan slow", "perf"),
    ("batch window spark", "exec"),
    ("scan query big", "exec"),
    ("stream customer group", "exec"),
    ("hash value table", "schema"),
    ("table value part", "schema"),
    ("the line sort", "noise"),
    ("a a the", "noise"),
)

_BL_VALUES = ",\n             ".join(
    f"('{p}', '{c}')" for p, c in _BLOCKLIST
)

_BL_SQL = f"""
    WITH bl(phrase, category) AS (
      VALUES {_BL_VALUES}),
    hits AS (
      SELECT d.doc_id, b.phrase, b.category
      FROM documents d CROSS JOIN bl b
      WHERE strpos(d.text, b.phrase) > 0)
    SELECT category,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COUNT(DISTINCT phrase) AS BIGINT) AS n_phrases_hit
    FROM hits GROUP BY 1
    """


@register(
    "blocklist_phrase_filter",
    _BL_SQL,
    doc="Safety/blocklist filtering: audit the corpus against a curated "
    "multi-phrase blocklist (category-tagged literal substrings), "
    "reporting per category how many documents and phrase occurrences "
    "match. Substring containment is not equi-joinable, so the plan is "
    "the one a 100 TB corpus wants: broadcast the (bounded, curated) "
    "phrase list and stream the corpus through a nested-loop "
    "containment filter — per-row cost is |blocklist| instr() calls, "
    "zero shuffle until the final tiny category rollup. The build side "
    "is the blocklist BY CONTRACT (same bounded-broadcast whitelist "
    "family as the 1-row scalar crossJoins; at thousands of phrases "
    "the swap is an Aho-Corasick mapInPandas kernel, same join shape). "
    "Complements doc_pii_scrub (regex redaction) with exact-phrase "
    "screening.",
)
def blocklist_phrase_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bl = F.broadcast(
        docs.sparkSession.createDataFrame(
            list(_BLOCKLIST), "phrase string, category string"
        )
    )
    hits = docs.join(bl, F.instr(F.col("text"), F.col("phrase")) > 0)
    return hits.groupBy("category").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_hits"),
        F.countDistinct("phrase").cast("long").alias("n_phrases_hit"),
    )


# ---------------------------------------------------------------------------
# 7. pareto_frontier_orders — 2D skyline without a global sort
# ---------------------------------------------------------------------------

_SKY_SQL = """
    WITH pts AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS dd
      FROM orders),
    grp AS (
      SELECT cents, MAX(dd) AS gmax FROM pts GROUP BY 1),
    cnt AS (
      SELECT cents, dd, CAST(COUNT(*) AS BIGINT) AS c
      FROM pts GROUP BY 1, 2),
    frontier AS (
      SELECT g.cents, g.gmax FROM grp g
      WHERE NOT EXISTS (SELECT 1 FROM grp h
                        WHERE h.cents > g.cents AND h.gmax >= g.gmax))
    SELECT f.cents AS price_cents, f.gmax AS last_day, c.c AS n_orders
    FROM frontier f JOIN cnt c ON c.cents = f.cents AND c.dd = f.gmax
    """


@register(
    "pareto_frontier_orders",
    _SKY_SQL,
    doc="Skyline (Pareto frontier) of orders maximizing (price, date): "
    "the non-dominated staircase — no other order is both >= on price "
    "and >= on date with one strict. The oracle states dominance "
    "directly (NOT EXISTS); the engine computes it WITHOUT a global "
    "single-partition sort: dedupe to per-price max-date (one hash "
    "agg), bucket prices into coarse ranges, take per-bucket maxima "
    "(tiny relation) -> prefix-max over buckets, then a per-bucket "
    "window handles strictly-higher prices inside each bucket — every "
    "window is partitioned by bucket, so the staircase merge "
    "parallelizes across the price range instead of serializing on "
    "one sorted partition. Survivors = price groups whose max-date "
    "strictly exceeds every higher price's max-date; the point's "
    "multiplicity comes from an equi-join back to the (price, date) "
    "counts.",
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    pts = orders.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("dd"),
    )
    grp = pts.groupBy("cents").agg(F.max("dd").alias("gmax"))
    cnt = pts.groupBy("cents", "dd").agg(F.count("*").cast("long").alias("c"))
    g = grp.withColumn("bucket", F.expr("cents div 1000000"))
    bmax = g.groupBy("bucket").agg(F.max("gmax").alias("bm"))
    wb = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bpre = bmax.select(
        "bucket", F.coalesce(F.max("bm").over(wb), F.lit(-1)).alias("above")
    )
    wi = (
        Window.partitionBy("bucket")
        .orderBy(F.col("cents").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        g.join(bpre, "bucket")
        .withColumn(
            "inmax", F.coalesce(F.max("gmax").over(wi), F.lit(-1))
        )
        .filter(
            F.col("gmax") > F.greatest(F.col("above"), F.col("inmax"))
        )
        .select("cents", "gmax")
    )
    return sky.join(
        cnt,
        (sky["cents"] == cnt["cents"]) & (sky["gmax"] == cnt["dd"]),
    ).select(
        sky["cents"].alias("price_cents"),
        sky["gmax"].alias("last_day"),
        cnt["c"].alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# 8. weighted_median_price — weighted quantile via value histogram
# ---------------------------------------------------------------------------

_WMED_SQL = """
    WITH cells AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS w
      FROM lineitem GROUP BY 1, 2),
    cum AS (
      SELECT flag, cents, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cumw,
             SUM(w) OVER (PARTITION BY flag) AS tot,
             CAST(COUNT(*) OVER (PARTITION BY flag) AS BIGINT) AS n_prices
      FROM cells)
    SELECT flag AS l_returnflag,
           CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
           CAST(MIN(tot) AS BIGINT) AS total_qty_units,
           MIN(n_prices) AS n_prices
    FROM cum WHERE 2 * cumw >= tot GROUP BY 1
    """


@register(
    "weighted_median_price",
    _WMED_SQL,
    doc="Weighted median (lower) of extended price weighted by quantity, "
    "per returnflag — the weighted-quantile operator (unweighted "
    "median lives in priority_median_price). Decomposed through the "
    "per-value histogram: one fact-table aggregation to (flag, price, "
    "total-weight) cells, then the cumulative-weight scan runs on the "
    "DISTINCT-VALUE relation (bounded by price cardinality, not row "
    "count) and the median is the least value whose cumulative weight "
    "reaches half the total. Exact integer weights (quantity units), "
    "exact cents — no float, no per-row sort. At 100 TB: same "
    "histogram trick the Spearman query uses; per-flag windows touch "
    "|distinct prices| rows.",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).agg(
        F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("w")
    )
    wc = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = Window.partitionBy("flag")
    cum = cells.select(
        "flag",
        "cents",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wf).alias("tot"),
        F.count("*").over(wf).cast("long").alias("n_prices"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("tot"))
        .groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            F.min("cents").cast("long").alias("wmedian_cents"),
            F.min("tot").cast("long").alias("total_qty_units"),
            F.min("n_prices").alias("n_prices"),
        )
    )


# ---------------------------------------------------------------------------
# 9. kcenter_coreset_greedy — farthest-point data selection (3 rounds)
# ---------------------------------------------------------------------------
#
# Greedy k-center (Gonzalez): pick the point with max norm (tie: min
# id), then twice pick the point farthest from all chosen centers.
# Every distance is an EXACT int64 squared distance over the 1e7-
# quantized embedding components (the neardup-edge convention), so the
# argmaxes and covering radii are integer-exact — no float anywhere.

_KC_DOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), z -> z[1] * z[2])) "
    "AS BIGINT)"
)

_KC_SQL = f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5)
                         AS BIGINT)) AS qe
      FROM embeddings),
    p AS (
      SELECT vec_id, qe,
             {_KC_DOT.format(a='qe', b='qe')} AS n2
      FROM q),
    c1 AS (SELECT vec_id, qe, n2 FROM p ORDER BY n2 DESC, vec_id LIMIT 1),
    d1 AS (
      SELECT p.vec_id, p.qe, p.n2,
             p.n2 + c.n2 - 2 * {_KC_DOT.format(a='p.qe', b='c.qe')} AS d
      FROM p CROSS JOIN c1 c),
    c2 AS (SELECT vec_id, qe, n2 FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
    d2 AS (
      SELECT d1.vec_id, d1.qe, d1.n2,
             least(d1.d, d1.n2 + c.n2
                         - 2 * {_KC_DOT.format(a='d1.qe', b='c.qe')}) AS d
      FROM d1 CROSS JOIN c2 c),
    c3 AS (SELECT vec_id, qe, n2 FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
    d3 AS (
      SELECT d2.vec_id,
             least(d2.d, d2.n2 + c.n2
                         - 2 * {_KC_DOT.format(a='d2.qe', b='c.qe')}) AS d
      FROM d2 CROSS JOIN c3 c)
    SELECT CAST(1 AS BIGINT) AS round,
           (SELECT vec_id FROM c1) AS center_id,
           (SELECT CAST(MAX(d) AS BIGINT) FROM d1) AS radius_d2
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           (SELECT vec_id FROM c2),
           (SELECT CAST(MAX(d) AS BIGINT) FROM d2)
    UNION ALL
    SELECT CAST(3 AS BIGINT),
           (SELECT vec_id FROM c3),
           (SELECT CAST(MAX(d) AS BIGINT) FROM d3)
    """


@register(
    "kcenter_coreset_greedy",
    _KC_SQL,
    doc="Greedy k-center coreset selection (Gonzalez farthest-point, "
    "k=3) over the embedding table — the classic diversity-sampling "
    "primitive for training-data selection (each round adds the point "
    "worst-covered by the chosen set, with the covering radius as the "
    "2-approximation certificate). Deterministic: seed = max exact "
    "squared norm (tie: min id); all distances are exact int64 squared "
    "distances on 1e7-quantized components, so argmax and radius are "
    "integer-exact in both dialects. Scale shape: per round ONE "
    "distributed pass — d_new = least(d_old, d2-to-new-center) against "
    "a 1-row broadcast center, then a single max(struct(d, -id)) "
    "aggregate returns the radius AND the next center in the same job "
    "(no sort, no topK); the distance relation persists across rounds "
    "with the superseded round unpersisted (the bpe_train_k_rounds "
    "memory rule). Cost is k scans — the same shape at 100 TB, where "
    "k-means++ seeding and coreset construction run this exact loop.",
)
def kcenter_coreset_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        quantized_embedding,
    )

    emb = load(spark, sf_dir, "embeddings")
    p = emb.select(
        "vec_id", quantized_embedding(F.col("embedding")).alias("qe")
    ).withColumn(
        "n2",
        F.aggregate(
            F.zip_with("qe", "qe", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).persist()

    schema = "round long, center_id long, radius_d2 long"
    # Seed: max exact norm2, tie-break min id — one aggregate job that
    # ALSO carries the winner's (qe, n2) payload in the max-struct, so
    # no separate fetch-the-center job is needed here or per round
    # (payload fields sit after the (n2, ni) compare keys, which are
    # unique per row, so they never influence the argmax).
    seed = p.agg(
        F.max(
            F.struct(F.col("n2"), (-F.col("vec_id")).alias("ni"), F.col("qe"))
        ).alias("m")
    ).collect()
    if not seed or seed[0].m is None:
        p.unpersist()
        return spark.createDataFrame([], schema)

    rows = []
    m = seed[0].m
    center_id, c_qe, c_n2 = -m.ni, m.qe, m.n2
    cur = p
    for rnd in (1, 2, 3):
        carr = F.array(*[F.lit(int(v)).cast("long") for v in c_qe])
        dist = (
            F.col("n2")
            + F.lit(int(c_n2)).cast("long")
            - 2
            * F.aggregate(
                F.zip_with("qe", carr, lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
        nxt = (
            cur.withColumn(
                "d",
                dist if rnd == 1 else F.least(F.col("d"), dist),
            )
        ).persist()
        # One job: covering radius AND the farthest point (next center),
        # with the next center's payload riding the same struct.
        m = nxt.agg(
            F.max(
                F.struct(
                    F.col("d"),
                    (-F.col("vec_id")).alias("ni"),
                    F.col("qe"),
                    F.col("n2"),
                )
            ).alias("m")
        ).collect()[0].m
        rows.append((rnd, center_id, int(m.d)))
        if cur is not p:
            cur.unpersist()
        cur = nxt
        center_id, c_qe, c_n2 = -m.ni, m.qe, m.n2
    cur.unpersist()
    p.unpersist()
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# 10. stream_two_level_agg — chained stateful aggregation in one query
# ---------------------------------------------------------------------------


@register(
    "stream_two_level_agg",
    """
    WITH b AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS b_start,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2)
    SELECT date_trunc('hour', b_start) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS total_n,
           CAST(MAX(n) AS BIGINT) AS max_bucket_n
    FROM b GROUP BY 1, 2
    """,
    doc="Chained stateful aggregation in ONE streaming query (multiple "
    "stateful operators, Spark 3.4+): 10-minute tumbling counts per "
    "event_type re-aggregated into hourly rollups downstream — the "
    "pre-aggregation cascade that keeps a 100 TB metrics pipeline's "
    "wide shuffle at fine granularity while the hourly state stays "
    "tiny. Append mode + watermark (chained aggs forbid complete "
    "mode); the bounded replay flushes final windows through BOTH "
    "stateful operators with two far-future sentinel batches "
    "(streaming/windows.py run_two_level_agg). Oracle = the two-level "
    "batch GROUP BY the replay must reduce to.",
)
def stream_two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.windows import run_two_level_agg

    return run_two_level_agg(spark, f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# 11. ks_two_sample_price — exact two-sample Kolmogorov-Smirnov statistic
# ---------------------------------------------------------------------------
#
# D = max_v |F_A(v) - F_R(v)| computed EXACTLY: the deviation at each
# merged support value is the integer |cum_A*n_R - cum_R*n_A|, so the
# argmax and the micro-quantized D are integer-exact (the EMD-drift
# convention, but for the sup-norm instead of the transport distance).

_KS_SQL = """
    WITH cells AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cr
      FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(cr) AS BIGINT) AS n_r
      FROM cells),
    cum AS (
      SELECT cents,
             SUM(ca) OVER (ORDER BY cents
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_a,
             SUM(cr) OVER (ORDER BY cents
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_r
      FROM cells),
    dev AS (
      SELECT c.cents,
             abs(c.cum_a * t.n_r - c.cum_r * t.n_a) AS num
      FROM cum c CROSS JOIN tot t),
    best AS (
      SELECT num, cents FROM dev ORDER BY num DESC, cents LIMIT 1)
    SELECT t.n_a, t.n_r,
           CAST(b.num * 1000000 // (t.n_a * t.n_r) AS BIGINT)
             AS d_stat_micro,
           b.cents AS d_at_cents
    FROM tot t CROSS JOIN best b
    """


@register(
    "ks_two_sample_price",
    _KS_SQL,
    doc="Exact two-sample Kolmogorov-Smirnov statistic between the "
    "returned ('A') and refused ('R') price distributions: D = sup-norm "
    "gap between the two empirical CDFs, with the per-value deviation "
    "kept as the exact integer |cum_A*n_R - cum_R*n_A| — argmax, "
    "location, and micro-quantized D all integer-exact (the "
    "distribution-shift test complementing value_emd_drift's transport "
    "distance). Scale shape: one fact pass to per-price counts, then "
    "the CDF prefix sums run bucket-two-phase (per-bucket partial sums "
    "+ a prefix over the tiny bucket relation + per-bucket windows — "
    "the pareto_frontier_orders pattern), so no single-partition "
    "global window; the deviation argmax is one max(struct) aggregate. "
    "int64 bound: cum*n < n_a*n_r, fine to ~3e9 rows/side (DECIMAL "
    "swap documented past that).",
)
def ks_two_sample_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    cells = li.groupBy(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    ).agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("cr"),
    )
    tot = cells.groupBy().agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cr").cast("long").alias("n_r"),
    )
    # Bucket-two-phase prefix sums (no single-partition global window).
    g = cells.withColumn("bucket", F.expr("cents div 1000000"))
    bsum = g.groupBy("bucket").agg(
        F.sum("ca").alias("ba"), F.sum("cr").alias("br")
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bpre = bsum.select(
        "bucket",
        F.coalesce(F.sum("ba").over(wb), F.lit(0)).alias("pa"),
        F.coalesce(F.sum("br").over(wb), F.lit(0)).alias("pr"),
    )
    wi = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.join(bpre, "bucket").select(
        "cents",
        (F.col("pa") + F.sum("ca").over(wi)).alias("cum_a"),
        (F.col("pr") + F.sum("cr").over(wi)).alias("cum_r"),
    )
    dev = cum.crossJoin(F.broadcast(tot)).select(
        "n_a",
        "n_r",
        "cents",
        F.abs(
            F.col("cum_a") * F.col("n_r") - F.col("cum_r") * F.col("n_a")
        ).alias("num"),
    )
    best = dev.groupBy().agg(
        F.max(
            F.struct(F.col("num"), (-F.col("cents")).alias("nc"))
        ).alias("m"),
        F.max("n_a").alias("n_a"),
        F.max("n_r").alias("n_r"),
    )
    return best.select(
        "n_a",
        "n_r",
        F.expr("m.num * 1000000 div (n_a * n_r)").alias("d_stat_micro"),
        (-F.col("m.nc")).cast("long").alias("d_at_cents"),
    )


# ---------------------------------------------------------------------------
# 12. neardup_graph_assortativity — degree-degree Pearson over edges
# ---------------------------------------------------------------------------

_ASSORT_SQL = f"""
    WITH {_NEARDUP_EDGE_CTE},
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT vec_a AS v FROM edges
            UNION ALL SELECT vec_b FROM edges)
      GROUP BY 1),
    pts AS (
      SELECT da.d AS x, db.d AS y
      FROM edges e JOIN deg da ON da.v = e.vec_a
                   JOIN deg db ON db.v = e.vec_b
      UNION ALL
      SELECT db.d, da.d
      FROM edges e JOIN deg da ON da.v = e.vec_a
                   JOIN deg db ON db.v = e.vec_b),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pts)
    SELECT n // 2 AS n_edges,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
                  OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0
                THEN 0
                ELSE CAST(floor(
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) END AS r_micro
    FROM m
    """


@register(
    "neardup_graph_assortativity",
    _ASSORT_SQL,
    doc="Degree assortativity of the verified near-dup graph: Pearson "
    "correlation of endpoint degrees over both edge orientations "
    "(Newman's r — positive means hubs link to hubs, the signature of "
    "template-burst duplicate clusters vs scattered pairs). Exact "
    "int64 co-moments over the 2m orientation points, one shared "
    "double closed form quantized to micro once. Scale shape: degrees "
    "are one count aggregation; the orientation points are two "
    "equi-joins of edges x degrees; the final moments are a single "
    "1-row reduce — nothing wider than the edge list shuffles.",
)
def neardup_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = load(spark, sf_dir, "embeddings")
    edges = (
        embedding_near_dup_pairs(emb, threshold=0.35)
        .select("vec_a", "vec_b")
        .persist()
    )
    deg = (
        edges.select(F.col("vec_a").alias("v"))
        .unionAll(edges.select(F.col("vec_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    da = deg.select(F.col("v").alias("vec_a"), F.col("d").alias("dx"))
    db = deg.select(F.col("v").alias("vec_b"), F.col("d").alias("dy"))
    ed = edges.join(da, "vec_a").join(db, "vec_b")
    pts = ed.select(F.col("dx").alias("x"), F.col("dy").alias("y")).unionAll(
        ed.select(F.col("dy").alias("x"), F.col("dx").alias("y"))
    )
    m = pts.groupBy().agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    r = F.floor(
        (nd * F.col("sxy").cast("double") - sxd * syd)
        / F.sqrt(denx * deny)
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    return m.select(
        F.expr("n div 2").alias("n_edges"),
        F.when((denx <= 0) | (deny <= 0), F.lit(0).cast("long"))
        .otherwise(r)
        .alias("r_micro"),
    )


# ---------------------------------------------------------------------------
# 13. community_modularity — Newman Q of the LPA partition
# ---------------------------------------------------------------------------

_MODQ_SQL = f"""
    WITH {_LPA_CTES},
    lab AS (
      SELECT e.vec_a, e.vec_b, la.lbl AS ca, lb.lbl AS cb
      FROM edges e JOIN l2 la ON la.node = e.vec_a
                   JOIN l2 lb ON lb.node = e.vec_b),
    mm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
               AS e_in
      FROM lab),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT vec_a AS v FROM edges
            UNION ALL SELECT vec_b FROM edges)
      GROUP BY 1),
    dc AS (
      SELECT CAST(SUM(s * s) AS BIGINT) AS sum_dc2,
             CAST(COUNT(*) AS BIGINT) AS n_communities
      FROM (SELECT l.lbl, CAST(SUM(g.d) AS BIGINT) AS s
            FROM l2 l JOIN deg g ON g.v = l.node GROUP BY 1))
    SELECT mm.m AS n_edges, dc.n_communities,
           CAST(floor((4.0 * CAST(mm.m AS DOUBLE) * CAST(mm.e_in AS DOUBLE)
                       - CAST(dc.sum_dc2 AS DOUBLE))
                      / (4.0 * CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS q_micro
    FROM mm CROSS JOIN dc
    """


@register(
    "community_modularity",
    _MODQ_SQL,
    doc="Newman modularity Q of the 2-round LPA partition "
    "(community_label_propagation's labels): Q = (4m*E_in - sum_c "
    "d_c^2) / (4m^2) — internal-edge mass vs the degree-preserving "
    "null model; the standard quality certificate for a community "
    "assignment. The numerator/denominator are exact integers (edge "
    "and degree counts), combined in one shared double expression "
    "quantized to micro. Scale shape: on top of the LPA rounds, one "
    "edges-x-labels equi-join (E_in), one degree aggregation, one "
    "per-community degree fold — all hash joins; the Q itself is a "
    "3-scalar combine.",
)
def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, labels = _lpa_labels(spark, sf_dir)
    edges = edges.persist()
    la = labels.select(F.col("node").alias("vec_a"), F.col("lbl").alias("ca"))
    lb = labels.select(F.col("node").alias("vec_b"), F.col("lbl").alias("cb"))
    mm = (
        edges.join(la, "vec_a")
        .join(lb, "vec_b")
        .groupBy()
        .agg(
            F.count("*").cast("long").alias("m"),
            F.sum(F.when(F.col("ca") == F.col("cb"), 1).otherwise(0))
            .cast("long")
            .alias("e_in"),
        )
    )
    deg = (
        edges.select(F.col("vec_a").alias("v"))
        .unionAll(edges.select(F.col("vec_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    dc = (
        labels.join(deg, labels["node"] == deg["v"])
        .groupBy("lbl")
        .agg(F.sum("d").cast("long").alias("s"))
        .groupBy()
        .agg(
            F.sum(F.col("s") * F.col("s")).cast("long").alias("sum_dc2"),
            F.count("*").cast("long").alias("n_communities"),
        )
    )
    md = F.col("m").cast("double")
    q = F.floor(
        (4.0 * md * F.col("e_in").cast("double")
         - F.col("sum_dc2").cast("double"))
        / (4.0 * md * md)
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    return mm.crossJoin(F.broadcast(dc)).select(
        F.col("m").alias("n_edges"), "n_communities", q.alias("q_micro")
    )


# ---------------------------------------------------------------------------
# 14. event_markov_entropy_rate — per-state conditional transition entropy
# ---------------------------------------------------------------------------

_ENT_SQL = """
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    tc AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS nij
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    tot AS (
      SELECT cur, CAST(SUM(nij) AS BIGINT) AS ni,
             CAST(COUNT(*) AS BIGINT) AS n_successors
      FROM tc GROUP BY 1),
    q AS (
      SELECT t.cur, t.nij, o.ni, o.n_successors,
             CAST(floor(ln(CAST(o.ni AS DOUBLE) / CAST(t.nij AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS qij
      FROM tc t JOIN tot o ON o.cur = t.cur)
    SELECT cur AS event_type,
           CAST(MIN(ni) AS BIGINT) AS n_from,
           MIN(n_successors) AS n_successors,
           CAST(SUM(nij * qij) // MIN(ni) AS BIGINT) AS h_cond_nano
    FROM q GROUP BY 1
    """


@register(
    "event_markov_entropy_rate",
    _ENT_SQL,
    doc="Per-state conditional entropy of the first-order event-type "
    "Markov chain: H(next | cur) = sum_j p(j|cur) ln(1/p(j|cur)) over "
    "each user's consecutive event pairs — the information-theoretic "
    "view of the chain event_transition_matrix tabulates (low entropy "
    "= deterministic flows, high = noise; the standard sequence-"
    "predictability diagnostic). Each cell's ln(ni/nij) is nano-"
    "quantized ONCE (libm-ulp rule), then the entropy is an exact "
    "integer fold: sum(nij*qij) // ni. Scale shape: the LEAD window "
    "shuffles by user once (bounded per-user sequences); everything "
    "after lives on the |types|^2 transition relation.",
)
def event_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy("cur", "nxt").agg(F.count("*").cast("long").alias("nij"))
    tot = tc.groupBy("cur").agg(
        F.sum("nij").cast("long").alias("ni"),
        F.count("*").cast("long").alias("n_successors"),
    )
    q = tc.join(tot, "cur").select(
        "cur",
        "nij",
        "ni",
        "n_successors",
        F.floor(
            F.log(F.col("ni").cast("double") / F.col("nij").cast("double"))
            * 1000000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("qij"),
    )
    return q.groupBy(F.col("cur").alias("event_type")).agg(
        F.min("ni").cast("long").alias("n_from"),
        F.min("n_successors").alias("n_successors"),
        (
            F.sum(F.col("nij") * F.col("qij"))
        ).alias("_s"),
    ).select(
        "event_type",
        "n_from",
        "n_successors",
        F.expr("_s div n_from").cast("long").alias("h_cond_nano"),
    )


# ---------------------------------------------------------------------------
# 15. part_status_bitmap — bitmask aggregation rollup
# ---------------------------------------------------------------------------
#
# Low-cardinality set-valued aggregation as an int64 BITMASK: each
# (returnflag, linestatus) combination is one bit; per brand the mask is
# a BIT_OR fold — the bitmap-index rollup that replaces a
# COUNT(DISTINCT combo) + collect_set at scale (masks merge by OR, the
# order-free associative combine; popcount reads the cardinality).

_BITS_SQL = """
    WITH tagged AS (
      SELECT p.p_brand,
             (CASE l.l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1
                                  ELSE 2 END) * 2
             + (CASE l.l_linestatus WHEN 'F' THEN 0 ELSE 1 END) AS bit
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
    SELECT p_brand,
           CAST(bit_or(1::BIGINT << bit) AS BIGINT) AS status_mask,
           CAST(bit_count(bit_or(1::BIGINT << bit)) AS BIGINT)
             AS n_statuses,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM tagged GROUP BY 1
    """


@register(
    "part_status_bitmap",
    _BITS_SQL,
    doc="Bitmap-index rollup: the set of (returnflag, linestatus) "
    "combinations per brand as an int64 bitmask (one bit per combo, "
    "BIT_OR fold) with popcount cardinality — the bitmap aggregation "
    "that replaces COUNT(DISTINCT)/collect_set for low-cardinality "
    "set rollups at scale: masks are 8 bytes of state per group, merge "
    "by OR (order-free, associative, map-side combinable), and "
    "set-algebra across groups is bitwise AND/OR on the tiny result. "
    "Plan: broadcast part dimension join + one hash aggregation.",
)
def part_status_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    bit = (
        F.when(F.col("l_returnflag") == "A", 0)
        .when(F.col("l_returnflag") == "N", 1)
        .otherwise(2)
        * 2
        + F.when(F.col("l_linestatus") == "F", 0).otherwise(1)
    )
    tagged = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li["l_partkey"] == F.col("p_partkey"),
    ).select("p_brand", bit.alias("bit"))
    return tagged.groupBy("p_brand").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))")
        .cast("long")
        .alias("status_mask"),
        F.expr("bit_count(bit_or(shiftleft(CAST(1 AS BIGINT), bit)))")
        .cast("long")
        .alias("n_statuses"),
        F.count("*").cast("long").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# 16. orders_fd_discovery — functional-dependency profiling
# ---------------------------------------------------------------------------

# Candidate FDs are part of the operator definition (a profiler sweeps a
# curated pair list, not the quadratic column square).
_FD_PAIRS = (
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderstatus"),
    ("o_orderstatus", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"),
    ("o_custkey", "o_orderpriority"),
)

_FD_STACK = "\n      UNION ALL ".join(
    f"SELECT '{l}->{r}' AS fd, CAST({l} AS VARCHAR) AS lhs,"
    f" CAST({r} AS VARCHAR) AS rhs FROM orders"
    for l, r in _FD_PAIRS
)

_FD_SQL = f"""
    WITH stacked AS (
      {_FD_STACK}),
    per_lhs AS (
      SELECT fd, lhs, CAST(COUNT(DISTINCT rhs) AS BIGINT) AS k
      FROM stacked GROUP BY 1, 2)
    SELECT fd,
           CAST(COUNT(*) AS BIGINT) AS n_lhs,
           CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(MAX(k) AS BIGINT) AS max_rhs_card,
           CAST(CASE WHEN SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS holds
    FROM per_lhs GROUP BY 1
    """


@register(
    "orders_fd_discovery",
    _FD_SQL,
    doc="Functional-dependency discovery/profiling: for each candidate "
    "FD in a curated pair list, count determinant values, violating "
    "determinants (more than one dependent value), and the max "
    "dependent cardinality — the data-quality primitive behind key "
    "inference and normalization audits (o_orderkey->o_custkey must "
    "hold; o_custkey->o_orderstatus must not). Scale shape: one "
    "column-pruned pass per candidate pair into a (fd, lhs) distinct-"
    "count aggregation — each branch reads exactly two columns, and "
    "the violation rollup runs on the determinant relation. At a "
    "thousand candidates the same stack runs off a column-pair "
    "manifest; nothing is quadratic in columns by construction.",
)
def orders_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    parts = [
        orders.select(
            F.lit(f"{l}->{r}").alias("fd"),
            F.col(l).cast("string").alias("lhs"),
            F.col(r).cast("string").alias("rhs"),
        )
        for l, r in _FD_PAIRS
    ]
    stacked = parts[0]
    for p in parts[1:]:
        stacked = stacked.unionAll(p)
    per_lhs = stacked.groupBy("fd", "lhs").agg(
        F.countDistinct("rhs").cast("long").alias("k")
    )
    return per_lhs.groupBy("fd").agg(
        F.count("*").cast("long").alias("n_lhs"),
        F.sum(F.when(F.col("k") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_violating"),
        F.max("k").cast("long").alias("max_rhs_card"),
        F.when(
            F.sum(F.when(F.col("k") > 1, 1).otherwise(0)) == 0, 1
        )
        .otherwise(0)
        .cast("long")
        .alias("holds"),
    )


# ---------------------------------------------------------------------------
# 17. revenue_cusum_changepoint — CUSUM via prefix-sum/prefix-extrema
# ---------------------------------------------------------------------------
#
# The CUSUM recurrence S_t = max(0, S_{t-1} + x_t - mu) is sequential,
# but it has the closed form S_t = P_t - min_{s<=t} P_s over the prefix
# sums P of the centered series — two windows, no recursion, EXACT
# integers. (Same trick the dynamic-session oracle uses for interval
# unions: turn a fold into prefix extrema.)

# Shared daily-revenue rollup (CUSUM + runs test): exact int64 cents
# per calendar day, day as its ISO string in both dialects.
_DAILY_REV_CTE = """daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1)"""


def _daily_revenue_cents(orders: DataFrame) -> DataFrame:
    """The Spark twin of _DAILY_REV_CTE."""
    return orders.groupBy(
        F.to_date("o_orderdate").cast("string").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("cents")
    )


_CUSUM_SQL = f"""
    WITH {_DAILY_REV_CTE},
    mu AS (
      SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mu FROM daily),
    pre AS (
      SELECT d.day, d.cents,
             SUM(d.cents - m.mu) OVER (ORDER BY d.day
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS p
      FROM daily d CROSS JOIN mu m),
    ext AS (
      SELECT day, cents, p,
             least(0, MIN(p) OVER (ORDER BY day
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)) AS pmin,
             greatest(0, MAX(p) OVER (ORDER BY day
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)) AS pmax
      FROM pre)
    SELECT e.day, e.cents,
           CAST(e.p - e.pmin AS BIGINT) AS cusum_pos,
           CAST(e.pmax - e.p AS BIGINT) AS cusum_neg,
           CAST(CASE WHEN e.p - e.pmin > m.mu
                       OR e.pmax - e.p > m.mu THEN 1 ELSE 0 END
                AS BIGINT) AS breach
    FROM ext e CROSS JOIN mu m
    """


@register(
    "revenue_cusum_changepoint",
    _CUSUM_SQL,
    doc="CUSUM changepoint monitoring over daily revenue: one-sided "
    "positive/negative cumulative sums of the mean-centered series, "
    "with a breach flag when either side exceeds one average day's "
    "revenue. The sequential recurrence max(0, S+x-mu) is rewritten as "
    "its closed form P_t - min_prefix(P) / max_prefix(P) - P_t — two "
    "prefix-extrema windows, EXACT int64 cents end to end, no "
    "recursion and no float. Scale shape: the fact pass is one daily "
    "rollup; every window runs on the per-DAY relation (bounded by "
    "the horizon), and the integer mean is a 1-row broadcast.",
)
def revenue_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    daily = _daily_revenue_cents(orders)
    mu = daily.groupBy().agg(
        F.expr("sum(cents) div count(*)").cast("long").alias("mu")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = daily.crossJoin(F.broadcast(mu)).select(
        "day",
        "cents",
        "mu",
        F.sum(F.col("cents") - F.col("mu")).over(w).alias("p"),
    )
    # The recurrence's prefix extrema include the EMPTY prefix P_0 = 0
    # (S starts at 0), so clamp the window extrema through 0.
    ext = pre.select(
        "day",
        "cents",
        "mu",
        "p",
        F.least(F.lit(0), F.min("p").over(w)).alias("pmin"),
        F.greatest(F.lit(0), F.max("p").over(w)).alias("pmax"),
    )
    return ext.select(
        "day",
        "cents",
        (F.col("p") - F.col("pmin")).cast("long").alias("cusum_pos"),
        (F.col("pmax") - F.col("p")).cast("long").alias("cusum_neg"),
        F.when(
            (F.col("p") - F.col("pmin") > F.col("mu"))
            | (F.col("pmax") - F.col("p") > F.col("mu")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("breach"),
    )


# ---------------------------------------------------------------------------
# 18. bigram_greedy_generation — deterministic greedy LM decoding
# ---------------------------------------------------------------------------

_GEN_STEPS = 8

_GEN_SQL = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts
      FROM documents WHERE text IS NOT NULL),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY 1),
    bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
                   unnest(list_slice(ts, 2, len(ts))) AS w2
            FROM toks WHERE len(ts) >= 2)
      GROUP BY 1, 2),
    gen AS (
      SELECT 1 AS step,
             (SELECT tok FROM uni ORDER BY f DESC, tok LIMIT 1) AS tok
      UNION ALL
      SELECT g.step + 1,
             (SELECT b.w2 FROM bi b WHERE b.w1 = g.tok
              ORDER BY b.c DESC, b.w2 LIMIT 1)
      FROM gen g
      WHERE g.step < {_GEN_STEPS} AND g.tok IS NOT NULL)
    SELECT CAST(step AS BIGINT) AS step, tok
    FROM gen WHERE tok IS NOT NULL
    """


@register(
    "bigram_greedy_generation",
    "WITH RECURSIVE " + _GEN_SQL.lstrip().removeprefix("WITH "),
    doc="Deterministic greedy decoding from the corpus bigram language "
    f"model: start at the most frequent unigram, take {_GEN_STEPS - 1} "
    "argmax-successor steps (ties broken by token order) — the "
    "inference-side complement to the BPE/KN training operators, and "
    "the exactness pattern for iterative decode loops: the MODEL (the "
    "bigram relation) is built in one distributed pass and persisted; "
    "each step is a 1-row filtered argmax over it (max(struct(c, "
    "tok)) — no sort), so k steps cost k tiny jobs, not k corpus "
    "scans. The oracle states the same walk as a recursive CTE with "
    "correlated argmax subqueries.",
)
def bigram_greedy_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(F.split("text", " ").alias("ts"))
    uni = (
        toks.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("f"))
    )
    pairs = toks.select(
        F.expr(
            "transform(sequence(1, size(ts) - 1),"
            " i -> struct(ts[i - 1] AS w1, ts[i] AS w2))"
        ).alias("ps")
    ).select(F.explode("ps").alias("p"))
    bi = (
        pairs.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Greedy walk: argmax count with MIN-token tie-break is exactly
    # orderBy(c DESC, token ASC) LIMIT 1 — a TakeOrderedAndProject, one
    # stage and ONE driver round-trip per step (the old two-job
    # max-then-min-over-the-max-slice protocol paid double the
    # scheduling latency per step; measured 5.1s -> 3.9s at sf0.1,
    # identical walk).
    rows: list[tuple[int, str]] = []
    start = uni.orderBy(F.col("f").desc(), F.col("tok").asc()).limit(1).collect()
    if start:
        tok = start[0].tok
        rows.append((1, tok))
        for step in range(2, _GEN_STEPS + 1):
            nxt = (
                bi.filter(F.col("w1") == tok)
                .orderBy(F.col("c").desc(), F.col("w2").asc())
                .limit(1)
                .collect()
            )
            if not nxt:
                break
            tok = nxt[0].w2
            rows.append((step, tok))
    bi.unpersist()
    return docs.sparkSession.createDataFrame(rows, "step long, tok string")


# ---------------------------------------------------------------------------
# 19. cogroup_order_event_reconcile — cogrouped applyInPandas
# ---------------------------------------------------------------------------

_COGROUP_SQL = """
    WITH o AS (
      SELECT o_custkey AS id,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS order_cents
      FROM orders GROUP BY 1),
    e AS (
      SELECT user_id AS id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_milli
      FROM events GROUP BY 1)
    SELECT COALESCE(o.id, e.id) AS id,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(o.order_cents, 0) AS order_cents,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(e.value_milli, 0) AS value_milli,
           CASE WHEN o.id IS NULL THEN 'events_only'
                WHEN e.id IS NULL THEN 'orders_only'
                ELSE 'both' END AS presence
    FROM o FULL OUTER JOIN e ON e.id = o.id
    """


@register(
    "cogroup_order_event_reconcile",
    _COGROUP_SQL,
    doc="COGROUPED applyInPandas (the two-sided Arrow-batched kernel — "
    "the one pandas-API surface the engine had not yet exercised): "
    "orders and events are co-partitioned by entity id and each "
    "(left-group, right-group) pandas pair is reconciled in one kernel "
    "call — per-entity counts, exact integer cents/milli totals, and a "
    "presence verdict covering one-sided entities on BOTH sides. The "
    "batch oracle states the same reconcile as FULL OUTER JOIN of two "
    "aggregates. Scale shape: cogroup shuffles each side once by id "
    "(exactly like the join it replaces) and streams Arrow batches "
    "per key group; the kernel is the escape hatch for reconcile "
    "logic joins can't express (per-pair sequence alignment, custom "
    "matching) — here it computes integer folds so the oracle can "
    "hash-match it.",
)
def cogroup_order_event_reconcile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    # Two scale rules compose here: (1) pre-aggregate each side BEFORE
    # the cogroup so the shuffle carries one row per entity, and (2)
    # cogroup on a COARSE bucket (id % 64), reconciling per-entity with
    # a VECTORIZED pandas outer-merge inside each bucket's kernel call
    # — per-key kernel invocation costs ~2.5ms of Arrow/python overhead
    # (15k entities read 38s at sf0.1), while 64 bucketed calls do the
    # identical reconcile in ~1s. Same pattern a 100 TB run uses: the
    # bucket count scales with cores, never with entities.
    orders = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("id"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("cents"),
        )
        .withColumn("bucket", F.expr("id % 64"))
    )
    events = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("id"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("milli"),
        )
        .withColumn("bucket", F.expr("id % 64"))
    )

    def reconcile(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # cogroup hands over SCHEMA-TYPED frames even when a side is
        # empty, so the merge stays int64-dtyped with no object fallback
        lo = left[["id", "n_rows", "cents"]].rename(
            columns={"n_rows": "n_orders", "cents": "order_cents"}
        )
        ro = right[["id", "n_rows", "milli"]].rename(
            columns={"n_rows": "n_events", "milli": "value_milli"}
        )
        m = lo.merge(ro, on="id", how="outer", indicator=True)
        m["presence"] = m["_merge"].map(
            {
                "both": "both",
                "left_only": "orders_only",
                "right_only": "events_only",
            }
        )
        for c in ("n_orders", "order_cents", "n_events", "value_milli"):
            m[c] = m[c].fillna(0).astype("int64")
        m["id"] = m["id"].astype("int64")
        return m[
            [
                "id",
                "n_orders",
                "order_cents",
                "n_events",
                "value_milli",
                "presence",
            ]
        ]

    return (
        orders.groupBy("bucket")
        .cogroup(events.groupBy("bucket"))
        .applyInPandas(
            reconcile,
            "id long, n_orders long, order_cents long, n_events long,"
            " value_milli long, presence string",
        )
    )


# ---------------------------------------------------------------------------
# 20. priority_anova_f — one-way ANOVA with a fixed-order float fold
# ---------------------------------------------------------------------------
#
# Between/within variance decomposition from exact per-group decimal
# moments. The cross-GROUP reduction of double terms is the one float
# sum a partitioning could reorder — so it runs as an ORDERED prefix
# sum over the (tiny, sorted) group relation: both engines fold
# left-to-right in priority order, the relational form of the
# "contributions summed in FIXED term order" rule the retrieval
# scorers use.

_ANOVA_SQL = """
    WITH g AS (
      SELECT o_orderpriority AS pri,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS s,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))
                      * CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
               AS ss
      FROM orders GROUP BY 1),
    terms AS (
      SELECT pri, n, s, ss, s * s / CAST(n AS DOUBLE) AS t
      FROM g),
    folded AS (
      SELECT SUM(CAST(n AS DOUBLE)) OVER w AS nn,
             SUM(s) OVER w AS ssum,
             SUM(ss) OVER w AS sssum,
             SUM(t) OVER w AS tsum,
             CAST(COUNT(*) OVER w AS BIGINT) AS k,
             ROW_NUMBER() OVER (ORDER BY pri DESC) AS rev
      FROM terms
      WINDOW w AS (ORDER BY pri ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW))
    SELECT k AS k_groups, CAST(nn AS BIGINT) AS n_total,
           CASE WHEN k < 2 OR nn <= k
                  OR (sssum - tsum) <= 0 THEN 0
                ELSE CAST(floor(
                  ((tsum - ssum * ssum / nn) / (k - 1))
                  / ((sssum - tsum) / (nn - k))
                  * 1000000 + 0.5) AS BIGINT) END AS f_stat_micro
    FROM folded WHERE rev = 1
    """


@register(
    "priority_anova_f",
    _ANOVA_SQL,
    doc="One-way ANOVA F statistic across order priorities: "
    "between-group vs within-group variance from exact per-group "
    "decimal moments (n, sum, sum-of-squares — map-side partial "
    "aggregation, order never matters), converted to double once. The "
    "cross-group combine is the one float reduction partitioning could "
    "reorder, so it folds as an ORDERED prefix sum over the sorted "
    "5-row group relation — deterministic left-to-right IEEE adds in "
    "both dialects. Complements ab_welch_ttest (pairwise, unequal "
    "variance) with the k-group omnibus test. Scale: one fact pass; "
    "everything after lives on k rows.",
)
def priority_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    x = dec(F.col("o_totalprice"), 28, 2)
    g = orders.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("double").alias("s"),
        F.sum(x * x).cast("double").alias("ss"),
    )
    terms = g.select(
        "pri",
        "n",
        "s",
        "ss",
        (F.col("s") * F.col("s") / F.col("n").cast("double")).alias("t"),
    )
    w = Window.orderBy("pri").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    folded = terms.select(
        F.sum(F.col("n").cast("double")).over(w).alias("nn"),
        F.sum("s").over(w).alias("ssum"),
        F.sum("ss").over(w).alias("sssum"),
        F.sum("t").over(w).alias("tsum"),
        F.count("*").over(w).cast("long").alias("k"),
        F.row_number()
        .over(Window.orderBy(F.col("pri").desc()))
        .alias("rev"),
    ).filter(F.col("rev") == 1)
    kd = F.col("k").cast("double")
    ssb = F.col("tsum") - F.col("ssum") * F.col("ssum") / F.col("nn")
    ssw = F.col("sssum") - F.col("tsum")
    fstat = F.floor(
        (ssb / (kd - 1)) / (ssw / (F.col("nn") - kd)) * 1000000 + F.lit(0.5)
    ).cast("long")
    return folded.select(
        F.col("k").alias("k_groups"),
        F.col("nn").cast("long").alias("n_total"),
        F.when(
            (F.col("k") < 2) | (F.col("nn") <= kd) | (ssw <= 0),
            F.lit(0).cast("long"),
        )
        .otherwise(fstat)
        .alias("f_stat_micro"),
    )


# ---------------------------------------------------------------------------
# 21. customer_rfm_segmentation — quintile-scored RFM rollup
# ---------------------------------------------------------------------------

_RFM_SQL = """
    WITH cust AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY 1),
    scored AS (
      SELECT o_custkey, monetary_cents,
             NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
               AS m_score
      FROM cust)
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS total_cents
    FROM scored GROUP BY 1, 2, 3
    """


@register(
    "customer_rfm_segmentation",
    _RFM_SQL,
    doc="RFM (recency / frequency / monetary) customer segmentation: "
    "per-customer metrics from one orders pass, quintile scores via "
    "NTILE with a deterministic (metric, custkey) total order (score "
    "1 = most recent / most frequent / highest spend), rolled up to "
    "the 125-cell segment grid with exact cent totals. Scale shape: "
    "the fact pass is one partial-agg shuffle to per-customer rows; "
    "the NTILE ranks run over the CUSTOMER relation — at 100 TB swap "
    "them for quantile-threshold joins (the source_quantile_normalize "
    "pattern) against a 4-value boundary broadcast, same output.",
)
def customer_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    mx = orders.groupBy().agg(F.max(F.to_date("o_orderdate")).alias("mxd"))
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff(F.col("mxd"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = cust.select(
        "o_custkey",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .cast("long")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), "o_custkey"))
        .cast("long")
        .alias("f_score"),
        F.ntile(5)
        .over(
            Window.orderBy(F.col("monetary_cents").desc(), "o_custkey")
        )
        .cast("long")
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# 22. conformal_interval_calibration — split-conformal quantile per type
# ---------------------------------------------------------------------------

_CONF_SQL = """
    WITH v AS (
      SELECT event_id, event_type,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS milli
      FROM events WHERE value IS NOT NULL),
    mu AS (
      SELECT event_type, CAST(SUM(milli) // COUNT(*) AS BIGINT) AS mean_milli,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v GROUP BY 1),
    nc AS (
      SELECT v.event_type, v.event_id, m.n,
             abs(v.milli - m.mean_milli) AS score
      FROM v JOIN mu m ON m.event_type = v.event_type),
    ranked AS (
      SELECT event_type, n, score,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY score, event_id) AS rn
      FROM nc),
    qh AS (
      SELECT event_type, n, CAST(score AS BIGINT) AS qhat_milli
      FROM ranked
      WHERE rn = least(n, CAST(ceil(0.9 * (n + 1)) AS BIGINT)))
    SELECT q.event_type, q.n, q.qhat_milli,
           CAST(SUM(CASE WHEN c.score <= q.qhat_milli THEN 1 ELSE 0 END)
                * 1000000 // q.n AS BIGINT) AS coverage_micro
    FROM qh q JOIN nc c ON c.event_type = q.event_type
    GROUP BY 1, 2, 3
    """


@register(
    "conformal_interval_calibration",
    _CONF_SQL,
    doc="Split-conformal calibration per event type: nonconformity = "
    "|value - integer group mean| in exact milli units; q-hat = the "
    "ceil(0.9(n+1))-th order statistic (the finite-sample conformal "
    "quantile, capped at n) selected by rank with a deterministic "
    "(score, event_id) tie-break; empirical coverage re-checked "
    "against q-hat as an exact integer share (>= 900000 micro by the "
    "conformal guarantee). The eval primitive for distribution-free "
    "prediction intervals over model scores. Scale shape: one fact "
    "pass to milli scores, integer mean as a per-group join, the rank "
    "runs per type (two-phase top-k swap documented for hot types), "
    "coverage is one counting join back.",
)
def conformal_interval_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias(
            "milli"
        ),
    )
    mu = v.groupBy("event_type").agg(
        F.expr("sum(milli) div count(*)").cast("long").alias("mean_milli"),
        F.count("*").cast("long").alias("n"),
    )
    nc = v.join(mu, "event_type").select(
        "event_type",
        "event_id",
        "n",
        F.abs(F.col("milli") - F.col("mean_milli")).alias("score"),
    ).persist()
    w = Window.partitionBy("event_type").orderBy("score", "event_id")
    qh = (
        nc.select(
            "event_type", "n", "score", F.row_number().over(w).alias("rn")
        )
        .filter(
            F.col("rn")
            == F.least(
                F.col("n"),
                F.ceil(0.9 * (F.col("n") + 1)).cast("long"),
            )
        )
        .select("event_type", "n", F.col("score").cast("long").alias("qhat_milli"))
    )
    return (
        nc.select("event_type", "score")
        .join(qh, "event_type")
        .groupBy("event_type", "n", "qhat_milli")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN score <= qhat_milli THEN 1 ELSE 0 END)"
                " * 1000000 div min(n) AS BIGINT)"
            ).alias("coverage_micro")
        )
    )


# ---------------------------------------------------------------------------
# 23. stream_cusum_alerts — stateful streaming SPC monitor
# ---------------------------------------------------------------------------


@register(
    "stream_cusum_alerts",
    f"""
    WITH v AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS milli
      FROM events WHERE value IS NOT NULL),
    pre AS (
      SELECT event_type, ts, event_id,
             SUM(milli - {50_000}) OVER w AS p
      FROM v
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    ext AS (
      SELECT event_type, p,
             least(0, MIN(p) OVER w) AS pmin,
             greatest(0, MAX(p) OVER w) AS pmax,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC) AS rev
      FROM pre
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    agg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN p - pmin > {100_000}
                             OR pmax - p > {100_000}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_breaches
      FROM ext GROUP BY 1),
    fin AS (
      SELECT event_type, CAST(p - pmin AS BIGINT) AS cusum_pos,
             CAST(pmax - p AS BIGINT) AS cusum_neg
      FROM ext WHERE rev = 1)
    SELECT a.event_type, a.n, f.cusum_pos, f.cusum_neg, a.n_breaches
    FROM agg a JOIN fin f ON f.event_type = a.event_type
    """,
    doc="Stateful streaming CUSUM control chart (statistical process "
    "control): per event_type, the cumulative deviation from a fixed "
    "control target (50.0) with running extrema and breach counting "
    "(either CUSUM side exceeding 100.0), maintained incrementally in "
    "5 int64s of state per key by an applyInPandasWithState kernel "
    "(streaming/cusum.py). Rows fold in exact (ts, event_id) order — "
    "Arrow chunks concatenated before sorting, replay staged as "
    "TIME-SPLIT batches so the cross-batch continuation preserves the "
    "order — and each batch emits a monotone per-key snapshot whose "
    "bounded-replay reduction is one max(struct). The oracle states "
    "the same fold as the batch prefix-extrema closed form "
    "(revenue_cusum_changepoint's trick, per key, plus breach rows). "
    "A data-derived mean would not be incrementally maintainable; the "
    "fixed target is the SPC semantics.",
)
def stream_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.cusum import run_stream_cusum

    return run_stream_cusum(spark, f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# 24-25. kinesis_sim_* — the custom Python DataSource, oracle-verified
# ---------------------------------------------------------------------------
#
# The simulator emits records as a PURE FUNCTION of (shard, seq)
# (sources/kinesis_sim.py sim_record), so DuckDB can regenerate the
# identical stream with generate_series and the whole source → envelope
# → JSON-access pipeline is hash-checked end to end. Both queries run
# the same rollup; one reads the BATCH reader, one replays the STREAM
# reader (per-shard offset map, bounded per-trigger batches) — the
# bounded stream must reduce to the batch answer.

_SIM_SHARDS = 4
_SIM_PER_SHARD = 250

_SIM_ORACLE = f"""
    WITH seqs AS (
      SELECT s.s AS shard, q.q AS seq
      FROM generate_series(0, {_SIM_SHARDS - 1}) s(s),
           generate_series(0, {_SIM_PER_SHARD - 1}) q(q)),
    rec AS (
      SELECT 'i-' || lpad(CAST(shard AS VARCHAR), 4, '0') AS short_host,
             CASE seq % 3 WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
                          ELSE 'error' END AS level,
             CAST((seq * 7 + shard * 3) % 500 AS BIGINT) AS latency,
             seq
      FROM seqs)
    SELECT short_host, level,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(latency) AS BIGINT) AS sum_latency_ms,
           CAST(MIN(seq) AS BIGINT) AS min_seq,
           CAST(MAX(seq) AS BIGINT) AS max_seq
    FROM rec GROUP BY 1, 2
    """


def _sim_rollup(raw: DataFrame) -> DataFrame:
    from kinesis_log_watcher_spark.envelope import short_host_id

    entry = F.col("data").cast("string")
    return (
        raw.select(
            short_host_id(F.col("partitionKey")).alias("short_host"),
            F.get_json_object(entry, "$.level").alias("level"),
            F.get_json_object(entry, "$.latency_ms")
            .cast("long")
            .alias("latency"),
            F.substring("sequenceNumber", 5, 16).cast("long").alias("seq"),
        )
        .groupBy("short_host", "level")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("latency").cast("long").alias("sum_latency_ms"),
            F.min("seq").cast("long").alias("min_seq"),
            F.max("seq").cast("long").alias("max_seq"),
        )
    )


@register(
    "kinesis_sim_batch_scan",
    _SIM_ORACLE,
    doc="Custom Python DataSource (Spark 4 DataSource API), BATCH path: "
    "the offline Kinesis simulator (sources/kinesis_sim.py) exposes "
    "the reference's stream semantics as a real Spark source — one "
    "InputPartition per shard (main.go:176-178's goroutine-per-shard), "
    "zero-padded per-shard sequence numbers (main.go:320,362) — and "
    "this query drives source → envelope (ShortHostId derivation, "
    "envelope.py) → lenient JSON access → rollup. Every record is a "
    "pure function of (shard, seq), so the DuckDB oracle regenerates "
    "the stream with generate_series and hash-verifies the ENTIRE "
    "source implementation, not just the query.",
)
def kinesis_sim_batch_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )

    register_sim_source(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("shards", str(_SIM_SHARDS))
        .option("recordsPerShard", str(_SIM_PER_SHARD))
        .load()
    )
    return _sim_rollup(raw)


@register(
    "stream_kinesis_sim_scan",
    _SIM_ORACLE,
    doc="Custom Python DataSource, STREAMING path: the same simulator "
    "consumed through DataSourceStreamReader — per-shard sequence-"
    "number offset maps (initialOffset/latestOffset/partitions), "
    "checkpoint-resumable exactly like the reference's "
    "latestSequenceNumber tracking (W4), with maxRecordsPerPull "
    "bounding each input-partition pull (S3, the GetRecords <=10k "
    "limit). The bounded "
    "replay's rollup must equal the batch reader's — and both must "
    "equal the generate_series oracle.",
)
def kinesis_sim_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.sources.files import run_replay
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )

    register_sim_source(spark)
    raw = (
        spark.readStream.format("kinesis_sim")
        .option("shards", str(_SIM_SHARDS))
        .option("recordsPerShard", str(_SIM_PER_SHARD))
        .option("maxRecordsPerPull", "100")
        .load()
    )
    agg = _sim_rollup(raw)
    return run_replay(agg, "complete", "sim_stream")


# ---------------------------------------------------------------------------
# 26. customer_l_diversity — the sensitive-attribute privacy audit
# ---------------------------------------------------------------------------


@register(
    "customer_l_diversity",
    """
    WITH qid AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                                  AS BIGINT) AS DOUBLE) / 100000.0)
                  AS BIGINT) AS bal_band
      FROM customer),
    classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS l_distinct
      FROM qid GROUP BY 1, 2)
    SELECT l_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           (l_distinct < 3) AS violates_l3
    FROM classes GROUP BY 1
    """,
    doc="l-diversity audit (Machanavajjhala 2007) — the privacy gate "
    "k-anonymity alone cannot provide: a class can be k-large yet leak "
    "its SENSITIVE attribute if every member shares one value "
    "(homogeneity attack). QID = (nation, segment); sensitive = the "
    "$1000 balance band (exact-cents bucketing, identical in both "
    "dialects); output = the histogram of per-class distinct-sensitive "
    "counts with the l=3 violation flag. Together with "
    "customer_k_anonymity this completes the release-gate pair. Scale "
    "shape: one QID-grouped distinct-count aggregation, then a "
    "one-row-per-distinct-l histogram exchange.",
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    cust = load(spark, sf_dir, "customer")
    qid = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            (dec(F.col("c_acctbal"), 12, 2) * 100)
            .cast("long")
            .cast("double")
            / 100000.0
        )
        .cast("long")
        .alias("bal_band"),
    )
    classes = qid.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("class_size"),
        F.countDistinct("bal_band").cast("long").alias("l_distinct"),
    )
    return classes.groupBy("l_distinct").agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("class_size").cast("long").alias("n_rows"),
        F.min(F.col("l_distinct") < 3).alias("violates_l3"),
    )


# ---------------------------------------------------------------------------
# 27. zone_map_skip_audit — layout-quality audit via min/max pruning
# ---------------------------------------------------------------------------
#
# Zone maps (parquet row-group min/max stats) only prune if the LAYOUT
# clusters the filtered column. This audit quantifies that: bucket the
# fact table two ways — natural arrival order (orderkey ranges) vs a
# Z-order interleave of (ship-day, partkey) — compute each bucket's
# ship-day min/max "zone map", and measure, for a panel of date-range
# predicates, how many buckets (and rows) each layout can skip.

_ZM_BITS = 12
_ZM_DAY0 = 8000  # days since epoch ~1991-11: ship dates start ~day 8036,
# so d_rel stays in [0, 2^12) across the TPC-H horizon (morton_code
# requires non-negative inputs; a negative day would alias buckets)
_ZM_TERMS = " | ".join(
    f"(((d_rel >> {i}) & 1) << {2 * i}) | "
    f"(((l_partkey >> {i}) & 1) << {2 * i + 1})"
    for i in range(_ZM_BITS)
)
# (pred_id, lo, hi) in epoch days — absolute literals shared verbatim
_ZM_PREDS = ((1, 9255, 9285), (2, 9590, 9680), (3, 9950, 10130))
_ZM_PRED_VALUES = ", ".join(f"({p}, {lo}, {hi})" for p, lo, hi in _ZM_PREDS)

_ZM_SQL = f"""
    WITH base AS (
      SELECT l_orderkey, l_partkey,
             date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               AS day
      FROM lineitem),
    tagged AS (
      SELECT 'natural' AS layout, l_orderkey // 256 AS bucket, day
      FROM base
      UNION ALL
      SELECT 'zorder',
             (({_ZM_TERMS}) >> 16) AS bucket, day
      FROM (SELECT l_partkey, day, day - {_ZM_DAY0} AS d_rel FROM base)),
    zones AS (
      SELECT layout, bucket,
             MIN(day) AS lo_d, MAX(day) AS hi_d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM tagged GROUP BY 1, 2),
    preds(pred_id, lo, hi) AS (VALUES {_ZM_PRED_VALUES})
    SELECT z.layout, CAST(p.pred_id AS BIGINT) AS pred_id,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN z.hi_d < p.lo OR z.lo_d > p.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
           CAST(SUM(CASE WHEN z.hi_d < p.lo OR z.lo_d > p.hi
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS skip_micro,
           CAST(SUM(CASE WHEN z.hi_d < p.lo OR z.lo_d > p.hi
                         THEN z.n ELSE 0 END) AS BIGINT) AS rows_skipped
    FROM zones z CROSS JOIN preds p
    GROUP BY 1, 2
    """


@register(
    "zone_map_skip_audit",
    _ZM_SQL,
    doc="Zone-map (min/max statistics) skipping audit: quantifies how "
    "much scan pruning each physical LAYOUT buys before anything is "
    "written — natural arrival order (orderkey range buckets) vs a "
    "Z-order interleave of (ship-day, partkey) — by building each "
    "bucket's ship-day zone map and counting, for a panel of "
    "date-range predicates, the buckets and rows whose [min,max] is "
    "disjoint from the range (exactly the row-group pruning parquet "
    "stats would perform). The Z-ordered layout must dominate on the "
    "date predicates — the measured justification for "
    "lineitem_zorder_buckets' clustered write. Exact integers end to "
    "end; the predicate panel is a bounded literal broadcast.",
)
def zone_map_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.sources.files import morton_code

    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_partkey",
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
    )
    natural = base.select(
        F.lit("natural").alias("layout"),
        F.expr("l_orderkey div 256").alias("bucket"),
        "day",
    )
    z = morton_code(
        F.col("day") - F.lit(_ZM_DAY0), F.col("l_partkey"), _ZM_BITS
    )
    zorder = base.select(
        F.lit("zorder").alias("layout"),
        F.shiftright(z, 16).cast("long").alias("bucket"),
        "day",
    )
    zones = (
        natural.unionAll(zorder)
        .groupBy("layout", "bucket")
        .agg(
            F.min("day").alias("lo_d"),
            F.max("day").alias("hi_d"),
            F.count("*").cast("long").alias("n"),
        )
    )
    preds = F.broadcast(
        li.sparkSession.createDataFrame(
            list(_ZM_PREDS), "pred_id long, lo long, hi long"
        )
    )
    skippable = (F.col("hi_d") < F.col("lo")) | (F.col("lo_d") > F.col("hi"))
    return (
        zones.crossJoin(preds)
        .groupBy("layout", "pred_id")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(F.when(skippable, 1).otherwise(0))
            .cast("long")
            .alias("n_skippable"),
            F.expr(
                "CAST(sum(CASE WHEN hi_d < lo OR lo_d > hi THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("skip_micro"),
            F.sum(F.when(skippable, F.col("n")).otherwise(0))
            .cast("long")
            .alias("rows_skipped"),
        )
    )


# ---------------------------------------------------------------------------
# 28. revenue_runs_test — Wald-Wolfowitz randomness test
# ---------------------------------------------------------------------------

_RUNS_SQL = f"""
    WITH {_DAILY_REV_CTE},
    med AS (
      SELECT cents AS m FROM (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, day) AS rn,
               COUNT(*) OVER () AS nn
        FROM daily) WHERE rn = (nn + 1) // 2),
    signs AS (
      SELECT d.day, CASE WHEN d.cents > m.m THEN 1 ELSE 0 END AS s
      FROM daily d CROSS JOIN med m),
    runs AS (
      SELECT s,
             CASE WHEN LAG(s) OVER (ORDER BY day) IS NULL
                    OR LAG(s) OVER (ORDER BY day) <> s
                  THEN 1 ELSE 0 END AS brk
      FROM signs),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS n_above,
             CAST(COUNT(*) - SUM(s) AS BIGINT) AS n_below,
             CAST(SUM(brk) AS BIGINT) AS n_runs
      FROM runs)
    SELECT n AS n_days, n_above, n_below, n_runs,
           CASE WHEN n_above = 0 OR n_below = 0 OR n < 2 THEN 0
                ELSE CAST(floor(
                  (CAST(n_runs AS DOUBLE)
                   - (1.0 + 2.0 * CAST(n_above AS DOUBLE)
                            * CAST(n_below AS DOUBLE) / CAST(n AS DOUBLE)))
                  / sqrt(2.0 * CAST(n_above AS DOUBLE)
                             * CAST(n_below AS DOUBLE)
                         * (2.0 * CAST(n_above AS DOUBLE)
                                * CAST(n_below AS DOUBLE)
                            - CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * (CAST(n AS DOUBLE) - 1.0)))
                  * 1000000 + 0.5) AS BIGINT) END AS z_micro
    FROM agg
    """


@register(
    "revenue_runs_test",
    _RUNS_SQL,
    doc="Wald-Wolfowitz runs test for randomness of the daily-revenue "
    "series around its (lower) median: the run count R over the "
    "above/below-median sign sequence is an exact integer (LAG "
    "transitions + 1, with ties deterministically 'below'), and the "
    "normal-approximation z-score comes from the closed form E[R] = "
    "1 + 2·n1·n2/n, Var[R] = 2n1n2(2n1n2−n)/(n²(n−1)) — identical "
    "double sequences in both dialects, micro-quantized once. "
    "Complements Mann-Kendall (monotone trend) and CUSUM (level "
    "shifts) with the serial-dependence alarm. Scale: one fact pass "
    "to the daily relation; the sign/run windows live on the "
    "calendar-bounded series.",
)
def revenue_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    daily = _daily_revenue_cents(orders)
    wall = Window.orderBy("cents", "day")
    med = (
        daily.select(
            "cents",
            F.row_number().over(wall).alias("rn"),
            F.count("*").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("nn"),
        )
        .filter(F.col("rn") == F.expr("(nn + 1) div 2"))
        .select(F.col("cents").alias("m"))
    )
    signs = daily.crossJoin(F.broadcast(med)).select(
        "day", F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("s")
    )
    wd = Window.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    agg = runs.groupBy().agg(
        F.count("*").cast("long").alias("n"),
        F.sum("s").cast("long").alias("n_above"),
        (F.count("*") - F.sum("s")).cast("long").alias("n_below"),
        F.sum("brk").cast("long").alias("n_runs"),
    )
    nd = F.col("n").cast("double")
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    er = 1.0 + 2.0 * n1 * n2 / nd
    vr = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - nd) / (nd * nd * (nd - 1.0))
    )
    z = F.floor(
        (F.col("n_runs").cast("double") - er) / F.sqrt(vr) * 1000000
        + F.lit(0.5)
    ).cast("long")
    return agg.select(
        F.col("n").alias("n_days"),
        "n_above",
        "n_below",
        "n_runs",
        F.when(
            (F.col("n_above") == 0) | (F.col("n_below") == 0) | (F.col("n") < 2),
            F.lit(0).cast("long"),
        )
        .otherwise(z)
        .alias("z_micro"),
    )


# ---------------------------------------------------------------------------
# 29. kinesis_sim_render_e2e — the reference's ENTIRE pipeline, verified
# ---------------------------------------------------------------------------
#
# Source → envelope → template render → line, with the DuckDB oracle
# reconstructing the RENDERED LINES themselves from generate_series and
# hash-summing them — so one hash match certifies the Python
# DataSource, the envelope derivations (ShortHostId), the strftime
# translation, the lenient {{.Log.x}} JSON access, AND the template
# compiler's output byte-for-byte.

_E2E_TEMPLATE = (
    '{{.ShortHostId}} {{strftime "%H:%M:%S" .Timestamp}} '
    "{{.Log.level}} {{.Log.latency_ms}}"
)

_E2E_SQL = f"""
    WITH seqs AS (
      SELECT s.s AS shard, q.q AS seq
      FROM generate_series(0, {_SIM_SHARDS - 1}) s(s),
           generate_series(0, {_SIM_PER_SHARD - 1}) q(q)),
    lines AS (
      SELECT 'i-' || lpad(CAST(shard AS VARCHAR), 4, '0') AS short_host,
             'i-' || lpad(CAST(shard AS VARCHAR), 4, '0') || ' '
             || strftime(TIMESTAMP '2024-05-01 12:00:00'
                         + seq * INTERVAL 1 SECOND, '%H:%M:%S') || ' '
             || (CASE seq % 3 WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
                              ELSE 'error' END) || ' '
             || CAST((seq * 7 + shard * 3) % 500 AS VARCHAR) AS line
      FROM seqs)
    SELECT short_host,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST('0x' || substr(md5(line), 1, 13) AS BIGINT))
                AS BIGINT) AS line_check
    FROM lines GROUP BY 1
    """


@register(
    "kinesis_sim_render_e2e",
    _E2E_SQL,
    doc="The reference's entire program as ONE oracle-checked query: "
    "simulated Kinesis source (custom Python DataSource) → envelope "
    "(ShortHostId from the partition key) → compiled template render "
    "(strftime + lenient {{.Log.x}} JSON access) → rendered line. The "
    "oracle reconstructs the LINES THEMSELVES from generate_series "
    "and compares an order-free 52-bit md5 hash-sum per host (13 hex "
    "chars: 250 summands stay inside int64) — one green row "
    "certifies source, envelope, template compiler, and strftime "
    "translation byte-for-byte (main.go:248-293's record→line path). "
    "Scale shape: narrow map over source partitions, one tiny rollup; "
    "render throughput is the watcher.py number (~7M rows/s).",
)
def kinesis_sim_render_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )
    from kinesis_log_watcher_spark.watcher import build_lines

    register_sim_source(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("shards", str(_SIM_SHARDS))
        .option("recordsPerShard", str(_SIM_PER_SHARD))
        .load()
    )
    lines = build_lines(raw, _E2E_TEMPLATE)
    short_host = F.element_at(F.split("line", " "), 1)
    return lines.groupBy(short_host.alias("short_host")).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(
            F.conv(F.substring(F.md5("line"), 1, 13), 16, 10).cast("long")
        )
        .cast("long")
        .alias("line_check"),
    )


# ---------------------------------------------------------------------------
# 30. stream_scd2_enrich — streaming point-in-time dimension enrichment
# ---------------------------------------------------------------------------


_SCD2E_SQL = """
    WITH cust AS (
      SELECT c_custkey, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents0
      FROM customer),
    vers AS (
      SELECT c_custkey, c_mktsegment, cents0,
             unnest(generate_series(0, c_custkey % 3)) AS v
      FROM cust),
    feed AS (
      SELECT c_custkey, c_mktsegment, v,
             (c_custkey % 5) + v * 7 AS from_day,
             cents0 + v * 1000 AS bal_cents
      FROM vers),
    scd AS (
      SELECT c_custkey, c_mktsegment, from_day, bal_cents,
             LEAD(from_day) OVER (PARTITION BY c_custkey ORDER BY v)
               AS to_day
      FROM feed),
    facts AS (
      SELECT event_id, user_id, event_id % 21 AS event_day
      FROM events),
    joined AS (
      SELECT s.c_mktsegment, s.bal_cents
      FROM facts f
      JOIN scd s
        ON f.user_id = s.c_custkey
       AND f.event_day >= s.from_day
       AND (s.to_day IS NULL OR f.event_day < s.to_day))
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(bal_cents) AS BIGINT) AS asof_bal_cents
    FROM joined GROUP BY 1
    """


@register(
    "stream_scd2_enrich",
    _SCD2E_SQL,
    doc="STREAMING point-in-time SCD2 enrichment: the event stream "
    "joins, per micro-batch, to the ONE dimension version whose "
    "effective range covers each event's day — a stream-static join "
    "with an equi key plus interval predicates (the streaming form of "
    "orders_pointintime_scd2; the dimension is the same shared "
    "deterministic SCD2 feed). Spark plans the static side as a "
    "broadcast per batch; at scale the dimension is a slowly-changing "
    "table the batches re-resolve, which is exactly how a 100 TB "
    "pipeline keeps in-flight enrichment consistent with dimension "
    "history. Bounded replay -> complete-mode rollup equals the batch "
    "join the oracle states.",
)
def stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.queries.base import load_stream
    from kinesis_log_watcher_spark.queries.warehouse import _scd2_dim
    from kinesis_log_watcher_spark.sources.files import run_replay

    scd = _scd2_dim(spark, sf_dir)
    stream = load_stream(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("event_id") % 21).alias("event_day"),
    )
    joined = stream.join(
        scd,
        (stream["user_id"] == scd["c_custkey"])
        & (stream["event_day"] >= scd["from_day"])
        & (scd["to_day"].isNull() | (stream["event_day"] < scd["to_day"])),
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("bal_cents").cast("long").alias("asof_bal_cents"),
    )
    return run_replay(agg, "complete", "scd2_enrich")


# ---------------------------------------------------------------------------
# 31. multimodal_scene_cuts — level-shift detection over decoded frames
# ---------------------------------------------------------------------------
#
# Synthesized PCM with a doc-dependent LEVEL SHIFT (samples amplified 3x
# from a per-doc cut position), round-tripped through the REAL WAV codec
# and framed by the Arrow-batched frame_energies kernel; a "scene cut"
# is a >=4x energy ratio between adjacent frames (exact integer
# cross-multiplication). The oracle recomputes the energies
# arithmetically — codec round-trip must be the identity.

_SC_SAMPLES = 128
_SC_FRAME = 16

_SC_SQL = f"""
    WITH s AS (
      SELECT d.doc_id, t.i AS i,
             CASE WHEN t.i >= 32 + (d.doc_id % 3) * 32
                  THEN 3 * ((d.doc_id * 7 + t.i) % 200 - 100)
                  ELSE (d.doc_id * 7 + t.i) % 200 - 100 END AS x
      FROM documents d, range({_SC_SAMPLES}) t(i)
      WHERE d.doc_id < 200),
    f AS (
      SELECT doc_id, i // {_SC_FRAME} AS frame_idx,
             CAST(SUM(x * x) AS BIGINT) AS energy
      FROM s GROUP BY 1, 2),
    lagd AS (
      SELECT doc_id, frame_idx, energy,
             LAG(energy) OVER (PARTITION BY doc_id
                               ORDER BY frame_idx) AS prev
      FROM f),
    cuts AS (
      SELECT doc_id, frame_idx,
             CASE WHEN prev IS NOT NULL
                   AND (energy > 4 * prev OR 4 * energy < prev)
                  THEN 1 ELSE 0 END AS is_cut
      FROM lagd)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(is_cut) AS BIGINT) AS n_cuts,
           CAST(COALESCE(MIN(CASE WHEN is_cut = 1 THEN frame_idx END), -1)
                AS BIGINT) AS first_cut_frame
    FROM cuts GROUP BY 1
    """


@register(
    "multimodal_scene_cuts",
    _SC_SQL,
    doc="Scene-cut (level-shift) detection over decoded media frames: "
    "PCM with a doc-dependent 3x amplitude shift is encoded through "
    "the REAL WAV codec, decoded and framed by the Arrow-batched "
    "frame-energy kernel (operators/multimodal.py), and adjacent "
    "frames are compared by an exact integer >=4x energy ratio (cross-"
    "multiplication, no float) — the shot-boundary primitive a video "
    "curation pipeline runs per clip. The oracle recomputes energies "
    "arithmetically, so a green row certifies the codec round trip AND "
    "the cut logic. Scale shape: decode is a narrow per-payload map; "
    "the LAG/rollup run on the frames-per-doc relation (bounded by "
    "clip length), hash-partitioned by doc.",
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    import pandas as pd

    from kinesis_log_watcher_spark.functions.imagecodec import encode_wav
    from kinesis_log_watcher_spark.operators.multimodal import frame_energies

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                cut = 32 + (d % 3) * 32
                samples = b"".join(
                    struct.pack(
                        "<h",
                        (3 if i >= cut else 1)
                        * ((d * 7 + i) % 200 - 100),
                    )
                    for i in range(_SC_SAMPLES)
                )
                payloads.append(
                    encode_wav(
                        samples, channels=1, sample_width=2, frame_rate=16000
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
    )
    wavs = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    frames = frame_energies(wavs, samples_per_frame=_SC_FRAME)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    lagd = frames.select(
        "doc_id",
        "frame_idx",
        "energy",
        F.lag("energy").over(w).alias("prev"),
    )
    cuts = lagd.select(
        "doc_id",
        "frame_idx",
        F.when(
            F.col("prev").isNotNull()
            & (
                (F.col("energy") > 4 * F.col("prev"))
                | (4 * F.col("energy") < F.col("prev"))
            ),
            1,
        )
        .otherwise(0)
        .alias("is_cut"),
    )
    return cuts.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum("is_cut").cast("long").alias("n_cuts"),
        F.coalesce(
            F.min(F.when(F.col("is_cut") == 1, F.col("frame_idx"))),
            F.lit(-1),
        )
        .cast("long")
        .alias("first_cut_frame"),
    )


# ---------------------------------------------------------------------------
# 32. flag_status_anova_twoway — factorial decomposition with interaction
# ---------------------------------------------------------------------------
#
# Two-way cell-means decomposition over (returnflag x linestatus):
# SS_A, SS_B, SS_cells from exact decimal cell/margin sums (decimal
# addition is exact and associative, so margins need no ordered fold);
# only the s^2/n terms are doubles, and their cross-cell reductions run
# as ordered prefix folds (the priority_anova_f rule). Interaction =
# SS_cells - SS_A - SS_B (the deterministic cell-means definition; for
# unbalanced designs this is the Type-II-flavored quantity, documented).

_ANOVA2_SQL = """
    WITH cells AS (
      SELECT l_returnflag AS a, l_linestatus AS b,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(28,2))) AS s,
             SUM(CAST(l_quantity AS DECIMAL(28,2))
                 * CAST(l_quantity AS DECIMAL(28,2))) AS ss
      FROM lineitem GROUP BY 1, 2),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(s) AS DOUBLE) AS sg,
             CAST(SUM(ss) AS DOUBLE) AS ssg,
             CAST(COUNT(*) AS BIGINT) AS n_cells
      FROM cells),
    tc AS (
      SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) OVER (ORDER BY a, b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tsum,
             ROW_NUMBER() OVER (ORDER BY a DESC, b DESC) AS rev
      FROM cells),
    ta AS (
      SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) OVER (ORDER BY a
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tsum,
             ROW_NUMBER() OVER (ORDER BY a DESC) AS rev,
             CAST(COUNT(*) OVER () AS BIGINT) AS k
      FROM (SELECT a, CAST(SUM(n) AS BIGINT) AS n, SUM(s) AS s
            FROM cells GROUP BY a)),
    tb AS (
      SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) OVER (ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tsum,
             ROW_NUMBER() OVER (ORDER BY b DESC) AS rev,
             CAST(COUNT(*) OVER () AS BIGINT) AS k
      FROM (SELECT b, CAST(SUM(n) AS BIGINT) AS n, SUM(s) AS s
            FROM cells GROUP BY b)),
    fin AS (
      SELECT t.nn, t.n_cells,
             ta.k AS ka, tb.k AS kb,
             t.sg * t.sg / CAST(t.nn AS DOUBLE) AS cf,
             tc.tsum AS t_cells, ta.tsum AS t_a, tb.tsum AS t_b,
             t.ssg
      FROM tot t
      CROSS JOIN (SELECT tsum FROM tc WHERE rev = 1) tc
      CROSS JOIN (SELECT tsum, k FROM ta WHERE rev = 1) ta
      CROSS JOIN (SELECT tsum, k FROM tb WHERE rev = 1) tb)
    SELECT nn AS n_total, ka AS k_flag, kb AS k_status,
           CASE WHEN ka < 2 OR kb < 2 OR nn <= n_cells
                  OR (ssg - t_cells) <= 0 THEN 0
                ELSE CAST(floor(((t_a - cf) / (ka - 1))
                      / ((ssg - t_cells) / (nn - n_cells))
                      * 1000000 + 0.5) AS BIGINT) END AS f_flag_micro,
           CASE WHEN ka < 2 OR kb < 2 OR nn <= n_cells
                  OR (ssg - t_cells) <= 0 THEN 0
                ELSE CAST(floor(((t_b - cf) / (kb - 1))
                      / ((ssg - t_cells) / (nn - n_cells))
                      * 1000000 + 0.5) AS BIGINT) END AS f_status_micro,
           CASE WHEN ka < 2 OR kb < 2 OR nn <= n_cells
                  OR (ssg - t_cells) <= 0 THEN 0
                ELSE CAST(floor((((t_cells - cf) - (t_a - cf) - (t_b - cf))
                       / ((ka - 1) * (kb - 1)))
                      / ((ssg - t_cells) / (nn - n_cells))
                      * 1000000 + 0.5) AS BIGINT) END AS f_interaction_micro
    FROM fin
    """


@register(
    "flag_status_anova_twoway",
    _ANOVA2_SQL,
    doc="Two-way factorial ANOVA over (returnflag x linestatus) on "
    "quantity: main-effect and interaction F statistics from the "
    "cell-means decomposition — SS_cells/SS_A/SS_B from exact decimal "
    "cell and margin sums (decimal addition is exact, so margins need "
    "no float fold), interaction = SS_cells − SS_A − SS_B (the "
    "deterministic cell-means quantity; Type-II-flavored under "
    "imbalance, documented). Every cross-cell double reduction runs "
    "as an ordered prefix fold (the priority_anova_f rule), so both "
    "dialects add in the same IEEE order. One fact pass; everything "
    "after lives on the 6-cell relation.",
)
def flag_status_anova_twoway(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    li = load(spark, sf_dir, "lineitem")
    x = dec(F.col("l_quantity"), 28, 2)
    cells = li.groupBy(
        F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("ss"),
    ).persist()

    tot = cells.groupBy().agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("double").alias("sg"),
        F.sum("ss").cast("double").alias("ssg"),
        F.count("*").cast("long").alias("n_cells"),
    )

    def fold(df: DataFrame, order_cols: list[str]) -> DataFrame:
        term = (
            F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n").cast("double")
        )
        w = Window.orderBy(*order_cols).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wr = Window.orderBy(*[F.col(c).desc() for c in order_cols])
        return (
            df.select(
                F.sum(term).over(w).alias("tsum"),
                F.row_number().over(wr).alias("rev"),
                F.count("*")
                .over(
                    Window.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                .cast("long")
                .alias("k"),
            )
            .filter(F.col("rev") == 1)
            .select("tsum", "k")
        )

    tc = fold(cells, ["a", "b"]).select(
        F.col("tsum").alias("t_cells"), F.col("k").alias("_kc")
    )
    ma = cells.groupBy("a").agg(
        F.sum("n").cast("long").alias("n"), F.sum("s").alias("s")
    )
    mb = cells.groupBy("b").agg(
        F.sum("n").cast("long").alias("n"), F.sum("s").alias("s")
    )
    ta = fold(ma, ["a"]).select(
        F.col("tsum").alias("t_a"), F.col("k").alias("ka")
    )
    tb = fold(mb, ["b"]).select(
        F.col("tsum").alias("t_b"), F.col("k").alias("kb")
    )
    fin = (
        tot.crossJoin(F.broadcast(tc))
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
    )
    nn = F.col("nn").cast("double")
    cf = F.col("sg") * F.col("sg") / nn
    mse = (F.col("ssg") - F.col("t_cells")) / (
        nn - F.col("n_cells").cast("double")
    )
    ka = F.col("ka").cast("double")
    kb = F.col("kb").cast("double")

    # Degenerate guards (the priority_anova_f rule): one factor level,
    # no residual df, or zero within-cell variance -> 0, never NaN/Inf
    # (Spark floors NaN to NULL where DuckDB raises — the e87db27 class).
    degenerate = (
        (F.col("ka") < 2)
        | (F.col("kb") < 2)
        | (nn <= F.col("n_cells").cast("double"))
        | (F.col("ssg") - F.col("t_cells") <= 0)
    )

    def fstat(num, df_):
        raw = F.floor(num / df_ / mse * 1000000 + F.lit(0.5)).cast("long")
        return F.when(degenerate, F.lit(0).cast("long")).otherwise(raw)

    return fin.select(
        F.col("nn").alias("n_total"),
        F.col("ka").alias("k_flag"),
        F.col("kb").alias("k_status"),
        fstat(F.col("t_a") - cf, ka - 1).alias("f_flag_micro"),
        fstat(F.col("t_b") - cf, kb - 1).alias("f_status_micro"),
        fstat(
            (F.col("t_cells") - cf)
            - (F.col("t_a") - cf)
            - (F.col("t_b") - cf),
            (ka - 1) * (kb - 1),
        ).alias("f_interaction_micro"),
    )


# ---------------------------------------------------------------------------
# 33. revenue_periodogram — spectral power at candidate seasonal periods
# ---------------------------------------------------------------------------
#
# A coarse discrete-Fourier probe: for each candidate period P, the
# power of the mean-centered daily-revenue series at frequency 1/P.
# cos/sin of the phase are quantized to int64 micro-units PER TERM
# (libm-ulp rule) so the correlation sums are exact integers; the final
# power/variance ratio is one shared double expression.

_PERIODS = (7, 30, 91)
_PG_VALUES = ", ".join(f"({p})" for p in _PERIODS)

_PG_SQL = f"""
    WITH {_DAILY_REV_CTE},
    mu AS (
      SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mu,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM daily),
    idx AS (
      SELECT d.day, d.cents - m.mu AS x,
             ROW_NUMBER() OVER (ORDER BY d.day) - 1 AS t,
             m.n
      FROM daily d CROSS JOIN mu m),
    periods(p) AS (VALUES {_PG_VALUES}),
    terms AS (
      SELECT p.p, i.x, i.n,
             CAST(floor(cos(2 * pi() * i.t / p.p) * 1000 + 0.5)
                  AS BIGINT) AS cq,
             CAST(floor(sin(2 * pi() * i.t / p.p) * 1000 + 0.5)
                  AS BIGINT) AS sq
      FROM idx i CROSS JOIN periods p),
    sums AS (
      SELECT p, CAST(MIN(n) AS BIGINT) AS n,
             CAST(SUM(x * cq) AS BIGINT) AS sc,
             CAST(SUM(x * sq) AS BIGINT) AS ss,
             CAST(SUM(CAST(x AS DECIMAL(38,0))
                      * CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM terms GROUP BY 1)
    SELECT CAST(p AS BIGINT) AS period_days, n AS n_days,
           CASE WHEN sxx <= 0 THEN 0
                ELSE CAST(floor(
                  (CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                   + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                  / 1000000.0
                  / (sxx * CAST(n AS DOUBLE) / 2.0)
                  * 1000000 + 0.5) AS BIGINT) END AS power_micro
    FROM sums
    """


@register(
    "revenue_periodogram",
    _PG_SQL,
    doc="Coarse periodogram of daily revenue: normalized spectral power "
    f"at candidate seasonal periods {_PERIODS} days — the frequency-"
    "domain member of the series-diagnostics family (Mann-Kendall "
    "trend, CUSUM shifts, runs randomness, autocorrelation, and now "
    "periodicity). Per-term cos/sin phases are milli-quantized BEFORE "
    "summation so the correlation sums are exact order-free int64 "
    "folds (never a float reduction over the series); power is "
    "normalized by n*var/2, the expected power of white noise, so "
    "power_micro >> 1e6 flags a real cycle. Scale shape: one fact "
    "pass to the daily relation; the period panel is a bounded "
    "literal broadcast and each period's sums are map-side partial "
    "aggregations.",
)
def revenue_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _m

    orders = load(spark, sf_dir, "orders")
    daily = _daily_revenue_cents(orders)
    mu = daily.groupBy().agg(
        F.expr("sum(cents) div count(*)").cast("long").alias("mu"),
        F.count("*").cast("long").alias("n"),
    )
    w = Window.orderBy("day")
    idx = daily.crossJoin(F.broadcast(mu)).select(
        (F.col("cents") - F.col("mu")).alias("x"),
        (F.row_number().over(w) - 1).alias("t"),
        "n",
    )
    periods = F.broadcast(
        orders.sparkSession.createDataFrame(
            [(p,) for p in _PERIODS], "p long"
        )
    )
    two_pi = F.lit(2.0 * _m.pi)
    terms = idx.crossJoin(periods).select(
        "p",
        "x",
        "n",
        F.floor(
            F.cos(two_pi * F.col("t") / F.col("p")) * 1000 + F.lit(0.5)
        )
        .cast("long")
        .alias("cq"),
        F.floor(
            F.sin(two_pi * F.col("t") / F.col("p")) * 1000 + F.lit(0.5)
        )
        .cast("long")
        .alias("sq"),
    )
    sums = terms.groupBy("p").agg(
        F.min("n").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("cq")).cast("long").alias("sc"),
        F.sum(F.col("x") * F.col("sq")).cast("long").alias("ss"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sxx"),
    )
    power = F.floor(
        (
            F.col("sc").cast("double") * F.col("sc").cast("double")
            + F.col("ss").cast("double") * F.col("ss").cast("double")
        )
        / F.lit(1000000.0)
        / (F.col("sxx") * F.col("n").cast("double") / 2.0)
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    return sums.select(
        F.col("p").alias("period_days"),
        F.col("n").alias("n_days"),
        F.when(F.col("sxx") <= 0, F.lit(0).cast("long"))
        .otherwise(power)
        .alias("power_micro"),
    )


# ---------------------------------------------------------------------------
# 34. embedding_label_drift — centroid shift between corpus halves
# ---------------------------------------------------------------------------
#
# Distribution-drift monitoring for embedding spaces: per label, the
# cosine between the first-half and second-half centroid. Cosine is
# scale-invariant, so the centroids can stay as UNNORMALIZED component
# SUMS of the 1e7-quantized vectors — exact int64 end to end, with the
# one double expression (the cosine) shared verbatim by both dialects.

_EDRIFT_SQL = """
    WITH q AS (
      SELECT vec_id, label,
             unnest(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5)
                         AS BIGINT))) AS qx,
             unnest(range(1, len(embedding) + 1)) AS dim,
             CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS half
      FROM embeddings WHERE label IS NOT NULL),
    cent AS (
      SELECT label, half, dim, CAST(SUM(qx) AS BIGINT) AS s,
             CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
      FROM q GROUP BY 1, 2, 3),
    pairs AS (
      SELECT a.label, a.dim, a.s AS sa, b.s AS sb, a.n AS na, b.n AS nb
      FROM cent a JOIN cent b
        ON b.label = a.label AND b.dim = a.dim
       AND a.half = 0 AND b.half = 1),
    moms AS (
      SELECT label, CAST(MIN(na) AS BIGINT) AS n_first,
             CAST(MIN(nb) AS BIGINT) AS n_second,
             CAST(SUM(CAST(sa AS DECIMAL(38,0))
                      * CAST(sb AS DECIMAL(38,0))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(sa AS DECIMAL(38,0))
                      * CAST(sa AS DECIMAL(38,0))) AS DOUBLE) AS naa,
             CAST(SUM(CAST(sb AS DECIMAL(38,0))
                      * CAST(sb AS DECIMAL(38,0))) AS DOUBLE) AS nbb
      FROM pairs GROUP BY 1)
    SELECT label, n_first, n_second,
           CASE WHEN naa <= 0 OR nbb <= 0 THEN 0
                ELSE CAST(floor(dot / sqrt(naa * nbb) * 1000000 + 0.5)
                          AS BIGINT) END AS centroid_cos_micro
    FROM moms
    """


@register(
    "embedding_label_drift",
    _EDRIFT_SQL,
    doc="Embedding-space drift monitoring: per label, the cosine "
    "between the centroid of even-id vectors and the centroid of "
    "odd-id vectors (the two-split stability check an embedding "
    "pipeline runs before trusting a retrain — a label whose halves "
    "disagree has shifted or is too sparse to trust). Cosine is "
    "scale-invariant, so centroids stay as UNNORMALIZED exact int64 "
    "component sums of the 1e7-quantized vectors; cross products go "
    "through exact decimals and the single double expression is "
    "shared verbatim. Scale shape: one explode -> (label, half, dim) "
    "sum — a partial-agg shuffle bounded by |labels| x 2 x dims — "
    "then a dim-aligned equi-join of the two half relations.",
)
def embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        quantized_embedding,
    )

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull()
    )
    q = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(quantized_embedding(F.col("embedding"))).alias(
            "dim0", "qx"
        ),
    ).select(
        "vec_id", "label", "half", (F.col("dim0") + 1).alias("dim"), "qx"
    )
    cent = q.groupBy("label", "half", "dim").agg(
        F.sum("qx").cast("long").alias("s"),
        F.countDistinct("vec_id").cast("long").alias("n"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("sa"), F.col("n").alias("na")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    dec38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    moms = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.min("na").cast("long").alias("n_first"),
            F.min("nb").cast("long").alias("n_second"),
            F.sum(dec38("sa") * dec38("sb")).cast("double").alias("dot"),
            F.sum(dec38("sa") * dec38("sa")).cast("double").alias("naa"),
            F.sum(dec38("sb") * dec38("sb")).cast("double").alias("nbb"),
        )
    )
    cosm = F.floor(
        F.col("dot") / F.sqrt(F.col("naa") * F.col("nbb")) * 1000000
        + F.lit(0.5)
    ).cast("long")
    return moms.select(
        "label",
        "n_first",
        "n_second",
        F.when((F.col("naa") <= 0) | (F.col("nbb") <= 0), F.lit(0).cast("long"))
        .otherwise(cosm)
        .alias("centroid_cos_micro"),
    )


# ---------------------------------------------------------------------------
# 35. neardup_graph_2core — bounded k-core peeling
# ---------------------------------------------------------------------------
#
# Three synchronous peeling rounds toward the 2-core: each round drops
# nodes with degree < 2 in the CURRENT subgraph (a leaf chain peels one
# layer per round — the graph-cleanup primitive that strips weak
# appendages off dedup clusters before transitive merging). Bounded
# rounds keep the oracle a finite CTE chain; the fixpoint variant runs
# the same round in a loop with a convergence check.

_CORE_SQL = f"""
    WITH {_NEARDUP_EDGE_CTE},
    n0 AS (
      SELECT v FROM (SELECT vec_a AS v FROM edges
                     UNION ALL SELECT vec_b FROM edges)
      GROUP BY v HAVING COUNT(*) >= 2),
    e1 AS (
      SELECT e.vec_a, e.vec_b FROM edges e
      JOIN n0 a ON a.v = e.vec_a JOIN n0 b ON b.v = e.vec_b),
    n1 AS (
      SELECT v FROM (SELECT vec_a AS v FROM e1
                     UNION ALL SELECT vec_b FROM e1)
      GROUP BY v HAVING COUNT(*) >= 2),
    e2 AS (
      SELECT e.vec_a, e.vec_b FROM e1 e
      JOIN n1 a ON a.v = e.vec_a JOIN n1 b ON b.v = e.vec_b),
    n2 AS (
      SELECT v FROM (SELECT vec_a AS v FROM e2
                     UNION ALL SELECT vec_b FROM e2)
      GROUP BY v HAVING COUNT(*) >= 2),
    e3 AS (
      SELECT e.vec_a, e.vec_b FROM e2 e
      JOIN n2 a ON a.v = e.vec_a JOIN n2 b ON b.v = e.vec_b),
    stats AS (
      SELECT 0 AS round,
             (SELECT CAST(COUNT(DISTINCT v) AS BIGINT)
              FROM (SELECT vec_a AS v FROM edges
                    UNION ALL SELECT vec_b FROM edges)) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges
      UNION ALL
      SELECT 1, (SELECT CAST(COUNT(*) AS BIGINT) FROM n0),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e1)
      UNION ALL
      SELECT 2, (SELECT CAST(COUNT(*) AS BIGINT) FROM n1),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
      UNION ALL
      SELECT 3, (SELECT CAST(COUNT(*) AS BIGINT) FROM n2),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e3))
    SELECT CAST(round AS BIGINT) AS round, n_nodes, n_edges FROM stats
    """


@register(
    "neardup_graph_2core",
    _CORE_SQL,
    doc="Bounded 2-core peeling of the verified near-dup graph: three "
    "synchronous rounds, each dropping nodes whose degree in the "
    "CURRENT subgraph is < 2 and the edges touching them — the "
    "cleanup that strips pendant chains off duplicate clusters so "
    "transitive merging only acts on densely-confirmed groups. "
    "Output = the (nodes, edges) shrinkage trajectory per round. "
    "Scale shape: each round is one degree aggregation + two "
    "node-list equi-joins, hash-partitioned by node id; rounds "
    "localCheckpoint between iterations in the fixpoint form "
    "(dedup_clusters' discipline). Deterministic by construction — "
    "synchronous peeling has no tie-breaks.",
)
def neardup_graph_2core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = load(spark, sf_dir, "embeddings")
    edges = (
        embedding_near_dup_pairs(emb, threshold=0.35)
        .select("vec_a", "vec_b")
        .persist()
    )

    def nodes_of(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("vec_a").alias("v"))
            .unionAll(e.select(F.col("vec_b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("deg"))
        )

    rows = []
    cur = edges
    n_nodes = nodes_of(cur).count()
    rows.append((0, n_nodes, cur.count()))
    for rnd in (1, 2, 3):
        keep = nodes_of(cur).filter(F.col("deg") >= 2).select("v")
        ka = keep.select(F.col("v").alias("vec_a"))
        kb = keep.select(F.col("v").alias("vec_b"))
        cur = cur.join(ka, "vec_a").join(kb, "vec_b").localCheckpoint()
        rows.append((rnd, keep.count(), cur.count()))
    edges.unpersist()
    return emb.sparkSession.createDataFrame(
        rows, "round long, n_nodes long, n_edges long"
    )


# ---------------------------------------------------------------------------
# 36. systematic_sample_per_source — deterministic every-k-th sampling
# ---------------------------------------------------------------------------

_SYS_QUOTA = 20

_SYS_SQL = f"""
    WITH ordered AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM documents),
    stepped AS (
      SELECT source, doc_id, rn, n,
             CAST(CASE WHEN n <= {_SYS_QUOTA} THEN 1
                       ELSE (n + {_SYS_QUOTA} - 1) // {_SYS_QUOTA}
                  END AS BIGINT) AS k
      FROM ordered)
    SELECT source, CAST(MIN(n) AS BIGINT) AS n_docs,
           CAST(MIN(k) AS BIGINT) AS k_step,
           CAST(SUM(CASE WHEN (rn - 1) % k = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN (rn - 1) % k = 0 THEN doc_id ELSE 0 END)
                AS BIGINT) AS sampled_id_sum
    FROM stepped GROUP BY 1
    """


@register(
    "systematic_sample_per_source",
    _SYS_SQL,
    doc="Systematic (every-k-th) sampling per source: order each "
    "stratum by md5(doc_id) (a deterministic random permutation, the "
    "repo's sampling convention), take every k-th row with k = "
    f"ceil(n/{_SYS_QUOTA}) — the classical design that guarantees "
    "near-exact quota AND even coverage of the permuted order, "
    "complementing the threshold (binomial) and reservoir (exact-k) "
    "samplers. The checksum column pins the exact membership. Scale "
    "shape: the rank runs per stratum (two-phase swap documented for "
    "hot sources); selection is a stateless modulo — re-runs and "
    "backfills pick identical rows.",
)
def systematic_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ordered = docs.select(
        "source",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).cast("long").alias("n"),
    )
    k = F.when(F.col("n") <= _SYS_QUOTA, F.lit(1).cast("long")).otherwise(
        F.expr(f"(n + {_SYS_QUOTA} - 1) div {_SYS_QUOTA}")
    )
    stepped = ordered.withColumn("k", k)
    picked = (F.col("rn") - 1) % F.col("k") == 0
    return stepped.groupBy("source").agg(
        F.min("n").cast("long").alias("n_docs"),
        F.min("k").cast("long").alias("k_step"),
        F.sum(F.when(picked, 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.sum(F.when(picked, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("sampled_id_sum"),
    )


# ---------------------------------------------------------------------------
# 37. pinball_loss_eval — quantile-forecast loss of the conformal q-hat
# ---------------------------------------------------------------------------
#
# Pinball (quantile) loss at tau = 0.9 for the conformal quantile each
# event type ships: loss(y, q) = max(tau*(y-q), (tau-1)*(y-q)). With
# tau = 9/10 the x10-scaled loss is EXACTLY max(9*(y-q), q-y) in
# integer milli units — no float anywhere until the final mean.

_PINBALL_SQL = """
    WITH v AS (
      SELECT event_id, event_type,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS milli
      FROM events WHERE value IS NOT NULL),
    mu AS (
      SELECT event_type, CAST(SUM(milli) // COUNT(*) AS BIGINT) AS mean_milli,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v GROUP BY 1),
    nc AS (
      SELECT v.event_type, v.event_id, m.n,
             abs(v.milli - m.mean_milli) AS score
      FROM v JOIN mu m ON m.event_type = v.event_type),
    qh AS (
      SELECT event_type, CAST(score AS BIGINT) AS qhat
      FROM (SELECT event_type, score,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY score, event_id) AS rn,
                   n
            FROM nc)
      WHERE rn = least(n, CAST(ceil(0.9 * (n + 1)) AS BIGINT)))
    SELECT c.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           q.qhat AS qhat_milli,
           CAST(SUM(CASE WHEN c.score >= q.qhat
                         THEN 9 * (c.score - q.qhat)
                         ELSE q.qhat - c.score END) AS BIGINT)
             AS pinball_x10_total,
           CAST(SUM(CASE WHEN c.score >= q.qhat
                         THEN 9 * (c.score - q.qhat)
                         ELSE q.qhat - c.score END) // COUNT(*)
                AS BIGINT) AS pinball_x10_mean
    FROM nc c JOIN qh q ON q.event_type = c.event_type
    GROUP BY 1, 3
    """


@register(
    "pinball_loss_eval",
    _PINBALL_SQL,
    doc="Pinball (quantile) loss at tau=0.9 of each type's conformal "
    "q-hat over its nonconformity scores — the proper scoring rule "
    "for quantile forecasts (the conformal quantile should roughly "
    "minimize it; a q-hat with lower pinball loss elsewhere signals "
    "mis-calibration). With tau=9/10 the x10-scaled loss is exactly "
    "max(9(y-q), q-y) — integer milli end to end, the mean via floor "
    "division. Completes the calibration family: coverage "
    "(conformal_interval_calibration) checks validity, pinball checks "
    "efficiency. Scale: one fact pass for scores, per-type rank for "
    "q-hat, one counting join back.",
)
def pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias(
            "milli"
        ),
    )
    mu = v.groupBy("event_type").agg(
        F.expr("sum(milli) div count(*)").cast("long").alias("mean_milli"),
        F.count("*").cast("long").alias("n"),
    )
    nc = v.join(mu, "event_type").select(
        "event_type",
        "event_id",
        "n",
        F.abs(F.col("milli") - F.col("mean_milli")).alias("score"),
    ).persist()
    w = Window.partitionBy("event_type").orderBy("score", "event_id")
    qh = (
        nc.select(
            "event_type", "n", "score", F.row_number().over(w).alias("rn")
        )
        .filter(
            F.col("rn")
            == F.least(
                F.col("n"), F.ceil(0.9 * (F.col("n") + 1)).cast("long")
            )
        )
        .select("event_type", F.col("score").cast("long").alias("qhat"))
    )
    loss = F.when(
        F.col("score") >= F.col("qhat"),
        9 * (F.col("score") - F.col("qhat")),
    ).otherwise(F.col("qhat") - F.col("score"))
    return (
        nc.select("event_type", "score")
        .join(qh, "event_type")
        .groupBy("event_type", F.col("qhat").alias("qhat_milli"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(loss).cast("long").alias("pinball_x10_total"),
            F.expr(
                "CAST(sum(CASE WHEN score >= qhat"
                " THEN 9 * (score - qhat)"
                " ELSE qhat - score END) div count(*) AS BIGINT)"
            ).alias("pinball_x10_mean"),
        )
        .select(
            "event_type", "n", "qhat_milli", "pinball_x10_total",
            "pinball_x10_mean",
        )
    )


# ---------------------------------------------------------------------------
# 38. supplier_pareto_8020 — revenue concentration (the 80/20 report)
# ---------------------------------------------------------------------------

_P8020_SQL = """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1),
    ranked AS (
      SELECT l_suppkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_suppkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
             SUM(cents) OVER () AS tot,
             ROW_NUMBER() OVER (ORDER BY cents DESC, l_suppkey) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM rev),
    hit AS (
      SELECT rn, cum, tot, n FROM ranked
      WHERE 5 * cum >= 4 * tot
      ORDER BY rn LIMIT 1)
    SELECT CAST(n AS BIGINT) AS n_suppliers,
           CAST(rn AS BIGINT) AS n_for_80pct,
           CAST(rn * 1000000 // n AS BIGINT) AS head_share_micro,
           CAST(cum * 1000000 // tot AS BIGINT) AS revenue_share_micro
    FROM hit
    """


@register(
    "supplier_pareto_8020",
    _P8020_SQL,
    doc="Pareto concentration (the 80/20 report): the smallest head of "
    "the revenue-ranked supplier list whose cumulative revenue reaches "
    "80% of the total — threshold crossed by exact integer cross-"
    "multiplication (5*cum >= 4*tot), deterministic (revenue, key) tie "
    "order. Output: how many suppliers that takes and what fraction of "
    "the roster they are — the concentration diagnostic behind key-"
    "account risk and the supplier-side mirror of key_skew_profile's "
    "Gini. Scale shape: one fact rollup to per-supplier revenue; the "
    "cumulative scan runs on the SUPPLIER relation (two-phase bucket "
    "swap documented via the ks_two_sample pattern when the roster is "
    "data-sized).",
)
def supplier_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    wc = Window.orderBy(F.col("cents").desc(), "l_suppkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = rev.select(
        F.sum("cents").over(wc).alias("cum"),
        F.sum("cents").over(wall).alias("tot"),
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), "l_suppkey"))
        .alias("rn"),
        F.count("*").over(wall).cast("long").alias("n"),
    )
    hit = (
        ranked.filter(5 * F.col("cum") >= 4 * F.col("tot"))
        .orderBy("rn")
        .limit(1)
    )
    return hit.select(
        F.col("n").alias("n_suppliers"),
        F.col("rn").cast("long").alias("n_for_80pct"),
        F.expr("rn * 1000000 div n").alias("head_share_micro"),
        F.expr("cum * 1000000 div tot").alias("revenue_share_micro"),
    )
