"""Round-9 wave: model-evaluation plumbing.

The registry prices training data end-to-end (gate -> dedup -> redact ->
tokenize -> pack) but stopped short of the operators an eval harness
needs once models exist: paired significance tests over shared eval
items, win-rate matrices with rating confidence, calibration audits,
judge-bias audits, and contamination-aware eval splits. This wave adds
them, with the house discipline throughout:

- a deterministic synthetic model panel: K=4 "models" whose per-doc
  correctness bit is an exact md5 draw against an integer-micro
  success probability p = skill - difficulty(n_chars), computed
  IDENTICALLY in both dialects — no RNG, no floats in the draw;
- every statistic in exact integer micros via true integer division
  (`div` / `//`), DECIMAL(38,0)/HUGEINT swaps where a numerator can
  outgrow int64 at corpus scale;
- IEEE doubles only where the closed form demands them (sqrt in the
  Bradley-Terry Fisher information), always from exact int64 counts
  that ride along as columns (sqrt is IEEE-correctly-rounded, so both
  engines agree bit-for-bit; exp/log never appear);
- bounded-domain windows instead of 1-row cross joins for pooled
  scalars (the plan-audit discipline).

Scale notes per query are in each docstring. None of these exist in
reference main.go (a 416-line tail-and-render CLI); they extend the
LLM-pipeline surface the briefs require.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.queries.base import load, load_stream, register
from kinesis_log_watcher_spark.sources.files import run_replay


# ===========================================================================
# The synthetic model panel
# ===========================================================================
#
# Four models with fixed skill levels; item difficulty grows with doc
# length (difficulty_micro = least(700000, n_chars*1400)), so success
# probability p_micro = greatest(50000, skill - difficulty). The
# correctness bit is u < p with u the md5 draw on (model, doc_id) — a
# pure function of the row, identical in both dialects, one narrow
# per-row expression at any corpus size.

# 150000-micro skill gaps: wide enough that the planted gradient is
# recoverable above sampling noise even on the 500-doc sf0.001 corpus
# (60000-micro gaps left m1-vs-m2 a coin flip there).
_MODELS = (("m1", 900000), ("m2", 750000), ("m3", 600000), ("m4", 450000))


def _p_micro_col(skill: int):
    return F.greatest(
        F.lit(50000),
        F.lit(skill) - F.least(F.lit(700000), F.col("n_chars") * 1400),
    )


def _correct_col(model: str, skill: int):
    u = (
        md5_h15(F.concat(F.lit(f"evc|{model}|"), F.col("doc_id").cast("string")))
        % 1000000
    )
    return F.when(u < _p_micro_col(skill), 1).otherwise(0).cast("long")


def _sql_p_micro(skill: int) -> str:
    return f"GREATEST(50000, {skill} - LEAST(700000, n_chars * 1400))"


def _sql_correct(model: str, skill: int) -> str:
    return (
        f"CASE WHEN CAST('0x' || substr(md5('evc|{model}|' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 "
        f"< {_sql_p_micro(skill)} THEN 1 ELSE 0 END"
    )


_SQL_PC_CTE = "pc AS (\n      SELECT doc_id, source, lang, n_chars,\n" + ",\n".join(
    f"             CAST({_sql_correct(m, s)} AS BIGINT) AS c_{m}"
    for m, s in _MODELS
) + "\n      FROM documents)"


def _pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pc_from(load(spark, sf_dir, "documents"))


def _pc_from(docs: DataFrame) -> DataFrame:
    """Per-doc model-panel correctness bits from any documents relation
    (batch scan or stream) — pure per-row expressions."""
    return docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        *[_correct_col(m, s).alias(f"c_{m}") for m, s in _MODELS],
    )


_PAIRS = [
    (a, b)
    for i, (a, _) in enumerate(_MODELS)
    for b, _ in _MODELS[i + 1 :]
]

_SQL_PAIR_PANEL = ", ".join(f"('{a}', '{b}')" for a, b in _PAIRS)


def _sql_pick(alias: str) -> str:
    """CASE that maps a model-name column to its per-doc correctness
    bit (both dialects share the same 4-way dispatch)."""
    arms = " ".join(
        f"WHEN '{m}' THEN c_{m}" for m, _ in _MODELS[:-1]
    )
    return f"CASE {alias} {arms} ELSE c_{_MODELS[-1][0]} END"


def _pair_rows(pc: DataFrame) -> DataFrame:
    """(model_a, model_b, ca, cb) — one row per doc per unordered model
    pair, generated by an in-row literal-array explode (6 structs per
    doc; no join, no shuffle)."""
    return pc.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("model_a"),
                        F.lit(b).alias("model_b"),
                        F.col(f"c_{a}").alias("ca"),
                        F.col(f"c_{b}").alias("cb"),
                    )
                    for a, b in _PAIRS
                ]
            )
        ).alias("p"),
    ).select("doc_id", "p.model_a", "p.model_b", "p.ca", "p.cb")


_SQL_PR_CTE = f"""pr AS (
      SELECT doc_id, p.model_a, p.model_b,
             {_sql_pick('p.model_a')} AS ca,
             {_sql_pick('p.model_b')} AS cb
      FROM pc CROSS JOIN (VALUES {_SQL_PAIR_PANEL})
           AS p(model_a, model_b))"""


# ===========================================================================
# Win-rate matrix
# ===========================================================================


_SQL_WINRATE = f"""
    WITH {_SQL_PC_CTE},
    {_SQL_PR_CTE}
    SELECT model_a, model_b,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN ca > cb THEN 1 ELSE 0 END) AS BIGINT)
             AS wins_a,
           CAST(SUM(CASE WHEN cb > ca THEN 1 ELSE 0 END) AS BIGINT)
             AS wins_b,
           CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
             AS ties,
           CAST(SUM(CASE WHEN ca > cb THEN 1000000
                         WHEN ca = cb THEN 500000 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS winrate_a_micro
    FROM pr GROUP BY model_a, model_b
    """


@register(
    "winrate_matrix_models",
    _SQL_WINRATE,
    doc="Pairwise model win-rate matrix over the shared eval set: for "
    "each of the 6 unordered model pairs, wins/ties/losses on per-doc "
    "correctness and the tie-split win rate (ties count half — the "
    "standard eval-harness convention), in truncating integer micros. "
    "The leaderboard primitive every eval harness publishes. Scale "
    "shape: the pair relation is an in-row 6-struct literal explode "
    "(no join), then ONE partial-agg shuffle to the bounded K^2 pair "
    "domain; the win-rate division is per-group on exact counts. "
    "(No counterpart in reference main.go.)",
)
def winrate_matrix_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wr_finalize(_wr_state(_pc(spark, sf_dir)))


def _wr_state(pc: DataFrame) -> DataFrame:
    """Per-pair win/tie/loss counters — order-free sums, so the
    streaming twin holds this relation as complete-mode state."""
    return _pair_rows(pc).groupBy("model_a", "model_b").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(F.when(F.col("ca") > F.col("cb"), 1).otherwise(0))
        .cast("long")
        .alias("wins_a"),
        F.sum(F.when(F.col("cb") > F.col("ca"), 1).otherwise(0))
        .cast("long")
        .alias("wins_b"),
        F.sum(F.when(F.col("ca") == F.col("cb"), 1).otherwise(0))
        .cast("long")
        .alias("ties"),
    )


def _wr_finalize(state: DataFrame) -> DataFrame:
    return state.select(
        "model_a",
        "model_b",
        "n_items",
        "wins_a",
        "wins_b",
        "ties",
        F.expr(
            "CAST(CAST(wins_a * 1000000 + ties * 500000 AS DECIMAL(38,0)) "
            "div n_items AS BIGINT)"
        ).alias("winrate_a_micro"),
    )


# ===========================================================================
# Pairwise model agreement (Cohen's kappa matrix)
# ===========================================================================


@register(
    "model_agreement_kappa_matrix",
    f"""
    WITH {_SQL_PC_CTE},
    {_SQL_PR_CTE},
    cells AS (
      SELECT model_a, model_b,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(ca * cb) AS BIGINT) AS n_both,
             CAST(SUM((1 - ca) * (1 - cb)) AS BIGINT) AS n_neither,
             CAST(SUM(ca) AS BIGINT) AS na1,
             CAST(SUM(cb) AS BIGINT) AS nb1
      FROM pr GROUP BY model_a, model_b),
    rates AS (
      SELECT *,
             CAST((n_both + n_neither) * 1000000 // n_items AS BIGINT)
               AS po_micro,
             CAST((CAST(na1 AS HUGEINT) * nb1
                   + CAST(n_items - na1 AS HUGEINT) * (n_items - nb1))
                  * 1000000 // (CAST(n_items AS HUGEINT) * n_items)
                  AS BIGINT) AS pe_micro
      FROM cells)
    SELECT model_a, model_b, n_items, n_both, n_neither, po_micro,
           pe_micro,
           CASE WHEN pe_micro = 1000000 THEN CAST(1000000 AS BIGINT)
                ELSE CAST((po_micro - pe_micro) * 1000000
                          // (1000000 - pe_micro) AS BIGINT)
           END AS kappa_micro
    FROM rates
    """,
    doc="Pairwise inter-model agreement as Cohen's kappa over the 6 "
    "model pairs: observed agreement po vs chance agreement pe from "
    "the marginal correct-rates, kappa = (po-pe)/(1-pe), all exact "
    "truncating micros (the marginal cross products ride "
    "DECIMAL(38,0)/HUGEINT — na1*nb1 outgrows int64 once the eval set "
    "passes ~3e9 items). Distinguishes models that win by KNOWING "
    "different things (low kappa) from near-clones (high kappa) — the "
    "ensemble-selection signal a win-rate matrix alone hides. Scale "
    "shape: same in-row pair explode + one partial-agg shuffle to the "
    "bounded K^2 domain; everything after is per-group arithmetic. "
    "(No counterpart in reference main.go.)",
)
def model_agreement_kappa_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pr = _pair_rows(_pc(spark, sf_dir))
    cells = pr.groupBy("model_a", "model_b").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("n_both"),
        F.sum((1 - F.col("ca")) * (1 - F.col("cb")))
        .cast("long")
        .alias("n_neither"),
        F.sum("ca").cast("long").alias("na1"),
        F.sum("cb").cast("long").alias("nb1"),
    )
    rates = cells.select(
        "*",
        F.expr("(n_both + n_neither) * 1000000 div n_items")
        .cast("long")
        .alias("po_micro"),
        F.expr(
            "CAST((CAST(na1 AS DECIMAL(38,0)) * nb1 "
            "+ CAST(n_items - na1 AS DECIMAL(38,0)) * (n_items - nb1)) "
            "* 1000000 div (CAST(n_items AS DECIMAL(38,0)) * n_items) "
            "AS BIGINT)"
        ).alias("pe_micro"),
    )
    return rates.select(
        "model_a",
        "model_b",
        "n_items",
        "n_both",
        "n_neither",
        "po_micro",
        "pe_micro",
        F.expr(
            "CASE WHEN pe_micro = 1000000 THEN CAST(1000000 AS BIGINT) "
            "ELSE CAST((po_micro - pe_micro) * 1000000 "
            "div (1000000 - pe_micro) AS BIGINT) END"
        ).alias("kappa_micro"),
    )


# ===========================================================================
# McNemar paired test (m1 vs m2)
# ===========================================================================

# chi2(1df) 0.95 critical value in micros — the build-time constant the
# BH ladder already embeds (round8b._BH_CRIT_MICRO[-1]).
_CHI2_1_95_MICRO = 3841459


_SQL_MCNEMAR = f"""
    WITH {_SQL_PC_CTE},
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(c_m1 * c_m2) AS BIGINT) AS n_both,
             CAST(SUM((1 - c_m1) * (1 - c_m2)) AS BIGINT) AS n_neither,
             CAST(SUM(c_m1 * (1 - c_m2)) AS BIGINT) AS n_only_a,
             CAST(SUM((1 - c_m1) * c_m2) AS BIGINT) AS n_only_b
      FROM pc)
    SELECT n_items, n_both, n_neither, n_only_a, n_only_b,
           CASE WHEN n_only_a + n_only_b = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(GREATEST(abs(n_only_a - n_only_b) - 1, 0)
                               AS HUGEINT)
                          * GREATEST(abs(n_only_a - n_only_b) - 1, 0)
                          * 1000000 // (n_only_a + n_only_b) AS BIGINT)
           END AS chi2_cc_micro,
           CASE WHEN n_only_a + n_only_b = 0 THEN FALSE
                ELSE CAST(GREATEST(abs(n_only_a - n_only_b) - 1, 0)
                          AS HUGEINT)
                     * GREATEST(abs(n_only_a - n_only_b) - 1, 0)
                     * 1000000 // (n_only_a + n_only_b)
                     >= {_CHI2_1_95_MICRO}
           END AS significant
    FROM cells
    """


@register(
    "mcnemar_paired_models",
    _SQL_MCNEMAR,
    doc="McNemar's paired test of model m1 vs m2 on the shared eval "
    "set: only the discordant pairs carry signal — chi2 = "
    "(|b-c|-1)^2/(b+c) with the continuity correction (clamped at 0), "
    "compared against the build-time chi2(1df) 0.95 critical value "
    "(the BH ladder constant). THE correct significance test for two "
    "models on one eval set (an unpaired test throws away the "
    "per-item pairing and loses most of its power). Discordant-count "
    "square rides DECIMAL(38,0)/HUGEINT — (b-c)^2*1e6 outgrows int64 "
    "once |b-c| passes ~3e6. Scale shape: one narrow corpus pass to a "
    "single partial-agg row; all arithmetic on that 1-row relation. "
    "(No counterpart in reference main.go.)",
)
def mcnemar_paired_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mcn_finalize(_mcn_state(_pc(spark, sf_dir)))


def _mcn_state(pc: DataFrame) -> DataFrame:
    """The four m1-vs-m2 concordance counters as one global aggregate
    row (the streaming twin's complete-mode state)."""
    return pc.groupBy().agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(F.col("c_m1") * F.col("c_m2")).cast("long").alias("n_both"),
        F.sum((1 - F.col("c_m1")) * (1 - F.col("c_m2")))
        .cast("long")
        .alias("n_neither"),
        F.sum(F.col("c_m1") * (1 - F.col("c_m2")))
        .cast("long")
        .alias("n_only_a"),
        F.sum((1 - F.col("c_m1")) * F.col("c_m2"))
        .cast("long")
        .alias("n_only_b"),
    )


def _mcn_finalize(cells: DataFrame) -> DataFrame:
    chi2 = (
        "CAST(GREATEST(abs(n_only_a - n_only_b) - 1, 0) AS DECIMAL(38,0)) "
        "* GREATEST(abs(n_only_a - n_only_b) - 1, 0) * 1000000 "
        "div (n_only_a + n_only_b)"
    )
    return cells.select(
        "n_items",
        "n_both",
        "n_neither",
        "n_only_a",
        "n_only_b",
        F.expr(
            f"CASE WHEN n_only_a + n_only_b = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST({chi2} AS BIGINT) END"
        ).alias("chi2_cc_micro"),
        F.expr(
            f"CASE WHEN n_only_a + n_only_b = 0 THEN FALSE "
            f"ELSE {chi2} >= {_CHI2_1_95_MICRO} END"
        ).alias("significant"),
    )


# ===========================================================================
# Paired Poisson-bootstrap win-rate delta with CI
# ===========================================================================

# Poisson(1) inverse-CDF thresholds in micros (build-time constants,
# embedded in both dialects — no runtime libm): P(X=0)=e^-1, cumulative.
_POIS_CUM = (367879, 735759, 919699, 981012)  # w=0,1,2,3; else 4
_B_BOOT = 200


def _sql_boot_w() -> str:
    return (
        "CASE WHEN r = 0 THEN 1 "
        f"WHEN u < {_POIS_CUM[0]} THEN 0 "
        f"WHEN u < {_POIS_CUM[1]} THEN 1 "
        f"WHEN u < {_POIS_CUM[2]} THEN 2 "
        f"WHEN u < {_POIS_CUM[3]} THEN 3 ELSE 4 END"
    )


@register(
    "paired_bootstrap_winrate",
    f"""
    WITH {_SQL_PC_CTE},
    d AS (SELECT doc_id, c_m1 - c_m2 AS dd FROM pc),
    reps AS (
      SELECT r.r, d.dd,
             CAST('0x' || substr(md5('boot|' || CAST(r.r AS VARCHAR)
                  || '|' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS u
      FROM d CROSS JOIN (SELECT unnest(range(0, {_B_BOOT + 1})) AS r) r),
    w AS (SELECT r, dd, {_sql_boot_w()} AS w FROM reps),
    agg AS (
      SELECT r,
             CAST(SUM(w) AS BIGINT) AS n_eff,
             CASE WHEN SUM(w) = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(CAST(SUM(w * dd) AS HUGEINT) * 1000000
                            // SUM(w) AS BIGINT)
             END AS delta_micro
      FROM w GROUP BY r),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY (r = 0) ORDER BY delta_micro, r) AS BIGINT)
               AS rnk
      FROM agg)
    SELECT CAST(MAX(CASE WHEN r = 0 THEN n_eff END) AS BIGINT) AS n_docs,
           CAST(MAX(CASE WHEN r = 0 THEN delta_micro END) AS BIGINT)
             AS point_delta_micro,
           CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boot,
           CAST(MAX(CASE WHEN r > 0 AND rnk = 5 THEN delta_micro END)
                AS BIGINT) AS ci_lo_micro,
           CAST(MAX(CASE WHEN r > 0 AND rnk = {_B_BOOT - 4}
                         THEN delta_micro END) AS BIGINT) AS ci_hi_micro,
           MAX(CASE WHEN r > 0 AND rnk = 5 THEN delta_micro END) > 0
           OR MAX(CASE WHEN r > 0 AND rnk = {_B_BOOT - 4}
                       THEN delta_micro END) < 0 AS rejects_null
    FROM ranked
    """,
    doc="Paired Poisson-bootstrap comparison of models m1 vs m2: the "
    "per-doc paired difference d = c1-c2 is resampled by 200 Poisson(1) "
    "bootstrap replicates (the scale-safe bootstrap — per-(replicate, "
    "doc) multiplicities from build-time inverse-CDF thresholds on the "
    "md5 draw, never an index-resample join), replicate 0 is the "
    "identity (w=1, the point estimate rides the same relation — no "
    "1-row cross join), and the 95% CI is the 5th/196th order "
    "statistic of the 200 replicate deltas. rejects_null iff the CI "
    "excludes 0 — the standard eval-harness significance call "
    "(Koehn 2004 for MT; the same machinery every LLM eval uses). "
    "Scale shape: one corpus pass exploded x201 (bounded constant "
    "fan-out), ONE partial-agg shuffle to the bounded 201-row "
    "replicate relation, ranking windows on that bounded relation; "
    "the weighted-sum numerator rides DECIMAL(38,0)/HUGEINT. "
    "(No counterpart in reference main.go.)",
)
def paired_bootstrap_winrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    pc = _pc(spark, sf_dir)
    d = pc.select("doc_id", (F.col("c_m1") - F.col("c_m2")).alias("dd"))
    reps = d.select(
        "doc_id",
        "dd",
        F.explode(F.sequence(F.lit(0), F.lit(_B_BOOT))).alias("r"),
    ).select(
        "r",
        "dd",
        (
            md5_h15(
                F.concat(
                    F.lit("boot|"),
                    F.col("r").cast("string"),
                    F.lit("|"),
                    F.col("doc_id").cast("string"),
                )
            )
            % 1000000
        ).alias("u"),
    )
    w = reps.select("r", "dd", F.expr(_sql_boot_w()).alias("w"))
    agg = w.groupBy("r").agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.expr(
            "CASE WHEN SUM(w) = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(CAST(SUM(w * dd) AS DECIMAL(38,0)) * 1000000 "
            "div SUM(w) AS BIGINT) END"
        ).alias("delta_micro"),
    )
    wr = Window.partitionBy(F.col("r") == 0).orderBy("delta_micro", "r")
    ranked = agg.select(
        "*", F.row_number().over(wr).cast("long").alias("rnk")
    )
    return ranked.agg(
        F.max(F.when(F.col("r") == 0, F.col("n_eff")))
        .cast("long")
        .alias("n_docs"),
        F.max(F.when(F.col("r") == 0, F.col("delta_micro")))
        .cast("long")
        .alias("point_delta_micro"),
        F.sum(F.when(F.col("r") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_boot"),
        F.max(
            F.when((F.col("r") > 0) & (F.col("rnk") == 5), F.col("delta_micro"))
        )
        .cast("long")
        .alias("ci_lo_micro"),
        F.max(
            F.when(
                (F.col("r") > 0) & (F.col("rnk") == _B_BOOT - 4),
                F.col("delta_micro"),
            )
        )
        .cast("long")
        .alias("ci_hi_micro"),
        (
            (
                F.max(
                    F.when(
                        (F.col("r") > 0) & (F.col("rnk") == 5),
                        F.col("delta_micro"),
                    )
                )
                > 0
            )
            | (
                F.max(
                    F.when(
                        (F.col("r") > 0) & (F.col("rnk") == _B_BOOT - 4),
                        F.col("delta_micro"),
                    )
                )
                < 0
            )
        ).alias("rejects_null"),
    )


# ===========================================================================
# Bradley-Terry model strengths with Fisher-information confidence
# ===========================================================================

_BT_SCALE = 1000000


@register(
    "bt_model_strength_ci",
    f"""
    WITH {_SQL_PC_CTE},
    {_SQL_PR_CTE},
    g AS (SELECT model_a, model_b,
                 CASE WHEN ca > cb THEN 1 ELSE 0 END AS win_a
          FROM pr WHERE ca <> cb),
    sym AS (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(win) AS BIGINT) AS wins
      FROM (SELECT model_a AS i, model_b AS j, win_a AS win FROM g
            UNION ALL
            SELECT model_b AS i, model_a AS j, 1 - win_a AS win FROM g)
      GROUP BY i, j),
    totals AS (
      SELECT i, CAST(SUM(n) AS BIGINT) AS games_total,
             CAST(SUM(wins) AS BIGINT) AS wins_total
      FROM sym GROUP BY i),
    w0 AS (SELECT i, CAST({_BT_SCALE} AS BIGINT) AS w FROM totals),
    w1 AS (
      SELECT s.i,
             CASE WHEN SUM(CAST(s.n AS HUGEINT) * {_BT_SCALE}
                          // (wi.w + wj.w)) > 0
                  THEN GREATEST(1, CAST(CAST(MAX(t.wins_total) AS HUGEINT)
                       * {_BT_SCALE}
                       // SUM(CAST(s.n AS HUGEINT) * {_BT_SCALE}
                              // (wi.w + wj.w)) AS BIGINT))
                  ELSE CAST({_BT_SCALE} AS BIGINT) END AS w
      FROM sym s
      JOIN w0 wi ON s.i = wi.i JOIN w0 wj ON s.j = wj.i
      JOIN totals t ON s.i = t.i
      GROUP BY s.i),
    w2 AS (
      SELECT s.i,
             CASE WHEN SUM(CAST(s.n AS HUGEINT) * {_BT_SCALE}
                          // (wi.w + wj.w)) > 0
                  THEN GREATEST(1, CAST(CAST(MAX(t.wins_total) AS HUGEINT)
                       * {_BT_SCALE}
                       // SUM(CAST(s.n AS HUGEINT) * {_BT_SCALE}
                              // (wi.w + wj.w)) AS BIGINT))
                  ELSE CAST({_BT_SCALE} AS BIGINT) END AS w
      FROM sym s
      JOIN w1 wi ON s.i = wi.i JOIN w1 wj ON s.j = wj.i
      JOIN totals t ON s.i = t.i
      GROUP BY s.i),
    info AS (
      SELECT s.i,
             CAST(SUM(CAST(s.n AS HUGEINT) * wi.w * wj.w * 1000000
                      // (CAST(wi.w + wj.w AS HUGEINT) * (wi.w + wj.w)))
                  AS BIGINT) AS info_micro
      FROM sym s JOIN w2 wi ON s.i = wi.i JOIN w2 wj ON s.j = wj.i
      GROUP BY s.i)
    SELECT t.i AS model, t.games_total, t.wins_total,
           w2.w AS strength_micro, info.info_micro,
           CASE WHEN info.info_micro = 0 THEN NULL
                ELSE CAST(floor(1959964.0
                     / sqrt(CAST(info.info_micro AS DOUBLE) / 1000000.0))
                     AS BIGINT)
           END AS ci_halfwidth_log_micro
    FROM totals t JOIN w2 ON t.i = w2.i JOIN info ON t.i = info.i
    """,
    doc="Bradley-Terry strengths over the 4-model tournament (decisive "
    "per-doc pairs only) with a Wald confidence half-width: two "
    "order-free MM iterations (Hunter 2004, the round-8 supplier-BT "
    "discipline — exact DECIMAL(38,0)/HUGEINT truncating division, "
    "floor-guard at 1), then the diagonal Fisher information for the "
    "log-strength, I_i = sum_j n_ij * w_i*w_j/(w_i+w_j)^2, in exact "
    "micros, and ci_halfwidth_log = 1.959964/sqrt(I) — sqrt is "
    "IEEE-correctly-rounded so both engines agree bit-for-bit; no "
    "exp/log anywhere (the interval is reported on the log-strength "
    "scale). This is the 'Elo with error bars' column every win-rate "
    "leaderboard needs (Chatbot-Arena-style). Scale shape: one corpus "
    "pass to the bounded K(K-1) pair relation; both MM iterations and "
    "the information sum are equi-joins + aggs on that bounded "
    "relation. (No counterpart in reference main.go.)",
)
def bt_model_strength_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    pr = _pair_rows(_pc(spark, sf_dir))
    g = pr.filter(F.col("ca") != F.col("cb")).select(
        "model_a",
        "model_b",
        F.when(F.col("ca") > F.col("cb"), 1).otherwise(0).alias("win_a"),
    )
    sym = (
        g.select(
            F.col("model_a").alias("i"),
            F.col("model_b").alias("j"),
            F.col("win_a").alias("win"),
        )
        .unionAll(
            g.select(
                F.col("model_b").alias("i"),
                F.col("model_a").alias("j"),
                (1 - F.col("win_a")).alias("win"),
            )
        )
        .groupBy("i", "j")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("win").cast("long").alias("wins"),
        )
    )
    totals = sym.groupBy("i").agg(
        F.sum("n").cast("long").alias("games_total"),
        F.sum("wins").cast("long").alias("wins_total"),
    )

    def mm_iter(w_prev: DataFrame) -> DataFrame:
        wi = w_prev.select(F.col("i"), F.col("w").alias("w_i"))
        wj = w_prev.select(F.col("i").alias("j"), F.col("w").alias("w_j"))
        return (
            sym.join(F.broadcast(wi), "i")
            .join(F.broadcast(wj), "j")
            .join(F.broadcast(totals.select("i", "wins_total")), "i")
            .groupBy("i")
            .agg(
                F.expr(
                    f"CASE WHEN SUM((CAST(n AS DECIMAL(38,0)) * {_BT_SCALE})"
                    " div (w_i + w_j)) > 0"
                    " THEN GREATEST(1, CAST("
                    f"(CAST(MAX(wins_total) AS DECIMAL(38,0)) * {_BT_SCALE})"
                    f" div SUM((CAST(n AS DECIMAL(38,0)) * {_BT_SCALE})"
                    " div (w_i + w_j)) AS BIGINT))"
                    f" ELSE CAST({_BT_SCALE} AS BIGINT) END"
                ).alias("w")
            )
        )

    w0 = totals.select("i", F.lit(_BT_SCALE).cast("long").alias("w"))
    w2 = mm_iter(mm_iter(w0))
    wi = w2.select(F.col("i"), F.col("w").alias("w_i"))
    wj = w2.select(F.col("i").alias("j"), F.col("w").alias("w_j"))
    info = (
        sym.join(F.broadcast(wi), "i")
        .join(F.broadcast(wj), "j")
        .groupBy("i")
        .agg(
            F.expr(
                "CAST(SUM(CAST(n AS DECIMAL(38,0)) * w_i * w_j * 1000000 "
                "div (CAST(w_i + w_j AS DECIMAL(38,0)) * (w_i + w_j))) "
                "AS BIGINT)"
            ).alias("info_micro")
        )
    )
    return (
        totals.join(w2.select("i", F.col("w").alias("strength_micro")), "i")
        .join(info, "i")
        .select(
            F.col("i").alias("model"),
            "games_total",
            "wins_total",
            "strength_micro",
            "info_micro",
            F.expr(
                "CASE WHEN info_micro = 0 THEN NULL "
                "ELSE CAST(floor(1959964.0 "
                "/ sqrt(CAST(info_micro AS DOUBLE) / 1000000.0)) "
                "AS BIGINT) END"
            ).alias("ci_halfwidth_log_micro"),
        )
    )


# ===========================================================================
# Fleiss' kappa over a synthetic annotator panel
# ===========================================================================

_ANNOT_ERR = (50000, 100000, 150000, 200000, 250000)  # per-annotator flip p
_M_RATERS = len(_ANNOT_ERR)


def _sql_rating(a: int, err: int) -> str:
    truth = (
        "CAST('0x' || substr(md5('truth|' || CAST(doc_id AS VARCHAR)), "
        "1, 15) AS BIGINT) % 2"
    )
    flip = (
        f"CASE WHEN CAST('0x' || substr(md5('ann|{a}|' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 < {err} "
        f"THEN 1 ELSE 0 END"
    )
    return f"(({truth}) + ({flip})) % 2"


def _rating_col(a: int, err: int):
    truth = md5_h15(F.concat(F.lit("truth|"), F.col("doc_id").cast("string"))) % 2
    flip = F.when(
        md5_h15(F.concat(F.lit(f"ann|{a}|"), F.col("doc_id").cast("string")))
        % 1000000
        < err,
        1,
    ).otherwise(0)
    return ((truth + flip) % 2).cast("long")


@register(
    "fleiss_kappa_annotators",
    f"""
    WITH items AS (
      SELECT doc_id,
             {' + '.join(f'({_sql_rating(a + 1, e)})' for a, e in enumerate(_ANNOT_ERR))}
               AS n1
      FROM documents),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(n1 * (n1 - 1)
                      + ({_M_RATERS} - n1) * ({_M_RATERS} - 1 - n1))
                  AS BIGINT) AS agree_num,
             CAST(SUM(n1) AS BIGINT) AS total1
      FROM items),
    rates AS (
      SELECT n_items,
             CASE WHEN n_items = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(CAST(agree_num AS HUGEINT) * 1000000
                       // (CAST(n_items AS HUGEINT)
                           * {_M_RATERS * (_M_RATERS - 1)}) AS BIGINT)
             END AS p_bar_micro,
             CASE WHEN n_items = 0 THEN CAST(500000 AS BIGINT)
                  ELSE CAST(CAST(total1 AS HUGEINT) * 1000000
                       // (CAST(n_items AS HUGEINT) * {_M_RATERS})
                       AS BIGINT)
             END AS p1_micro
      FROM agg)
    SELECT n_items, CAST({_M_RATERS} AS BIGINT) AS m_raters, p_bar_micro,
           CAST((p1_micro * p1_micro
                 + (1000000 - p1_micro) * (1000000 - p1_micro))
                // 1000000 AS BIGINT) AS p_e_micro,
           CASE WHEN (p1_micro * p1_micro
                      + (1000000 - p1_micro) * (1000000 - p1_micro))
                     // 1000000 = 1000000 THEN CAST(1000000 AS BIGINT)
                ELSE CAST((p_bar_micro
                     - (p1_micro * p1_micro
                        + (1000000 - p1_micro) * (1000000 - p1_micro))
                       // 1000000) * 1000000
                     // (1000000
                         - (p1_micro * p1_micro
                            + (1000000 - p1_micro) * (1000000 - p1_micro))
                           // 1000000) AS BIGINT)
           END AS kappa_micro
    FROM rates
    """,
    doc="Fleiss' kappa over a 5-annotator panel labeling every doc: "
    "annotators share a deterministic md5 ground-truth bit and flip it "
    "with per-annotator error rates 5-25% (build-time constants, both "
    "dialects); kappa = (P_bar - P_e)/(1 - P_e) with P_bar the mean "
    "pairwise agreement from the per-item category counts and P_e the "
    "chance agreement from the pooled marginal — all exact truncating "
    "micros (the item-agreement sum rides DECIMAL(38,0)/HUGEINT; it "
    "outgrows int64 once items pass ~4.6e17/M(M-1)). The "
    "multi-annotator extension of annotator_agreement_kappa (Cohen, 2 "
    "raters) — the labeling-QA gate for eval-set construction. Scale "
    "shape: the 5 ratings are in-row expressions (no explode, no "
    "join), one partial-agg shuffle to a single row. "
    "(No counterpart in reference main.go.)",
)
def fleiss_kappa_annotators(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n1 = None
    for a, e in enumerate(_ANNOT_ERR):
        r = _rating_col(a + 1, e)
        n1 = r if n1 is None else n1 + r
    items = docs.select("doc_id", n1.alias("n1"))
    agg = items.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(
            F.col("n1") * (F.col("n1") - 1)
            + (_M_RATERS - F.col("n1")) * (_M_RATERS - 1 - F.col("n1"))
        )
        .cast("long")
        .alias("agree_num"),
        F.sum("n1").cast("long").alias("total1"),
    )
    rates = agg.select(
        "n_items",
        F.expr(
            f"CASE WHEN n_items = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(CAST(agree_num AS DECIMAL(38,0)) * 1000000 "
            f"div (CAST(n_items AS DECIMAL(38,0)) "
            f"* {_M_RATERS * (_M_RATERS - 1)}) AS BIGINT) END"
        ).alias("p_bar_micro"),
        F.expr(
            f"CASE WHEN n_items = 0 THEN CAST(500000 AS BIGINT) "
            f"ELSE CAST(CAST(total1 AS DECIMAL(38,0)) * 1000000 "
            f"div (CAST(n_items AS DECIMAL(38,0)) * {_M_RATERS}) "
            f"AS BIGINT) END"
        ).alias("p1_micro"),
    )
    pe = (
        "(p1_micro * p1_micro "
        "+ (1000000 - p1_micro) * (1000000 - p1_micro)) div 1000000"
    )
    return rates.select(
        "n_items",
        F.lit(_M_RATERS).cast("long").alias("m_raters"),
        "p_bar_micro",
        F.expr(f"CAST({pe} AS BIGINT)").alias("p_e_micro"),
        F.expr(
            f"CASE WHEN {pe} = 1000000 THEN CAST(1000000 AS BIGINT) "
            f"ELSE CAST((p_bar_micro - {pe}) * 1000000 "
            f"div (1000000 - {pe}) AS BIGINT) END"
        ).alias("kappa_micro"),
    )


# ===========================================================================
# Length-controlled win rate (Mantel-Haenszel pooled odds ratio)
# ===========================================================================


@register(
    "mantel_haenszel_winrate",
    f"""
    WITH {_SQL_PC_CTE},
    strata AS (
      SELECT LEAST(4, n_chars // 120) AS stratum,
             CAST(SUM(c_m1) AS BIGINT) AS a,
             CAST(SUM(1 - c_m1) AS BIGINT) AS b,
             CAST(SUM(c_m2) AS BIGINT) AS c,
             CAST(SUM(1 - c_m2) AS BIGINT) AS d
      FROM pc GROUP BY LEAST(4, n_chars // 120)),
    scored AS (
      SELECT stratum, a, b, c, d,
             CASE WHEN b * c = 0 THEN NULL
                  ELSE CAST(CAST(a AS HUGEINT) * d * 1000000
                            // (CAST(b AS HUGEINT) * c) AS BIGINT)
             END AS or_stratum_micro,
             CASE WHEN a + b = 0 OR c + d = 0 THEN NULL
                  ELSE CAST(a * 1000000 // (a + b)
                            - c * 1000000 // (c + d) AS BIGINT)
             END AS acc_gap_micro,
             CAST(CAST(a AS HUGEINT) * d * 1000000
                  // (a + b + c + d) AS BIGINT) AS mh_num,
             CAST(CAST(b AS HUGEINT) * c * 1000000
                  // (a + b + c + d) AS BIGINT) AS mh_den
      FROM strata),
    pooled AS (
      SELECT *,
             CAST(SUM(mh_num) OVER () AS BIGINT) AS num_all,
             CAST(SUM(mh_den) OVER () AS BIGINT) AS den_all
      FROM scored)
    SELECT CAST(stratum AS BIGINT) AS stratum, a, b, c, d,
           or_stratum_micro, acc_gap_micro,
           CASE WHEN den_all = 0 THEN NULL
                ELSE CAST(CAST(num_all AS HUGEINT) * 1000000 // den_all
                          AS BIGINT)
           END AS or_mh_micro
    FROM pooled
    """,
    doc="Length-controlled model comparison via the Mantel-Haenszel "
    "pooled odds ratio: docs stratify by length band (5 bounded "
    "strata of n_chars//120, capped), each stratum contributes its "
    "2x2 (m1 correct/wrong vs m2 correct/wrong), and the pooled "
    "OR_MH = sum(a_k d_k/n_k)/sum(b_k c_k/n_k) controls for the "
    "length confounder that raw win rates hide (the AlpacaEval "
    "length-bias problem: a model that wins only on short docs can "
    "win the unstratified comparison). Per-stratum ORs and accuracy "
    "gaps ride along; NULL where a margin is empty (identical CASE in "
    "both dialects — never a NaN). Cross products ride "
    "DECIMAL(38,0)/HUGEINT (a*d*1e6 outgrows int64 once a stratum "
    "passes ~3e6 docs). Scale shape: one partial-agg shuffle to the "
    "bounded 5-stratum relation; the pooled OR rides a window over "
    "that bounded relation, never a 1-row cross join. "
    "(No counterpart in reference main.go.)",
)
def mantel_haenszel_winrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    pc = _pc(spark, sf_dir)
    strata = pc.groupBy(
        F.least(F.lit(4), F.expr("n_chars div 120")).alias("stratum")
    ).agg(
        F.sum("c_m1").cast("long").alias("a"),
        F.sum(1 - F.col("c_m1")).cast("long").alias("b"),
        F.sum("c_m2").cast("long").alias("c"),
        F.sum(1 - F.col("c_m2")).cast("long").alias("d"),
    )
    scored = strata.select(
        "stratum",
        "a",
        "b",
        "c",
        "d",
        F.expr(
            "CASE WHEN b * c = 0 THEN NULL "
            "ELSE CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000 "
            "div (CAST(b AS DECIMAL(38,0)) * c) AS BIGINT) END"
        ).alias("or_stratum_micro"),
        F.expr(
            "CASE WHEN a + b = 0 OR c + d = 0 THEN NULL "
            "ELSE CAST(a * 1000000 div (a + b) "
            "- c * 1000000 div (c + d) AS BIGINT) END"
        ).alias("acc_gap_micro"),
        F.expr(
            "CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000 "
            "div (a + b + c + d) AS BIGINT)"
        ).alias("mh_num"),
        F.expr(
            "CAST(CAST(b AS DECIMAL(38,0)) * c * 1000000 "
            "div (a + b + c + d) AS BIGINT)"
        ).alias("mh_den"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pooled = scored.select(
        "*",
        F.sum("mh_num").over(wall).cast("long").alias("num_all"),
        F.sum("mh_den").over(wall).cast("long").alias("den_all"),
    )
    return pooled.select(
        F.col("stratum").cast("long").alias("stratum"),
        "a",
        "b",
        "c",
        "d",
        "or_stratum_micro",
        "acc_gap_micro",
        F.expr(
            "CASE WHEN den_all = 0 THEN NULL "
            "ELSE CAST(CAST(num_all AS DECIMAL(38,0)) * 1000000 "
            "div den_all AS BIGINT) END"
        ).alias("or_mh_micro"),
    )


# ===========================================================================
# Expected calibration error over confidence bins
# ===========================================================================


_SQL_ECE = f"""
    WITH conf AS (
      SELECT doc_id,
             LEAST(999999, {_sql_p_micro(_MODELS[0][1])} + 150000)
               AS conf_micro,
             CAST({_sql_correct(*_MODELS[0])} AS BIGINT) AS correct
      FROM documents),
    bins AS (
      SELECT conf_micro // 100000 AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conf_micro) // COUNT(*) AS BIGINT)
               AS mean_conf_micro,
             CAST(SUM(correct) * 1000000 // COUNT(*) AS BIGINT)
               AS acc_micro
      FROM conf GROUP BY conf_micro // 100000),
    gaps AS (
      SELECT bin, n, mean_conf_micro, acc_micro,
             abs(acc_micro - mean_conf_micro) AS gap_micro
      FROM bins)
    SELECT CAST(bin AS BIGINT) AS bin, n, mean_conf_micro, acc_micro,
           CAST(gap_micro AS BIGINT) AS gap_micro,
           CAST(SUM(CAST(n AS HUGEINT) * gap_micro) OVER ()
                // SUM(CAST(n AS HUGEINT)) OVER () AS BIGINT)
             AS ece_micro
    FROM gaps
    """


@register(
    "ece_calibration_bins",
    _SQL_ECE,
    doc="Expected calibration error of model m1's reported confidence: "
    "the model reports conf = true success probability + 150000 micro "
    "overconfidence (clamped; the construction plants a known ~15% "
    "calibration gap), outcomes are the same md5 draw the panel uses, "
    "and ECE = sum_b (n_b/N)|acc_b - conf_b| over the 10 fixed "
    "100000-micro confidence bins. Complements "
    "quality_score_calibration (score-ordered NTILE deciles): fixed "
    "bins are the ECE the eval literature reports, and bin membership "
    "needs no global sort at any scale. Scale shape: one narrow "
    "corpus pass, partial-agg shuffle to <=10 bin rows, ECE rides a "
    "window over that bounded relation (DECIMAL/HUGEINT on the "
    "n*gap products — they outgrow int64 once a bin passes ~9e12 "
    "docs). (No counterpart in reference main.go.)",
)
def ece_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ece_finalize(_ece_state(load(spark, sf_dir, "documents")))


def _ece_state(docs: DataFrame) -> DataFrame:
    """Per-confidence-bin (n, sum_conf, sum_correct) counters — the
    order-free sums the streaming twin holds as complete-mode state."""
    m, skill = _MODELS[0]
    conf = docs.select(
        F.least(F.lit(999999), _p_micro_col(skill) + 150000).alias(
            "conf_micro"
        ),
        _correct_col(m, skill).alias("correct"),
    )
    return conf.groupBy(
        F.expr("conf_micro div 100000").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("conf_micro").cast("long").alias("sum_conf"),
        F.sum("correct").cast("long").alias("sum_correct"),
    )


def _ece_finalize(state: DataFrame) -> DataFrame:
    gaps = state.select(
        "bin",
        "n",
        F.expr("CAST(sum_conf div n AS BIGINT)").alias("mean_conf_micro"),
        F.expr("CAST(sum_correct * 1000000 div n AS BIGINT)").alias(
            "acc_micro"
        ),
    ).select(
        "*",
        F.abs(F.col("acc_micro") - F.col("mean_conf_micro")).alias(
            "gap_micro"
        ),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = gaps.select(
        "*",
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("gap_micro"))
        .over(wall)
        .alias("wgap_sum"),
        F.sum(F.col("n").cast("decimal(38,0)")).over(wall).alias("n_sum"),
    )
    return tot.select(
        F.col("bin").cast("long").alias("bin"),
        "n",
        "mean_conf_micro",
        "acc_micro",
        F.col("gap_micro").cast("long").alias("gap_micro"),
        F.expr("CAST(wgap_sum div n_sum AS BIGINT)").alias("ece_micro"),
    )


# ===========================================================================
# LLM-judge position-bias audit
# ===========================================================================

_JUDGE_BIAS_MICRO = 200000  # P(judge just picks whichever answer is first)


@register(
    "judge_position_bias_audit",
    f"""
    WITH verdicts AS (
      SELECT source,
             CAST('0x' || substr(md5('pref|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS t,
             CAST('0x' || substr(md5('ord|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS o,
             CASE WHEN CAST('0x' || substr(md5('jb1|' ||
                       CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 1000000 < {_JUDGE_BIAS_MICRO} THEN 1 ELSE 0 END
               AS b1,
             CASE WHEN CAST('0x' || substr(md5('jb2|' ||
                       CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 1000000 < {_JUDGE_BIAS_MICRO} THEN 1 ELSE 0 END
               AS b2
      FROM documents),
    passes AS (
      SELECT source, t, o,
             CASE WHEN b1 = 1 THEN o ELSE t END AS v1,
             CASE WHEN b2 = 1 THEN 1 - o ELSE t END AS v2
      FROM verdicts)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS consistency_micro,
           CAST(SUM(CASE WHEN v1 = o THEN 1 ELSE 0 END
                    + CASE WHEN v2 = 1 - o THEN 1 ELSE 0 END) * 1000000
                // (2 * COUNT(*)) AS BIGINT) AS first_win_micro,
           CASE WHEN SUM(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) = 0
                THEN NULL
                ELSE CAST(SUM(CASE WHEN v1 = v2 AND v1 = t
                              THEN 1 ELSE 0 END) * 1000000
                     // SUM(CASE WHEN v1 = v2 THEN 1 ELSE 0 END)
                     AS BIGINT)
           END AS consistent_accuracy_micro
    FROM passes GROUP BY source
    """,
    doc="LLM-judge position-bias audit via the swap test: every "
    "comparison is judged twice with the presentation order swapped; "
    "a position-biased judge (the construction plants a 20% "
    "pick-whichever-is-first rate, independent per pass) produces "
    "inconsistent verdict pairs and a first-position win rate above "
    "500000 micro, while consistent pairs recover the true preference "
    "(consistent_accuracy ~ 1). The standard pairwise-eval QA gate "
    "(MT-Bench/Arena swap-consistency protocol). Scale shape: both "
    "passes are in-row expressions on one narrow corpus pass (no "
    "self-join — the swap is simulated per row), one partial-agg "
    "shuffle to the bounded source domain. "
    "(No counterpart in reference main.go.)",
)
def judge_position_bias_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = md5_h15(F.concat(F.lit("pref|"), F.col("doc_id").cast("string"))) % 2
    o = md5_h15(F.concat(F.lit("ord|"), F.col("doc_id").cast("string"))) % 2
    b1 = (
        md5_h15(F.concat(F.lit("jb1|"), F.col("doc_id").cast("string")))
        % 1000000
        < _JUDGE_BIAS_MICRO
    )
    b2 = (
        md5_h15(F.concat(F.lit("jb2|"), F.col("doc_id").cast("string")))
        % 1000000
        < _JUDGE_BIAS_MICRO
    )
    passes = docs.select(
        "source",
        t.alias("t"),
        o.alias("o"),
        F.when(b1, o).otherwise(t).alias("v1"),
        F.when(b2, 1 - o).otherwise(t).alias("v2"),
    )
    return passes.groupBy("source").agg(
        F.count("*").cast("long").alias("n_items"),
        F.expr(
            "CAST(SUM(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) * 1000000 "
            "div COUNT(*) AS BIGINT)"
        ).alias("consistency_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN v1 = o THEN 1 ELSE 0 END "
            "+ CASE WHEN v2 = 1 - o THEN 1 ELSE 0 END) * 1000000 "
            "div (2 * COUNT(*)) AS BIGINT)"
        ).alias("first_win_micro"),
        F.expr(
            "CASE WHEN SUM(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) = 0 "
            "THEN NULL "
            "ELSE CAST(SUM(CASE WHEN v1 = v2 AND v1 = t THEN 1 ELSE 0 END) "
            "* 1000000 div SUM(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) "
            "AS BIGINT) END"
        ).alias("consistent_accuracy_micro"),
    )


# ===========================================================================
# Decontaminated-eval certificate (multi-n overlap profile)
# ===========================================================================

_DECON_NS = (2, 3, 5)


def _sql_decon_block(n: int) -> str:
    return f"""
    SELECT CAST({n} AS BIGINT) AS n_gram,
           CAST(SUM(w_doc) AS BIGINT) AS n_eval,
           CAST(SUM(w_contam) AS BIGINT) AS n_contaminated,
           CAST(SUM(w_doc) - SUM(w_contam) AS BIGINT) AS n_clean,
           CASE WHEN SUM(w_doc) = 0 THEN CAST(1000000 AS BIGINT)
                ELSE CAST((SUM(w_doc) - SUM(w_contam)) * 1000000
                          // SUM(w_doc) AS BIGINT)
           END AS retention_micro,
           CAST(SUM(w_resid) AS BIGINT) AS residual_overlap
    FROM (
      WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    < 'cccccccc' THEN 'train' ELSE 'eval' END AS split
        FROM documents),
      sh AS (
        SELECT a.doc_id, a.split,
               unnest(list_distinct(sub.grams)) AS shingle
        FROM assigned a,
             LATERAL (
               SELECT list_transform(
                        range(1, len(string_split(a.text, ' ')) - {n} + 2),
                        i -> array_to_string(
                               string_split(a.text, ' ')[i:i+{n - 1}], ' ')
                      ) AS grams
             ) sub
        WHERE len(string_split(a.text, ' ')) >= {n}),
      train_sh AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
      contaminated AS (
        SELECT DISTINCT s.doc_id
        FROM sh s JOIN train_sh t USING (shingle)
        WHERE s.split = 'eval'),
      resid AS (
        SELECT DISTINCT s.shingle
        FROM sh s JOIN train_sh t USING (shingle)
        WHERE s.split = 'eval'
          AND s.doc_id NOT IN (SELECT doc_id FROM contaminated))
      SELECT 1 AS w_doc,
             CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS w_contam,
             0 AS w_resid
      FROM assigned e LEFT JOIN contaminated c ON e.doc_id = c.doc_id
      WHERE e.split = 'eval'
      UNION ALL
      SELECT 0, 0, 1 FROM resid
    )"""


@register(
    "decontaminated_eval_certificate",
    "\nUNION ALL\n".join(_sql_decon_block(n) for n in _DECON_NS)
    + "\nORDER BY n_gram",
    doc="Decontaminated-eval certificate at three shingle widths "
    "(n = 2, 3, 5): the deterministic 80/20 split, the train n-gram "
    "inverted index, eval docs contaminated by ANY shared shingle, "
    "and — the certificate — residual_overlap, the count of distinct "
    "train shingles still present in the CLEAN eval set, restated "
    "from scratch in both dialects and necessarily 0 (a green row "
    "certifies both engines agree the decontamination is total, the "
    "curation_pipeline_e2e stage-boundary discipline). The per-n rows "
    "are the decontamination sensitivity curve: retention falls as "
    "shingles shorten (n=2 is the aggressive setting). Extends "
    "split_contamination (per-lang, single n) to the release-gate "
    "artifact an eval-set build publishes. Scale shape: per n, one "
    "shingle explode, distinct train shingles hash-partitioned, one "
    "shingle-keyed semi-join (the dedup family's shuffle) — never "
    "doc x doc; counts fold through a tagged union into ONE "
    "aggregation (no 1-row joins). Empty corpus: fixed 3-row panel "
    "(registered in tools/empty_sweep.py FIXED_CARDINALITY).",
)
def decontaminated_eval_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import exploded_shingles
    from kinesis_log_watcher_spark.operators.sampling import split_assign

    docs = load(spark, sf_dir, "documents")
    assigned = split_assign(docs, "doc_id", {"train": 0.8, "eval": 0.2})
    out = None
    for n in _DECON_NS:
        sh = exploded_shingles(assigned, n=n).join(
            assigned.select("doc_id", "split"), "doc_id"
        )
        train_sh = (
            sh.filter(F.col("split") == "train").select("shingle").distinct()
        )
        eval_sh = sh.filter(F.col("split") == "eval").select(
            "doc_id", "shingle"
        )
        contaminated = (
            eval_sh.join(train_sh, "shingle", "left_semi")
            .select("doc_id")
            .distinct()
        )
        eval_docs = assigned.filter(F.col("split") == "eval").select(
            "doc_id"
        )
        flagged = eval_docs.join(
            contaminated.select(F.col("doc_id").alias("c_id")),
            F.col("doc_id") == F.col("c_id"),
            "left",
        ).select(
            F.lit(1).alias("w_doc"),
            F.when(F.col("c_id").isNull(), 0).otherwise(1).alias("w_contam"),
            F.lit(0).alias("w_resid"),
        )
        resid = (
            eval_sh.join(contaminated, "doc_id", "left_anti")
            .join(train_sh, "shingle", "left_semi")
            .select("shingle")
            .distinct()
            .select(
                F.lit(0).alias("w_doc"),
                F.lit(0).alias("w_contam"),
                F.lit(1).alias("w_resid"),
            )
        )
        block = flagged.unionAll(resid).agg(
            F.sum("w_doc").cast("long").alias("n_eval"),
            F.sum("w_contam").cast("long").alias("n_contaminated"),
            (F.sum("w_doc") - F.sum("w_contam")).cast("long").alias(
                "n_clean"
            ),
            F.expr(
                "CASE WHEN SUM(w_doc) = 0 THEN CAST(1000000 AS BIGINT) "
                "ELSE CAST((SUM(w_doc) - SUM(w_contam)) * 1000000 "
                "div SUM(w_doc) AS BIGINT) END"
            ).alias("retention_micro"),
            F.sum("w_resid").cast("long").alias("residual_overlap"),
        ).select(
            F.lit(n).cast("long").alias("n_gram"),
            "n_eval",
            "n_contaminated",
            "n_clean",
            "retention_micro",
            "residual_overlap",
        )
        out = block if out is None else out.unionAll(block)
    # no orderBy: 3 rows, and the driver's compare is order-insensitive
    return out


# ===========================================================================
# Paired t-test on continuous per-doc scores
# ===========================================================================
#
# Continuous score per (model, doc): the true success probability plus a
# +/-100000-micro uniform noise term from an independent md5 draw — the
# "graded score" analogue of the binary panel (think per-item rubric
# scores instead of pass/fail).


def _sql_score(model: str, skill: int) -> str:
    return (
        f"({_sql_p_micro(skill)} "
        f"+ CAST('0x' || substr(md5('evs|{model}|' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 200001 - 100000)"
    )


def _score_col(model: str, skill: int):
    u = md5_h15(F.concat(F.lit(f"evs|{model}|"), F.col("doc_id").cast("string")))
    return (_p_micro_col(skill) + u % 200001 - 100000).cast("long")


# z^2 critical constants (build-time, both dialects): two-sided 0.95 and
# one-sided 0.95, in micros.
_Z2_TWO_SIDED_95 = 3841459
_Z2_ONE_SIDED_95 = 2705543


@register(
    "paired_ttest_scores",
    f"""
    WITH d AS (
      SELECT {_sql_score(*_MODELS[0])} - {_sql_score(*_MODELS[1])} AS dd
      FROM documents),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dd) AS BIGINT) AS sd,
             CAST(SUM(dd * dd) AS BIGINT) AS sd2
      FROM d)
    SELECT n, sd, sd2,
           CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(sd // n AS BIGINT) END AS mean_delta_micro,
           CASE WHEN n < 2 OR CAST(n AS HUGEINT) * sd2
                              - CAST(sd AS HUGEINT) * sd = 0
                THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(sd AS HUGEINT) * sd * (n - 1) * 1000000
                          // (CAST(n AS HUGEINT) * sd2
                              - CAST(sd AS HUGEINT) * sd) AS BIGINT)
           END AS t2_micro,
           CASE WHEN n < 2 OR CAST(n AS HUGEINT) * sd2
                              - CAST(sd AS HUGEINT) * sd = 0 THEN FALSE
                ELSE CAST(sd AS HUGEINT) * sd * (n - 1) * 1000000
                     // (CAST(n AS HUGEINT) * sd2
                         - CAST(sd AS HUGEINT) * sd)
                     >= {_Z2_TWO_SIDED_95}
           END AS significant
    FROM m
    """,
    doc="Paired t-test of models m1 vs m2 on continuous per-doc scores "
    "(probability + noise micros): t^2 = (sum d)^2 (n-1) / "
    "(n sum d^2 - (sum d)^2), derived entirely from the two exact "
    "integer moments so there is no float mean/variance anywhere; "
    "compared against the build-time z^2(0.95) constant (the "
    "large-n t ~ z regime every corpus-scale eval is in). THE test "
    "for graded-score model comparison, as McNemar is for pass/fail. "
    "Cross moments ride HUGEINT/DECIMAL(38,0) — (sum d)^2 outgrows "
    "int64 once n*|mean| passes ~3e9 micro-units. Scale shape: one "
    "narrow corpus pass to a 1-row moment relation. "
    "(No counterpart in reference main.go.)",
)
def paired_ttest_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        (_score_col(*_MODELS[0]) - _score_col(*_MODELS[1])).alias("dd")
    )
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dd").cast("long").alias("sd"),
        F.sum(F.col("dd") * F.col("dd")).cast("long").alias("sd2"),
    )
    var = (
        "CAST(n AS DECIMAL(38,0)) * sd2 - CAST(sd AS DECIMAL(38,0)) * sd"
    )
    t2 = (
        f"CAST(sd AS DECIMAL(38,0)) * sd * (n - 1) * 1000000 div ({var})"
    )
    return m.select(
        "n",
        "sd",
        "sd2",
        F.expr(
            "CASE WHEN n = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(sd div n AS BIGINT) END"
        ).alias("mean_delta_micro"),
        F.expr(
            f"CASE WHEN n < 2 OR {var} = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST({t2} AS BIGINT) END"
        ).alias("t2_micro"),
        F.expr(
            f"CASE WHEN n < 2 OR {var} = 0 THEN FALSE "
            f"ELSE {t2} >= {_Z2_TWO_SIDED_95} END"
        ).alias("significant"),
    )


# ===========================================================================
# TOST equivalence certificate
# ===========================================================================

_TOST_MARGIN_MICRO = 80000  # +/-8% win-rate equivalence margin


@register(
    "tost_equivalence_certificate",
    f"""
    WITH pc2 AS (
      SELECT doc_id,
             CAST({_sql_correct(*_MODELS[0])} AS BIGINT) AS c_m1,
             CAST({_sql_correct(*_MODELS[1])} AS BIGINT) AS c_m2,
             CAST({_sql_correct('m2b', _MODELS[1][1])} AS BIGINT) AS c_m2b,
             CAST({_sql_correct(*_MODELS[3])} AS BIGINT) AS c_m4
      FROM documents),
    deltas AS (
      SELECT p.pair, CASE p.pair WHEN 'm2_vs_m2b' THEN c_m2 - c_m2b
                                 ELSE c_m1 - c_m4 END AS dd
      FROM pc2 CROSS JOIN (VALUES ('m2_vs_m2b'), ('m1_vs_m4'))
           AS p(pair)),
    m AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dd) AS BIGINT) AS sd,
             CAST(SUM(dd * dd) AS BIGINT) AS sd2
      FROM deltas GROUP BY pair),
    t AS (
      SELECT pair, n, sd, sd2,
             CAST(n AS HUGEINT) * sd2 - CAST(sd AS HUGEINT) * sd AS v,
             CAST(sd AS HUGEINT) * 1000000
               + CAST(n AS HUGEINT) * {_TOST_MARGIN_MICRO} AS a_lo,
             CAST(n AS HUGEINT) * {_TOST_MARGIN_MICRO}
               - CAST(sd AS HUGEINT) * 1000000 AS a_hi
      FROM m)
    SELECT pair, n, sd,
           CASE WHEN n < 2 OR v = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(a_lo * a_lo * (n - 1)
                          // (v * 1000000) AS BIGINT)
           END AS t2_lo_micro,
           CASE WHEN n < 2 OR v = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(a_hi * a_hi * (n - 1)
                          // (v * 1000000) AS BIGINT)
           END AS t2_hi_micro,
           CASE WHEN n < 2 OR v = 0 THEN FALSE
                ELSE a_lo > 0 AND a_hi > 0
                     AND a_lo * a_lo * (n - 1) // (v * 1000000)
                         >= {_Z2_ONE_SIDED_95}
                     AND a_hi * a_hi * (n - 1) // (v * 1000000)
                         >= {_Z2_ONE_SIDED_95}
           END AS equivalent
    FROM t
    """,
    doc="Two-one-sided-tests (TOST) equivalence certificate at a "
    "+/-80000-micro win-rate margin, run on two planted pairs at "
    "once: m2 vs its same-skill clone m2b (independent draws, equal "
    "p — must certify EQUIVALENT) and m1 vs m4 (450000-micro skill "
    "gap — must not). Both one-sided statistics come from the exact "
    "paired moments (t_lo tests mean > -margin, t_hi tests "
    "mean < +margin; each must clear the one-sided z^2(0.95) "
    "build-time constant WITH the right sign). The 'these two "
    "models are interchangeable' gate a significance test cannot "
    "provide — absence of evidence is not equivalence. All cross "
    "terms on HUGEINT/DECIMAL(38,0). Scale shape: one corpus pass "
    "with an in-row 2-struct pair explode, partial-agg to 2 moment "
    "rows. (No counterpart in reference main.go.)",
)
def tost_equivalence_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pc2 = docs.select(
        "doc_id",
        _correct_col(*_MODELS[0]).alias("c_m1"),
        _correct_col(*_MODELS[1]).alias("c_m2"),
        _correct_col("m2b", _MODELS[1][1]).alias("c_m2b"),
        _correct_col(*_MODELS[3]).alias("c_m4"),
    )
    deltas = pc2.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("m2_vs_m2b").alias("pair"),
                    (F.col("c_m2") - F.col("c_m2b")).alias("dd"),
                ),
                F.struct(
                    F.lit("m1_vs_m4").alias("pair"),
                    (F.col("c_m1") - F.col("c_m4")).alias("dd"),
                ),
            )
        ).alias("p")
    ).select("p.pair", "p.dd")
    m = deltas.groupBy("pair").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dd").cast("long").alias("sd"),
        F.sum(F.col("dd") * F.col("dd")).cast("long").alias("sd2"),
    )
    t = m.select(
        "pair",
        "n",
        "sd",
        "sd2",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * sd2 "
            "- CAST(sd AS DECIMAL(38,0)) * sd"
        ).alias("v"),
        F.expr(
            f"CAST(sd AS DECIMAL(38,0)) * 1000000 "
            f"+ CAST(n AS DECIMAL(38,0)) * {_TOST_MARGIN_MICRO}"
        ).alias("a_lo"),
        F.expr(
            f"CAST(n AS DECIMAL(38,0)) * {_TOST_MARGIN_MICRO} "
            f"- CAST(sd AS DECIMAL(38,0)) * 1000000"
        ).alias("a_hi"),
    )
    return t.select(
        "pair",
        "n",
        "sd",
        F.expr(
            "CASE WHEN n < 2 OR v = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(a_lo * a_lo * (n - 1) div (v * 1000000) AS BIGINT) "
            "END"
        ).alias("t2_lo_micro"),
        F.expr(
            "CASE WHEN n < 2 OR v = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(a_hi * a_hi * (n - 1) div (v * 1000000) AS BIGINT) "
            "END"
        ).alias("t2_hi_micro"),
        F.expr(
            f"CASE WHEN n < 2 OR v = 0 THEN FALSE "
            f"ELSE a_lo > 0 AND a_hi > 0 "
            f"AND a_lo * a_lo * (n - 1) div (v * 1000000) "
            f">= {_Z2_ONE_SIDED_95} "
            f"AND a_hi * a_hi * (n - 1) div (v * 1000000) "
            f">= {_Z2_ONE_SIDED_95} END"
        ).alias("equivalent"),
    )


# ===========================================================================
# Krippendorff's alpha (binary, missing-at-random responses)
# ===========================================================================

_K_RESP_MICRO = 600000  # each rater responds to ~60% of items


def _sql_krating(a: int, err: int) -> str:
    truth = (
        "CAST('0x' || substr(md5('truth|' || CAST(doc_id AS VARCHAR)), "
        "1, 15) AS BIGINT) % 2"
    )
    flip = (
        f"CASE WHEN CAST('0x' || substr(md5('kann|{a}|' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 < {err} "
        f"THEN 1 ELSE 0 END"
    )
    resp = (
        f"CASE WHEN CAST('0x' || substr(md5('kresp|{a}|' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 "
        f"< {_K_RESP_MICRO} THEN 1 ELSE 0 END"
    )
    # (responded, rating) as two summable components
    return resp, f"(({truth}) + ({flip})) % 2"


@register(
    "krippendorff_alpha_binary",
    f"""
    WITH items AS (
      SELECT doc_id,
             {' + '.join(f'({_sql_krating(a + 1, e)[0]})' for a, e in enumerate(_ANNOT_ERR))}
               AS m,
             {' + '.join(f'(({_sql_krating(a + 1, e)[0]}) * ({_sql_krating(a + 1, e)[1]}))' for a, e in enumerate(_ANNOT_ERR))}
               AS n1
      FROM documents),
    pairable AS (SELECT m, n1 FROM items WHERE m >= 2),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(m) AS BIGINT) AS n_values,
             CAST(SUM(n1) AS BIGINT) AS p1,
             CAST(SUM(2 * n1 * (m - n1) * 1000000 // (m - 1)) AS BIGINT)
               AS o_num
      FROM pairable),
    rates AS (
      SELECT n_items, n_values, p1,
             CASE WHEN n_values = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(o_num // n_values AS BIGINT)
             END AS d_o_micro,
             CASE WHEN n_values < 2 THEN CAST(0 AS BIGINT)
                  ELSE CAST(CAST(2 AS HUGEINT) * p1 * (n_values - p1)
                            * 1000000
                            // (CAST(n_values AS HUGEINT)
                                * (n_values - 1)) AS BIGINT)
             END AS d_e_micro
      FROM agg)
    SELECT n_items, n_values, p1, d_o_micro, d_e_micro,
           CASE WHEN d_e_micro = 0 THEN CAST(1000000 AS BIGINT)
                ELSE CAST(1000000 - d_o_micro * 1000000 // d_e_micro
                          AS BIGINT)
           END AS alpha_micro
    FROM rates
    """,
    doc="Krippendorff's alpha for binary ratings with "
    "missing-at-random responses (each of the 5 annotators rates only "
    "~60% of items, by an independent md5 response draw): alpha = "
    "1 - D_o/D_e with the observed disagreement from per-item "
    "coincidences 2*n1*n0/(m_i - 1) (items with m_i >= 2 only) and "
    "the expected disagreement from the pooled margin — the "
    "agreement statistic that HANDLES missing data, which Fleiss' "
    "kappa cannot (it assumes a complete rating matrix). All exact "
    "truncating micros; pooled cross products on HUGEINT/"
    "DECIMAL(38,0). The labeling-QA gate for real crowdsourced eval "
    "sets, where nobody rates everything. Scale shape: the 5 "
    "(response, rating) pairs are in-row expressions; one partial-agg "
    "shuffle to a single row. (No counterpart in reference main.go.)",
)
def krippendorff_alpha_binary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    m_expr = None
    n1_expr = None
    truth = md5_h15(F.concat(F.lit("truth|"), F.col("doc_id").cast("string"))) % 2
    for a, e in enumerate(_ANNOT_ERR):
        resp = F.when(
            md5_h15(
                F.concat(F.lit(f"kresp|{a + 1}|"), F.col("doc_id").cast("string"))
            )
            % 1000000
            < _K_RESP_MICRO,
            1,
        ).otherwise(0)
        flip = F.when(
            md5_h15(
                F.concat(F.lit(f"kann|{a + 1}|"), F.col("doc_id").cast("string"))
            )
            % 1000000
            < e,
            1,
        ).otherwise(0)
        rating = (truth + flip) % 2
        m_expr = resp if m_expr is None else m_expr + resp
        n1_expr = (
            resp * rating if n1_expr is None else n1_expr + resp * rating
        )
    items = docs.select(
        "doc_id", m_expr.cast("long").alias("m"), n1_expr.cast("long").alias("n1")
    )
    pairable = items.filter(F.col("m") >= 2)
    agg = pairable.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("m").cast("long").alias("n_values"),
        F.sum("n1").cast("long").alias("p1"),
        F.expr(
            "CAST(SUM(2 * n1 * (m - n1) * 1000000 div (m - 1)) AS BIGINT)"
        ).alias("o_num"),
    )
    rates = agg.select(
        "n_items",
        "n_values",
        "p1",
        F.expr(
            "CASE WHEN n_values = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(o_num div n_values AS BIGINT) END"
        ).alias("d_o_micro"),
        F.expr(
            "CASE WHEN n_values < 2 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(CAST(2 AS DECIMAL(38,0)) * p1 * (n_values - p1) "
            "* 1000000 div (CAST(n_values AS DECIMAL(38,0)) "
            "* (n_values - 1)) AS BIGINT) END"
        ).alias("d_e_micro"),
    )
    return rates.select(
        "n_items",
        "n_values",
        "p1",
        "d_o_micro",
        "d_e_micro",
        F.expr(
            "CASE WHEN d_e_micro = 0 THEN CAST(1000000 AS BIGINT) "
            "ELSE CAST(1000000 - d_o_micro * 1000000 div d_e_micro "
            "AS BIGINT) END"
        ).alias("alpha_micro"),
    )


# ===========================================================================
# pass@k curve from n sampled trials per item
# ===========================================================================

_PASSK_TRIALS = 16
_PASSK_KS = (1, 2, 4, 8)


@register(
    "passk_curve_models",
    f"""
    WITH trials AS (
      SELECT doc_id,
             len(list_filter(range(1, {_PASSK_TRIALS + 1}),
                 j -> CAST('0x' || substr(md5('trial|' || CAST(j AS VARCHAR)
                      || '|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                      % 1000000 < {_sql_p_micro(_MODELS[0][1])}))
               AS c
      FROM documents),
    panel AS (
      SELECT t.doc_id, t.c, k.k,
             CASE WHEN {_PASSK_TRIALS} - t.c < k.k THEN CAST(1000000 AS BIGINT)
                  ELSE CAST(1000000
                       - list_reduce(list_transform(range(0, k.k),
                           i -> ({_PASSK_TRIALS} - t.c - i)),
                           (a, b) -> a * b) * 1000000
                         // list_reduce(list_transform(range(0, k.k),
                             i -> ({_PASSK_TRIALS} - i)),
                             (a, b) -> a * b) AS BIGINT)
             END AS passk_micro
      FROM trials t CROSS JOIN (VALUES {', '.join(f'({k})' for k in _PASSK_KS)}) k(k))
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(passk_micro) // COUNT(*) AS BIGINT)
             AS mean_passk_micro
    FROM panel GROUP BY k
    """,
    doc="pass@k curve for model m1 at k in (1,2,4,8) from 16 "
    "deterministic per-item trials (each trial an independent md5 "
    "draw against the item's true success probability): per item the "
    "unbiased Chen et al. estimator 1 - C(n-c,k)/C(n,k) as exact "
    "falling-factorial integer products (n=16 keeps every product "
    "under 16^8), truncated to micros per item identically in both "
    "dialects, then averaged. Extends passk_estimate (single k, "
    "per-task rows) to the per-model CURVE an eval report plots — "
    "monotone in k by construction, a property the suite pins. Scale "
    "shape: trials and the k-panel are in-row expressions (bounded "
    "16x and 4x constant fan-out inside one projection — no join); "
    "one partial-agg shuffle to 4 rows. "
    "(No counterpart in reference main.go.)",
)
def passk_curve_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    p = _sql_p_micro(_MODELS[0][1])
    c = F.expr(
        f"size(filter(sequence(1, {_PASSK_TRIALS}), "
        f"j -> CAST(conv(substring(md5(concat('trial|', CAST(j AS STRING), "
        f"'|', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) "
        f"% 1000000 < {p}))"
    ).cast("long")
    trials = docs.select("doc_id", c.alias("c"))
    panel = trials.select(
        "c",
        F.explode(
            F.array(*[F.lit(k) for k in _PASSK_KS])
        ).alias("k"),
    ).select(
        "k",
        F.expr(
            f"CASE WHEN {_PASSK_TRIALS} - c < k THEN CAST(1000000 AS BIGINT) "
            f"ELSE CAST(1000000 "
            f"- aggregate(sequence(0, k - 1), CAST(1 AS BIGINT), "
            f"(a, i) -> a * ({_PASSK_TRIALS} - c - i)) * 1000000 "
            f"div aggregate(sequence(0, k - 1), CAST(1 AS BIGINT), "
            f"(a, i) -> a * ({_PASSK_TRIALS} - i)) AS BIGINT) END"
        ).alias("passk_micro"),
    )
    return panel.groupBy("k").agg(
        F.count("*").cast("long").alias("n_items"),
        F.expr("CAST(SUM(passk_micro) div COUNT(*) AS BIGINT)").alias(
            "mean_passk_micro"
        ),
    ).select(F.col("k").cast("long").alias("k"), "n_items", "mean_passk_micro")


# ===========================================================================
# Balanced grader assignment with a balance certificate
# ===========================================================================

_N_GRADERS = 8


@register(
    "balanced_grader_assignment",
    f"""
    WITH strat AS (
      SELECT doc_id, n_chars, lang,
             LEAST(4, n_chars // 120) AS lb,
             CAST('0x' || substr(md5('grader|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) AS draw
      FROM documents),
    assigned AS (
      SELECT *,
             CAST((ROW_NUMBER() OVER (PARTITION BY lang, lb
                                      ORDER BY draw, doc_id) - 1)
                  % {_N_GRADERS} AS BIGINT) AS grader
      FROM strat),
    loads AS (
      SELECT grader,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM(n_chars) * 1000000 // COUNT(*) AS BIGINT)
               AS mean_chars_micro
      FROM assigned GROUP BY grader),
    strata_n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata
      FROM (SELECT DISTINCT lang, lb FROM strat)),
    pooled AS (
      SELECT l.*,
             CAST(MAX(l.n_items) OVER () AS BIGINT) AS max_load,
             CAST(MIN(l.n_items) OVER () AS BIGINT) AS min_load,
             s.n_strata
      FROM loads l CROSS JOIN strata_n s)
    SELECT grader, n_items, sum_chars, mean_chars_micro,
           max_load, min_load, n_strata,
           max_load - min_load <= n_strata AS balanced
    FROM pooled
    """,
    doc="Balanced grader assignment: items shuffle deterministically "
    "within each (lang, length-band) stratum (md5 rank, doc_id "
    "tie-break) and deal round-robin to 8 graders — every grader gets "
    "a near-identical mix of languages AND lengths, the assignment a "
    "human-eval pipeline needs so grader effects don't confound model "
    "effects. The certificate rides along: round-robin within strata "
    "bounds the max-min load gap by the number of strata, and the "
    "balanced column PROVES it held. Scale shape: one shuffle "
    "partitioned by the bounded stratum domain for the in-stratum "
    "rank, one partial-agg shuffle to 8 grader rows; the pooled "
    "max/min ride a window over that bounded relation (the 1-row "
    "strata count joins as a broadcast single-row panel). "
    "(No counterpart in reference main.go.)",
)
def balanced_grader_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    strat = docs.select(
        "doc_id",
        "n_chars",
        "lang",
        F.least(F.lit(4), F.expr("n_chars div 120")).alias("lb"),
        md5_h15(
            F.concat(F.lit("grader|"), F.col("doc_id").cast("string"))
        ).alias("draw"),
    )
    w = Window.partitionBy("lang", "lb").orderBy("draw", "doc_id")
    assigned = strat.select(
        "*",
        ((F.row_number().over(w) - 1) % _N_GRADERS)
        .cast("long")
        .alias("grader"),
    )
    loads = assigned.groupBy("grader").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.expr("CAST(SUM(n_chars) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "mean_chars_micro"
        ),
    )
    strata_n = strat.select("lang", "lb").distinct().agg(
        F.count("*").cast("long").alias("n_strata")
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pooled = loads.select(
        "*",
        F.max("n_items").over(wall).cast("long").alias("max_load"),
        F.min("n_items").over(wall).cast("long").alias("min_load"),
    ).join(F.broadcast(strata_n))
    return pooled.select(
        "grader",
        "n_items",
        "sum_chars",
        "mean_chars_micro",
        "max_load",
        "min_load",
        "n_strata",
        (F.col("max_load") - F.col("min_load") <= F.col("n_strata")).alias(
            "balanced"
        ),
    )


# ===========================================================================
# Corpus BLEU-2 audit of a synthetic decode
# ===========================================================================
#
# The hypothesis is a deterministic corruption of the reference: each
# token independently DROPPED (p=0.15) or SUBSTITUTED by an
# out-of-vocabulary marker token (p=0.10, '@'-prefixed so it can never
# match), else kept. Corpus BLEU-2 with the linear brevity penalty
# min(1, c/r) (exp-free — exp is not correctly rounded and would
# diverge between engines) and sqrt for the geometric mean of the two
# precisions (IEEE-correctly-rounded, engine-stable on the exact
# integer product of micros).

_BLEU_DROP = 150000
_BLEU_SUB = 250000  # drawn once: u < 150000 drop; 150000 <= u < 250000 sub


@register(
    "corpus_bleu2_decode_audit",
    f"""
    WITH toks AS (
      SELECT doc_id, source, t.i AS pos,
             string_split(text, ' ')[t.i] AS tok,
             CAST('0x' || substr(md5('dec|' || CAST(doc_id AS VARCHAR)
                  || '|' || CAST(t.i AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS u
      FROM documents d,
           unnest(range(1, len(string_split(d.text, ' ')) + 1)) AS t(i)),
    hyp AS (
      SELECT doc_id, source, pos,
             CASE WHEN u < {_BLEU_SUB} THEN '@' || tok ELSE tok END AS tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS hpos
      FROM toks WHERE u >= {_BLEU_DROP}),
    ref1 AS (SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS rc
             FROM toks GROUP BY doc_id, source, tok),
    hyp1 AS (SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS hc
             FROM hyp GROUP BY doc_id, source, tok),
    m1 AS (
      SELECT h.source,
             CAST(SUM(LEAST(h.hc, COALESCE(r.rc, 0))) AS BIGINT) AS hits,
             CAST(SUM(h.hc) AS BIGINT) AS total
      FROM hyp1 h LEFT JOIN ref1 r
        ON r.doc_id = h.doc_id AND r.tok = h.tok
      GROUP BY h.source),
    refbg AS (
      SELECT a.doc_id, a.source, a.tok || ' ' || b.tok AS bg,
             CAST(COUNT(*) AS BIGINT) AS rc
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY a.doc_id, a.source, a.tok || ' ' || b.tok),
    hypbg AS (
      SELECT a.doc_id, a.source, a.tok || ' ' || b.tok AS bg,
             CAST(COUNT(*) AS BIGINT) AS hc
      FROM hyp a JOIN hyp b
        ON b.doc_id = a.doc_id AND b.hpos = a.hpos + 1
      GROUP BY a.doc_id, a.source, a.tok || ' ' || b.tok),
    m2 AS (
      SELECT h.source,
             CAST(SUM(LEAST(h.hc, COALESCE(r.rc, 0))) AS BIGINT) AS hits,
             CAST(SUM(h.hc) AS BIGINT) AS total
      FROM hypbg h LEFT JOIN refbg r
        ON r.doc_id = h.doc_id AND r.bg = h.bg
      GROUP BY h.source),
    lens AS (
      SELECT t.source, CAST(COUNT(*) AS BIGINT) AS r_len,
             CAST(SUM(CASE WHEN t.u >= {_BLEU_DROP} THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_len
      FROM toks t GROUP BY t.source),
    joined AS (
      SELECT l.source, l.r_len, l.c_len,
             m1.hits AS hits1, m1.total AS total1,
             COALESCE(m2.hits, 0) AS hits2,
             COALESCE(m2.total, 0) AS total2
      FROM lens l
      JOIN m1 ON m1.source = l.source
      LEFT JOIN m2 ON m2.source = l.source),
    scored AS (
      SELECT *,
             CASE WHEN total1 = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(hits1 * 1000000 // total1 AS BIGINT)
             END AS p1_micro,
             CASE WHEN total2 = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(hits2 * 1000000 // total2 AS BIGINT)
             END AS p2_micro,
             CASE WHEN r_len = 0 THEN CAST(1000000 AS BIGINT)
                  ELSE LEAST(CAST(1000000 AS BIGINT),
                             CAST(c_len * 1000000 // r_len AS BIGINT))
             END AS bp_micro
      FROM joined)
    SELECT source, r_len, c_len, p1_micro, p2_micro, bp_micro,
           CAST(CAST(floor(sqrt(CAST(p1_micro * p2_micro AS DOUBLE)))
                     AS BIGINT) * bp_micro // 1000000 AS BIGINT)
             AS bleu2_micro
    FROM scored
    """,
    doc="Corpus BLEU-2 audit of a synthetic decode: the hypothesis is "
    "a deterministic per-token corruption of the reference (15% "
    "dropped, 10% substituted by an '@'-marked OOV token — both from "
    "one md5 position draw), and per source the audit emits clipped "
    "unigram/bigram precisions, the linear brevity penalty "
    "min(1, c/r), and bleu2 = bp * sqrt(p1*p2). Exp-free by design: "
    "the geometric mean uses sqrt on the EXACT integer product of "
    "micro precisions (p1*p2 <= 1e12 < 2^53, so the double is exact "
    "and sqrt is IEEE-correctly-rounded — bit-identical across "
    "engines), and the brevity penalty is the linear clamp, not "
    "exp(1-r/c) (exp is not correctly rounded and would diverge). "
    "The decode-quality regression gate for generation pipelines. "
    "Scale shape: one token explode; clipped counts are per-(doc, "
    "gram) partial aggs joined on the (doc, gram) key — the dedup "
    "family's shuffle, never doc x doc; bigrams from position "
    "self-equi-joins on (doc_id, pos). "
    "(No counterpart in reference main.go.)",
)
def corpus_bleu2_decode_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
    ).select(
        "doc_id",
        "source",
        (F.col("pos0") + 1).alias("pos"),
        "tok",
        (
            md5_h15(
                F.concat(
                    F.lit("dec|"),
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    (F.col("pos0") + 1).cast("string"),
                )
            )
            % 1000000
        ).alias("u"),
    )
    hw = Window.partitionBy("doc_id").orderBy("pos")
    hyp = (
        toks.filter(F.col("u") >= _BLEU_DROP)
        .select(
            "doc_id",
            "source",
            "pos",
            F.when(
                F.col("u") < _BLEU_SUB, F.concat(F.lit("@"), F.col("tok"))
            )
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
        .withColumn("hpos", F.row_number().over(hw))
    )
    ref1 = toks.groupBy("doc_id", "source", "tok").agg(
        F.count("*").cast("long").alias("rc")
    )
    hyp1 = hyp.groupBy("doc_id", "source", "tok").agg(
        F.count("*").cast("long").alias("hc")
    )
    m1 = (
        hyp1.join(
            ref1.select("doc_id", "tok", "rc"), ["doc_id", "tok"], "left"
        )
        .groupBy("source")
        .agg(
            F.sum(F.least(F.col("hc"), F.coalesce(F.col("rc"), F.lit(0))))
            .cast("long")
            .alias("hits1"),
            F.sum("hc").cast("long").alias("total1"),
        )
    )
    ta = toks.select(
        "doc_id", "source", "pos", F.col("tok").alias("tok_a")
    )
    tb = toks.select("doc_id", F.col("pos").alias("pos_b"), F.col("tok").alias("tok_b"))
    refbg = (
        ta.join(
            tb,
            (ta.doc_id == tb.doc_id) & (F.col("pos_b") == F.col("pos") + 1),
        )
        .select(
            ta.doc_id,
            "source",
            F.concat(F.col("tok_a"), F.lit(" "), F.col("tok_b")).alias("bg"),
        )
        .groupBy("doc_id", "source", "bg")
        .agg(F.count("*").cast("long").alias("rc"))
    )
    ha = hyp.select("doc_id", "source", "hpos", F.col("tok").alias("tok_a"))
    hb = hyp.select(
        "doc_id", F.col("hpos").alias("hpos_b"), F.col("tok").alias("tok_b")
    )
    hypbg = (
        ha.join(
            hb,
            (ha.doc_id == hb.doc_id)
            & (F.col("hpos_b") == F.col("hpos") + 1),
        )
        .select(
            ha.doc_id,
            "source",
            F.concat(F.col("tok_a"), F.lit(" "), F.col("tok_b")).alias("bg"),
        )
        .groupBy("doc_id", "source", "bg")
        .agg(F.count("*").cast("long").alias("hc"))
    )
    m2 = (
        hypbg.join(
            refbg.select("doc_id", "bg", "rc"), ["doc_id", "bg"], "left"
        )
        .groupBy("source")
        .agg(
            F.sum(F.least(F.col("hc"), F.coalesce(F.col("rc"), F.lit(0))))
            .cast("long")
            .alias("hits2"),
            F.sum("hc").cast("long").alias("total2"),
        )
    )
    lens = toks.groupBy("source").agg(
        F.count("*").cast("long").alias("r_len"),
        F.sum(F.when(F.col("u") >= _BLEU_DROP, 1).otherwise(0))
        .cast("long")
        .alias("c_len"),
    )
    joined = (
        lens.join(m1, "source")
        .join(m2, "source", "left")
        .select(
            "source",
            "r_len",
            "c_len",
            "hits1",
            "total1",
            F.coalesce(F.col("hits2"), F.lit(0)).cast("long").alias("hits2"),
            F.coalesce(F.col("total2"), F.lit(0)).cast("long").alias(
                "total2"
            ),
        )
    )
    scored = joined.select(
        "*",
        F.expr(
            "CASE WHEN total1 = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(hits1 * 1000000 div total1 AS BIGINT) END"
        ).alias("p1_micro"),
        F.expr(
            "CASE WHEN total2 = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(hits2 * 1000000 div total2 AS BIGINT) END"
        ).alias("p2_micro"),
        F.expr(
            "CASE WHEN r_len = 0 THEN CAST(1000000 AS BIGINT) "
            "ELSE LEAST(CAST(1000000 AS BIGINT), "
            "CAST(c_len * 1000000 div r_len AS BIGINT)) END"
        ).alias("bp_micro"),
    )
    return scored.select(
        "source",
        "r_len",
        "c_len",
        "p1_micro",
        "p2_micro",
        "bp_micro",
        F.expr(
            "CAST(CAST(floor(sqrt(CAST(p1_micro * p2_micro AS DOUBLE))) "
            "AS BIGINT) * bp_micro div 1000000 AS BIGINT)"
        ).alias("bleu2_micro"),
    )


# ===========================================================================
# Semantic decontamination over embeddings
# ===========================================================================

# The oracle restates the LSH-banded near-dup edge relation verbatim
# from the mining module (the shared DuckDB twin of
# operators/similarity.embedding_near_dup_pairs at threshold 0.35).
from kinesis_log_watcher_spark.queries.mining import (  # noqa: E402
    _NEARDUP_EDGE_CTE,
)


@register(
    "semantic_decontamination_embeddings",
    f"""
    WITH {_NEARDUP_EDGE_CTE},
    split AS (
      SELECT vec_id,
             substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < 'cccccccc'
               AS is_train
      FROM embeddings),
    cross_e AS (
      SELECT CASE WHEN sa.is_train THEN e.vec_b ELSE e.vec_a END
               AS eval_id
      FROM edges e
      JOIN split sa ON sa.vec_id = e.vec_a
      JOIN split sb ON sb.vec_id = e.vec_b
      WHERE sa.is_train <> sb.is_train),
    contaminated AS (SELECT DISTINCT eval_id FROM cross_e),
    tagged AS (
      SELECT CASE WHEN s.is_train THEN 1 ELSE 0 END AS w_train,
             CASE WHEN s.is_train THEN 0 ELSE 1 END AS w_eval,
             CASE WHEN NOT s.is_train AND c.eval_id IS NOT NULL
                  THEN 1 ELSE 0 END AS w_contam,
             0 AS w_resid
      FROM split s LEFT JOIN contaminated c ON c.eval_id = s.vec_id
      UNION ALL
      SELECT 0, 0, 0, 1
      FROM cross_e x
      WHERE x.eval_id NOT IN (SELECT eval_id FROM contaminated))
    SELECT CAST(SUM(w_train) AS BIGINT) AS n_train,
           CAST(SUM(w_eval) AS BIGINT) AS n_eval,
           CAST(SUM(w_contam) AS BIGINT) AS n_contaminated,
           CAST(SUM(w_eval) - SUM(w_contam) AS BIGINT) AS n_clean,
           CASE WHEN SUM(w_eval) = 0 THEN CAST(1000000 AS BIGINT)
                ELSE CAST((SUM(w_eval) - SUM(w_contam)) * 1000000
                          // SUM(w_eval) AS BIGINT)
           END AS retention_micro,
           CAST(SUM(w_resid) AS BIGINT) AS residual_overlap
    FROM tagged
    """,
    doc="Semantic decontamination of an embedding eval split: vectors "
    "split 80/20 by the deterministic md5 draw, and an eval vector is "
    "contaminated if it has a verified cosine>=0.35 near-dup edge to "
    "any train vector — the SEMANTIC twin of "
    "decontaminated_eval_certificate (n-gram overlap misses "
    "paraphrases; embedding cosine catches them). Edges come from the "
    "shared sign-LSH banded candidate generator with exact "
    "quantized-dot verification (operators/similarity.py — never "
    "all-pairs), so the decontamination pass costs exactly what the "
    "dedup family already pays. residual_overlap restates from "
    "scratch that no clean eval vector keeps a cross-split edge "
    "(vacuously 0 — the certificate both engines must agree on). "
    "Scale shape: band-bucket equi-join for candidates, one "
    "(vec, split) broadcast-sized join pair, counts fold through a "
    "tagged union into ONE aggregation. "
    "(No counterpart in reference main.go.)",
)
def semantic_decontamination_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from kinesis_log_watcher_spark.queries.base import finalize_unpersist

    # spread examined and left OFF: three A/Bs at sf0.1 read 0.76 /
    # 2.41 / 1.01 vs unspread — direction not reproducible, so the
    # default (embeddings below both spread guards) stays.
    emb = load(spark, sf_dir, "embeddings")
    edges = (
        embedding_near_dup_pairs(emb, threshold=0.35)
        .select("vec_a", "vec_b")
        .persist()
    )
    split = emb.select(
        "vec_id",
        (
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8)
            < "cccccccc"
        ).alias("is_train"),
    )
    sa = split.select(
        F.col("vec_id").alias("vec_a"), F.col("is_train").alias("train_a")
    )
    sb = split.select(
        F.col("vec_id").alias("vec_b"), F.col("is_train").alias("train_b")
    )
    cross_e = (
        edges.join(sa, "vec_a")
        .join(sb, "vec_b")
        .filter(F.col("train_a") != F.col("train_b"))
        .select(
            F.when(F.col("train_a"), F.col("vec_b"))
            .otherwise(F.col("vec_a"))
            .alias("eval_id")
        )
    )
    contaminated = cross_e.distinct()
    tagged_a = split.join(
        contaminated.select(F.col("eval_id").alias("c_id")),
        F.col("vec_id") == F.col("c_id"),
        "left",
    ).select(
        F.when(F.col("is_train"), 1).otherwise(0).alias("w_train"),
        F.when(F.col("is_train"), 0).otherwise(1).alias("w_eval"),
        F.when(~F.col("is_train") & F.col("c_id").isNotNull(), 1)
        .otherwise(0)
        .alias("w_contam"),
        F.lit(0).alias("w_resid"),
    )
    tagged_b = cross_e.join(contaminated, "eval_id", "left_anti").select(
        F.lit(0).alias("w_train"),
        F.lit(0).alias("w_eval"),
        F.lit(0).alias("w_contam"),
        F.lit(1).alias("w_resid"),
    )
    out = tagged_a.unionAll(tagged_b).agg(
        F.sum("w_train").cast("long").alias("n_train"),
        F.sum("w_eval").cast("long").alias("n_eval"),
        F.sum("w_contam").cast("long").alias("n_contaminated"),
        (F.sum("w_eval") - F.sum("w_contam")).cast("long").alias("n_clean"),
        F.expr(
            "CASE WHEN SUM(w_eval) = 0 THEN CAST(1000000 AS BIGINT) "
            "ELSE CAST((SUM(w_eval) - SUM(w_contam)) * 1000000 "
            "div SUM(w_eval) AS BIGINT) END"
        ).alias("retention_micro"),
        F.sum("w_resid").cast("long").alias("residual_overlap"),
    )
    return finalize_unpersist(out, edges)


# ===========================================================================
# Sequential Elo replay (order-dependent online rating, exact-integer)
# ===========================================================================
#
# Per doc, a hash-picked model pair plays one match on a hash-picked
# day (30-day window); decisive matches aggregate per (day, pair) and
# a batch-Elo update replays day by day as ONE integer fold over the
# bounded day domain (the bandit/Holt pattern). Ratings in
# milli-points from 1500.000; K = 32 points/game; the logistic
# expected score is replaced by its build-time LINEAR clamp
# E = clamp(0.5 + 1.44e-3 * diff_points, 0.05, 0.95) so the fold is
# exact-integer (exp/pow10 are not engine-stable) — documented as
# linear-Elo. Within a day, updates use start-of-day ratings.

_ELO_PAIRS_IDX = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
_ELO_DAYS = 30


def _elo_e(rexpr: str, a: int, b: int, intdiv: str) -> str:
    return (
        f"LEAST(950000, GREATEST(50000, 500000 + "
        f"({rexpr}[{a + 1}] - {rexpr}[{b + 1}]) * 144 {intdiv} 100))"
    )


def _elo_d(k: int, rexpr: str, xpre: str, intdiv: str) -> str:
    a, b = _ELO_PAIRS_IDX[k]
    return (
        f"(32000 * ({xpre}w{k} * 1000000 - {xpre}n{k} "
        f"* {_elo_e(rexpr, a, b, intdiv)}) {intdiv} 1000000)"
    )


def _elo_new_r(m: int, rexpr: str, xpre: str, intdiv: str) -> str:
    terms = [f"{rexpr}[{m + 1}]"]
    for k, (a, b) in enumerate(_ELO_PAIRS_IDX):
        if a == m:
            terms.append(f"+ {_elo_d(k, rexpr, xpre, intdiv)}")
        elif b == m:
            terms.append(f"- {_elo_d(k, rexpr, xpre, intdiv)}")
    return " ".join(terms)


def _elo_new_g(m: int, gexpr: str, xpre: str) -> str:
    terms = [f"{gexpr}[{m + 1}]"]
    for k, (a, b) in enumerate(_ELO_PAIRS_IDX):
        if m in (a, b):
            terms.append(f"+ {xpre}n{k}")
    return " ".join(terms)


def _elo_new_w(m: int, wexpr: str, xpre: str) -> str:
    terms = [f"{wexpr}[{m + 1}]"]
    for k, (a, b) in enumerate(_ELO_PAIRS_IDX):
        if a == m:
            terms.append(f"+ {xpre}w{k}")
        elif b == m:
            terms.append(f"+ ({xpre}n{k} - {xpre}w{k})")
    return " ".join(terms)


def _elo_pick_sql(which: int) -> str:
    """CASE mapping pair index k to the per-doc correctness bit of the
    pair's first (which=0) or second (which=1) model."""
    arms = " ".join(
        f"WHEN {k} THEN c_{_MODELS[p[which]][0]}"
        for k, p in enumerate(_ELO_PAIRS_IDX[:-1])
    )
    last = f"c_{_MODELS[_ELO_PAIRS_IDX[-1][which]][0]}"
    return f"CASE k {arms} ELSE {last} END"


_ELO_WIDE_SQL = ", ".join(
    f"CAST(SUM(CASE WHEN k = {k} THEN 1 ELSE 0 END) AS BIGINT) AS n{k}, "
    f"CAST(SUM(CASE WHEN k = {k} AND ca > cb THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS w{k}"
    for k in range(6)
)

_ELO_MODEL_NAMES_SQL = " ".join(
    f"WHEN {m + 1} THEN '{name}'" for m, (name, _) in enumerate(_MODELS[:-1])
)


@register(
    "elo_sequential_replay",
    f"""
    WITH RECURSIVE {_SQL_PC_CTE},
    games AS (
      SELECT CAST('0x' || substr(md5('day|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % {_ELO_DAYS} AS d,
             k, ca, cb
      FROM (SELECT *,
                   CAST('0x' || substr(md5('pair|' ||
                        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 6
                     AS k
            FROM pc),
      LATERAL (SELECT {_elo_pick_sql(0)} AS ca,
                      {_elo_pick_sql(1)} AS cb)
      WHERE ca <> cb),
    wide AS (
      SELECT d, {_ELO_WIDE_SQL}
      FROM games GROUP BY d),
    days AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY d) AS i FROM wide),
    rec AS (
      SELECT CAST(0 AS BIGINT) AS i,
             CAST([1500000, 1500000, 1500000, 1500000] AS BIGINT[]) AS rt,
             CAST([0, 0, 0, 0] AS BIGINT[]) AS g,
             CAST([0, 0, 0, 0] AS BIGINT[]) AS w
      UNION ALL
      SELECT d.i,
             [{', '.join(_elo_new_r(m, 'r.rt', 'd.', '//') for m in range(4))}],
             [{', '.join(_elo_new_g(m, 'r.g', 'd.') for m in range(4))}],
             [{', '.join(_elo_new_w(m, 'r.w', 'd.') for m in range(4))}]
      FROM rec r JOIN days d ON d.i = r.i + 1),
    fin AS (SELECT * FROM rec WHERE i = (SELECT MAX(i) FROM days)),
    models AS (SELECT unnest(range(1, 5)) AS mi)
    SELECT CASE m.mi {_ELO_MODEL_NAMES_SQL}
                ELSE '{_MODELS[-1][0]}' END AS model,
           f.rt[m.mi] AS rating_milli,
           f.g[m.mi] AS n_games,
           f.w[m.mi] AS n_wins
    FROM models m, fin f
    """,
    doc="Sequential (linear-)Elo replay over a 30-day match stream: "
    "each doc contributes one match between a hash-picked model pair "
    "on a hash-picked day (decisive outcomes only), matches aggregate "
    "per (day, pair), and the order-dependent rating update replays "
    "day by day as ONE exact-integer fold over the sorted bounded day "
    "domain — K=32 batch updates from start-of-day ratings, expected "
    "score by the build-time linear clamp of the logistic (exp/10^x "
    "are not engine-stable; the clamp is, and the suite pins that the "
    "final ordering recovers the planted skill gradient). The "
    "online-rating twin of bt_model_strength_ci (BT is order-free "
    "maximum likelihood; Elo is the streaming approximation "
    "leaderboards actually run). Scale shape: one corpus pass pays a "
    "partial-agg shuffle to the (day x 6-pair) matrix; the fold runs "
    "on the bounded day domain in a single task (the bandit/Holt "
    "pattern); per-day-pair deltas outgrow int64 only past ~2.8e8 "
    "decisive games per pair per day (the documented DECIMAL swap). "
    "(No counterpart in reference main.go.)",
)
def elo_sequential_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    pc = _pc(spark, sf_dir)
    k = (
        md5_h15(F.concat(F.lit("pair|"), F.col("doc_id").cast("string"))) % 6
    ).alias("k")
    d = (
        md5_h15(F.concat(F.lit("day|"), F.col("doc_id").cast("string")))
        % _ELO_DAYS
    ).alias("d")
    games = (
        pc.select("*", k, d)
        .select(
            "d",
            "k",
            F.expr(_elo_pick_sql(0)).alias("ca"),
            F.expr(_elo_pick_sql(1)).alias("cb"),
        )
        .filter(F.col("ca") != F.col("cb"))
    )
    aggs = []
    for kk in range(6):
        aggs.append(
            F.sum(F.when(F.col("k") == kk, 1).otherwise(0))
            .cast("long")
            .alias(f"n{kk}")
        )
        aggs.append(
            F.sum(
                F.when((F.col("k") == kk) & (F.col("ca") > F.col("cb")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias(f"w{kk}")
        )
    wide = games.groupBy("d").agg(*aggs)
    fields = ["d"] + [f"n{kk}" for kk in range(6)] + [f"w{kk}" for kk in range(6)]
    arr = wide.agg(
        F.array_sort(F.collect_list(F.struct(*fields))).alias("seq")
    )

    new_r = ", ".join(
        _elo_new_r(m, "acc.r", "x.", "div") for m in range(4)
    )
    new_g = ", ".join(_elo_new_g(m, "acc.g", "x.") for m in range(4))
    new_w = ", ".join(_elo_new_w(m, "acc.w", "x.") for m in range(4))
    # Spark element_at syntax: arr[i] is 0-based in SQL bracket syntax!
    # Use element_at (1-based, matching DuckDB lists) instead.
    import re as _re

    def fix_idx(s: str) -> str:
        return _re.sub(
            r"(acc\.(?:r|g|w))\[(\d)\]", r"element_at(\1, \2)", s
        )

    fold = F.expr(
        f"""
        aggregate(
          seq,
          struct(
            CAST(array(1500000, 1500000, 1500000, 1500000)
                 AS array<bigint>) AS r,
            CAST(array(0, 0, 0, 0) AS array<bigint>) AS g,
            CAST(array(0, 0, 0, 0) AS array<bigint>) AS w
          ),
          (acc, x) -> struct(
            array({fix_idx(new_r)}) AS r,
            array({fix_idx(new_g)}) AS g,
            array({fix_idx(new_w)}) AS w
          ),
          acc -> acc
        )
        """
    )
    fin = arr.select(fold.alias("f"), F.size("seq").alias("n_days")).filter(
        F.col("n_days") > 0
    )
    names_case = (
        "CASE mi "
        + _ELO_MODEL_NAMES_SQL
        + f" ELSE '{_MODELS[-1][0]}' END"
    )
    return fin.select(
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("mi"), "f"
    ).select(
        F.expr(names_case).alias("model"),
        F.expr("element_at(f.r, CAST(mi AS INT))").alias("rating_milli"),
        F.expr("element_at(f.g, CAST(mi AS INT))").alias("n_games"),
        F.expr("element_at(f.w, CAST(mi AS INT))").alias("n_wins"),
    )


# ===========================================================================
# Streaming twins: live mergeability of the eval aggregation layer
# ===========================================================================
#
# Each twin runs its batch twin's own state builder over the streamed
# corpus (counting is associative/commutative and order-free, so any
# micro-batch split converges to the batch result), finalizes through
# the batch twin's finalize on the bounded state relation, and
# registers the batch oracle constant — a green row certifies the
# streaming and batch paths agree bit-for-bit on the same corpus.


@register(
    "stream_winrate_matrix",
    _SQL_WINRATE,
    doc="STREAMING twin of winrate_matrix_models: the per-pair "
    "win/tie/loss counts are streaming aggregation state in complete "
    "mode (order-free counting — any replay split converges to the "
    "batch matrix), the tie-split win rate finalizes on read from the "
    "bounded 6-row state relation, and the oracle is the BATCH SQL "
    "verbatim — a green row certifies the live leaderboard equals the "
    "batch one bit-for-bit. Scale shape: state is 6 rows of counters; "
    "the stream pays the same narrow projection + partial agg the "
    "batch plan does. (No counterpart in reference main.go.)",
)
def stream_winrate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = _wr_state(_pc_from(load_stream(spark, sf_dir, "documents")))
    return _wr_finalize(run_replay(state, "complete", "stream_wr"))


@register(
    "stream_ece_calibration",
    _SQL_ECE,
    doc="STREAMING twin of ece_calibration_bins: per-confidence-bin "
    "(n, sum_conf, sum_correct) counters as complete-mode streaming "
    "state; mean confidence, accuracy, gap and the pooled ECE "
    "finalize on read via a window over the bounded <=10-row bin "
    "relation. Oracle = the batch SQL verbatim — the live calibration "
    "dashboard equals the batch audit bit-for-bit. "
    "(No counterpart in reference main.go.)",
)
def stream_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = _ece_state(load_stream(spark, sf_dir, "documents"))
    return _ece_finalize(run_replay(state, "complete", "stream_ece"))


@register(
    "stream_mcnemar_paired",
    _SQL_MCNEMAR,
    doc="STREAMING twin of mcnemar_paired_models: the four concordance/"
    "discordance counters are a single complete-mode streaming global "
    "aggregate (one state row); the continuity-corrected chi-square "
    "and the significance verdict finalize on read. Oracle = the "
    "batch SQL verbatim — the anytime model-comparison monitor equals "
    "the batch test bit-for-bit at every corpus prefix it is read on. "
    "(No counterpart in reference main.go.)",
)
def stream_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = _mcn_state(_pc_from(load_stream(spark, sf_dir, "documents")))
    return _mcn_finalize(run_replay(state, "complete", "stream_mcn"))


# ===========================================================================
# Wave 4: training-mixture and eval-hygiene operators
# ===========================================================================


@register(
    "token_fertility_by_lang",
    """
    WITH t AS (
      SELECT lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CASE WHEN SUM(toks) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(SUM(n_chars) AS HUGEINT) * 1000000
                          // SUM(toks) AS BIGINT)
           END AS chars_per_token_micro,
           CASE WHEN COUNT(*) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(SUM(toks) * 1000000 // COUNT(*) AS BIGINT)
           END AS tokens_per_doc_micro
    FROM t GROUP BY lang
    """,
    doc="Tokenizer fertility audit per language: characters per token "
    "and tokens per document in exact truncating micros — THE number "
    "that decides whether a tokenizer taxes a language (high fertility "
    "= more tokens per content unit = higher serving cost and less "
    "effective context for that language's users). Whitespace "
    "tokenization here; the BPE family (bpe_vocab_encodings) supplies "
    "the subword variant. Char sums ride HUGEINT/DECIMAL(38,0) — "
    "chars*1e6 outgrows int64 once a language passes ~9e12 chars. "
    "Scale shape: one narrow corpus pass, partial-agg shuffle to the "
    "bounded lang domain. (No counterpart in reference main.go.)",
)
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("toks"),
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.expr(
            "CASE WHEN SUM(toks) = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(CAST(SUM(n_chars) AS DECIMAL(38,0)) * 1000000 "
            "div SUM(toks) AS BIGINT) END"
        ).alias("chars_per_token_micro"),
        F.expr(
            "CASE WHEN COUNT(*) = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(SUM(toks) * 1000000 div COUNT(*) AS BIGINT) END"
        ).alias("tokens_per_doc_micro"),
    )


# ===========================================================================
# Judge verbosity-bias audit
# ===========================================================================


@register(
    "judge_verbosity_bias_audit",
    """
    WITH items AS (
      SELECT doc_id,
             50 + CAST('0x' || substr(md5('la|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 200 AS len_a,
             50 + CAST('0x' || substr(md5('lb|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 200 AS len_b,
             CAST('0x' || substr(md5('pref|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS t,
             CAST('0x' || substr(md5('jv|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 1000000 AS u
      FROM documents),
    judged AS (
      SELECT abs(len_a - len_b) // 50 AS gap_bucket,
             t,
             CASE WHEN u < LEAST(500000, abs(len_a - len_b) * 2500)
                  THEN CASE WHEN len_a >= len_b THEN 1 ELSE 0 END
                  ELSE t END AS v,
             CASE WHEN len_a >= len_b THEN 1 ELSE 0 END AS a_longer
      FROM items)
    SELECT CAST(gap_bucket AS BIGINT) AS gap_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN v = a_longer THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS longer_win_micro,
           CAST(SUM(CASE WHEN v = t THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS accuracy_micro
    FROM judged GROUP BY gap_bucket
    """,
    doc="LLM-judge verbosity-bias audit: every item carries two answer "
    "lengths and a true preference; the judge defaults to the TRUTH "
    "but picks the LONGER answer with a probability that grows with "
    "the length disparity (2500 micro per token of gap, capped 50%) — "
    "the planted form of the verbosity bias every pairwise-judge "
    "paper reports. Grouped by length-gap bucket, longer_win rises "
    "with the gap while accuracy falls — the CURVE that tells a "
    "harness operator at what disparity their judge stops being "
    "trustworthy (and when to length-normalize, cf. "
    "mantel_haenszel_winrate). One narrow pass, partial-agg shuffle "
    "to <=4 bounded buckets; all integer micros. "
    "(No counterpart in reference main.go.)",
)
def judge_verbosity_bias_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    la = (
        50 + md5_h15(F.concat(F.lit("la|"), F.col("doc_id").cast("string"))) % 200
    ).alias("len_a")
    lb = (
        50 + md5_h15(F.concat(F.lit("lb|"), F.col("doc_id").cast("string"))) % 200
    ).alias("len_b")
    t = (
        md5_h15(F.concat(F.lit("pref|"), F.col("doc_id").cast("string"))) % 2
    ).alias("t")
    u = (
        md5_h15(F.concat(F.lit("jv|"), F.col("doc_id").cast("string"))) % 1000000
    ).alias("u")
    items = docs.select(la, lb, t, u)
    judged = items.select(
        F.expr("abs(len_a - len_b) div 50").alias("gap_bucket"),
        "t",
        F.expr(
            "CASE WHEN u < LEAST(500000, abs(len_a - len_b) * 2500) "
            "THEN CASE WHEN len_a >= len_b THEN 1 ELSE 0 END "
            "ELSE t END"
        ).alias("v"),
        F.expr("CASE WHEN len_a >= len_b THEN 1 ELSE 0 END").alias(
            "a_longer"
        ),
    )
    return judged.groupBy(
        F.col("gap_bucket").cast("long").alias("gap_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_items"),
        F.expr(
            "CAST(SUM(CASE WHEN v = a_longer THEN 1 ELSE 0 END) * 1000000 "
            "div COUNT(*) AS BIGINT)"
        ).alias("longer_win_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN v = t THEN 1 ELSE 0 END) * 1000000 "
            "div COUNT(*) AS BIGINT)"
        ).alias("accuracy_micro"),
    )


# ===========================================================================
# DoReMi-style one-step domain reweighting (linear multiplicative weights)
# ===========================================================================

_DOREMI_ETA_MICRO = 200000


@register(
    "doremi_linear_reweight",
    f"""
    WITH dom AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks,
             CAST(CAST('0x' || substr(md5('xl|' || source), 1, 15)
                       AS BIGINT) % 400000
                  + LEAST(100000, SUM(n_chars) // GREATEST(COUNT(*), 1)
                          * 200) AS BIGINT) AS excess_micro
      FROM documents GROUP BY source),
    base AS (
      SELECT *,
             CAST(SUM(toks) OVER () AS BIGINT) AS tok_total
      FROM dom),
    w0 AS (
      SELECT *,
             CAST(CAST(toks AS HUGEINT) * 1000000 // tok_total AS BIGINT)
               AS w0_micro
      FROM base),
    raw AS (
      SELECT *,
             CAST(CAST(w0_micro AS HUGEINT)
                  * (1000000 + {_DOREMI_ETA_MICRO} * excess_micro
                     // 1000000) // 1000000 AS BIGINT) AS w1_raw
      FROM w0),
    norm AS (
      SELECT *, CAST(SUM(w1_raw) OVER () AS BIGINT) AS raw_total
      FROM raw)
    SELECT source, toks, excess_micro, w0_micro,
           CASE WHEN raw_total = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(w1_raw AS HUGEINT) * 1000000 // raw_total
                          AS BIGINT)
           END AS w1_micro,
           CASE WHEN raw_total = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(w1_raw AS HUGEINT) * 1000000 // raw_total
                          AS BIGINT) - w0_micro
           END AS delta_micro
    FROM norm
    """,
    doc="DoReMi-style one-step domain reweighting with LINEAR "
    "multiplicative weights: baseline mixture weights proportional to "
    "token mass, per-domain excess loss planted deterministically "
    "(md5 draw + a length-derived component), and one update "
    "w1 = w0 * (1 + eta * excess) renormalized — the linear form of "
    "the multiplicative-weights step (exp is not engine-stable; for "
    "eta*excess << 1 the linear step IS the first-order MW update, "
    "the same substitution the linear-Elo replay documents). "
    "Domains whose excess loss is high gain mixture share — the "
    "data-mixing optimization loop's inner step (Xie et al. 2023), "
    "expressed as pure exact-integer relational algebra. Scale shape: "
    "one corpus pass to the bounded source domain; both "
    "normalizations ride windows over that bounded relation; all "
    "cross products HUGEINT/DECIMAL(38,0). "
    "(No counterpart in reference main.go.)",
)
def doremi_linear_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    dom = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("toks"),
        F.expr(
            "CAST(CAST(conv(substring(md5(concat('xl|', source)), 1, 15), "
            "16, 10) AS BIGINT) % 400000 "
            "+ LEAST(100000, SUM(n_chars) div GREATEST(COUNT(*), 1) "
            "* 200) AS BIGINT)"
        ).alias("excess_micro"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = dom.select(
        "*", F.sum("toks").over(wall).cast("long").alias("tok_total")
    )
    w0 = base.select(
        "*",
        F.expr(
            "CAST(CAST(toks AS DECIMAL(38,0)) * 1000000 div tok_total "
            "AS BIGINT)"
        ).alias("w0_micro"),
    )
    raw = w0.select(
        "*",
        F.expr(
            f"CAST(CAST(w0_micro AS DECIMAL(38,0)) "
            f"* (1000000 + {_DOREMI_ETA_MICRO} * excess_micro "
            f"div 1000000) div 1000000 AS BIGINT)"
        ).alias("w1_raw"),
    )
    norm = raw.select(
        "*", F.sum("w1_raw").over(wall).cast("long").alias("raw_total")
    )
    w1 = (
        "CAST(CAST(w1_raw AS DECIMAL(38,0)) * 1000000 div raw_total "
        "AS BIGINT)"
    )
    return norm.select(
        "source",
        "toks",
        "excess_micro",
        "w0_micro",
        F.expr(
            f"CASE WHEN raw_total = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST({w1} AS BIGINT) END"
        ).alias("w1_micro"),
        F.expr(
            f"CASE WHEN raw_total = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST({w1} AS BIGINT) - w0_micro END"
        ).alias("delta_micro"),
    )


# ===========================================================================
# Eval-set duplicate inflation audit
# ===========================================================================


@register(
    "eval_dedup_inflation_audit",
    f"""
    WITH pc2 AS (
      SELECT doc_id, text,
             CAST({_sql_correct(*_MODELS[0])} AS BIGINT) AS c1,
             CAST({_sql_correct(*_MODELS[1])} AS BIGINT) AS c2
      FROM documents),
    fp AS (
      SELECT *,
             md5(array_to_string(string_split(text, ' ')[1:8], ' '))
               AS fpr
      FROM pc2),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fpr ORDER BY doc_id)
               AS rn
      FROM fp),
    tagged AS (
      SELECT CASE WHEN c1 > c2 THEN 1000000
                  WHEN c1 = c2 THEN 500000 ELSE 0 END AS wr,
             CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_rep
      FROM ranked)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(is_rep) AS BIGINT) AS n_unique,
           CAST(SUM(wr) // COUNT(*) AS BIGINT) AS winrate_raw_micro,
           CASE WHEN SUM(is_rep) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(SUM(wr * is_rep) // SUM(is_rep) AS BIGINT)
           END AS winrate_dedup_micro,
           CAST(SUM(wr) // COUNT(*) AS BIGINT)
             - CASE WHEN SUM(is_rep) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(SUM(wr * is_rep) // SUM(is_rep) AS BIGINT)
               END AS inflation_micro
    FROM tagged
    """,
    doc="Eval-set duplicate inflation audit: the m1-vs-m2 tie-split "
    "win rate computed on the RAW eval set and on its "
    "fingerprint-deduplicated representative set (8-token head-prefix "
    "md5, first doc_id per group — the truncation-duplicate grouping "
    "the dedup_keep_longest policy uses; the corpus's near-dups are "
    "head-sharing truncations, not exact token-bag matches), with the inflation delta between them. "
    "Duplicated eval items overweight whatever the models do on the "
    "duplicated content — the ~28%-near-dup driver corpus makes the "
    "two win rates measurably differ, and the audit prices exactly "
    "how much of a leaderboard gap is duplicate weighting. Composes "
    "the dedup family with the eval family in one query. Scale "
    "shape: one corpus pass; the representative pick is a window "
    "over the fingerprint partition (the dedup family's shuffle); "
    "one final global aggregate. "
    "(No counterpart in reference main.go.)",
)
def eval_dedup_inflation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pc2 = docs.select(
        "doc_id",
        "text",
        _correct_col(*_MODELS[0]).alias("c1"),
        _correct_col(*_MODELS[1]).alias("c2"),
    )
    fp = pc2.select(
        "*",
        F.md5(
            F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8))
        ).alias("fpr"),
    )
    w = Window.partitionBy("fpr").orderBy("doc_id")
    ranked = fp.select("*", F.row_number().over(w).alias("rn"))
    tagged = ranked.select(
        F.expr(
            "CASE WHEN c1 > c2 THEN 1000000 "
            "WHEN c1 = c2 THEN 500000 ELSE 0 END"
        ).alias("wr"),
        F.expr("CASE WHEN rn = 1 THEN 1 ELSE 0 END").alias("is_rep"),
    )
    return tagged.agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum("is_rep").cast("long").alias("n_unique"),
        F.expr("CAST(SUM(wr) div COUNT(*) AS BIGINT)").alias(
            "winrate_raw_micro"
        ),
        F.expr(
            "CASE WHEN SUM(is_rep) = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(SUM(wr * is_rep) div SUM(is_rep) AS BIGINT) END"
        ).alias("winrate_dedup_micro"),
        F.expr(
            "CAST(SUM(wr) div COUNT(*) AS BIGINT) "
            "- CASE WHEN SUM(is_rep) = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(SUM(wr * is_rep) div SUM(is_rep) AS BIGINT) END"
        ).alias("inflation_micro"),
    )
