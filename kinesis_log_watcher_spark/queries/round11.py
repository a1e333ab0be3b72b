"""Round-11 wave: alignment-preference evaluation (DPO / KTO /
rejection sampling), serving economics (continuous-batching occupancy,
exact queue backlog, speculative decoding), and ANN index
freshness/staleness.

Three families the round-10 verdict queued:

1. **DPO/RLHF-adjacent preference eval** — extends the round-10
   reward-model panel (round10.py `_rm_panel`: planted true quality +
   a noisy, length-confounded RM estimate). Preference pairs are the
   same adjacent-doc equi-join wave 6 used (co-partitioned doc_id+1,
   never cartesian). New here: the DPO implicit-reward margin
   distribution, a beta-sensitivity ladder whose sigmoid / -log-sigmoid
   values are Python BUILD-TIME literals over the bounded margin-bucket
   domain (the nDCG log2-ladder discipline — no exp/log in either
   engine), a margin-threshold data-filter curve, a rejection-sampling
   efficiency curve, a verbosity-confound win-rate audit, a KTO-style
   unpaired desirable/undesirable separation table, and a pairwise-
   judge transitivity audit (independent per-pair noise makes cycles
   possible; a raw score order never cycles).

2. **Serving economics** — extends wave 7's KV-cache sessionization:
   per-tick prefill/decode token-slot occupancy (compute, not held
   memory), an EXACT Lindley queue backlog via the closed form
   backlog_t = S_t - min(0, running_min(S)) over cumulative sums (two
   bounded-domain windows over the tick aggregate — no iterative
   recursion), and an empirical speculative-decoding panel: per-doc
   draft-acceptance draws give run lengths in a single in-row CASE
   chain (no per-position explode), priced into effective tokens/step
   and net speedup under a literal draft-cost model, plus a draft-
   length tuner over k in {1,2,4,8}.

3. **Index freshness/staleness** — joins the round-10 retrieval panel
   with an arrival-time draw: recall@10 of a t-lagged index (only
   docs arrived before the lag cutoff are indexed) against CURRENT
   ground truth, and a rebuild-cadence cost model (staleness cost vs
   rebuild cost over a period ladder, closed-form per-doc integer
   arithmetic). Streaming twins for the two order-free members
   (rejection-sampling counters, cadence sums) run the batch twin's
   state builder and finalize and register its oracle constant.

Panel constants were tuned empirically in DuckDB before registration
(the round-10 lesson): margin buckets -4..4 all populated with
agreement 62%..100%, Lindley capacity 360 gives 47/100 busy ticks and
max backlog 72, staleness recall degrades 0.486 -> 0.292 across the
lag ladder, judge-noise 400000 gives a 7% cyclic-triad rate.

Scale posture shared by the wave: every pair/triad relation is a
co-partitioned doc_id-offset equi-join; ladders are in-row literal
explodes (bounded fan-out 3-5x) over one scan; every window partitions
over a bounded domain (tick/bucket aggregates, per-(lag, q_id)
candidate subsets); exact integer micros throughout — no float
accumulation, no exp/log at eval time.

(No counterpart in reference main.go — the reference is a
tail-and-render CLI; this wave is gate-mandated engine surface.)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_log_watcher_spark.queries.base import load, load_stream, register
from kinesis_log_watcher_spark.queries.round10 import (
    _CUT_A,
    _NQ,
    _SQL_NREL,
    _SQL_PANEL,
    _SQL_RMPANEL,
    _SQL_SCORED,
    _draw,
    _hs,
    _nrel,
    _panel,
    _rm_panel,
    _rm_panel_from,
    _scored_from,
)
from kinesis_log_watcher_spark.sources.files import run_replay

# ===========================================================================
# Wave 1: DPO / KTO / rejection-sampling preference eval
# ===========================================================================

_MB_W = 100000     # margin-bucket width (micros)
_MB_CLAMP = 4      # buckets clamp to [-4, 4]
_BETAS = (1, 5, 10)
_RS_TAUS = (0, 300000, 450000, 600000, 750000)   # rm acceptance ladder
_MF_TAUS = (0, 50000, 100000, 200000, 400000)    # |margin| filter ladder
_KTO_TAU = 600000  # planted-quality desirability threshold (~median)
_PJ_NOISE = 400000 # pairwise-judge noise modulus (tuned: ~7% cyclic)

# The preference-pair relation shared by wave 1: adjacent docs pair as
# (candidate a, candidate b); gold chosen = higher planted quality
# (ties -> a); m_dpo = rm(chosen) - rm(rejected) is the DPO implicit-
# reward margin SIGNED BY THE GOLD LABEL (negative mass = pairs the RM
# gets wrong = label-noise candidates under an RM-relabeling regime).
_SQL_PAIRS = """pairs AS (
      SELECT a.doc_id AS id_a,
             CASE WHEN a.qual >= b.qual THEN a.rm - b.rm
                  ELSE b.rm - a.rm END AS m_dpo,
             abs(a.rm - b.rm) AS m_abs,
             abs(a.qual - b.qual) AS gap_q,
             CASE WHEN (a.rm >= b.rm) = (a.qual >= b.qual)
                  THEN 1 ELSE 0 END AS agree,
             CASE WHEN a.qual >= b.qual THEN a.n_chars - b.n_chars
                  ELSE b.n_chars - a.n_chars END AS dlen,
             CASE WHEN a.n_chars > b.n_chars
                    THEN (CASE WHEN a.rm >= b.rm THEN 1 ELSE 0 END)
                  WHEN b.n_chars > a.n_chars
                    THEN (CASE WHEN a.rm < b.rm THEN 1 ELSE 0 END)
                  ELSE 0 END AS rm_longer
      FROM rmp a JOIN rmp b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 2 = 0)"""


def _pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    rmp = _rm_panel(spark, sf_dir)
    a = rmp.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id_a"),
        F.col("qual").alias("qa"),
        F.col("rm").alias("ra"),
        F.col("n_chars").alias("la"),
    )
    b = rmp.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("qual").alias("qb"),
        F.col("rm").alias("rb"),
        F.col("n_chars").alias("lb"),
    )
    gold_a = F.col("qa") >= F.col("qb")
    return a.join(b, "id_a").select(
        "id_a",
        F.when(gold_a, F.col("ra") - F.col("rb"))
        .otherwise(F.col("rb") - F.col("ra"))
        .alias("m_dpo"),
        F.abs(F.col("ra") - F.col("rb")).alias("m_abs"),
        F.abs(F.col("qa") - F.col("qb")).alias("gap_q"),
        F.when(
            (F.col("ra") >= F.col("rb")) == gold_a, 1
        )
        .otherwise(0)
        .alias("agree"),
        F.when(gold_a, F.col("la") - F.col("lb"))
        .otherwise(F.col("lb") - F.col("la"))
        .alias("dlen"),
        F.when(
            F.col("la") > F.col("lb"),
            F.when(F.col("ra") >= F.col("rb"), 1).otherwise(0),
        )
        .when(
            F.col("lb") > F.col("la"),
            F.when(F.col("ra") < F.col("rb"), 1).otherwise(0),
        )
        .otherwise(0)
        .alias("rm_longer"),
    )


@register(
    "dpo_implicit_reward_margin",
    f"""
    WITH {_SQL_RMPANEL},
    {_SQL_PAIRS}
    SELECT CAST(GREATEST(-{_MB_CLAMP},
                LEAST({_MB_CLAMP}, m_dpo // {_MB_W})) AS BIGINT)
             AS margin_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(m_dpo) // COUNT(*) AS BIGINT) AS mean_margin,
           CAST(SUM(gap_q) // COUNT(*) AS BIGINT) AS mean_gold_gap
    FROM pairs GROUP BY 1
    """,
    doc="DPO implicit-reward margin distribution: for each preference "
    "pair, the margin rm(chosen) - rm(rejected) signed by the GOLD "
    "label, bucketed into a clamped 9-bucket ladder. The negative-"
    "bucket mass is the pairs an RM-derived policy would learn "
    "BACKWARD (label-noise candidates), and mean_gold_gap per bucket "
    "shows whether the RM's mistakes concentrate on genuinely close "
    "pairs (benign) or wide ones (harmful) — the first table any DPO "
    "data audit prints. Truncate-toward-zero division in both "
    "dialects. Scale shape: one co-partitioned doc_id+1 equi-join, "
    "then one partial agg to the 9-bucket domain. "
    "(No counterpart in reference main.go.)",
)
def dpo_implicit_reward_margin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = _pref_pairs(spark, sf_dir)
    bucket = F.greatest(
        F.lit(-_MB_CLAMP),
        F.least(F.lit(_MB_CLAMP), F.expr(f"m_dpo div {_MB_W}")),
    )
    return pairs.groupBy(
        bucket.cast("long").alias("margin_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("CAST(SUM(m_dpo) div COUNT(*) AS BIGINT)").alias(
            "mean_margin"
        ),
        F.expr("CAST(SUM(gap_q) div COUNT(*) AS BIGINT)").alias(
            "mean_gold_gap"
        ),
    )


# Build-time sigmoid / -log-sigmoid ladders over the bounded
# (beta, margin-bucket) domain. The CASE text is generated ONCE from
# Python floats and embedded verbatim in BOTH dialects, so the values
# are engine-stable by construction (the nDCG log2-ladder discipline).
_CENTERS = {
    b: 0 if b == 0 else (abs(b) * _MB_W + _MB_W // 2) * (1 if b > 0 else -1)
    for b in range(-_MB_CLAMP, _MB_CLAMP + 1)
}


def _sigmoid(x: float) -> float:
    return 1.0 / (1.0 + math.exp(-x))


def _beta_cases() -> tuple[str, str]:
    pref, loss = [], []
    for beta in _BETAS:
        for b in sorted(_CENTERS):
            p = _sigmoid(beta * _CENTERS[b] / 1e6)
            pref.append(
                f"WHEN beta = {beta} AND mb = {b} THEN {round(p * 1e6)}"
            )
            loss.append(
                f"WHEN beta = {beta} AND mb = {b} "
                f"THEN {round(-math.log(p) * 1e6)}"
            )
    return (
        "CASE " + " ".join(pref) + " ELSE 0 END",
        "CASE " + " ".join(loss) + " ELSE 0 END",
    )


_PREF_CASE, _LOSS_CASE = _beta_cases()


@register(
    "dpo_beta_sensitivity_ladder",
    f"""
    WITH {_SQL_RMPANEL},
    {_SQL_PAIRS},
    mb AS (
      SELECT GREATEST(-{_MB_CLAMP},
             LEAST({_MB_CLAMP}, m_dpo // {_MB_W})) AS mb
      FROM pairs),
    lad AS (
      SELECT t.beta, m.mb,
             {_PREF_CASE} AS pref,
             {_LOSS_CASE} AS loss
      FROM mb m CROSS JOIN (SELECT unnest([1, 5, 10]) AS beta) t)
    SELECT CAST(beta AS BIGINT) AS beta,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(pref) // COUNT(*) AS BIGINT)
             AS mean_pref_prob_micro,
           CAST(SUM(loss) // COUNT(*) AS BIGINT)
             AS mean_dpo_loss_micro
    FROM lad GROUP BY 1
    """,
    doc="DPO beta sensitivity: the expected preference probability "
    "sigmoid(beta * margin) and the expected DPO loss "
    "-log sigmoid(beta * margin) per beta in {1, 5, 10}, where the "
    "sigmoid and log values are Python BUILD-TIME literal CASE "
    "ladders over the bounded margin-bucket domain (27 arms, embedded "
    "verbatim in both dialects — no exp/log at eval time, the "
    "engine-stability constraint). Shows how sharply the KL-anchor "
    "strength trades calibrated preference mass against loss "
    "magnitude on THIS pair distribution. Scale shape: in-row "
    "3-way literal explode over the pair relation, one partial agg "
    "to the 3-row beta domain. "
    "(No counterpart in reference main.go.)",
)
def dpo_beta_sensitivity_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = _pref_pairs(spark, sf_dir)
    mb = pairs.select(
        F.greatest(
            F.lit(-_MB_CLAMP),
            F.least(F.lit(_MB_CLAMP), F.expr(f"m_dpo div {_MB_W}")),
        ).alias("mb")
    )
    lad = mb.select(
        "mb",
        F.explode(F.array(*[F.lit(b) for b in _BETAS])).alias("beta"),
    ).select(
        "beta",
        F.expr(_PREF_CASE).alias("pref"),
        F.expr(_LOSS_CASE).alias("loss"),
    )
    return lad.groupBy(F.col("beta").cast("long").alias("beta")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("CAST(SUM(pref) div COUNT(*) AS BIGINT)").alias(
            "mean_pref_prob_micro"
        ),
        F.expr("CAST(SUM(loss) div COUNT(*) AS BIGINT)").alias(
            "mean_dpo_loss_micro"
        ),
    )


@register(
    "dpo_margin_filter_curve",
    f"""
    WITH {_SQL_RMPANEL},
    {_SQL_PAIRS},
    lad AS (
      SELECT t.tau, p.m_abs, p.agree
      FROM pairs p
      CROSS JOIN (SELECT unnest([0, 50000, 100000, 200000, 400000])
                  AS tau) t
      WHERE p.m_abs >= t.tau)
    SELECT CAST(tau AS BIGINT) AS tau,
           CAST(COUNT(*) AS BIGINT) AS n_retained,
           CAST(SUM(agree) AS BIGINT) AS n_agree,
           CAST(SUM(agree) * 1000000 // COUNT(*) AS BIGINT)
             AS agree_micro,
           CAST(SUM(m_abs) // COUNT(*) AS BIGINT) AS mean_abs_margin
    FROM lad GROUP BY 1
    """,
    doc="Preference-pair margin-filter curve: retain only pairs whose "
    "UNSIGNED implicit-reward margin |rm_a - rm_b| clears a threshold "
    "ladder (tau=0 row = the unfiltered baseline), and report how "
    "retention trades against label purity (agreement with the gold "
    "quality order). The curation knob for DPO training sets: "
    "confident pairs are cleaner but fewer — this table prices the "
    "trade exactly. Scale shape: in-row 5-way literal explode + "
    "filter over the pair relation, one partial agg to the 5-row tau "
    "domain. (No counterpart in reference main.go.)",
)
def dpo_margin_filter_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = _pref_pairs(spark, sf_dir)
    lad = pairs.select(
        "m_abs",
        "agree",
        F.explode(F.array(*[F.lit(t) for t in _MF_TAUS])).alias("tau"),
    ).filter(F.col("m_abs") >= F.col("tau"))
    return lad.groupBy(F.col("tau").cast("long").alias("tau")).agg(
        F.count("*").cast("long").alias("n_retained"),
        F.sum("agree").cast("long").alias("n_agree"),
        F.expr(
            "CAST(SUM(agree) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("agree_micro"),
        F.expr("CAST(SUM(m_abs) div COUNT(*) AS BIGINT)").alias(
            "mean_abs_margin"
        ),
    )


def _rs_state(docs: DataFrame) -> DataFrame:
    """Per-tau acceptance counters over the RM panel — the order-free
    aggregation the streaming twin holds as complete-mode state."""
    rmp = _rm_panel_from(docs)
    lad = rmp.select(
        "rm",
        "qual",
        F.explode(F.array(*[F.lit(t) for t in _RS_TAUS])).alias("tau"),
    ).filter(F.col("rm") >= F.col("tau"))
    return lad.groupBy(F.col("tau").cast("long").alias("tau")).agg(
        F.count("*").cast("long").alias("n_accepted"),
        F.sum("rm").cast("long").alias("s_rm"),
        F.sum("qual").cast("long").alias("s_qual"),
    )


def _rs_finalize(state: DataFrame) -> DataFrame:
    return state.select(
        "tau",
        "n_accepted",
        F.expr("CAST(s_rm div n_accepted AS BIGINT)").alias(
            "mean_rm_accepted"
        ),
        F.expr("CAST(s_qual div n_accepted AS BIGINT)").alias(
            "mean_qual_accepted"
        ),
    )


_SQL_REJECTION = f"""
    WITH {_SQL_RMPANEL},
    lad AS (
      SELECT t.tau, r.rm, r.qual
      FROM rmp r
      CROSS JOIN (SELECT unnest([0, 300000, 450000, 600000, 750000])
                  AS tau) t
      WHERE r.rm >= t.tau),
    state AS (
      SELECT CAST(tau AS BIGINT) AS tau,
             CAST(COUNT(*) AS BIGINT) AS n_accepted,
             CAST(SUM(rm) AS BIGINT) AS s_rm,
             CAST(SUM(qual) AS BIGINT) AS s_qual
      FROM lad GROUP BY 1)
    SELECT tau, n_accepted,
           CAST(s_rm // n_accepted AS BIGINT) AS mean_rm_accepted,
           CAST(s_qual // n_accepted AS BIGINT) AS mean_qual_accepted
    FROM state
    """


@register(
    "rejection_sampling_efficiency",
    _SQL_REJECTION,
    doc="Rejection-sampling (best-of-N by threshold) efficiency "
    "curve: accept a completion iff its RM score clears tau; per tau "
    "report the accepted count and the mean TRUE quality of the "
    "accepted set (tau=0 row = the no-filter baseline, so the "
    "quality GAIN is read off against row one without a 1-row "
    "cross-join). The acceptance-rate-vs-quality-gain trade is the "
    "operating curve of every RLHF rejection-sampling data engine — "
    "diminishing true-quality returns at harsher thresholds expose "
    "reward overoptimization (the noisy RM saturates). Scale shape: "
    "in-row 5-way literal explode + filter over one documents scan, "
    "partial agg to the 5-row tau domain; the finalize division runs "
    "on the bounded state relation. "
    "(No counterpart in reference main.go.)",
)
def rejection_sampling_efficiency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _rs_finalize(_rs_state(load(spark, sf_dir, "documents")))


@register(
    "winrate_verbosity_confound",
    f"""
    WITH {_SQL_RMPANEL},
    {_SQL_PAIRS}
    SELECT CAST(CASE WHEN dlen > 0 THEN 1
                     WHEN dlen < 0 THEN -1 ELSE 0 END AS BIGINT)
             AS len_rel,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(agree) * 1000000 // COUNT(*) AS BIGINT)
             AS rm_agree_micro,
           CAST(SUM(rm_longer) * 1000000 // COUNT(*) AS BIGINT)
             AS rm_prefers_longer_micro,
           CAST(SUM(abs(dlen)) // COUNT(*) AS BIGINT)
             AS mean_abs_len_gap
    FROM pairs GROUP BY 1
    """,
    doc="Win-rate-vs-verbosity confound audit: preference pairs split "
    "by whether the GOLD-chosen completion is longer, shorter, or "
    "equal-length vs the rejected one; per group the RM's agreement "
    "rate with gold and the rate at which the RM prefers the LONGER "
    "doc regardless of gold. The panel's RM carries a deliberate "
    "extra length term, so agreement is materially higher when "
    "chosen-is-longer — the verbosity confound that inflates naive "
    "win rates (extends rm_length_gradient_audit from the pair side). "
    "Scale shape: one co-partitioned doc_id+1 equi-join, one partial "
    "agg to the 3-row domain. "
    "(No counterpart in reference main.go.)",
)
def winrate_verbosity_confound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = _pref_pairs(spark, sf_dir)
    len_rel = (
        F.when(F.col("dlen") > 0, 1)
        .when(F.col("dlen") < 0, -1)
        .otherwise(0)
    )
    return pairs.groupBy(len_rel.cast("long").alias("len_rel")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(SUM(agree) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("rm_agree_micro"),
        F.expr(
            "CAST(SUM(rm_longer) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("rm_prefers_longer_micro"),
        F.expr("CAST(SUM(abs(dlen)) div COUNT(*) AS BIGINT)").alias(
            "mean_abs_len_gap"
        ),
    )


@register(
    "kto_unpaired_preference_eval",
    f"""
    WITH {_SQL_RMPANEL},
    per AS (
      SELECT source,
             CAST(SUM(CASE WHEN qual >= {_KTO_TAU} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_des,
             CAST(SUM(CASE WHEN qual >= {_KTO_TAU} THEN rm ELSE 0 END)
                  AS BIGINT) AS s_des,
             CAST(SUM(CASE WHEN qual < {_KTO_TAU} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_und,
             CAST(SUM(CASE WHEN qual < {_KTO_TAU} THEN rm ELSE 0 END)
                  AS BIGINT) AS s_und
      FROM rmp GROUP BY source)
    SELECT source,
           n_des AS n_desirable,
           n_und AS n_undesirable,
           CAST(CASE WHEN n_des = 0 THEN 0
                     ELSE s_des // n_des END AS BIGINT)
             AS mean_rm_desirable,
           CAST(CASE WHEN n_und = 0 THEN 0
                     ELSE s_und // n_und END AS BIGINT)
             AS mean_rm_undesirable,
           CAST((CASE WHEN n_des = 0 THEN 0 ELSE s_des // n_des END)
              - (CASE WHEN n_und = 0 THEN 0 ELSE s_und // n_und END)
              AS BIGINT) AS rm_separation
    FROM per
    """,
    doc="KTO-style unpaired preference eval: completions carry only a "
    "BINARY desirable/undesirable label (planted quality above/below "
    f"the {_KTO_TAU}-micro threshold — no pairing step), and per "
    "source the table reports class counts, the RM's mean score on "
    "each class, and the separation between them — the signal an "
    "unpaired-preference (KTO/binary-feedback) trainer actually "
    "consumes, and the per-source breakdown shows which slices give "
    "the RM usable contrast. Zero-class guards are identical CASE "
    "expressions in both dialects. Scale shape: one partial agg per "
    "source over one documents scan; the finalize arithmetic runs on "
    "the bounded per-source relation. "
    "(No counterpart in reference main.go.)",
)
def kto_unpaired_preference_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rmp = _rm_panel(spark, sf_dir)
    des = F.when(F.col("qual") >= _KTO_TAU, 1).otherwise(0)
    per = rmp.groupBy("source").agg(
        F.sum(des).cast("long").alias("n_des"),
        F.sum(F.when(F.col("qual") >= _KTO_TAU, F.col("rm")).otherwise(0))
        .cast("long")
        .alias("s_des"),
        F.sum(1 - des).cast("long").alias("n_und"),
        F.sum(F.when(F.col("qual") < _KTO_TAU, F.col("rm")).otherwise(0))
        .cast("long")
        .alias("s_und"),
    )
    mean_des = "CASE WHEN n_des = 0 THEN 0 ELSE s_des div n_des END"
    mean_und = "CASE WHEN n_und = 0 THEN 0 ELSE s_und div n_und END"
    return per.select(
        "source",
        F.col("n_des").alias("n_desirable"),
        F.col("n_und").alias("n_undesirable"),
        F.expr(f"CAST({mean_des} AS BIGINT)").alias("mean_rm_desirable"),
        F.expr(f"CAST({mean_und} AS BIGINT)").alias(
            "mean_rm_undesirable"
        ),
        F.expr(f"CAST(({mean_des}) - ({mean_und}) AS BIGINT)").alias(
            "rm_separation"
        ),
    )


def _pj_noise_sql(a: str, b: str) -> str:
    inner = (
        f"'pj|' || CAST({a} AS VARCHAR) || '|' || CAST({b} AS VARCHAR)"
    )
    return f"({_hs(inner)} % {_PJ_NOISE} - {_PJ_NOISE // 2})"


def _pj_noise(a, b):
    return _draw("pj", a, b) % _PJ_NOISE - _PJ_NOISE // 2


@register(
    "preference_transitivity_audit",
    f"""
    WITH {_SQL_RMPANEL},
    tri AS (
      SELECT a.doc_id ia, b.doc_id ib, c.doc_id ic,
             a.rm ra, b.rm rb, c.rm rc, a.qual qa, b.qual qb
      FROM rmp a
      JOIN rmp b ON b.doc_id = a.doc_id + 1
      JOIN rmp c ON c.doc_id = a.doc_id + 2
      WHERE a.doc_id % 3 = 0),
    prefs AS (
      SELECT qa, qb,
        CASE WHEN ra - rb + {_pj_noise_sql("ia", "ib")} >= 0
             THEN 1 ELSE 0 END AS p_ab,
        CASE WHEN rb - rc + {_pj_noise_sql("ib", "ic")} >= 0
             THEN 1 ELSE 0 END AS p_bc,
        CASE WHEN rc - ra + {_pj_noise_sql("ic", "ia")} >= 0
             THEN 1 ELSE 0 END AS p_ca
      FROM tri)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triads,
           CAST(SUM(CASE WHEN p_ab = p_bc AND p_bc = p_ca
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_cyclic,
           CAST(SUM(CASE WHEN p_ab = p_bc AND p_bc = p_ca
                    THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS cyclic_micro,
           CAST(SUM(CASE WHEN (p_ab = 1) = (qa >= qb)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_ab,
           CAST(SUM(CASE WHEN (p_ab = 1) = (qa >= qb)
                    THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS agree_ab_micro
    FROM prefs
    """,
    doc="Pairwise-judge transitivity audit: disjoint doc triads "
    "(a, a+1, a+2), each of the three pair preferences judged "
    "INDEPENDENTLY (RM margin plus a per-ordered-pair noise draw — a "
    "raw score order can never cycle, so the noise model is what "
    "makes this audit non-trivial). A triad is cyclic iff the three "
    "directed judgments chain a>b>c>a (all three CASE flags equal). "
    "The cyclic rate (~7% at the tuned noise) bounds how much signal "
    "a Bradley-Terry/Elo fit can extract from this judge; the ab-"
    "gold agreement anchors judge quality. Scale shape: two "
    "co-partitioned doc_id-offset equi-joins over disjoint triads "
    "(each doc in at most one), one global agg to a single row. "
    "(No counterpart in reference main.go.)",
)
def preference_transitivity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rmp = _rm_panel(spark, sf_dir)
    a = rmp.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("ia"),
        F.col("rm").alias("ra"),
        F.col("qual").alias("qa"),
    )
    b = rmp.select(
        (F.col("doc_id") - 1).alias("ia"),
        F.col("doc_id").alias("ib"),
        F.col("rm").alias("rb"),
        F.col("qual").alias("qb"),
    )
    c = rmp.select(
        (F.col("doc_id") - 2).alias("ia"),
        F.col("doc_id").alias("ic"),
        F.col("rm").alias("rc"),
    )
    tri = a.join(b, "ia").join(c, "ia")
    prefs = tri.select(
        "qa",
        "qb",
        F.when(
            F.col("ra") - F.col("rb")
            + _pj_noise(F.col("ia"), F.col("ib"))
            >= 0,
            1,
        )
        .otherwise(0)
        .alias("p_ab"),
        F.when(
            F.col("rb") - F.col("rc")
            + _pj_noise(F.col("ib"), F.col("ic"))
            >= 0,
            1,
        )
        .otherwise(0)
        .alias("p_bc"),
        F.when(
            F.col("rc") - F.col("ra")
            + _pj_noise(F.col("ic"), F.col("ia"))
            >= 0,
            1,
        )
        .otherwise(0)
        .alias("p_ca"),
    )
    cyc = F.when(
        (F.col("p_ab") == F.col("p_bc"))
        & (F.col("p_bc") == F.col("p_ca")),
        1,
    ).otherwise(0)
    ab_gold = F.when(
        (F.col("p_ab") == 1) == (F.col("qa") >= F.col("qb")), 1
    ).otherwise(0)
    return prefs.agg(
        F.count("*").cast("long").alias("n_triads"),
        F.sum(cyc).cast("long").alias("n_cyclic"),
        (F.sum(cyc) * 1000000)
        .cast("long")
        .alias("_c"),
        F.sum(ab_gold).cast("long").alias("n_agree_ab"),
        (F.sum(ab_gold) * 1000000).cast("long").alias("_a"),
    ).select(
        "n_triads",
        "n_cyclic",
        F.expr("CAST(_c div n_triads AS BIGINT)").alias("cyclic_micro"),
        "n_agree_ab",
        F.expr("CAST(_a div n_triads AS BIGINT)").alias(
            "agree_ab_micro"
        ),
    )


# ===========================================================================
# Wave 2: serving economics
# ===========================================================================

_CB_GAP = 300        # inactivity slots closing a session (wave-7 value)
_CB_BUCKET = 1000    # slots per occupancy bucket
_CB_DEC_MOD = 120    # per-turn decode tokens: draw % 120
_CB_PRE_BASE = 200   # prefill tokens: 200 + draw % 400
_CB_PRE_MOD = 400
_CB_BUDGET = 120000  # token-slot budget per bucket (tuned: mixed regime)


@register(
    "continuous_batching_occupancy",
    f"""
    WITH seq AS (
      SELECT user_id, event_id,
             LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
               AS prev
      FROM events),
    fl AS (
      SELECT event_id,
             CASE WHEN prev IS NULL OR event_id - prev > {_CB_GAP}
                  THEN 1 ELSE 0 END AS new_sess
      FROM seq),
    per AS (
      SELECT CAST(event_id // {_CB_BUCKET} AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_turns,
             CAST(SUM(new_sess) AS BIGINT) AS n_prefill,
             CAST(SUM(new_sess * ({_CB_PRE_BASE}
                  + {_hs("'pf|' || CAST(event_id AS VARCHAR)")}
                    % {_CB_PRE_MOD})) AS BIGINT) AS prefill_tokens,
             CAST(SUM({_hs("'dt|' || CAST(event_id AS VARCHAR)")}
                  % {_CB_DEC_MOD}) AS BIGINT) AS decode_tokens
      FROM fl GROUP BY 1)
    SELECT bucket, n_turns, n_prefill, prefill_tokens, decode_tokens,
           CAST(prefill_tokens + decode_tokens AS BIGINT) AS occupancy,
           CAST(prefill_tokens * 1000000
                // (prefill_tokens + decode_tokens) AS BIGINT)
             AS prefill_share_micro,
           CAST((prefill_tokens + decode_tokens) * 1000000
                // {_CB_BUDGET} AS BIGINT) AS util_micro,
           (prefill_tokens + decode_tokens) > {_CB_BUDGET} AS saturated
    FROM per
    """,
    doc="Continuous-batching occupancy model: user event streams "
    f"sessionize by inactivity gap (> {_CB_GAP} slots); a session-"
    "opening turn pays a drawn PREFILL token cost, every turn pays a "
    f"drawn DECODE token cost, and per {_CB_BUCKET}-slot bucket the "
    "table reports the token-slot occupancy split prefill/decode, "
    f"the prefill share, and utilization vs a {_CB_BUDGET}-token "
    "batch budget — the tick-level COMPUTE occupancy that a "
    "continuous-batching scheduler balances (the KV query models "
    "held MEMORY; this models slot compute). Scale shape: one LAG "
    "window per user partition, one partial agg to the bounded "
    "bucket domain, finalize arithmetic on the bucket relation. "
    "(No counterpart in reference main.go.)",
)
def continuous_batching_occupancy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    fl = ev.select("user_id", "event_id").select(
        "event_id",
        F.when(
            F.lag("event_id").over(w).isNull()
            | (F.col("event_id") - F.lag("event_id").over(w) > _CB_GAP),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    per = fl.groupBy(
        F.expr(f"CAST(event_id div {_CB_BUCKET} AS BIGINT)").alias(
            "bucket"
        )
    ).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum("new_sess").cast("long").alias("n_prefill"),
        F.sum(
            F.col("new_sess")
            * (
                F.lit(_CB_PRE_BASE)
                + _draw("pf", F.col("event_id")) % _CB_PRE_MOD
            )
        )
        .cast("long")
        .alias("prefill_tokens"),
        F.sum(_draw("dt", F.col("event_id")) % _CB_DEC_MOD)
        .cast("long")
        .alias("decode_tokens"),
    )
    occ = F.col("prefill_tokens") + F.col("decode_tokens")
    return per.select(
        "bucket",
        "n_turns",
        "n_prefill",
        "prefill_tokens",
        "decode_tokens",
        occ.cast("long").alias("occupancy"),
        F.expr(
            "CAST(prefill_tokens * 1000000 "
            "div (prefill_tokens + decode_tokens) AS BIGINT)"
        ).alias("prefill_share_micro"),
        F.expr(
            "CAST((prefill_tokens + decode_tokens) * 1000000 "
            f"div {_CB_BUDGET} AS BIGINT)"
        ).alias("util_micro"),
        (occ > _CB_BUDGET).alias("saturated"),
    )


_LQ_TICK = 100   # events per queue tick (event_id // 100)
_LQ_WMOD = 8     # work units per event: draw % 8
_LQ_CAP = 360    # service capacity per tick (tuned: 47% busy ticks)


@register(
    "serving_backlog_lindley",
    f"""
    WITH t AS (
      SELECT CAST(event_id // {_LQ_TICK} AS BIGINT) AS tick,
             CAST(SUM({_hs("'ld|' || CAST(event_id AS VARCHAR)")}
                  % {_LQ_WMOD}) AS BIGINT) AS work
      FROM events GROUP BY 1),
    s AS (
      SELECT tick, work,
             CAST(SUM(work - {_LQ_CAP}) OVER (ORDER BY tick)
                  AS BIGINT) AS cum
      FROM t)
    SELECT tick, work,
           CAST(cum - LEAST(0, CAST(MIN(cum) OVER (ORDER BY tick)
                AS BIGINT)) AS BIGINT) AS backlog,
           (cum - LEAST(0, CAST(MIN(cum) OVER (ORDER BY tick)
                AS BIGINT))) > 0 AS busy
    FROM s
    """,
    doc="Exact serving-queue backlog via the Lindley closed form: "
    "per-tick arriving work (drawn token units per request) against "
    f"a fixed service capacity of {_LQ_CAP}/tick; the recursion "
    "W_t = max(0, W_(t-1) + a_t - c) is computed EXACTLY, without "
    "iteration, as W_t = S_t - min(0, running_min(S)) over the "
    "cumulative sum S — two ordered windows over the bounded tick "
    "aggregate (window SUMs CAST at the window site, the documented "
    "HUGEINT trap). The per-tick backlog trace is what a capacity "
    "planner reads for queue-depth SLOs and drain times. Scale "
    "shape: one partial agg to the tick domain (bounded: "
    f"events/{_LQ_TICK}), then two windows over that bounded "
    "relation — the slo_burn_rate_windows shape. "
    "(No counterpart in reference main.go.)",
)
def serving_backlog_lindley(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t = ev.groupBy(
        F.expr(f"CAST(event_id div {_LQ_TICK} AS BIGINT)").alias("tick")
    ).agg(
        F.sum(_draw("ld", F.col("event_id")) % _LQ_WMOD)
        .cast("long")
        .alias("work")
    )
    wcum = Window.orderBy("tick")
    s = t.withColumn(
        "cum",
        F.sum(F.col("work") - _LQ_CAP).over(wcum).cast("long"),
    )
    s = s.withColumn(
        "rmin", F.min("cum").over(wcum).cast("long")
    )
    backlog = F.col("cum") - F.least(
        F.lit(0).cast("long"), F.col("rmin")
    )
    return s.select(
        "tick",
        "work",
        backlog.cast("long").alias("backlog"),
        (backlog > 0).alias("busy"),
    )


_SP_PBASE = 55    # acceptance prob floor (pct)
_SP_PMOD = 40     # + draw % 40 -> 55..94 pct per source
_SP_KS = (1, 2, 4, 8)
_SP_TARGET_COST = 1000  # target-model forward pass (milli-units)
_SP_DRAFT_COST = 120    # per drafted token (milli-units)


def _sp_accept_sql(i: int) -> str:
    d = _hs(f"'sd|' || CAST(doc_id AS VARCHAR) || '|' || '{i}'")
    return f"({d} % 100 < p_pct)"


_SP_RUN8_SQL = "CASE " + " ".join(
    f"WHEN NOT {_sp_accept_sql(i)} THEN {i}" for i in range(8)
) + " ELSE 8 END"


def _sp_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    p = (
        F.lit(_SP_PBASE) + _draw("sp", F.col("source")) % _SP_PMOD
    ).cast("long")
    base = docs.withColumn("p_pct", p)
    run = F.when(
        ~(
            _draw("sd", F.col("doc_id"), F.lit("0")) % 100
            < F.col("p_pct")
        ),
        0,
    )
    for i in range(1, 8):
        run = run.when(
            ~(
                _draw("sd", F.col("doc_id"), F.lit(str(i))) % 100
                < F.col("p_pct")
            ),
            i,
        )
    return base.withColumn("run8", run.otherwise(8).cast("long"))


_SQL_SP_PANEL = f"""sp AS (
      SELECT doc_id, source,
             55 + {_hs("'sp|' || source")} % {_SP_PMOD} AS p_pct
      FROM documents),
    spr AS (
      SELECT doc_id, source, p_pct, {_SP_RUN8_SQL} AS run8
      FROM sp)"""


@register(
    "speculative_serving_throughput",
    f"""
    WITH {_SQL_SP_PANEL}
    SELECT source,
           CAST(MIN(p_pct) AS BIGINT) AS accept_prob_pct,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(run8, 4)) AS BIGINT) AS accepted_positions,
           CAST(SUM(LEAST(run8, 4) + 1) * 1000000 // COUNT(*)
                AS BIGINT) AS mean_eff_tokens_micro,
           CAST(SUM(LEAST(run8, 4) + 1) * 1000000 * {_SP_TARGET_COST}
                // (COUNT(*) * ({_SP_TARGET_COST}
                    + 4 * {_SP_DRAFT_COST})) AS BIGINT)
             AS speedup_micro
    FROM spr GROUP BY source
    """,
    doc="Speculative-decoding serving throughput (k=4 drafts): each "
    "request's per-position draft-acceptance draws resolve to a "
    "leading-accept run length in ONE in-row CASE chain (no "
    "per-position explode), acceptance probability is a per-source "
    f"draw in [{_SP_PBASE}, {_SP_PBASE + _SP_PMOD - 1}]%%; per source "
    "the table prices mean effective tokens per target step and the "
    "NET speedup under a literal cost model (target pass "
    f"{_SP_TARGET_COST}, drafted token {_SP_DRAFT_COST} milli-units) "
    "— the empirical twin of round8b's closed-form "
    "speculative_decode_acceptance, now with per-request variance. "
    "Scale shape: narrow per-row expressions over one documents "
    "scan, one partial agg per source. "
    "(No counterpart in reference main.go.)",
)
def speculative_serving_throughput(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    spr = _sp_panel(spark, sf_dir)
    eff = F.expr("LEAST(run8, 4) + 1")
    return spr.groupBy("source").agg(
        F.min("p_pct").cast("long").alias("accept_prob_pct"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.expr("LEAST(run8, 4)"))
        .cast("long")
        .alias("accepted_positions"),
        F.expr(
            "CAST(SUM(LEAST(run8, 4) + 1) * 1000000 div COUNT(*) "
            "AS BIGINT)"
        ).alias("mean_eff_tokens_micro"),
        F.expr(
            f"CAST(SUM(LEAST(run8, 4) + 1) * 1000000 "
            f"* {_SP_TARGET_COST} div (COUNT(*) * "
            f"({_SP_TARGET_COST} + 4 * {_SP_DRAFT_COST})) AS BIGINT)"
        ).alias("speedup_micro"),
    )


@register(
    "speculative_draft_len_tuner",
    f"""
    WITH {_SQL_SP_PANEL},
    lad AS (
      SELECT source, k.k, LEAST(run8, k.k) + 1 AS eff
      FROM spr CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS k) k)
    SELECT source, CAST(k AS BIGINT) AS draft_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(eff) * 1000000 // COUNT(*) AS BIGINT)
             AS mean_eff_tokens_micro,
           CAST(SUM(eff) * 1000000 * {_SP_TARGET_COST}
                // (COUNT(*) * ({_SP_TARGET_COST}
                    + k * {_SP_DRAFT_COST})) AS BIGINT)
             AS speedup_micro
    FROM lad GROUP BY source, k
    """,
    doc="Speculative draft-length tuner: the same acceptance-run "
    "panel evaluated at draft lengths k in {1, 2, 4, 8} (run "
    "truncated to k in-row, 4-way literal explode), pricing mean "
    "effective tokens/step AGAINST the k-scaled draft cost — the "
    "per-source argmax over speedup_micro is the draft length a "
    "serving stack should configure; low-acceptance sources peak at "
    "short drafts, high-acceptance ones keep gaining to k=8. Scale "
    "shape: in-row 4-way literal explode over one documents scan, "
    "one partial agg to the (source, k) domain. "
    "(No counterpart in reference main.go.)",
)
def speculative_draft_len_tuner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    spr = _sp_panel(spark, sf_dir)
    lad = spr.select(
        "source",
        F.explode(F.array(*[F.lit(k) for k in _SP_KS])).alias("k"),
        "run8",
    ).select(
        "source", "k", F.expr("LEAST(run8, k) + 1").alias("eff")
    )
    per = lad.groupBy(
        "source", F.col("k").cast("long").alias("draft_len")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("eff").cast("long").alias("s_eff"),
    )
    return per.select(
        "source",
        "draft_len",
        "n_docs",
        F.expr("CAST(s_eff * 1000000 div n_docs AS BIGINT)").alias(
            "mean_eff_tokens_micro"
        ),
        F.expr(
            f"CAST(s_eff * 1000000 * {_SP_TARGET_COST} div "
            f"(n_docs * ({_SP_TARGET_COST} + draft_len "
            f"* {_SP_DRAFT_COST})) AS BIGINT)"
        ).alias("speedup_micro"),
    )


# ===========================================================================
# Wave 3: index freshness / staleness
# ===========================================================================

_IX_LAGS = (0, 100, 250, 500)  # staleness lags over the 1000-slot clock
_IX_ARRMOD = 1000              # arrival slot: draw % 1000
_IX_RS = (100, 200, 250, 500)  # rebuild-period ladder
_IX_MISS = 3                   # cost per doc-slot of staleness
_IX_CPD = 40                   # incremental per-doc re-index cost
_IX_FIXED = 60000              # fixed cost per rebuild


@register(
    "index_staleness_recall_curve",
    f"""
    WITH {_SQL_PANEL},
    {_SQL_SCORED},
    {_SQL_NREL},
    cand AS (
      SELECT q_id, doc_id, rel, sa,
             {_hs("'arr|' || CAST(doc_id AS VARCHAR)")} % {_IX_ARRMOD}
               AS arr
      FROM scored WHERE sa >= {_CUT_A}),
    lagged AS (
      SELECT l.lag, c.q_id, c.doc_id, c.rel, c.sa
      FROM cand c
      CROSS JOIN (SELECT unnest([0, 100, 250, 500]) AS lag) l
      WHERE c.arr < {_IX_ARRMOD} - l.lag),
    ranked AS (
      SELECT lag, q_id, rel,
             ROW_NUMBER() OVER (PARTITION BY lag, q_id
                                ORDER BY sa DESC, doc_id) AS rnk
      FROM lagged),
    perq AS (
      SELECT lag, q_id,
             CAST(COUNT(*) AS BIGINT) AS n_cand,
             CAST(SUM(CASE WHEN rel > 0 AND rnk <= 10
                      THEN 1 ELSE 0 END) AS BIGINT) AS h
      FROM ranked GROUP BY 1, 2)
    SELECT CAST(lag AS BIGINT) AS staleness_lag,
           CAST(SUM(n_cand) AS BIGINT) AS n_candidates,
           CAST(SUM(h) AS BIGINT) AS n_hits_top10,
           CAST(SUM(h * 1000000 // n.n_rel) // {_NQ} AS BIGINT)
             AS macro_recall10_micro
    FROM perq JOIN nrel n USING (q_id)
    GROUP BY 1
    """,
    doc="Index staleness-vs-recall curve: each document carries a "
    "drawn arrival slot on a 1000-slot clock; an index rebuilt with "
    "staleness lag L contains only docs arrived before 1000 - L, so "
    "retriever A's candidate lists shrink and re-rank over the "
    "indexed subset while recall@10 is judged against the CURRENT "
    "(full) gold set — the freshness axis of the ANN lifecycle the "
    "round-10 verdict queued (tuned: macro recall degrades 0.486 -> "
    "0.292 across the lag ladder). Scale shape: the 4-way lag ladder "
    "is an in-row literal explode over the CUTOFF-BOUNDED candidate "
    "relation; ranking windows partition by (lag, q_id) over those "
    "bounded subsets; the gold-count join broadcasts the 16-row "
    "nrel relation. (No counterpart in reference main.go.)",
)
def index_staleness_recall_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    p = _panel(spark, sf_dir)
    sc = _scored_from(p)
    cand = sc.filter(F.col("sa") >= _CUT_A).withColumn(
        "arr", _draw("arr", F.col("doc_id")) % _IX_ARRMOD
    )
    lagged = cand.select(
        "q_id",
        "doc_id",
        "rel",
        "sa",
        "arr",
        F.explode(F.array(*[F.lit(l) for l in _IX_LAGS])).alias("lag"),
    ).filter(F.col("arr") < _IX_ARRMOD - F.col("lag"))
    w = Window.partitionBy("lag", "q_id").orderBy(
        F.col("sa").desc(), "doc_id"
    )
    ranked = lagged.withColumn("rnk", F.row_number().over(w))
    perq = ranked.groupBy("lag", "q_id").agg(
        F.count("*").cast("long").alias("n_cand"),
        F.sum(
            F.when((F.col("rel") > 0) & (F.col("rnk") <= 10), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("h"),
    )
    joined = perq.join(F.broadcast(_nrel(p)), "q_id")
    return joined.groupBy(
        F.col("lag").cast("long").alias("staleness_lag")
    ).agg(
        F.sum("n_cand").cast("long").alias("n_candidates"),
        F.sum("h").cast("long").alias("n_hits_top10"),
        F.expr(
            f"CAST(SUM(h * 1000000 div n_rel) div {_NQ} AS BIGINT)"
        ).alias("macro_recall10_micro"),
    )


def _cadence_state(docs: DataFrame) -> DataFrame:
    """Per-period staleness/reindex sums — order-free aggregation the
    streaming twin holds as complete-mode state."""
    arr = (_draw("arr", F.col("doc_id")) % _IX_ARRMOD).alias("arr")
    lad = docs.select(arr).select(
        "arr",
        F.explode(F.array(*[F.lit(r) for r in _IX_RS])).alias(
            "rebuild_period"
        ),
    )
    return lad.groupBy(
        F.col("rebuild_period").cast("long").alias("rebuild_period")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.col("rebuild_period") - F.col("arr") % F.col("rebuild_period")
        )
        .cast("long")
        .alias("stale_slots"),
        F.sum(
            F.expr(
                f"{_IX_ARRMOD} div rebuild_period "
                "- arr div rebuild_period"
            )
        )
        .cast("long")
        .alias("reindex_ops"),
    )


def _cadence_finalize(state: DataFrame) -> DataFrame:
    n_rebuilds = f"{_IX_ARRMOD} div rebuild_period"
    build = f"reindex_ops * {_IX_CPD} + ({n_rebuilds}) * {_IX_FIXED}"
    return state.select(
        "rebuild_period",
        F.expr(f"CAST({n_rebuilds} AS BIGINT)").alias("n_rebuilds"),
        "n_docs",
        "stale_slots",
        F.expr(f"CAST(stale_slots * {_IX_MISS} AS BIGINT)").alias(
            "stale_cost"
        ),
        "reindex_ops",
        F.expr(f"CAST({build} AS BIGINT)").alias("build_cost"),
        F.expr(
            f"CAST(stale_slots * {_IX_MISS} + {build} AS BIGINT)"
        ).alias("total_cost"),
    )


_SQL_CADENCE = f"""
    WITH arrs AS (
      SELECT {_hs("'arr|' || CAST(doc_id AS VARCHAR)")} % {_IX_ARRMOD}
               AS arr
      FROM documents),
    state AS (
      SELECT CAST(r.rb AS BIGINT) AS rebuild_period,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(r.rb - arr % r.rb) AS BIGINT) AS stale_slots,
             CAST(SUM({_IX_ARRMOD} // r.rb - arr // r.rb) AS BIGINT)
               AS reindex_ops
      FROM arrs
      CROSS JOIN (SELECT unnest([100, 200, 250, 500]) AS rb) r
      GROUP BY 1)
    SELECT rebuild_period,
           CAST({_IX_ARRMOD} // rebuild_period AS BIGINT) AS n_rebuilds,
           n_docs, stale_slots,
           CAST(stale_slots * {_IX_MISS} AS BIGINT) AS stale_cost,
           reindex_ops,
           CAST(reindex_ops * {_IX_CPD}
                + ({_IX_ARRMOD} // rebuild_period) * {_IX_FIXED}
                AS BIGINT) AS build_cost,
           CAST(stale_slots * {_IX_MISS} + reindex_ops * {_IX_CPD}
                + ({_IX_ARRMOD} // rebuild_period) * {_IX_FIXED}
                AS BIGINT) AS total_cost
    FROM state
    """


@register(
    "index_rebuild_cadence_cost",
    _SQL_CADENCE,
    doc="Index rebuild-cadence cost model: rebuilds fire at every "
    "multiple of period R on the 1000-slot clock; a doc arriving at "
    "slot s waits R - (s % R) slots unindexed (staleness cost "
    f"{_IX_MISS}/doc-slot) and is re-processed by every later "
    f"rebuild ({_IX_ARRMOD}//R - s//R incremental ops at {_IX_CPD} "
    f"each, plus {_IX_FIXED} fixed per rebuild) — closed-form "
    "per-doc integer arithmetic, summed per R. The tuned curve has "
    "an interior optimum (R=250 at sf0.01): rebuild too often and "
    "build cost dominates, too rarely and staleness does — the "
    "capacity-planning complement to ivf_build_cost_model and the "
    "batch anchor for the streaming twin. Scale shape: in-row 4-way "
    "literal explode over one documents scan, one partial agg to "
    "the 4-row period domain, finalize on the bounded state. "
    "(No counterpart in reference main.go.)",
)
def index_rebuild_cadence_cost(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _cadence_finalize(
        _cadence_state(load(spark, sf_dir, "documents"))
    )


# ===========================================================================
# Streaming twins (batch state builder + finalize, batch oracle constant)
# ===========================================================================


@register(
    "stream_rejection_sampling",
    _SQL_REJECTION,
    doc="STREAMING twin of rejection_sampling_efficiency: the per-tau "
    "acceptance counters (count, sum-RM, sum-quality) are complete-"
    "mode streaming aggregation state — order-free sums, so any "
    "replay split converges to the batch table — and the mean "
    "divisions finalize on read from the bounded 5-row state; the "
    "oracle is the BATCH SQL verbatim. Rejection sampling IS a "
    "streaming data engine in production (completions arrive "
    "continuously; the acceptance dashboard must match the offline "
    "audit bit-for-bit). Scale shape: state is 5 counter rows; the "
    "stream pays the same in-row explode + partial agg the batch "
    "plan does. (No counterpart in reference main.go.)",
)
def stream_rejection_sampling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    state = _rs_state(load_stream(spark, sf_dir, "documents"))
    return _rs_finalize(run_replay(state, "complete", "stream_rs"))


@register(
    "stream_rebuild_cadence",
    _SQL_CADENCE,
    doc="STREAMING twin of index_rebuild_cadence_cost: the per-period "
    "staleness/reindex sums are complete-mode streaming aggregation "
    "state (order-free — any replay split converges), the cost "
    "arithmetic finalizes on read from the bounded 4-row state, and "
    "the oracle is the BATCH SQL verbatim — the cadence planner "
    "should watch the LIVE corpus as it grows, not a nightly "
    "snapshot. Scale shape: state is 4 counter rows; the stream pays "
    "the same in-row explode + partial agg the batch plan does. "
    "(No counterpart in reference main.go.)",
)
def stream_rebuild_cadence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    state = _cadence_state(load_stream(spark, sf_dir, "documents"))
    return _cadence_finalize(run_replay(state, "complete", "stream_cad"))


# ===========================================================================
# Wave 4: serving control + pipeline capacity (post-close sub-wave)
# ===========================================================================

from kinesis_log_watcher_spark.operators.dedup import md5_h15  # noqa: E402

_BP_TICK = 500                  # events per scheduling tick
_BP_BS = (1, 4, 8, 16, 32)      # batch-size ladder
_BP_SVC_A, _BP_SVC_B = 40, 12   # service_ms(B) = 40 + 12*B

_CW_WINDOWS = (32, 64, 96, 128)  # context-window token ladder

_RT_PBASE, _RT_PMOD = 5, 30      # fail pct = 5 + draw(event_type) % 30
_RT_MAX = 4                      # attempts cap

_SK_SHARDS = 32                  # shard count under audit
_SK_SALT = 8                     # salt fan-out for the hot tenant


@register(
    "batch_size_latency_pareto",
    f"""
    WITH t AS (
      SELECT CAST(event_id // {_BP_TICK} AS BIGINT) AS tick,
             CAST(SUM(CASE WHEN
                  {_hs("'ar|' || CAST(event_id AS VARCHAR)")} % 3 = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS a
      FROM events GROUP BY 1),
    lad AS (
      SELECT b.B, t.a, (t.a + b.B - 1) // b.B AS nb
      FROM t CROSS JOIN (SELECT unnest([1, 4, 8, 16, 32]) AS B) b)
    SELECT CAST(B AS BIGINT) AS batch_size,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(a) AS BIGINT) AS total_arrivals,
           CAST(SUM(nb) AS BIGINT) AS total_batches,
           CAST(SUM(a) * 1000000 // (SUM(nb) * B) AS BIGINT)
             AS fill_micro,
           CAST(SUM(a) * 1000000
                // (SUM(nb) * ({_BP_SVC_A} + {_BP_SVC_B} * B))
                AS BIGINT) AS throughput_micro,
           CAST(CAST({_BP_SVC_A} + {_BP_SVC_B} * B AS BIGINT)
                * (B - 1) * 1000000
                // (2 * B) AS BIGINT) AS wait_penalty_micro
    FROM lad GROUP BY B
    """,
    doc="Batch-size/latency pareto for a serving scheduler: per-tick "
    "drawn work arrivals batched at size B in {1,4,8,16,32} under a "
    f"linear service model ({_BP_SVC_A} + {_BP_SVC_B}*B ms/batch): "
    "batch fill and items-per-service-ms rise with B while the mean "
    "in-batch wait penalty (B-1)/2B of a service interval rises too "
    "— the table a latency-SLO capacity planner reads to pick the "
    "knee. All truncating integer micros, identical both dialects. "
    "Scale shape: one partial agg to the bounded tick domain, an "
    "in-row 5-way literal explode over it, one partial agg to the "
    "5-row ladder. (No counterpart in reference main.go.)",
)
def batch_size_latency_pareto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t = ev.groupBy(
        F.expr(f"CAST(event_id div {_BP_TICK} AS BIGINT)").alias("tick")
    ).agg(
        F.sum(
            F.when(_draw("ar", F.col("event_id")) % 3 == 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("a")
    )
    lad = t.select(
        "a",
        F.explode(F.array(*[F.lit(b) for b in _BP_BS])).alias("B"),
    ).withColumn("nb", F.expr("(a + B - 1) div B"))
    per = lad.groupBy(F.col("B").cast("long").alias("batch_size")).agg(
        F.count("*").cast("long").alias("n_ticks"),
        F.sum("a").cast("long").alias("total_arrivals"),
        F.sum("nb").cast("long").alias("total_batches"),
    )
    # micros referencing the group key compute AFTER the agg (a group
    # alias is not resolvable inside agg expressions)
    return per.select(
        "batch_size",
        "n_ticks",
        "total_arrivals",
        "total_batches",
        F.expr(
            "CAST(total_arrivals * 1000000 "
            "div (total_batches * batch_size) AS BIGINT)"
        ).alias("fill_micro"),
        F.expr(
            f"CAST(total_arrivals * 1000000 div (total_batches "
            f"* ({_BP_SVC_A} + {_BP_SVC_B} * batch_size)) AS BIGINT)"
        ).alias("throughput_micro"),
        F.expr(
            f"CAST(({_BP_SVC_A} + {_BP_SVC_B} * batch_size) "
            f"* (batch_size - 1) * 1000000 div (2 * batch_size) "
            "AS BIGINT)"
        ).alias("wait_penalty_micro"),
    )


@register(
    "context_window_overflow_audit",
    """
    WITH toks AS (
      SELECT n_chars // 4 + 1 AS tok FROM documents),
    lad AS (
      SELECT w.W, tok FROM toks
      CROSS JOIN (SELECT unnest([32, 64, 96, 128]) AS W) w)
    SELECT CAST(W AS BIGINT) AS window_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN tok > W THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overflow,
           CAST(SUM(CASE WHEN tok > W THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS overflow_micro,
           CAST(SUM(GREATEST(0, tok - W)) AS BIGINT)
             AS tokens_lost_truncating,
           CAST(SUM((tok + W - 1) // W) AS BIGINT) AS total_splits,
           CAST(SUM(W * ((tok + W - 1) // W) - tok) AS BIGINT)
             AS padding_waste_tokens
    FROM lad GROUP BY 1
    """,
    doc="Context-window overflow audit: per window size in "
    "{32,64,96,128} tokens (tok = n_chars//4+1, the classic chars/4 "
    "heuristic), the fraction of documents that overflow, tokens lost "
    "under TRUNCATION, chunk count under SPLITTING, and padding waste "
    "if each chunk ships in its own fixed-size slot — the three "
    "ingest-strategy costs (truncate vs split vs pad) priced on the "
    "real length distribution (88%/58%/33%/6% overflow across the "
    "tuned ladder). Scale shape: in-row 4-way literal explode over "
    "one narrow documents scan, one partial agg to the 4-row ladder. "
    "(No counterpart in reference main.go.)",
)
def context_window_overflow_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    lad = docs.select(
        F.expr("n_chars div 4 + 1").alias("tok"),
        F.explode(F.array(*[F.lit(w) for w in _CW_WINDOWS])).alias("W"),
    )
    over = F.when(F.col("tok") > F.col("W"), 1).otherwise(0)
    per = lad.groupBy("W").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(over).cast("long").alias("n_overflow"),
        F.sum(F.expr("GREATEST(0, tok - W)"))
        .cast("long")
        .alias("tokens_lost_truncating"),
        F.sum(F.expr("(tok + W - 1) div W"))
        .cast("long")
        .alias("total_splits"),
        F.sum(F.expr("W * ((tok + W - 1) div W) - tok"))
        .cast("long")
        .alias("padding_waste_tokens"),
    )
    return per.select(
        F.col("W").cast("long").alias("window_tokens"),
        "n_docs",
        "n_overflow",
        F.expr(
            "CAST(n_overflow * 1000000 div n_docs AS BIGINT)"
        ).alias("overflow_micro"),
        "tokens_lost_truncating",
        "total_splits",
        "padding_waste_tokens",
    )


def _rt_fail(i: int):
    return (
        _draw("rt", F.col("event_id"), F.lit(str(i))) % 100
        < F.col("p_pct")
    )


def _rt_fail_sql(i: int) -> str:
    d = _hs(f"'rt|' || CAST(event_id AS VARCHAR) || '|' || '{i}'")
    return f"({d} % 100 < p_pct)"


@register(
    "retry_backoff_economics",
    f"""
    WITH base AS (
      SELECT event_id, event_type,
             {_RT_PBASE} + {_hs("event_type")} % {_RT_PMOD} AS p_pct
      FROM events),
    tries AS (
      SELECT event_type, p_pct,
             CASE WHEN NOT {_rt_fail_sql(0)} THEN 1
                  WHEN NOT {_rt_fail_sql(1)} THEN 2
                  WHEN NOT {_rt_fail_sql(2)} THEN 3
                  ELSE {_RT_MAX} END AS attempts,
             CASE WHEN NOT {_rt_fail_sql(0)} OR NOT {_rt_fail_sql(1)}
                       OR NOT {_rt_fail_sql(2)} OR NOT {_rt_fail_sql(3)}
                  THEN 1 ELSE 0 END AS ok
      FROM base)
    SELECT event_type,
           CAST(MIN(p_pct) AS BIGINT) AS fail_prob_pct,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(SUM(ok) * 1000000 // COUNT(*) AS BIGINT)
             AS success_after_retries_micro,
           CAST(SUM(attempts) * 1000000 // COUNT(*) AS BIGINT)
             AS mean_attempts_micro,
           CAST(SUM(attempts - ok) AS BIGINT) AS wasted_attempts
    FROM tries GROUP BY event_type
    """,
    doc="Retry/backoff economics: each request fails an attempt with "
    "a per-event-type drawn probability (15-31%% on this corpus), "
    f"retries up to {_RT_MAX} attempts; the attempt count resolves in "
    "ONE in-row CASE chain (the speculative-run pattern — no "
    "per-attempt explode), and per event type the table prices "
    "post-retry success rate, mean attempts, and wasted (failed) "
    "attempts — the capacity overhead retries add to a serving "
    "fleet, and the number the retry-budget knob trades against "
    "availability. Scale shape: narrow per-row expressions over one "
    "events scan, one partial agg per event type. "
    "(No counterpart in reference main.go.)",
)
def retry_backoff_economics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        (F.lit(_RT_PBASE) + md5_h15(F.col("event_type")) % _RT_PMOD)
        .cast("long")
        .alias("p_pct"),
    )
    attempts = (
        F.when(~_rt_fail(0), 1)
        .when(~_rt_fail(1), 2)
        .when(~_rt_fail(2), 3)
        .otherwise(_RT_MAX)
    )
    ok = F.when(
        ~_rt_fail(0) | ~_rt_fail(1) | ~_rt_fail(2) | ~_rt_fail(3), 1
    ).otherwise(0)
    tries = base.select(
        "event_type",
        "p_pct",
        attempts.cast("long").alias("attempts"),
        ok.alias("ok"),
    )
    return tries.groupBy("event_type").agg(
        F.min("p_pct").cast("long").alias("fail_prob_pct"),
        F.count("*").cast("long").alias("n_requests"),
        F.expr(
            "CAST(SUM(ok) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("success_after_retries_micro"),
        F.expr(
            "CAST(SUM(attempts) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("mean_attempts_micro"),
        F.expr("CAST(SUM(attempts - ok) AS BIGINT)").alias(
            "wasted_attempts"
        ),
    )


@register(
    "shard_skew_salting_audit",
    f"""
    WITH keyed AS (
      SELECT CASE WHEN user_id % 10 = 0 THEN 'tenant_hot'
                  ELSE 'tenant_' || CAST(user_id AS VARCHAR)
             END AS tenant,
             event_id
      FROM events),
    strat AS (
      SELECT s.strategy,
             CASE WHEN s.strategy = 'hash'
                  THEN {_hs("tenant")} % {_SK_SHARDS}
                  ELSE {_hs(f"tenant || '|' || CAST(event_id % {_SK_SALT} AS VARCHAR)")}
                       % {_SK_SHARDS}
             END AS shard
      FROM keyed
      CROSS JOIN (SELECT unnest(['hash', 'salted']) AS strategy) s),
    per AS (
      SELECT strategy, shard, CAST(COUNT(*) AS BIGINT) AS n
      FROM strat GROUP BY 1, 2)
    SELECT strategy,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(MAX(n) AS BIGINT) AS max_load,
           CAST(SUM(n) // COUNT(*) AS BIGINT) AS mean_load,
           CAST(MAX(n) * 1000000 // (SUM(n) // COUNT(*)) AS BIGINT)
             AS skew_micro,
           CAST(MAX(n) * 1000000 // SUM(n) AS BIGINT)
             AS top_share_micro
    FROM per GROUP BY strategy
    """,
    doc="Shard-skew/salting audit: a planted hot tenant (10%% of "
    "rows collapse onto one key) hash-partitions into "
    f"{_SK_SHARDS} shards at 4.5x mean load; salting the key with an "
    f"event-derived %%{_SK_SALT} suffix spreads the hot tenant over "
    f"{_SK_SALT} shards and drops the skew to ~1.6x — the exact "
    "before/after table for THE decision this engine's own plan "
    "discipline is built on (skewed keys are where 100 TB shuffles "
    "die; AQE skew-join and manual salting are the remedies, and "
    "this measures what salting buys on real key distributions). "
    "Scale shape: in-row 2-way strategy explode, partial agg to the "
    "(strategy, shard) grid (64 rows), final agg to 2 rows. "
    "(No counterpart in reference main.go.)",
)
def shard_skew_salting_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(
            F.col("user_id") % 10 == 0, F.lit("tenant_hot")
        )
        .otherwise(
            F.concat(F.lit("tenant_"), F.col("user_id").cast("string"))
        )
        .alias("tenant"),
        "event_id",
    )
    strat = keyed.select(
        "tenant",
        "event_id",
        F.explode(F.array(F.lit("hash"), F.lit("salted"))).alias(
            "strategy"
        ),
    ).select(
        "strategy",
        F.when(
            F.col("strategy") == "hash",
            md5_h15(F.col("tenant")) % _SK_SHARDS,
        )
        .otherwise(
            md5_h15(
                F.concat(
                    F.col("tenant"),
                    F.lit("|"),
                    (F.col("event_id") % _SK_SALT).cast("string"),
                )
            )
            % _SK_SHARDS
        )
        .alias("shard"),
    )
    per = strat.groupBy("strategy", "shard").agg(
        F.count("*").cast("long").alias("n")
    )
    return per.groupBy("strategy").agg(
        F.count("*").cast("long").alias("n_shards"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_load"),
        F.expr("CAST(SUM(n) div COUNT(*) AS BIGINT)").alias("mean_load"),
        F.expr(
            "CAST(MAX(n) * 1000000 div (SUM(n) div COUNT(*)) AS BIGINT)"
        ).alias("skew_micro"),
        F.expr("CAST(MAX(n) * 1000000 div SUM(n) AS BIGINT)").alias(
            "top_share_micro"
        ),
    )
