"""Round-10 wave: retrieval / RAG-serving evaluation.

The one LLM-pipeline family the registry still lacked (round-9 verdict
item 3): offline evaluation of retrieval systems and the serving-side
decisions built on them — recall@k / MRR / nDCG@k over a planted
relevance panel, reciprocal-rank fusion, two-stage reranking,
interleaving A/B evaluation, cascade fallback, RAG context packing and
citation audits, plus streaming twins that run their batch twin's
state builder and register its oracle constant.

The synthetic retrieval panel (mirrors round9's model panel design):
16 queries with topics q_id % 8; each document's topic and its graded
relevance (0-3) to a matching query are pure md5-draw functions of the
row — identical expressions in both dialects, one narrow per-row
projection at any corpus size. Relevance is SPARSE (15% of topic-
matched docs, ~9 gold docs per query at 500 docs — dense relevance
saturated every metric at 1.0 in panel tuning). Two retrievers score
every (query, doc) pair in exact integer micros:

    score_A = rel * 170000 + draw % 700000   (sharper)
    score_B = rel *  90000 + draw % 750000   (noisier)

and each "returns" the docs above its score cutoff. Tuned panel
behavior at sf0.01: macro recall@10 ~0.44 (A) vs ~0.19 (B); A's first
relevant rank saturates at 1 (a decent prod retriever's MRR does);
B's spreads 1..94 with real misses — so fusion, reranking,
interleaving and cascade operators all have genuine work.

Scale posture shared by the wave: the panel is an in-row 16-way literal
explode over the documents scan (no join); candidate lists are a
cutoff filter over it; every ranking window partitions by q_id over
the CANDIDATE subset (bounded by the cutoff — at production scale the
candidate lists come from the ANN index family, llm.py:515, and are
top-k bounded by construction); every metric finalizes on a bounded
per-query or per-(query, retriever) relation. Exact integer micros
throughout — no float accumulation, no exp/log (nDCG's log2 discounts
are Python build-time literal constants, embedded identically in both
dialects).

(No counterpart in reference main.go — the reference is a tail-and-
render CLI; this wave is gate-mandated engine surface.)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.queries.base import load, load_stream, register
from kinesis_log_watcher_spark.sources.files import run_replay

# ===========================================================================
# The synthetic retrieval panel
# ===========================================================================

_NQ = 16  # queries in the eval panel
_NT = 8   # planted topics; query q is about topic q % 8
_PCT_REL = 15  # % of topic-matched docs that are actually gold

# retriever weight on the relevance signal / noise modulus / cutoff
_W_A, _N_A, _CUT_A = 170000, 700000, 350000
_W_B, _N_B, _CUT_B = 90000, 750000, 400000


def _hs(expr: str) -> str:
    """DuckDB twin of md5_h15 (first 15 md5 hex chars as int64)."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


_SQL_PANEL = f"""panel AS (
      SELECT q.q_id, d.doc_id, d.lang, d.source, d.n_chars,
             CASE WHEN {_hs("'rtp|' || CAST(d.doc_id AS VARCHAR)")} % {_NT}
                       = q.q_id % {_NT}
                   AND {_hs("'rs|' || CAST(q.q_id AS VARCHAR) || '|' "
                            "|| CAST(d.doc_id AS VARCHAR)")} % 100
                       < {_PCT_REL}
                  THEN 1 + {_hs("'rg|' || CAST(q.q_id AS VARCHAR) || '|' "
                                "|| CAST(d.doc_id AS VARCHAR)")} % 3
                  ELSE 0 END AS rel
      FROM documents d
      CROSS JOIN (SELECT unnest(range({_NQ})) AS q_id) q)"""

_SQL_SCORED = f"""scored AS (
      SELECT *,
             rel * {_W_A}
               + {_hs("'ra|' || CAST(q_id AS VARCHAR) || '|' "
                      "|| CAST(doc_id AS VARCHAR)")} % {_N_A} AS sa,
             rel * {_W_B}
               + {_hs("'rb|' || CAST(q_id AS VARCHAR) || '|' "
                      "|| CAST(doc_id AS VARCHAR)")} % {_N_B} AS sb
      FROM panel)"""

_SQL_RA = f"""ra AS (
      SELECT q_id, doc_id, lang, source, n_chars, rel, sa,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY sa DESC, doc_id) AS BIGINT) AS rnk
      FROM scored WHERE sa >= {_CUT_A})"""

_SQL_RB = f"""rb AS (
      SELECT q_id, doc_id, lang, source, n_chars, rel, sb,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY sb DESC, doc_id) AS BIGINT) AS rnk
      FROM scored WHERE sb >= {_CUT_B})"""

_SQL_NREL = """nrel AS (
      SELECT q_id,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel
      FROM panel GROUP BY q_id)"""

_SQL_CORE = f"{_SQL_PANEL},\n    {_SQL_SCORED},\n    {_SQL_RA},\n    {_SQL_RB},\n    {_SQL_NREL}"


def _draw(prefix: str, *cols) -> "F.Column":
    """md5 draw over prefix + '|'-joined columns, int64 (Spark side)."""
    parts = [F.lit(prefix)]
    for c in cols:
        parts.extend([F.lit("|"), c.cast("string")])
    return md5_h15(F.concat(*parts))


def _panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _panel_from(load(spark, sf_dir, "documents"))


def _panel_from(docs: DataFrame) -> DataFrame:
    """Panel columns from any documents relation (batch scan or
    stream) — the expressions are pure per-row functions, so the
    streaming twins reuse them verbatim."""
    d = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_NQ - 1))).alias("q_id"),
    )
    topic_d = _draw("rtp", F.col("doc_id")) % _NT
    sparse = _draw("rs", F.col("q_id"), F.col("doc_id")) % 100 < _PCT_REL
    grade = 1 + _draw("rg", F.col("q_id"), F.col("doc_id")) % 3
    rel = F.when(
        (topic_d == F.col("q_id") % _NT) & sparse, grade
    ).otherwise(F.lit(0))
    return d.select(
        F.col("q_id").cast("long").alias("q_id"),
        "doc_id",
        "lang",
        "source",
        "n_chars",
        rel.cast("long").alias("rel"),
    )


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scored_from(_panel(spark, sf_dir))


def _scored_from(p: DataFrame) -> DataFrame:
    sa = F.col("rel") * _W_A + _draw("ra", F.col("q_id"), F.col("doc_id")) % _N_A
    sb = F.col("rel") * _W_B + _draw("rb", F.col("q_id"), F.col("doc_id")) % _N_B
    return p.select(
        "*", sa.cast("long").alias("sa"), sb.cast("long").alias("sb")
    )


def _ranked(scored: DataFrame, score: str, cut: int) -> DataFrame:
    """One retriever's returned list: docs above its cutoff, ranked by
    score desc / doc_id asc (deterministic tie-break, both dialects).
    The window partitions by q_id over the cutoff-bounded candidate
    subset only — never the full corpus."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(), "doc_id")
    return (
        scored.filter(F.col(score) >= cut)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("q_id", "doc_id", "lang", "source", "n_chars", "rel",
                F.col(score).alias("score"), "rnk")
    )


def _nrel(panel: DataFrame) -> DataFrame:
    return panel.groupBy("q_id").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rel")
    )


def _both_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(retriever, q_id, doc_id, ..., rnk) for both systems, unioned."""
    sc = _scored(spark, sf_dir)
    ra = _ranked(sc, "sa", _CUT_A).withColumn("retriever", F.lit("A"))
    rb = _ranked(sc, "sb", _CUT_B).withColumn("retriever", F.lit("B"))
    return ra.unionByName(rb)


# nDCG discount table: round(1e6 / log2(rank+1)) for ranks 1..20,
# computed ONCE in Python at import time and embedded as literals in
# BOTH dialects — log2 at query time is not engine-stable (the r8/r9
# exact-integer discipline), a literal ladder is.
_DISC = {r: int(round(1_000_000 / math.log2(r + 1))) for r in range(1, 21)}


def _sql_disc(rank_expr: str, k: int) -> str:
    arms = " ".join(f"WHEN {r} THEN {_DISC[r]}" for r in range(1, k + 1))
    return f"CASE {rank_expr} {arms} ELSE 0 END"


def _disc_col(rank_col, k: int):
    expr = F.lit(0)
    for r in range(k, 0, -1):
        expr = F.when(rank_col == r, F.lit(_DISC[r])).otherwise(expr)
    return expr


_SQL_GAIN = "(CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END)"


def _gain_col():
    return (
        F.when(F.col("rel") == 0, 0)
        .when(F.col("rel") == 1, 1)
        .when(F.col("rel") == 2, 3)
        .otherwise(7)
    )


# ===========================================================================
# recall@k
# ===========================================================================


@register(
    "retrieval_recall_at_k",
    f"""
    WITH {_SQL_CORE},
    hits AS (
      SELECT q_id, 'A' AS retriever,
             CAST(SUM(CASE WHEN rnk <= 5 AND rel > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_5,
             CAST(SUM(CASE WHEN rnk <= 10 AND rel > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_10,
             CAST(SUM(CASE WHEN rnk <= 20 AND rel > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_20
      FROM ra GROUP BY q_id
      UNION ALL
      SELECT q_id, 'B' AS retriever,
             CAST(SUM(CASE WHEN rnk <= 5 AND rel > 0 THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(SUM(CASE WHEN rnk <= 10 AND rel > 0 THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(SUM(CASE WHEN rnk <= 20 AND rel > 0 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM rb GROUP BY q_id)
    SELECT h.q_id, h.retriever, n.n_rel, h.hits_5, h.hits_10, h.hits_20,
           CASE WHEN n.n_rel = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(h.hits_10 * 1000000 // n.n_rel AS BIGINT)
           END AS recall10_micro
    FROM hits h JOIN nrel n USING (q_id)
    """,
    doc="Recall@5/10/20 per query per retriever over the planted "
    "relevance panel: how much of each query's relevant set the "
    "returned list surfaces in its first k slots, in truncating "
    "integer micros. THE first-order retrieval metric. Scale shape: "
    "panel = in-row 16-way explode over the documents scan; candidate "
    "ranking windows partition by q_id over the cutoff-bounded subset; "
    "per-query relevant totals are ONE partial-agg shuffle to 16 rows, "
    "broadcast back onto the 32-row hits relation. "
    "(No counterpart in reference main.go.)",
)
def retrieval_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    lists = _both_lists(spark, sf_dir)
    hits = lists.groupBy("q_id", "retriever").agg(
        *[
            F.sum(
                F.when((F.col("rnk") <= k) & (F.col("rel") > 0), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"hits_{k}")
            for k in (5, 10, 20)
        ]
    )
    nrel = _nrel(_panel(spark, sf_dir))
    return hits.join(F.broadcast(nrel), "q_id").select(
        "q_id",
        "retriever",
        "n_rel",
        "hits_5",
        "hits_10",
        "hits_20",
        F.when(F.col("n_rel") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("hits_10 * 1000000 div n_rel"))
        .cast("long")
        .alias("recall10_micro"),
    )


# ===========================================================================
# MRR / first relevant rank
# ===========================================================================

_SQL_FIRST = """first AS (
      SELECT q_id, 'A' AS retriever,
             MIN(CASE WHEN rel > 0 THEN rnk END) AS frr
      FROM ra GROUP BY q_id
      UNION ALL
      SELECT q_id, 'B' AS retriever,
             MIN(CASE WHEN rel > 0 THEN rnk END)
      FROM rb GROUP BY q_id)"""


@register(
    "retrieval_mrr_first_rank",
    f"""
    WITH {_SQL_CORE},
    {_SQL_FIRST}
    SELECT q_id, retriever,
           CAST(COALESCE(frr, 0) AS BIGINT) AS first_rel_rank,
           CASE WHEN frr IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(1000000 // frr AS BIGINT)
           END AS rr_micro
    FROM first
    """,
    doc="First relevant rank and reciprocal rank per query per "
    "retriever (rank 0 = the list never surfaces a relevant doc): the "
    "MRR building block, with the reciprocal as truncating integer "
    "micros (1000000 // rank — exact in both engines, no float "
    "reciprocals). Scale shape: one partial-agg MIN per (query, "
    "retriever) over the cutoff-bounded candidate lists — 32 output "
    "rows regardless of corpus size. "
    "(No counterpart in reference main.go.)",
)
def retrieval_mrr_first_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    lists = _both_lists(spark, sf_dir)
    first = lists.groupBy("q_id", "retriever").agg(
        F.min(F.when(F.col("rel") > 0, F.col("rnk"))).alias("frr")
    )
    return first.select(
        "q_id",
        "retriever",
        F.coalesce(F.col("frr"), F.lit(0)).cast("long").alias(
            "first_rel_rank"
        ),
        F.when(F.col("frr").isNull(), F.lit(0).cast("long"))
        .otherwise(F.expr("1000000 div frr"))
        .cast("long")
        .alias("rr_micro"),
    )


# ===========================================================================
# nDCG@10
# ===========================================================================


@register(
    "retrieval_ndcg_at10",
    f"""
    WITH {_SQL_CORE},
    dcg AS (
      SELECT q_id, 'A' AS retriever,
             CAST(SUM({_SQL_GAIN} * {_sql_disc('rnk', 10)}) AS BIGINT)
               AS dcg10
      FROM ra WHERE rnk <= 10 GROUP BY q_id
      UNION ALL
      SELECT q_id, 'B' AS retriever,
             CAST(SUM({_SQL_GAIN} * {_sql_disc('rnk', 10)}) AS BIGINT)
      FROM rb WHERE rnk <= 10 GROUP BY q_id),
    ideal AS (
      SELECT q_id, rel,
             ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY rel DESC, doc_id) AS irnk
      FROM panel WHERE rel > 0),
    idcg AS (
      SELECT q_id,
             CAST(SUM({_SQL_GAIN} * {_sql_disc('irnk', 10)}) AS BIGINT)
               AS idcg10
      FROM ideal WHERE irnk <= 10 GROUP BY q_id)
    SELECT d.q_id, d.retriever, d.dcg10, i.idcg10,
           CASE WHEN i.idcg10 = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(d.dcg10 * 1000000 // i.idcg10 AS BIGINT)
           END AS ndcg10_micro
    FROM dcg d JOIN idcg i USING (q_id)
    """,
    doc="nDCG@10 per query per retriever: graded gains (2^rel - 1 as a "
    "literal ladder) x positional discounts round(1e6/log2(rank+1)) "
    "precomputed in Python and embedded as IDENTICAL literal CASE "
    "ladders in both dialects — query-time log2 is not engine-stable, "
    "literals are; the ideal DCG ranks the query's own relevant set. "
    "All-integer DCG sums (<= 7e7), truncating micro normalization. "
    "Scale shape: top-10 slices of the bounded candidate windows; the "
    "ideal ranking windows over panel rows with rel > 0 only (~1/8 of "
    "the per-query panel). (No counterpart in reference main.go.)",
)
def retrieval_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    lists = _both_lists(spark, sf_dir)
    dcg = (
        lists.filter(F.col("rnk") <= 10)
        .groupBy("q_id", "retriever")
        .agg(
            F.sum(_gain_col() * _disc_col(F.col("rnk"), 10))
            .cast("long")
            .alias("dcg10")
        )
    )
    panel = _panel(spark, sf_dir)
    w_ideal = Window.partitionBy("q_id").orderBy(
        F.col("rel").desc(), "doc_id"
    )
    idcg = (
        panel.filter(F.col("rel") > 0)
        .withColumn("irnk", F.row_number().over(w_ideal))
        .filter(F.col("irnk") <= 10)
        .groupBy("q_id")
        .agg(
            F.sum(_gain_col() * _disc_col(F.col("irnk"), 10))
            .cast("long")
            .alias("idcg10")
        )
    )
    return dcg.join(F.broadcast(idcg), "q_id").select(
        "q_id",
        "retriever",
        "dcg10",
        "idcg10",
        F.when(F.col("idcg10") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("dcg10 * 1000000 div idcg10"))
        .cast("long")
        .alias("ndcg10_micro"),
    )


# ===========================================================================
# recall curve (k sweep)
# ===========================================================================

_KS = (1, 2, 5, 10, 20, 50)


@register(
    "retrieval_recall_curve",
    f"""
    WITH {_SQL_CORE},
    hits AS (
      SELECT q_id, 'A' AS retriever, k.k,
             CAST(SUM(CASE WHEN rnk <= k.k AND rel > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits
      FROM ra CROSS JOIN (SELECT unnest([{', '.join(map(str, _KS))}]) AS k) k
      GROUP BY q_id, k.k
      UNION ALL
      SELECT q_id, 'B' AS retriever, k.k,
             CAST(SUM(CASE WHEN rnk <= k.k AND rel > 0 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM rb CROSS JOIN (SELECT unnest([{', '.join(map(str, _KS))}]) AS k) k
      GROUP BY q_id, k.k),
    grid AS (
      SELECT n.q_id, n.n_rel, r.retriever, k.k
      FROM nrel n
      CROSS JOIN (SELECT unnest([{', '.join(map(str, _KS))}]) AS k) k
      CROSS JOIN (SELECT unnest(['A', 'B']) AS retriever) r),
    perq AS (
      SELECT g.q_id, g.retriever, g.k,
             CASE WHEN g.n_rel = 0 THEN 0
                  ELSE COALESCE(h.hits, 0) * 1000000 // g.n_rel
             END AS recall_micro
      FROM grid g
      LEFT JOIN hits h ON h.q_id = g.q_id AND h.retriever = g.retriever
                       AND h.k = g.k)
    SELECT CAST(k AS BIGINT) AS k, retriever,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(recall_micro) // COUNT(*) AS BIGINT)
             AS mean_recall_micro,
           CAST(MIN(recall_micro) AS BIGINT) AS min_recall_micro,
           CAST(MAX(recall_micro) AS BIGINT) AS max_recall_micro
    FROM perq GROUP BY k, retriever
    """,
    doc="Macro-averaged recall curve: recall@k for k in (1,2,5,10,20,"
    "50) per retriever, averaged over the 16 panel queries with "
    "min/max spread — the capacity-planning curve that answers 'how "
    "deep must the candidate list be'. Truncating integer micros; "
    "queries with empty candidate lists count as recall 0 via the "
    "nrel-anchored grid, not silently dropped. Scale shape: the k "
    "sweep is an in-row 6-way literal explode on the already-bounded "
    "candidate lists (no join); the final agg lands on a 12-row "
    "domain. (No counterpart in reference main.go.)",
)
def retrieval_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ks = F.array(*[F.lit(k) for k in _KS])
    lists = _both_lists(spark, sf_dir)
    hits = (
        lists.withColumn("k", F.explode(ks))
        .groupBy("q_id", "retriever", "k")
        .agg(
            F.sum(
                F.when((F.col("rnk") <= F.col("k")) & (F.col("rel") > 0), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("hits")
        )
    )
    grid = (
        _nrel(_panel(spark, sf_dir))
        .withColumn("k", F.explode(ks))
        .withColumn("retriever", F.explode(F.array(F.lit("A"), F.lit("B"))))
    )
    perq = grid.join(
        F.broadcast(hits), ["q_id", "retriever", "k"], "left"
    ).select(
        "q_id",
        "retriever",
        "k",
        F.when(F.col("n_rel") == 0, F.lit(0))
        .otherwise(
            F.expr("coalesce(hits, 0) * 1000000 div n_rel")
        )
        .cast("long")
        .alias("recall_micro"),
    )
    return perq.groupBy(
        F.col("k").cast("long").alias("k"), "retriever"
    ).agg(
        F.count("*").cast("long").alias("n_queries"),
        F.expr("CAST(SUM(recall_micro) div COUNT(*) AS BIGINT)").alias(
            "mean_recall_micro"
        ),
        F.min("recall_micro").cast("long").alias("min_recall_micro"),
        F.max("recall_micro").cast("long").alias("max_recall_micro"),
    )


# ===========================================================================
# failure taxonomy
# ===========================================================================


@register(
    "retrieval_failure_taxonomy",
    f"""
    WITH {_SQL_CORE},
    {_SQL_FIRST},
    grid AS (
      SELECT n.q_id, r.retriever
      FROM nrel n CROSS JOIN (SELECT unnest(['A', 'B']) AS retriever) r),
    classed AS (
      SELECT g.q_id, g.retriever,
             CASE WHEN f.frr IS NULL OR f.frr > 10 THEN 'missed'
                  WHEN f.frr > 3 THEN 'shallow'
                  ELSE 'good' END AS failure_class
      FROM grid g
      LEFT JOIN first f ON f.q_id = g.q_id AND f.retriever = g.retriever)
    SELECT retriever, failure_class,
           CAST(COUNT(*) AS BIGINT) AS n_queries
    FROM classed GROUP BY retriever, failure_class
    """,
    doc="Per-retriever failure taxonomy over the panel queries: "
    "'missed' (no relevant doc in the top 10 — retrieval failed), "
    "'shallow' (first relevant at rank 4-10 — reranking would help), "
    "'good' (relevant in the top 3). The triage signal that tells an "
    "eval owner whether to fix the index or add a reranker. Queries "
    "with empty candidate lists class as 'missed' via the nrel-"
    "anchored grid. Scale shape: per-(query, retriever) MIN over "
    "bounded lists, then a 6-row classification agg. "
    "(No counterpart in reference main.go.)",
)
def retrieval_failure_taxonomy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lists = _both_lists(spark, sf_dir)
    first = lists.groupBy("q_id", "retriever").agg(
        F.min(F.when(F.col("rel") > 0, F.col("rnk"))).alias("frr")
    )
    grid = _nrel(_panel(spark, sf_dir)).withColumn(
        "retriever", F.explode(F.array(F.lit("A"), F.lit("B")))
    )
    classed = grid.join(
        F.broadcast(first), ["q_id", "retriever"], "left"
    ).select(
        "retriever",
        F.when(
            F.col("frr").isNull() | (F.col("frr") > 10), F.lit("missed")
        )
        .when(F.col("frr") > 3, F.lit("shallow"))
        .otherwise(F.lit("good"))
        .alias("failure_class"),
    )
    return classed.groupBy("retriever", "failure_class").agg(
        F.count("*").cast("long").alias("n_queries")
    )


# ===========================================================================
# candidate coverage (the streamable counting view; its streaming twin
# runs the same _cov_state/_cov_finalize against _SQL_COVERAGE)
# ===========================================================================


_SQL_COVERAGE = f"""
    WITH {_SQL_PANEL},
    {_SQL_SCORED},
    cov AS (
      SELECT q_id,
             CAST(SUM(CASE WHEN sa >= {_CUT_A} THEN 1 ELSE 0 END)
                  AS BIGINT) AS cand_a,
             CAST(SUM(CASE WHEN sb >= {_CUT_B} THEN 1 ELSE 0 END)
                  AS BIGINT) AS cand_b,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel,
             CAST(SUM(CASE WHEN sa >= {_CUT_A} AND rel > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS rel_a,
             CAST(SUM(CASE WHEN sb >= {_CUT_B} AND rel > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS rel_b
      FROM scored GROUP BY q_id)
    SELECT q_id, cand_a, cand_b, n_rel, rel_a, rel_b,
           CASE WHEN n_rel = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(rel_a * 1000000 // n_rel AS BIGINT)
           END AS coverage_a_micro,
           CASE WHEN n_rel = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(rel_b * 1000000 // n_rel AS BIGINT)
           END AS coverage_b_micro
    FROM cov
    """


@register(
    "retrieval_candidate_coverage",
    _SQL_COVERAGE,
    doc="Candidate-set coverage per query: how many docs each "
    "retriever's cutoff admits and what fraction of the relevant set "
    "survives it — the RECALL CEILING any downstream ranker inherits "
    "(rank-free, pure counting, so it streams: wave-4's "
    "stream_retrieval_coverage shares this oracle verbatim). Scale "
    "shape: one narrow projection over the panel explode + ONE "
    "partial-agg shuffle to the 16-query domain; no windows, no "
    "joins. (No counterpart in reference main.go.)",
)
def retrieval_candidate_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _cov_finalize(_cov_state(_panel(spark, sf_dir)))


def _cov_state(panel: DataFrame) -> DataFrame:
    """Per-query candidate/relevant counters — order-free sums, so the
    streaming twin holds this relation as complete-mode state."""
    return _scored_from(panel).groupBy("q_id").agg(
        F.sum(F.when(F.col("sa") >= _CUT_A, 1).otherwise(0))
        .cast("long")
        .alias("cand_a"),
        F.sum(F.when(F.col("sb") >= _CUT_B, 1).otherwise(0))
        .cast("long")
        .alias("cand_b"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rel"),
        F.sum(
            F.when((F.col("sa") >= _CUT_A) & (F.col("rel") > 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("rel_a"),
        F.sum(
            F.when((F.col("sb") >= _CUT_B) & (F.col("rel") > 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("rel_b"),
    )


def _cov_finalize(cov: DataFrame) -> DataFrame:
    micro = "CASE WHEN n_rel = 0 THEN CAST(0 AS BIGINT) ELSE CAST({} * 1000000 div n_rel AS BIGINT) END"
    return cov.select(
        "q_id",
        "cand_a",
        "cand_b",
        "n_rel",
        "rel_a",
        "rel_b",
        F.expr(micro.format("rel_a")).alias("coverage_a_micro"),
        F.expr(micro.format("rel_b")).alias("coverage_b_micro"),
    )


# ===========================================================================
# Reciprocal-rank fusion
# ===========================================================================

_SQL_FUSED = """contrib AS (
      SELECT q_id, doc_id, rel, 1000000000 // (60 + rnk) AS c FROM ra
      UNION ALL
      SELECT q_id, doc_id, rel, 1000000000 // (60 + rnk) FROM rb),
    fused AS (
      SELECT q_id, doc_id, MAX(rel) AS rel, CAST(SUM(c) AS BIGINT) AS rrf
      FROM contrib GROUP BY q_id, doc_id),
    franked AS (
      SELECT q_id, doc_id, rel,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
      FROM fused)"""

_SQL_RRF_PERQ = """ah AS (
      SELECT q_id, CAST(SUM(CASE WHEN rnk <= 10 AND rel > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS hits_a
      FROM ra GROUP BY q_id),
    bh AS (
      SELECT q_id, CAST(SUM(CASE WHEN rnk <= 10 AND rel > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS hits_b
      FROM rb GROUP BY q_id),
    fh AS (
      SELECT q_id, CAST(SUM(CASE WHEN rnk <= 10 AND rel > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS hits_rrf
      FROM franked GROUP BY q_id),
    perq AS (
      SELECT n.q_id, n.n_rel,
             COALESCE(ah.hits_a, 0) AS hits_a,
             COALESCE(bh.hits_b, 0) AS hits_b,
             COALESCE(fh.hits_rrf, 0) AS hits_rrf
      FROM nrel n
      LEFT JOIN ah ON ah.q_id = n.q_id
      LEFT JOIN bh ON bh.q_id = n.q_id
      LEFT JOIN fh ON fh.q_id = n.q_id)"""


def _fused_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF-fused ranking: per-list contributions 1e9 // (60 + rank)
    unioned then summed per (q, doc) — a union + ONE partial-agg
    shuffle, never an outer join of the two lists."""
    sc = _scored(spark, sf_dir)
    ra = _ranked(sc, "sa", _CUT_A)
    rb = _ranked(sc, "sb", _CUT_B)
    contrib = ra.select(
        "q_id", "doc_id", "rel",
        F.expr("1000000000 div (60 + rnk)").alias("c"),
    ).unionByName(
        rb.select(
            "q_id", "doc_id", "rel",
            F.expr("1000000000 div (60 + rnk)").alias("c"),
        )
    )
    fused = contrib.groupBy("q_id", "doc_id").agg(
        F.max("rel").alias("rel"), F.sum("c").cast("long").alias("rrf")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rrf").desc(), "doc_id")
    return fused.withColumn("rnk", F.row_number().over(w).cast("long"))


def _hits10(df: DataFrame, out: str) -> DataFrame:
    return df.groupBy("q_id").agg(
        F.sum(F.when((F.col("rnk") <= 10) & (F.col("rel") > 0), 1).otherwise(0))
        .cast("long")
        .alias(out)
    )


def _rrf_perq(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    ah = _hits10(_ranked(sc, "sa", _CUT_A), "hits_a")
    bh = _hits10(_ranked(sc, "sb", _CUT_B), "hits_b")
    fh = _hits10(_fused_lists(spark, sf_dir), "hits_rrf")
    nrel = _nrel(_panel(spark, sf_dir))
    return (
        nrel.join(F.broadcast(ah), "q_id", "left")
        .join(F.broadcast(bh), "q_id", "left")
        .join(F.broadcast(fh), "q_id", "left")
        .select(
            "q_id",
            "n_rel",
            F.coalesce("hits_a", F.lit(0)).cast("long").alias("hits_a"),
            F.coalesce("hits_b", F.lit(0)).cast("long").alias("hits_b"),
            F.coalesce("hits_rrf", F.lit(0)).cast("long").alias("hits_rrf"),
        )
    )


@register(
    "reciprocal_rank_fusion",
    f"""
    WITH {_SQL_CORE},
    {_SQL_FUSED},
    {_SQL_RRF_PERQ}
    SELECT q_id, n_rel, hits_a, hits_b, hits_rrf,
           CASE WHEN hits_rrf > GREATEST(hits_a, hits_b) THEN 'rrf'
                WHEN hits_rrf < GREATEST(hits_a, hits_b) THEN 'single'
                ELSE 'tie' END AS winner
    FROM perq
    """,
    doc="Reciprocal-rank fusion of the two retrievers (RRF, Cormack et "
    "al. 2009: score = sum 1/(60+rank), here exact 1e9//(60+rank) "
    "integer contributions): per query, recall@10 hits of each single "
    "system vs the fused list, with the per-query winner verdict. THE "
    "standard zero-training hybrid-retrieval combiner (BM25 + vector). "
    "Scale shape: fusion is a union of the two bounded candidate "
    "lists + ONE partial-agg shuffle per (q, doc) — never an outer "
    "join; the re-rank window stays inside the fused candidate "
    "subset; per-query metrics land on the 16-row domain via "
    "broadcast joins. (No counterpart in reference main.go.)",
)
def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    perq = _rrf_perq(spark, sf_dir)
    return perq.select(
        "q_id",
        "n_rel",
        "hits_a",
        "hits_b",
        "hits_rrf",
        F.when(
            F.col("hits_rrf") > F.greatest("hits_a", "hits_b"), F.lit("rrf")
        )
        .when(
            F.col("hits_rrf") < F.greatest("hits_a", "hits_b"),
            F.lit("single"),
        )
        .otherwise(F.lit("tie"))
        .alias("winner"),
    )


# ===========================================================================
# Exact sign test: fused vs best single retriever
# ===========================================================================

# factorials 0!..16! as literal ladders (16! = 2.09e13 < 2^53): the
# exact binomial sign-test tail needs C(n, w) = n! // (w! * (n-w)!),
# computed identically in both dialects from the same literals.
_FACT = [1]
for _i in range(1, 17):
    _FACT.append(_FACT[-1] * _i)


def _sql_fact(expr: str) -> str:
    arms = " ".join(f"WHEN {i} THEN {_FACT[i]}" for i in range(17))
    return f"(CASE {expr} {arms} ELSE 0 END)"


@register(
    "rrf_sign_test",
    f"""
    WITH {_SQL_CORE},
    {_SQL_FUSED},
    {_SQL_RRF_PERQ},
    verdicts AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN hits_rrf > GREATEST(hits_a, hits_b)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS wins,
             CAST(COALESCE(SUM(CASE WHEN hits_rrf < GREATEST(hits_a, hits_b)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS losses,
             CAST(COALESCE(SUM(CASE WHEN hits_rrf = GREATEST(hits_a, hits_b)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS ties
      FROM perq),
    tail AS (
      SELECT wins, losses, ties, wins + losses AS n_eff,
             w.w AS w
      FROM verdicts
      CROSS JOIN (SELECT unnest(range(0, {_NQ + 1})) AS w) w
      WHERE w.w >= wins AND w.w <= wins + losses)
    SELECT wins, losses, ties, CAST(n_eff AS BIGINT) AS n_eff,
           CAST(SUM({_sql_fact('n_eff')}
                    // ({_sql_fact('w')} * {_sql_fact('(n_eff - w)')}))
                * 1000000 // (1 << n_eff) AS BIGINT) AS p_one_sided_micro
    FROM tail GROUP BY wins, losses, ties, n_eff
    """,
    doc="Exact one-sided sign test on 'RRF beats the best single "
    "retriever' over the panel queries: wins/losses/ties on recall@10, "
    "then the exact binomial tail P(W >= wins | n_eff, p=1/2) with "
    "C(n, w) = n!//(w!(n-w)!) from a literal factorial ladder "
    "(16! < 2^53 — all-integer, no normal approximation, no floats). "
    "The statistically honest way to claim a fusion win on a small "
    "eval panel. Scale shape: everything after the per-query hits "
    "relation is arithmetic on ONE aggregate row; the tail explodes "
    "at most 17 w-values in-row. (No counterpart in reference "
    "main.go.)",
)
def rrf_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    perq = _rrf_perq(spark, sf_dir)
    best = F.greatest("hits_a", "hits_b")
    verdicts = perq.agg(
        F.coalesce(
            F.sum(F.when(F.col("hits_rrf") > best, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("wins"),
        F.coalesce(
            F.sum(F.when(F.col("hits_rrf") < best, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("losses"),
        F.coalesce(
            F.sum(F.when(F.col("hits_rrf") == best, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("ties"),
    ).withColumn("n_eff", F.col("wins") + F.col("losses"))
    tail = verdicts.select(
        "wins",
        "losses",
        "ties",
        "n_eff",
        F.explode(F.sequence(F.col("wins"), F.col("n_eff"))).alias("w"),
    )
    fact_n = _sql_fact("n_eff")
    fact_w = _sql_fact("w")
    fact_nw = _sql_fact("(n_eff - w)")
    return tail.groupBy("wins", "losses", "ties", "n_eff").agg(
        F.expr(
            f"CAST(SUM({fact_n} div ({fact_w} * {fact_nw})) * 1000000 "
            f"div (CAST(1 AS BIGINT) << n_eff) AS BIGINT)"
        ).alias("p_one_sided_micro")
    )


# ===========================================================================
# Two-stage rerank (retrieve-then-rerank)
# ===========================================================================

# the "cross-encoder" reranker: much sharper relevance signal, applied
# only to stage-1's top-20 (the whole point of two-stage serving)
_W_CE, _N_CE = 300000, 300000


@register(
    "two_stage_rerank_gain",
    f"""
    WITH {_SQL_CORE},
    stage1 AS (SELECT * FROM ra WHERE rnk <= 20),
    ce AS (
      SELECT q_id, doc_id, rel, rnk,
             rel * {_W_CE}
               + {_hs("'ce|' || CAST(q_id AS VARCHAR) || '|' "
                      "|| CAST(doc_id AS VARCHAR)")} % {_N_CE} AS ce_score
      FROM stage1),
    rr AS (
      SELECT q_id, doc_id, rel, rnk,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY ce_score DESC, doc_id) AS BIGINT) AS rnk2
      FROM ce),
    d1 AS (
      SELECT q_id,
             CAST(SUM(CASE WHEN rnk <= 5
                  THEN {_SQL_GAIN} * {_sql_disc('rnk', 5)} ELSE 0 END)
                  AS BIGINT) AS dcg5_stage1,
             CAST(SUM(CASE WHEN rnk2 <= 5
                  THEN {_SQL_GAIN} * {_sql_disc('rnk2', 5)} ELSE 0 END)
                  AS BIGINT) AS dcg5_rerank
      FROM rr GROUP BY q_id),
    ideal AS (
      SELECT q_id, rel,
             ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY rel DESC, doc_id) AS irnk
      FROM panel WHERE rel > 0),
    idcg AS (
      SELECT q_id,
             CAST(SUM({_SQL_GAIN} * {_sql_disc('irnk', 5)}) AS BIGINT)
               AS idcg5
      FROM ideal WHERE irnk <= 5 GROUP BY q_id)
    SELECT d.q_id, d.dcg5_stage1, d.dcg5_rerank, i.idcg5,
           CASE WHEN i.idcg5 = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(d.dcg5_stage1 * 1000000 // i.idcg5 AS BIGINT)
           END AS ndcg5_stage1_micro,
           CASE WHEN i.idcg5 = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(d.dcg5_rerank * 1000000 // i.idcg5 AS BIGINT)
           END AS ndcg5_rerank_micro,
           CASE WHEN i.idcg5 = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((d.dcg5_rerank - d.dcg5_stage1) * 1000000
                          // i.idcg5 AS BIGINT)
           END AS gain_micro
    FROM d1 d JOIN idcg i USING (q_id)
    """,
    doc="Two-stage retrieval serving (retrieve-then-rerank, the "
    "standard RAG architecture): a sharp 'cross-encoder' score "
    "(rel x 300000 + draw % 300000) re-orders ONLY retriever A's "
    "top-20, and the query reports nDCG@5 before/after plus the "
    "per-query gain (can be negative — reranker noise on an already-"
    "good list). Gains/discounts are the wave's literal ladders; the "
    "truncating gain_micro uses the SAME idcg denominator as both "
    "nDCG terms so gain = rerank - stage1 exactly. Scale shape: the "
    "reranker touches 20 rows per query BY CONSTRUCTION (that's the "
    "two-stage economics); windows partition by q_id over those 20. "
    "(No counterpart in reference main.go.)",
)
def two_stage_rerank_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    stage1 = _ranked(sc, "sa", _CUT_A).filter(F.col("rnk") <= 20)
    ce = stage1.withColumn(
        "ce_score",
        (
            F.col("rel") * _W_CE
            + _draw("ce", F.col("q_id"), F.col("doc_id")) % _N_CE
        ).cast("long"),
    )
    w2 = Window.partitionBy("q_id").orderBy(
        F.col("ce_score").desc(), "doc_id"
    )
    rr = ce.withColumn("rnk2", F.row_number().over(w2).cast("long"))
    d1 = rr.groupBy("q_id").agg(
        F.sum(
            F.when(
                F.col("rnk") <= 5,
                _gain_col() * _disc_col(F.col("rnk"), 5),
            ).otherwise(0)
        )
        .cast("long")
        .alias("dcg5_stage1"),
        F.sum(
            F.when(
                F.col("rnk2") <= 5,
                _gain_col() * _disc_col(F.col("rnk2"), 5),
            ).otherwise(0)
        )
        .cast("long")
        .alias("dcg5_rerank"),
    )
    panel = _panel(spark, sf_dir)
    w_ideal = Window.partitionBy("q_id").orderBy(
        F.col("rel").desc(), "doc_id"
    )
    idcg = (
        panel.filter(F.col("rel") > 0)
        .withColumn("irnk", F.row_number().over(w_ideal))
        .filter(F.col("irnk") <= 5)
        .groupBy("q_id")
        .agg(
            F.sum(_gain_col() * _disc_col(F.col("irnk"), 5))
            .cast("long")
            .alias("idcg5")
        )
    )
    z = F.lit(0).cast("long")
    return d1.join(F.broadcast(idcg), "q_id").select(
        "q_id",
        "dcg5_stage1",
        "dcg5_rerank",
        "idcg5",
        F.when(F.col("idcg5") == 0, z)
        .otherwise(F.expr("dcg5_stage1 * 1000000 div idcg5"))
        .cast("long")
        .alias("ndcg5_stage1_micro"),
        F.when(F.col("idcg5") == 0, z)
        .otherwise(F.expr("dcg5_rerank * 1000000 div idcg5"))
        .cast("long")
        .alias("ndcg5_rerank_micro"),
        F.when(F.col("idcg5") == 0, z)
        .otherwise(
            F.expr("(dcg5_rerank - dcg5_stage1) * 1000000 div idcg5")
        )
        .cast("long")
        .alias("gain_micro"),
    )


# ===========================================================================
# Balanced interleaving A/B evaluation
# ===========================================================================


@register(
    "interleaving_ab_eval",
    f"""
    WITH {_SQL_CORE},
    tops AS (
      SELECT q_id, doc_id, rel, rnk AS rnk_a, NULL AS rnk_b
      FROM ra WHERE rnk <= 10
      UNION ALL
      SELECT q_id, doc_id, rel, NULL, rnk FROM rb WHERE rnk <= 10),
    merged AS (
      SELECT q_id, doc_id, MAX(rel) AS rel,
             COALESCE(MIN(rnk_a), 999) AS rnk_a,
             COALESCE(MIN(rnk_b), 999) AS rnk_b
      FROM tops GROUP BY q_id, doc_id),
    teamed AS (
      SELECT *,
             CASE WHEN rnk_a < rnk_b THEN 'A'
                  WHEN rnk_b < rnk_a THEN 'B'
                  WHEN q_id % 2 = 0 THEN 'A' ELSE 'B' END AS team,
             LEAST(rnk_a, rnk_b) * 10
               + CASE WHEN (q_id % 2 = 0 AND rnk_a <= rnk_b)
                        OR (q_id % 2 = 1 AND rnk_b <= rnk_a)
                      THEN 0 ELSE 1 END AS sortkey
      FROM merged),
    inter AS (
      SELECT q_id, doc_id, rel, team,
             ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY sortkey, doc_id) AS irank
      FROM teamed),
    clicked AS (
      SELECT q_id, doc_id, rel, team, irank,
             CASE WHEN rel >= 2
                   AND {_hs("'ck|' || CAST(q_id AS VARCHAR) || '|' "
                            "|| CAST(doc_id AS VARCHAR)")} % 100
                       < 25 * rel
                  THEN 1 ELSE 0 END AS clicked
      FROM inter WHERE irank <= 10)
    SELECT q_id,
           CAST(COUNT(*) AS BIGINT) AS n_interleaved,
           CAST(SUM(CASE WHEN team = 'A' THEN clicked ELSE 0 END)
                AS BIGINT) AS clicks_a,
           CAST(SUM(CASE WHEN team = 'B' THEN clicked ELSE 0 END)
                AS BIGINT) AS clicks_b,
           CASE WHEN SUM(CASE WHEN team = 'A' THEN clicked ELSE 0 END)
                     > SUM(CASE WHEN team = 'B' THEN clicked ELSE 0 END)
                THEN 'A'
                WHEN SUM(CASE WHEN team = 'A' THEN clicked ELSE 0 END)
                     < SUM(CASE WHEN team = 'B' THEN clicked ELSE 0 END)
                THEN 'B' ELSE 'tie' END AS winner
    FROM clicked GROUP BY q_id
    """,
    doc="Balanced-interleaving online A/B evaluation (Joachims 2003 "
    "family): both retrievers' top-10s merge into one interleaved "
    "list (position = better single-system rank, leader alternates by "
    "query parity on ties), each shown doc credits the system that "
    "ranked it better, and a deterministic graded click model "
    "(P(click) = 25% x rel for rel >= 2, as an md5 draw) yields "
    "per-query click credits and the interleaving winner — the "
    "serving-side eval that needs no relevance labels in production "
    "(here the planted panel doubles as the click ground truth). "
    "Scale shape: union of two 10-row-per-query lists + one partial "
    "agg + one bounded window; 16 output rows. "
    "(No counterpart in reference main.go.)",
)
def interleaving_ab_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    ra = _ranked(sc, "sa", _CUT_A).filter(F.col("rnk") <= 10)
    rb = _ranked(sc, "sb", _CUT_B).filter(F.col("rnk") <= 10)
    tops = ra.select(
        "q_id", "doc_id", "rel",
        F.col("rnk").alias("rnk_a"),
        F.lit(None).cast("long").alias("rnk_b"),
    ).unionByName(
        rb.select(
            "q_id", "doc_id", "rel",
            F.lit(None).cast("long").alias("rnk_a"),
            F.col("rnk").alias("rnk_b"),
        )
    )
    merged = tops.groupBy("q_id", "doc_id").agg(
        F.max("rel").alias("rel"),
        F.coalesce(F.min("rnk_a"), F.lit(999)).alias("rnk_a"),
        F.coalesce(F.min("rnk_b"), F.lit(999)).alias("rnk_b"),
    )
    a_leads = F.col("q_id") % 2 == 0
    team = (
        F.when(F.col("rnk_a") < F.col("rnk_b"), F.lit("A"))
        .when(F.col("rnk_b") < F.col("rnk_a"), F.lit("B"))
        .otherwise(F.when(a_leads, F.lit("A")).otherwise(F.lit("B")))
    )
    pref = F.when(
        (a_leads & (F.col("rnk_a") <= F.col("rnk_b")))
        | (~a_leads & (F.col("rnk_b") <= F.col("rnk_a"))),
        F.lit(0),
    ).otherwise(F.lit(1))
    sortkey = F.least("rnk_a", "rnk_b") * 10 + pref
    teamed = merged.select(
        "q_id", "doc_id", "rel",
        team.alias("team"), sortkey.alias("sortkey"),
    )
    w = Window.partitionBy("q_id").orderBy("sortkey", "doc_id")
    inter = teamed.withColumn("irank", F.row_number().over(w)).filter(
        F.col("irank") <= 10
    )
    clicked = inter.withColumn(
        "clicked",
        F.when(
            (F.col("rel") >= 2)
            & (
                _draw("ck", F.col("q_id"), F.col("doc_id")) % 100
                < 25 * F.col("rel")
            ),
            1,
        ).otherwise(0),
    )
    ca = F.sum(F.when(F.col("team") == "A", F.col("clicked")).otherwise(0))
    cb = F.sum(F.when(F.col("team") == "B", F.col("clicked")).otherwise(0))
    return clicked.groupBy("q_id").agg(
        F.count("*").cast("long").alias("n_interleaved"),
        ca.cast("long").alias("clicks_a"),
        cb.cast("long").alias("clicks_b"),
        F.when(ca > cb, F.lit("A"))
        .when(ca < cb, F.lit("B"))
        .otherwise(F.lit("tie"))
        .alias("winner"),
    )


# ===========================================================================
# Cascade fallback (cheap retriever first, expensive on low confidence)
# ===========================================================================

_CONF_T = 1050000


@register(
    "cascade_fallback_eval",
    f"""
    WITH {_SQL_CORE},
    conf AS (
      SELECT q_id, CAST(MAX(sa) AS BIGINT) AS conf_a FROM ra GROUP BY q_id),
    ah AS (
      SELECT q_id, CAST(SUM(CASE WHEN rnk <= 10 AND rel > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS hits_a
      FROM ra GROUP BY q_id),
    bh AS (
      SELECT q_id, CAST(SUM(CASE WHEN rnk <= 10 AND rel > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS hits_b
      FROM rb GROUP BY q_id),
    casc AS (
      SELECT n.q_id, n.n_rel,
             COALESCE(c.conf_a, 0) AS conf_a,
             CASE WHEN COALESCE(c.conf_a, 0) < {_CONF_T}
                  THEN 1 ELSE 0 END AS is_fallback,
             COALESCE(ah.hits_a, 0) AS hits_a,
             COALESCE(bh.hits_b, 0) AS hits_b
      FROM nrel n
      LEFT JOIN conf c ON c.q_id = n.q_id
      LEFT JOIN ah ON ah.q_id = n.q_id
      LEFT JOIN bh ON bh.q_id = n.q_id)
    SELECT q_id, n_rel, conf_a, CAST(is_fallback AS BIGINT) AS is_fallback,
           hits_a, hits_b,
           CAST(CASE WHEN is_fallback = 1 THEN hits_b ELSE hits_a END
                AS BIGINT) AS hits_cascade
    FROM casc
    """,
    doc="Serving cascade: route every query to cheap retriever A "
    "first; when A's top score (its confidence) is below the tuned "
    "threshold {T}, fall back to expensive retriever B — the standard "
    "cost/quality trade in serving stacks. Per query: A's confidence, "
    "the routing decision, and recall@10 hits under A, B, and the "
    "cascade (at the tuned panel ~7/16 queries fall back). Scale "
    "shape: three per-query partial aggs over bounded lists, "
    "broadcast-joined onto the 16-row query domain. "
    "(No counterpart in reference main.go.)".format(T=_CONF_T),
)
def cascade_fallback_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    ra = _ranked(sc, "sa", _CUT_A)
    rb = _ranked(sc, "sb", _CUT_B)
    conf = ra.groupBy("q_id").agg(
        F.max("score").cast("long").alias("conf_a")
    )
    ah = _hits10(ra, "hits_a")
    bh = _hits10(rb, "hits_b")
    nrel = _nrel(_panel(spark, sf_dir))
    casc = (
        nrel.join(F.broadcast(conf), "q_id", "left")
        .join(F.broadcast(ah), "q_id", "left")
        .join(F.broadcast(bh), "q_id", "left")
        .select(
            "q_id",
            "n_rel",
            F.coalesce("conf_a", F.lit(0)).cast("long").alias("conf_a"),
            F.when(
                F.coalesce("conf_a", F.lit(0)) < _CONF_T, F.lit(1)
            )
            .otherwise(F.lit(0))
            .alias("is_fallback"),
            F.coalesce("hits_a", F.lit(0)).cast("long").alias("hits_a"),
            F.coalesce("hits_b", F.lit(0)).cast("long").alias("hits_b"),
        )
    )
    return casc.select(
        "q_id",
        "n_rel",
        "conf_a",
        F.col("is_fallback").cast("long").alias("is_fallback"),
        "hits_a",
        "hits_b",
        F.when(F.col("is_fallback") == 1, F.col("hits_b"))
        .otherwise(F.col("hits_a"))
        .cast("long")
        .alias("hits_cascade"),
    )


# ===========================================================================
# RAG context packing
# ===========================================================================

_CTX_BUDGET = 400  # tokens


@register(
    "rag_context_packing",
    f"""
    WITH {_SQL_CORE},
    toks AS (
      SELECT q_id, doc_id, rel, rnk,
             CAST(n_chars // 5 + 1 AS BIGINT) AS tok
      FROM ra),
    cum AS (
      SELECT *,
             CAST(SUM(tok) OVER (PARTITION BY q_id ORDER BY rnk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cumtok
      FROM toks),
    packed AS (
      SELECT q_id,
             CAST(COUNT(*) AS BIGINT) AS n_packed,
             CAST(MAX(cumtok) AS BIGINT) AS tokens_packed,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel_packed,
             CAST(MAX(rel) AS BIGINT) AS best_rel_packed
      FROM cum WHERE cumtok <= {_CTX_BUDGET} GROUP BY q_id)
    SELECT n.q_id, n.n_rel,
           COALESCE(p.n_packed, 0) AS n_packed,
           COALESCE(p.tokens_packed, 0) AS tokens_packed,
           COALESCE(p.n_rel_packed, 0) AS n_rel_packed,
           COALESCE(p.best_rel_packed, 0) AS best_rel_packed
    FROM nrel n LEFT JOIN packed p ON p.q_id = n.q_id
    """,
    doc="RAG context packing: stuff retriever A's ranked list into a "
    f"{_CTX_BUDGET}-token context window in rank order, stopping at "
    "the first overflow (prefix packing — the standard context-"
    "stuffing policy); per query, how many docs and tokens fit and "
    "how much relevance made it in. Token counts are n_chars//5 + 1 "
    "(exact integer chars-per-token heuristic; the BPE-true path is "
    "operators/bpe.py). The cumulative-token window SUM is CAST at "
    "the window site (DuckDB window SUM over BIGINT yields HUGEINT). "
    "Scale shape: one bounded per-query running-sum window over the "
    "candidate list + one partial agg to 16 rows. "
    "(No counterpart in reference main.go.)",
)
def rag_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    ra = _ranked(sc, "sa", _CUT_A)
    toks = ra.withColumn(
        "tok", F.expr("CAST(n_chars div 5 + 1 AS BIGINT)")
    )
    w = (
        Window.partitionBy("q_id")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cumtok", F.sum("tok").over(w).cast("long"))
    packed = (
        cum.filter(F.col("cumtok") <= _CTX_BUDGET)
        .groupBy("q_id")
        .agg(
            F.count("*").cast("long").alias("n_packed"),
            F.max("cumtok").cast("long").alias("tokens_packed"),
            F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_rel_packed"),
            F.max("rel").cast("long").alias("best_rel_packed"),
        )
    )
    nrel = _nrel(_panel(spark, sf_dir))
    return nrel.join(F.broadcast(packed), "q_id", "left").select(
        "q_id",
        "n_rel",
        F.coalesce("n_packed", F.lit(0)).cast("long").alias("n_packed"),
        F.coalesce("tokens_packed", F.lit(0))
        .cast("long")
        .alias("tokens_packed"),
        F.coalesce("n_rel_packed", F.lit(0))
        .cast("long")
        .alias("n_rel_packed"),
        F.coalesce("best_rel_packed", F.lit(0))
        .cast("long")
        .alias("best_rel_packed"),
    )


# ===========================================================================
# Citation precision/recall
# ===========================================================================


@register(
    "rag_citation_precision_recall",
    f"""
    WITH {_SQL_CORE},
    gold AS (
      SELECT q_id,
             CAST(SUM(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gold
      FROM panel GROUP BY q_id),
    cited AS (
      SELECT q_id,
             CAST(COUNT(*) AS BIGINT) AS n_cited,
             CAST(SUM(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_good
      FROM ra WHERE rnk <= 5 GROUP BY q_id)
    SELECT g.q_id, g.n_gold,
           COALESCE(c.n_cited, 0) AS n_cited,
           COALESCE(c.n_good, 0) AS n_good,
           CASE WHEN COALESCE(c.n_cited, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(c.n_good * 1000000 // c.n_cited AS BIGINT)
           END AS cite_precision_micro,
           CASE WHEN g.n_gold = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(COALESCE(c.n_good, 0) * 1000000 // g.n_gold
                          AS BIGINT)
           END AS cite_recall_micro
    FROM gold g LEFT JOIN cited c ON c.q_id = g.q_id
    """,
    doc="Citation audit for a RAG answer that cites its top-5 "
    "retrieved docs: precision (how many citations actually support — "
    "rel >= 2 — the query) and recall against the query's full "
    "support set. Low precision = hallucinated-attribution risk; low "
    "recall = answer argued from partial evidence. Truncating integer "
    "micros with zero-denominator guards. Scale shape: two per-query "
    "partial aggs (one over the 5-row citation slice, one over the "
    "panel), joined on the 16-row query domain. "
    "(No counterpart in reference main.go.)",
)
def rag_citation_precision_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    panel = _panel(spark, sf_dir)
    gold = panel.groupBy("q_id").agg(
        F.sum(F.when(F.col("rel") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_gold")
    )
    sc = _scored(spark, sf_dir)
    cited = (
        _ranked(sc, "sa", _CUT_A)
        .filter(F.col("rnk") <= 5)
        .groupBy("q_id")
        .agg(
            F.count("*").cast("long").alias("n_cited"),
            F.sum(F.when(F.col("rel") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_good"),
        )
    )
    z = F.lit(0).cast("long")
    return gold.join(F.broadcast(cited), "q_id", "left").select(
        "q_id",
        "n_gold",
        F.coalesce("n_cited", F.lit(0)).cast("long").alias("n_cited"),
        F.coalesce("n_good", F.lit(0)).cast("long").alias("n_good"),
        F.when(F.coalesce("n_cited", F.lit(0)) == 0, z)
        .otherwise(F.expr("n_good * 1000000 div n_cited"))
        .cast("long")
        .alias("cite_precision_micro"),
        F.when(F.col("n_gold") == 0, z)
        .otherwise(F.expr("coalesce(n_good, 0) * 1000000 div n_gold"))
        .cast("long")
        .alias("cite_recall_micro"),
    )


# ===========================================================================
# Context redundancy
# ===========================================================================


@register(
    "context_redundancy_audit",
    f"""
    WITH {_SQL_CORE},
    bysrc AS (
      SELECT q_id, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM ra WHERE rnk <= 10 GROUP BY q_id, source)
    SELECT q_id,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(MAX(c) AS BIGINT) AS max_single_source,
           CAST((SUM(c) - COUNT(*)) * 1000000 // SUM(c) AS BIGINT)
             AS redundancy_micro
    FROM bysrc GROUP BY q_id
    """,
    doc="Context redundancy audit over retriever A's top-10: docs per "
    "distinct source, the largest single-source block, and a "
    "redundancy ratio (0 = every doc from a different source) — "
    "over-concentration in one source wastes context-window tokens on "
    "near-duplicate evidence (the near-dup-aware variant would chain "
    "the MinHash family, operators/dedup.py). Scale shape: two "
    "stacked partial aggs, (q, source) then q, both on bounded "
    "domains. (No counterpart in reference main.go.)",
)
def context_redundancy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sc = _scored(spark, sf_dir)
    bysrc = (
        _ranked(sc, "sa", _CUT_A)
        .filter(F.col("rnk") <= 10)
        .groupBy("q_id", "source")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return bysrc.groupBy("q_id").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_sources"),
        F.max("c").cast("long").alias("max_single_source"),
        F.expr(
            "CAST((SUM(c) - COUNT(*)) * 1000000 div SUM(c) AS BIGINT)"
        ).alias("redundancy_micro"),
    )


# ===========================================================================
# Per-language retrieval parity
# ===========================================================================


@register(
    "retrieval_per_lang_parity",
    f"""
    WITH {_SQL_CORE},
    rel_lang AS (
      SELECT lang,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel
      FROM panel GROUP BY lang),
    hit_lang AS (
      SELECT lang,
             CAST(SUM(CASE WHEN rel > 0 AND rnk <= 20 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM ra GROUP BY lang)
    SELECT r.lang, r.n_rel, COALESCE(h.n_hit, 0) AS n_hit,
           CASE WHEN r.n_rel = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(COALESCE(h.n_hit, 0) * 1000000 // r.n_rel
                          AS BIGINT)
           END AS recall20_micro
    FROM rel_lang r LEFT JOIN hit_lang h ON h.lang = r.lang
    """,
    doc="Retrieval parity by document language: recall@20 of retriever "
    "A's lists computed per lang over the pooled panel — the fairness "
    "slice that catches an index or scorer that under-serves a "
    "language (the round-8b auc_fairness_by_lang discipline, applied "
    "to retrieval). Scale shape: two partial aggs keyed by the "
    "5-value lang domain; no windows beyond the shared ranked lists. "
    "(No counterpart in reference main.go.)",
)
def retrieval_per_lang_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    panel = _panel(spark, sf_dir)
    rel_lang = panel.groupBy("lang").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rel")
    )
    sc = _scored(spark, sf_dir)
    hit_lang = (
        _ranked(sc, "sa", _CUT_A)
        .groupBy("lang")
        .agg(
            F.sum(
                F.when((F.col("rel") > 0) & (F.col("rnk") <= 20), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_hit")
        )
    )
    return rel_lang.join(F.broadcast(hit_lang), "lang", "left").select(
        "lang",
        "n_rel",
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        F.when(F.col("n_rel") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("coalesce(n_hit, 0) * 1000000 div n_rel"))
        .cast("long")
        .alias("recall20_micro"),
    )


# ===========================================================================
# Semantic cache with TTL (serving-side)
# ===========================================================================

_CACHE_CLUSTERS = 1024
_CACHE_TTL = 500  # in request sequence numbers


_SQL_SEMCACHE = f"""
    WITH req AS (
      SELECT event_id,
             {_hs("'scq|' || CAST(event_id AS VARCHAR)")}
               % {_CACHE_CLUSTERS} AS cluster
      FROM events),
    lagd AS (
      SELECT event_id, cluster,
             LAG(event_id) OVER (PARTITION BY cluster ORDER BY event_id)
               AS prev
      FROM req)
    SELECT CAST(event_id // 1000 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND event_id - prev <= {_CACHE_TTL}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND event_id - prev <= {_CACHE_TTL}
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS hit_rate_micro
    FROM lagd GROUP BY bucket
    """


@register(
    "semantic_cache_ttl_eval",
    _SQL_SEMCACHE,
    doc="Semantic-cache hit-rate audit for a serving stack: each "
    f"request maps to one of {_CACHE_CLUSTERS} paraphrase clusters "
    "(md5 draw — the stand-in for an embedding-bucket cache key; the "
    "real bucketing is the sign-LSH family, operators/similarity.py), "
    "and a request HITS when the same cluster was served within the "
    f"last {_CACHE_TTL} requests (the TTL). Hit rates per 1000-request "
    "bucket show the cold-start ramp. Scale shape: one LAG window "
    "partitioned by cluster (bounded per-key state — the natural "
    "streaming-state layout), then a partial agg to the bucket "
    "domain. (No counterpart in reference main.go.)",
)
def semantic_cache_ttl_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    req = ev.select(
        "event_id",
        (_draw("scq", F.col("event_id")) % _CACHE_CLUSTERS).alias("cluster"),
    )
    w = Window.partitionBy("cluster").orderBy("event_id")
    lagd = req.withColumn("prev", F.lag("event_id").over(w))
    hit = F.when(
        F.col("prev").isNotNull()
        & (F.col("event_id") - F.col("prev") <= _CACHE_TTL),
        1,
    ).otherwise(0)
    return (
        lagd.groupBy(F.expr("CAST(event_id div 1000 AS BIGINT)").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_requests"),
            F.sum(hit).cast("long").alias("n_hits"),
            F.expr(
                f"CAST(SUM(CASE WHEN prev IS NOT NULL AND event_id - prev "
                f"<= {_CACHE_TTL} THEN 1 ELSE 0 END) * 1000000 "
                f"div COUNT(*) AS BIGINT)"
            ).alias("hit_rate_micro"),
        )
    )


# ===========================================================================
# Real-vector retrieval eval (embeddings table, exact quantized dots)
# ===========================================================================

# float32 -> int64 quantization at 1e7, same convention as
# operators/similarity.py (llm.py's _Q/_DOT_DEC discipline)
_QV = "CAST(floor(CAST({0} AS DOUBLE) * 10000000 + 0.5) AS BIGINT)"


@register(
    "retrieval_eval_embeddings",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    q AS (
      SELECT vec_id AS q_id, x AS qx, dim FROM comp
      WHERE vec_id >= 10 AND vec_id < 20),
    d AS (
      SELECT q_id, c.vec_id,
             (CAST(SUM({_QV.format('qx')} * {_QV.format('c.x')}) AS DOUBLE)
              / 100000000000000.0) AS dot
      FROM comp c JOIN q USING (dim)
      WHERE c.vec_id != q_id
      GROUP BY q_id, c.vec_id),
    r AS (
      SELECT q_id, vec_id, dot,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY dot DESC, vec_id) AS BIGINT) AS rnk
      FROM d),
    lab AS (SELECT vec_id, label FROM embeddings),
    j AS (
      SELECT r.q_id, r.rnk,
             CASE WHEN lq.label = lc.label THEN 1 ELSE 0 END AS rel
      FROM r
      JOIN lab lq ON lq.vec_id = r.q_id
      JOIN lab lc ON lc.vec_id = r.vec_id),
    per AS (
      SELECT q_id,
             CAST(SUM(CASE WHEN rnk <= 10 AND rel = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_10,
             MIN(CASE WHEN rel = 1 THEN rnk END) AS frr
      FROM j GROUP BY q_id),
    nlab AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM lab
             GROUP BY label),
    gold AS (
      SELECT lq.vec_id AS q_id, CAST(n.n - 1 AS BIGINT) AS n_rel
      FROM lab lq JOIN nlab n ON n.label = lq.label
      WHERE lq.vec_id >= 10 AND lq.vec_id < 20)
    SELECT g.q_id, g.n_rel, p.hits_10,
           CAST(p.hits_10 * 1000000 // 10 AS BIGINT)
             AS precision10_micro,
           CAST(COALESCE(p.frr, 0) AS BIGINT) AS first_rel_rank
    FROM gold g JOIN per p USING (q_id)
    """,
    doc="Retrieval evaluation on REAL vectors: brute-force exact top-k "
    "over the embeddings table by int64-quantized inner product "
    "(operators/similarity.py exact_dot — bit-identical scores in "
    "both engines), with same-label as the relevance ground truth; "
    "per query-vector precision@10, first relevant rank and the "
    "label's corpus support. The panel queries measure metric "
    "machinery; THIS one measures an actual embedding space. Scale "
    "shape: the 10-query side broadcasts through the dim join (the "
    "ann_cosine_topk convention, llm.py:462); production replaces "
    "brute force with the IVF cell-probe family (llm.py:515). "
    "(No counterpart in reference main.go.)",
)
def retrieval_eval_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exact_dot,
        exploded_components,
    )

    emb = load(spark, sf_dir, "embeddings")
    lab = emb.select("vec_id", "label")
    qcomp = exploded_components(
        emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)).select(
            F.col("vec_id").alias("q_id"), "embedding"
        ),
        "q_id",
        out_val="qx",
    )
    comp = exploded_components(emb, "vec_id")
    dots = exact_dot(qcomp, comp, "q_id", "vec_id")
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), "vec_id")
    r = dots.withColumn("rnk", F.row_number().over(w).cast("long"))
    lq = lab.select(F.col("vec_id").alias("q_id"), F.col("label").alias("lq"))
    lc = lab.select("vec_id", F.col("label").alias("lc"))
    j = (
        r.join(F.broadcast(lq), "q_id")
        .join(F.broadcast(lc), "vec_id")
        .select(
            "q_id",
            "rnk",
            F.when(F.col("lq") == F.col("lc"), 1).otherwise(0).alias("rel"),
        )
    )
    per = j.groupBy("q_id").agg(
        F.sum(F.when((F.col("rnk") <= 10) & (F.col("rel") == 1), 1).otherwise(0))
        .cast("long")
        .alias("hits_10"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("frr"),
    )
    nlab = lab.groupBy("label").agg(F.count("*").cast("long").alias("n"))
    gold = (
        lab.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
        .join(F.broadcast(nlab), "label")
        .select(
            F.col("vec_id").alias("q_id"),
            (F.col("n") - 1).cast("long").alias("n_rel"),
        )
    )
    return gold.join(F.broadcast(per), "q_id").select(
        "q_id",
        "n_rel",
        "hits_10",
        F.expr("CAST(hits_10 * 1000000 div 10 AS BIGINT)").alias(
            "precision10_micro"
        ),
        F.coalesce("frr", F.lit(0)).cast("long").alias("first_rel_rank"),
    )


# ===========================================================================
# Streaming twins (the batch twin's state builder and oracle constant:
# a green row certifies live == batch bit-for-bit)
# ===========================================================================


@register(
    "stream_retrieval_coverage",
    _SQL_COVERAGE,
    doc="STREAMING twin of retrieval_candidate_coverage: the per-query "
    "candidate/relevant counters are streaming aggregation state in "
    "complete mode (order-free counting — any replay split converges "
    "to the batch matrix), the coverage micros finalize on read from "
    "the bounded 16-row state relation, and the oracle is the BATCH "
    "SQL verbatim — a green row certifies the live recall-ceiling "
    "dashboard equals the batch audit bit-for-bit. Scale shape: state "
    "is 16 rows of counters; the stream pays the same panel explode + "
    "partial agg the batch plan does. "
    "(No counterpart in reference main.go.)",
)
def stream_retrieval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    state = _cov_state(_panel_from(load_stream(spark, sf_dir, "documents")))
    return _cov_finalize(run_replay(state, "complete", "stream_rcov"))


@register(
    "stream_semantic_cache_ttl",
    _SQL_SEMCACHE,
    doc="STREAMING twin of semantic_cache_ttl_eval, STATEFUL: the "
    "online form of the cache audit — per-cluster last-served "
    "sequence number as group state (ONE bigint per cluster, bounded "
    "by the cluster alphabet), hit/miss decided as each request "
    "arrives, per-(cluster, bucket) count partials emitted per "
    "micro-batch and SUM-rolled to the bucket domain on read. Oracle "
    "= the batch LAG-window SQL verbatim — a green row certifies the "
    "online cache decisions equal the declarative batch window "
    "bit-for-bit. applyInPandasWithState fold in "
    "streaming/semcache.py. (No counterpart in reference main.go.)",
)
def stream_semantic_cache_ttl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.semcache import run_semcache_eval

    return run_semcache_eval(
        spark,
        f"{sf_dir}/events.parquet",
        clusters=_CACHE_CLUSTERS,
        ttl=_CACHE_TTL,
    )


# ===========================================================================
# Wave 5: eval-ops extras — MAP, SRM guardrail (+ streaming twin),
# drift monitoring, SLO burn rate, paraphrase consistency
# ===========================================================================


@register(
    "retrieval_map_at20",
    f"""
    WITH {_SQL_CORE},
    pre AS (
      SELECT q_id, 'A' AS retriever, rel, rnk,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY q_id ORDER BY rnk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cumhits
      FROM ra WHERE rnk <= 20
      UNION ALL
      SELECT q_id, 'B' AS retriever, rel, rnk,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY q_id ORDER BY rnk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT)
      FROM rb WHERE rnk <= 20),
    ap AS (
      SELECT q_id, retriever,
             CAST(SUM(CASE WHEN rel > 0
                           THEN cumhits * 1000000 // rnk ELSE 0 END)
                  AS BIGINT) AS sum_prec_micro
      FROM pre GROUP BY q_id, retriever),
    grid AS (
      SELECT n.q_id, n.n_rel, r.retriever
      FROM nrel n CROSS JOIN (SELECT unnest(['A', 'B']) AS retriever) r)
    SELECT g.q_id, g.retriever, g.n_rel,
           COALESCE(a.sum_prec_micro, 0) AS sum_prec_micro,
           CASE WHEN LEAST(g.n_rel, 20) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(COALESCE(a.sum_prec_micro, 0)
                          // LEAST(g.n_rel, 20) AS BIGINT)
           END AS ap20_micro
    FROM grid g
    LEFT JOIN ap a ON a.q_id = g.q_id AND a.retriever = g.retriever
    """,
    doc="Average precision@20 per query per retriever (the MAP building "
    "block): precision-at-each-relevant-rank summed and normalized by "
    "min(n_rel, 20), all truncating integer micros — the running-hit "
    "window SUM is CAST at the window site (DuckDB HUGEINT). AP "
    "rewards putting relevance EARLY, where recall@k only counts "
    "membership. Scale shape: one bounded per-query prefix window "
    "over the top-20 slices + one partial agg, nrel-anchored grid so "
    "empty lists score 0 instead of vanishing. "
    "(No counterpart in reference main.go.)",
)
def retrieval_map_at20(spark: SparkSession, sf_dir: str) -> DataFrame:
    lists = _both_lists(spark, sf_dir).filter(F.col("rnk") <= 20)
    w = (
        Window.partitionBy("q_id", "retriever")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = lists.withColumn(
        "cumhits",
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).over(w).cast("long"),
    )
    ap = pre.groupBy("q_id", "retriever").agg(
        F.sum(
            F.when(
                F.col("rel") > 0,
                F.expr("cumhits * 1000000 div rnk"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("sum_prec_micro")
    )
    grid = _nrel(_panel(spark, sf_dir)).withColumn(
        "retriever", F.explode(F.array(F.lit("A"), F.lit("B")))
    )
    return grid.join(F.broadcast(ap), ["q_id", "retriever"], "left").select(
        "q_id",
        "retriever",
        "n_rel",
        F.coalesce("sum_prec_micro", F.lit(0))
        .cast("long")
        .alias("sum_prec_micro"),
        F.when(F.least("n_rel", F.lit(20)) == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr("coalesce(sum_prec_micro, 0) div least(n_rel, 20)")
        )
        .cast("long")
        .alias("ap20_micro"),
    )


# ===========================================================================
# Sample-ratio mismatch (the live-experiment guardrail)
# ===========================================================================

# planted assignment skew: 50.3% to arm A instead of 50.0% — the bug
# class SRM exists to catch (a biased bucketing hash, a crash in one
# arm's logging path)
_SRM_SKEW = 503
_CHI2_95 = 3841459  # chi-square(1) 95% critical value in micros (build-time)


_SQL_SRM = f"""
    WITH assign AS (
      SELECT event_type,
             CASE WHEN {_hs("'srm|' || CAST(event_id AS VARCHAR)")}
                       % 1000 < {_SRM_SKEW}
                  THEN 1 ELSE 0 END AS arm_a
      FROM events),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(arm_a) AS BIGINT) AS o_a
      FROM assign GROUP BY event_type)
    SELECT event_type, n, o_a, n - o_a AS o_b,
           CAST((2 * o_a - n) * (2 * o_a - n) * 1000000 // n AS BIGINT)
             AS chi2_micro,
           ((2 * o_a - n) * (2 * o_a - n) * 1000000 // n) >= {_CHI2_95}
             AS srm_flag
    FROM agg
    """


@register(
    "ab_sample_ratio_mismatch",
    _SQL_SRM,
    doc="Sample-ratio mismatch check per experiment (event_type): each "
    "event hashes into arm A with a PLANTED 50.3% skew (the biased-"
    "bucketing bug class SRM exists to catch), and the chi-square(1) "
    "statistic against the declared 50/50 split — for two equal-"
    "expectation cells chi2 = (o_a - o_b)^2 / n exactly, so the whole "
    "test is one int64 expression ((2*o_a - n)^2 * 1e6 // n, worst "
    "case ~3e16 at sf1: inside int64, no doubles anywhere) against "
    "the build-time critical constant. THE guardrail every experiment "
    "dashboard runs before reading any metric. Scale shape: one "
    "narrow projection + ONE partial-agg shuffle to the experiment "
    "domain; rank-free counting, so it streams (wave-5 twin). "
    "(No counterpart in reference main.go.)",
)
def ab_sample_ratio_mismatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _srm_finalize(_srm_state(load(spark, sf_dir, "events")))


def _srm_state(events: DataFrame) -> DataFrame:
    """Per-experiment (n, o_a) counters — the streaming twin's
    complete-mode state."""
    assign = events.select(
        "event_type",
        F.when(
            _draw("srm", F.col("event_id")) % 1000 < _SRM_SKEW, 1
        )
        .otherwise(0)
        .alias("arm_a"),
    )
    return assign.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("arm_a").cast("long").alias("o_a"),
    )


def _srm_finalize(agg: DataFrame) -> DataFrame:
    return agg.select(
        "event_type",
        "n",
        "o_a",
        (F.col("n") - F.col("o_a")).cast("long").alias("o_b"),
        F.expr(
            "CAST((2 * o_a - n) * (2 * o_a - n) * 1000000 div n AS BIGINT)"
        ).alias("chi2_micro"),
        (
            F.expr("(2 * o_a - n) * (2 * o_a - n) * 1000000 div n")
            >= _CHI2_95
        ).alias("srm_flag"),
    )


# ===========================================================================
# Embedding drift (total-variation distance, exp-free PSI stand-in)
# ===========================================================================

# planted drift: the "live" half's components shift by +0.05 (5e5 in
# quantized units) — the monitor must flag it
_DRIFT_SHIFT = 500000
_DRIFT_DIMS = 2
_DRIFT_BUCKETS = 8


def _sql_bucket(qexpr: str) -> str:
    return (
        f"LEAST({_DRIFT_BUCKETS - 1}, GREATEST(0, "
        f"CAST(({qexpr} + 10000000) * {_DRIFT_BUCKETS} // 20000000 "
        f"AS BIGINT)))"
    )


@register(
    "embedding_drift_tvd",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    q AS (
      SELECT vec_id, dim,
             CASE WHEN vec_id % 2 = 1
                  THEN {_QV.format('x')} + {_DRIFT_SHIFT}
                  ELSE {_QV.format('x')} END AS qx,
             vec_id % 2 AS live
      FROM comp WHERE dim <= {_DRIFT_DIMS}),
    hist AS (
      SELECT dim, live, {_sql_bucket('qx')} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM q GROUP BY dim, live, bucket),
    tot AS (
      SELECT dim, live, CAST(SUM(c) AS BIGINT) AS n
      FROM hist GROUP BY dim, live),
    props AS (
      SELECT h.dim, h.bucket,
             CAST(SUM(CASE WHEN h.live = 0
                           THEN h.c * 1000000 // t.n ELSE 0 END)
                  AS BIGINT) AS p_ref,
             CAST(SUM(CASE WHEN h.live = 1
                           THEN h.c * 1000000 // t.n ELSE 0 END)
                  AS BIGINT) AS p_live
      FROM hist h JOIN tot t ON t.dim = h.dim AND t.live = h.live
      GROUP BY h.dim, h.bucket)
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(abs(p_ref - p_live)) // 2 AS BIGINT) AS tvd_micro,
           CAST(SUM(abs(p_ref - p_live)) // 2 AS BIGINT) >= 50000
             AS drift_flag
    FROM props GROUP BY dim
    """,
    doc="Embedding drift monitor: the corpus splits into reference "
    "(even vec_id) and live (odd) halves, the live half's components "
    "get a PLANTED +0.05 shift, and per leading dimension the monitor "
    "reports the total-variation distance between the two 8-bucket "
    "quantized-component histograms (TVD = sum|p-q|/2 — the exp-free "
    "drift statistic: PSI's ln() is not engine-stable, TVD on exact "
    "micro proportions is) with a 5% drift flag. The retrain/reindex "
    "trigger for any embedding-backed retrieval stack. Scale shape: "
    "histogram counters per (dim, half, bucket) — one partial-agg "
    "shuffle to a bounded 32-row relation, shards merge by counter "
    "addition. (No counterpart in reference main.go.)",
)
def embedding_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exploded_components,
        quantize,
    )

    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id").filter(
        F.col("dim") <= _DRIFT_DIMS
    )
    qx = F.when(
        F.col("vec_id") % 2 == 1, quantize(F.col("x")) + _DRIFT_SHIFT
    ).otherwise(quantize(F.col("x")))
    bucket = F.least(
        F.lit(_DRIFT_BUCKETS - 1),
        F.greatest(
            F.lit(0),
            F.expr(
                f"CAST((qx + 10000000) * {_DRIFT_BUCKETS} div 20000000 "
                f"AS BIGINT)"
            ),
        ),
    )
    q = comp.select(
        "dim", (F.col("vec_id") % 2).alias("live"), qx.alias("qx")
    ).withColumn("bucket", bucket)
    hist = q.groupBy("dim", "live", "bucket").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = hist.groupBy("dim", "live").agg(
        F.sum("c").cast("long").alias("n")
    )
    props = (
        hist.join(F.broadcast(tot), ["dim", "live"])
        .groupBy("dim", "bucket")
        .agg(
            F.sum(
                F.when(F.col("live") == 0, F.expr("c * 1000000 div n"))
                .otherwise(0)
            )
            .cast("long")
            .alias("p_ref"),
            F.sum(
                F.when(F.col("live") == 1, F.expr("c * 1000000 div n"))
                .otherwise(0)
            )
            .cast("long")
            .alias("p_live"),
        )
    )
    return props.groupBy("dim").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.expr(
            "CAST(SUM(abs(p_ref - p_live)) div 2 AS BIGINT)"
        ).alias("tvd_micro"),
        (
            F.expr("CAST(SUM(abs(p_ref - p_live)) div 2 AS BIGINT)")
            >= 50000
        ).alias("drift_flag"),
    )


# ===========================================================================
# SLO burn rate (multiwindow)
# ===========================================================================

_SLO_MS = 145.0  # ~p95 of the synthetic latency distribution
_BUDGET_INV = 20  # 5% error budget


@register(
    "slo_burn_rate_windows",
    f"""
    WITH buckets AS (
      SELECT CAST(event_id // 1000 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > {_SLO_MS} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_over
      FROM events GROUP BY 1),
    win AS (
      SELECT bucket, n, n_over,
             CAST(SUM(n) OVER (ORDER BY bucket
                  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n6,
             CAST(SUM(n_over) OVER (ORDER BY bucket
                  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS over6
      FROM buckets)
    SELECT bucket, n, n_over,
           CAST(n_over * {_BUDGET_INV} * 1000000 // n AS BIGINT)
             AS burn1_micro,
           CAST(over6 * {_BUDGET_INV} * 1000000 // n6 AS BIGINT)
             AS burn6_micro,
           (n_over * {_BUDGET_INV} * 1000000 // n) >= 2000000
             AND (over6 * {_BUDGET_INV} * 1000000 // n6) >= 1000000
             AS page_alert
    FROM win
    """,
    doc="Multiwindow SLO burn-rate audit (the Google-SRE alerting "
    "recipe): per 1000-request bucket, the latency-SLO violation rate "
    "over a 5% error budget as a burn MULTIPLE (1e6 = burning exactly "
    "the budget), in the short window and the 6-bucket trailing "
    "window, paging only when BOTH burn (fast + sustained — the "
    "flap-proof combination). Exact integer micros; the trailing "
    "window SUMs are CAST at the window site. Scale shape: one "
    "partial agg to the bounded bucket domain, then a 6-row bounded "
    "window over it. (No counterpart in reference main.go.)",
)
def slo_burn_rate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    buckets = ev.groupBy(
        F.expr("CAST(event_id div 1000 AS BIGINT)").alias("bucket")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("value") > _SLO_MS, 1).otherwise(0))
        .cast("long")
        .alias("n_over"),
    )
    w6 = Window.orderBy("bucket").rowsBetween(-5, Window.currentRow)
    win = buckets.select(
        "bucket",
        "n",
        "n_over",
        F.sum("n").over(w6).cast("long").alias("n6"),
        F.sum("n_over").over(w6).cast("long").alias("over6"),
    )
    burn1 = F.expr(f"n_over * {_BUDGET_INV} * 1000000 div n")
    burn6 = F.expr(f"over6 * {_BUDGET_INV} * 1000000 div n6")
    return win.select(
        "bucket",
        "n",
        "n_over",
        burn1.cast("long").alias("burn1_micro"),
        burn6.cast("long").alias("burn6_micro"),
        ((burn1 >= 2000000) & (burn6 >= 1000000)).alias("page_alert"),
    )


# ===========================================================================
# Paraphrase-consistency eval (same-topic query pairs)
# ===========================================================================


@register(
    "paraphrase_consistency_eval",
    f"""
    WITH {_SQL_CORE},
    t AS (SELECT q_id, doc_id FROM ra WHERE rnk <= 10),
    ov AS (
      SELECT a.q_id AS q_lo,
             CAST(COUNT(*) AS BIGINT) AS overlap
      FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.q_id = a.q_id + 8
      WHERE a.q_id < 8 GROUP BY a.q_id),
    g AS (
      SELECT p1.q_id AS q_lo, CAST(COUNT(*) AS BIGINT) AS gold_shared
      FROM panel p1 JOIN panel p2
        ON p2.doc_id = p1.doc_id AND p2.q_id = p1.q_id + 8
      WHERE p1.rel > 0 AND p2.rel > 0 AND p1.q_id < 8
      GROUP BY p1.q_id),
    grid AS (SELECT unnest(range(8)) AS q_lo)
    SELECT CAST(gr.q_lo AS BIGINT) AS q_lo,
           CAST(gr.q_lo + 8 AS BIGINT) AS q_hi,
           COALESCE(o.overlap, 0) AS top10_overlap,
           CAST(COALESCE(o.overlap, 0) * 1000000
                // (20 - COALESCE(o.overlap, 0)) AS BIGINT)
             AS jaccard_micro,
           COALESCE(g.gold_shared, 0) AS gold_shared
    FROM grid gr
    LEFT JOIN ov o ON o.q_lo = gr.q_lo
    LEFT JOIN g ON g.q_lo = gr.q_lo
    """,
    doc="Paraphrase-consistency eval: panel queries q and q+8 share a "
    "topic (q_id % 8) — the same information need phrased twice — so "
    "a robust retriever should return overlapping results; per pair, "
    "the top-10 overlap, its Jaccard (|A∩B| / |A∪B| = ov/(20-ov), "
    "exact micros), and how much GOLD the two relevance draws "
    "actually share (the ceiling the overlap should track). Low "
    "consistency = the ranking is noise-dominated, the "
    "query-understanding failure mode offline recall can't see. "
    "Scale shape: the pair relation is an equi-join of the two "
    "bounded top-10 slices on (doc_id, q+8); grid-anchored so "
    "zero-overlap pairs report 0. (No counterpart in reference "
    "main.go.)",
)
def paraphrase_consistency_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sc = _scored(spark, sf_dir)
    t = (
        _ranked(sc, "sa", _CUT_A)
        .filter(F.col("rnk") <= 10)
        .select("q_id", "doc_id")
    )
    ov = (
        t.filter(F.col("q_id") < 8)
        .alias("a")
        .join(
            t.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.q_id") == F.col("a.q_id") + 8),
        )
        .groupBy(F.col("a.q_id").alias("q_lo"))
        .agg(F.count("*").cast("long").alias("overlap"))
    )
    panel = _panel(spark, sf_dir)
    rel = panel.filter(F.col("rel") > 0).select("q_id", "doc_id")
    g = (
        rel.filter(F.col("q_id") < 8)
        .alias("p1")
        .join(
            rel.alias("p2"),
            (F.col("p2.doc_id") == F.col("p1.doc_id"))
            & (F.col("p2.q_id") == F.col("p1.q_id") + 8),
        )
        .groupBy(F.col("p1.q_id").alias("q_lo"))
        .agg(F.count("*").cast("long").alias("gold_shared"))
    )
    grid = spark.range(8).select(F.col("id").cast("long").alias("q_lo"))
    return (
        grid.join(F.broadcast(ov), "q_lo", "left")
        .join(F.broadcast(g), "q_lo", "left")
        .select(
            "q_lo",
            (F.col("q_lo") + 8).cast("long").alias("q_hi"),
            F.coalesce("overlap", F.lit(0))
            .cast("long")
            .alias("top10_overlap"),
            F.expr(
                "CAST(coalesce(overlap, 0) * 1000000 "
                "div (20 - coalesce(overlap, 0)) AS BIGINT)"
            ).alias("jaccard_micro"),
            F.coalesce("gold_shared", F.lit(0))
            .cast("long")
            .alias("gold_shared"),
        )
    )


@register(
    "stream_srm_check",
    _SQL_SRM,
    doc="STREAMING twin of ab_sample_ratio_mismatch: the per-experiment "
    "(n, o_a) counters are complete-mode streaming aggregation state "
    "(order-free counting), the chi-square statistic and SRM flag "
    "finalize on read from the bounded experiment relation, and the "
    "oracle is the BATCH SQL verbatim — SRM is THE guardrail that "
    "must run ON the live assignment stream (by the time a batch "
    "audit sees the skew, the experiment is already burned). Scale "
    "shape: state is one counter row per experiment. "
    "(No counterpart in reference main.go.)",
)
def stream_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = _srm_state(load_stream(spark, sf_dir, "events"))
    return _srm_finalize(run_replay(state, "complete", "stream_srm"))


# ===========================================================================
# Wave 6: alignment-eval + index economics
# ===========================================================================
#
# The reward-model panel: every document is a "completion" with a
# planted true quality (length-correlated plus an md5 draw) and a
# noisy reward-model estimate that ALSO carries an extra length term —
# the reward-hacking signal the length audit exists to expose. All
# exact integer micros, identical expressions in both dialects.

_SQL_QUAL = (
    "n_chars * 1500 + "
    + _hs("'qual|' || CAST(doc_id AS VARCHAR)")
    + " % 300000"
)
_SQL_RM = (
    f"({_SQL_QUAL}) // 2 + n_chars * 100 + "
    + _hs("'rm|' || CAST(doc_id AS VARCHAR)")
    + " % 300000"
)

_SQL_RMPANEL = f"""rmp AS (
      SELECT doc_id, source, n_chars,
             CAST({_SQL_QUAL} AS BIGINT) AS qual,
             CAST({_SQL_RM} AS BIGINT) AS rm
      FROM documents)"""


def _rm_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rm_panel_from(load(spark, sf_dir, "documents"))


def _rm_panel_from(docs: DataFrame) -> DataFrame:
    """RM-panel columns from any documents relation (batch scan or
    stream) — pure per-row expressions, so the round-11 streaming
    twins reuse them verbatim."""
    qual = (
        F.col("n_chars") * 1500
        + _draw("qual", F.col("doc_id")) % 300000
    )
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        qual.cast("long").alias("qual"),
    ).withColumn(
        "rm",
        (
            F.expr("qual div 2")
            + F.col("n_chars") * 100
            + _draw("rm", F.col("doc_id")) % 300000
        ).cast("long"),
    )


@register(
    "reward_model_accuracy_eval",
    f"""
    WITH {_SQL_RMPANEL},
    pairs AS (
      SELECT a.doc_id AS id_a,
             LEAST(4, abs(a.qual - b.qual) // 100000) AS gap_bucket,
             CASE WHEN (a.rm >= b.rm) = (a.qual >= b.qual)
                  THEN 1 ELSE 0 END AS rm_correct
      FROM rmp a JOIN rmp b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 2 = 0)
    SELECT CAST(gap_bucket AS BIGINT) AS gap_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(rm_correct) AS BIGINT) AS n_correct,
           CAST(SUM(rm_correct) * 1000000 // COUNT(*) AS BIGINT)
             AS accuracy_micro
    FROM pairs GROUP BY gap_bucket
    """,
    doc="Reward-model pairwise accuracy vs preference strength: "
    "adjacent docs pair as (chosen-candidate, rejected-candidate), "
    "gold preference = higher planted true quality, and the noisy RM "
    "either agrees or not — bucketed by the true-quality GAP, the "
    "accuracy curve every RM eval publishes (close pairs are coin "
    "flips, wide pairs should approach 1.0; a flat curve means the RM "
    "learned nothing). Scale shape: the pair relation is an "
    "equi-join on doc_id+1 (co-partitioned, never cartesian), then "
    "one partial agg to the 5-bucket domain. "
    "(No counterpart in reference main.go.)",
)
def reward_model_accuracy_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rmp = _rm_panel(spark, sf_dir)
    a = rmp.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id_a"),
        F.col("qual").alias("qual_a"),
        F.col("rm").alias("rm_a"),
    )
    b = rmp.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("qual").alias("qual_b"),
        F.col("rm").alias("rm_b"),
    )
    pairs = a.join(b, "id_a").select(
        F.least(
            F.lit(4),
            F.expr("abs(qual_a - qual_b) div 100000"),
        )
        .cast("long")
        .alias("gap_bucket"),
        F.when(
            (F.col("rm_a") >= F.col("rm_b"))
            == (F.col("qual_a") >= F.col("qual_b")),
            1,
        )
        .otherwise(0)
        .alias("rm_correct"),
    )
    return pairs.groupBy("gap_bucket").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("rm_correct").cast("long").alias("n_correct"),
        F.expr(
            "CAST(SUM(rm_correct) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("accuracy_micro"),
    )


@register(
    "best_of_n_reward_gain",
    f"""
    WITH {_SQL_RMPANEL},
    grp AS (
      SELECT doc_id // 4 AS g, doc_id % 4 AS pos, rm, qual
      FROM rmp),
    per AS (
      SELECT g,
             CAST(MAX(CASE WHEN pos = 0 THEN rm END) AS BIGINT) AS rm1,
             CAST(MAX(CASE WHEN pos < 2 THEN rm END) AS BIGINT) AS rm2,
             CAST(MAX(rm) AS BIGINT) AS rm4,
             CAST(MAX(CASE WHEN pos = 0 THEN qual END) AS BIGINT) AS q1,
             CAST(MAX(CASE WHEN pos < 2 THEN qual END) AS BIGINT) AS q2,
             CAST(MAX(qual) AS BIGINT) AS q4
      FROM grp GROUP BY g
      HAVING COUNT(*) = 4),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(rm1) AS BIGINT) AS s1,
             CAST(SUM(rm2) AS BIGINT) AS s2,
             CAST(SUM(rm4) AS BIGINT) AS s4,
             CAST(SUM(q1) AS BIGINT) AS t1,
             CAST(SUM(q2) AS BIGINT) AS t2,
             CAST(SUM(q4) AS BIGINT) AS t4
      FROM per)
    SELECT n.n, n_groups,
           CAST(CASE n.n WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s4 END
                // n_groups AS BIGINT) AS mean_best_rm_micro,
           CAST(CASE n.n WHEN 1 THEN t1 WHEN 2 THEN t2 ELSE t4 END
                // n_groups AS BIGINT) AS mean_best_qual_micro,
           CAST((CASE n.n WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s4 END
                 - s1) // n_groups AS BIGINT) AS rm_gain_micro
    FROM agg CROSS JOIN (SELECT unnest([1, 2, 4]) AS n) n
    WHERE n_groups > 0
    """,
    doc="Best-of-n sampling curve: each 4-doc group is one prompt's "
    "candidate set; the selector keeps the best RM score among the "
    "first n in (1, 2, 4) candidates, and the curve reports the mean "
    "selected RM score AND the mean selected TRUE quality — the gap "
    "between the two curves is the overoptimization cost (the RM "
    "picks its own noise at larger n; Gao et al. 2022 scaling-law "
    "shape, here exact). Scale shape: one partial agg per prompt "
    "group (conditional MAXes), one global agg, then a 3-row literal "
    "unpivot. (No counterpart in reference main.go.)",
)
def best_of_n_reward_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    rmp = _rm_panel(spark, sf_dir)
    grp = rmp.select(
        F.expr("doc_id div 4").alias("g"),
        (F.col("doc_id") % 4).alias("pos"),
        "rm",
        "qual",
    )
    per = (
        grp.groupBy("g")
        .agg(
            F.max(F.when(F.col("pos") == 0, F.col("rm"))).alias("rm1"),
            F.max(F.when(F.col("pos") < 2, F.col("rm"))).alias("rm2"),
            F.max("rm").alias("rm4"),
            F.max(F.when(F.col("pos") == 0, F.col("qual"))).alias("q1"),
            F.max(F.when(F.col("pos") < 2, F.col("qual"))).alias("q2"),
            F.max("qual").alias("q4"),
            F.count("*").alias("cnt"),
        )
        .filter(F.col("cnt") == 4)
    )
    agg = per.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("rm1").cast("long").alias("s1"),
        F.sum("rm2").cast("long").alias("s2"),
        F.sum("rm4").cast("long").alias("s4"),
        F.sum("q1").cast("long").alias("t1"),
        F.sum("q2").cast("long").alias("t2"),
        F.sum("q4").cast("long").alias("t4"),
    )
    n = F.explode(F.array(F.lit(1), F.lit(2), F.lit(4))).alias("n")
    wide = agg.select("*", n).filter(F.col("n_groups") > 0)
    s = "CASE n WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s4 END"
    t = "CASE n WHEN 1 THEN t1 WHEN 2 THEN t2 ELSE t4 END"
    return wide.select(
        F.col("n").cast("long").alias("n"),
        "n_groups",
        F.expr(f"CAST({s} div n_groups AS BIGINT)").alias(
            "mean_best_rm_micro"
        ),
        F.expr(f"CAST({t} div n_groups AS BIGINT)").alias(
            "mean_best_qual_micro"
        ),
        F.expr(f"CAST(({s} - s1) div n_groups AS BIGINT)").alias(
            "rm_gain_micro"
        ),
    )


@register(
    "rm_length_gradient_audit",
    f"""
    WITH {_SQL_RMPANEL},
    b AS (
      SELECT LEAST(9, n_chars // 50) AS len_bucket, rm, qual
      FROM rmp)
    SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(rm) // COUNT(*) AS BIGINT) AS mean_rm_micro,
           CAST(SUM(qual) // COUNT(*) AS BIGINT) AS mean_qual_micro,
           CAST((SUM(rm) * 2 - SUM(qual)) // COUNT(*) AS BIGINT)
             AS excess_rm_micro
    FROM b GROUP BY len_bucket
    """,
    doc="Reward-hacking length audit: mean RM score and mean TRUE "
    "quality per length bucket, plus the excess (2*rm - qual — the "
    "RM's planted n_chars*100 bias term plus noise mean, which rises "
    "with length while a faithful RM's excess would be flat). THE "
    "first check on any preference model: does reward track quality "
    "or just length? Scale shape: one narrow projection + one "
    "partial agg to the 10-bucket domain. "
    "(No counterpart in reference main.go.)",
)
def rm_length_gradient_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rmp = _rm_panel(spark, sf_dir)
    b = rmp.select(
        F.least(F.lit(9), F.expr("n_chars div 50"))
        .cast("long")
        .alias("len_bucket"),
        "rm",
        "qual",
    )
    return b.groupBy("len_bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("CAST(SUM(rm) div COUNT(*) AS BIGINT)").alias(
            "mean_rm_micro"
        ),
        F.expr("CAST(SUM(qual) div COUNT(*) AS BIGINT)").alias(
            "mean_qual_micro"
        ),
        F.expr(
            "CAST((SUM(rm) * 2 - SUM(qual)) div COUNT(*) AS BIGINT)"
        ).alias("excess_rm_micro"),
    )


@register(
    "curriculum_pacing_schedule",
    f"""
    WITH {_SQL_RMPANEL},
    staged AS (
      SELECT LEAST(4, qual // 200000) AS stage,
             CAST(n_chars // 5 + 1 AS BIGINT) AS tok,
             qual
      FROM rmp),
    per AS (
      SELECT CAST(stage AS BIGINT) AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS stage_tokens,
             CAST(SUM(qual) // COUNT(*) AS BIGINT)
               AS mean_difficulty_micro
      FROM staged GROUP BY stage)
    SELECT stage, n_docs, stage_tokens, mean_difficulty_micro,
           CAST(SUM(stage_tokens) OVER (ORDER BY stage
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens
    FROM per
    """,
    doc="Curriculum pacing schedule: documents bucket into 5 "
    "difficulty stages by the planted quality score (value-range "
    "bucketing — NOT ntile, which would global-sort the corpus), and "
    "the manifest reports per-stage doc counts, token budgets, mean "
    "difficulty, and the cumulative token schedule a trainer walks. "
    "The data-ordering artifact every curriculum run starts from. "
    "Scale shape: one partial agg to the 5-stage domain + a bounded "
    "5-row cumulative window (CAST at the window site). "
    "(No counterpart in reference main.go.)",
)
def curriculum_pacing_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rmp = _rm_panel(spark, sf_dir)
    staged = rmp.select(
        F.least(F.lit(4), F.expr("qual div 200000"))
        .cast("long")
        .alias("stage"),
        F.expr("CAST(n_chars div 5 + 1 AS BIGINT)").alias("tok"),
        "qual",
    )
    per = staged.groupBy("stage").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("stage_tokens"),
        F.expr("CAST(SUM(qual) div COUNT(*) AS BIGINT)").alias(
            "mean_difficulty_micro"
        ),
    )
    w = (
        Window.orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "stage",
        "n_docs",
        "stage_tokens",
        "mean_difficulty_micro",
        F.sum("stage_tokens").over(w).cast("long").alias("cum_tokens"),
    )


@register(
    "ivf_build_cost_model",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    assigns AS (
      SELECT nl.nlist, c.vec_id, a.vec_id AS a_id,
             (CAST(SUM({_QV.format('a.x')} * {_QV.format('c.x')})
                   AS DOUBLE) / 100000000000000.0) AS dot
      FROM comp c
      JOIN comp a ON a.dim = c.dim
      JOIN (SELECT unnest([4, 8, 16]) AS nlist) nl
        ON a.vec_id < nl.nlist
      WHERE c.vec_id >= 16
      GROUP BY nl.nlist, c.vec_id, a.vec_id),
    best AS (
      SELECT nlist, vec_id, a_id AS cell FROM (
        SELECT nlist, vec_id, a_id,
               ROW_NUMBER() OVER (PARTITION BY nlist, vec_id
                   ORDER BY dot DESC, a_id) AS rn
        FROM assigns)
      WHERE rn = 1),
    cells AS (
      SELECT nlist, cell, CAST(COUNT(*) AS BIGINT) AS c
      FROM best GROUP BY nlist, cell)
    SELECT CAST(nlist AS BIGINT) AS nlist,
           CAST(COUNT(*) AS BIGINT) AS n_cells_used,
           CAST(SUM(c) AS BIGINT) AS n_vecs,
           CAST(MAX(c) AS BIGINT) AS max_cell,
           CAST(SUM(c) * 1000000 // COUNT(*) AS BIGINT)
             AS mean_cell_micro,
           CAST(2 * SUM(c) // COUNT(*) AS BIGINT) AS est_probe2_rows
    FROM cells GROUP BY nlist
    """,
    doc="IVF index-build economics: assign the corpus (vec_id >= 16) "
    "to its best anchor cell at nlist in (4, 8, 16) — same exact "
    "quantized-dot assignment the ann_ivf_topk family uses — and "
    "price each configuration: cells actually used, the largest cell "
    "(the tail-latency driver), mean cell size, and the expected "
    "rows scanned by a 2-probe query. The capacity-planning table "
    "behind the nlist knob (more cells = cheaper probes, worse "
    "recall — recall curves live in the ann_recall family). Scale "
    "shape: the anchor side is tiny and broadcast through the dim "
    "join; ONE (nlist, vec, anchor) partial agg, a bounded "
    "assignment window per (nlist, vec), and a 3-row rollup. "
    "(No counterpart in reference main.go.)",
)
def ivf_build_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exploded_components,
        quantize,
    )

    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id")
    corpus = comp.filter(F.col("vec_id") >= 16)
    anchors = comp.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("a_id"), F.col("x").alias("ax"), "dim"
    )
    nl = F.explode(F.array(F.lit(4), F.lit(8), F.lit(16))).alias("nlist")
    tagged = anchors.select("*", nl).filter(F.col("a_id") < F.col("nlist"))
    j = corpus.join(F.broadcast(tagged), "dim")
    assigns = j.groupBy("nlist", "vec_id", "a_id").agg(
        (
            F.sum(quantize(F.col("ax")) * quantize(F.col("x"))).cast(
                "double"
            )
            / F.lit(1e14)
        ).alias("dot")
    )
    w = Window.partitionBy("nlist", "vec_id").orderBy(
        F.col("dot").desc(), "a_id"
    )
    best = (
        assigns.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("nlist", "vec_id", F.col("a_id").alias("cell"))
    )
    cells = best.groupBy("nlist", "cell").agg(
        F.count("*").cast("long").alias("c")
    )
    return cells.groupBy(F.col("nlist").cast("long").alias("nlist")).agg(
        F.count("*").cast("long").alias("n_cells_used"),
        F.sum("c").cast("long").alias("n_vecs"),
        F.max("c").cast("long").alias("max_cell"),
        F.expr("CAST(SUM(c) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "mean_cell_micro"
        ),
        F.expr("CAST(2 * SUM(c) div COUNT(*) AS BIGINT)").alias(
            "est_probe2_rows"
        ),
    )


# ===========================================================================
# Wave 7: serving capacity — KV-cache concurrency vs memory budget
# ===========================================================================

_SESS_GAP = 300     # inactivity slots that close a session
_KV_PER_TURN = 50   # KV tokens held per conversation turn
_KV_BUDGET = 100000  # tokens of KV memory on the box


@register(
    "kv_cache_concurrency_budget",
    f"""
    WITH seq AS (
      SELECT user_id, event_id,
             LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
               AS prev
      FROM events),
    flagged AS (
      SELECT user_id, event_id,
             CASE WHEN prev IS NULL OR event_id - prev > {_SESS_GAP}
                  THEN 1 ELSE 0 END AS new_sess
      FROM seq),
    sess_ids AS (
      SELECT user_id, event_id,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id
                  ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS sid
      FROM flagged),
    sess AS (
      SELECT user_id, sid,
             CAST(MIN(event_id) AS BIGINT) AS lo,
             CAST(MAX(event_id) AS BIGINT) AS hi,
             CAST(COUNT(*) * {_KV_PER_TURN} AS BIGINT) AS kv_tokens
      FROM sess_ids GROUP BY user_id, sid),
    spans AS (
      SELECT user_id, sid, lo, kv_tokens,
             unnest(range(lo // 1000, hi // 1000 + 1)) AS bucket
      FROM sess)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS active_sessions,
           CAST(SUM(CASE WHEN lo // 1000 = bucket THEN 1 ELSE 0 END)
                AS BIGINT) AS new_sessions,
           CAST(SUM(kv_tokens) AS BIGINT) AS kv_tokens_held,
           CAST(GREATEST(0, SUM(kv_tokens) - {_KV_BUDGET}) AS BIGINT)
             AS excess_tokens,
           SUM(kv_tokens) > {_KV_BUDGET} AS over_budget
    FROM spans GROUP BY bucket
    """,
    doc="KV-cache capacity planning for a serving box: user event "
    f"streams sessionize by inactivity gap (> {_SESS_GAP} slots closes "
    "a session), each live session pins KV memory proportional to its "
    f"turn count ({_KV_PER_TURN} tokens/turn, held for the session's "
    "lifetime), and per 1000-slot bucket the table reports concurrent "
    "sessions, session arrivals, total KV tokens held, and the excess "
    f"over a {_KV_BUDGET}-token budget — the eviction pressure the "
    "scheduler must absorb. THE sizing table behind max-concurrency "
    "and preemption knobs in an LLM serving stack. Scale shape: one "
    "LAG + one cumulative window per user partition (bounded per-key "
    "state, CAST at the window site), one partial agg per session, a "
    "bounded bucket-range explode per session (never a time x session "
    "cross join), and one partial agg to the bucket domain. "
    "(No counterpart in reference main.go.)",
)
def kv_cache_concurrency_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    flagged = ev.select("user_id", "event_id").withColumn(
        "new_sess",
        F.when(
            F.lag("event_id").over(w).isNull()
            | (F.col("event_id") - F.lag("event_id").over(w) > _SESS_GAP),
            1,
        ).otherwise(0),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess_ids = flagged.withColumn(
        "sid", F.sum("new_sess").over(wc).cast("long")
    )
    sess = sess_ids.groupBy("user_id", "sid").agg(
        F.min("event_id").cast("long").alias("lo"),
        F.max("event_id").cast("long").alias("hi"),
        (F.count("*") * _KV_PER_TURN).cast("long").alias("kv_tokens"),
    )
    spans = sess.select(
        "lo",
        "kv_tokens",
        F.explode(
            F.sequence(
                F.expr("lo div 1000"), F.expr("hi div 1000")
            )
        ).alias("bucket"),
    )
    return spans.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").cast("long").alias("active_sessions"),
        F.sum(
            F.when(F.expr("lo div 1000") == F.col("bucket"), 1).otherwise(0)
        )
        .cast("long")
        .alias("new_sessions"),
        F.sum("kv_tokens").cast("long").alias("kv_tokens_held"),
        F.expr(
            f"CAST(GREATEST(0, SUM(kv_tokens) - {_KV_BUDGET}) AS BIGINT)"
        ).alias("excess_tokens"),
        (F.sum("kv_tokens") > _KV_BUDGET).alias("over_budget"),
    )
