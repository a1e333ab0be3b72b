"""Corpus-mining round-5 additions: theta-sketch set algebra, bigram-LM
perplexity, Dirichlet query-likelihood retrieval, sorted-neighborhood
blocking dedup, contrastive-training embedding mining (hard negatives,
matryoshka recall, kNN label propagation), exact-k weighted reservoirs,
per-source KL drift, shingle containment, n-gram novelty, and
distributed PCA power iteration.

Each query follows the house determinism contract (queries/base.py):
md5-derived hashes, integer quantization before any data-ordered sum,
single-division estimates, aliased columns identical in both dialects.

Reference scope note: the reference (main.go) has no analytics surface —
these are part of the beyond-reference LLM-pipeline engine the brief
specifies (SURVEY.md §2.2), same family as queries/llm.py and
queries/quality.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kinesis_log_watcher_spark.functions.exact import dec
from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.queries.base import load, register

# ---------------------------------------------------------------------------
# KMV / theta sketch set operations
# ---------------------------------------------------------------------------

_KMV_K = 32
_KMV_H = 1 << 60  # hash domain bound (15 md5 hex chars)
_KMV_HF = repr(float(_KMV_H))  # exactly representable: 2^60
_KMV_NUM = repr(float((_KMV_K - 1) * _KMV_H))  # (k-1)*H, exact (31 * 2^60)

_KMV_SPLIT_CASE = {
    "a": "split = 'click'",
    "b": "split = 'purchase'",
}


@register(
    "kmv_theta_set_ops",
    f"""
    WITH sub AS (
      SELECT event_type AS split,
             CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS k
      FROM events
      WHERE event_type IN ('click', 'purchase')),
    hashes AS (
      SELECT DISTINCT split,
             CAST('0x' || substr(md5(k), 1, 15) AS BIGINT) AS h
      FROM sub),
    sk AS (
      SELECT split, h FROM (
        SELECT split, h,
               ROW_NUMBER() OVER (PARTITION BY split ORDER BY h) AS r
        FROM hashes)
      WHERE r <= {_KMV_K}),
    st AS (
      SELECT
        CAST(COUNT(CASE WHEN {_KMV_SPLIT_CASE['a']} THEN 1 END) AS BIGINT)
          AS n_a,
        MAX(CASE WHEN {_KMV_SPLIT_CASE['a']} THEN h END) AS hk_a,
        CAST(COUNT(CASE WHEN {_KMV_SPLIT_CASE['b']} THEN 1 END) AS BIGINT)
          AS n_b,
        MAX(CASE WHEN {_KMV_SPLIT_CASE['b']} THEN h END) AS hk_b
      FROM sk),
    th AS (
      SELECT *,
        LEAST(CASE WHEN n_a = {_KMV_K} THEN hk_a ELSE {_KMV_H} END,
              CASE WHEN n_b = {_KMV_K} THEN hk_b ELSE {_KMV_H} END) AS theta
      FROM st),
    samp AS (
      SELECT sk.h,
             MAX(CASE WHEN {_KMV_SPLIT_CASE['a']} THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN {_KMV_SPLIT_CASE['b']} THEN 1 ELSE 0 END) AS in_b
      FROM sk CROSS JOIN th WHERE sk.h < th.theta GROUP BY sk.h),
    cnt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_u,
             CAST(COALESCE(SUM(in_a * in_b), 0) AS BIGINT) AS n_i
      FROM samp),
    pu AS (
      SELECT k,
             MAX(CASE WHEN {_KMV_SPLIT_CASE['a']} THEN 1 ELSE 0 END) AS a,
             MAX(CASE WHEN {_KMV_SPLIT_CASE['b']} THEN 1 ELSE 0 END) AS b
      FROM sub GROUP BY k),
    ex AS (
      SELECT CAST(COALESCE(SUM(a), 0) AS BIGINT) AS exact_click,
             CAST(COALESCE(SUM(b), 0) AS BIGINT) AS exact_purchase,
             CAST(COUNT(*) AS BIGINT) AS exact_union,
             CAST(COALESCE(SUM(a * b), 0) AS BIGINT) AS exact_inter
      FROM pu)
    SELECT
      CASE WHEN n_a < {_KMV_K} THEN n_a
           ELSE CAST(floor({_KMV_NUM} / CAST(hk_a AS DOUBLE) + 0.5) AS BIGINT)
      END AS est_click,
      exact_click,
      CASE WHEN n_b < {_KMV_K} THEN n_b
           ELSE CAST(floor({_KMV_NUM} / CAST(hk_b AS DOUBLE) + 0.5) AS BIGINT)
      END AS est_purchase,
      exact_purchase,
      CAST(floor(CAST(n_u AS DOUBLE) * {_KMV_HF} / CAST(theta AS DOUBLE)
                 + 0.5) AS BIGINT) AS est_union,
      exact_union,
      CAST(floor(CAST(n_i AS DOUBLE) * {_KMV_HF} / CAST(theta AS DOUBLE)
                 + 0.5) AS BIGINT) AS est_inter,
      exact_inter,
      CASE WHEN n_u > 0
           THEN CAST(floor(CAST(n_i AS DOUBLE) / CAST(n_u AS DOUBLE)
                           * 1000000.0 + 0.5) AS BIGINT)
           ELSE 0 END AS jaccard_micro
    FROM th CROSS JOIN cnt CROSS JOIN ex
    """,
    doc="KMV/theta sketch SET ALGEBRA (Bar-Yossef 2002 / Dasgupta 2016, "
    "operators/sketch.kmv_build): the click-side and purchase-side "
    "(user, day) activity-key sets — partially overlapping by "
    "construction, NDV >> k so the estimator path, not the exact-count "
    f"path, is exercised — each compress to their {_KMV_K} smallest "
    "distinct 60-bit hashes; one "
    "shared threshold theta = min of the k-th minima turns the retained "
    "values into COORDINATED uniform samples, so union / intersection / "
    "Jaccard come from two <=k-row summaries — the cross-stream audience "
    "overlap question answered WITHOUT joining raw key sets (HLL cannot "
    "do intersections; this is the sketch that can). Exact counts are "
    "joined in for the error profile, like hll_user_distinct. "
    "Determinism: everything up to each estimate is exact int64; each "
    "estimate is one multiply of an exact small count by a shared 2^60 "
    "literal and ONE IEEE division. Scale: the build is the standard "
    "distinct-pass NDV shuffle plus a SALTED two-phase bottom-k (no "
    "task ever ranks a whole split's hash set); the set algebra touches "
    "only the <=2k retained rows. Merging daily sketches = phase-2 "
    "re-rank of unioned sketch rows — the stored-nightly-sketch pattern.",
)
def kmv_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sketch import (
        kmv_build,
        user_day_key,
    )

    k = _KMV_K
    ev = load(spark, sf_dir, "events")
    sub = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("split"), user_day_key().alias("k")
    )
    sk = kmv_build(sub, "k", group_cols=("split",), k=k)

    is_a = F.col("split") == "click"
    is_b = F.col("split") == "purchase"
    stats = sk.agg(
        F.count(F.when(is_a, 1)).cast("long").alias("n_a"),
        F.max(F.when(is_a, F.col("h"))).alias("hk_a"),
        F.count(F.when(is_b, 1)).cast("long").alias("n_b"),
        F.max(F.when(is_b, F.col("h"))).alias("hk_b"),
    ).withColumn(
        "theta",
        F.least(
            F.when(F.col("n_a") == k, F.col("hk_a")).otherwise(F.lit(_KMV_H)),
            F.when(F.col("n_b") == k, F.col("hk_b")).otherwise(F.lit(_KMV_H)),
        ),
    )
    samp = (
        sk.crossJoin(F.broadcast(stats.select("theta")))
        .filter(F.col("h") < F.col("theta"))
        .groupBy("h")
        .agg(
            F.max(F.when(is_a, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(is_b, 1).otherwise(0)).alias("in_b"),
        )
    )
    cnt = samp.agg(
        F.count("*").cast("long").alias("n_u"),
        F.coalesce(F.sum(F.col("in_a") * F.col("in_b")), F.lit(0))
        .cast("long")
        .alias("n_i"),
    )
    pu = sub.groupBy("k").agg(
        F.max(F.when(is_a, 1).otherwise(0)).alias("a"),
        F.max(F.when(is_b, 1).otherwise(0)).alias("b"),
    )
    ex = pu.agg(
        F.coalesce(F.sum("a"), F.lit(0)).cast("long").alias("exact_click"),
        F.coalesce(F.sum("b"), F.lit(0)).cast("long").alias("exact_purchase"),
        F.count("*").cast("long").alias("exact_union"),
        F.coalesce(F.sum(F.col("a") * F.col("b")), F.lit(0))
        .cast("long")
        .alias("exact_inter"),
    )

    num = F.lit(float(_KMV_NUM))
    hf = F.lit(float(_KMV_HF))

    def kmv_est(n, hk):
        return F.when(F.col(n) < k, F.col(n)).otherwise(
            F.floor(num / F.col(hk).cast("double") + F.lit(0.5)).cast("long")
        )

    def theta_est(c):
        return F.floor(
            F.col(c).cast("double") * hf / F.col("theta").cast("double")
            + F.lit(0.5)
        ).cast("long")

    return (
        stats.crossJoin(F.broadcast(cnt))
        .crossJoin(F.broadcast(ex))
        .select(
            kmv_est("n_a", "hk_a").cast("long").alias("est_click"),
            "exact_click",
            kmv_est("n_b", "hk_b").cast("long").alias("est_purchase"),
            "exact_purchase",
            theta_est("n_u").alias("est_union"),
            "exact_union",
            theta_est("n_i").alias("est_inter"),
            "exact_inter",
            F.when(
                F.col("n_u") > 0,
                F.floor(
                    F.col("n_i").cast("double") / F.col("n_u").cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("jaccard_micro"),
        )
    )


# ---------------------------------------------------------------------------
# interpolated Kneser-Ney bigram perplexity
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount


@register(
    "kn_bigram_perplexity",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 2),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
           FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1,
                  CAST(COUNT(*) AS BIGINT) AS fanout
           FROM c2 GROUP BY 1),
    ct AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cont_w2
           FROM c2 GROUP BY 1),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM c2),
    lp AS (
      SELECT c2.w1, c2.w2,
             CAST(floor(-ln((GREATEST(CAST(n12 AS DOUBLE) - {_KN_D}, 0.0)
                             + {_KN_D} * fanout * cont_w2 / t_types) / n1)
                        * 1000000000 + 0.5) AS BIGINT) AS nll_nano
      FROM c2 JOIN c1 USING (w1) JOIN ct USING (w2) CROSS JOIN tt),
    doc AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(nll_nano) AS BIGINT) AS sum_nano
      FROM bg JOIN lp USING (w1, w2) GROUP BY 1),
    scored AS (
      SELECT doc_id, n_bigrams,
             CAST(floor(CAST(sum_nano AS DOUBLE) / (n_bigrams * 1000.0) + 0.5)
                  AS BIGINT) AS nll_micro
      FROM doc)
    SELECT doc_id, n_bigrams, nll_micro,
           CAST(NTILE(3) OVER (ORDER BY nll_micro, doc_id) AS BIGINT)
             AS ppl_bucket
    FROM scored
    """,
    doc="Interpolated Kneser-Ney BIGRAM perplexity (Kneser & Ney 1995; "
    "the LM-quality step up from unigram_logprob_buckets): "
    "P(w2|w1) = (max(c(w1w2)-D,0) + D*N1+(w1,.)*Pcont(w2)) / c(w1,.) "
    "with D=0.75 and the continuation distribution Pcont(w2) = "
    "N1+(.,w2)/|bigram types| — a PROPER probability (the discounted "
    "mass exactly funds the continuation term), trained and scored on "
    "the corpus itself, no external artifact. All model inputs are "
    "integer count relations (bigram counts, left fan-outs, "
    "continuation counts, one 1-row type total); each distinct bigram's "
    "NLL is quantized to int64 nano-nats ONCE in the vocab relation, so "
    "per-doc totals are associative integer sums — no float-order "
    "dependence (the unigram query's determinism argument, one level "
    "up). Scale shape: everything is (w1)/(w2)/(w1,w2) hash "
    "aggregations and equi-joins — the bigram vocab of a 100 TB corpus "
    "never broadcasts and never needs to; the NTILE total order is the "
    "oracle-checkable stand-in for the quantile-sketch bucketing used "
    "at scale (same stance as unigram_logprob_buckets).",
)
def kn_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, "
                "element_at(toks, i + 1) AS w2))"
            )
        ).alias("bgr"),
    ).select("doc_id", F.col("bgr.w1").alias("w1"), F.col("bgr.w2").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n12"))
    c1 = c2.groupBy("w1").agg(
        F.sum("n12").cast("long").alias("n1"),
        F.count("*").cast("long").alias("fanout"),
    )
    ct = c2.groupBy("w2").agg(F.count("*").cast("long").alias("cont_w2"))
    tt = c2.agg(F.count("*").cast("long").alias("t_types"))
    p = (
        F.greatest(F.col("n12").cast("double") - F.lit(_KN_D), F.lit(0.0))
        + F.lit(_KN_D) * F.col("fanout") * F.col("cont_w2") / F.col("t_types")
    ) / F.col("n1")
    lp = (
        c2.join(c1, "w1")
        .join(ct, "w2")
        .join(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            F.floor(-F.log(p) * F.lit(1000000000.0) + F.lit(0.5))
            .cast("long")
            .alias("nll_nano"),
        )
    )
    doc = (
        bg.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("nll_nano").cast("long").alias("sum_nano"),
        )
    )
    scored = doc.select(
        "doc_id",
        "n_bigrams",
        F.floor(
            F.col("sum_nano").cast("double")
            / (F.col("n_bigrams") * F.lit(1000.0))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("nll_micro"),
    )
    tercile = F.ntile(3).over(
        Window.orderBy(F.col("nll_micro").asc(), F.col("doc_id").asc())
    )
    return scored.select(
        "doc_id", "n_bigrams", "nll_micro", tercile.cast("long").alias("ppl_bucket")
    )


# ---------------------------------------------------------------------------
# Dirichlet-smoothed query likelihood retrieval
# ---------------------------------------------------------------------------

_QL_TERMS = ("table", "join", "fast")
_QL_MU = 2000.0


def _ql_sql() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN word = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf_{t}"
        for t in _QL_TERMS
    )
    cf_cols = ",\n             ".join(
        f"CAST(SUM(tf_{t}) AS BIGINT) AS cf_{t}" for t in _QL_TERMS
    )
    contribs = "\n           + ".join(
        f"ln((CAST(d.tf_{t} AS DOUBLE) + {_QL_MU!r} * s.cf_{t} / s.total_toks)"
        f" / (d.dl + {_QL_MU!r}))"
        for t in _QL_TERMS
    )
    return f"""
    WITH w AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             unnest(string_split(text, ' ')) AS word
      FROM documents),
    d AS (
      SELECT doc_id, MIN(dl) AS dl,
             {tf_cols}
      FROM w GROUP BY doc_id),
    s AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS total_toks,
             {cf_cols}
      FROM d)
    SELECT d.doc_id, {", ".join(f"d.tf_{t}" for t in _QL_TERMS)},
           CAST(floor(({contribs}) * 1e6 + 0.5) AS BIGINT) AS score_micro
    FROM d CROSS JOIN s
    """


@register(
    "dirichlet_ql_scores",
    _ql_sql(),
    doc="Query-likelihood retrieval with Dirichlet smoothing (Zhai & "
    "Lafferty 2001, mu=2000) for the same fixed term set as "
    "bm25_doc_scores — the second classical retrieval scorer, so the "
    "engine covers both probabilistic-relevance (BM25) and language-"
    "model (QL) ranking families: score(d) = sum_t ln((tf_td + "
    "mu*cf_t/|C|) / (dl_d + mu)). Same plan shape as BM25: per-doc "
    "term frequencies from ONE word-explode aggregation, corpus "
    "collection frequencies as a 1-row broadcast, contributions summed "
    "in FIXED term order (float addition is not associative), scores "
    "quantized to micro-units for integer comparison; ln() is the one "
    "libm-bound op. No shuffle wider than (doc_id, word) counting — "
    "the smoothing statistics of a 100 TB corpus are three numbers.",
)
def dirichlet_ql_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    w = docs.select(
        "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("word")
    )
    d = w.groupBy("doc_id").agg(
        F.min("dl").alias("dl"),
        *[
            F.sum(F.when(F.col("word") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"tf_{t}")
            for t in _QL_TERMS
        ],
    )
    s = d.agg(
        F.sum("dl").cast("long").alias("total_toks"),
        *[
            F.sum(F.col(f"tf_{t}")).cast("long").alias(f"cf_{t}")
            for t in _QL_TERMS
        ],
    )

    def contrib(t: str):
        return F.log(
            (
                F.col(f"tf_{t}").cast("double")
                + F.lit(_QL_MU) * F.col(f"cf_{t}") / F.col("total_toks")
            )
            / (F.col("dl") + F.lit(_QL_MU))
        )

    score = contrib(_QL_TERMS[0])
    for t in _QL_TERMS[1:]:
        score = score + contrib(t)
    return d.join(F.broadcast(s)).select(
        "doc_id",
        *[f"tf_{t}" for t in _QL_TERMS],
        F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("long").alias("score_micro"),
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking near-dup
# ---------------------------------------------------------------------------

_SN_W = 2  # lookahead window
_SN_JMILLI = 500  # report pairs at Jaccard >= 0.5


@register(
    "sorted_neighborhood_neardup",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE len(string_split(text, ' ')) >= 3) t,
           unnest(range(1, len(toks) - 1)) AS u(i)),
    key AS (
      SELECT doc_id,
             MIN(CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)) AS minh,
             CAST(COUNT(*) AS BIGINT) AS sz
      FROM sh GROUP BY doc_id),
    nb AS (
      SELECT doc_id AS doc_a,
             LEAD(doc_id, 1) OVER wnd AS b1,
             LEAD(doc_id, 2) OVER wnd AS b2
      FROM key
      WINDOW wnd AS (PARTITION BY (minh >> 52) ORDER BY minh, doc_id)),
    cand AS (
      SELECT doc_a, b1 AS doc_b FROM nb WHERE b1 IS NOT NULL
      UNION ALL
      SELECT doc_a, b2 AS doc_b FROM nb WHERE b2 IS NOT NULL),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2),
    j AS (
      SELECT i.doc_a, i.doc_b, i.n_inter,
             CAST(ka.sz + kb.sz - i.n_inter AS BIGINT) AS n_union,
             CAST(floor(CAST(i.n_inter AS DOUBLE) * 1000.0
                        / (ka.sz + kb.sz - i.n_inter) + 0.5) AS BIGINT)
               AS jac_milli
      FROM inter i
      JOIN key ka ON ka.doc_id = i.doc_a
      JOIN key kb ON kb.doc_id = i.doc_b)
    SELECT doc_a, doc_b, n_inter, n_union, jac_milli
    FROM j WHERE jac_milli >= {_SN_JMILLI}
    """,
    doc="Sorted-neighborhood blocking near-dup (Hernandez & Stolfo 1995, "
    "the classical entity-resolution alternative to LSH banding): each "
    "doc's sort key is its MINIMUM 60-bit shingle hash (a 1-permutation "
    "MinHash — two docs at Jaccard J share their minimum shingle with "
    "probability J, so near-dups sort adjacent); docs are sorted within "
    f"hash-prefix blocks and each compares to only its next {_SN_W} "
    "neighbors (LEAD), then candidate pairs are VERIFIED with the true "
    "3-gram shingle Jaccard via the shingle relation — candidates are "
    "O(n*w), never all-pairs. The block partition (top 8 hash bits) "
    "keeps every ranking window partitionBy-bounded: no single task "
    "sorts the corpus, the documented blocked-SNM trade (boundary pairs "
    "straddling a block are the recall loss, exactly as in the "
    "literature). Complements dedup_minhash_lsh: same verify relation, "
    "different candidate generator — at 100 TB the sort-based generator "
    "wins when bucket skew makes banded joins quadratic in the worst "
    "bucket, the banded join wins on recall; the engine has both.",
)
def sorted_neighborhood_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import exploded_shingles

    docs = load(spark, sf_dir, "documents")
    sh = exploded_shingles(docs, n=3)
    h60 = md5_h15(F.col("shingle"))
    key = sh.groupBy("doc_id").agg(
        F.min(h60).alias("minh"), F.count("*").cast("long").alias("sz")
    )
    wnd = Window.partitionBy(F.shiftright(F.col("minh"), 52)).orderBy(
        "minh", "doc_id"
    )
    nb = key.select(
        F.col("doc_id").alias("doc_a"),
        *[F.lead("doc_id", i).over(wnd).alias(f"b{i}") for i in range(1, _SN_W + 1)],
    )
    cand = None
    for i in range(1, _SN_W + 1):
        part = nb.filter(F.col(f"b{i}").isNotNull()).select(
            "doc_a", F.col(f"b{i}").alias("doc_b")
        )
        cand = part if cand is None else cand.unionByName(part)
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    ka = key.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    kb = key.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    j = (
        inter.join(ka, "doc_a")
        .join(kb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            union_sz.cast("long").alias("n_union"),
            F.floor(
                F.col("n_inter").cast("double") * F.lit(1000.0) / union_sz
                + F.lit(0.5)
            )
            .cast("long")
            .alias("jac_milli"),
        )
    )
    return j.filter(F.col("jac_milli") >= _SN_JMILLI)


# ---------------------------------------------------------------------------
# contrastive hard-negative mining
# ---------------------------------------------------------------------------

# Same quantized-component scoring macros as the ANN family
# (queries/llm.py): int64 at 7 dp, exact sums, one final division.
_Q = "CAST(floor(CAST({0} AS DOUBLE) * 10000000 + 0.5) AS BIGINT)"
_DOT_DEC = (f"(CAST(SUM({_Q.format('qx')} * {_Q.format('x')}) AS DOUBLE) "
            "/ 100000000000000.0)")
_NORM_DEC = (f"(CAST(SUM({_Q.format('x')} * {_Q.format('x')}) AS DOUBLE) "
             "/ 100000000000000.0)")


@register(
    "hard_negative_mining",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, unnest(embedding) AS qx,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings WHERE vec_id % 50 = 0),
    c AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    d AS (
      SELECT q_id, vec_id, {_DOT_DEC} AS dot
      FROM c JOIN q USING (dim)
      WHERE vec_id != q_id
      GROUP BY q_id, vec_id),
    n AS (
      SELECT vec_id AS nid, {_NORM_DEC} AS norm2
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id),
    s AS (
      SELECT d.q_id, d.vec_id,
             (d.dot / (sqrt(nq.norm2) * sqrt(nc.norm2))) AS cosine,
             lc.label AS neg_label
      FROM d JOIN n nq ON nq.nid = d.q_id
             JOIN n nc ON nc.nid = d.vec_id
             JOIN embeddings lq ON lq.vec_id = d.q_id
             JOIN embeddings lc ON lc.vec_id = d.vec_id
      WHERE lc.label != lq.label)
    SELECT q_id, vec_id AS neighbor_id,
           CAST(neg_label AS BIGINT) AS neg_label, cosine, rank
    FROM (
      SELECT q_id, vec_id, neg_label, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
      FROM s)
    WHERE rank <= 3
    """,
    doc="Hard-negative mining for contrastive training (the in-batch-"
    "negatives upgrade every embedding-model pipeline needs, cf. DPR / "
    "SimCSE): for each anchor vector, the top-3 OTHER-label vectors by "
    "cosine — maximally confusing negatives, found with the exact-"
    "decimal scorer shared with ann_cosine_topk so the oracle matches "
    "bit-for-bit. Anchors are a small broadcast set by contract (the "
    "ann_cosine_topk_fast contract); the label filter runs BEFORE "
    "ranking so positives never crowd out negatives. At corpus scale "
    "the candidate generator swaps to the IVF/PQ index (ann_ivf_topk) "
    "with the label filter pushed into the cell probe — identical "
    "downstream relation, so this query's shape IS the mining stage of "
    "a contrastive data pipeline.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exact_cosine_scores,
        exploded_components,
    )

    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    q = exploded_components(
        anchors.select(F.col("vec_id").alias("q_id"), "embedding"),
        "q_id",
        out_val="qx",
    )
    c = exploded_components(emb, "vec_id")
    lq = emb.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"))
    lc = emb.select("vec_id", F.col("label").alias("neg_label"))
    s = (
        exact_cosine_scores(q, c)
        .join(F.broadcast(lq), "q_id")
        .join(lc, "vec_id")
        .filter(F.col("neg_label") != F.col("q_label"))
        .select(
            "q_id",
            "vec_id",
            F.col("neg_label").cast("long").alias("neg_label"),
            "cosine",
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "neg_label",
                "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# matryoshka truncation recall
# ---------------------------------------------------------------------------

_MRL_DIMS = 16  # truncated prefix length
_MRL_K = 10


def _mrl_topk_sql(comp_filter: str, alias: str) -> str:
    """One exact-cosine top-k pipeline over a component prefix."""
    return f"""
    d_{alias} AS (
      SELECT q_id, vec_id, {_DOT_DEC} AS dot
      FROM comp c JOIN qcomp q USING (dim)
      WHERE vec_id != q_id AND {comp_filter}
      GROUP BY q_id, vec_id),
    n_{alias} AS (
      SELECT vec_id AS nid, {_NORM_DEC} AS norm2
      FROM comp WHERE {comp_filter} GROUP BY vec_id),
    top_{alias} AS (
      SELECT q_id, vec_id FROM (
        SELECT d.q_id, d.vec_id,
               ROW_NUMBER() OVER (PARTITION BY d.q_id
                 ORDER BY (d.dot / (sqrt(nq.norm2) * sqrt(nc.norm2))) DESC,
                          d.vec_id) AS rnk
        FROM d_{alias} d JOIN n_{alias} nq ON nq.nid = d.q_id
                         JOIN n_{alias} nc ON nc.nid = d.vec_id)
      WHERE rnk <= {_MRL_K})"""


@register(
    "matryoshka_recall",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    qcomp AS (
      SELECT vec_id AS q_id, x AS qx, dim FROM comp WHERE vec_id < 10),
    {_mrl_topk_sql('TRUE', 'full')},
    {_mrl_topk_sql(f'dim <= {_MRL_DIMS}', 'trunc')}
    SELECT f.q_id,
           CAST(COALESCE(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 END), 0)
                AS BIGINT) AS n_overlap,
           CAST(COALESCE(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 END), 0)
                * {100 // _MRL_K} AS BIGINT) AS recall_pct
    FROM top_full f
    LEFT JOIN top_trunc t ON t.q_id = f.q_id AND t.vec_id = f.vec_id
    GROUP BY f.q_id
    """,
    doc="Matryoshka truncation ablation (Kusupati et al. 2022, MRL): "
    f"recall@{_MRL_K} of brute-force retrieval using only the first "
    f"{_MRL_DIMS} of 64 embedding dimensions, against the full-"
    "dimension ranking as ground truth — the measurement that decides "
    "whether a 4x cheaper index is safe, run per anchor so the tail "
    "(worst-served queries) is visible, not just the mean. Both "
    "rankings use the exact-decimal scorer, so the oracle reproduces "
    "both top-k sets and the overlap bit-for-bit. The truncated "
    "pipeline prunes components BEFORE the dim join (dim <= "
    f"{_MRL_DIMS} reaches the scan as a pushed filter), so its cost "
    "is proportionally smaller — exactly the production saving being "
    "measured. Anchors broadcast by the ann_cosine_topk contract; the "
    "scale path swaps the generator to IVF over truncated prefixes.",
)
def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exact_cosine_scores,
        exploded_components,
    )

    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id")
    qcomp = exploded_components(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), "embedding"
        ),
        "q_id",
        out_val="qx",
    )

    def topk(comp_pred) -> DataFrame:
        cc = comp.filter(comp_pred) if comp_pred is not None else comp
        qq = qcomp.filter(comp_pred) if comp_pred is not None else qcomp
        w = Window.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id")
        )
        return (
            exact_cosine_scores(qq, cc)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _MRL_K)
            .select("q_id", "vec_id")
        )

    full = topk(None)
    trunc = topk(F.col("dim") <= _MRL_DIMS).withColumnRenamed("vec_id", "t_id")
    hit = full.alias("f").join(
        trunc.alias("t"),
        (F.col("f.q_id") == F.col("t.q_id")) & (F.col("f.vec_id") == F.col("t.t_id")),
        "left",
    )
    overlap = F.coalesce(
        F.sum(F.when(F.col("t.t_id").isNotNull(), 1)), F.lit(0)
    ).cast("long")
    return hit.groupBy(F.col("f.q_id").alias("q_id")).agg(
        overlap.alias("n_overlap"),
        (overlap * (100 // _MRL_K)).cast("long").alias("recall_pct"),
    )


# ---------------------------------------------------------------------------
# exact-k weighted reservoir (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------

_WRS_K = 10
_WRS_HF = repr(float(1 << 60))


@register(
    "weighted_reservoir_per_source",
    f"""
    WITH d AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
             (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS DOUBLE) + 1.0) / {_WRS_HF} AS u
      FROM documents WHERE n_chars > 0),
    keyed AS (
      SELECT source, doc_id, weight, ln(u) / weight AS es_key
      FROM d),
    ranked AS (
      SELECT source, doc_id, weight,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY es_key DESC, doc_id) AS BIGINT) AS rank
      FROM keyed)
    SELECT source, doc_id, weight, rank
    FROM ranked WHERE rank <= {_WRS_K}
    """,
    doc="EXACT-k weighted sampling without replacement (Efraimidis & "
    "Spirakis 2006, A-ES): each doc draws u from md5(doc_id) — the "
    "house deterministic-uniform trick — and the k largest u^(1/w) "
    "win, which provably selects each doc with probability "
    "proportional to weight (here n_chars: a token-budget-aware "
    "corpus sample). Ranked by ln(u)/w (monotone in u^(1/w), no pow), "
    "tie-broken by doc_id. Complements the family's Bernoulli "
    "weighted sampler (expected-rate, zero-shuffle) with the "
    "fixed-BUDGET guarantee pipelines need ('exactly 50 docs per "
    "source, long docs favored'). Scale shape: per-stratum top-k — "
    "the same salted two-phase reduction as "
    "topk_orders_per_segment_twophase applies verbatim when a stratum "
    "exceeds one task; keys are computed in a narrow map, no "
    "pre-shuffle. Determinism: one ln() and one division per row on "
    "md5-derived doubles, then pure integer ranking.",
)
def weighted_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = md5_h15(F.col("doc_id").cast("string"))
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(_WRS_HF))
    keyed = docs.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("es_key").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _WRS_K)
        .select("source", "doc_id", "weight", "rank")
    )


# ---------------------------------------------------------------------------
# kNN label propagation (pseudo-labeling eval)
# ---------------------------------------------------------------------------

_KNN_K = 5


@register(
    "knn_label_propagation",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, unnest(embedding) AS qx,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings WHERE vec_id % 25 = 0),
    c AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    d AS (
      SELECT q_id, vec_id, {_DOT_DEC} AS dot
      FROM c JOIN q USING (dim)
      WHERE vec_id != q_id
      GROUP BY q_id, vec_id),
    n AS (
      SELECT vec_id AS nid, {_NORM_DEC} AS norm2
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT d.q_id, d.vec_id,
               ROW_NUMBER() OVER (PARTITION BY d.q_id
                 ORDER BY (d.dot / (sqrt(nq.norm2) * sqrt(nc.norm2))) DESC,
                          d.vec_id) AS rnk
        FROM d JOIN n nq ON nq.nid = d.q_id
               JOIN n nc ON nc.nid = d.vec_id)
      WHERE rnk <= {_KNN_K}),
    votes AS (
      SELECT t.q_id, e.label, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM topk t JOIN embeddings e ON e.vec_id = t.vec_id
      GROUP BY 1, 2),
    winner AS (
      SELECT q_id, label AS pred_label, n_votes FROM (
        SELECT q_id, label, n_votes,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY n_votes DESC, label) AS vr
        FROM votes)
      WHERE vr = 1)
    SELECT w.q_id,
           CAST(e.label AS BIGINT) AS true_label,
           CAST(w.pred_label AS BIGINT) AS pred_label,
           w.n_votes,
           CAST(CASE WHEN w.pred_label = e.label THEN 1 ELSE 0 END AS BIGINT)
             AS correct
    FROM winner w JOIN embeddings e ON e.vec_id = w.q_id
    """,
    doc="kNN label propagation / pseudo-labeling eval (the k-nearest-"
    f"neighbor classifier every semi-supervised curation loop starts "
    f"from): each anchor takes the majority label of its {_KNN_K} "
    "nearest neighbors by exact-decimal cosine (self excluded), ties "
    "broken toward the smaller label id; predicted vs true label is "
    "reported per anchor — leave-one-out accuracy of the embedding "
    "space, the number that decides whether auto-labeling unlabeled "
    "corpus regions is safe. Shares the scorer AND the broadcast-"
    "anchor contract with ann_cosine_topk; the scale path swaps the "
    "candidate generator to the IVF index and the vote becomes a "
    "grouped count over cell-pruned candidates — identical downstream "
    "relations.",
)
def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exact_cosine_scores,
        exploded_components,
    )

    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 25 == 0)
    q = exploded_components(
        anchors.select(F.col("vec_id").alias("q_id"), "embedding"),
        "q_id",
        out_val="qx",
    )
    c = exploded_components(emb, "vec_id")
    wr = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    topk = (
        exact_cosine_scores(q, c)
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _KNN_K)
        .select("q_id", "vec_id")
    )
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("q_id", "label")
        .agg(F.count("*").cast("long").alias("n_votes"))
    )
    wv = Window.partitionBy("q_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    winner = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "n_votes")
    )
    truth = emb.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    )
    return winner.join(F.broadcast(truth), "q_id").select(
        "q_id",
        F.col("true_label").cast("long").alias("true_label"),
        F.col("pred_label").cast("long").alias("pred_label"),
        "n_votes",
        F.when(F.col("pred_label") == F.col("true_label"), 1)
        .otherwise(0)
        .cast("long")
        .alias("correct"),
    )


# ---------------------------------------------------------------------------
# per-source unigram KL divergence (mixture drift monitor)
# ---------------------------------------------------------------------------


@register(
    "source_unigram_kl",
    """
    WITH w AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
    sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n_sw
           FROM w GROUP BY 1, 2),
    s AS (SELECT source, CAST(SUM(n_sw) AS BIGINT) AS n_s
          FROM sw GROUP BY 1),
    cw AS (SELECT word, CAST(SUM(n_sw) AS BIGINT) AS n_w
           FROM sw GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_tot FROM cw),
    terms AS (
      SELECT sw.source,
             CAST(floor(CAST(n_sw AS DOUBLE) / n_s
                        * ln(CAST(n_sw AS DOUBLE) * n_tot
                             / (CAST(n_s AS DOUBLE) * n_w))
                        * 1000000000 + 0.5) AS BIGINT) AS t_nano
      FROM sw JOIN s USING (source) JOIN cw USING (word) CROSS JOIN tot)
    SELECT source,
           CAST(SUM(t_nano) AS BIGINT) AS kl_nano,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM terms GROUP BY source
    """,
    doc="Per-source unigram KL divergence KL(p_source || p_corpus) — "
    "the mixture-drift monitor: a source whose language distribution "
    "diverges from the corpus (fresh crawl gone wrong, a scraper "
    "switching sites) shows up as a KL jump long before downstream "
    "evals move. True KL over the observed support (p_source(w)=0 "
    "terms contribute exactly 0; the corpus marginal dominates every "
    "source, so no smoothing is needed for finiteness). Determinism: "
    "every input is an integer count relation; each word's "
    "contribution is quantized to int64 nano-nats ONCE in the "
    "(source, word) relation, so per-source totals are associative "
    "integer sums — the unigram_logprob_buckets argument applied to a "
    "two-distribution statistic. Scale shape: (source, word) and "
    "(word) hash aggregations, a word-key equi-join against the "
    "corpus marginal (never broadcast), one 1-row total.",
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = docs.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    sw = w.groupBy("source", "word").agg(F.count("*").cast("long").alias("n_sw"))
    s = sw.groupBy("source").agg(F.sum("n_sw").cast("long").alias("n_s"))
    cw = sw.groupBy("word").agg(F.sum("n_sw").cast("long").alias("n_w"))
    tot = cw.agg(F.sum("n_w").cast("long").alias("n_tot"))
    term = (
        F.col("n_sw").cast("double")
        / F.col("n_s")
        * F.log(
            F.col("n_sw").cast("double")
            * F.col("n_tot")
            / (F.col("n_s").cast("double") * F.col("n_w"))
        )
    )
    terms = (
        sw.join(s, "source")
        .join(cw, "word")
        .join(F.broadcast(tot))
        .select(
            "source",
            F.floor(term * F.lit(1000000000.0) + F.lit(0.5))
            .cast("long")
            .alias("t_nano"),
        )
    )
    return terms.groupBy("source").agg(
        F.sum("t_nano").cast("long").alias("kl_nano"),
        F.count("*").cast("long").alias("n_words"),
    )


# ---------------------------------------------------------------------------
# asymmetric shingle containment (near-subset detection)
# ---------------------------------------------------------------------------

_CONT_MILLI = 800
_CONT_DF_CAP = 100


@register(
    "shingle_containment_pairs",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE len(string_split(text, ' ')) >= 3) t,
           unnest(range(1, len(toks) - 1)) AS u(i)),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) <= {_CONT_DF_CAP}),
    pruned AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM pruned a JOIN pruned b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT c.doc_a, c.doc_b, c.n_inter,
             sa.sz AS sz_a, sb.sz AS sz_b,
             CAST(floor(CAST(c.n_inter AS DOUBLE) * 1000.0 / sa.sz + 0.5)
                  AS BIGINT) AS cont_a_milli,
             CAST(floor(CAST(c.n_inter AS DOUBLE) * 1000.0 / sb.sz + 0.5)
                  AS BIGINT) AS cont_b_milli
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, n_inter, sz_a, sz_b, cont_a_milli, cont_b_milli
    FROM scored
    WHERE GREATEST(cont_a_milli, cont_b_milli) >= {_CONT_MILLI}
    """,
    doc="Asymmetric shingle CONTAINMENT (Broder 1997's second resemblance "
    "measure): C(a in b) = |Sa n Sb| / |Sa| — the near-SUBSET detector "
    "Jaccard structurally misses (a 30-token snippet embedded verbatim "
    "in a 300-token doc has Jaccard ~0.1 but containment ~1.0; exactly "
    "the quote/boilerplate/excerpt duplication that inflates training "
    "corpora). Candidate generation is the SAME df-capped inverted "
    "shingle index as dedup_ngram_jaccard (operators/dedup.py "
    "jaccard_pairs: skew-guarded, never all-pairs); both directions "
    "are scored from the one unordered pair relation. Exact integer "
    "counts, milli-quantized ratios, one division per direction.",
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import (
        common_shingle_pairs,
        exploded_shingles,
    )

    # spread=True: measured 3.4 -> 2.5s at sf0.1 (A/B r12).
    docs = load(spark, sf_dir, "documents", spread=True)
    # hashed=True + persist: 8-byte keys through the inverted-index
    # self-join (same trade every other set-overlap query makes —
    # collision odds documented at the helper, intersection counts
    # unchanged at any realistic corpus), and one materialization for
    # the three consumers (sizes, df-prune, both join sides) instead of
    # three explodes. Measured 5.1s -> 4.4s at sf0.1, identical 256
    # rows.
    sh = exploded_shingles(docs, n=3, hashed=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))
    common = common_shingle_pairs(sh, max_doc_freq=_CONT_DF_CAP).select(
        "doc_a", "doc_b", F.col("common").cast("long").alias("n_inter")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))

    def milli(den):
        return F.floor(
            F.col("n_inter").cast("double") * F.lit(1000.0) / F.col(den)
            + F.lit(0.5)
        ).cast("long")

    scored = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_inter", "sz_a", "sz_b",
            milli("sz_a").alias("cont_a_milli"),
            milli("sz_b").alias("cont_b_milli"),
        )
    )
    out = scored.filter(
        F.greatest(F.col("cont_a_milli"), F.col("cont_b_milli"))
        >= _CONT_MILLI
    )
    # <=256 rows: materialize and release the persisted shingle
    # relation deterministically (library consumers don't clearCache
    # between queries the way the bench harness does).
    from kinesis_log_watcher_spark.queries.base import finalize_unpersist

    return finalize_unpersist(out, sh)


# ---------------------------------------------------------------------------
# per-cohort n-gram novelty rate (dataset freshness)
# ---------------------------------------------------------------------------


@register(
    "ngram_novelty_rate",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id // 100 AS cohort,
             array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE len(string_split(text, ' ')) >= 3) t,
           unnest(range(1, len(toks) - 1)) AS u(i)),
    first_seen AS (
      SELECT shingle, MIN(cohort) AS first_c FROM sh GROUP BY shingle)
    SELECT sh.cohort,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_c = sh.cohort THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(floor(CAST(SUM(CASE WHEN f.first_c = sh.cohort
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      * 1000.0 / COUNT(*) + 0.5) AS BIGINT) AS novelty_milli
    FROM sh JOIN first_seen f USING (shingle)
    GROUP BY sh.cohort
    """,
    doc="Per-ingestion-cohort n-gram NOVELTY rate — the dataset-"
    "freshness monitor: of each cohort's distinct 3-gram shingles "
    "(cohort = doc_id block of 100, the ingestion-batch proxy), what "
    "fraction was never seen in ANY earlier cohort. A crawl that "
    "re-scrapes the same sites shows novelty collapse batches before "
    "dedup costs blow up; a healthy fresh source holds steady. Same "
    "first-seen MIN-per-key pattern as user_growth_accumulation "
    "applied to content n-grams: one (cohort, shingle) distinct "
    "relation, a MIN per shingle, one equi-join back — every step a "
    "hash aggregation on well-distributed keys, nothing broadcast, "
    "exact integers to the final milli-quantized ratio.",
)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import exploded_shingles

    # spread=True: measured 2.4 -> 1.7s at sf0.1 (A/B r12).
    docs = load(spark, sf_dir, "documents", spread=True)
    sh = (
        exploded_shingles(docs, n=3)
        .select(F.expr("doc_id div 100").alias("cohort"), "shingle")
        .distinct()
    )
    first = sh.groupBy("shingle").agg(F.min("cohort").alias("first_c"))
    novel = F.sum(
        F.when(F.col("first_c") == F.col("cohort"), 1).otherwise(0)
    )
    return (
        sh.join(first, "shingle")
        .groupBy("cohort")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.floor(
                novel.cast("double") * F.lit(1000.0) / F.count("*")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("novelty_milli"),
        )
    )


# ---------------------------------------------------------------------------
# top principal component via power iteration (distributed linear algebra)
# ---------------------------------------------------------------------------

# Stage scales: the iterate vector lives at Q=1e7; each round's huge
# exact integer w is renormalized to +-1e5 off the exact MAX(|w|) so the
# norm is an order-free int64 sum of squares, then requantized to Q.
_PCA_Q = 10_000_000


def _pca_iter_sql(vin: str, i: int) -> str:
    """One power-iteration round in DuckDB HUGEINT arithmetic."""
    return f"""
    s{i} AS (
      SELECT c.vec_id,
             CAST(SUM(c.qx * v.qv) AS BIGINT) AS s
      FROM comp c JOIN {vin} v USING (dim) GROUP BY c.vec_id),
    w{i} AS (
      SELECT c.dim,
             SUM(CAST(c.qx AS HUGEINT) * CAST(s{i}.s AS HUGEINT)) AS wdec
      FROM comp c JOIN s{i} USING (vec_id) GROUP BY c.dim),
    m{i} AS (SELECT MAX(ABS(wdec)) AS m FROM w{i}),
    wn{i} AS (
      SELECT w.dim,
             CAST(floor(CAST(w.wdec AS DOUBLE) * 100000.0
                        / CAST(m.m AS DOUBLE) + 0.5) AS BIGINT) AS wn
      FROM w{i} w CROSS JOIN m{i} m WHERE m.m > 0),
    n2_{i} AS (SELECT CAST(SUM(wn * wn) AS BIGINT) AS n2 FROM wn{i}),
    v{i} AS (
      SELECT w.dim,
             CAST(floor(CAST(w.wn AS DOUBLE) * 10000000.0
                        / sqrt(CAST(n.n2 AS DOUBLE)) + 0.5) AS BIGINT) AS qv
      FROM wn{i} w CROSS JOIN n2_{i} n)"""


@register(
    "pca_power_iteration",
    f"""
    WITH types AS (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (ORDER BY event_type) AS BIGINT) AS dim
      FROM (SELECT DISTINCT event_type FROM events)),
    comp AS (
      SELECT e.user_id AS vec_id, t.dim, CAST(COUNT(*) AS BIGINT) AS qx
      FROM events e JOIN types t USING (event_type)
      GROUP BY 1, 2),
    v0 AS (SELECT dim, CAST(10000000 AS BIGINT) AS qv FROM types),
    {_pca_iter_sql('v0', 1)},
    {_pca_iter_sql('v1', 2)}
    SELECT t.event_type, v2.qv AS v_q7,
           CAST(floor(CAST(m.m AS DOUBLE) * sqrt(CAST(n.n2 AS DOUBLE))
                      / 100000.0 / 10000000.0 + 0.5) AS BIGINT)
             AS lambda_est
    FROM v2 JOIN types t USING (dim) CROSS JOIN m2 m CROSS JOIN n2_2 n
    """,
    doc="Top principal component by TWO rounds of distributed power "
    "iteration over the user x event-type activity matrix — the "
    "dominant usage-profile direction, and the engine's template for "
    "iterative linear algebra on ANY (row, dim, value) relation "
    "(PCA/whitening before OPQ/IVF-PQ indexing is the embedding-"
    "pipeline instance). Each round: (1) s_i = c_i . v, an int64 sum "
    "over the count relation joined to the broadcast per-dim vector; "
    "(2) w = C^T s, an EXACT decimal(38)/HUGEINT sum (this is where "
    "naive double sums diverge across partitionings and engines); "
    "(3) renormalize to +-1e5 off the exact MAX(|w|) so the norm is an "
    "ORDER-FREE int64 sum of squares, then requantize to the Q=1e7 "
    "unit iterate. Every cross-stage division is one correctly-rounded "
    "IEEE op on deterministic inputs, so the oracle reproduces the "
    "eigenvector iterate AND the norm-growth eigenvalue estimate "
    "bit-for-bit. Convergence is the classical (lambda2/lambda1)^k: "
    "this matrix is mean-dominated (every user does every event type "
    "at similar rates), so two rounds land within ~1e-3 of the true "
    "eigenvector — for a near-isotropic spectrum (e.g. the synthetic "
    "embeddings table) the iterate is equally deterministic but more "
    "rounds would be scheduled, each a cheap narrow pass. Scale "
    "shape: per round, two equi-join hash aggregations over the "
    "persisted component relation; only the per-dim vector broadcasts "
    "— the iterate-over-persisted-relation pattern of "
    "pagerank_two_rounds.",
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    types = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.row_number()
            .over(Window.orderBy("event_type"))
            .cast("long")
            .alias("dim"),
        )
    )
    comp = (
        ev.join(F.broadcast(types), "event_type")
        .groupBy(F.col("user_id").alias("vec_id"), "dim")
        .agg(F.count("*").cast("long").alias("qx"))
    )
    v = types.select("dim", F.lit(_PCA_Q).cast("long").alias("qv"))

    # Per round, the DISTRIBUTED work is the two hash aggregations over
    # comp (s = C v, w = C^T s); the resulting w is one row per DIM —
    # a handful — so the renormalization runs on the DRIVER and the
    # next iterate re-enters as a literal-backed broadcast relation.
    # The previous form chained every round's 1-row scalar aggregates
    # into the next round's plan via crossJoin(broadcast(...)), which
    # duplicated the whole lineage ~4x per round; driver analysis
    # dominated wall time (the bpe_train_k_rounds lesson; 8.4s -> ~2s
    # at sf0.1). Value-identical: float(Decimal), math.floor and
    # math.sqrt are the same correctly-rounded IEEE doubles as the
    # in-plan decimal->double cast / FLOOR / SQRT the oracle runs.
    import math

    m_val = 0.0
    n2_val = 0.0
    for _ in (1, 2):
        s = (
            comp.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("qx") * F.col("qv")).cast("long").alias("s"))
        )
        w_rows = (
            comp.join(s, "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(
                    F.col("qx").cast("decimal(19,0)")
                    * F.col("s").cast("decimal(19,0)")
                ).alias("wdec")
            )
        ).collect()
        if not w_rows:
            break  # empty input: v stays the init relation (also empty)
        m_val = float(max(abs(r.wdec) for r in w_rows))
        if m_val <= 0:
            break
        wn = {
            r.dim: math.floor(float(r.wdec) * 100000.0 / m_val + 0.5)
            for r in w_rows
        }
        n2_val = float(sum(x * x for x in wn.values()))
        qv = {
            d: int(math.floor(x * 10000000.0 / math.sqrt(n2_val) + 0.5))
            for d, x in wn.items()
        }
        v = F.broadcast(
            ev.sparkSession.createDataFrame(
                sorted(qv.items()), "dim long, qv long"
            )
        )

    lam = m_val * math.sqrt(n2_val) / 100000.0 / 10000000.0
    return v.join(types, "dim").select(
        "event_type",
        F.col("qv").alias("v_q7"),
        F.lit(int(math.floor(lam + 0.5))).cast("long").alias("lambda_est"),
    )


# ---------------------------------------------------------------------------
# KMV mergeability rollup (daily sketches -> monthly distinct)
# ---------------------------------------------------------------------------


@register(
    "kmv_daily_merge",
    f"""
    WITH hashed AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM events),
    day_sk AS (
      SELECT day, h FROM (
        SELECT day, h,
               ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS r
        FROM hashed)
      WHERE r <= {_KMV_K}),
    merged AS (
      SELECT h FROM (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r
        FROM (SELECT DISTINCT h FROM day_sk))
      WHERE r <= {_KMV_K}),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS hk FROM merged)
    SELECT CAST((SELECT COUNT(DISTINCT day) FROM hashed) AS BIGINT)
             AS n_days,
           CASE WHEN n < {_KMV_K} THEN n
                ELSE CAST(floor({_KMV_NUM} / CAST(hk AS DOUBLE) + 0.5)
                          AS BIGINT) END AS est_users,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
             AS exact_users
    FROM st
    """,
    doc="KMV MERGEABILITY as a query — completing the daily-merge "
    "family (hll/hist/cms_daily_merge): per-DAY bottom-k sketches "
    "(the nightly artifact) merge into the monthly distinct-user "
    "estimate by re-ranking the unioned sketch rows alone — provably "
    "lossless (any hash in the global bottom-k is in its own day's "
    "bottom-k), raw keys never re-read. Unlike the HLL rollup this "
    "merged sketch ALSO retains theta-sketch set algebra over the "
    "merged period (kmv_theta_set_ops). Exact distinct joined in for "
    "the error profile. Shapes: one (day, hash) distinct pass, then "
    "bounded aggregations over <= days*k rows.",
)
def kmv_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sketch import (
        kmv_build,
        kmv_estimate,
    )

    k = _KMV_K
    ev = load(spark, sf_dir, "events")
    daily = kmv_build(
        ev.withColumn("day", F.col("ts").cast("date")),
        "user_id",
        group_cols=("day",),
        k=k,
    )
    # phase-2 re-rank of the unioned daily sketch rows (<= days*k of
    # them — bounded, so one global ranking task is the right plan)
    w = Window.orderBy("h")
    merged = (
        daily.select("h")
        .distinct()
        .withColumn("r", F.row_number().over(w).cast("long"))
        .filter(F.col("r") <= k)
    )
    est = kmv_estimate(merged, k=k).select(
        F.col("est_distinct").alias("est_users")
    )
    n_days = ev.select(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        n_days.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(exact))
        .select("n_days", "est_users", "exact_users")
    )


# ---------------------------------------------------------------------------
# CCNet-style per-language calibrated perplexity buckets
# ---------------------------------------------------------------------------


@register(
    "lang_calibrated_ppl_buckets",
    """
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
    v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY word),
    s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS vocab
          FROM v),
    lp AS (
      SELECT v.word,
             CAST(floor(-ln((v.cnt + 1.0)
                            / CAST(s.n_tokens + s.vocab AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS nll_nano
      FROM v CROSS JOIN s),
    doc AS (
      SELECT w.doc_id, MIN(w.lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(lp.nll_nano) AS BIGINT) AS sum_nano
      FROM w JOIN lp USING (word) GROUP BY w.doc_id),
    scored AS (
      SELECT doc_id, lang, n_toks,
             CAST(floor(CAST(sum_nano AS DOUBLE) / (n_toks * 1000.0) + 0.5)
                  AS BIGINT) AS nll_micro
      FROM doc)
    SELECT doc_id, lang, nll_micro,
           CAST(NTILE(3) OVER (PARTITION BY lang
                               ORDER BY nll_micro, doc_id) AS BIGINT)
             AS lang_bucket
    FROM scored
    """,
    doc="CCNet's ACTUAL calibration design (Wenzek et al. 2020 §4.3): "
    "perplexity head/middle/tail terciles computed WITHIN each "
    "language, not globally — a global cut (unigram_logprob_buckets) "
    "systematically discards high-perplexity languages wholesale; "
    "per-language NTILE keeps the head of EVERY language. Same "
    "quantized-nano-nat unigram pipeline (associative integer doc "
    "sums); the only new step is the partitioned rank, which at scale "
    "is per-language quantile-sketch thresholds "
    "(operators/sketch.hist_quantiles) rather than a total order — "
    "the partitionBy(lang) keeps even the exact form "
    "shuffle-bounded per group here.",
)
def lang_calibrated_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    )
    v = w.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    s = v.agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
    )
    nll = -F.log(
        (F.col("cnt") + F.lit(1.0))
        / (F.col("n_tokens") + F.col("vocab")).cast("double")
    )
    lp = v.join(F.broadcast(s)).select(
        "word",
        F.floor(nll * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("nll_nano"),
    )
    doc = (
        w.join(lp, "word")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count("*").cast("long").alias("n_toks"),
            F.sum("nll_nano").cast("long").alias("sum_nano"),
        )
    )
    scored = doc.select(
        "doc_id",
        "lang",
        F.floor(
            F.col("sum_nano").cast("double") / (F.col("n_toks") * F.lit(1000.0))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("nll_micro"),
    )
    tercile = F.ntile(3).over(
        Window.partitionBy("lang").orderBy(
            F.col("nll_micro").asc(), F.col("doc_id").asc()
        )
    )
    return scored.select(
        "doc_id", "lang", "nll_micro", tercile.cast("long").alias("lang_bucket")
    )


# ---------------------------------------------------------------------------
# user burstiness profile (Goh-Barabasi inter-arrival statistic)
# ---------------------------------------------------------------------------


@register(
    "user_burstiness_profile",
    """
    WITH g AS (
      SELECT user_id,
             CAST(date_diff('second',
                            LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id),
                            ts) AS BIGINT) AS gap_s
      FROM events),
    st AS (
      SELECT user_id,
             CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_s) AS BIGINT) AS sum_g,
             CAST(SUM(gap_s * gap_s) AS BIGINT) AS sum_g2
      FROM g WHERE gap_s IS NOT NULL GROUP BY user_id),
    m AS (
      SELECT user_id, n_gaps, sum_g,
             CAST(sum_g AS DOUBLE) / n_gaps AS mu,
             sqrt(CAST(sum_g2 AS DOUBLE) / n_gaps
                  - (CAST(sum_g AS DOUBLE) / n_gaps)
                    * (CAST(sum_g AS DOUBLE) / n_gaps)) AS sigma
      FROM st WHERE n_gaps >= 2)
    SELECT user_id, n_gaps,
           CAST(floor(mu + 0.5) AS BIGINT) AS mean_gap_s,
           CASE WHEN sigma + mu > 0
                THEN CAST(floor((sigma - mu) / (sigma + mu) * 1000.0 + 0.5)
                          AS BIGINT)
                ELSE -1000 END AS burstiness_milli
    FROM m
    """,
    doc="Per-user BURSTINESS (Goh & Barabasi 2008): "
    "B = (sigma - mu)/(sigma + mu) of the inter-arrival gap "
    "distribution, in [-1, 1] — B ~ 0 is Poisson traffic, B -> 1 is "
    "bursty (bot bursts, scraper storms), B -> -1 is pacemaker-"
    "regular (cron, heartbeats) — the behavioral fingerprint that "
    "separates organic users from automation BEFORE content-level "
    "signals exist (an all-zero-gap user — the perfectly synchronized "
    "burst — pins to B=-1000, the all-equal-gap limit, rather than "
    "tripping ANSI division). Gaps are exact integer seconds from one "
    "LAG pass (deterministic (ts, event_id) ordering); moments are "
    "exact int64 sums, so sigma and B are fixed expression trees over "
    "exact inputs — engine-identical to the final milli quantization. "
    "Scale "
    "shape: one window pass partitioned by user + one hash "
    "aggregation; nothing broadcast, nothing global.",
)
def user_burstiness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wnd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.unix_timestamp(F.col("ts"))
        - F.unix_timestamp(F.lag("ts").over(wnd))
    ).cast("long")
    g = ev.select("user_id", gap.alias("gap_s")).filter(
        F.col("gap_s").isNotNull()
    )
    st = g.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("sum_g"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("sum_g2"),
    )
    mu = F.col("sum_g").cast("double") / F.col("n_gaps")
    sigma = F.sqrt(
        F.col("sum_g2").cast("double") / F.col("n_gaps") - mu * mu
    )
    # sigma + mu == 0 iff every gap is zero (a perfectly synchronized
    # burst): the all-equal-gap limit of B is -1 (maximally regular),
    # and ANSI division would otherwise throw — pin B = -1000 there,
    # identically in the oracle.
    b = F.when(
        (sigma + mu) > 0,
        F.floor(
            (sigma - mu) / (sigma + mu) * F.lit(1000.0) + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(-1000))
    return (
        st.filter(F.col("n_gaps") >= 2)
        .select(
            "user_id",
            "n_gaps",
            F.floor(mu + F.lit(0.5)).cast("long").alias("mean_gap_s"),
            b.cast("long").alias("burstiness_milli"),
        )
    )


# ---------------------------------------------------------------------------
# reciprocal-rank-fusion hybrid retrieval (lexical + semantic)
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard fusion constant (Cormack et al. 2009)
_RRF_TOP = 20


@register(
    "rrf_hybrid_retrieval",
    f"""
    WITH lex_scores AS ({_ql_sql()}),
    lex AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
                  AS BIGINT) AS rank_lex
      FROM lex_scores),
    q AS (
      SELECT unnest(embedding) AS qx,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings WHERE vec_id = 0),
    c AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    d AS (
      SELECT vec_id, {_DOT_DEC} AS dot
      FROM c JOIN q USING (dim)
      WHERE vec_id != 0
      GROUP BY vec_id),
    n AS (
      SELECT vec_id AS nid, {_NORM_DEC} AS norm2
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id),
    sem AS (
      SELECT vec_id AS doc_id,
             CAST(ROW_NUMBER() OVER (
               ORDER BY (d.dot / (sqrt(nq.norm2) * sqrt(nc.norm2))) DESC,
                        vec_id) AS BIGINT) AS rank_sem
      FROM d JOIN n nq ON nq.nid = 0
             JOIN n nc ON nc.nid = d.vec_id),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.rank_lex, s.rank_sem,
             CAST(COALESCE(CAST(floor(1000000000.0 / ({_RRF_K} + l.rank_lex)
                                      + 0.5) AS BIGINT), 0)
                  + COALESCE(CAST(floor(1000000000.0 / ({_RRF_K} + s.rank_sem)
                                        + 0.5) AS BIGINT), 0)
               AS BIGINT) AS fused_nano
      FROM lex l FULL JOIN sem s ON s.doc_id = l.doc_id)
    SELECT doc_id, rank_lex, rank_sem, fused_nano,
           rank FROM (
      SELECT doc_id, rank_lex, rank_sem, fused_nano,
             CAST(ROW_NUMBER() OVER (ORDER BY fused_nano DESC, doc_id)
                  AS BIGINT) AS rank
      FROM fused)
    WHERE rank <= {_RRF_TOP}
    """,
    doc="Reciprocal-rank fusion (Cormack et al. 2009, k=60) of the two "
    "retrieval families the engine already scores — Dirichlet query "
    "likelihood (lexical) and exact-decimal cosine to a query vector "
    "(semantic) — the standard hybrid-search recipe, over the "
    "doc_id ≡ vec_id alignment curation_pipeline established. Ranks "
    "are deterministic (score DESC, id tie-break); each list's RRF "
    "contribution 1/(k+rank) is quantized to int64 nano-units BEFORE "
    "the sum, so fusion is an order-free integer add, and a doc "
    "missing from one list (the query vector itself) contributes only "
    "the other list's term via the FULL join + COALESCE — classical "
    "RRF semantics exactly. Scale: two rankings the engine already "
    "computes plus one full outer equi-join on doc_id and a top-k; "
    "fusion adds no scan of anything.",
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exact_cosine_scores,
        exploded_components,
    )

    lex_scores = dirichlet_ql_scores(spark, sf_dir)
    w_lex = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id"))
    lex = lex_scores.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("rank_lex")
    )

    emb = load(spark, sf_dir, "embeddings")
    q = exploded_components(
        emb.filter(F.col("vec_id") == 0).select(
            F.lit(0).cast("long").alias("q_id"), "embedding"
        ),
        "q_id",
        out_val="qx",
    )
    c = exploded_components(emb, "vec_id")
    w_sem = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    sem = exact_cosine_scores(q, c).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_sem).cast("long").alias("rank_sem"),
    )

    def contrib(rank_col):
        return F.coalesce(
            F.floor(
                F.lit(1000000000.0) / (F.lit(_RRF_K) + F.col(rank_col))
                + F.lit(0.5)
            ).cast("long"),
            F.lit(0),
        )

    fused = (
        lex.join(sem, "doc_id", "full")
        .select(
            "doc_id",
            "rank_lex",
            "rank_sem",
            (contrib("rank_lex") + contrib("rank_sem"))
            .cast("long")
            .alias("fused_nano"),
        )
    )
    w_f = Window.orderBy(F.col("fused_nano").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w_f).cast("long"))
        .filter(F.col("rank") <= _RRF_TOP)
    )


# ---------------------------------------------------------------------------
# group-wise Welch's t-test (A/B significance from exact moments)
# ---------------------------------------------------------------------------


@register(
    "ab_welch_ttest",
    """
    WITH q AS (
      SELECT event_type,
             user_id % 2 AS arm,
             CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qv
      FROM events),
    st AS (
      SELECT event_type,
             CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
             CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN qv END), 0)
                  AS BIGINT) AS s_a,
             CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN qv * qv END), 0)
                  AS BIGINT) AS s2_a,
             CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
             CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN qv END), 0)
                  AS BIGINT) AS s_b,
             CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN qv * qv END), 0)
                  AS BIGINT) AS s2_b
      FROM q GROUP BY event_type),
    m AS (
      SELECT event_type, n_a, n_b,
             CAST(s_a AS DOUBLE) / n_a AS mu_a,
             CAST(s_b AS DOUBLE) / n_b AS mu_b,
             (CAST(s2_a AS DOUBLE)
              - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1) / n_a AS va_n,
             (CAST(s2_b AS DOUBLE)
              - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1) / n_b AS vb_n
      FROM st WHERE n_a >= 2 AND n_b >= 2)
    SELECT event_type, n_a, n_b,
           CAST(floor((mu_a - mu_b) / sqrt(va_n + vb_n) * 1000000.0 + 0.5)
                AS BIGINT) AS t_micro,
           CAST(floor((va_n + vb_n) * (va_n + vb_n)
                      / (va_n * va_n / (n_a - 1) + vb_n * vb_n / (n_b - 1))
                      * 10.0 + 0.5) AS BIGINT) AS df_deci
    FROM m
    WHERE va_n + vb_n > 0
    """,
    doc="Welch's unequal-variance t-test per event_type, arms = "
    "user_id parity (the deterministic A/B assignment an experiment "
    "platform would hash): t = (mu_A - mu_B)/sqrt(s2_A/n_A + s2_B/n_B) "
    "with Welch-Satterthwaite degrees of freedom — the significance "
    "primitive every data-quality A/B comparison needs (did the new "
    "scraper change the value distribution?). Determinism: values are "
    "milli-quantized to int64 ONCE, all moments are exact integer "
    "sums in one conditional-aggregation pass (no per-arm shuffle), "
    "and t/df are fixed expression trees over the exact moments — "
    "engine-identical through the micro/deci quantizations. Scale "
    "shape: ONE hash aggregation keyed by event_type; the t statistic "
    "of a 100 TB group costs the same six numbers.",
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    qv = F.floor(F.col("value").cast("double") * F.lit(1000) + F.lit(0.5)).cast(
        "long"
    )
    q = ev.select(
        "event_type", (F.col("user_id") % 2).alias("arm"), qv.alias("qv")
    )

    def arm_aggs(a):
        is_arm = F.col("arm") == a
        tag = "a" if a == 0 else "b"
        return [
            F.count(F.when(is_arm, 1)).cast("long").alias(f"n_{tag}"),
            F.coalesce(F.sum(F.when(is_arm, F.col("qv"))), F.lit(0))
            .cast("long")
            .alias(f"s_{tag}"),
            F.coalesce(
                F.sum(F.when(is_arm, F.col("qv") * F.col("qv"))), F.lit(0)
            )
            .cast("long")
            .alias(f"s2_{tag}"),
        ]

    st = q.groupBy("event_type").agg(*arm_aggs(0), *arm_aggs(1))

    def mu(tag):
        return F.col(f"s_{tag}").cast("double") / F.col(f"n_{tag}")

    def v_over_n(tag):
        n = F.col(f"n_{tag}")
        s = F.col(f"s_{tag}")
        return (
            (F.col(f"s2_{tag}").cast("double") - s.cast("double") * s / n)
            / (n - 1)
            / n
        )

    m = st.filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2)).select(
        "event_type",
        "n_a",
        "n_b",
        mu("a").alias("mu_a"),
        mu("b").alias("mu_b"),
        v_over_n("a").alias("va_n"),
        v_over_n("b").alias("vb_n"),
    )
    t = (F.col("mu_a") - F.col("mu_b")) / F.sqrt(F.col("va_n") + F.col("vb_n"))
    df = (
        (F.col("va_n") + F.col("vb_n")) * (F.col("va_n") + F.col("vb_n"))
        / (
            F.col("va_n") * F.col("va_n") / (F.col("n_a") - 1)
            + F.col("vb_n") * F.col("vb_n") / (F.col("n_b") - 1)
        )
    )
    # a group whose value is constant in BOTH arms has zero pooled
    # variance: t is undefined and ANSI division would throw — such
    # groups are excluded, identically in the oracle
    m = m.filter((F.col("va_n") + F.col("vb_n")) > 0)
    return m.select(
        "event_type",
        "n_a",
        "n_b",
        F.floor(t * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("t_micro"),
        F.floor(df * F.lit(10.0) + F.lit(0.5)).cast("long").alias("df_deci"),
    )


# ---------------------------------------------------------------------------
# pass@k estimation (Chen et al. 2021, arXiv:2107.03374 §2.1)
# ---------------------------------------------------------------------------


@register(
    "passk_estimate",
    """
    WITH t AS (
      SELECT l_partkey AS task_id,
             CAST(COUNT(*) AS BIGINT) AS n_trials,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct
      FROM lineitem
      GROUP BY l_partkey)
    SELECT task_id, n_trials, n_correct,
           (1.0 - (CAST((n_trials - n_correct)
                        * (n_trials - n_correct - 1)
                        * (n_trials - n_correct - 2)
                        * (n_trials - n_correct - 3)
                        * (n_trials - n_correct - 4) AS DOUBLE)
                   / CAST(n_trials * (n_trials - 1) * (n_trials - 2)
                          * (n_trials - 3) * (n_trials - 4) AS DOUBLE)))
             AS pass_at_5
    FROM t
    WHERE n_trials >= 5
    """,
    doc="Unbiased pass@k estimator (Chen et al. 2021, Codex paper "
    "eq. 1): per task with n trials and c successes, "
    "pass@k = 1 - C(n-c,k)/C(n,k), computed as falling-factorial int64 "
    "products with ONE final double division so both engines emit the "
    "identical bit pattern (n<=trial-count keeps the products far below "
    "2^63; when n-c<k a zero factor lands in the numerator and the "
    "estimator is exactly 1, the same guard the reference numpy "
    "implementation special-cases). Tasks = parts, trials = lineitems, "
    "success = returnflag 'R' on the driver tables. Scale shape: one "
    "map-side-combined groupBy then a fixed per-row closed form - the "
    "canonical eval-aggregation job over billions of sampled "
    "completions is exactly this plan, and the counts relation merges "
    "across eval shards by addition.",
)
def passk_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    t = li.groupBy(F.col("l_partkey").alias("task_id")).agg(
        F.count("*").alias("n_trials"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("n_correct"),
    )
    n, c = F.col("n_trials"), F.col("n_correct")
    num = (
        (n - c) * (n - c - 1) * (n - c - 2) * (n - c - 3) * (n - c - 4)
    ).cast("double")
    den = (n * (n - 1) * (n - 2) * (n - 3) * (n - 4)).cast("double")
    return t.filter(n >= 5).select(
        "task_id",
        "n_trials",
        "n_correct",
        (F.lit(1.0) - num / den).alias("pass_at_5"),
    )


# ---------------------------------------------------------------------------
# trigram-indexed fuzzy string matching (pg_trgm-style similarity)
# ---------------------------------------------------------------------------


@register(
    "part_trigram_fuzzy_match",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    queries AS (
      SELECT p_name AS q_src,
             substr(p_name, 1, 1) || substr(p_name, 3) AS q_text
      FROM names
      WHERE substr(md5(p_name), 1, 1) IN ('0', '1')),
    ntg AS (
      SELECT DISTINCT p_name, substr(p_name, CAST(i AS INT), 3) AS tg
      FROM names, UNNEST(range(1, CAST(len(p_name) AS BIGINT) - 1)) AS t(i)),
    qtg AS (
      SELECT DISTINCT q_src, substr(q_text, CAST(i AS INT), 3) AS tg
      FROM queries, UNNEST(range(1, CAST(len(q_text) AS BIGINT) - 1)) AS t(i)),
    nsz AS (SELECT p_name, CAST(COUNT(*) AS BIGINT) AS nb FROM ntg GROUP BY p_name),
    qsz AS (SELECT q_src, CAST(COUNT(*) AS BIGINT) AS na FROM qtg GROUP BY q_src),
    shared AS (
      SELECT q.q_src, n.p_name, CAST(COUNT(*) AS BIGINT) AS tg_shared
      FROM qtg q JOIN ntg n USING (tg)
      GROUP BY q.q_src, n.p_name),
    scored AS (
      SELECT s.q_src, s.p_name AS match_name, s.tg_shared, qsz.na, nsz.nb,
             (CAST(s.tg_shared AS DOUBLE)
              / CAST(qsz.na + nsz.nb - s.tg_shared AS DOUBLE)) AS sim
      FROM shared s
      JOIN qsz ON qsz.q_src = s.q_src
      JOIN nsz ON nsz.p_name = s.p_name)
    SELECT q_src, match_name, tg_shared, na, nb, sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_src
                     ORDER BY sim DESC, match_name) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    doc="Trigram-indexed fuzzy string matching (the pg_trgm recipe): "
    "queries are deterministically corrupted part names (2nd char "
    "deleted, md5-selected subset), candidates come from an inverted "
    "trigram index equi-join - a query only ever meets names it shares "
    "a trigram with, never the full catalog - and Jaccard similarity "
    "over DISTINCT trigram sets ranks the top-3 per query (one double "
    "division, engine-identical). Scale shape: the index is "
    "explode->distinct->equi-join on the 3-char key; document-frequency "
    "capping (as in dedup_ngram_jaccard) bounds hot trigrams, and the "
    "per-pair agg is map-side combined. This is the fuzzy-join primitive "
    "for entity resolution over catalog-scale string columns.",
)
def part_trigram_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    queries = names.filter(
        F.substring(F.md5(F.col("p_name")), 1, 1).isin("0", "1")
    ).select(
        F.col("p_name").alias("q_src"),
        F.concat(
            F.substring(F.col("p_name"), 1, 1), F.expr("substr(p_name, 3)")
        ).alias("q_text"),
    )

    def trigrams(df: DataFrame, key: str, text: str) -> DataFrame:
        # length guard: sequence(1, len-2) DESCENDS for len < 3 and
        # substring would then fabricate phantom trigrams from
        # positions 0/negative; the oracle's range() is simply empty
        return (
            df.filter(F.length(F.col(text)) >= 3)
            .select(
                key,
                F.explode(
                    F.sequence(F.lit(1), F.length(F.col(text)) - 2)
                ).alias("i"),
                F.col(text),
            )
            .select(key, F.expr(f"substring({text}, i, 3)").alias("tg"))
            .distinct()
        )

    ntg = trigrams(names, "p_name", "p_name")
    qtg = trigrams(queries, "q_src", "q_text")
    nsz = ntg.groupBy("p_name").agg(F.count("*").alias("nb"))
    qsz = qtg.groupBy("q_src").agg(F.count("*").alias("na"))
    shared = (
        qtg.join(ntg, "tg")
        .groupBy("q_src", "p_name")
        .agg(F.count("*").alias("tg_shared"))
    )
    scored = (
        shared.join(qsz, "q_src")
        .join(nsz, "p_name")
        .select(
            "q_src",
            F.col("p_name").alias("match_name"),
            "tg_shared",
            "na",
            "nb",
            (
                F.col("tg_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("tg_shared")).cast("double")
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("q_src").orderBy(F.col("sim").desc(), "match_name")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_src", "match_name", "tg_shared", "na", "nb", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# triangle counting on the near-dup graph (transitivity audit)
# ---------------------------------------------------------------------------

# DuckDB twin of operators/similarity.embedding_near_dup_pairs at
# threshold 0.35 — the same edge relation dedup_embedding_cosine's
# oracle verifies (queries/llm.py), reduced to its (vec_a, vec_b) pairs.
_NEARDUP_EDGE_CTE = """
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings),
    n AS (
      SELECT vec_id,
             (CAST(list_sum(list_transform(qe, x -> x * x)) AS DOUBLE)
              / 100000000000000.0) AS norm2
      FROM q),
    bands AS (
      SELECT vec_id, t.bd,
             (CASE WHEN embedding[4 * t.bd + 1] > 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[4 * t.bd + 2] > 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[4 * t.bd + 3] > 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4 * t.bd + 4] > 0 THEN 8 ELSE 0 END) AS bv
      FROM embeddings CROSS JOIN (VALUES (0), (1), (2), (3)) t(bd)),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b ON a.bd = b.bd AND a.bv = b.bv
      WHERE a.vec_id < b.vec_id),
    edges AS (
      SELECT vec_a, vec_b
      FROM (SELECT c.vec_a, c.vec_b,
                   ((CAST(list_sum(list_transform(list_zip(qa.qe, qb.qe),
                          p -> p[1] * p[2])) AS DOUBLE) / 100000000000000.0)
                    / (sqrt(na.norm2) * sqrt(nb.norm2))) AS cosine
            FROM cand c
            JOIN q qa ON qa.vec_id = c.vec_a
            JOIN q qb ON qb.vec_id = c.vec_b
            JOIN n na ON na.vec_id = c.vec_a
            JOIN n nb ON nb.vec_id = c.vec_b)
      WHERE cosine >= 0.35)
"""


@register(
    "neardup_graph_triangles",
    f"""
    WITH {_NEARDUP_EDGE_CTE},
    deg AS (
      SELECT v AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT vec_a AS v FROM edges
            UNION ALL SELECT vec_b AS v FROM edges)
      GROUP BY v),
    tri AS (
      SELECT e1.vec_a AS a, e1.vec_b AS b, e2.vec_b AS c
      FROM edges e1
      JOIN edges e2 ON e2.vec_a = e1.vec_b
      JOIN edges e3 ON e3.vec_a = e1.vec_a AND e3.vec_b = e2.vec_b),
    tcnt AS (
      SELECT v AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS v FROM tri
            UNION ALL SELECT b AS v FROM tri
            UNION ALL SELECT c AS v FROM tri)
      GROUP BY v)
    SELECT d.vec_id, d.degree, COALESCE(t.n_triangles, CAST(0 AS BIGINT))
             AS n_triangles
    FROM deg d LEFT JOIN tcnt t ON t.vec_id = d.vec_id
    """,
    doc="Exact triangle counting on the embedding near-dup graph "
    "(edges = verified cosine>=0.35 pairs from the LSH-banded "
    "candidate generator - never all-pairs). Per node: degree and the "
    "number of near-dup triangles through it - the transitivity audit "
    "that justifies (or refutes) collapsing near-dup CLUSTERS instead "
    "of pairs: high triangle density means the >=tau relation is close "
    "to transitive and cluster-level dedup (dedup_clusters) loses "
    "little. Spark enumeration is DEGREE-ORIENTED (Schank-Wagner / "
    "Suri-Vassilvitskii MapReduce form): each edge points from its "
    "lower-(degree,id) endpoint, wedges fan out only from a triangle's "
    "minimum node, and the closing edge is an equi-join back to the "
    "canonical edge list - O(m^1.5) wedge volume regardless of skew, "
    "the bound a hub node would otherwise destroy. Each triangle is "
    "counted exactly once; the oracle's naive a<b<c 3-way join agrees "
    "on bounded inputs.",
)
def neardup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .agg(F.count("*").alias("degree"))
    )
    # Orient each edge from its lower-(degree, id) endpoint.
    da = deg.select(F.col("v").alias("vec_a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("v").alias("vec_b"), F.col("degree").alias("degb"))
    ed = edges.join(da, "vec_a").join(db, "vec_b")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("vec_a") < F.col("vec_b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("vec_a")).otherwise(F.col("vec_b")).alias("src"),
        F.when(a_first, F.col("vec_b")).otherwise(F.col("vec_a")).alias("dst"),
    )
    # Wedges from each minimum node: unordered out-neighbor pairs.
    o1 = oriented.select(F.col("src"), F.col("dst").alias("x"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("y"))
    wedges = o1.join(o2, "src").filter(F.col("x") < F.col("y"))
    # Close the wedge against the canonical (vec_a < vec_b) edge list.
    tri = wedges.join(
        edges,
        (F.col("x") == F.col("vec_a")) & (F.col("y") == F.col("vec_b")),
    ).select("src", "x", "y")
    tcnt = (
        tri.select(F.col("src").alias("v"))
        .unionAll(tri.select(F.col("x").alias("v")))
        .unionAll(tri.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.join(tcnt, "v", "left")
        .select(
            F.col("v").alias("vec_id"),
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Misra-Gries mergeable heavy-hitter summaries (Agarwal et al. 2012)
# ---------------------------------------------------------------------------

_MG_K = 8


@register(
    "mg_shard_merge",
    f"""
    WITH w AS (
      SELECT doc_id % 8 AS shard, unnest(string_split(text, ' ')) AS word
      FROM documents),
    f AS (SELECT shard, word, CAST(COUNT(*) AS BIGINT) AS c
          FROM w GROUP BY 1, 2),
    rk AS (
      SELECT shard, word, c,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY c DESC, word) AS rn
      FROM f),
    td AS (
      SELECT shard,
             COALESCE(MAX(CASE WHEN rn = {_MG_K} + 1 THEN c END), 0) AS t
      FROM rk GROUP BY shard),
    s AS (
      SELECT rk.shard, word, GREATEST(c - t, 0) AS cd
      FROM rk JOIN td USING (shard)),
    m AS (SELECT word, CAST(SUM(cd) AS BIGINT) AS ch
          FROM s WHERE cd > 0 GROUP BY word),
    mrk AS (
      SELECT word, ch,
             ROW_NUMBER() OVER (ORDER BY ch DESC, word) AS rn
      FROM m),
    tm AS (
      SELECT COALESCE(MAX(CASE WHEN rn = {_MG_K} + 1 THEN ch END), 0) AS t
      FROM mrk),
    exact AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS exact_count
              FROM w GROUP BY word),
    bound AS (
      SELECT CAST((SELECT SUM(t) FROM td) + (SELECT t FROM tm) AS BIGINT)
               AS err_bound)
    SELECT g.word, CAST(g.est AS BIGINT) AS est_count, e.exact_count,
           b.err_bound
    FROM (SELECT word, ch - (SELECT t FROM tm) AS est
          FROM mrk WHERE ch - (SELECT t FROM tm) > 0) g
    JOIN exact e ON e.word = g.word
    CROSS JOIN bound b
    """,
    doc="Misra-Gries MERGEABLE heavy-hitter summaries (Agarwal et al. "
    "2012, 'Mergeable Summaries' - the deterministic counter-based "
    "sibling of the hll/hist/cms/kmv daily-merge family): each shard "
    "(doc_id % 8, the stored per-partition artifact) keeps at most k=8 "
    "counters c_s(x) = max(f_s(x) - t_s, 0) where t_s is the shard's "
    "(k+1)-th largest count - the order-free batch form of an MG "
    "sweep; summaries merge by counter ADDITION and one re-trim by "
    "the merged (k+1)-th largest. Every output row carries its own "
    "certificate: exact_count - err_bound <= est_count <= exact_count "
    "with err_bound = sum(t_s) + t_merge (the pytest-pinned "
    "guarantee). Scale shape: shard summaries are <=k rows each - the "
    "merge aggregates (shards x k) rows no matter the corpus size; "
    "the exact_count join exists only for the certificate and is "
    "dropped in production, where the summary IS the stored state.",
)
def mg_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = docs.select(
        (F.col("doc_id") % 8).alias("shard"),
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    )
    f = w.groupBy("shard", "word").agg(F.count("*").alias("c"))
    rk = f.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("shard").orderBy(F.col("c").desc(), "word")
        ),
    )
    td = rk.groupBy("shard").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == _MG_K + 1, F.col("c"))), F.lit(0)
        ).alias("t")
    )
    s = rk.join(td, "shard").select(
        "word", F.greatest(F.col("c") - F.col("t"), F.lit(0)).alias("cd")
    )
    m = s.filter(F.col("cd") > 0).groupBy("word").agg(
        F.sum("cd").alias("ch")
    )
    mrk = m.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("ch").desc(), "word")),
    )
    tm = mrk.agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == _MG_K + 1, F.col("ch"))), F.lit(0)
        ).alias("t")
    )
    exact = w.groupBy("word").agg(F.count("*").alias("exact_count"))
    tsum = td.agg(F.sum("t").alias("ts"))
    g = (
        mrk.crossJoin(F.broadcast(tm))
        .select("word", (F.col("ch") - F.col("t")).alias("est"))
        .filter(F.col("est") > 0)
    )
    bound = tsum.crossJoin(tm).select(
        (F.col("ts") + F.col("t")).cast("long").alias("err_bound")
    )
    return (
        g.join(exact, "word")
        .crossJoin(F.broadcast(bound))
        .select(
            "word",
            F.col("est").cast("long").alias("est_count"),
            F.col("exact_count").cast("long"),
            "err_bound",
        )
    )


# ---------------------------------------------------------------------------
# retrieval-quality evaluation: nDCG@10 with label relevance
# ---------------------------------------------------------------------------

# 1e9/log2(rank+1) and its prefix sums, precomputed as integer literals
# so neither engine's libm rounding can perturb the nano-unit weights.
_NDCG_W = [
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
]
_NDCG_C = [0]
for _w in _NDCG_W:
    _NDCG_C.append(_NDCG_C[-1] + _w)
del _w
_NDCG_W_SQL = "[" + ", ".join(str(x) for x in _NDCG_W) + "]"
_NDCG_C_SQL = "[" + ", ".join(str(x) for x in _NDCG_C[1:]) + "]"
_DOT_Q = (
    "(CAST(SUM(CAST(floor(CAST(qx AS DOUBLE) * 10000000 + 0.5) AS BIGINT)"
    " * CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT))"
    " AS DOUBLE) / 100000000000000.0)"
)


@register(
    "ann_label_ndcg",
    f"""
    WITH comp AS (
      SELECT vec_id, label, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    qc AS (SELECT vec_id AS q_id, label AS q_label, x AS qx, dim
           FROM comp WHERE vec_id < 10),
    cc AS (SELECT vec_id, label, x, dim FROM comp WHERE vec_id >= 10),
    n AS (
      SELECT vec_id AS nid,
             (CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5)
                            AS BIGINT)
                      * CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5)
                             AS BIGINT)) AS DOUBLE)
              / 100000000000000.0) AS norm2
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id),
    d AS (
      SELECT q_id, vec_id, {_DOT_Q} AS dot
      FROM cc JOIN qc USING (dim)
      GROUP BY q_id, vec_id),
    s AS (
      SELECT q_id, vec_id,
             (dot / (sqrt(nq.norm2) * sqrt(nc.norm2))) AS cosine
      FROM d JOIN n nq ON nq.nid = q_id JOIN n nc ON nc.nid = vec_id),
    ranked AS (
      SELECT q_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM s),
    labels AS (SELECT vec_id, label FROM embeddings),
    qlab AS (SELECT vec_id AS q_id, label AS q_label FROM embeddings
             WHERE vec_id < 10),
    rel AS (
      SELECT r.q_id, r.rank,
             CASE WHEN l.label = ql.q_label THEN 1 ELSE 0 END AS rel
      FROM ranked r
      JOIN labels l ON l.vec_id = r.vec_id
      JOIN qlab ql ON ql.q_id = r.q_id
      WHERE r.rank <= 10),
    dcg AS (
      SELECT q_id,
             CAST(SUM(rel * ({_NDCG_W_SQL})[CAST(rank AS INT)]) AS BIGINT)
               AS dcg_nano
      FROM rel GROUP BY q_id),
    navail AS (
      SELECT ql.q_id,
             CAST(COUNT(CASE WHEN l.label = ql.q_label THEN 1 END) AS BIGINT)
               AS n_relevant
      FROM qlab ql
      CROSS JOIN (SELECT vec_id, label FROM embeddings WHERE vec_id >= 10) l
      GROUP BY ql.q_id)
    SELECT d.q_id, v.n_relevant, d.dcg_nano,
           CAST(({_NDCG_C_SQL})[CAST(GREATEST(LEAST(v.n_relevant, 10), 1) AS INT)]
                AS BIGINT) AS idcg_nano,
           CASE WHEN v.n_relevant = 0 THEN 0.0
                ELSE CAST(d.dcg_nano AS DOUBLE)
                     / CAST(({_NDCG_C_SQL})[CAST(LEAST(v.n_relevant, 10)
                                                 AS INT)] AS DOUBLE)
           END AS ndcg
    FROM dcg d JOIN navail v ON v.q_id = d.q_id
    """,
    doc="Retrieval-quality evaluation: nDCG@10 per query over the "
    "exact-cosine ranking (queries = vec_id<10, the ann_cosine_topk "
    "convention), with binary relevance = same embedding label. "
    "Discount weights 1e9/log2(rank+1) and their prefix sums are "
    "INTEGER LITERALS precomputed once - DCG and IDCG are exact int64 "
    "nano sums (order-free), and nDCG is one final double division, so "
    "neither engine's libm or summation order can perturb the metric. "
    "IDCG uses the achievable ideal: min(n_relevant, 10) weights. "
    "Scale shape: the ranking reuses the shared cosine contract "
    "(operators/similarity.py), relevance and DCG are narrow "
    "equi-joins + one partial agg per query; at 100 TB the eval "
    "runs over the candidate lists the ANN stage already produced "
    "(ann_ivf_* / ann_two_stage_rerank), never the full corpus.",
)
def ann_label_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exact_cosine_scores,
        exploded_components,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = exploded_components(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), "embedding"
        ),
        "q_id",
        out_val="qx",
    )
    c = exploded_components(
        emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding"),
        "vec_id",
    )
    s = exact_cosine_scores(q, c, "q_id", "vec_id")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    ranked = (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )
    labels = emb.select("vec_id", "label")
    qlab = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    warr = F.array(*[F.lit(x) for x in _NDCG_W])
    rel = (
        ranked.join(labels, "vec_id")
        .join(F.broadcast(qlab), "q_id")
        .select(
            "q_id",
            (
                F.when(F.col("label") == F.col("q_label"), 1).otherwise(0)
                * F.element_at(warr, F.col("rank"))
            ).alias("term"),
        )
    )
    dcg = rel.groupBy("q_id").agg(
        F.sum("term").cast("long").alias("dcg_nano")
    )
    # n_relevant(q) depends only on q's label: aggregate the candidate
    # labels once, then equi-join the 10 queries onto the counts — no
    # cross product anywhere.
    label_counts = (
        emb.filter(F.col("vec_id") >= 10)
        .groupBy("label")
        .agg(F.count("*").alias("n_relevant"))
    )
    navail = (
        qlab.join(
            F.broadcast(label_counts),
            qlab.q_label == label_counts.label,
            "left",
        )
        .select(
            "q_id",
            F.coalesce(F.col("n_relevant"), F.lit(0))
            .cast("long")
            .alias("n_relevant"),
        )
    )
    carr = F.array(*[F.lit(x) for x in _NDCG_C[1:]])
    idcg = F.element_at(
        carr,
        F.greatest(
            F.least(F.col("n_relevant"), F.lit(10)), F.lit(1)
        ).cast("int"),
    )
    return dcg.join(navail, "q_id").select(
        "q_id",
        "n_relevant",
        "dcg_nano",
        idcg.cast("long").alias("idcg_nano"),
        F.when(F.col("n_relevant") == 0, F.lit(0.0))
        .otherwise(
            F.col("dcg_nano").cast("double") / idcg.cast("double")
        )
        .alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# cross-source quantile normalization (rank → reference-distribution map)
# ---------------------------------------------------------------------------


_QNORM_SQL = """
    WITH src AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS src_rank,
             COUNT(*) OVER (PARTITION BY source) AS src_n
      FROM documents),
    gref AS (
      SELECT n_chars AS ref_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gidx
      FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    mapped AS (
      SELECT s.doc_id, s.source, s.n_chars,
             CAST(s.src_rank AS BIGINT) AS src_rank,
             CAST(s.src_n AS BIGINT) AS src_n,
             CASE WHEN s.src_n = 1 THEN 1
                  ELSE (2 * (s.src_rank - 1) * (t.n - 1) + (s.src_n - 1))
                       // (2 * (s.src_n - 1)) + 1
             END AS gidx
      FROM src s CROSS JOIN tot t)
    SELECT m.doc_id, m.source, m.n_chars, m.src_rank, m.src_n,
           CAST(g.ref_chars AS BIGINT) AS norm_chars
    FROM mapped m JOIN gref g ON g.gidx = m.gidx
    """


@register(
    "source_quantile_normalize",
    _QNORM_SQL,
    doc="Cross-source quantile normalization (the microarray/genomics "
    "classic, applied to curation scores): each document's "
    "within-source rank maps onto the GLOBAL reference distribution - "
    "the value at round((rank-1)*(N-1)/(n_src-1)) in the globally "
    "sorted order - so per-source score distributions become directly "
    "comparable before cross-source thresholding (the failure mode: a "
    "verbose source's raw lengths dominate a terse source's at any "
    "global cutoff). The index arithmetic is round-half-up done "
    "entirely in int64 ((2a(N-1)+(n-1)) div (2(n-1))) - no doubles "
    "anywhere, bit-identical by construction. Scale shape: two ranking "
    "exchanges (per-source, global) + one equi-join on the integer "
    "index; at 100 TB the global ranking becomes the stored "
    "equi-depth-histogram lookup (value_quantile_hist), turning the "
    "join into a broadcast against quantile boundaries.",
)
def source_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sw = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    src = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(sw).cast("long").alias("src_rank"),
        F.count("*")
        .over(Window.partitionBy("source"))
        .cast("long")
        .alias("src_n"),
    )
    gw = Window.orderBy("n_chars", "doc_id")
    glob = docs.select(
        F.col("n_chars").alias("ref_chars"),
        F.row_number().over(gw).cast("long").alias("gidx"),
    )
    tot = docs.agg(F.count("*").cast("long").alias("n"))
    gidx = F.expr(
        "CASE WHEN src_n = 1 THEN CAST(1 AS BIGINT) "
        "ELSE ((2 * (src_rank - 1) * (n - 1) + (src_n - 1)) "
        "div (2 * (src_n - 1))) + 1 END"
    )
    mapped = src.crossJoin(F.broadcast(tot)).select(
        "doc_id", "source", "n_chars", "src_rank", "src_n",
        gidx.alias("gidx"),
    )
    return mapped.join(glob, "gidx").select(
        "doc_id",
        "source",
        "n_chars",
        "src_rank",
        "src_n",
        F.col("ref_chars").cast("long").alias("norm_chars"),
    )


# ---------------------------------------------------------------------------
# audience overlap matrix (pairwise cohort Jaccard)
# ---------------------------------------------------------------------------


@register(
    "audience_overlap_matrix",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM ut GROUP BY event_type),
    ov AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, sa.n AS n_a, sb.n AS n_b, p.n_both,
           (CAST(p.n_both AS DOUBLE)
            / CAST(sa.n + sb.n - p.n_both AS DOUBLE)) AS jaccard
    FROM ov p
    JOIN sz sa ON sa.event_type = p.type_a
    JOIN sz sb ON sb.event_type = p.type_b
    """,
    doc="Pairwise audience-overlap matrix: for every pair of event "
    "types, the exact Jaccard of their user cohorts - the "
    "cohort-composition audit behind mixture decisions (and the exact "
    "twin of the KMV theta set-algebra estimate, kmv_theta_set_ops, "
    "which replaces this at 100 TB: per-cohort bottom-k sketches make "
    "the pairwise matrix a (cohorts x k)-row problem instead of a "
    "user-level self-join). Here the self-join is on the DISTINCT "
    "(user, type) relation - one dedup exchange, then an equi-join "
    "keyed on user whose fan-out is bounded by types-per-user, never "
    "users^2.",
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sz = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        both.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            F.col("n_both").cast("long"),
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# market-basket co-occurrence (item-item lift, per-item top-k)
# ---------------------------------------------------------------------------


@register(
    "part_cooccurrence_topk",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_orders_with
             FROM items GROUP BY l_partkey),
    tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM items),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    sym AS (
      SELECT part_a AS part, part_b AS other, n_ab FROM pairs
      UNION ALL
      SELECT part_b AS part, part_a AS other, n_ab FROM pairs),
    scored AS (
      SELECT s.part, s.other, s.n_ab,
             (CAST(s.n_ab * t.n_orders AS DOUBLE)
              / CAST(fa.n_orders_with * fb.n_orders_with AS DOUBLE)) AS lift
      FROM sym s
      JOIN freq fa ON fa.l_partkey = s.part
      JOIN freq fb ON fb.l_partkey = s.other
      CROSS JOIN tot t)
    SELECT part, other, n_ab, lift, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY part
                     ORDER BY n_ab DESC, other) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="Market-basket co-occurrence: per part, the top-5 co-ordered "
    "parts by support with exact lift "
    "(n_ab * n_orders / (n_a * n_b), int64 products, ONE double "
    "division - engine-identical). The pair generator is an equi-join "
    "on the basket key over the DISTINCT (order, part) relation, so "
    "pair volume is sum(basket_size^2), never items^2; at 100 TB the "
    "two standard guards apply verbatim: cap basket fan-out (drop or "
    "sample mega-baskets) and document-frequency-cap promiscuous "
    "items, exactly as dedup_ngram_jaccard does for hot shingles. "
    "This is the co-click/co-purchase prep feeding item-item "
    "recommenders and negative-sampling tables. Ranking-window audit "
    "(r6): the window partitions by PART — a key whose cardinality "
    "grows with the catalog, so groups spread across all shuffle "
    "partitions and each group's sort is bounded by that part's "
    "co-occurrence degree, which the same df-cap that guards the pair "
    "generator bounds; the salted two-phase rewrite "
    "(topk_orders_per_segment_twophase) is only needed for LOW-"
    "cardinality partition keys like top_ngrams_per_lang's lang.",
)
def part_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    freq = items.groupBy("l_partkey").agg(
        F.count("*").alias("n_orders_with")
    )
    tot = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    a = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
    )
    sym = pairs.select(
        F.col("part_a").alias("part"), F.col("part_b").alias("other"), "n_ab"
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("part"), F.col("part_a").alias("other"), "n_ab"
        )
    )
    fa = freq.select(F.col("l_partkey").alias("part"), F.col("n_orders_with").alias("na"))
    fb = freq.select(F.col("l_partkey").alias("other"), F.col("n_orders_with").alias("nb"))
    scored = (
        sym.join(fa, "part")
        .join(fb, "other")
        .crossJoin(F.broadcast(tot))
        .select(
            "part",
            "other",
            F.col("n_ab").cast("long"),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
            ).alias("lift"),
        )
    )
    w = Window.partitionBy("part").orderBy(F.col("n_ab").desc(), "other")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("part", "other", "n_ab", "lift", "rank")
    )


# ---------------------------------------------------------------------------
# chi-squared independence audit (segment x event-type contingency)
# ---------------------------------------------------------------------------


@register(
    "segment_type_chi2",
    """
    WITH joined AS (
      SELECT c.c_mktsegment AS segment, e.event_type
      FROM events e JOIN customer c ON e.user_id = c.c_custkey),
    cells AS (
      SELECT segment, event_type, CAST(COUNT(*) AS BIGINT) AS o
      FROM joined GROUP BY 1, 2),
    rows_m AS (SELECT segment, CAST(SUM(o) AS BIGINT) AS nr
               FROM cells GROUP BY segment),
    cols_m AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS nc
               FROM cells GROUP BY event_type),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    contrib AS (
      SELECT c.segment, c.event_type,
             CAST(floor(
               (CAST(c.o AS DOUBLE)
                - CAST(r.nr * l.nc AS DOUBLE) / CAST(t.n AS DOUBLE))
               * (CAST(c.o AS DOUBLE)
                  - CAST(r.nr * l.nc AS DOUBLE) / CAST(t.n AS DOUBLE))
               / (CAST(r.nr * l.nc AS DOUBLE) / CAST(t.n AS DOUBLE))
               * 1000000000.0 + 0.5) AS BIGINT) AS chi_nano
      FROM cells c
      JOIN rows_m r ON r.segment = c.segment
      JOIN cols_m l ON l.event_type = c.event_type
      CROSS JOIN tot t),
    dims AS (
      SELECT CAST((SELECT COUNT(*) FROM rows_m) AS BIGINT) AS n_rows,
             CAST((SELECT COUNT(*) FROM cols_m) AS BIGINT) AS n_cols)
    SELECT d.n_rows, d.n_cols,
           CAST((d.n_rows - 1) * (d.n_cols - 1) AS BIGINT) AS dof,
           CAST(SUM(c.chi_nano) AS BIGINT) AS chi2_nano,
           CAST(SUM(c.chi_nano) AS DOUBLE) / 1000000000.0 AS chi2
    FROM contrib c CROSS JOIN dims d
    GROUP BY d.n_rows, d.n_cols
    """,
    doc="Chi-squared independence audit over the segment x event-type "
    "contingency table (is behavior independent of segment? - the "
    "cohort-bias check run before attributing mixture differences to "
    "a source): observed counts from one join+groupBy pass, expected "
    "counts as the rank-1 margin product, and each cell's "
    "(O-E)^2/E contribution quantized to nano BEFORE the sum - the "
    "house rule that keeps a 25-term float sum order-free and "
    "engine-identical (same fixed expression tree per cell in both "
    "dialects). Scale shape: margins and cells are partial-agg "
    "rollups of the same fact join; the statistic aggregates "
    "|segments| x |types| cells no matter the fact volume. Degrees "
    "of freedom reported alongside for the caller's threshold table.",
)
def segment_type_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer")
    joined = ev.join(
        F.broadcast(cust.select(F.col("c_custkey"), F.col("c_mktsegment"))),
        ev.user_id == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("segment"), "event_type")
    cells = joined.groupBy("segment", "event_type").agg(
        F.count("*").alias("o")
    )
    rows_m = cells.groupBy("segment").agg(F.sum("o").alias("nr"))
    cols_m = cells.groupBy("event_type").agg(F.sum("o").alias("nc"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    e = (F.col("nr") * F.col("nc")).cast("double") / F.col("n").cast("double")
    chi_nano = F.floor(
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
        * 1000000000.0
        + 0.5
    ).cast("long")
    contrib = (
        cells.join(F.broadcast(rows_m), "segment")
        .join(F.broadcast(cols_m), "event_type")
        .crossJoin(F.broadcast(tot))
        .select(chi_nano.alias("chi_nano"))
    )
    dims = rows_m.agg(F.count("*").cast("long").alias("n_rows")).crossJoin(
        cols_m.agg(F.count("*").cast("long").alias("n_cols"))
    )
    return (
        contrib.agg(F.sum("chi_nano").cast("long").alias("chi2_nano"))
        .crossJoin(F.broadcast(dims))
        .select(
            "n_rows",
            "n_cols",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
            .cast("long")
            .alias("dof"),
            "chi2_nano",
            (F.col("chi2_nano").cast("double") / 1e9).alias("chi2"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (click -> purchase, right-censored)
# ---------------------------------------------------------------------------


@register(
    "click_to_purchase_survival",
    """
    WITH t0 AS (
      SELECT user_id, MIN(ts) AS first_click
      FROM events WHERE event_type = 'click' GROUP BY user_id),
    t1 AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN t0 ON t0.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= t0.first_click
      GROUP BY e.user_id),
    lastev AS (
      SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id),
    dur AS (
      SELECT t0.user_id,
             (t1.first_purchase IS NOT NULL) AS observed,
             CAST((epoch_us(COALESCE(t1.first_purchase, l.last_ts))
                   - epoch_us(t0.first_click)) // 86400000000 AS BIGINT)
               AS d_days
      FROM t0
      LEFT JOIN t1 ON t1.user_id = t0.user_id
      JOIN lastev l ON l.user_id = t0.user_id),
    day_tbl AS (
      SELECT d_days,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events
      FROM dur GROUP BY d_days),
    risk AS (
      SELECT d_days, n_total, n_events,
             CAST((SELECT COUNT(*) FROM dur) AS BIGINT)
               - CAST(COALESCE(SUM(n_total) OVER (ORDER BY d_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n_risk
      FROM day_tbl),
    terms AS (
      SELECT d_days, n_risk, n_events,
             CASE WHEN n_events = n_risk THEN NULL
                  ELSE CAST(floor(-ln(CAST(n_risk - n_events AS DOUBLE)
                                      / CAST(n_risk AS DOUBLE))
                                  * 1000000000 + 0.5) AS BIGINT)
             END AS term_nano
      FROM risk WHERE n_events > 0),
    km AS (
      SELECT d_days, n_risk, n_events,
             MAX(CASE WHEN term_nano IS NULL THEN 1 ELSE 0 END)
               OVER (ORDER BY d_days) AS absorbed,
             SUM(COALESCE(term_nano, 0)) OVER (ORDER BY d_days)
               AS cum_nano
      FROM terms)
    SELECT d_days, n_risk, n_events,
           CASE WHEN absorbed = 1 THEN 0.0
                ELSE CAST(floor(exp(-CAST(cum_nano AS DOUBLE)
                                    / 1000000000.0)
                                * 1000000000 + 0.5) AS BIGINT)
                     / 1000000000.0
           END AS surv
    FROM km
    """,
    doc="Kaplan-Meier survival estimator over click->purchase latency "
    "with RIGHT CENSORING (users who never purchase after their first "
    "click are censored at their last observed event - dropping them "
    "would bias conversion-speed estimates optimistic, the classic "
    "survival-analysis mistake). S(t) = prod(1 - d_i/n_i) over event "
    "days, computed as a cumulative int64 sum of nano-quantized "
    "-ln(1 - d/n) terms (ordered by day - a deterministic prefix sum, "
    "never a float product) with one exp at the end; the d = n "
    "absorbing state (everyone at risk converts) pins surv to exactly "
    "0.0 via a cumulative flag rather than ln(0); the final exp is "
    "nano-quantized (libm's last ulp differs across engines). "
    "Scale shape: "
    "per-user firsts are one partial-agg pass; the curve lives on the "
    "per-DAY relation (bounded by the horizon, not by users), and its "
    "prefix sums exchange at most #days rows.",
)
def click_to_purchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t0 = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    t1 = (
        ev.join(t0, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("first_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lastev = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    dur = (
        t0.join(t1, "user_id", "left")
        .join(lastev, "user_id")
        .select(
            "user_id",
            F.col("first_purchase").isNotNull().alias("observed"),
            F.expr(
                "CAST((unix_micros(COALESCE(first_purchase, last_ts)) "
                "- unix_micros(first_click)) div 86400000000 AS BIGINT)"
            ).alias("d_days"),
        )
    )
    day_tbl = dur.groupBy("d_days").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("observed").cast("long")).alias("n_events"),
    )
    n_users = dur.agg(F.count("*").cast("long").alias("n_users"))
    wprev = (
        Window.orderBy("d_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = (
        day_tbl.crossJoin(F.broadcast(n_users))
        .withColumn(
            "n_risk",
            (
                F.col("n_users")
                - F.coalesce(F.sum("n_total").over(wprev), F.lit(0))
            ).cast("long"),
        )
        .filter(F.col("n_events") > 0)
    )
    term = F.when(F.col("n_events") == F.col("n_risk"), F.lit(None)).otherwise(
        F.floor(
            -F.log(
                (F.col("n_risk") - F.col("n_events")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1000000000
            + 0.5
        ).cast("long")
    )
    wcum = Window.orderBy("d_days")
    km = risk.select(
        "d_days", "n_risk", "n_events", term.alias("term_nano")
    ).select(
        "d_days",
        "n_risk",
        F.col("n_events").cast("long"),
        F.max(
            F.when(F.col("term_nano").isNull(), 1).otherwise(0)
        ).over(wcum).alias("absorbed"),
        F.sum(F.coalesce(F.col("term_nano"), F.lit(0)))
        .over(wcum)
        .alias("cum_nano"),
    )
    return km.select(
        "d_days",
        "n_risk",
        "n_events",
        F.when(F.col("absorbed") == 1, F.lit(0.0))
        .otherwise(
            F.floor(
                F.exp(-F.col("cum_nano").cast("double") / 1e9) * 1000000000
                + 0.5
            ).cast("long")
            / F.lit(1000000000.0)
        )
        .alias("surv"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (forensic distribution check)
# ---------------------------------------------------------------------------

# round(log10(1 + 1/d) * 1e9) for d = 1..9, precomputed so no libm call
# participates in the comparison.
_BENFORD_NANO = [
    301029996, 176091259, 124938737, 96910013, 79181246,
    66946790, 57991947, 51152522, 45757491,
]
_BENFORD_SQL = "[" + ", ".join(str(x) for x in _BENFORD_NANO) + "]"


@register(
    "benford_price_audit",
    f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                               AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
               AS digit
      FROM orders),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_d FROM d
          GROUP BY digit),
    t AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM c)
    SELECT c.digit, c.n_d,
           CAST((c.n_d * 1000000000) // t.n AS BIGINT) AS p_obs_nano,
           CAST(({_BENFORD_SQL})[CAST(c.digit AS INT)] AS BIGINT)
             AS p_benford_nano,
           CAST(abs((c.n_d * 1000000000) // t.n
                    - ({_BENFORD_SQL})[CAST(c.digit AS INT)]) AS BIGINT)
             AS dev_nano
    FROM c CROSS JOIN t
    """,
    doc="Benford's-law first-digit audit (the forensic screen for "
    "fabricated or truncated numeric columns): observed first-digit "
    "shares of the exact-cents price against log10(1+1/d), with the "
    "expectations precomputed as integer nano literals and the "
    "observed share as one int64 floor-division - no float anywhere, "
    "so the deviation column is bit-exact. A uniform synthetic price "
    "column FAILS Benford loudly (large dev on digits 1-2), which is "
    "itself the audit's finding here - the test pins that. Scale "
    "shape: one narrow map + a 9-key partial-agg groupBy; the digit "
    "histogram merges across loads by addition.",
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    d = orders.select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n_d"))
    t = c.agg(F.sum("n_d").cast("long").alias("n"))
    barr = F.array(*[F.lit(x) for x in _BENFORD_NANO])
    p_obs = F.expr("(n_d * 1000000000) div n").cast("long")
    p_ben = F.element_at(barr, F.col("digit").cast("int")).cast("long")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n_d").cast("long"),
            p_obs.alias("p_obs_nano"),
            p_ben.alias("p_benford_nano"),
            F.abs(p_obs - p_ben).cast("long").alias("dev_nano"),
        )
    )


# ---------------------------------------------------------------------------
# prefix-filtered set-similarity join (PPJoin-style, certified lossless)
# ---------------------------------------------------------------------------


@register(
    "ppjoin_prefix_filter",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(range(1, len(w) - 1)) AS t(i)),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM sh GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id),
    shared AS (
      SELECT c.da, c.db, CAST(COUNT(*) AS BIGINT) AS tok_shared
      FROM cand c
      JOIN sh x ON x.doc_id = c.da
      JOIN sh y ON y.doc_id = c.db AND y.tok = x.tok
      GROUP BY c.da, c.db)
    SELECT s.da, s.db, s.tok_shared, sa.n AS n_a, sb.n AS n_b,
           (CAST(s.tok_shared AS DOUBLE)
            / CAST(sa.n + sb.n - s.tok_shared AS DOUBLE)) AS jaccard
    FROM shared s
    JOIN sz sa ON sa.doc_id = s.da
    JOIN sz sb ON sb.doc_id = s.db
    WHERE 2 * s.tok_shared >= sa.n + sb.n - s.tok_shared
    """,
    doc="Set-similarity self-join at Jaccard >= 0.5 over word-trigram "
    "shingle sets, with PPJoin prefix filtering (Xiao et al. 2008) as "
    "the candidate generator: tokens are globally ordered by "
    "(document frequency ASC, token), and a pair can reach J >= t "
    "ONLY by sharing a token among each side's first "
    "n - ceil(t*n) + 1 tokens in that order - so the index is built "
    "over PREFIXES, cutting candidate volume while remaining "
    "provably complete (the prefix-filter lemma). The ORACLE "
    "deliberately uses the naive any-shared-token candidate set: the "
    "hash-equality of both results IS the losslessness certificate, "
    "round after round. Verification counts shared tokens only for "
    "surviving candidates, and the J >= 0.5 gate is the integer "
    "cross-multiplication 2*shared >= union - no float threshold. "
    "Scale: rarest-first prefixes concentrate the index on "
    "low-df tokens, the same reason df-capping works for "
    "dedup_ngram_jaccard but without its approximation.",
)
def ppjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import exploded_shingles

    # spread examined and left OFF: three A/Bs read 0.92 / 0.96 / 1.02
    # vs unspread (flat; the 4-consumer persist already bounds the
    # explode cost) — reverted under the order-alternating harness.
    docs = load(spark, sf_dir, "documents")
    # distinct word trigrams with the >=3-token guard (a 2-word doc has
    # no shingles; the inline sequence() it replaces DESCENDED through
    # index 0 on short docs and threw). hashed=True: 8-byte join keys
    # through the index/verify shuffles (~30% faster; collision odds
    # and their bounded effect documented at the helper). The prefix
    # lemma needs only a CONSISTENT global order, which (df, hash)
    # provides just as well as (df, string).
    sh = (
        exploded_shingles(docs, n=3, hashed=True)
        .withColumnRenamed("shingle", "tok")
        # Four independent consumers (df_tok, sz, ordered, arrs) fan out
        # of this relation with DIFFERENT aggregations, so exchange
        # reuse can't dedup the explode — persist runs it once
        # (measured 7.0s -> 5.2s at sf0.1, identical 256 rows).
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_tok = sh.groupBy("tok").agg(F.count("*").alias("df"))
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    ordered = (
        sh.join(df_tok, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "tok")
            ),
        )
        .join(sz, "doc_id")
    )
    # t = 0.5: prefix length = n - ceil(n/2) + 1 = n div 2 + 1
    prefix = ordered.filter(
        F.col("rn") <= F.expr("n div 2 + 1")
    ).select("doc_id", "tok")
    a = prefix.select(F.col("doc_id").alias("da"), "tok")
    b = prefix.select(F.col("doc_id").alias("db"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    # Verify WITHOUT re-exploding: each doc's (distinct) shingle set is
    # one sorted array row, candidates fetch both arrays by two
    # equi-joins, and the overlap is a JVM-side array_intersect — the
    # old explode-join shuffled |cand| x avg(n_a) rows through the
    # verify; this ships |cand| rows and does the intersection in
    # whole-stage codegen. A length filter (J >= t needs
    # (1+t)·min >= t·(n_a+n_b), i.e. 3·min >= n_a+n_b at t=0.5, since
    # the overlap can't exceed the smaller set) kills size-mismatched
    # candidates before their arrays are even fetched.
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tok")).alias("toks"),
        F.count("*").alias("n"),
    )
    aa = arrs.select(
        F.col("doc_id").alias("da"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("n_a"),
    )
    ab = arrs.select(
        F.col("doc_id").alias("db"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("n_b"),
    )
    shared = (
        cand.join(aa, "da")
        .join(ab, "db")
        .filter(
            3 * F.least(F.col("n_a"), F.col("n_b"))
            >= F.col("n_a") + F.col("n_b")
        )
        .select(
            "da",
            "db",
            "n_a",
            "n_b",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long")
            .alias("tok_shared"),
        )
    )
    out = (
        shared.filter(
            2 * F.col("tok_shared")
            >= F.col("n_a") + F.col("n_b") - F.col("tok_shared")
        )
        .select(
            "da",
            "db",
            F.col("tok_shared").cast("long"),
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            (
                F.col("tok_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("tok_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
    # <=256 rows: materialize and release the persisted token relation
    # deterministically (the bench clears cache between queries; library
    # consumers must not accumulate pinned blocks).
    from kinesis_log_watcher_spark.queries.base import finalize_unpersist

    return finalize_unpersist(out, sh)


# ---------------------------------------------------------------------------
# exact 1-Wasserstein (EMD) distribution drift
# ---------------------------------------------------------------------------


@register(
    "value_emd_drift",
    """
    WITH b AS (
      SELECT event_type,
             LEAST(GREATEST(CAST(floor(CAST(value AS DOUBLE) / 10.0)
                                 AS BIGINT), 0), 49) AS bin
      FROM events WHERE event_type IN ('click', 'purchase')),
    counted AS (
      SELECT bin,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM b GROUP BY bin),
    spine AS (SELECT CAST(unnest(range(0, 50)) AS BIGINT) AS bin),
    cells AS (
      SELECT s.bin, COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
      FROM spine s LEFT JOIN counted c ON c.bin = s.bin),
    cum AS (
      SELECT bin,
             SUM(ca) OVER (ORDER BY bin) AS cum_a,
             SUM(cb) OVER (ORDER BY bin) AS cum_b,
             SUM(ca) OVER () AS n_a,
             SUM(cb) OVER () AS n_b
      FROM cells)
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(SUM(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT)
             AS emd_units,
           CASE WHEN MAX(n_a) > 0 AND MAX(n_b) > 0
                THEN CAST(SUM(abs(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
                     * 10.0 / CAST(MAX(n_a) * MAX(n_b) AS DOUBLE)
                ELSE 0.0
           END AS emd
    FROM cum
    """,
    doc="Exact 1-Wasserstein (earth-mover) distance between the click "
    "and purchase value distributions on the 50-bin milli grid: "
    "W1 = sum(|CDF_a - CDF_b|) * bin_width, computed ENTIRELY in "
    "int64 by cross-multiplying the unnormalized cumulative counts "
    "(|cum_a*n_b - cum_b*n_a|) and dividing once at the end - the "
    "drift metric that, unlike KL (source_unigram_kl), is finite on "
    "disjoint supports and respects the value metric (a 1-bin shift "
    "costs 1 bin-width, not infinity). Scale shape: one conditional "
    "partial-agg pass to 50 cells, prefix sums over the bounded bin "
    "relation; per-day EMD series against a reference histogram "
    "reuses the stored hist_daily_merge sketches unchanged.",
)
def value_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    b = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_type",
        F.least(
            F.greatest(
                F.floor(F.col("value").cast("double") / 10.0).cast("long"),
                F.lit(0),
            ),
            F.lit(49),
        ).alias("bin"),
    )
    counted = b.groupBy("bin").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("ca"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("cb"),
    )
    # full 0..49 spine: an EMPTY interior bin still separates the two
    # CDFs and must contribute its |cum_a*n_b - cum_b*n_a| term — the
    # present-bins-only sum undercounts W1 whenever mass sits across a
    # gap (same spine rule as the CMS join-size grid).
    spine = spark.range(50).select(F.col("id").cast("long").alias("bin"))
    cells = spine.join(counted, "bin", "left").select(
        "bin",
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    wc = Window.orderBy("bin")
    wall = Window.partitionBy()
    cum = cells.select(
        "bin",
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    diff = F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
    return cum.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.sum(diff).cast("long").alias("emd_units"),
        F.when(
            (F.max("n_a") > 0) & (F.max("n_b") > 0),
            F.sum(diff).cast("double")
            * 10.0
            / (F.max("n_a") * F.max("n_b")).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("emd"),
    )
