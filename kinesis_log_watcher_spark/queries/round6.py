"""Round-6 query family: approximate profiling, sketch-vs-exact error
panels, SQL-front-end parity, suffix-automaton text analysis, CDF quota
joins, TF-IDF retrieval, saturation curves, watermarked streaming dedup,
closure-table rollups, ridge regression, robust outliers, and URL domain
analytics.

Every query keeps the repo-wide determinism contract (queries/base.py
module docstring): integer-exact arithmetic end to end, or doubles
derived from exact integers through an op sequence written identically
in both dialects. Every SUM in oracle SQL is CAST to BIGINT at the
aggregation site — DuckDB promotes SUM(BIGINT) to HUGEINT, which
fetchdf() renders as float64 and breaks the driver's dtype-sensitive
hash on otherwise-equal values (the round-5 key_skew_profile lesson).

Reference parity note: the reference (/root/reference/main.go) is a
416-line Kinesis tailer with no analytics surface — these operators are
the SURVEY.md §2.2 "beyond-reference" engine surface, same family as
queries/llm.py and queries/mining.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kinesis_log_watcher_spark.functions.exact import dec
from kinesis_log_watcher_spark.queries.base import load, register

# ---------------------------------------------------------------------------
# 1. orders_column_profile_approx — the 100 TB twin of orders_column_profile
# ---------------------------------------------------------------------------
#
# The exact profile's six COUNT(DISTINCT)s plan as one Expand (6 streams
# over the scan). This twin replaces them with one HyperLogLog register
# table per column: unpivot each row into 6 (col_name, canonical-string)
# cells, then ONE groupBy(col_name, register) MAX — no Expand, state is
# 6 x 2^p registers regardless of input size, and per-load register
# tables merge by the same MAX for incremental profiling.

_PROF_P = 10
_PROF_M = 1 << _PROF_P
_PROF_K = 60 - _PROF_P + 1  # 51: rho field width of the 60-bit hash
_PROF_ALPHA = 0.7213 / (1 + 1.079 / _PROF_M)
_PROF_ALPHA_NUM = _PROF_ALPHA * _PROF_M * _PROF_M * float(1 << _PROF_K)

# Canonical per-column string representations, shared by both dialects
# (same reprs the exact profile's min/max columns already bit-match on):
# ints/dates via their SQL string cast, price via exact int64 cents.
_PROF_CELLS_SQL = """
      SELECT 'o_orderkey' AS col_name,
             CAST(o_orderkey AS VARCHAR) AS repr FROM orders
      UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL SELECT 'o_totalprice',
             CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS VARCHAR) FROM orders
      UNION ALL SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
      UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
"""


@register(
    "orders_column_profile_approx",
    f"""
    WITH cells AS (
{_PROF_CELLS_SQL}
    ),
    hashed AS (
      SELECT col_name,
             CAST('0x' || substr(md5(repr), 1, 15) AS BIGINT) AS h
      FROM cells WHERE repr IS NOT NULL),
    regs AS (
      SELECT col_name, h % {_PROF_M} AS r,
             MAX(CASE WHEN (h >> {_PROF_P}) = 0 THEN {_PROF_K}
                      ELSE {_PROF_K} - length(bin(h >> {_PROF_P})) END)
               AS m_rho
      FROM hashed GROUP BY 1, 2),
    stats AS (
      SELECT col_name, COUNT(*) AS present,
             CAST(SUM(1::BIGINT << ({_PROF_K} - m_rho)) AS BIGINT)
               AS s_present
      FROM regs GROUP BY 1),
    est AS (
      SELECT col_name, {_PROF_M} - present AS v,
             {_PROF_ALPHA_NUM!r}
               / (s_present + ({_PROF_M} - present)
                  * (1::BIGINT << {_PROF_K})) AS e_raw
      FROM stats),
    nulls AS (
      SELECT col_name,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(COUNT(*) - COUNT(repr) AS BIGINT) AS n_nulls
      FROM cells GROUP BY 1)
    SELECT n.col_name, n.n_total, n.n_nulls,
           CAST(floor(CASE WHEN e_raw <= {2.5 * _PROF_M!r} AND v > 0
                           THEN {float(_PROF_M)!r}
                                * ln({float(_PROF_M)!r} / v)
                           ELSE e_raw END + 0.5)
                AS BIGINT) AS n_distinct_approx
    FROM nulls n JOIN est e ON n.col_name = e.col_name
    """,
    doc="HLL column profile — the 100 TB swap orders_column_profile "
    "documents: per-column approximate distinct counts from one "
    f"register aggregation (p={_PROF_P}, {_PROF_M} registers/column) "
    "instead of six exact COUNT(DISTINCT)s through an Expand. Plan: "
    "scan -> 6-way stack (rows, not streams) -> groupBy(col, register) "
    "MAX -> 6-row estimate; register tables from separate loads merge "
    "by the same MAX, so the profile is append-incremental. Estimates "
    "are bit-matched against the same HLL math in SQL "
    "(operators/sketch.py hll_build/hll_estimate, 60-bit md5 hash, "
    "small-range linear counting).",
)
def orders_column_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sketch import hll_build, hll_estimate

    orders = load(spark, sf_dir, "orders")
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    reprs = [
        ("o_orderkey", F.col("o_orderkey").cast("string")),
        ("o_custkey", F.col("o_custkey").cast("string")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_totalprice", cents.cast("string")),
        ("o_orderdate", F.col("o_orderdate").cast("string")),
        ("o_orderpriority", F.col("o_orderpriority")),
    ]
    cells = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("col_name"), r.alias("repr"))
                    for c, r in reprs
                ]
            )
        ).alias("cell")
    ).select("cell.col_name", "cell.repr")
    # Cells feed the null-count aggregate and the register table; one
    # narrow relation, two partial aggs (at scale: persist or compute
    # nulls in the same pass via a register-row sidecar).
    cells = cells.persist(StorageLevel.MEMORY_AND_DISK)
    nulls = cells.groupBy("col_name").agg(
        F.count("*").cast("long").alias("n_total"),
        (F.count("*") - F.count("repr")).cast("long").alias("n_nulls"),
    )
    regs = hll_build(
        cells.filter(F.col("repr").isNotNull()), "repr", ("col_name",), p=_PROF_P
    )
    est = hll_estimate(regs, ("col_name",), p=_PROF_P)
    return nulls.join(est, "col_name").select(
        "col_name",
        "n_total",
        "n_nulls",
        F.floor(F.col("est_distinct") + 0.5).cast("long").alias("n_distinct_approx"),
    )


# ---------------------------------------------------------------------------
# 2. minhash_prob_vs_exact_jaccard — sketch error panel
# ---------------------------------------------------------------------------
#
# For every LSH candidate pair, compare the MinHash Jaccard estimate
# (matching signature components / k) against the exact shingle-set
# Jaccard, computed candidate-bounded: the pair list drives two posting
# joins, so cost is |candidates| x shingles-per-doc — never the
# inverted-index all-co-occurring-pairs blowup. This is the estimator
# calibration a production dedup pipeline runs on a sample panel before
# trusting the sketch at full scale.

from kinesis_log_watcher_spark.operators.dedup import (  # noqa: E402
    MINHASH_BANDS as _R6_BANDS,
    MINHASH_NUM_HASHES as _R6_K,
    exploded_shingles,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
)

_R6_SH_SQL = """
  sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 1),
             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
           ))) AS shingle
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3)
"""
_R6_ROWS = _R6_K // _R6_BANDS
_R6_MH_COLS = ",\n           ".join(
    f"MIN(md5('{k}|' || shingle)) AS m{k}" for k in range(_R6_K)
)
_R6_BAND_SIGS = ",\n           ".join(
    "md5(" + " || '|' || ".join(f"m{b * _R6_ROWS + r}" for r in range(_R6_ROWS)) + f") AS b{b}"
    for b in range(_R6_BANDS)
)
_R6_BAND_UNION = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS band, b{b} AS band_sig FROM sigs"
    for b in range(_R6_BANDS)
)
_R6_MATCH_SUM = "\n             + ".join(
    f"CASE WHEN sa.m{k} = sb.m{k} THEN 1 ELSE 0 END" for k in range(_R6_K)
)


@register(
    "minhash_prob_vs_exact_jaccard",
    f"""
    WITH {_R6_SH_SQL},
    mh AS (
      SELECT doc_id,
           {_R6_MH_COLS}
      FROM sh GROUP BY doc_id),
    sigs AS (
      SELECT doc_id,
           {_R6_BAND_SIGS}
      FROM mh),
    bands AS (
{_R6_BAND_UNION}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
              FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2),
    matches AS (
      SELECT c.doc_a, c.doc_b,
             CAST({_R6_MATCH_SUM} AS BIGINT) AS match_k
      FROM cand c
      JOIN mh sa ON sa.doc_id = c.doc_a
      JOIN mh sb ON sb.doc_id = c.doc_b)
    SELECT m.doc_a, m.doc_b, m.match_k,
           CAST(m.match_k * 1000000 // {_R6_K} AS BIGINT) AS est_micro,
           CAST(co.inter * 1000000
                // (za.sz + zb.sz - co.inter) AS BIGINT) AS exact_micro,
           CAST(abs(m.match_k * 1000000 // {_R6_K}
                    - co.inter * 1000000 // (za.sz + zb.sz - co.inter))
                AS BIGINT) AS err_micro
    FROM matches m
    JOIN common co ON co.doc_a = m.doc_a AND co.doc_b = m.doc_b
    JOIN sizes za ON za.doc_id = m.doc_a
    JOIN sizes zb ON zb.doc_id = m.doc_b
    """,
    doc=f"Sketch-accuracy panel: for every MinHash({_R6_K})+LSH"
    f"({_R6_BANDS} bands) candidate pair, the signature-match Jaccard "
    "estimate (matching components / k, in exact integer micro units) "
    "next to the true shingle-set Jaccard and the absolute error. The "
    "exact side is candidate-bounded — the pair list drives two "
    "posting equi-joins (pair -> doc_a's shingles -> matching doc_b "
    "postings), so cost is |candidates| x doc size, never all "
    "co-occurring pairs; at 100 TB this runs on an LSH-sampled panel "
    "exactly as written. Integer floor division on both sides "
    "(micro units), no float Jaccard anywhere.",
)
def minhash_prob_vs_exact_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: the 16-md5s-per-shingle MinHash map side is the
    # query's hot path; single-row-group layouts run it in ONE task
    # without the spread (measured 5.1 -> 2.4s at sf0.1, A/B r12).
    docs = load(spark, sf_dir, "documents", spread=True)
    # String shingles feed the md5 MinHash (signatures must be
    # engine-reproducible); the exact-intersection joins re-key on
    # xxhash64 — 8-byte shuffle keys instead of ~3-word strings, the
    # same tradeoff exploded_shingles(hashed=True) documents.
    sh = exploded_shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    sh_h = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    sig = minhash_signature(sh, _R6_K).persist(StorageLevel.MEMORY_AND_DISK)
    # cand feeds both the exact-intersection join and the signature
    # comparison — persist it or the band self-join runs twice
    cand = lsh_candidate_pairs(lsh_bands(sig, _R6_K, _R6_BANDS)).select(
        "doc_a", "doc_b"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh_h.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))
    common = (
        cand.join(sh_h.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh_h.withColumnRenamed("doc_id", "doc_b"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    match_k = sum(
        F.when(F.col(f"a.m{k}") == F.col(f"b.m{k}"), 1).otherwise(0)
        for k in range(_R6_K)
    ).cast("long")
    matches = (
        cand.join(sig.alias("a"), cand.doc_a == F.col("a.doc_id"))
        .join(sig.alias("b"), cand.doc_b == F.col("b.doc_id"))
        .select("doc_a", "doc_b", match_k.alias("match_k"))
    )
    # Integer floor division on BOTH sides — float `/` then cast
    # diverges between engines (DuckDB CAST(double) rounds to nearest,
    # Spark truncates).
    est = F.expr(f"match_k * 1000000 div {_R6_K}")
    exact = F.expr("inter * 1000000 div (sz_a + sz_b - inter)")
    return (
        matches.join(common, ["doc_a", "doc_b"])
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "match_k",
            est.alias("est_micro"),
            exact.alias("exact_micro"),
            F.abs(est - exact).alias("err_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 3. doc_length_histogram_sql — SQL front-end parity
# ---------------------------------------------------------------------------
#
# One SQL text, executed VERBATIM by both engines: Spark runs it through
# spark.sql() over a temp view, DuckDB runs it as the oracle. This pins
# the engine's ANSI-SQL front end (Catalyst parses the same string the
# oracle does) — the strongest possible dialect-parity check.

_LEN_HIST_SHARED_SQL = """
    SELECT LEAST(CAST(FLOOR(n_chars / 100.0) AS BIGINT), 20) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY LEAST(CAST(FLOOR(n_chars / 100.0) AS BIGINT), 20)
"""


@register(
    "doc_length_histogram_sql",
    _LEN_HIST_SHARED_SQL,
    doc="SQL-front-end parity: the histogram SQL string is shared — "
    "Spark executes it verbatim via spark.sql() over a temp view and "
    "the oracle IS the same text. Catalyst plans the GROUP BY exactly "
    "like the DataFrame twin (doc_length_histogram): scan with "
    "n_chars-only ReadSchema -> partial agg -> final agg, one shuffle "
    "on the 21-value bucket key (tiny, AQE coalesces).",
)
def doc_length_histogram_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_LEN_HIST_SHARED_SQL)


# ---------------------------------------------------------------------------
# 4. suffix_automaton_repeat_mass — linear-time distinct-substring kernel
# ---------------------------------------------------------------------------
#
# Per-document distinct-substring counting is the one text statistic in
# the family that no relational plan expresses: the suffix automaton
# computes it in O(L) per document (sum over states of len[v] -
# len[link[v]]), where SQL needs O(L^2) substring enumeration. The
# kernel runs as an Arrow-batched mapInPandas (the engine's designated
# slow path: JVM cannot express it, so a vectorized Python kernel with
# zero shuffle — each doc is independent), and the relational layer
# aggregates the per-doc stats. The oracle brute-forces the same counts
# by enumerating all O(L^2) substrings in SQL — feasible because both
# sides cap the analysis window at the first _SAM_CAP characters
# (sf0.01's 500-doc oracle enumerates ~1M substrings).

_SAM_CAP = 64


def _sam_distinct_substrings(s: str) -> int:
    """Suffix-automaton distinct substring count, O(len(s)).

    Standard online SAM construction (Blumer et al. 1985); the number
    of distinct substrings is the sum over non-initial states of
    len[v] - len[link[v]].
    """
    sa_len = [0]
    sa_link = [-1]
    trans: list[dict[str, int]] = [{}]
    last = 0
    for ch in s:
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = trans[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    return sum(sa_len[v] - sa_len[sa_link[v]] for v in range(1, len(sa_len)))


@register(
    "suffix_automaton_repeat_mass",
    f"""
    WITH pref AS (
      SELECT doc_id, lang, substr(text, 1, {_SAM_CAP}) AS s,
             length(substr(text, 1, {_SAM_CAP})) AS L
      FROM documents
      WHERE length(substr(text, 1, {_SAM_CAP})) >= 1),
    subs AS (
      SELECT doc_id, substr(s, CAST(i AS INTEGER), CAST(j AS INTEGER)) AS sub
      FROM pref,
           LATERAL unnest(range(1, L + 1)) AS t1(i),
           LATERAL unnest(range(1, L + 1)) AS t2(j)
      WHERE i + j <= L + 1),
    per_doc AS (
      SELECT p.doc_id, p.lang, p.L,
             (SELECT COUNT(DISTINCT sub) FROM subs
              WHERE subs.doc_id = p.doc_id) AS nd
      FROM pref p)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(L * (L + 1) // 2) AS BIGINT) AS total_substrings,
           CAST(SUM(nd) AS BIGINT) AS distinct_substrings,
           CAST(SUM(L * (L + 1) // 2 - nd) AS BIGINT) AS repeat_mass
    FROM per_doc GROUP BY lang
    """,
    doc="Suffix-automaton text analysis: per-language repeated-substring "
    f"mass over each document's first {_SAM_CAP} chars — "
    "total_substrings L(L+1)/2 minus the distinct-substring count, the "
    "classic SAM statistic (sum of len[v]-len[link[v]]; Blumer et al. "
    "1985). The O(L) kernel runs as an Arrow-batched mapInPandas (no "
    "relational plan expresses it; each doc independent -> zero "
    "shuffle before the final tiny groupBy), the oracle brute-forces "
    "the same counts by O(L^2) SQL substring enumeration. High repeat "
    "mass flags machine-generated/template text for quality filtering.",
)
def suffix_automaton_repeat_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("lang", "text")

    def kernel(batches):
        for pdf in batches:
            # NULL text drops (the oracle's length()>=1 predicate is NULL
            # on NULL); astype(str) would render None as the string 'None'
            notnull = pdf["text"].notna()
            prefixes = pdf["text"][notnull].astype(str).str.slice(0, _SAM_CAP)
            mask = prefixes.str.len() >= 1
            prefixes = prefixes[mask]
            langs = pdf["lang"][notnull][mask]
            ls = prefixes.str.len().astype("int64")
            nd = prefixes.map(_sam_distinct_substrings).astype("int64")
            yield pd.DataFrame(
                {"lang": langs, "L": ls, "nd": nd}
            )

    per_doc = docs.mapInPandas(kernel, schema="lang string, L long, nd long")
    total = (F.col("L") * (F.col("L") + 1) / 2).cast("long")
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(total).cast("long").alias("total_substrings"),
        F.sum("nd").cast("long").alias("distinct_substrings"),
        F.sum(total - F.col("nd")).cast("long").alias("repeat_mass"),
    )


# ---------------------------------------------------------------------------
# 5. cdf_stratified_quota_join — per-stratum exact quantile thresholds
# ---------------------------------------------------------------------------

_CDF_PCTS = (25, 50, 75)


@register(
    "cdf_stratified_quota_join",
    f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents),
    pcts AS (SELECT unnest(ARRAY{list(_CDF_PCTS)}) AS p),
    thresholds AS (
      SELECT r.source, p.p, r.n_chars AS thresh_chars,
             CAST(r.n AS BIGINT) AS n_total
      FROM ranked r JOIN pcts p
        ON r.rn = (p.p * r.n + 99) // 100)
    SELECT t.source, CAST(t.p AS BIGINT) AS p, t.thresh_chars, t.n_total,
           CAST(COUNT(*) AS BIGINT) AS n_le
    FROM thresholds t
    JOIN documents d ON d.source = t.source AND d.n_chars <= t.thresh_chars
    GROUP BY 1, 2, 3, 4
    """,
    doc="CDF quota join: per-stratum exact type-1 quantile thresholds "
    f"(p in {_CDF_PCTS}) picked by ordered rank (rn == ceil(p*n/100), "
    "deterministic tie-break on doc_id), then the tiny threshold "
    "relation joins BACK to the corpus to evaluate the empirical CDF "
    "at each threshold — the quantile-capped admission pattern a "
    "curation pipeline uses to cap per-source length outliers. One "
    "window sort per stratum + one broadcast-able threshold join; at "
    "100 TB swap the exact rank for the mergeable histogram sketch "
    "(operators/sketch.py) and keep the identical join shape. n_le is "
    "threshold-value based (count of n_chars <= thresh), so the "
    "result is independent of tie-break choices.",
)
def cdf_stratified_quota_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    pcts = F.explode(F.array(*[F.lit(p) for p in _CDF_PCTS])).alias("p")
    thresholds = (
        ranked.select("source", "n_chars", "rn", "n", pcts)
        .filter(F.col("rn") == F.expr("(p * n + 99) div 100"))
        .select(
            "source",
            F.col("p").cast("long").alias("p"),
            F.col("n_chars").alias("thresh_chars"),
            F.col("n").cast("long").alias("n_total"),
        )
    )
    corpus = docs.select(
        F.col("source").alias("d_source"), F.col("n_chars").alias("d_chars")
    )
    return (
        corpus.join(
            F.broadcast(thresholds),
            on=[
                F.col("d_source") == F.col("source"),
                F.col("d_chars") <= F.col("thresh_chars"),
            ],
        )
        .groupBy("source", "p", "thresh_chars", "n_total")
        .agg(F.count("*").cast("long").alias("n_le"))
    )


# ---------------------------------------------------------------------------
# 6. tfidf_cosine_pairs — sparse TF-IDF cosine via rare-term blocking
# ---------------------------------------------------------------------------

_TFIDF_TOP = 20
_TFIDF_BLOCK_DF_MIN = 2
_TFIDF_BLOCK_DF_MAX = 20
_TFIDF_ANCHORS = 3  # each doc blocks on its 3 rarest eligible grams
# Shared double expression: cosine from exact int64 dot/norms, written
# once so both engines execute the identical IEEE op sequence.
_COS_EXPR = (
    "CAST(floor(CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)


@register(
    "tfidf_cosine_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
             )) AS term
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2),
    n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * CAST(floor(ln((n.n + 1.0) / (df.df + 1.0)) * 1000.0
                                + 0.5) AS BIGINT) AS w
      FROM tf JOIN df USING (term) CROSS JOIN n_docs n),
    norms AS (
      SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS norm2
      FROM w GROUP BY doc_id),
    anchors AS (
      SELECT doc_id, term FROM (
        SELECT tf.doc_id, tf.term,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY df.df, tf.term) AS rn
        FROM tf JOIN df USING (term)
        WHERE df.df BETWEEN {_TFIDF_BLOCK_DF_MIN} AND {_TFIDF_BLOCK_DF_MAX})
      WHERE rn <= {_TFIDF_ANCHORS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM anchors a JOIN anchors b USING (term)
      WHERE a.doc_id < b.doc_id),
    dots AS (
      SELECT c.doc_a, c.doc_b, CAST(SUM(wa.w * wb.w) AS BIGINT) AS dot
      FROM cand c
      JOIN w wa ON wa.doc_id = c.doc_a
      JOIN w wb ON wb.doc_id = c.doc_b AND wb.term = wa.term
      GROUP BY 1, 2),
    scored AS (
      SELECT d.doc_a, d.doc_b,
             {_COS_EXPR} AS cos_micro
      FROM (SELECT doc_a, doc_b, dot FROM dots) d
      JOIN (SELECT doc_id, norm2 AS na FROM norms) x ON x.doc_id = d.doc_a
      JOIN (SELECT doc_id, norm2 AS nb FROM norms) y ON y.doc_id = d.doc_b)
    SELECT doc_a, doc_b, cos_micro FROM scored
    ORDER BY cos_micro DESC, doc_a, doc_b LIMIT {_TFIDF_TOP}
    """,
    doc="Sparse TF-IDF cosine similarity between documents over 3-gram "
    "terms: weights are exact int64 (tf x milli-quantized idf), so "
    "dots and norms are order-free integer sums; the cosine is one "
    "shared IEEE expression over those exact ints. Candidates come "
    f"from RAREST-ANCHOR blocking: each doc contributes only its "
    f"{_TFIDF_ANCHORS} rarest eligible grams (df in "
    f"[{_TFIDF_BLOCK_DF_MIN}, {_TFIDF_BLOCK_DF_MAX}], deterministic "
    "(df, term) order) as blocking keys, so candidate volume is "
    "bounded by anchors-per-doc x anchor-df — the canopy discipline "
    "that keeps the pair generator sub-quadratic when nearly every "
    "gram is rare (a naive any-rare-term block admitted 1.1M pairs "
    "on 5k docs; anchors admit ~40k). Near-dups share their rarest "
    "grams, so recall concentrates exactly where cosine is high. The "
    "FULL dot product is then computed candidate-bounded (pair -> "
    "doc_a postings -> matching doc_b postings), so hot terms still "
    "contribute weight without ever joining their postings. Top-"
    f"{_TFIDF_TOP} pairs, total order (cos DESC, doc_a, doc_b).",
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: the trigram explode below fans 5,000 docs into ~250k
    # term rows; single-row-group layouts run that in ONE task without
    # the spread (measured 5.8 -> 3.4s at sf0.1, A/B r12).
    docs = load(spark, sf_dir, "documents", spread=True)
    # Term occurrences WITH multiplicity (TF needs counts, so no
    # array_distinct — exploded_shingles dedups per doc and would lose tf).
    words = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - 2),
        lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
    )
    tf = (
        docs.filter(F.size(words) >= 3)
        .select("doc_id", F.explode(grams).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_docs = docs.count()
    df_rel = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf_milli = F.floor(
        F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) * 1000.0 + 0.5
    ).cast("long")
    # ONE tf-vs-df join feeds both the weight relation and the anchor
    # ranking — re-joining the corpus-scale tf relation twice was the
    # query's only repeated shuffle (r6 review finding)
    joined = tf.join(df_rel, "term").select(
        "doc_id", "term", "df", (F.col("tf") * idf_milli).alias("w")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w = joined.select("doc_id", "term", "w")
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).cast("long").alias("norm2"))
    wa = Window.partitionBy("doc_id").orderBy("df", "term")
    anchors = (
        joined.filter(
            (F.col("df") >= _TFIDF_BLOCK_DF_MIN)
            & (F.col("df") <= _TFIDF_BLOCK_DF_MAX)
        )
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= _TFIDF_ANCHORS)
        .select("term", "doc_id")
    )
    cand = (
        anchors.select("term", F.col("doc_id").alias("doc_a"))
        .join(anchors.select("term", F.col("doc_id").alias("doc_b")), "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    dots = (
        cand.join(
            w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")),
            "doc_a",
        )
        .join(
            w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")),
            ["doc_b", "term"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"))
    )
    scored = (
        dots.join(norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", F.expr(_COS_EXPR).alias("cos_micro"))
    )
    return scored.orderBy(
        F.col("cos_micro").desc(), "doc_a", "doc_b"
    ).limit(_TFIDF_TOP)


# ---------------------------------------------------------------------------
# 7. saturating_union_curve — vocabulary saturation (Heaps curve)
# ---------------------------------------------------------------------------

_SAT_BUCKETS = 20


@register(
    "saturating_union_curve",
    f"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS span FROM documents),
    toks AS (
      SELECT doc_id, unnest(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
             )) AS tok
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    first_seen AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
    bucketed AS (
      SELECT CAST((first_doc * {_SAT_BUCKETS}) // span AS BIGINT) AS bucket
      FROM first_seen CROSS JOIN mx),
    counts AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM bucketed GROUP BY bucket)
    SELECT bucket, n_new,
           CAST(SUM(n_new) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_vocab
    FROM counts
    """,
    doc="Data-scaling saturation curve (Heaps' law): split the corpus "
    f"into {_SAT_BUCKETS} ingest buckets by doc_id and count how many "
    "NEW 3-gram vocabulary entries each bucket contributes (each gram "
    "attributed to the bucket of its first-seen doc via MIN(doc_id) — "
    "one aggregation, no per-prefix rescans), plus the cumulative "
    "distinct curve. Answers 'is more data still adding vocabulary?' "
    "with one gram shuffle and a 20-row window — at 100 TB the same "
    "plan, with MIN as the order-free merge (or HLL per bucket for "
    "estimate-only curves).",
)
def saturating_union_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: interleaved A/B r12, 0.86 (1.0 -> 0.9s) at sf0.1.
    docs = load(spark, sf_dir, "documents", spread=True)
    span = docs.agg((F.max("doc_id") + 1).alias("span"))
    words = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - 2),
        lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
    )
    first_seen = (
        docs.filter(F.size(words) >= 3)
        .select("doc_id", F.explode(grams).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    counts = (
        first_seen.crossJoin(F.broadcast(span))
        .select(
            F.expr(f"(first_doc * {_SAT_BUCKETS}) div span").cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_new"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return counts.select(
        "bucket", "n_new", F.sum("n_new").over(w).cast("long").alias("cum_vocab")
    )


# ---------------------------------------------------------------------------
# 8. stream_watermark_dedup_ids — dropDuplicatesWithinWatermark
# ---------------------------------------------------------------------------


@register(
    "stream_watermark_dedup_ids",
    """
    SELECT DISTINCT user_id, event_type,
           date_trunc('minute', ts) AS minute_ts
    FROM events
    """,
    doc="Watermark-bounded streaming dedup: dropDuplicatesWithinWatermark "
    "on (user_id, event_type, minute(ts)) — unlike dropDuplicates, the "
    "state store evicts keys once the watermark passes them, so the "
    "dedup state is bounded by the lateness window instead of growing "
    "with the keyspace forever (THE requirement for dedup over an "
    "unbounded 100 TB/day stream). The replay sets the delay past the "
    "bounded input's time span, so the output is exactly the batch "
    "DISTINCT the oracle computes; production trades the delay down "
    "to its real out-of-orderness bound with the identical plan "
    "(streaming/windows.py run_watermark_dedup).",
)
def stream_watermark_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.windows import run_watermark_dedup

    return run_watermark_dedup(spark, f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# 9. taxonomy_rollup_closure — closure-table rollup over a node hierarchy
# ---------------------------------------------------------------------------
#
# Hierarchy from the part catalog: ROOT -> p_type -> p_type|p_brand ->
# part. The ancestor closure is materialized by iterated self-joins
# (depth-doubling would be log2(depth); the catalog depth is 3 so two
# chained joins suffice), then lineitem revenue rolls up to EVERY
# ancestor with one fact-to-closure join — the standard way to answer
# subtree aggregates over arbitrary-depth taxonomies without per-level
# reshuffles. Oracle: recursive CTE computing the identical closure.


@register(
    "taxonomy_rollup_closure",
    """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT 'P' || CAST(p_partkey AS VARCHAR) AS child,
             'B|' || p_type || '|' || p_brand AS parent
      FROM part
      UNION ALL
      SELECT DISTINCT 'B|' || p_type || '|' || p_brand, 'T|' || p_type
      FROM part
      UNION ALL
      SELECT DISTINCT 'T|' || p_type, 'ROOT' FROM part),
    closure AS (
      SELECT child AS node, parent AS anc FROM edges
      UNION ALL
      SELECT c.node, e.parent
      FROM closure c JOIN edges e ON c.anc = e.child),
    leaf_rev AS (
      SELECT 'P' || CAST(p.p_partkey AS VARCHAR) AS node,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      GROUP BY 1),
    rollup AS (
      SELECT cl.anc AS node,
             CAST(SUM(r.cents) AS BIGINT) AS revenue_cents,
             CAST(SUM(r.n_lines) AS BIGINT) AS n_lines,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM closure cl JOIN leaf_rev r ON r.node = cl.node
      GROUP BY 1)
    SELECT node,
           CAST(CASE WHEN node = 'ROOT' THEN 0
                     WHEN node LIKE 'T|%' THEN 1
                     ELSE 2 END AS BIGINT) AS level,
           n_parts, n_lines, revenue_cents
    FROM rollup
    """,
    doc="Closure-table taxonomy rollup: materialize the ancestor "
    "closure of the ROOT -> p_type -> p_type|p_brand -> part hierarchy "
    "by iterated equi-joins (2 chained joins for depth 3; the general "
    "pattern is the large-star iteration dedup_clusters already uses "
    "for unbounded depth), then roll lineitem revenue up to EVERY "
    "ancestor with ONE fact-to-closure join — subtree aggregates over "
    "an arbitrary-depth taxonomy without per-level reshuffles. Oracle "
    "= recursive CTE computing the identical closure. Revenue in "
    "exact int64 cents; internal nodes only (leaves repeat leaf_rev).",
)
def taxonomy_rollup_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    lineitem = load(spark, sf_dir, "lineitem")
    leaf = F.concat(F.lit("P"), F.col("p_partkey").cast("string"))
    brand_node = F.concat(F.lit("B|"), F.col("p_type"), F.lit("|"), F.col("p_brand"))
    type_node = F.concat(F.lit("T|"), F.col("p_type"))
    edges = (
        part.select(leaf.alias("child"), brand_node.alias("parent"))
        .distinct()
        .unionAll(part.select(brand_node.alias("child"), type_node.alias("parent")).distinct())
        .unionAll(part.select(type_node.alias("child"), F.lit("ROOT").alias("parent")).distinct())
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Ancestor closure by iterated self-join: depth-1 edges, then chain
    # through the parent pointer twice (catalog depth 3). For unbounded
    # DAGs the loop runs to fixpoint with doubling — O(log depth) rounds.
    closure = edges.select(F.col("child").alias("node"), F.col("parent").alias("anc"))
    frontier = closure
    up = edges.select(F.col("child").alias("anc"), F.col("parent").alias("next_anc"))
    for _ in range(2):
        frontier = frontier.join(up, "anc").select(
            "node", F.col("next_anc").alias("anc")
        )
        closure = closure.unionAll(frontier)
    leaf_rev = (
        part.join(lineitem, part.p_partkey == lineitem.l_partkey)
        .groupBy(leaf.alias("node"))
        .agg(
            F.sum((dec(F.col("l_extendedprice"), 12, 2) * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )
    level = (
        F.when(F.col("node") == "ROOT", 0)
        .when(F.col("node").startswith("T|"), 1)
        .otherwise(2)
        .cast("long")
    )
    return (
        closure.withColumnRenamed("node", "leaf_node")
        .join(leaf_rev.withColumnRenamed("node", "leaf_node"), "leaf_node")
        .groupBy(F.col("anc").alias("node"))
        .agg(
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.count("*").cast("long").alias("n_parts"),
        )
        .select("node", level.alias("level"), "n_parts", "n_lines", "revenue_cents")
    )


# ---------------------------------------------------------------------------
# 10. ols_ridge_normal_eq — ridge regression via exact normal equations
# ---------------------------------------------------------------------------
#
# y = l_extendedprice (cents), x1 = l_quantity, x2 = l_discount (pct
# points): solve (X'X + lambda*I) beta = X'y for [intercept, b1, b2] by
# Cramer's rule on the 3x3 system. Every moment is an exact int64
# (decimal sums of integer-valued columns), so both engines feed the
# IDENTICAL doubles into the IDENTICAL shared expression text — the
# closed form is bit-reproducible. One scan, one 1-row aggregate: the
# normal-equations trick that trains linear models on 100 TB with a
# single reduce (d^2 moments), no gradient iterations.

_RIDGE_LAMBDA = 1000

# Shared Cramer expressions over the moment columns (m_* are exact
# int64 -> CAST to DOUBLE once, in the moment list below).
_RIDGE_DET = (
    "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)"
    " + a13*(a12*a23 - a22*a13))"
)
_RIDGE_EXPRS = [
    # det(A with column i replaced by b) / det(A), quantized to micro
    f"CAST(floor((b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)"
    f" + a13*(b2*a23 - a22*b3)) / {_RIDGE_DET} * 1000000.0 + 0.5)"
    " AS BIGINT) AS beta0_micro",
    f"CAST(floor((a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13)"
    f" + a13*(a12*b3 - b2*a13)) / {_RIDGE_DET} * 1000000.0 + 0.5)"
    " AS BIGINT) AS beta1_micro",
    f"CAST(floor((a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13)"
    f" + b1*(a12*a23 - a22*a13)) / {_RIDGE_DET} * 1000000.0 + 0.5)"
    " AS BIGINT) AS beta2_micro",
    "CAST(n AS BIGINT) AS n",
]


@register(
    "ols_ridge_normal_eq",
    f"""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx1,
             CAST(SUM(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS sx2,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx1x1,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(CAST(l_discount AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS sx1x2,
             CAST(SUM(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)
                      * CAST(CAST(l_discount AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS sx2x2,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS sx1y,
             CAST(SUM(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)
                      * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS sx2y
      FROM lineitem),
    d AS (
      SELECT n,
             CAST(n AS DOUBLE) + {float(_RIDGE_LAMBDA)!r} AS a11,
             CAST(sx1 AS DOUBLE) AS a12,
             CAST(sx2 AS DOUBLE) AS a13,
             CAST(sx1x1 AS DOUBLE) + {float(_RIDGE_LAMBDA)!r} AS a22,
             CAST(sx1x2 AS DOUBLE) AS a23,
             CAST(sx2x2 AS DOUBLE) + {float(_RIDGE_LAMBDA)!r} AS a33,
             CAST(sy AS DOUBLE) AS b1,
             CAST(sx1y AS DOUBLE) AS b2,
             CAST(sx2y AS DOUBLE) AS b3
      FROM m)
    SELECT {", ".join(_RIDGE_EXPRS)} FROM d
    """,
    doc="Ridge regression by normal equations: price_cents ~ quantity + "
    "discount_pct, solved in closed form by Cramer's rule on "
    f"(X'X + {_RIDGE_LAMBDA}*I). All nine moments are exact int64 "
    "decimal sums computed in ONE scan / ONE 1-row reduce (the d^2-"
    "moment trick that fits linear models on 100 TB without gradient "
    "iterations), and the 3x3 solve is a SHARED expression string both "
    "engines execute over identical doubles — bit-reproducible betas, "
    "micro-quantized.",
)
def ols_ridge_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    disc = (dec(F.col("l_discount"), 12, 2) * 100).cast("long")
    price = (dec(F.col("l_extendedprice"), 12, 2) * 100).cast("long")
    m = li.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(q).cast("long").alias("sx1"),
        F.sum(disc).cast("long").alias("sx2"),
        F.sum(price).cast("long").alias("sy"),
        F.sum(q * q).cast("long").alias("sx1x1"),
        F.sum(q * disc).cast("long").alias("sx1x2"),
        F.sum(disc * disc).cast("long").alias("sx2x2"),
        F.sum(q * price).cast("long").alias("sx1y"),
        F.sum(disc * price).cast("long").alias("sx2y"),
    )
    lam = repr(float(_RIDGE_LAMBDA))
    d = m.selectExpr(
        "n",
        f"CAST(n AS DOUBLE) + {lam} AS a11",
        "CAST(sx1 AS DOUBLE) AS a12",
        "CAST(sx2 AS DOUBLE) AS a13",
        f"CAST(sx1x1 AS DOUBLE) + {lam} AS a22",
        "CAST(sx1x2 AS DOUBLE) AS a23",
        f"CAST(sx2x2 AS DOUBLE) + {lam} AS a33",
        "CAST(sy AS DOUBLE) AS b1",
        "CAST(sx1y AS DOUBLE) AS b2",
        "CAST(sx2y AS DOUBLE) AS b3",
    )
    return d.selectExpr(*_RIDGE_EXPRS)


# ---------------------------------------------------------------------------
# 11. robust_zscore_outliers — median/MAD outlier profile per group
# ---------------------------------------------------------------------------
#
# Robust statistics for data quality: per order priority, the exact
# lower median of the price distribution, the median absolute
# deviation, and how many orders sit beyond the standard 3.5-MAD fence.
# Unlike mean/stddev profiles (price_outlier_profile), the breakdown
# point is 50% — a corrupted feed cannot drag the fence. All integer:
# medians by ordered rank, the fence test cross-multiplied
# (1000*|x-med| > 3500*mad) so no division happens at all.


_ROBUST_ZSCORE_SQL = """
    WITH cents AS (
      SELECT o_orderpriority AS prio, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      FROM orders),
    med AS (
      SELECT prio, c AS med_cents FROM (
        SELECT prio, c,
               ROW_NUMBER() OVER (PARTITION BY prio
                                  ORDER BY c, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY prio) AS n
        FROM cents)
      WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT c.prio, c.c, abs(c.c - m.med_cents) AS ad, m.med_cents
      FROM cents c JOIN med m ON m.prio = c.prio),
    mad AS (
      SELECT prio, ad AS mad_cents FROM (
        SELECT prio, ad,
               ROW_NUMBER() OVER (PARTITION BY prio ORDER BY ad) AS rn,
               COUNT(*) OVER (PARTITION BY prio) AS n
        FROM dev)
      WHERE rn = (n + 1) // 2)
    SELECT d.prio,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(d.med_cents) AS med_cents,
           MIN(GREATEST(md.mad_cents, 1)) AS mad_cents,
           CAST(SUM(CASE WHEN 1000 * d.ad
                              > 3500 * GREATEST(md.mad_cents, 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad md ON md.prio = d.prio
    GROUP BY d.prio
    """


@register(
    "robust_zscore_outliers",
    _ROBUST_ZSCORE_SQL,
    doc="Robust outlier profile: per order priority, exact lower median "
    "(rank (n+1)/2, doc-key tie-break) and median absolute deviation "
    "by two ordered windows, then the 3.5-MAD fence evaluated by "
    "integer cross-multiplication (1000*|x-med| > 3500*mad) — no "
    "division, no floats, 50% breakdown point vs the mean/std profile. "
    "Scale: two window sorts per group (5 groups) + one broadcast "
    "median join; at 100 TB swap exact ranks for the mergeable "
    "histogram sketch and keep the fence arithmetic.",
)
def robust_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cents = orders.select(
        F.col("o_orderpriority").alias("prio"),
        "o_orderkey",
        (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long").alias("c"),
    )
    wp = Window.partitionBy("prio")
    med = (
        cents.select(
            "prio",
            "c",
            F.row_number().over(wp.orderBy("c", "o_orderkey")).alias("rn"),
            F.count("*").over(wp).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("prio", F.col("c").alias("med_cents"))
    )
    dev = cents.join(F.broadcast(med), "prio").select(
        "prio", "c", F.abs(F.col("c") - F.col("med_cents")).alias("ad"), "med_cents"
    )
    mad = (
        dev.select(
            "prio",
            "ad",
            F.row_number().over(wp.orderBy("ad")).alias("rn"),
            F.count("*").over(wp).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("prio", F.greatest(F.col("ad"), F.lit(1)).alias("mad_cents"))
    )
    return (
        dev.join(F.broadcast(mad), "prio")
        .groupBy("prio")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("med_cents").alias("med_cents"),
            F.min("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(
                    F.lit(1000) * F.col("ad") > F.lit(3500) * F.col("mad_cents"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# 12. url_domain_aggregate — URL parsing + registrable-domain rollup
# ---------------------------------------------------------------------------
#
# The per-domain rollup every web-corpus curation run starts with. The
# documents table carries no URL column, so both dialects construct the
# SAME deterministic URL per doc (documented synthetic input — the same
# convention pagerank_two_rounds uses to build its graph); the OPERATOR
# under test is the parsing: Spark uses the built-in parse_url
# (HOST/PATH/QUERY — JVM-side, codegen'd), the oracle re-derives the
# parts independently with string algebra, so a parse divergence fails
# the hash.

_URL_SQL = """
      SELECT doc_id, lang, source,
             'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
             || source || CAST(doc_id % 7 AS VARCHAR) || '.example.com/'
             || lang || '/page-' || CAST(doc_id AS VARCHAR)
             || CASE WHEN doc_id % 5 = 0 THEN '?ref=rss' ELSE '' END AS url
      FROM documents
"""


@register(
    "url_domain_aggregate",
    f"""
    WITH urls AS (
{_URL_SQL}
    ),
    parsed AS (
      SELECT doc_id, lang,
             string_split(string_split(url, '://')[2], '/')[1] AS host,
             string_split(string_split(url, '://')[2], '/')[2] AS path_seg1,
             CASE WHEN url LIKE '%?%'
                  THEN string_split(url, '?')[2] END AS query
      FROM urls),
    reg AS (
      SELECT doc_id, lang, host, path_seg1, query,
             array_to_string(list_slice(string_split(host, '.'),
                 len(string_split(host, '.')) - 1,
                 len(string_split(host, '.'))), '.') AS reg_domain
      FROM parsed)
    SELECT reg_domain, path_seg1 AS path_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(SUM(CASE WHEN query = 'ref=rss' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tracked
    FROM reg
    GROUP BY 1, 2
    """,
    doc="URL/domain analytics: parse host, first path segment, and query "
    "string with Spark's built-in parse_url (JVM, codegen), reduce the "
    "host to its registrable domain (last two labels — strips www. and "
    "shard prefixes), and roll up doc counts, distinct hosts, and "
    "tracking-tagged fetches per (domain, path-language). The oracle "
    "re-derives every part with independent string algebra over the "
    "same deterministically constructed URLs (the documents table has "
    "no URL column; construction is the documented synthetic input, "
    "parsing is the operator under test). Scale: pure narrow maps + "
    "one aggregation — the standard first pass over a crawl manifest.",
)
def url_domain_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/page-"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?ref=rss")).otherwise(F.lit("")),
    )
    parsed = docs.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )
    labels = F.split(F.col("host"), "\\.")
    reg_domain = F.concat_ws(
        ".", F.slice(labels, F.size(labels) - 1, 2)
    )
    path_lang = F.split(F.col("path"), "/")[1]
    return (
        parsed.select(
            reg_domain.alias("reg_domain"),
            path_lang.alias("path_lang"),
            "host",
            "query",
        )
        .groupBy("reg_domain", "path_lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.sum(F.when(F.col("query") == "ref=rss", 1).otherwise(0))
            .cast("long")
            .alias("n_tracked"),
        )
    )


# ===========================================================================
# wave 2 — retrieval evals, graph analytics, classifiers, time series
# ===========================================================================

# ---------------------------------------------------------------------------
# 13. retrieval_mrr_map — MRR + MAP@10 over the exact-cosine ranking
# ---------------------------------------------------------------------------
#
# Completes the retrieval-eval suite next to ann_label_ndcg: mean
# reciprocal rank and average precision per query, binary relevance =
# same embedding label. Reciprocal-rank and 1/i precision factors are
# INTEGER NANO LITERALS precomputed once (the nDCG discount-table
# trick), so every sum is order-free int64; AP's final normalization is
# one integer floor division by min(n_relevant, 10).

_RR_NANO = [round(1e9 / i) for i in range(1, 11)]
_RR_SQL = "[" + ", ".join(str(x) for x in _RR_NANO) + "]"

_EVAL_DOT_Q = (
    "(CAST(SUM(CAST(floor(CAST(qx AS DOUBLE) * 10000000 + 0.5) AS BIGINT)"
    " * CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT))"
    " AS DOUBLE) / 100000000000000.0)"
)


@register(
    "retrieval_mrr_map",
    f"""
    WITH comp AS (
      SELECT vec_id, label, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    qc AS (SELECT vec_id AS q_id, x AS qx, dim FROM comp WHERE vec_id < 10),
    cc AS (SELECT vec_id, x, dim FROM comp WHERE vec_id >= 10),
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
      SELECT q_id, vec_id, {_EVAL_DOT_Q} AS dot
      FROM cc JOIN qc USING (dim)
      GROUP BY q_id, vec_id),
    ranked AS (
      SELECT q_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY (dot / (sqrt(nq.norm2) * sqrt(nc.norm2))) DESC,
                        vec_id) AS rank
      FROM d JOIN n nq ON nq.nid = q_id JOIN n nc ON nc.nid = vec_id),
    qlab AS (SELECT vec_id AS q_id, label AS q_label FROM embeddings
             WHERE vec_id < 10),
    rel AS (
      SELECT r.q_id, r.rank,
             CASE WHEN l.label = ql.q_label THEN 1 ELSE 0 END AS rel
      FROM ranked r
      JOIN (SELECT vec_id, label FROM embeddings) l ON l.vec_id = r.vec_id
      JOIN qlab ql ON ql.q_id = r.q_id
      WHERE r.rank <= 10),
    hits AS (
      SELECT q_id, rank, rel,
             CAST(SUM(rel) OVER (PARTITION BY q_id ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS hits_at
      FROM rel),
    per_q AS (
      SELECT q_id,
             CAST(MIN(CASE WHEN rel = 1 THEN rank END) AS BIGINT)
               AS first_rel_rank,
             CAST(SUM(CASE WHEN rel = 1
                           THEN hits_at * ({_RR_SQL})[CAST(rank AS INT)]
                           ELSE 0 END) AS BIGINT) AS ap_sum_nano,
             CAST(SUM(rel) AS BIGINT) AS n_hits
      FROM hits GROUP BY q_id),
    nrel AS (
      SELECT ql.q_id,
             CAST(COUNT(CASE WHEN l.label = ql.q_label THEN 1 END)
                  AS BIGINT) AS n_relevant
      FROM qlab ql
      CROSS JOIN (SELECT label FROM embeddings WHERE vec_id >= 10) l
      GROUP BY ql.q_id)
    SELECT p.q_id,
           COALESCE(p.first_rel_rank, 0) AS first_rel_rank,
           CAST(CASE WHEN p.first_rel_rank IS NULL THEN 0
                     ELSE ({_RR_SQL})[CAST(p.first_rel_rank AS INT)]
                END AS BIGINT) AS rr_nano,
           CAST(CASE WHEN v.n_relevant = 0 THEN 0
                     ELSE p.ap_sum_nano // LEAST(v.n_relevant, 10)
                END AS BIGINT) AS ap_nano,
           p.n_hits, v.n_relevant
    FROM per_q p JOIN nrel v ON v.q_id = p.q_id
    """,
    doc="Retrieval evals MRR + MAP@10 per query over the exact-cosine "
    "ranking (queries = vec_id<10, candidates the rest, relevance = "
    "label match — the ann_label_ndcg conventions). Reciprocal-rank "
    "factors 1e9/i are integer literals, precision-at-i terms are "
    "hits_at(i) * lit(1e9/i) so AP's sum is order-free int64 and the "
    "normalization is ONE integer floor division by "
    "min(n_relevant, 10). Scale shape: identical to the nDCG eval — "
    "at 100 TB the ranking input is the ANN candidate lists, not the "
    "full corpus; the eval itself is one window + two tiny joins.",
)
def retrieval_mrr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding"), "vec_id"
    )
    s = exact_cosine_scores(q, c, "q_id", "vec_id")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    ranked = s.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)
    labels = emb.select("vec_id", "label")
    qlab = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    rel = (
        ranked.join(labels, "vec_id")
        .join(F.broadcast(qlab), "q_id")
        .select(
            "q_id",
            "rank",
            F.when(F.col("label") == F.col("q_label"), 1).otherwise(0).alias("rel"),
        )
    )
    wcum = (
        Window.partitionBy("q_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rr_arr = F.array(*[F.lit(x) for x in _RR_NANO])
    hits = rel.withColumn("hits_at", F.sum("rel").over(wcum).cast("long"))
    per_q = hits.groupBy("q_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).cast("long")
        .alias("first_rel_rank"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.col("hits_at") * F.element_at(rr_arr, F.col("rank")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("ap_sum_nano"),
        F.sum("rel").cast("long").alias("n_hits"),
    )
    label_counts = (
        emb.filter(F.col("vec_id") >= 10)
        .groupBy("label")
        .agg(F.count("*").alias("n_relevant"))
    )
    nrel = qlab.join(
        F.broadcast(label_counts), qlab.q_label == label_counts.label, "left"
    ).select(
        "q_id",
        F.coalesce(F.col("n_relevant"), F.lit(0)).cast("long").alias("n_relevant"),
    )
    rr = F.when(F.col("first_rel_rank").isNull(), F.lit(0)).otherwise(
        F.element_at(rr_arr, F.col("first_rel_rank").cast("int"))
    )
    ap = F.when(F.col("n_relevant") == 0, F.lit(0)).otherwise(
        F.expr("ap_sum_nano div least(n_relevant, 10)")
    )
    return (
        per_q.join(nrel, "q_id")
        .select(
            "q_id",
            F.coalesce(F.col("first_rel_rank"), F.lit(0))
            .cast("long")
            .alias("first_rel_rank"),
            rr.cast("long").alias("rr_nano"),
            ap.cast("long").alias("ap_nano"),
            "n_hits",
            "n_relevant",
        )
    )


# ---------------------------------------------------------------------------
# 14. link_prediction_adamic_adar — common-neighbor link scores
# ---------------------------------------------------------------------------

_AA_DEG_CAP = 64  # promiscuous-hub guard (the df-cap discipline)
_AA_TOP = 20


@register(
    "link_prediction_adamic_adar",
    f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    deg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY c),
    kept AS (
      SELECT e.c, e.s, d.deg FROM e JOIN deg d ON d.c = e.c
      WHERE d.deg BETWEEN 2 AND {_AA_DEG_CAP}),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CAST(floor(1000000000.0 / ln(CAST(a.deg AS DOUBLE))
                                 + 0.5) AS BIGINT)) AS BIGINT) AS aa_nano
      FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2)
    SELECT s1, s2, n_common, aa_nano,
           CAST(ROW_NUMBER() OVER (ORDER BY aa_nano DESC, s1, s2)
                AS BIGINT) AS rank
    FROM pairs
    ORDER BY aa_nano DESC, s1, s2 LIMIT {_AA_TOP}
    """,
    doc="Link prediction by Adamic-Adar: for supplier pairs, "
    "AA = sum over common customers of 1/ln(deg(customer)), each term "
    "nano-quantized (identical ln on identical int64 degrees in both "
    "engines) so the pair sum is order-free int64. The pair generator "
    "aggregates each customer's sorted supplier SET once, then expands "
    "combinations with a NARROW JVM array-HOF explode of packed-long "
    "pair keys — no edge self-join shuffle (10.0s -> 6.6s at sf0.1 "
    "with identical output; the residual cost is the inherent "
    "sum-of-deg^2 pair volume, which the cap bounds). Degree "
    f"window [2, {_AA_DEG_CAP}]: degree-1 customers contribute no "
    "pairs, mega-hubs are capped (the part_cooccurrence_topk guard), "
    "so pair volume is sum(min(deg,cap)^2), never suppliers^2. "
    f"Top-{_AA_TOP} predicted links, total order.",
)
def link_prediction_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # One aggregation builds each customer's sorted supplier set; the
    # pair expansion is a NARROW array-combination explode (JVM HOFs) —
    # no self-join shuffle of the edge relation. deg is the exact set
    # size, so the AA term comes straight off the array.
    lists = (
        e.groupBy("c")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        .filter(
            (F.size("ss") >= 2) & (F.size("ss") <= _AA_DEG_CAP)
        )
    )
    term = F.floor(
        F.lit(1_000_000_000.0) / F.log(F.size("ss").cast("double")) + F.lit(0.5)
    ).cast("long")
    # pairs packed into one long (s1 * 2^31 + s2 — supplier keys stay
    # < 2^31 through TPC-H SF ~200k and the product fits int64) so the
    # explode emits
    # primitive longs and the map-side combine hashes a single word
    combos = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size("ss")),
                lambda y: x * F.lit(1 << 31) + y,
            ),
        )
    )
    pairs = (
        lists.select(term.alias("t"), F.explode(combos).alias("p"))
        .groupBy("p")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum("t").cast("long").alias("aa_nano"),
        )
        .select(
            F.expr(f"p div {1 << 31}").alias("s1"),
            (F.col("p") % (1 << 31)).alias("s2"),
            "n_common",
            "aa_nano",
        )
    )
    w = Window.orderBy(F.col("aa_nano").desc(), "s1", "s2")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _AA_TOP)
        .select("s1", "s2", "n_common", "aa_nano", "rank")
    )


# ---------------------------------------------------------------------------
# 15. bfs_reach_hops — iterative BFS over the order bipartite graph
# ---------------------------------------------------------------------------
#
# Min-hop distances from a source node by frontier iteration: each round
# is one frontier-to-edges equi-join + a min-dist aggregate against the
# visited set — the textbook distributed BFS (hops are synchronous
# rounds; at 100 TB each round is one shuffle keyed on the node id,
# and the frontier relation is the only growing state). Node encoding:
# customer c -> 2c, supplier s -> 2s+1 (the pagerank_two_rounds
# convention). Oracle: recursive CTE carrying (node, dist) with UNION
# dedup, then MIN(dist) per node.

_BFS_MAX_HOPS = 3
_BFS_SRC = 0  # customer 0 -> node 0


@register(
    "bfs_reach_hops",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (
      SELECT cnode AS src, snode AS dst FROM pairs
      UNION ALL
      SELECT snode AS src, cnode AS dst FROM pairs),
    walk AS (
      SELECT CAST({_BFS_SRC} AS BIGINT) AS node, 0 AS dist
      UNION
      SELECT e.dst AS node, w.dist + 1 AS dist
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.dist < {_BFS_MAX_HOPS}),
    dists AS (
      SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM walk GROUP BY node)
    SELECT dist,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suppliers
    FROM dists GROUP BY dist
    """,
    doc=f"Iterative BFS: min-hop distances from customer {_BFS_SRC} "
    f"over the customer-supplier order graph, {_BFS_MAX_HOPS} "
    "synchronous rounds. Spark runs the textbook frontier iteration — "
    "per round ONE frontier-to-edges equi-join, an anti-join against "
    "the visited set (so the frontier only carries NEW nodes and "
    "cannot re-expand), and a distinct; the edge relation is persisted "
    "once and every round shuffles only on the node key. Oracle: "
    "recursive CTE with UNION dedup + MIN(dist). Output: nodes (and "
    "suppliers) reachable at each hop count.",
)
def bfs_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    # Pre-partition the adjacency by src ONCE: every round's expansion
    # joins on src, and a cached HashPartitioning(src) relation
    # satisfies the join's distribution requirement, so rounds shuffle
    # only the (small) frontier — not the edge list, which previously
    # re-exchanged per hop (the dominant cost: 3 full edge shuffles).
    edges = (
        pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"))
        .unionAll(
            pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
        )
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    spark_ = orders.sparkSession
    visited = spark_.createDataFrame([( _BFS_SRC, 0)], "node long, dist int")
    frontier = visited
    for hop in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
        )
        # Frontiers are node-bounded: eagerly materialize and TRUNCATE
        # lineage each round (the PCA linearization lesson — without
        # this, round k's plan nests every earlier round and driver
        # analysis dominates wall time).
        nxt = nxt.localCheckpoint(eager=True)
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited.groupBy("dist").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.when(F.col("node") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_suppliers"),
    ).select(F.col("dist").cast("long").alias("dist"), "n_nodes", "n_suppliers")


# ---------------------------------------------------------------------------
# 16. naive_bayes_lang_classify — multinomial NB train + resubstitution
# ---------------------------------------------------------------------------
#
# The classic counts-only classifier a curation pipeline trains in one
# aggregation pass: add-1-smoothed per-(word, lang) log-likelihoods and
# log-priors, nano-quantized per VOCAB cell (both engines take ln of
# identical exact integers, so every weight is bit-identical), then
# each document scores as an order-free int64 sum over its tokens and
# the argmax language wins. Output = the confusion matrix — resubsti-
# tution accuracy of language ID from content alone.

_NB_Q = 1_000_000_000.0


@register(
    "naive_bayes_lang_classify",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents),
    tf AS (
      SELECT doc_id, lang AS true_lang, word,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2, 3),
    cls AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY lang),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    wc AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2),
    ltot AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS lt FROM wc GROUP BY lang),
    vocab AS (SELECT DISTINCT word FROM tok),
    vsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    grid AS (
      SELECT c.lang, vo.word,
             CAST(floor(ln((COALESCE(wc.c, 0) + 1.0)
                           / (lt.lt + vs.v)) * {_NB_Q!r} + 0.5)
                  AS BIGINT) AS w_nano
      FROM (SELECT lang FROM cls) c
      CROSS JOIN vocab vo
      CROSS JOIN vsize vs
      JOIN ltot lt ON lt.lang = c.lang
      LEFT JOIN wc ON wc.lang = c.lang AND wc.word = vo.word),
    prior AS (
      SELECT c.lang,
             CAST(floor(ln(CAST(c.n_docs AS DOUBLE) / t.n_total)
                        * {_NB_Q!r} + 0.5) AS BIGINT) AS p_nano
      FROM cls c CROSS JOIN tot t),
    scores AS (
      SELECT tf.doc_id, tf.true_lang, g.lang AS cand_lang,
             CAST(SUM(tf.tf * g.w_nano) AS BIGINT) + MIN(p.p_nano) AS score
      FROM tf
      JOIN grid g ON g.word = tf.word
      JOIN prior p ON p.lang = g.lang
      GROUP BY 1, 2, 3),
    pred AS (
      SELECT doc_id, true_lang, cand_lang AS pred_lang FROM (
        SELECT doc_id, true_lang, cand_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand_lang) AS rn
        FROM scores)
      WHERE rn = 1)
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
    doc="Multinomial naive Bayes language classifier trained in-engine: "
    "add-1-smoothed log-likelihood per VOCAB cell (vocab x lang grid, "
    "built from one token aggregation; ln of identical exact int64 "
    "counts -> identical doubles -> nano-quantized weights) plus "
    "log-priors; each doc scores per language as an order-free int64 "
    "sum over its term frequencies and the argmax wins (score DESC, "
    "lang tie-break). Output = the resubstitution confusion matrix. "
    "Scale shape: weights live in the VOCAB relation (never broadcast "
    "— the unigram_logprob_buckets discipline), scoring is one "
    "word-key equi-join + one (doc, lang) aggregation; at 100 TB both "
    "shuffles key on high-cardinality columns.",
)
def naive_bayes_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tf = tok.groupBy(
        "doc_id", F.col("lang").alias("true_lang"), "word"
    ).agg(F.count("*").cast("long").alias("tf"))
    cls = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    n_total = docs.count()
    wc = tok.groupBy("lang", "word").agg(F.count("*").cast("long").alias("c"))
    ltot = wc.groupBy("lang").agg(F.sum("c").cast("long").alias("lt"))
    vocab = tok.select("word").distinct()
    vsize = vocab.count()
    grid = (
        cls.select("lang")
        .crossJoin(vocab)
        .join(wc, ["lang", "word"], "left")
        .join(F.broadcast(ltot), "lang")
        .select(
            "lang",
            "word",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("lt") + F.lit(vsize))
                )
                * _NB_Q
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w_nano"),
        )
    )
    prior = cls.select(
        "lang",
        F.floor(
            F.log(F.col("n_docs").cast("double") / F.lit(float(n_total))) * _NB_Q
            + F.lit(0.5)
        )
        .cast("long")
        .alias("p_nano"),
    )
    scores = (
        tf.join(grid.withColumnRenamed("lang", "cand_lang"), "word")
        .join(
            F.broadcast(prior.withColumnRenamed("lang", "cand_lang")),
            "cand_lang",
        )
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(
            (F.sum(F.col("tf") * F.col("w_nano")).cast("long") + F.min("p_nano"))
            .cast("long")
            .alias("score")
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand_lang")
    pred = (
        scores.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("cand_lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# 17. daily_revenue_autocorr — lag-k autocorrelation from exact moments
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@register(
    "daily_revenue_autocorr",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) // 100 AS BIGINT) AS r
      FROM orders GROUP BY 1),
    seq AS (
      SELECT day, r, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r) // COUNT(*) AS BIGINT) AS mu
      FROM seq),
    dev AS (
      SELECT s.i, CAST(s.r - st.mu AS BIGINT) AS d
      FROM seq s CROSS JOIN st),
    den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM dev),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag),
    num AS (
      SELECT l.lag, CAST(SUM(a.d * b.d) AS BIGINT) AS num
      FROM lags l
      JOIN dev a ON TRUE
      JOIN dev b ON b.i = a.i + l.lag
      GROUP BY l.lag)
    SELECT CAST(n.lag AS BIGINT) AS lag,
           CAST(floor(1000000.0 * CAST(n.num AS DOUBLE)
                      / CAST(d.den AS DOUBLE)) AS BIGINT) AS acf_micro
    FROM num n CROSS JOIN den d WHERE d.den > 0
    """,
    doc=f"Time-series diagnostics: lag-1..{_ACF_MAX_LAG} autocorrelation "
    "of the daily revenue series. Daily totals are exact int64 dollars "
    "(decimal cents / 100), the mean is the floored integer mean "
    "(documented estimator variant so deviations stay integer), and "
    "every numerator/denominator is an order-free int64 sum of "
    "deviation products; the final ratio is one identical double "
    "division + floor (operands < 2^53, so the doubles are exact). "
    "Spark computes the lag alignment with LEAD windows over the "
    "day-ordered sequence — one sort of the ~2.4k-row daily relation, "
    "NOT a self-join; the oracle self-joins on the row index (same "
    "pairs). At 100 TB the daily rollup is the only corpus-scale "
    "aggregation; everything after runs on the tiny series.",
)
def daily_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
            " div 100 AS BIGINT)"
        ).alias("r")
    )
    seq = daily.select(
        "r", F.row_number().over(Window.orderBy("day")).alias("i")
    )
    st = seq.agg(
        F.count("*").cast("long").alias("n"),
        F.expr("SUM(r) div COUNT(*)").cast("long").alias("mu"),
    )
    dev = seq.crossJoin(F.broadcast(st)).select(
        "i", (F.col("r") - F.col("mu")).cast("long").alias("d")
    )
    # one window pass computes every lag column; the series is tiny, so
    # the single-partition sort is the documented post-rollup step
    wlead = Window.orderBy("i")
    lag_cols = [
        F.lead("d", k).over(wlead).alias(f"d{k}") for k in range(1, _ACF_MAX_LAG + 1)
    ]
    wide = dev.select("d", *lag_cols)
    aggs = [F.sum(F.col("d") * F.col("d")).cast("long").alias("den")] + [
        F.sum(F.col("d") * F.col(f"d{k}")).cast("long").alias(f"num{k}")
        for k in range(1, _ACF_MAX_LAG + 1)
    ]
    m = wide.agg(*aggs)
    entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).cast("long").alias("lag"),
                    F.col(f"num{k}").alias("num"),
                )
                for k in range(1, _ACF_MAX_LAG + 1)
            ]
        )
    ).alias("e")
    return (
        m.select("den", entries)
        # the oracle's lag self-join emits NO row for lags with no
        # aligned pairs (empty/short series); the always-1-row global
        # agg must match that, not fabricate null lags
        .filter(F.col("e.num").isNotNull() & (F.col("den") > 0))
        .select(
            F.col("e.lag").alias("lag"),
            F.floor(
                F.lit(1000000.0) * F.col("e.num").cast("double")
                / F.col("den").cast("double")
            )
            .cast("long")
            .alias("acf_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 18. event_trigram_episodes — sequential pattern mining per segment
# ---------------------------------------------------------------------------


@register(
    "event_trigram_episodes",
    """
    WITH seq AS (
      SELECT e.user_id, c.c_mktsegment AS segment, e.event_type,
             LEAD(e.event_type, 1) OVER (PARTITION BY e.user_id
               ORDER BY e.ts, e.event_id) AS t2,
             LEAD(e.event_type, 2) OVER (PARTITION BY e.user_id
               ORDER BY e.ts, e.event_id) AS t3
      FROM events e JOIN customer c ON c.c_custkey = e.user_id),
    tri AS (
      SELECT segment,
             event_type || '>' || t2 || '>' || t3 AS episode
      FROM seq WHERE t3 IS NOT NULL),
    counts AS (
      SELECT segment, episode, CAST(COUNT(*) AS BIGINT) AS n
      FROM tri GROUP BY 1, 2)
    SELECT segment, episode, n, rank FROM (
      SELECT segment, episode, n,
             CAST(ROW_NUMBER() OVER (PARTITION BY segment
                  ORDER BY n DESC, episode) AS BIGINT) AS rank
      FROM counts)
    WHERE rank <= 5
    """,
    doc="Sequential pattern mining: per customer segment, the top-5 "
    "most frequent 3-event behavioral episodes (consecutive event-type "
    "trigrams per user, deterministic (ts, event_id) order via LEAD "
    "windows — one sort per user partition, no self-joins). The "
    "ranking is the salted TWO-PHASE top-k (segment is a 5-value "
    "partition key — the exact case the top_ngrams_per_lang rewrite "
    "covers); the single-window oracle computes the same result. "
    "This is the session-pattern prep behind funnel mining and "
    "next-event recommenders.",
)
def event_trigram_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.join(F.broadcast(cust), "user_id")
        .select(
            "segment",
            "event_type",
            F.lead("event_type", 1).over(wu).alias("t2"),
            F.lead("event_type", 2).over(wu).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
    )
    counts = seq.select(
        "segment",
        F.concat_ws(">", "event_type", "t2", "t3").alias("episode"),
    ).groupBy("segment", "episode").agg(F.count("*").cast("long").alias("n"))
    salt = (
        F.conv(F.substring(F.md5(F.col("episode")), 1, 15), 16, 10).cast("long") % 8
    )
    w1 = Window.partitionBy("segment", "salt").orderBy(
        F.col("n").desc(), F.col("episode")
    )
    partial = (
        counts.withColumn("salt", salt)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= 5)
        .drop("salt", "r1")
    )
    w2 = Window.partitionBy("segment").orderBy(F.col("n").desc(), F.col("episode"))
    return (
        partial.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("segment", "episode", "n", "rank")
    )


# ---------------------------------------------------------------------------
# 19. time_decayed_user_scores — exponential-decay engagement scoring
# ---------------------------------------------------------------------------

_DECAY_HORIZON = 30  # events table spans ~30 days
_DECAY_TAU = 10.0  # e-folding time in days
# weight per integer day-of-age, milli-quantized literals shared by
# both dialects (the nDCG discount-table trick for exp instead of log)
_DECAY_W = [
    int(__import__("math").exp(-age / _DECAY_TAU) * 1000 + 0.5)
    for age in range(_DECAY_HORIZON + 1)
]
_DECAY_W_SQL = "[" + ", ".join(str(x) for x in _DECAY_W) + "]"
_DECAY_TOP = 20


@register(
    "time_decayed_user_scores",
    f"""
    WITH ref AS (SELECT CAST(MAX(ts) AS DATE) AS ref_day FROM events),
    aged AS (
      SELECT e.user_id,
             CAST(CAST(e.value AS DECIMAL(28,4)) * 10000 AS BIGINT) AS v_q,
             datediff('day', CAST(e.ts AS DATE), r.ref_day) AS age
      FROM events e CROSS JOIN ref r),
    scored AS (
      SELECT user_id,
             CAST(SUM(v_q * CASE WHEN age BETWEEN 0 AND {_DECAY_HORIZON}
                  THEN ({_DECAY_W_SQL})[CAST(age + 1 AS INT)]
                  ELSE 0 END) AS BIGINT) AS score_qm,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM aged GROUP BY user_id)
    SELECT user_id, score_qm, n_events,
           CAST(ROW_NUMBER() OVER (ORDER BY score_qm DESC, user_id)
                AS BIGINT) AS rank
    FROM scored
    ORDER BY score_qm DESC, user_id LIMIT {_DECAY_TOP}
    """,
    doc="Exponential time-decay engagement scores: each event "
    f"contributes value x exp(-age_days/{_DECAY_TAU}), with the decay "
    "curve precomputed as integer MILLI LITERALS per day-of-age "
    "(shared by both dialects, the nDCG discount-table trick) — the "
    "per-user score is an order-free int64 sum of exact "
    "value-quanta x weight products, no float accumulation anywhere. "
    "Age anchors to MAX(ts) (1-row broadcast); events older than the "
    f"{_DECAY_HORIZON}-day horizon contribute exactly 0, which is the "
    "scale contract: the scan prunes to the horizon window and state "
    "never grows with history. Top-{_DECAY_TOP} users, total order.",
)
def time_decayed_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").cast("date").alias("ref_day"))
    warr = F.array(*[F.lit(x) for x in _DECAY_W])
    aged = ev.crossJoin(F.broadcast(ref)).select(
        "user_id",
        (F.col("value").cast("decimal(28,4)") * 10000).cast("long").alias("v_q"),
        F.datediff(F.col("ref_day"), F.col("ts").cast("date")).alias("age"),
    )
    scored = aged.select(
        "user_id",
        (
            F.col("v_q")
            * F.when(
                (F.col("age") >= 0) & (F.col("age") <= _DECAY_HORIZON),
                F.element_at(warr, F.col("age") + 1),
            ).otherwise(F.lit(0))
        ).alias("term"),
    ).groupBy("user_id").agg(
        F.sum("term").cast("long").alias("score_qm"),
        F.count("*").cast("long").alias("n_events"),
    )
    w = Window.orderBy(F.col("score_qm").desc(), "user_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _DECAY_TOP)
        .select("user_id", "score_qm", "n_events", "rank")
    )


# ---------------------------------------------------------------------------
# 20. url_normalized_dedup — URL canonicalization dedup
# ---------------------------------------------------------------------------
#
# The crawl-dedup step that runs BEFORE content hashing: collapse URL
# variants (case-folded host, www. prefix, tracking params, trailing
# slash) to one canonical form. Both dialects construct the same messy
# synthetic variants (url_domain_aggregate's documented convention),
# and both independently implement the canonicalizer — the operator
# under test; a normalization divergence fails the hash.


@register(
    "url_normalized_dedup",
    """
    WITH urls AS (
      SELECT doc_id, source,
             unnest([
               'https://' || source || '.example.com/page-'
                 || CAST(doc_id AS VARCHAR),
               'https://'
                 || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
                 || CASE WHEN doc_id % 3 = 0 THEN upper(source)
                         ELSE source END
                 || '.example.com/page-' || CAST(doc_id AS VARCHAR)
                 || CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END
                 || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed'
                         WHEN doc_id % 7 = 0 THEN '?ref=share' ELSE '' END
             ]) AS url
      FROM documents),
    canon AS (
      SELECT doc_id, source,
             regexp_replace(regexp_replace(
                 lower(regexp_replace(url, '\\?(utm_[a-z]+|ref)=[^&]*$', '')),
                 '^https://www\\.', 'https://'), '/+$', '') AS curl
      FROM urls)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_canonical,
           CAST(COUNT(*) - COUNT(DISTINCT curl) AS BIGINT) AS n_collapsed
    FROM canon GROUP BY source
    """,
    doc="URL-canonicalization dedup: strip tracking query params "
    "(utm_*/ref), case-fold, collapse the www. prefix and trailing "
    "slashes, then count how many raw URL variants collapse per "
    "canonical form per source — the crawl-manifest dedup that runs "
    "before any content fetch/hash. The manifest carries TWO variants "
    "per page (a clean submission and a messy resubmission with "
    "per-doc www/case/slash/param noise), so the canonicalizer "
    "provably halves it: n_collapsed == n_docs per source. Both "
    "dialects build the same deterministic variants and implement the "
    "canonicalizer independently (Spark: lower/regexp_replace in the "
    "Java-AND-RE2-safe regex dialect doc_pii_scrub established) — a "
    "normalization divergence fails the hash. Narrow maps + one "
    "aggregation: the 100 TB plan is scan-shaped.",
)
def url_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    clean = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/page-"),
        F.col("doc_id").cast("string"),
    )
    messy = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("source"))).otherwise(
            F.col("source")
        ),
        F.lit(".example.com/page-"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?utm_source=feed"))
        .when(F.col("doc_id") % 7 == 0, F.lit("?ref=share"))
        .otherwise(F.lit("")),
    )
    raw = docs.select("source", F.explode(F.array(clean, messy)).alias("url"))
    curl = F.regexp_replace(
        F.regexp_replace(
            F.lower(
                F.regexp_replace(F.col("url"), r"\?(utm_[a-z]+|ref)=[^&]*$", "")
            ),
            r"^https://www\.",
            "https://",
        ),
        r"/+$",
        "",
    )
    return (
        raw.select("source", curl.alias("curl"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("curl").cast("long").alias("n_canonical"),
            (F.count("*") - F.countDistinct("curl"))
            .cast("long")
            .alias("n_collapsed"),
        )
    )


# ---------------------------------------------------------------------------
# 21. kfold_assignment_stats — deterministic k-fold CV audit
# ---------------------------------------------------------------------------

_KFOLDS = 5


@register(
    "kfold_assignment_stats",
    f"""
    WITH assigned AS (
      SELECT lang,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {_KFOLDS} AS fold
      FROM documents),
    cells AS (
      SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM assigned GROUP BY 1, 2),
    folds AS (
      SELECT fold, CAST(SUM(n_docs) AS BIGINT) AS fold_total
      FROM cells GROUP BY fold),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT c.fold, c.lang, c.n_docs, f.fold_total,
           CAST(t.n - f.fold_total AS BIGINT) AS train_size,
           CAST(c.n_docs * 1000000 // f.fold_total AS BIGINT)
             AS lang_share_micro
    FROM cells c
    JOIN folds f ON f.fold = c.fold
    CROSS JOIN tot t
    """,
    doc=f"Deterministic {_KFOLDS}-fold cross-validation audit: fold = "
    "md5(doc_id) mod k (the same hash-draw convention every sampler in "
    "operators/sampling.py uses — reproducible across engines, runs, "
    "and partitionings), reporting the per-(fold, lang) class balance, "
    "fold sizes, leave-fold-out train sizes, and integer-micro "
    "language shares. One scan + two tiny aggregations; at 100 TB the "
    "assignment is a pure narrow map (no shuffle) and only the "
    "k x langs cell relation moves.",
)
def kfold_assignment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _KFOLDS
    )
    cells = (
        docs.select("lang", fold.alias("fold"))
        .groupBy("fold", "lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    folds = cells.groupBy("fold").agg(
        F.sum("n_docs").cast("long").alias("fold_total")
    )
    tot = docs.agg(F.count("*").cast("long").alias("n"))
    return (
        cells.join(F.broadcast(folds), "fold")
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "lang",
            "n_docs",
            "fold_total",
            (F.col("n") - F.col("fold_total")).cast("long").alias("train_size"),
            F.expr("n_docs * 1000000 div fold_total").alias("lang_share_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 22. stream_timer_sessions — event-time TIMER finalization
# ---------------------------------------------------------------------------


@register(
    "stream_timer_sessions",
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
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    doc="TIMER-driven stateful streaming: sessions finalize EXACTLY ONCE "
    "via GroupStateTimeout.EventTimeTimeout — either a later event "
    "proves the 30-min gap inline, or the watermark passing "
    "session_end + gap fires the key's event-time timer "
    "(state.hasTimedOut) and EVICTS its state. That eviction is the "
    "100 TB contract the NoTimeout sessionizer "
    "(stream_sessionization_stateful) lacks: state is bounded by the "
    "lateness window, not the all-time user set, and the finalized "
    "stream is append-like (no downstream reduction needed — the "
    "oracle's batch gap-session SQL is matched row for row). Replay "
    "mechanics (time-split parts, watermark-pushing sentinel, the "
    "always-emit quirk guard) documented in streaming/timers.py.",
)
def stream_timer_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.timers import run_timer_sessions

    return run_timer_sessions(spark, f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# 23. stream_click_purchase_full_outer — symmetric outer stream-stream join
# ---------------------------------------------------------------------------


@register(
    "stream_click_purchase_full_outer",
    """
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           (c.event_id IS NOT NULL AND p.event_id IS NOT NULL) AS matched,
           COALESCE(c.event_id, -1) AS click_id,
           COALESCE(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts,
           COALESCE(p.event_id, -1) AS purchase_id,
           COALESCE(p.ts, TIMESTAMP '1970-01-01 00:00:00') AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    doc="FULL OUTER stream-stream join — the symmetric completion of "
    "the inner/left attribution family: matched click-purchase pairs, "
    "clicks with no purchase within 1h, AND purchases attributable to "
    "no click, each unmatched row emitted exactly when its own side's "
    "state eviction (other side's watermark + time bound) proves no "
    "future match can arrive. State is O(events inside the join "
    "window) PER SIDE — the outer form adds eviction-time emission, "
    "not state. Bounded-replay finalization via the shared sentinel "
    "batches (streaming/joins.py); unmatched columns carry sentinel "
    "values (-1 / epoch) + a matched flag per the no-NULL-output "
    "convention. Oracle = the batch FULL JOIN with the time-bound "
    "predicates in the ON clause.",
)
def stream_click_purchase_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.joins import (
        run_stream_stream_full_outer,
    )

    return run_stream_stream_full_outer(spark, f"{sf_dir}/events.parquet")
