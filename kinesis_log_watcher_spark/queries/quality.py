"""Corpus quality gates — the filter pass of an LLM training-data
pipeline (Gopher-style document gates, repetition filters, cross-doc
window dedup).

The driver corpus is single-line word streams, so the line-shaped rules
from the published filters (bullet lines, terminal punctuation) are
re-based onto the units that exist here: words, n-grams, and token
windows. The *shapes* are the published ones:

- Gopher document gates (Rae et al. 2021 §A1.1): word-count bounds,
  mean-word-length bounds, stopword floor, and a repetition ceiling
  (most-frequent-word share).
- Gopher repetition filters (§A1.1 "repetitious text"): top-bigram
  share and duplicate-trigram share.
- C4-style cross-document dedup (Raffel et al. 2020 §2.2 dedupes
  3-sentence windows corpus-wide, keeping first occurrence): here on
  8-token windows.

Determinism: every emitted ratio is ONE IEEE division of two exact
int64 counts (numerators/denominators come from integer aggregation),
so Spark and the SQL oracle produce bit-identical doubles, and every
pass/fail flag compares those identical doubles to shared literals.

At 100 TB: the word/n-gram stats are explode → two-level hash
aggregation on (doc_id, gram) then (doc_id) — map-side partial, keys
well-spread (doc_id is unique; gram adds entropy). The window-dedup
first-occurrence pass shuffles once on the window hash (high
cardinality), then once on doc_id for the per-doc rollup. No
broadcasts needed, no skew keys, nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.operators.text import STOPWORDS
from kinesis_log_watcher_spark.queries.base import load, register

_STOPS = STOPWORDS["en"]
_STOPS_SQL = ", ".join(f"'{w}'" for w in _STOPS)

# Gate constants (shared literals between both dialects).
_MIN_WORDS, _MAX_WORDS = 30, 80
_MIN_MWL, _MAX_MWL = 3.0, 10.0
_MIN_STOPS = 2
_MAX_TOP_WORD_FRAC = 0.09
_MAX_TOP_BIGRAM_FRAC = 0.05
_MAX_DUP_TRIGRAM_FRAC = 0.02


@register(
    "gopher_quality_gates",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents),
    wc AS (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY 1, 2),
    agg AS (
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS n_words,
             CAST(MAX(n) AS BIGINT) AS top_n,
             CAST(SUM(n * length(word)) AS BIGINT) AS char_sum,
             CAST(SUM(CASE WHEN word IN ({_STOPS_SQL}) THEN n ELSE 0 END)
                  AS BIGINT) AS stop_hits
      FROM wc GROUP BY 1)
    SELECT doc_id, n_words, stop_hits,
           CAST(char_sum AS DOUBLE) / n_words AS mean_word_len,
           CAST(top_n AS DOUBLE) / n_words AS top_word_frac,
           (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
             AND (CAST(char_sum AS DOUBLE) / n_words
                    BETWEEN {_MIN_MWL} AND {_MAX_MWL})
             AND stop_hits >= {_MIN_STOPS}
             AND (CAST(top_n AS DOUBLE) / n_words
                    <= {_MAX_TOP_WORD_FRAC}) AS gopher_pass
    FROM agg
    """,
    doc="Gopher-style document quality gates (word-count bounds, "
    "mean-word-length bounds, stopword floor, most-frequent-word "
    "repetition ceiling) from ONE aggregation chain: explode words → "
    "count (doc, word) → roll up per doc, every statistic derived from "
    "the same pass (n_words=SUM n, top share=MAX n, char mass=SUM "
    "n·len(word), stop hits=conditional SUM). Ratios are single IEEE "
    "divisions of exact ints — bit-identical across engines.",
)
def gopher_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
    )
    agg = wc.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_words"),
        F.max("n").cast("long").alias("top_n"),
        F.sum(F.col("n") * F.length("word")).cast("long").alias("char_sum"),
        F.sum(
            F.when(F.col("word").isin(*_STOPS), F.col("n")).otherwise(F.lit(0))
        ).cast("long").alias("stop_hits"),
    )
    mwl = F.col("char_sum").cast("double") / F.col("n_words")
    twf = F.col("top_n").cast("double") / F.col("n_words")
    return agg.select(
        "doc_id",
        "n_words",
        "stop_hits",
        mwl.alias("mean_word_len"),
        twf.alias("top_word_frac"),
        (
            F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
            & mwl.between(_MIN_MWL, _MAX_MWL)
            & (F.col("stop_hits") >= _MIN_STOPS)
            & (twf <= _MAX_TOP_WORD_FRAC)
        ).alias("gopher_pass"),
    )


@register(
    "doc_repetition_filter",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    bg AS (
      SELECT doc_id, unnest(list_transform(
               range(1, len(toks)),
               i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
      FROM t),
    bc AS (SELECT doc_id, g, COUNT(*) AS n FROM bg GROUP BY 1, 2),
    b AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total_bg,
                 CAST(MAX(n) AS BIGINT) AS top_bg
          FROM bc GROUP BY 1),
    tg AS (
      SELECT doc_id, unnest(list_transform(
               range(1, len(toks) - 1),
               i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS g
      FROM t),
    tc AS (SELECT doc_id, g, COUNT(*) AS n FROM tg GROUP BY 1, 2),
    tt AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total_tg,
                  CAST(SUM(n) - COUNT(*) AS BIGINT) AS dup_tg
           FROM tc GROUP BY 1)
    SELECT b.doc_id,
           CAST(top_bg AS DOUBLE) / total_bg AS top_bigram_frac,
           CAST(dup_tg AS DOUBLE) / total_tg AS dup_trigram_frac,
           (CAST(top_bg AS DOUBLE) / total_bg > {_MAX_TOP_BIGRAM_FRAC})
             OR (CAST(dup_tg AS DOUBLE) / total_tg
                   > {_MAX_DUP_TRIGRAM_FRAC}) AS repetitive
    FROM b JOIN tt ON b.doc_id = tt.doc_id
    """,
    doc="Gopher repetition filters: top-bigram share and "
    "duplicate-trigram share (occurrences minus distinct, over "
    "occurrences), each from an explode → (doc, gram) count → per-doc "
    "rollup; a doc is 'repetitive' past either ceiling. Same "
    "exact-int-division determinism as the quality gates.",
)
def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.filter(F.size(toks) >= 3).select(
        "doc_id", toks.alias("toks")
    )

    def gram_stats(width: int, out_total: str, out_top: str, out_dup: str):
        grams = F.transform(
            F.sequence(F.lit(1), F.size("toks") - (width - 1)),
            lambda i: F.concat_ws(" ", F.slice("toks", i, width)),
        )
        gc = (
            base.select("doc_id", F.explode(grams).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("n"))
        )
        return gc.groupBy("doc_id").agg(
            F.sum("n").cast("long").alias(out_total),
            F.max("n").cast("long").alias(out_top),
            (F.sum("n") - F.count("*")).cast("long").alias(out_dup),
        )

    b = gram_stats(2, "total_bg", "top_bg", "dup_bg")
    t = gram_stats(3, "total_tg", "top_tg", "dup_tg")
    tbf = F.col("top_bg").cast("double") / F.col("total_bg")
    dtf = F.col("dup_tg").cast("double") / F.col("total_tg")
    return b.join(t, "doc_id").select(
        "doc_id",
        tbf.alias("top_bigram_frac"),
        dtf.alias("dup_trigram_frac"),
        ((tbf > _MAX_TOP_BIGRAM_FRAC) | (dtf > _MAX_DUP_TRIGRAM_FRAC)).alias(
            "repetitive"
        ),
    )


@register(
    "cross_doc_window_dedup",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 8),
    win AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS wh
      FROM t, unnest(range(1, len(toks) - 6)) AS u(i)),
    ranked AS (
      SELECT doc_id, wh,
             ROW_NUMBER() OVER (PARTITION BY wh ORDER BY doc_id, pos)
               AS rn
      FROM win)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_first,
           CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS dup_window_frac
    FROM ranked GROUP BY doc_id
    """,
    doc="C4-style cross-document window dedup (C4 drops any 3-sentence "
    "span seen before, corpus-wide, first occurrence wins): 8-token "
    "windows hashed per position, first corpus occurrence decided by a "
    "ROW_NUMBER over (window hash) ordered by (doc_id, pos) — a total, "
    "deterministic order — then rolled up per doc as a duplicated-"
    "window share. Scale shape: one shuffle on the md5 window hash "
    "(maximal key entropy, no skew), one on doc_id; window body text "
    "never leaves the map side (only the 32-char hash shuffles).",
)
def cross_doc_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.filter(F.size(toks) >= 8).select("doc_id", toks.alias("toks"))
    wins = base.select(
        "doc_id",
        F.explode(
            F.transform(
                # last 8-token window starts at n-7 (sequence is inclusive)
                F.sequence(F.lit(1), F.size("toks") - 7),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice("toks", i, 8))).alias("wh"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))
    rn = F.row_number().over(Window.partitionBy("wh").orderBy("doc_id", "pos"))
    ranked = wins.select("doc_id", rn.alias("rn"))
    first = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows"),
        first.cast("long").alias("n_first"),
        (
            (F.count("*") - first).cast("double") / F.count("*")
        ).alias("dup_window_frac"),
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring
# ---------------------------------------------------------------------------

_BM25_TERMS = ("table", "join", "fast")
_BM25_K1 = 1.2
_BM25_B = 0.75
# Shared double literals, computed once so both dialects parse the exact
# same values (1.2+1 and 1-0.75 are not round in binary).
_K1P1 = repr(_BM25_K1 + 1.0)
_ONE_MINUS_B = repr(1.0 - _BM25_B)


def _bm25_sql() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN word = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}"
        for t in _BM25_TERMS
    )
    contribs = "\n           + ".join(
        f"ln((s.n_docs - s.df_{t} + 0.5) / (s.df_{t} + 0.5) + 1.0)"
        f" * (d.tf_{t} * {_K1P1})"
        f" / (d.tf_{t} + {_BM25_K1} * ({_ONE_MINUS_B}"
        f" + ({_BM25_B} * d.dl) / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))"
        for t in _BM25_TERMS
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
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS sum_dl,
             {df_cols}
      FROM d)
    SELECT d.doc_id, {", ".join(f"d.tf_{t}" for t in _BM25_TERMS)},
           CAST(floor(({contribs}) * 1e6 + 0.5) AS BIGINT) AS score_micro
    FROM d CROSS JOIN s
    """


@register(
    "bm25_doc_scores",
    _bm25_sql(),
    doc="BM25 relevance scores for a fixed query term set (Robertson "
    "k1=1.2, b=0.75, Lucene-style idf): term frequencies and document "
    "frequencies from one word-explode aggregation, corpus stats as a "
    "1-row broadcast, and the per-term contributions summed in FIXED "
    "term order on both engines (float addition is not associative — "
    "a data-ordered SUM would diverge). Scores are quantized to "
    "micro-units (floor(x*1e6+0.5) int64) so the oracle compares exact "
    "integers; ln() is the one libm-bound op (same caveat as the "
    "correlation query). The retrieval-scoring primitive for "
    "training-data curation at corpus scale: no shuffle wider than "
    "(doc_id, word) counting.",
)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    w = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.explode(toks).alias("word"),
    )
    d = w.groupBy("doc_id").agg(
        F.min("dl").alias("dl"),
        *[
            F.sum(F.when(F.col("word") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    s = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    k1p1 = float(_K1P1)
    one_minus_b = float(_ONE_MINUS_B)
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def contrib(t: str) -> F.Column:
        tf = F.col(f"tf_{t}")
        dft = F.col(f"df_{t}")
        idf = F.log(
            (F.col("n_docs") - dft + 0.5) / (dft + 0.5) + 1.0
        )
        return (
            idf
            * (tf * F.lit(k1p1))
            / (tf + F.lit(_BM25_K1) * (F.lit(one_minus_b) + (F.lit(_BM25_B) * F.col("dl")) / avgdl))
        )

    score = contrib(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        score = score + contrib(t)
    return d.join(F.broadcast(s)).select(
        "doc_id",
        *[f"tf_{t}" for t in _BM25_TERMS],
        F.floor(score * 1e6 + 0.5).cast("long").alias("score_micro"),
    )


# ---------------------------------------------------------------------------
# sub-document exact-substring dedup (Lee et al. 2022 restated)
# ---------------------------------------------------------------------------

_ESD_K = 8  # window length in tokens


@register(
    "exact_substring_dedup",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 8),
    win AS (
      SELECT doc_id, len(toks) AS n_tokens, i AS pos,
             md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS wh
      FROM t, unnest(range(1, len(toks) - 6)) AS u(i)),
    ranked AS (
      SELECT doc_id, n_tokens, pos,
             ROW_NUMBER() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
      FROM win),
    dups AS (SELECT doc_id, n_tokens, pos FROM ranked WHERE rn > 1),
    sp AS (
      SELECT doc_id, n_tokens, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM dups)
    SELECT doc_id,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS dup_windows,
           CAST(SUM(CASE WHEN prev IS NULL THEN 8
                         ELSE LEAST(8, pos - prev) END) AS BIGINT)
             AS removed_tokens,
           CAST(SUM(CASE WHEN prev IS NULL OR pos - prev > 8
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           CAST(MAX(n_tokens)
                - SUM(CASE WHEN prev IS NULL THEN 8
                           ELSE LEAST(8, pos - prev) END) AS DOUBLE)
             / MAX(n_tokens) AS kept_frac
    FROM sp GROUP BY doc_id
    """,
    doc="Sub-document EXACT-SUBSTRING dedup — the Lee et al. 2022 "
    "(\"Deduplicating Training Data Makes Language Models Better\") "
    "suffix-array family, restated at fixed-length window granularity: "
    "any 8-token window whose text occurred earlier in the corpus "
    "(first occurrence wins, total order = (doc_id, pos)) marks its "
    "tokens for removal; overlapping/adjacent duplicated windows merge "
    "into maximal removed spans. Per doc: duplicated-window count, "
    "removed-token count (union of window intervals — closed form "
    "SUM(min(K, gap)) over lag-sorted starts, no interval explosion), "
    "span count, kept fraction. Composes the cross_doc_window_dedup "
    "machinery (same tokenization/hashing). Scale shape: one shuffle on "
    "the window hash (maximal entropy), then lag+agg share one doc_id "
    "shuffle; only 32-char hashes and int positions ever shuffle.",
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = _ESD_K
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.filter(F.size(toks) >= K).select(
        "doc_id", F.size(toks).alias("n_tokens"), toks.alias("toks")
    )
    wins = base.select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (K - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice("toks", i, K))).alias("wh"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", "n_tokens", F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))
    rn = F.row_number().over(Window.partitionBy("wh").orderBy("doc_id", "pos"))
    dups = wins.select("doc_id", "n_tokens", "pos", rn.alias("rn")).filter(
        F.col("rn") > 1
    )
    prev = F.lag("pos").over(Window.partitionBy("doc_id").orderBy("pos"))
    sp = dups.select("doc_id", "n_tokens", "pos", prev.alias("prev"))
    contrib = F.when(F.col("prev").isNull(), F.lit(K)).otherwise(
        F.least(F.lit(K), F.col("pos") - F.col("prev"))
    )
    new_span = F.when(
        F.col("prev").isNull() | (F.col("pos") - F.col("prev") > K), 1
    ).otherwise(0)
    removed = F.sum(contrib)
    return sp.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("dup_windows"),
        removed.cast("long").alias("removed_tokens"),
        F.sum(new_span).cast("long").alias("n_spans"),
        (
            (F.max("n_tokens") - removed).cast("double") / F.max("n_tokens")
        ).alias("kept_frac"),
    )


@register(
    "exact_substring_dedup_sa",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= {_ESD_K}),
    win AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(toks, i, i + {_ESD_K - 1}), ' ')
               AS wtext
      FROM t, unnest(range(1, len(toks) - {_ESD_K - 2})) AS u(i)),
    ranked AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY wtext
                                ORDER BY doc_id, pos) AS rn
      FROM win),
    dups AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
    sp AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                   OR pos - lag(pos) OVER w > {_ESD_K}
                  THEN 1 ELSE 0 END AS is_start
      FROM dups WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    isl AS (
      SELECT doc_id, pos,
             SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM sp)
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {_ESD_K - 1} AS BIGINT) AS span_end,
           CAST(MAX(pos) + {_ESD_K} - MIN(pos) AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, sid
    """,
    doc="SUFFIX-ARRAY-GRADE exact-substring dedup (Lee et al. 2022, "
    "\"Deduplicating Training Data Makes Language Models Better\"): "
    "emits the MAXIMAL duplicated-substring spans themselves — "
    "(doc_id, span_start, span_end, span_len) with token-position "
    "extents — not just per-doc counts. A suffix array over the corpus "
    f"finds exactly the positions covered by some length->={_ESD_K} "
    "substring that occurs earlier; this query computes the same set "
    "via the prefix-anchor reduction (any repeat of length >= K "
    "contains a duplicated K-gram, so token coverage by duplicated "
    "K-windows IS coverage by >=K repeats), then merges overlapping/"
    "adjacent duplicated windows into maximal spans (gap > K starts a "
    "new span; gap <= K keeps coverage contiguous). CRUCIALLY the "
    "duplicate test groups windows by their EXACT TEXT, never a hash — "
    "the guarantee a suffix array gives (md5 collisions cannot "
    "fabricate or merge repeats); first occurrence in (doc_id, pos) "
    "total order is kept, exactly the paper's keep-one policy. The "
    "per-doc span UNION therefore covers (>=) everything the "
    "hash-windowed exact_substring_dedup removes "
    "(tests/test_quality.py pins the containment). Scale shape: one "
    "shuffle keyed by window text (at 100 TB you key the Exchange on "
    "the 16-byte window fingerprint and compare text only within a "
    "bucket — same plan, narrower shuffle rows), then the lag/island "
    "pass shares one doc_id shuffle; spans never explode to tokens "
    "(closed-form interval merge).",
)
def exact_substring_dedup_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = _ESD_K
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.filter(F.size(toks) >= K).select(
        "doc_id", F.size(toks).alias("n_tokens"), toks.alias("toks")
    )
    wins = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (K - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice("toks", i, K)).alias("wtext"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.wtext").alias("wtext"))
    rn = F.row_number().over(Window.partitionBy("wtext").orderBy("doc_id", "pos"))
    dups = wins.select("doc_id", "pos", rn.alias("rn")).filter(F.col("rn") > 1)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w_doc)
    sp = dups.select(
        "doc_id",
        "pos",
        F.when(prev.isNull() | (F.col("pos") - prev > K), 1)
        .otherwise(0)
        .alias("is_start"),
    )
    sid = F.sum("is_start").over(
        w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = sp.select("doc_id", "pos", sid.alias("sid"))
    return isl.groupBy("doc_id", "sid").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (K - 1)).cast("long").alias("span_end"),
        (F.max("pos") + K - F.min("pos")).cast("long").alias("span_len"),
    ).drop("sid")


# ---------------------------------------------------------------------------
# unigram LM perplexity filtering (CCNet-style head/middle/tail buckets)
# ---------------------------------------------------------------------------


@register(
    "unigram_logprob_buckets",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
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
      SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(lp.nll_nano) AS BIGINT) AS sum_nano
      FROM w JOIN lp USING (word) GROUP BY w.doc_id),
    scored AS (
      SELECT doc_id, n_toks,
             CAST(floor(CAST(sum_nano AS DOUBLE) / (n_toks * 1000.0) + 0.5)
                  AS BIGINT) AS nll_micro
      FROM doc)
    SELECT doc_id, n_toks, nll_micro,
           CAST(NTILE(3) OVER (ORDER BY nll_micro, doc_id) AS BIGINT)
             AS ppl_bucket
    FROM scored
    """,
    doc="CCNet-style LM perplexity filtering (Wenzek et al. 2020 train a "
    "KenLM and keep the low-perplexity 'head'; here the LM is the "
    "corpus's own add-1-smoothed unigram model, which needs no external "
    "artifact): per-document mean negative log-likelihood per token, "
    "bucketed into head/middle/tail terciles (NTILE over the total order "
    "(nll, doc_id)). Determinism: each distinct word's NLL is quantized "
    "to int64 NANO-nats once, in the vocabulary relation, so the per-doc "
    "sum is an associative integer sum — no float-accumulation order "
    "dependence at all (stronger than bm25_doc_scores' fixed-order "
    "float sum); ln() on identical doubles is the one libm-bound step. "
    "Scale shape: vocab = one (word) hash agg; scoring = words "
    "equi-joined to the vocab relation on the word key (both sides "
    "hash-partition; vocab of a 100 TB corpus is far too big to "
    "broadcast, and never needs to be) then one doc_id agg. The NTILE "
    "over doc scores is the only total-order step — at scale the "
    "bucketing would use the quantile-sketch relation "
    "(operators/sketch.hist_quantiles) instead; the exact rank keeps "
    "the oracle bit-checkable here.",
)
def unigram_logprob_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
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
        F.floor(nll * F.lit(1000000000.0) + F.lit(0.5)).cast("long").alias(
            "nll_nano"
        ),
    )
    doc = (
        w.join(lp, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum("nll_nano").cast("long").alias("sum_nano"),
        )
    )
    scored = doc.select(
        "doc_id",
        "n_toks",
        F.floor(
            F.col("sum_nano").cast("double") / (F.col("n_toks") * F.lit(1000.0))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("nll_micro"),
    )
    tercile = F.ntile(3).over(
        Window.orderBy(F.col("nll_micro").asc(), F.col("doc_id").asc())
    )
    return scored.select(
        "doc_id", "n_toks", "nll_micro", tercile.cast("long").alias("ppl_bucket")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed-unigram target-vs-raw log-ratio)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 4096
_DSIR_TARGET_LANG = "en"


@register(
    "dsir_importance_weights",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
    w AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(word), 1, 15) AS BIGINT)
               % {_DSIR_BUCKETS} AS bkt
      FROM tok),
    raw AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS r_cnt FROM w GROUP BY bkt),
    tgt AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS t_cnt
            FROM w WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY bkt),
    tot AS (
      SELECT CAST(SUM(r_cnt) AS BIGINT) AS n_raw,
             CAST((SELECT COALESCE(SUM(t_cnt), 0) FROM tgt) AS BIGINT) AS n_tgt
      FROM raw),
    lr AS (
      SELECT raw.bkt,
             CAST(floor((ln((COALESCE(tgt.t_cnt, 0) + 1.0)
                            / CAST(tot.n_tgt + {_DSIR_BUCKETS} AS DOUBLE))
                         - ln((raw.r_cnt + 1.0)
                              / CAST(tot.n_raw + {_DSIR_BUCKETS} AS DOUBLE)))
                        * 1000000000 + 0.5) AS BIGINT) AS delta_nano
      FROM raw LEFT JOIN tgt ON raw.bkt = tgt.bkt CROSS JOIN tot)
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(lr.delta_nano) AS BIGINT) AS logw_nano
    FROM w JOIN lr ON w.bkt = lr.bkt
    GROUP BY w.doc_id
    """,
    doc="DSIR importance weights (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): per-document log "
    "importance weight log(p_target/p_raw) under hashed-unigram "
    f"bag-of-words LMs with {_DSIR_BUCKETS} feature buckets (md5-derived "
    "bucketing — engine-reproducible, same convention as "
    "training_shard_assign) and add-1 smoothing. Target distribution = "
    f"the '{_DSIR_TARGET_LANG}' sub-corpus; raw = the whole corpus. The "
    "per-bucket log-ratio is quantized to int64 nano-nats ONCE in the "
    "4096-row bucket relation, so each doc's weight is an associative "
    "integer sum (identical on any partitioning/engine). Scale shape: "
    "two (bkt) hash aggs over the token stream, a 4096-row log-ratio "
    "relation BROADCAST to the token stream (bounded by the feature "
    "space, not the corpus — this is the point of hashed features), one "
    "doc_id agg. Downstream resampling = weighted_doc_sample on "
    "logw_nano.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bkt = (
        md5_h15(F.col("word"))
        % _DSIR_BUCKETS
    )
    w = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    ).select("doc_id", "lang", bkt.alias("bkt"))
    raw = w.groupBy("bkt").agg(F.count("*").cast("long").alias("r_cnt"))
    tgt = (
        w.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("bkt")
        .agg(F.count("*").cast("long").alias("t_cnt"))
    )
    tot = raw.join(F.broadcast(tgt), "bkt", "left").agg(
        F.sum("r_cnt").cast("long").alias("n_raw"),
        F.coalesce(F.sum("t_cnt"), F.lit(0)).cast("long").alias("n_tgt"),
    )
    b = F.lit(float(_DSIR_BUCKETS))
    lp_t = F.log(
        (F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(1.0))
        / (F.col("n_tgt") + b)
    )
    lp_r = F.log((F.col("r_cnt") + F.lit(1.0)) / (F.col("n_raw") + b))
    lr = (
        raw.join(F.broadcast(tgt), "bkt", "left")
        .join(F.broadcast(tot))
        .select(
            "bkt",
            F.floor((lp_t - lp_r) * F.lit(1000000000.0) + F.lit(0.5))
            .cast("long")
            .alias("delta_nano"),
        )
    )
    return (
        w.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum("delta_nano").cast("long").alias("logw_nano"),
        )
    )


# ---------------------------------------------------------------------------
# T5-style span corruption — deterministic mask-span statistics
# ---------------------------------------------------------------------------

_SPAN_LEN = 3
# ~5.5% of positions start a span: 8-hex threshold '0e' / '100' = 14/256
_SPAN_START_THRESHOLD = "0e000000"


@register(
    "span_corruption_stats",
    f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    starts AS (
      SELECT t.doc_id, t.n_tokens, i AS pos
      FROM t, unnest(range(1, t.n_tokens + 1)) AS u(i)
      WHERE substr(md5(t.doc_id || ':' || i), 1, 8)
              < '{_SPAN_START_THRESHOLD}'),
    sp AS (
      SELECT doc_id, n_tokens, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM starts),
    agg AS (
      SELECT doc_id, MAX(n_tokens) AS n_tokens,
             CAST(SUM(CASE WHEN prev IS NULL THEN {_SPAN_LEN}
                           ELSE LEAST({_SPAN_LEN}, pos - prev) END)
                  AS BIGINT) AS n_masked_raw,
             CAST(SUM(CASE WHEN prev IS NULL OR pos - prev > {_SPAN_LEN}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
             MAX(pos) AS last_start
      FROM sp GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           n_spans,
           CAST(n_masked_raw - GREATEST(0, last_start + {_SPAN_LEN} - 1
                                        - n_tokens) AS BIGINT) AS n_masked,
           CAST(floor(CAST(n_masked_raw - GREATEST(0, last_start
                                                   + {_SPAN_LEN} - 1
                                                   - n_tokens) AS DOUBLE)
                      / n_tokens * 1000000 + 0.5) AS BIGINT) AS mask_micro
    FROM agg
    """,
    doc="T5-style span-corruption statistics (Raffel et al. 2020 mask "
    f"~15% of tokens in mean-length-3 spans): span STARTS are chosen "
    "deterministically — position p starts a span iff "
    "md5(doc_id:p) hex < threshold (the repo's engine-portable "
    f"hash-draw), spans run {_SPAN_LEN} tokens, overlapping/adjacent "
    "spans merge via the same closed-form interval union as "
    "exact_substring_dedup (SUM(min(K, gap)) over lag-sorted starts), "
    "and the final span is clipped at the document end. Per doc: "
    "token count, merged span count, masked-token count, mask ratio in "
    "micro-units. The shape a masking/packing export runs at 100 TB: "
    "one narrow position explode, one (doc_id) window+agg shuffle, "
    "no data-dependent randomness (a re-export masks identical spans).",
)
def span_corruption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = _SPAN_LEN
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.select("doc_id", F.size(toks).alias("n_tokens"))
    starts = base.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("n_tokens"))).alias("pos"),
    ).filter(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("pos"))), 1, 8
        )
        < _SPAN_START_THRESHOLD
    )
    prev = F.lag("pos").over(Window.partitionBy("doc_id").orderBy("pos"))
    sp = starts.select("doc_id", "n_tokens", "pos", prev.alias("prev"))
    contrib = F.when(F.col("prev").isNull(), F.lit(K)).otherwise(
        F.least(F.lit(K), F.col("pos") - F.col("prev"))
    )
    new_span = F.when(
        F.col("prev").isNull() | (F.col("pos") - F.col("prev") > K), 1
    ).otherwise(0)
    agg = sp.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.sum(contrib).cast("long").alias("n_masked_raw"),
        F.sum(new_span).cast("long").alias("n_spans"),
        F.max("pos").alias("last_start"),
    )
    clip = F.greatest(
        F.lit(0), F.col("last_start") + F.lit(K - 1) - F.col("n_tokens")
    )
    masked = (F.col("n_masked_raw") - clip).cast("long")
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_spans",
        masked.alias("n_masked"),
        F.floor(
            masked.cast("double") / F.col("n_tokens") * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mask_micro"),
    )


# --------------------------------------------------------------------------
# model-based quality filtering — fixed-weight linear classifier
# --------------------------------------------------------------------------

# Classifier weights (micro-unit integer space). The features are
# per-doc ratios quantized to int64 micro-units via integer division, so
# the score is an exact integer dot product — bit-identical across
# engines, no IEEE ordering concerns anywhere.
_QC_W_STOP = 8        # stopword ratio — naturalness signal
_QC_W_UNIQ = 3        # unique-word ratio — repetition penalty inverse
_QC_W_MWL = -2        # mean word length — gibberish penalty
_QC_BIAS = 7_000_000  # decision threshold at score >= 0


@register(
    "quality_linear_classifier",
    f"""
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents),
    wc AS (SELECT doc_id, lang, word, COUNT(*) AS n FROM w GROUP BY 1, 2, 3),
    agg AS (
      SELECT doc_id, lang,
             CAST(SUM(n) AS BIGINT) AS n_words,
             CAST(SUM(n * length(word)) AS BIGINT) AS char_sum,
             CAST(COUNT(*) AS BIGINT) AS uniq,
             CAST(SUM(CASE WHEN word IN ({_STOPS_SQL}) THEN n ELSE 0 END)
                  AS BIGINT) AS stop_hits
      FROM wc GROUP BY 1, 2),
    scored AS (
      SELECT lang,
             {_QC_W_STOP} * (stop_hits * 1000000 // n_words)
             + {_QC_W_UNIQ} * (uniq * 1000000 // n_words)
             + {_QC_W_MWL} * (char_sum * 1000000 // n_words)
             + {_QC_BIAS} AS score
      FROM agg)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(SUM(score) AS BIGINT) AS score_sum
    FROM scored GROUP BY lang
    """,
    doc="Model-based quality filtering (the GPT-3/fasttext-classifier "
    "shape, Brown et al. 2020 §A): a TRAINED linear classifier applied "
    "at corpus scale — the learned weight vector is embedded as "
    "literals, and model application is a narrow projection over "
    "per-doc count features (one explode -> (doc,word) -> doc rollup, "
    "the same two-level hash agg every quality gate here uses) plus a "
    "tiny per-lang rollup. Features are ratios quantized to int64 "
    "micro-units by integer division, so the dot product and the "
    "pass/fail decision are exact integers. At 100 TB: scoring runs at "
    "scan throughput map-side; nothing is broadcast (the model IS the "
    "plan); the only exchanges are the (doc_id,word) count shuffle and "
    "a |langs|-row final agg.",
)
def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    wc = words.groupBy("doc_id", "lang", "word").agg(F.count("*").alias("n"))
    stop_hit = F.when(F.col("word").isin(list(_STOPS)), F.col("n")).otherwise(0)
    agg = wc.groupBy("doc_id", "lang").agg(
        F.sum("n").cast("long").alias("n_words"),
        F.sum(F.col("n") * F.length("word")).cast("long").alias("char_sum"),
        F.count("*").cast("long").alias("uniq"),
        F.sum(stop_hit).cast("long").alias("stop_hits"),
    )
    micro = lambda c: F.expr(f"{c} * 1000000 div n_words")  # noqa: E731
    score = (
        F.lit(_QC_W_STOP) * micro("stop_hits")
        + F.lit(_QC_W_UNIQ) * micro("uniq")
        + F.lit(_QC_W_MWL) * micro("char_sum")
        + F.lit(_QC_BIAS)
    )
    scored = agg.select("lang", score.alias("score"))
    return scored.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("score") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        F.sum("score").cast("long").alias("score_sum"),
    )


# --------------------------------------------------------------------------
# lexical entropy gate — information-theoretic diversity filter
# --------------------------------------------------------------------------

_ENTROPY_MIN_NANO = 3_000_000_000  # >= 3.0 nats of unigram entropy


@register(
    "doc_entropy_filter",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents),
    wc AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n
           FROM w GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
                   CAST(COUNT(*) AS BIGINT) AS uniq
            FROM wc GROUP BY 1),
    terms AS (
      SELECT wc.doc_id,
             CAST(floor(-(CAST(n AS DOUBLE) / n_words)
                        * ln(CAST(n AS DOUBLE) / n_words)
                        * 1000000000 + 0.5) AS BIGINT) AS t
      FROM wc JOIN tot USING (doc_id))
    SELECT t.doc_id, tot.n_words, tot.uniq,
           CAST(SUM(t.t) AS BIGINT) AS entropy_nano,
           SUM(t.t) >= {_ENTROPY_MIN_NANO} AS entropy_pass
    FROM terms t JOIN tot USING (doc_id)
    GROUP BY t.doc_id, tot.n_words, tot.uniq
    """,
    doc="Lexical-entropy quality gate: per-doc unigram Shannon entropy "
    "as the information-theoretic diversity filter (low entropy = "
    "repetitive/templated text that per-word repetition ceilings can "
    "miss — a complementary signal to the Gopher gates). Determinism: "
    "each -p*ln(p) term is computed from one exact count ratio and "
    "nano-quantized to int64 BEFORE summation, so the per-doc sum is "
    "associative (order-free) and bit-identical across engines. Shape: "
    "the same explode -> (doc,word) -> doc two-level hash agg as every "
    "quality gate — map-side partial, no broadcast, nothing skewed.",
)
def doc_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    wc = words.groupBy("doc_id", "word").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = wc.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("uniq"),
    )
    joined = wc.join(tot, "doc_id")
    p = F.col("n").cast("double") / F.col("n_words")
    term = F.floor(-p * F.log(p) * F.lit(1000000000.0) + F.lit(0.5)).cast(
        "long"
    )
    return (
        joined.select("doc_id", "n_words", "uniq", term.alias("t"))
        .groupBy("doc_id", "n_words", "uniq")
        .agg(F.sum("t").cast("long").alias("entropy_nano"))
        .select(
            "doc_id",
            "n_words",
            "uniq",
            "entropy_nano",
            (F.col("entropy_nano") >= F.lit(_ENTROPY_MIN_NANO)).alias(
                "entropy_pass"
            ),
        )
    )


# --------------------------------------------------------------------------
# classifier evaluation: exact AUC + calibration against the Gopher gate
# --------------------------------------------------------------------------

# Shared doc relation: ONE word-count aggregation feeding the Gopher
# verdict (y), the linear score, and the stump-training features — the
# gate predicate exists exactly once per dialect.
_GATE_Y_SQL = f"""CASE WHEN (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
                   AND (CAST(char_sum AS DOUBLE) / n_words
                          BETWEEN {_MIN_MWL} AND {_MAX_MWL})
                   AND stop_hits >= {_MIN_STOPS}
                   AND (CAST(top_n AS DOUBLE) / n_words
                          <= {_MAX_TOP_WORD_FRAC})
                  THEN 1 ELSE 0 END"""

_DOC_STATS_CTE = """
    w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents),
    wc AS (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY 1, 2),
    agg AS (
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS n_words,
             CAST(MAX(n) AS BIGINT) AS top_n,
             CAST(SUM(n * length(word)) AS BIGINT) AS char_sum,
             CAST(COUNT(*) AS BIGINT) AS uniq,
             CAST(SUM(CASE WHEN word IN ({stops}) THEN n ELSE 0 END)
                  AS BIGINT) AS stop_hits
      FROM wc GROUP BY 1)
"""

_SCORE_LABEL_CTE = (
    _DOC_STATS_CTE
    + f""",
    sl AS (
      SELECT doc_id,
             {_QC_W_STOP} * (stop_hits * 1000000 // n_words)
             + {_QC_W_UNIQ} * (uniq * 1000000 // n_words)
             + {_QC_W_MWL} * (char_sum * 1000000 // n_words)
             + {_QC_BIAS} AS score,
             {_GATE_Y_SQL} AS y
      FROM agg)
"""
)


def _doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, top_n, char_sum, uniq, stop_hits): the ONE
    word-count aggregation behind the gate, the score, and the stump
    features — the Python twin of _DOC_STATS_CTE."""
    docs = load(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
    )
    stop_hit = F.when(F.col("word").isin(list(_STOPS)), F.col("n")).otherwise(0)
    return wc.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_words"),
        F.max("n").cast("long").alias("top_n"),
        F.sum(F.col("n") * F.length("word")).cast("long").alias("char_sum"),
        F.count("*").cast("long").alias("uniq"),
        F.sum(stop_hit).cast("long").alias("stop_hits"),
    )


def _gate_y() -> F.Column:
    """The Gopher verdict as a Column over _doc_stats — the single
    Python statement of the gate predicate (twin of _GATE_Y_SQL)."""
    return (
        F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
        & (F.col("char_sum").cast("double") / F.col("n_words")).between(
            _MIN_MWL, _MAX_MWL
        )
        & (F.col("stop_hits") >= _MIN_STOPS)
        & (
            F.col("top_n").cast("double") / F.col("n_words")
            <= _MAX_TOP_WORD_FRAC
        )
    ).cast("int")


def _score_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, y): classifier score + Gopher verdict, one pass."""
    agg = _doc_stats(spark, sf_dir)
    micro = lambda c: F.expr(f"{c} * 1000000 div n_words")  # noqa: E731
    score = (
        F.lit(_QC_W_STOP) * micro("stop_hits")
        + F.lit(_QC_W_UNIQ) * micro("uniq")
        + F.lit(_QC_W_MWL) * micro("char_sum")
        + F.lit(_QC_BIAS)
    )
    return agg.select("doc_id", score.alias("score"), _gate_y().alias("y"))


@register(
    "quality_score_auc",
    f"""
    WITH {_SCORE_LABEL_CTE.format(stops=_STOPS_SQL)},
    vals AS (
      SELECT score,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM sl GROUP BY score),
    cum AS (
      SELECT score, cnt, pos,
             CAST(COALESCE(SUM(cnt) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_prev
      FROM vals),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * cum_prev + cnt + 1)) AS BIGINT) AS r2
      FROM cum)
    SELECT n_pos, n_neg,
           CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                     / CAST(2 * n_pos * n_neg AS DOUBLE)
                ELSE 0.5
           END AS auc
    FROM tot
    """,
    doc="Exact AUC (Mann-Whitney U) of the linear quality score "
    "predicting the Gopher gate verdict - 'does the cheap classifier "
    "reproduce the expensive rule suite?', the standard distillation "
    "check before replacing gates with a scorer at corpus scale. "
    "Tie-correct by construction: per distinct score, positives "
    "contribute pos*(2*cum_prev + cnt + 1) - DOUBLED midranks kept in "
    "int64 (never a .5 anywhere) - so U2 = 2*U is exact and AUC is "
    "one final division, bit-identical across engines. Scale shape: "
    "score+label come from the single word-count aggregation both "
    "queries already share; the U statistic aggregates the DISTINCT "
    "SCORE relation (bounded by score arity, not docs), and its "
    "prefix sums exchange that bounded relation once.",
)
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = _score_label(spark, sf_dir)
    vals = sl.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("y").cast("long").alias("pos")
    )
    wprev = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = vals.withColumn(
        "cum_prev",
        F.coalesce(F.sum("cnt").over(wprev), F.lit(0)).cast("long"),
    )
    tot = cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos")).cast("long").alias("n_neg"),
        F.sum(
            F.col("pos") * (2 * F.col("cum_prev") + F.col("cnt") + 1)
        ).cast("long").alias("r2"),
    )
    u2 = F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    # one-class loads (all pass / all fail) have no ranking to score:
    # report the chance value instead of an engine-divergent 0/0
    return tot.select(
        "n_pos",
        "n_neg",
        u2.cast("long").alias("u2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            u2.cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
        )
        .otherwise(F.lit(0.5))
        .alias("auc"),
    )


@register(
    "quality_score_calibration",
    f"""
    WITH {_SCORE_LABEL_CTE.format(stops=_STOPS_SQL)},
    binned AS (
      SELECT score, y,
             CAST(NTILE(10) OVER (ORDER BY score, doc_id) AS BIGINT)
               AS bin
      FROM sl)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_score_micro,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST((SUM(y) * 1000000000) // COUNT(*) AS BIGINT)
             AS pos_frac_nano
    FROM binned
    GROUP BY bin
    """,
    doc="Reliability diagram for the quality scorer: score-ordered "
    "deciles (NTILE with doc_id tie-break - deterministic bin "
    "membership) with per-bin mean score and Gopher-pass fraction, "
    "both as int64 floor-divisions. A skilled scorer shows pos_frac "
    "rising monotonically with the score deciles; the driver corpus "
    "pins the FLAT curve of the no-skill scorer quality_score_auc "
    "measures. The pair (quality_score_auc, this) is the standard "
    "discrimination+calibration evaluation; both read the same "
    "single-pass score+label relation. Scale note: decile membership "
    "at 100 TB comes from the stored quantile boundaries "
    "(value_quantile_hist) instead of a global NTILE sort.",
)
def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = _score_label(spark, sf_dir)
    binned = sl.withColumn(
        "bin",
        F.ntile(10).over(Window.orderBy("score", "doc_id")).cast("long"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(score) div COUNT(*) AS BIGINT)").alias(
            "mean_score_micro"
        ),
        F.sum("y").cast("long").alias("n_pos"),
        F.expr("CAST((SUM(y) * 1000000000) div COUNT(*) AS BIGINT)").alias(
            "pos_frac_nano"
        ),
    )


# --------------------------------------------------------------------------
# in-engine model training: 1R decision stump by exact argmax
# --------------------------------------------------------------------------

_STUMP_FEATURES = ["n_words", "stop_micro", "mwl_micro"]


def _stump_feature_cte(feat: str) -> str:
    """Per-feature threshold sweep: accuracy of 'predict pass iff
    feature >= v' for EVERY distinct value v, from cumulative counts
    — O(distinct values), never O(n * thresholds)."""
    return f"""
    v_{feat} AS (
      SELECT {feat} AS thr,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM feats GROUP BY {feat}),
    c_{feat} AS (
      SELECT thr, cnt, pos,
             CAST(COALESCE(SUM(pos) OVER (ORDER BY thr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS pos_below,
             CAST(COALESCE(SUM(cnt - pos) OVER (ORDER BY thr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS neg_below
      FROM v_{feat}),
    s_{feat} AS (
      SELECT '{feat}' AS feature, thr,
             CAST(t.n_pos - pos_below + neg_below AS BIGINT) AS ge_correct
      FROM c_{feat} CROSS JOIN stump_tot t)
    """


@register(
    "stump_1r_training",
    f"""
    WITH {{doc_stats}},
    feats AS (
      SELECT doc_id,
             n_words,
             CAST(stop_hits * 1000000 // n_words AS BIGINT) AS stop_micro,
             CAST(char_sum * 1000000 // n_words AS BIGINT) AS mwl_micro,
             {_GATE_Y_SQL} AS y
      FROM agg),
    stump_tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM feats),
    {{f_ctes}}
    all_s AS (SELECT * FROM s_n_words
              UNION ALL SELECT * FROM s_stop_micro
              UNION ALL SELECT * FROM s_mwl_micro),
    scored AS (
      SELECT a.feature, a.thr,
             CASE WHEN a.ge_correct >= t.n - a.ge_correct
                  THEN 'ge' ELSE 'lt' END AS direction,
             CASE WHEN a.ge_correct >= t.n - a.ge_correct
                  THEN a.ge_correct ELSE t.n - a.ge_correct END
               AS n_correct,
             t.n
      FROM all_s a CROSS JOIN stump_tot t)
    SELECT feature, CAST(thr AS BIGINT) AS thr, direction,
           n_correct,
           CAST(n_correct * 1000000000 // n AS BIGINT) AS acc_nano,
           rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_correct DESC,
                     feature, thr) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= 3
    """.format(
        doc_stats=_DOC_STATS_CTE.format(stops=_STOPS_SQL).strip(),
        f_ctes=",".join(_stump_feature_cte(f) for f in _STUMP_FEATURES)
        + ",",
    ),
    doc="In-engine model training: a 1R decision stump (Holte 1993) "
    "fit by EXACT argmax over every (feature, threshold, direction) "
    "candidate - the accuracy of 'predict Gopher-pass iff "
    "feature >= v' for every distinct v comes from the same "
    "cumulative-count scaffolding as quality_score_auc (correct = "
    "n_pos - pos_below + neg_below), so the sweep is O(distinct "
    "values) per feature with all-integer counts and a total-order "
    "tie-break - the same answer on any cluster, every run. The "
    "'lt' direction falls out as n - ge_correct for free. Top-3 "
    "stumps reported with integer-nano accuracies. Scale shape: one "
    "word-aggregation pass builds the feature relation; each "
    "feature's sweep aggregates its DISTINCT-value relation "
    "(bounded by value arity); training is three bounded prefix-sum "
    "exchanges - the baseline-model fit a curation pipeline runs "
    "in-warehouse before reaching for external trainers.",
)
def stump_1r_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _doc_stats(spark, sf_dir).select(
        "doc_id",
        "n_words",
        F.expr("CAST(stop_hits * 1000000 div n_words AS BIGINT)").alias(
            "stop_micro"
        ),
        F.expr("CAST(char_sum * 1000000 div n_words AS BIGINT)").alias(
            "mwl_micro"
        ),
        _gate_y().alias("y"),
    ).persist()
    tot = feats.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    sweeps = []
    wprev = Window.orderBy("thr").rowsBetween(Window.unboundedPreceding, -1)
    for feat in _STUMP_FEATURES:
        v = feats.groupBy(F.col(feat).alias("thr")).agg(
            F.count("*").alias("cnt"), F.sum("y").cast("long").alias("pos")
        )
        c = v.select(
            "thr",
            F.coalesce(F.sum("pos").over(wprev), F.lit(0))
            .cast("long")
            .alias("pos_below"),
            F.coalesce(
                F.sum(F.col("cnt") - F.col("pos")).over(wprev), F.lit(0)
            )
            .cast("long")
            .alias("neg_below"),
        )
        sweeps.append(
            c.crossJoin(F.broadcast(tot)).select(
                F.lit(feat).alias("feature"),
                "thr",
                (
                    F.col("n_pos") - F.col("pos_below") + F.col("neg_below")
                ).cast("long").alias("ge_correct"),
                "n",
            )
        )
    all_s = sweeps[0].unionAll(sweeps[1]).unionAll(sweeps[2])
    ge_wins = F.col("ge_correct") >= F.col("n") - F.col("ge_correct")
    scored = all_s.select(
        "feature",
        "thr",
        F.when(ge_wins, "ge").otherwise("lt").alias("direction"),
        F.when(ge_wins, F.col("ge_correct"))
        .otherwise(F.col("n") - F.col("ge_correct"))
        .cast("long")
        .alias("n_correct"),
        "n",
    )
    wr = Window.orderBy(F.col("n_correct").desc(), "feature", "thr")
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "feature",
            F.col("thr").cast("long"),
            "direction",
            "n_correct",
            F.expr("CAST(n_correct * 1000000000 div n AS BIGINT)").alias(
                "acc_nano"
            ),
            "rank",
        )
    )
