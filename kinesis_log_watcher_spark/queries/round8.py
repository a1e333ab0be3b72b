"""Round-8 queries: the real merge-table BPE tokenizer as an operator.

The reference (a 416-line Kinesis tail/render CLI) has no tokenizer;
these queries extend the LLM-data-pipeline surface (SURVEY.md §7.5)
with the one training-data primitive the registry still approximated by
whitespace counts: EXACT token accounting through the public GPT-2-style
merge-table BPE algorithm (operators/bpe.py), the number that prices,
packs and budgets a training corpus.

Both queries run the encoder over the DISTINCT vocabulary through one
Arrow-batched mapInPandas stage; the DuckDB oracle recomputes the SAME
iterative min-rank merge loop off the SAME literal merge table with a
recursive CTE — a green row certifies the encoder symbol-for-symbol,
including the out-of-order (s, low) entry that only an iterative
encoder (not a rank-order single pass) can apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.operators.bpe import (
    DEFAULT_MERGES,
    doc_token_counts,
    vocab_token_counts,
)
from kinesis_log_watcher_spark.queries.base import (
    finalize_unpersist,
    load,
    load_stream,
    register,
)

_MERGE_VALUES = ", ".join(
    f"({rank + 1}, '{a}', '{b}')" for rank, (a, b) in enumerate(DEFAULT_MERGES)
)

# The shared oracle core: vocabulary → iterative min-rank BPE encode as
# a recursive CTE. Each step merges ALL occurrences (replace() scans
# left to right and resumes after each replacement — exactly the GPT-2
# merge pass) of the lowest-ranked pair present in the boundary-
# delimited symbol string; rows stop recursing when no table pair
# applies. `fin` is the terminal relation: (word, tokens, n_tokens).
_BPE_ENC_CTE = f"""
    m(rank, a, b) AS (VALUES {_MERGE_VALUES}),
    words AS (
      SELECT doc_id, source,
             unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
    v AS (SELECT DISTINCT word FROM words),
    enc AS (
      SELECT word, '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS s
      FROM v
      UNION ALL
      SELECT word,
             replace(s,
               (SELECT '|'||a||'|'||b||'|' FROM m
                WHERE contains(enc.s, '|'||a||'|'||b||'|')
                ORDER BY rank LIMIT 1),
               (SELECT '|'||a||b||'|' FROM m
                WHERE contains(enc.s, '|'||a||'|'||b||'|')
                ORDER BY rank LIMIT 1))
      FROM enc
      WHERE EXISTS (SELECT 1 FROM m
                    WHERE contains(enc.s, '|'||a||'|'||b||'|'))),
    fin AS (
      SELECT word,
             trim(s, '|') AS tokens,
             CAST(len(s) - len(replace(s, '|', '')) - 1 AS BIGINT)
               AS n_tokens
      FROM enc e
      WHERE NOT EXISTS (SELECT 1 FROM m
                        WHERE contains(e.s, '|'||a||'|'||b||'|')))
"""


@register(
    "bpe_vocab_encodings",
    f"""
    WITH RECURSIVE {_BPE_ENC_CTE}
    SELECT word, n_tokens, tokens FROM fin
    """,
    doc="The GPT-2-style merge-table BPE encoder certified symbol-for-"
    "symbol: every DISTINCT corpus word encoded by the iterative "
    "lowest-rank merge loop (operators/bpe.py bpe_encode, Arrow-batched "
    "mapInPandas), output as the exact '|'-joined token sequence. The "
    "oracle recomputes the loop as a DuckDB recursive CTE off the same "
    "literal merge table. The table's rank-1 entry (s, low) pairs a "
    "symbol built only by ranks 11/12, so a green row proves the "
    "encoder re-evaluates ranks each iteration — the real algorithm, "
    "not a single rank-order pass. Scale shape: the Python loop runs "
    "once per DISTINCT word (vocabulary-sized, corpus-independent); "
    "the merge table rides along as a task closure, never joined.",
)
def bpe_vocab_encodings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).distinct()
    return vocab_token_counts(vocab).select("word", "n_tokens", "tokens")


@register(
    "bpe_tokenize_budget",
    f"""
    WITH RECURSIVE {_BPE_ENC_CTE},
    per_doc AS (
      SELECT w.doc_id, w.source,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(f.n_tokens) AS BIGINT) AS n_tokens
      FROM words w JOIN fin f USING (word)
      GROUP BY w.doc_id, w.source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS words_total,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM((n_tokens + 63) // 64) AS BIGINT) AS chunks_64_total,
           CAST(SUM(n_tokens) * 1000000 // SUM(n_words) AS BIGINT)
             AS tokens_per_word_micro
    FROM per_doc GROUP BY source
    """,
    doc="Exact token budgeting for training-data packing: per-document "
    "BPE token counts (operators/bpe.py doc_token_counts — encode the "
    "DISTINCT vocabulary once, equi-join counts back to the word "
    "stream) rolled up per source with the 64-token sequence-packing "
    "chunk count ceil(n_tokens/64) and the exact tokens-per-word micro "
    "ratio — the fertility statistic and the chunk budget that price a "
    "training run, which whitespace counting (the registry's previous "
    "approximation) cannot produce. Scale shape: corpus rows flow only "
    "through JVM explode/equi-join/two-level agg; Python touches "
    "|vocab| rows once.",
)
def bpe_tokenize_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_doc = doc_token_counts(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("words_total"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.sum(F.expr("(n_tokens + 63) div 64"))
        .cast("long")
        .alias("chunks_64_total"),
        F.expr("sum(n_tokens) * 1000000 div sum(n_words)")
        .cast("long")
        .alias("tokens_per_word_micro"),
    )


# ===========================================================================
# Round-8 wave 2: PII redaction, sequence packing, token-vocab coverage
# ===========================================================================

# PII is synthesized DETERMINISTICALLY onto the corpus (the raw test
# corpus is PII-free): every 3rd doc gains an email, every 5th an IPv4,
# every 7th a phone — both dialects build the identical augmented text,
# so the queries certify the DETECTION/REDACTION kernels, not the
# synthesizer. Patterns are RE2-safe (no backreferences/lookaround) and
# evaluate identically under Java regex (Spark) and RE2 (DuckDB); the
# engine binds them via F.lit (never through a SQL string literal, where
# Spark's backslash escaping would silently rewrite them).
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IPV4 = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
_PII_PHONE = r"555-[0-9]{4}"

_PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call 555-' || (1000 + doc_id % 9000) ELSE '' END
"""


def _pii_aug_col():
    """The deterministic PII augmentation as an unbound Column."""
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" call 555-"),
                (1000 + F.col("doc_id") % 9000).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


def _pii_augmented(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "source", _pii_aug_col().alias("t"))


@register(
    "pii_redaction_audit",
    f"""
    WITH aug AS (
      SELECT doc_id, source, ({_PII_AUG_SQL}) AS t FROM documents),
    hits AS (
      SELECT source,
             CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
               AS n_email,
             CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT)
               AS n_ip,
             CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
               AS n_phone,
             CAST(CAST('0x' || substr(md5(
               regexp_replace(regexp_replace(regexp_replace(t,
                 '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_IPV4}', '<IP>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g')), 1, 13) AS BIGINT)
               AS BIGINT) AS red_digest
      FROM aug)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_email + n_ip + n_phone > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS emails_total,
           CAST(SUM(n_ip) AS BIGINT) AS ips_total,
           CAST(SUM(n_phone) AS BIGINT) AS phones_total,
           CAST(SUM(red_digest) AS BIGINT) AS redacted_digest
    FROM hits GROUP BY source
    """,
    doc="PII scrubbing gate (the curation step every training corpus "
    "runs before release): detect emails / IPv4s / phone numbers with "
    "RE2-safe patterns, count hits per class, and certify the REDACTED "
    "corpus byte-for-byte via a per-doc md5 digest folded into an "
    "exact int64 sum — a green row proves both engines redact to the "
    "identical output text, not just that counts agree. PII is "
    "synthesized deterministically from doc_id so the oracle builds "
    "the same input. Scale shape: narrow per-row regex in JVM codegen "
    "(no UDF, no shuffle before the rollup), one partial-agg shuffle "
    "on source.",
)
def pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    aug = _pii_augmented(docs)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_IPV4),
            F.lit("<IP>"),
        ),
        F.lit(_PII_PHONE),
        F.lit("<PHONE>"),
    )
    hits = aug.select(
        "source",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), 0))
        .cast("long")
        .alias("n_email"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_IPV4), 0))
        .cast("long")
        .alias("n_ip"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), 0))
        .cast("long")
        .alias("n_phone"),
        F.conv(F.substring(F.md5(red), 1, 13), 16, 10)
        .cast("long")
        .alias("red_digest"),
    )
    return hits.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("n_email") + F.col("n_ip") + F.col("n_phone") > 0, 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("docs_with_pii"),
        F.sum("n_email").cast("long").alias("emails_total"),
        F.sum("n_ip").cast("long").alias("ips_total"),
        F.sum("n_phone").cast("long").alias("phones_total"),
        F.sum("red_digest").cast("long").alias("redacted_digest"),
    )


_PACK_SEQ = 128  # tokens per packed training sequence
_PACK_BUCKET = 32  # docs per packing bucket (resets the prefix sum)


@register(
    "sequence_packing_stats",
    f"""
    WITH RECURSIVE {_BPE_ENC_CTE},
    per_doc AS (
      SELECT w.doc_id, CAST(SUM(f.n_tokens) AS BIGINT) AS n_tokens
      FROM words w JOIN fin f USING (word)
      GROUP BY w.doc_id),
    pos AS (
      SELECT doc_id, n_tokens, doc_id // {_PACK_BUCKET} AS bucket,
             SUM(n_tokens) OVER (PARTITION BY doc_id // {_PACK_BUCKET}
                                 ORDER BY doc_id) AS cum
      FROM per_doc),
    marked AS (
      SELECT bucket, n_tokens,
             CASE WHEN (cum - n_tokens) // {_PACK_SEQ}
                       <> (cum - 1) // {_PACK_SEQ}
                  THEN 1 ELSE 0 END AS crosses
      FROM pos),
    per_bucket AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens_b,
             CAST((SUM(n_tokens) + {_PACK_SEQ - 1}) // {_PACK_SEQ}
                  AS BIGINT) AS seqs_b,
             CAST(SUM(crosses) AS BIGINT) AS crossing_b
      FROM marked GROUP BY bucket)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(tokens_b) AS BIGINT) AS tokens_total,
           CAST(SUM(seqs_b) AS BIGINT) AS seqs_total,
           CAST(SUM(seqs_b) * {_PACK_SEQ} - SUM(tokens_b) AS BIGINT)
             AS waste_total,
           CAST(SUM(crossing_b) AS BIGINT) AS docs_crossing,
           CAST(SUM(tokens_b) * 1000000
                // (SUM(seqs_b) * {_PACK_SEQ}) AS BIGINT) AS fill_micro
    FROM per_bucket
    """,
    doc="Contiguous sequence packing (the step that turns a tokenized "
    "corpus into fixed-length training sequences): docs are laid out "
    "in doc_id order within {B}-doc BUCKETS, each bucket packed "
    "independently into {S}-token sequences by an exact integer prefix "
    "sum — per-doc boundary-crossing counts (attention-mask splits), "
    "total sequences, padding waste and the fill ratio. Bucketing is "
    "the scale posture: the prefix-sum window partitions on the "
    "bounded bucket key ({B} docs), never a global order — packing "
    "1e12 docs is embarrassingly parallel across buckets at the cost "
    "of at most one partial sequence of waste per bucket (measured "
    "here by waste_total). Token counts are the REAL BPE counts "
    "(operators/bpe.py), so the budget is the one the training run "
    "sees.".format(B=_PACK_BUCKET, S=_PACK_SEQ),
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    per_doc = doc_token_counts(docs).select("doc_id", "n_tokens")
    pos = per_doc.select(
        "doc_id",
        "n_tokens",
        F.expr(f"doc_id div {_PACK_BUCKET}").alias("bucket"),
    ).withColumn(
        "cum",
        F.sum("n_tokens").over(
            Window.partitionBy("bucket")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    marked = pos.select(
        "bucket",
        "n_tokens",
        F.when(
            F.expr(f"(cum - n_tokens) div {_PACK_SEQ}")
            != F.expr(f"(cum - 1) div {_PACK_SEQ}"),
            1,
        )
        .otherwise(0)
        .alias("crosses"),
    )
    per_bucket = marked.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_b"),
        F.expr(f"(sum(n_tokens) + {_PACK_SEQ - 1}) div {_PACK_SEQ}")
        .cast("long")
        .alias("seqs_b"),
        F.sum("crosses").cast("long").alias("crossing_b"),
    )
    return per_bucket.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("tokens_b").cast("long").alias("tokens_total"),
        F.sum("seqs_b").cast("long").alias("seqs_total"),
        (F.sum("seqs_b") * _PACK_SEQ - F.sum("tokens_b"))
        .cast("long")
        .alias("waste_total"),
        F.sum("crossing_b").cast("long").alias("docs_crossing"),
        F.expr(f"sum(tokens_b) * 1000000 div (sum(seqs_b) * {_PACK_SEQ})")
        .cast("long")
        .alias("fill_micro"),
    )


@register(
    "bpe_token_vocab_coverage",
    f"""
    WITH RECURSIVE {_BPE_ENC_CTE},
    wcnt AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM words GROUP BY word),
    tok AS (
      SELECT unnest(string_split(f.tokens, '|')) AS token, c.cnt
      FROM fin f JOIN wcnt c USING (word)),
    occ AS (
      SELECT token, CAST(SUM(cnt) AS BIGINT) AS occurrences
      FROM tok GROUP BY token),
    ranked AS (
      SELECT token, occurrences,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank,
             CAST(SUM(occurrences) OVER (w ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) * 1000000
                  // SUM(occurrences) OVER () AS BIGINT)
               AS coverage_micro
      FROM occ
      WINDOW w AS (ORDER BY occurrences DESC, token))
    SELECT token, occurrences, rank, coverage_micro FROM ranked
    """,
    doc="Token-vocabulary coverage curve: every BPE token's corpus "
    "occurrence count (word encodings weighted by word frequency), "
    "ranked, with the cumulative coverage each rank buys — the curve "
    "that sizes a vocabulary (how many tokens cover 95% of the "
    "corpus) and prices OOV fallback. Scale shape: corpus-side work "
    "is one word-count shuffle; the explode and windows run on the "
    "TOKEN domain, which is bounded by construction (alphabet + one "
    "symbol per merge-table row, independent of corpus size) — the "
    "global window is over a bounded relation, the histogram-family "
    "pattern.",
)
def bpe_token_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    wcnt = words.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    per_word = vocab_token_counts(wcnt.select("word"))
    tok = per_word.join(wcnt, "word").select(
        F.explode(F.split("tokens", r"\|")).alias("token"), "cnt"
    )
    occ = tok.groupBy("token").agg(
        F.sum("cnt").cast("long").alias("occurrences")
    )
    w = Window.orderBy(F.col("occurrences").desc(), "token")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return occ.select(
        "token",
        "occurrences",
        F.row_number().over(w).cast("long").alias("rank"),
        F.expr("sum(occurrences)")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("occurrences").over(wall).alias("tot"),
    ).select(
        "token",
        "occurrences",
        "rank",
        F.expr("cum * 1000000 div tot").cast("long").alias("coverage_micro"),
    )


# ===========================================================================
# Round-8 wave 3: streaming token-budget admission + Holt forecasting
# ===========================================================================


@register(
    "stream_token_budget_admission",
    f"""
    WITH RECURSIVE {_BPE_ENC_CTE},
    per_doc AS (
      SELECT w.doc_id, w.source,
             CAST(SUM(f.n_tokens) AS BIGINT) AS n_tokens
      FROM words w JOIN fin f USING (word)
      GROUP BY w.doc_id, w.source),
    cum AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
               AS cum_tokens
      FROM per_doc)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cum_tokens <= 1000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(COALESCE(MAX(CASE WHEN cum_tokens <= 1000
                                  THEN cum_tokens END), 0) AS BIGINT)
             AS tokens_admitted
    FROM cum GROUP BY source
    """,
    doc="Online token-budget admission (streaming/tokenbudget.py): a "
    "document stream folds per-source running BPE token totals in "
    "applyInPandasWithState group state and admits each source's doc_id "
    "prefix while the running total fits a 1000-token budget — the "
    "gate an online collector runs while a crawl is still arriving. "
    "The oracle states the same rule declaratively (recursive-CTE BPE "
    "tokens -> per-source cumsum <= budget), so a green row certifies "
    "stateful-stream == declarative-batch. Scale shape: state is ONE "
    "4-int row per source (bounded by the source alphabet); "
    "tokenization runs in the same Arrow stage through a word cache, "
    "vocabulary-sized work.",
)
def stream_token_budget_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.streaming.tokenbudget import (
        run_token_budget_admission,
    )

    return run_token_budget_admission(spark, f"{sf_dir}/documents.parquet")


# Holt's linear-trend (double exponential) smoothing, integer-exact:
# alpha/gamma as micro fractions, every recurrence step one truncating
# int64 division in BOTH dialects (Spark `div`, DuckDB `//` — both
# truncate toward zero, which matters on negative trend terms).
_HOLT_ALPHA = 300000  # 0.3 in micros
_HOLT_GAMMA = 100000  # 0.1 in micros


@register(
    "weekly_revenue_holt_forecast",
    f"""
    WITH RECURSIVE weekly AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS wk,
             CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    seq AS (
      SELECT wk, cents,
             CAST(ROW_NUMBER() OVER (ORDER BY wk) AS BIGINT) AS t
      FROM weekly),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM seq),
    holt AS (
      SELECT t, wk, cents,
             cents AS level_c,
             CAST(0 AS BIGINT) AS trend_c,
             CAST(0 AS BIGINT) AS forecast_c
      FROM seq WHERE t = 1
      UNION ALL
      SELECT s.t, s.wk, s.cents,
             ({_HOLT_ALPHA} * s.cents
              + ({10**6} - {_HOLT_ALPHA}) * (h.level_c + h.trend_c))
               // {10**6} AS level_c,
             ({_HOLT_GAMMA} * ((({_HOLT_ALPHA} * s.cents
                 + ({10**6} - {_HOLT_ALPHA}) * (h.level_c + h.trend_c))
                  // {10**6}) - h.level_c)
              + ({10**6} - {_HOLT_GAMMA}) * h.trend_c) // {10**6}
               AS trend_c,
             h.level_c + h.trend_c AS forecast_c
      FROM holt h JOIN seq s ON s.t = h.t + 1)
    SELECT wk AS week, cents AS actual_cents, forecast_c AS forecast_cents,
           CAST(abs(cents - forecast_c) AS BIGINT) AS abs_err_cents
    FROM holt WHERE t > 1
    """,
    doc="Holt's linear-trend exponential smoothing (the forecasting "
    "primitive one step past the STL decomposition family): level and "
    "trend recurrences in exact int64 micros with truncating division "
    "identical in both dialects, one-step-ahead forecast per day with "
    "absolute error, over the bounded WEEK domain (~343 weeks at ANY "
    "corpus scale — the recurrence is inherently sequential, so the "
    "domain choice bounds the fold depth). The engine computes the "
    "fold with ONE F.aggregate over the sorted week array (the "
    "histogram-family pattern: constant-size work after one "
    "partial-agg shuffle); the oracle restates the recurrence as a "
    "recursive CTE. "
    "Truncation, not floor: trend terms go negative, where Python // "
    "floors but both engines truncate (the r7 STL discipline).",
)
def weekly_revenue_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.expr(
            "CAST(datediff(to_date(o_orderdate), '1970-01-01') div 7 AS BIGINT)"
        ).alias("wk")
    ).agg(
        F.sum((dec(F.col("o_totalprice"), 12, 2) * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # bounded week domain -> one sorted array in a single row, then one
    # exact integer fold producing (week, actual, forecast) structs
    arr = weekly.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("wk"), F.col("cents")))
        ).alias("days")
    )
    fold = F.expr(
        f"""
        aggregate(
          slice(days, 2, greatest(size(days) - 1, 0)),
          struct(
            coalesce(get(days, 0).cents, CAST(0 AS BIGINT)) AS level_c,
            CAST(0 AS BIGINT) AS trend_c,
            CAST(array() AS array<struct<week:bigint,actual_cents:bigint,
                                         forecast_cents:bigint>>) AS out
          ),
          (acc, x) -> struct(
            ({_HOLT_ALPHA} * x.cents
             + ({10**6} - {_HOLT_ALPHA}) * (acc.level_c + acc.trend_c))
              div {10**6} AS level_c,
            ({_HOLT_GAMMA} * ((({_HOLT_ALPHA} * x.cents
                + ({10**6} - {_HOLT_ALPHA}) * (acc.level_c + acc.trend_c))
                 div {10**6}) - acc.level_c)
             + ({10**6} - {_HOLT_GAMMA}) * acc.trend_c) div {10**6}
              AS trend_c,
            array_append(acc.out, struct(
              x.wk AS week,
              x.cents AS actual_cents,
              acc.level_c + acc.trend_c AS forecast_cents)) AS out
          ),
          acc -> acc.out
        )
        """
    )
    out = arr.select(F.explode(fold).alias("r")).select(
        F.col("r.week").alias("week"),
        F.col("r.actual_cents").alias("actual_cents"),
        F.col("r.forecast_cents").alias("forecast_cents"),
    )
    return out.select(
        "week",
        "actual_cents",
        "forecast_cents",
        F.abs(F.col("actual_cents") - F.col("forecast_cents"))
        .cast("long")
        .alias("abs_err_cents"),
    )


# ---------------------------------------------------------------------------
# Inter-annotator agreement — Cohen's kappa for every rater pair plus
# Fleiss' kappa across all three raters. The label-quality primitive of
# an RLHF/eval annotation pipeline: three deterministic binary "raters"
# (a length gate, a lexical-diversity gate, a char-count gate) label the
# corpus, and the query reports chance-corrected agreement exactly.
#
# Exactness: kappa = (po - pe)/(1 - pe) is computed as one signed
# integer ratio over a common denominator — Cohen:
#   kappa = (n*agree - pesum) / (n^2 - pesum),
#     pesum = s_x*s_y + (n-s_x)*(n-s_y)
# Fleiss (r=3 raters, 2 categories), with S = s_a+s_b+s_c and
# Pnum = SUM(k^2 + (3-k)^2 - 3) over items (k = positive votes):
#   P-bar = Pnum/(6n), Pe = (S^2 + (3n-S)^2)/(9n^2)
#   kappa = (3n*Pnum - 2*Enum) / (2*(9n^2 - Enum)), Enum = S^2+(3n-S)^2
# Cross products are widened to DECIMAL(38,0)/HUGEINT before the
# truncating divide (n^2 passes int64 at n ~ 3e9 docs); Spark `div` and
# DuckDB `//` both truncate toward zero, so the signed micro values
# (the a|b pair is near-complementary here, kappa < 0) match bit-exact.
# Scale shape: ONE map-side-combinable aggregation over the corpus; the
# four output rows are unpivoted from the single agg row driver-side.
# ---------------------------------------------------------------------------

_KAPPA_RATERS_SQL = """
      SELECT CASE WHEN len(string_split(text, ' ')) >= 48
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN 2 * len(list_distinct(string_split(lower(text), ' ')))
                      >= len(string_split(text, ' '))
                  THEN 1 ELSE 0 END AS b,
             CASE WHEN n_chars >= 280 THEN 1 ELSE 0 END AS c
      FROM documents
"""


def _cohen_arm_sql(tag: str, sx: str, sy: str, agree: str) -> str:
    pesum = f"(CAST({sx} AS HUGEINT) * {sy} + CAST(n - {sx} AS HUGEINT) * (n - {sy}))"
    return f"""
    SELECT 'cohen:{tag}' AS pair, n AS n_items,
           CAST({agree} * 1000000 // n AS BIGINT) AS obs_micro,
           CAST({pesum} * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT)
             AS exp_micro,
           CAST(CASE WHEN CAST(n AS HUGEINT) * n = {pesum} THEN NULL
                ELSE (CAST(n AS HUGEINT) * {agree} - {pesum}) * 1000000
                     // (CAST(n AS HUGEINT) * n - {pesum}) END AS BIGINT)
             AS kappa_micro
    FROM s WHERE n > 0"""


_FLEISS_ARM_SQL = """
    SELECT 'fleiss:abc' AS pair, n AS n_items,
           CAST(CAST(pnum AS HUGEINT) * 1000000 // (6 * n) AS BIGINT)
             AS obs_micro,
           CAST((CAST(sa + sb + sc AS HUGEINT) * (sa + sb + sc)
                 + CAST(3 * n - sa - sb - sc AS HUGEINT)
                   * (3 * n - sa - sb - sc)) * 1000000
                // (9 * CAST(n AS HUGEINT) * n) AS BIGINT) AS exp_micro,
           CAST(CASE WHEN 9 * CAST(n AS HUGEINT) * n = enum_ THEN NULL
                ELSE (3 * CAST(n AS HUGEINT) * pnum - 2 * enum_) * 1000000
                     // (2 * (9 * CAST(n AS HUGEINT) * n - enum_)) END
                AS BIGINT) AS kappa_micro
    FROM (SELECT *, CAST(sa + sb + sc AS HUGEINT) * (sa + sb + sc)
                    + CAST(3 * n - sa - sb - sc AS HUGEINT)
                      * (3 * n - sa - sb - sc) AS enum_ FROM s)
    WHERE n > 0"""


@register(
    "annotator_agreement_kappa",
    f"""
    WITH r AS ({_KAPPA_RATERS_SQL}),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(a), 0) AS BIGINT) AS sa,
             CAST(COALESCE(SUM(b), 0) AS BIGINT) AS sb,
             CAST(COALESCE(SUM(c), 0) AS BIGINT) AS sc,
             CAST(COALESCE(SUM(CASE WHEN a = b THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS agab,
             CAST(COALESCE(SUM(CASE WHEN a = c THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS agac,
             CAST(COALESCE(SUM(CASE WHEN b = c THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS agbc,
             CAST(COALESCE(SUM((a + b + c) * (a + b + c)
                  + (3 - a - b - c) * (3 - a - b - c) - 3), 0) AS BIGINT)
               AS pnum
      FROM r)
    {_cohen_arm_sql("a_b", "sa", "sb", "agab")}
    UNION ALL
    {_cohen_arm_sql("a_c", "sa", "sc", "agac")}
    UNION ALL
    {_cohen_arm_sql("b_c", "sb", "sc", "agbc")}
    UNION ALL
    {_FLEISS_ARM_SQL}
    """,
    doc="Inter-annotator agreement: Cohen's kappa for each pair of three "
    "deterministic binary raters (length, lexical-diversity, char-count "
    "gates) plus Fleiss' kappa across all three — the chance-corrected "
    "label-quality metrics of an annotation pipeline. Exact signed "
    "integer arithmetic over ONE map-side-combinable corpus aggregation "
    "(no shuffle beyond the single agg row); common-denominator ratios "
    "widened to DECIMAL(38,0)/HUGEINT (n^2 passes int64 near 3e9 docs) "
    "and truncate-divided identically in both dialects — the a|b pair "
    "lands NEGATIVE, pinning signed `div`//`//` parity. Unanimity "
    "(pe = 1) yields NULL kappa by the same CASE in both engines.",
)
def annotator_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    wc = F.size(F.split("text", " "))
    uq = F.size(F.array_distinct(F.split(F.lower("text"), " ")))
    r = docs.select(
        F.when(wc >= 48, 1).otherwise(0).alias("a"),
        F.when(2 * uq >= wc, 1).otherwise(0).alias("b"),
        F.when(F.col("n_chars") >= 280, 1).otherwise(0).alias("c"),
    )
    s = (
        r.agg(
            F.count("*").cast("long").alias("n"),
            F.coalesce(F.sum("a"), F.lit(0)).cast("long").alias("sa"),
            F.coalesce(F.sum("b"), F.lit(0)).cast("long").alias("sb"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("sc"),
            F.coalesce(
                F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("agab"),
            F.coalesce(
                F.sum(F.when(F.col("a") == F.col("c"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("agac"),
            F.coalesce(
                F.sum(F.when(F.col("b") == F.col("c"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("agbc"),
            F.coalesce(
                F.sum(
                    (F.col("a") + F.col("b") + F.col("c"))
                    * (F.col("a") + F.col("b") + F.col("c"))
                    + (3 - F.col("a") - F.col("b") - F.col("c"))
                    * (3 - F.col("a") - F.col("b") - F.col("c"))
                    - 3
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("pnum"),
        )
        .filter(F.col("n") > 0)
    )

    def cohen(tag: str, sx: str, sy: str, agree: str):
        pesum = (
            f"(CAST({sx} AS DECIMAL(38,0)) * {sy}"
            f" + CAST(n - {sx} AS DECIMAL(38,0)) * (n - {sy}))"
        )
        return F.struct(
            F.lit(f"cohen:{tag}").alias("pair"),
            F.col("n").alias("n_items"),
            F.expr(f"{agree} * 1000000 div n").cast("long").alias("obs_micro"),
            F.expr(
                f"{pesum} * 1000000 div (CAST(n AS DECIMAL(38,0)) * n)"
            )
            .cast("long")
            .alias("exp_micro"),
            F.expr(
                f"CASE WHEN CAST(n AS DECIMAL(38,0)) * n = {pesum} THEN NULL "
                f"ELSE (CAST(n AS DECIMAL(38,0)) * {agree} - {pesum}) "
                f"* 1000000 div (CAST(n AS DECIMAL(38,0)) * n - {pesum}) END"
            )
            .cast("long")
            .alias("kappa_micro"),
        )

    enum_ = (
        "(CAST(sa + sb + sc AS DECIMAL(38,0)) * (sa + sb + sc)"
        " + CAST(3 * n - sa - sb - sc AS DECIMAL(38,0))"
        " * (3 * n - sa - sb - sc))"
    )
    fleiss = F.struct(
        F.lit("fleiss:abc").alias("pair"),
        F.col("n").alias("n_items"),
        F.expr("CAST(pnum AS DECIMAL(38,0)) * 1000000 div (6 * n)")
        .cast("long")
        .alias("obs_micro"),
        F.expr(
            f"{enum_} * 1000000 div (9 * CAST(n AS DECIMAL(38,0)) * n)"
        )
        .cast("long")
        .alias("exp_micro"),
        F.expr(
            f"CASE WHEN 9 * CAST(n AS DECIMAL(38,0)) * n = {enum_} THEN NULL "
            f"ELSE (3 * CAST(n AS DECIMAL(38,0)) * pnum - 2 * {enum_}) "
            f"* 1000000 div (2 * (9 * CAST(n AS DECIMAL(38,0)) * n - {enum_})) "
            "END"
        )
        .cast("long")
        .alias("kappa_micro"),
    )
    return s.select(
        F.explode(
            F.array(
                cohen("a_b", "sa", "sb", "agab"),
                cohen("a_c", "sa", "sc", "agac"),
                cohen("b_c", "sb", "sc", "agbc"),
                fleiss,
            )
        ).alias("k")
    ).select("k.*")


# ---------------------------------------------------------------------------
# Golden-record survivorship — the master-data-management consolidation
# step that follows duplicate detection: for every duplicate group,
# build ONE consolidated record by field-wise survivorship rules
# (longest-text survivor with deterministic tie-break, per-field mode
# with lexicographic tie-break, earliest id, total mass). Complements
# dedup_keep_longest (which only SELECTS a row) by actually merging
# fields from different group members.
#
# Scale shape: every aggregate is a primitive HashAggregate keyed on
# the group fingerprint — survivor and field modes are argmax-via-
# MIN(STRUCT(-count/size, tiebreak)) (two-level agg for the modes), so
# there is NO Window and NO per-group sort anywhere; the three grouped
# relations join on the same head_fp key at duplicate-group cardinality.
# The oracle states the intent with ROW_NUMBER windows.
# ---------------------------------------------------------------------------


@register(
    "golden_record_survivorship",
    """
    WITH fpv AS (
      SELECT doc_id, n_chars, lang, source,
             md5(array_to_string(list_slice(string_split(lower(text), ' '),
                                            1, 8), ' ')) AS head_fp
      FROM documents),
    g AS (
      SELECT head_fp, CAST(COUNT(*) AS BIGINT) AS group_size,
             CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM fpv GROUP BY head_fp HAVING COUNT(*) >= 2),
    sv AS (
      SELECT head_fp, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY head_fp
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM fpv),
    lm AS (
      SELECT head_fp, lang,
             ROW_NUMBER() OVER (PARTITION BY head_fp
                                ORDER BY COUNT(*) DESC, lang) AS rn
      FROM fpv GROUP BY head_fp, lang),
    sm AS (
      SELECT head_fp, source,
             ROW_NUMBER() OVER (PARTITION BY head_fp
                                ORDER BY COUNT(*) DESC, source) AS rn
      FROM fpv GROUP BY head_fp, source)
    SELECT g.head_fp, g.group_size,
           CAST(sv.doc_id AS BIGINT) AS survivor_doc_id,
           CAST(sv.n_chars AS BIGINT) AS survivor_chars,
           lm.lang AS mode_lang, sm.source AS mode_source,
           g.first_doc_id, g.total_chars
    FROM g
    JOIN sv ON sv.head_fp = g.head_fp AND sv.rn = 1
    JOIN lm ON lm.head_fp = g.head_fp AND lm.rn = 1
    JOIN sm ON sm.head_fp = g.head_fp AND sm.rn = 1
    """,
    doc="Golden-record survivorship (the MDM consolidation step after "
    "duplicate detection): per duplicate group (first-8-token "
    "fingerprint, >= 2 members) one consolidated record — longest-text "
    "survivor (tie: min doc_id), per-field MODE for lang/source (tie: "
    "lexicographic), earliest doc_id, total char mass. Engine computes "
    "every argmax as MIN(STRUCT(-metric, tiebreak)) primitive "
    "aggregates (no Window, no per-group sort; the mode is a two-level "
    "HashAggregate), with the three grouped relations joining on the "
    "same head_fp key at duplicate-group cardinality — survivorship "
    "over 1e12 docs is three map-side-combinable aggs plus aligned "
    "equi-joins. Oracle states the same rules with ROW_NUMBER windows.",
)
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(
            " ", F.slice(F.split(F.lower("text"), " "), 1, 8)
        )
    )
    base = docs.select(
        "doc_id", "n_chars", "lang", "source", fp.alias("head_fp")
    )
    g = (
        base.groupBy("head_fp")
        .agg(
            F.count("*").cast("long").alias("group_size"),
            F.min(
                F.struct(
                    (-F.col("n_chars")).alias("neg_chars"),
                    F.col("doc_id").alias("d"),
                )
            ).alias("sv"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .filter(F.col("group_size") >= 2)
    )
    lm = (
        base.groupBy("head_fp", "lang")
        .agg(F.count("*").alias("cnt"))
        .groupBy("head_fp")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("lang").alias("v"))
            ).alias("m")
        )
        .select("head_fp", F.col("m.v").alias("mode_lang"))
    )
    sm = (
        base.groupBy("head_fp", "source")
        .agg(F.count("*").alias("cnt"))
        .groupBy("head_fp")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"), F.col("source").alias("v")
                )
            ).alias("m")
        )
        .select("head_fp", F.col("m.v").alias("mode_source"))
    )
    return (
        g.join(lm, "head_fp")
        .join(sm, "head_fp")
        .select(
            "head_fp",
            "group_size",
            F.col("sv.d").cast("long").alias("survivor_doc_id"),
            (-F.col("sv.neg_chars")).cast("long").alias("survivor_chars"),
            "mode_lang",
            "mode_source",
            "first_doc_id",
            "total_chars",
        )
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (lang x source) + Cramer's V^2 — the
# classic contingency-table screen for whether a corpus's language mix
# is independent of its source (a skewed cell block is a curation
# red flag: one source feeding one language its near-duplicates).
#
# Exactness at scale: chi2 = n * (SUM_ij O_ij^2/(r_i*c_j) - 1), so each
# cell contributes O^2*1e9 // (r*c) <= 1e9 nano-units — the per-cell
# numerator is widened to DECIMAL(38,0)/HUGEINT (O^2*1e9 passes int64
# at O ~ 3e6) and the n multiply happens once on the summed nano value.
# Per-cell truncation is < 1e-9 each, so the absolute chi2 error is
# bounded by n*cells*1e-9 — relative error <= cells*1e-9/phi^2 for
# effect size phi, negligible for any detectable association.
# Cramer's V^2 = chi2/(n*(min(R,C)-1)) needs no n multiply at all.
# Plan: one (lang,source) grouped agg; the row/col margins are bounded
# dimension relations (distinct langs/sources) joined broadcast; n is
# recovered as SUM(O) so there is no 1-row crossJoin anywhere.
# ---------------------------------------------------------------------------


@register(
    "chi_square_independence",
    """
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source),
    r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rc FROM cells GROUP BY lang),
    c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS cc
          FROM cells GROUP BY source),
    t AS (
      SELECT cells.o,
             CAST(CAST(cells.o AS HUGEINT) * cells.o * 1000000000
                  // (CAST(r.rc AS HUGEINT) * c.cc) AS BIGINT) AS term_nano,
             cells.lang, cells.source
      FROM cells JOIN r USING (lang) JOIN c USING (source)),
    s AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n_docs,
             CAST(SUM(term_nano) AS BIGINT) AS sum_nano,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS nc
      FROM t)
    SELECT n_docs, (nr - 1) * (nc - 1) AS dof,
           CAST(CAST(n_docs AS HUGEINT) * (sum_nano - 1000000000)
                // 1000 AS BIGINT) AS chi2_micro,
           CAST(CASE WHEN LEAST(nr, nc) > 1
                THEN (sum_nano - 1000000000) // ((LEAST(nr, nc) - 1) * 1000)
                ELSE NULL END AS BIGINT) AS cramers_v2_micro
    FROM s WHERE n_docs > 0
    """,
    doc="Chi-square test of independence over the lang x source "
    "contingency table, with degrees of freedom and Cramer's V^2 — the "
    "corpus-curation screen for source/language coupling. Twin of "
    "segment_type_chi2 (queries/mining.py, events segment x type) with "
    "a stronger exactness posture: fully integer O^2/(r*c) terms (no "
    "float rounding anywhere) plus the effect-size normalization "
    "Cramer's V^2 the mining variant lacks. Computed as "
    "chi2 = n*(SUM O^2/(r*c) - 1): one map-side-combinable (lang,"
    "source) aggregation, margins joined back as BROADCAST bounded "
    "dimension relations, n recovered as SUM(O) (no 1-row crossJoin). "
    "Per-cell nano-quantized integer terms widened to DECIMAL(38,0)/"
    "HUGEINT truncate-divide identically in both dialects; absolute "
    "error bounded by n*cells*1e-9 (relative: cells*1e-9/phi^2).",
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("o")
    )
    r = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("rc"))
    c = cells.groupBy("source").agg(F.sum("o").cast("long").alias("cc"))
    t = (
        cells.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .select(
            "o",
            "lang",
            "source",
            F.expr(
                "CAST(CAST(o AS DECIMAL(38,0)) * o * 1000000000"
                " div (CAST(rc AS DECIMAL(38,0)) * cc) AS BIGINT)"
            ).alias("term_nano"),
        )
    )
    s = t.agg(
        F.sum("o").cast("long").alias("n_docs"),
        F.sum("term_nano").cast("long").alias("sum_nano"),
        F.countDistinct("lang").cast("long").alias("nr"),
        F.countDistinct("source").cast("long").alias("nc"),
    ).filter(F.col("n_docs") > 0)
    return s.select(
        "n_docs",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0)) * (sum_nano - 1000000000)"
            " div 1000 AS BIGINT)"
        ).alias("chi2_micro"),
        F.expr(
            "CAST(CASE WHEN LEAST(nr, nc) > 1 THEN"
            " (sum_nano - 1000000000) div ((LEAST(nr, nc) - 1) * 1000)"
            " ELSE NULL END AS BIGINT)"
        ).alias("cramers_v2_micro"),
    )


# ---------------------------------------------------------------------------
# DDSketch-shape relative-error quantile sketch (Masson et al., VLDB'19
# "DDSketch: a fast and fully-mergeable quantile sketch with relative-
# error guarantees") — re-based on INTEGER-EXACT log bucketing so both
# engines agree bit-for-bit: bucket = (floor(log2 v), 3 mantissa bits),
# i.e. gamma = 2^(1/8), computed with length(bin(v))/shifts/& only (no
# libm log, whose last-ulp differences would diverge the engines).
#
# Guarantee certified by the test (not just claimed): the exact q-th
# value always lies in [lo_bound, hi_bound] of the reported bucket, a
# <= 12.5% relative-width interval. Mergeability is structural — the
# sketch IS a (bucket -> count) grouped relation, so partial aggs merge
# map-side and sketches from different partitions/days union by the
# same groupBy; the quantile walk runs on the BOUNDED bucket domain
# (<= 512 buckets for any int64), the histogram-family pattern.
# ---------------------------------------------------------------------------

_DD_QS = (50, 90, 95, 99)


_DD_BUCKET_EXPR = (
    "CASE WHEN c >= 8 THEN 8 * (length(bin(c)) - 1)"
    " + (shiftright(c, length(bin(c)) - 4) & 7)"
    " ELSE c END"
)


def _dd_state(lineitem: DataFrame) -> DataFrame:
    """The (idx, cnt) bucket relation over lineitem price cents — the
    sketch itself, held by the streaming twin as complete-mode state."""
    v = lineitem.filter(F.col("l_extendedprice") > 0).select(
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("c")
    )
    return v.select(F.expr(_DD_BUCKET_EXPR).alias("idx")).groupBy("idx").agg(
        F.count("*").cast("long").alias("cnt")
    )


def _dd_finalize(b: DataFrame) -> DataFrame:
    """Quantile walk + certified bounds over a (idx, cnt) bucket
    relation — shared by the batch sketch and the streaming twin (the
    sketch is mergeable, so the finalize step is identical whichever
    path maintained the buckets)."""
    from pyspark.sql import Window

    cum = b.select(
        "idx",
        "cnt",
        F.sum("cnt").over(Window.orderBy("idx")).alias("cum_cnt"),
        F.sum("cnt").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n_rows")]
    for q in _DD_QS:
        tgt = f"(CAST({q} AS BIGINT) * n + 99) div 100"
        aggs.append(F.expr(f"CAST(max({tgt}) AS BIGINT)").alias(f"tr_{q}"))
        aggs.append(
            F.expr(
                f"CAST(min(CASE WHEN cum_cnt >= {tgt} THEN idx END)"
                " AS BIGINT)"
            ).alias(f"bi_{q}")
        )
    s = cum.agg(*aggs).filter(F.col("n_rows") > 0)
    rows = s.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).cast("long").alias("q"),
                        F.col("n_rows").alias("n_rows"),
                        F.col(f"tr_{q}").alias("target_rank"),
                        F.col(f"bi_{q}").alias("bucket_idx"),
                    )
                    for q in _DD_QS
                ]
            )
        ).alias("r")
    ).select("r.*")
    return rows.select(
        "q",
        "n_rows",
        "target_rank",
        "bucket_idx",
        F.expr(
            "CAST(CASE WHEN bucket_idx >= 24"
            " THEN shiftleft(CAST(8 + bucket_idx % 8 AS BIGINT),"
            " CAST(bucket_idx div 8 AS INT) - 3)"
            " ELSE bucket_idx END AS BIGINT)"
        ).alias("lo_bound"),
        F.expr(
            "CAST(CASE WHEN bucket_idx >= 24"
            " THEN shiftleft(CAST(9 + bucket_idx % 8 AS BIGINT),"
            " CAST(bucket_idx div 8 AS INT) - 3) - 1"
            " ELSE bucket_idx END AS BIGINT)"
        ).alias("hi_bound"),
    )


_DD_ORACLE_SQL = f"""
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem
      WHERE l_extendedprice > 0),
    b AS (
      SELECT CASE WHEN c >= 8
                  THEN 8 * (length(bin(c)) - 1)
                       + ((c >> (length(bin(c)) - 4)) & 7)
                  ELSE c END AS idx,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1),
    cum AS (
      SELECT idx, cnt,
             SUM(cnt) OVER (ORDER BY idx) AS cum_cnt,
             SUM(cnt) OVER () AS n
      FROM b),
    q(q) AS (VALUES {", ".join(f"({q})" for q in _DD_QS)}),
    hit AS (
      SELECT q.q,
             CAST((CAST(q.q AS BIGINT) * cum.n + 99) // 100 AS BIGINT)
               AS target_rank,
             CAST(MIN(cum.idx) AS BIGINT) AS bucket_idx,
             CAST(MAX(cum.n) AS BIGINT) AS n_rows
      FROM q JOIN cum
        ON cum.cum_cnt >= (CAST(q.q AS BIGINT) * cum.n + 99) // 100
      GROUP BY q.q, cum.n)
    SELECT CAST(q AS BIGINT) AS q, n_rows, target_rank, bucket_idx,
           CAST(CASE WHEN bucket_idx >= 24
                THEN (8 + bucket_idx % 8) << (bucket_idx // 8 - 3)
                ELSE bucket_idx END AS BIGINT) AS lo_bound,
           CAST(CASE WHEN bucket_idx >= 24
                THEN ((9 + bucket_idx % 8) << (bucket_idx // 8 - 3)) - 1
                ELSE bucket_idx END AS BIGINT) AS hi_bound
    FROM hit
    """


@register(
    "ddsketch_quantile_bounds",
    _DD_ORACLE_SQL,
    doc="DDSketch-shape mergeable quantile sketch (Masson et al. "
    "VLDB'19) with INTEGER-EXACT log bucketing: bucket = (floor(log2 "
    "v), 3 mantissa bits) == gamma 2^(1/8), via length(bin(v))/shift/"
    "mask only — no libm log, so both engines bucket bit-identically. "
    "Reports, for q in (50,90,95,99) over lineitem price cents, the "
    "ceil-rank target, the hit bucket and its CERTIFIED [lo,hi] value "
    "bounds (<= 12.5% relative width; the exact quantile provably "
    "inside — pinned by the suite against a Python exact sort). The "
    "sketch is a (bucket->count) grouped relation: partial aggs merge "
    "map-side, cross-shard union is the same groupBy, and the "
    "quantile walk windows over the BOUNDED bucket domain (<= 512 "
    "buckets for any int64) — never a global sort of the fact table.",
)
def ddsketch_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd_finalize(_dd_state(load(spark, sf_dir, "lineitem")))



# ---------------------------------------------------------------------------
# Isotonic regression (pool-adjacent-violators) — probability
# calibration, the step that turns a ranking score into a usable
# probability (Zadrozny & Elkan, KDD'02). Implemented through PAV's
# CLOSED FORM: fitted(i) = max_{j<=i} min_{k>=i} mean(pos[j..k]/n[j..k])
# (the minimax identity), evaluated on the BOUNDED score-bucket domain.
#
# Exactness: means are micro-quantized with truncating division —
# floor(1e6*x) is nondecreasing in x, so it COMMUTES with the max/min
# in the minimax identity; the reported fitted_micro is therefore
# exactly floor(1e6 * true PAV fit), certified by the suite against an
# exact-fraction Python PAV. Scale shape: one corpus aggregation to the
# <=32-bucket relation, then the whole O(B^3) minimax runs as JVM array
# HOFs on a single collected-array row — no self-join, no BNLJ, no
# window over the fact table.
# ---------------------------------------------------------------------------


@register(
    "isotonic_calibration_pav",
    """
    WITH r AS (
      SELECT LEAST(31, n_chars // 18) AS bucket,
             CASE WHEN 2 * len(list_distinct(string_split(lower(text), ' ')))
                      < len(string_split(text, ' '))
                  THEN 1 ELSE 0 END AS lbl
      FROM documents),
    b AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(lbl) AS BIGINT) AS pos
      FROM r GROUP BY bucket),
    pre AS (
      SELECT bucket, n, pos,
             SUM(n) OVER w AS cn, SUM(pos) OVER w AS cp,
             SUM(n) OVER w - n AS cn0, SUM(pos) OVER w - pos AS cp0
      FROM b WINDOW w AS (ORDER BY bucket)),
    pairs AS (
      SELECT j.bucket AS jb, k.bucket AS kb,
             CAST((k.cp - j.cp0) * 1000000 // (k.cn - j.cn0) AS BIGINT)
               AS mean_micro
      FROM pre j JOIN pre k ON k.bucket >= j.bucket),
    sm AS (
      SELECT jb, kb,
             MIN(mean_micro) OVER (PARTITION BY jb ORDER BY kb DESC)
               AS suffmin
      FROM pairs),
    fit AS (
      SELECT kb AS bucket, CAST(MAX(suffmin) AS BIGINT) AS fitted_micro
      FROM sm GROUP BY kb)
    SELECT b.bucket, b.n, b.pos,
           CAST(b.pos * 1000000 // b.n AS BIGINT) AS raw_micro,
           fit.fitted_micro
    FROM b JOIN fit USING (bucket)
    """,
    doc="Isotonic regression (pool-adjacent-violators) calibrating "
    "P(repetitive-text | length bucket) via PAV's minimax "
    "closed form fitted(i) = max_{j<=i} min_{k>=i} mean(j..k). Micro-"
    "quantization commutes with max/min (floor of a scale is "
    "monotone), so fitted_micro == floor(1e6 * exact PAV fit) — the "
    "suite certifies against an exact-fraction Python PAV and pins "
    "isotonicity. Engine: one corpus agg to the <=32-bucket relation, "
    "then the O(B^3) minimax entirely in JVM array HOFs on one "
    "collected row (no self-join, no BNLJ, no fact-table window); the "
    "oracle states the same identity relationally (bounded self-join "
    "+ suffix-min window).",
)
def isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    wc = F.size(F.split("text", " "))
    uq = F.size(F.array_distinct(F.split(F.lower("text"), " ")))
    r = docs.select(
        F.least(F.lit(31), F.expr("n_chars div 18")).alias("bucket"),
        F.when(2 * uq < wc, 1).otherwise(0).alias("lbl"),
    )
    b = r.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lbl").cast("long").alias("pos"),
    )
    arr = b.agg(
        F.sort_array(
            F.collect_list(F.struct("bucket", "n", "pos"))
        ).alias("a")
    ).filter(F.size("a") > 0)
    # cumulative sums over the bucket array (1-based, inclusive)
    folded = arr.select(
        "a",
        F.expr(
            "transform(sequence(1, size(a)),"
            " i -> aggregate(slice(a, 1, i), 0L, (s, x) -> s + x.n))"
        ).alias("cn"),
        F.expr(
            "transform(sequence(1, size(a)),"
            " i -> aggregate(slice(a, 1, i), 0L, (s, x) -> s + x.pos))"
        ).alias("cp"),
    )
    mean = (
        "((element_at(cp, k + 1) - IF(j > 0, element_at(cp, j), 0L))"
        " * 1000000"
        " div (element_at(cn, k + 1) - IF(j > 0, element_at(cn, j), 0L)))"
    )
    fitted = folded.select(
        "a",
        F.expr(
            "transform(sequence(0, size(a) - 1), i ->"
            " array_max(transform(sequence(0, i), j ->"
            f" array_min(transform(sequence(i, size(a) - 1), k -> {mean})"
            "))))"
        ).alias("f"),
    )
    out = fitted.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(a)), i -> struct("
                " element_at(a, i).bucket AS bucket,"
                " element_at(a, i).n AS n,"
                " element_at(a, i).pos AS pos,"
                " element_at(a, i).pos * 1000000 div element_at(a, i).n"
                "   AS raw_micro,"
                " element_at(f, i) AS fitted_micro))"
            )
        ).alias("r")
    )
    return out.select(
        "r.bucket",
        "r.n",
        "r.pos",
        F.col("r.raw_micro").cast("long").alias("raw_micro"),
        F.col("r.fitted_micro").cast("long").alias("fitted_micro"),
    )


# ---------------------------------------------------------------------------
# Bradley-Terry preference-strength fitting (two MM iterations) — the
# preference-model primitive behind RLHF reward-data pipelines (and
# Chatbot-Arena-style leaderboards): pairwise "A beat B" outcomes fit
# to per-player strengths w_i with P(i beats j) = w_i/(w_i + w_j),
# via Hunter (2004)'s minorization-maximization update
#   w_i' = W_i / SUM_j n_ij / (w_i + w_j)
# which is embarrassingly parallel per iteration (unlike Elo, whose
# result depends on game ORDER — the wrong primitive for a distributed
# batch pipeline).
#
# Games: within each order, every supplier pair plays once; the higher
# order-revenue supplier wins (ties to the lower suppkey). Pair fan-out
# is bounded by per-order supplier count, so game generation is an
# equi-self-join on the order key — never supplier x supplier. Each MM
# iteration is one groupBy over the sparse pair relation with the
# strength map joined broadcast (suppliers are a dimension). Exact
# integer arithmetic: strengths in micro, per-term pico-scaled
# truncating division widened to DECIMAL(38,0)/HUGEINT, identical in
# both dialects; the two-iteration convention follows
# kmeans_two_rounds / pagerank_two_rounds (queries/llm.py).
# ---------------------------------------------------------------------------

_BT_SCALE = 10**12


def _bt_iter_sql(w_prev: str, out: str) -> str:
    """One MM iteration as a DuckDB CTE body over sym(i, j, n, wins)."""
    return f"""
    {out} AS (
      SELECT s.i,
             CASE WHEN SUM((CAST(s.n AS HUGEINT) * {_BT_SCALE})
                           // (wi.w + wj.w)) > 0
                  THEN GREATEST(1, CAST(
                    (CAST(MAX(t.wins_total) AS HUGEINT) * {_BT_SCALE})
                    // SUM((CAST(s.n AS HUGEINT) * {_BT_SCALE})
                           // (wi.w + wj.w)) AS BIGINT))
                  ELSE 1000000 END AS w
      FROM sym s
      JOIN {w_prev} wi ON wi.i = s.i
      JOIN {w_prev} wj ON wj.i = s.j
      JOIN totals t ON t.i = s.i
      GROUP BY s.i)"""


@register(
    "bradley_terry_strengths",
    f"""
    WITH os AS (
      SELECT l_orderkey AS k, l_suppkey AS s,
             CAST(SUM(floor(l_extendedprice * 100 + 0.5)) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2),
    g AS (
      SELECT a.s AS i, b.s AS j,
             CASE WHEN a.c >= b.c THEN 1 ELSE 0 END AS win_i
      FROM os a JOIN os b ON a.k = b.k AND a.s < b.s),
    sym AS (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(win_i) AS BIGINT) AS wins
      FROM (SELECT i, j, win_i FROM g
            UNION ALL
            SELECT j AS i, i AS j, 1 - win_i AS win_i FROM g)
      GROUP BY i, j),
    totals AS (
      SELECT i, CAST(SUM(n) AS BIGINT) AS games_total,
             CAST(SUM(wins) AS BIGINT) AS wins_total
      FROM sym GROUP BY i),
    w0 AS (SELECT i, CAST(1000000 AS BIGINT) AS w FROM totals),
    {_bt_iter_sql("w0", "w1")},
    {_bt_iter_sql("w1", "w2")},
    ranked AS (
      SELECT t.i AS suppkey, t.games_total, t.wins_total, w2.w
               AS strength_micro,
             ROW_NUMBER() OVER (ORDER BY w2.w DESC, t.i) AS rnk
      FROM totals t JOIN w2 ON w2.i = t.i)
    SELECT CAST(suppkey AS BIGINT) AS suppkey,
           games_total, wins_total, strength_micro,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 20
    """,
    doc="Bradley-Terry preference-strength fitting, two Hunter (2004) "
    "MM iterations — the RLHF preference-model / arena-leaderboard "
    "primitive, chosen over Elo because the MM update is order-free "
    "and embarrassingly parallel per iteration. Games are generated by "
    "an order-key equi-self-join (fan-out bounded by per-order "
    "supplier count, never supplier x supplier); each iteration is one "
    "groupBy over the sparse pair relation with the strength map "
    "joined broadcast. Exact micro strengths via pico-scaled "
    "DECIMAL(38,0)/HUGEINT truncating division, floor-guarded at 1 so "
    "degenerate all-loss players can never zero a denominator.",
)
def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    os_ = li.groupBy(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("s")
    ).agg(
        F.expr("CAST(SUM(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)")
        .alias("c")
    )
    a = os_.select(F.col("k"), F.col("s").alias("i"), F.col("c").alias("ca"))
    b = os_.select(F.col("k"), F.col("s").alias("j"), F.col("c").alias("cb"))
    g = a.join(b, "k").filter(F.col("i") < F.col("j")).select(
        "i", "j", F.when(F.col("ca") >= F.col("cb"), 1).otherwise(0).alias("win_i")
    )
    # The pair relation feeds totals AND both MM iterations — without a
    # persist, every reference replays the order-key games self-join
    # (measured 7.0s -> ~3s at sf0.1). The iterative-query persist
    # discipline (kmeans/pagerank two-round convention).
    sym = (
        g.select("i", "j", "win_i")
        .unionAll(
            g.select(
                F.col("j").alias("i"),
                F.col("i").alias("j"),
                (1 - F.col("win_i")).alias("win_i"),
            )
        )
        .groupBy("i", "j")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("win_i").cast("long").alias("wins"),
        )
        .persist()
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
                    " ELSE 1000000 END"
                ).alias("w")
            )
        )

    w0 = totals.select("i", F.lit(1000000).cast("long").alias("w"))
    w2 = mm_iter(mm_iter(w0))
    ranked = (
        totals.join(w2.select("i", F.col("w").alias("strength_micro")), "i")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("strength_micro").desc(), F.col("i"))
            ),
        )
        .filter(F.col("rnk") <= 20)
    )
    out = ranked.select(
        F.col("i").cast("long").alias("suppkey"),
        "games_total",
        "wins_total",
        "strength_micro",
        F.col("rnk").cast("long").alias("rnk"),
    )
    # <=20 rows: materialize and free the persisted pair relation
    # deterministically (the registry-sweep memory discipline).
    return finalize_unpersist(out, sym)


@register(
    "stream_ddsketch_quantiles",
    _DD_ORACLE_SQL,
    doc="STREAMING DDSketch: the (bucket -> count) sketch maintained as "
    "streaming aggregation state across micro-batches — counting is "
    "associative/commutative/order-free, so ANY replay split converges "
    "to the batch sketch, which is exactly the mergeability claim the "
    "batch query documents, here proven live. State is the bounded "
    "bucket rows themselves (<= 512 for any int64 domain — the sketch "
    "IS the state, never the values); quantiles finalize on read over "
    "the sink registers through the same _dd_finalize walk. Oracle = "
    "the batch ddsketch_quantile_bounds SQL verbatim, so green == the "
    "streamed sketch is bit-identical to the batch one.",
)
def stream_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.sources.files import run_replay

    state = _dd_state(load_stream(spark, sf_dir, "lineitem"))
    return _dd_finalize(run_replay(state, "complete", "stream_ddsketch"))


# ---------------------------------------------------------------------------
# Change-point detection — one round of binary segmentation (Scott &
# Knott 1974; the recursion step of ruptures/BinSeg): the split of the
# daily-revenue series minimizing SSE_left + SSE_right, equivalently
# maximizing g(s) = S_s^2/s + (S_D - S_s)^2/(D - s). Complements the
# sequential detectors already in the tree (CUSUM alerts, Mann-Kendall
# trend, STL) with the classic OFFLINE segmentation primitive.
#
# Exactness & scale-free headroom: the objective is evaluated on the
# NANO-QUANTIZED cumulative revenue share p = S_s*1e9 // S_D, giving
#   gain_nano = (p^2 (D-s) + (1e9-p)^2 s) // (s (D-s))  <=  2e18
# which fits int64 AT ANY DATA SCALE (p is bounded by construction —
# the first cut at this query computed S_s^2-scale products whose
# integral quotient overflowed int64 silently under Spark's `div`,
# caught against the HUGEINT oracle). Cross products still widen to
# DECIMAL(38,0)/HUGEINT; argmax ties break to the earliest day via
# MAX(STRUCT(gain, -day)). All windows run on the BOUNDED day domain
# (the STL/histogram pattern); the fact table pays one map-side-
# combinable daily aggregation.
# ---------------------------------------------------------------------------


@register(
    "changepoint_binary_segmentation",
    """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS dd,
             CAST(SUM(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    seq AS (
      SELECT dd, cents,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS s,
             CAST(SUM(cents) OVER w AS BIGINT) AS cs,
             CAST(COUNT(*) OVER () AS BIGINT) AS d,
             CAST(SUM(cents) OVER () AS BIGINT) AS st
      FROM daily WINDOW w AS (ORDER BY dd)),
    gains AS (
      SELECT dd, s, cs, d, st,
             CAST(CAST(cs AS HUGEINT) * 1000000000 // st AS BIGINT) AS p,
             CAST((CAST(CAST(cs AS HUGEINT) * 1000000000 // st AS HUGEINT)
                     * (CAST(cs AS HUGEINT) * 1000000000 // st) * (d - s)
                   + (1000000000 - CAST(cs AS HUGEINT) * 1000000000 // st)
                     * (1000000000 - CAST(cs AS HUGEINT) * 1000000000 // st) * s)
                  // (s * (d - s)) AS BIGINT) AS gain_nano
      FROM seq WHERE s < d AND st > 0),
    best AS (
      SELECT dd, s, cs, d, st, gain_nano,
             ROW_NUMBER() OVER (ORDER BY gain_nano DESC, dd) AS rn
      FROM gains)
    SELECT d AS n_days,
           dd AS split_dd,
           s AS left_days,
           d - s AS right_days,
           CAST(cs // s AS BIGINT) AS left_mean_cents,
           CAST((st - cs) // (d - s) AS BIGINT) AS right_mean_cents,
           gain_nano
    FROM best WHERE rn = 1
    """,
    doc="Offline change-point detection: one binary-segmentation round "
    "(Scott & Knott 1974; the BinSeg recursion step) over daily "
    "revenue — the split minimizing SSE_left + SSE_right, found by "
    "maximizing g(s) = S_s^2/s + (S_D-S_s)^2/(D-s) evaluated on the "
    "nano-quantized revenue share p = S_s*1e9//S_D, so gain_nano <= "
    "2e18 fits int64 at ANY data scale (the naive S^2-scale quotient "
    "overflows Spark's bigint `div` silently — caught against the "
    "HUGEINT oracle and redesigned scale-free). Earliest-day argmax "
    "tie-break via MAX(STRUCT(gain, -day)); one map-side-combinable "
    "daily agg, windows only on the bounded day domain.",
)
def changepoint_binary_segmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
            " AS BIGINT)"
        ).alias("dd")
    ).agg(
        F.expr("CAST(SUM(floor(o_totalprice * 100 + 0.5)) AS BIGINT)")
        .alias("cents")
    )
    w = Window.orderBy("dd")
    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seq = daily.select(
        "dd",
        "cents",
        F.row_number().over(w).cast("long").alias("s"),
        F.sum("cents").over(w).cast("long").alias("cs"),
        F.count("*").over(whole).cast("long").alias("d"),
        F.sum("cents").over(whole).cast("long").alias("st"),
    )
    gains = (
        seq.filter((F.col("s") < F.col("d")) & (F.col("st") > 0))
        .withColumn(
            "p",
            F.expr(
                "CAST(CAST(cs AS DECIMAL(38,0)) * 1000000000 div st"
                " AS BIGINT)"
            ),
        )
        .select(
            "dd",
            "s",
            "cs",
            "d",
            "st",
            F.expr(
                "CAST((CAST(p AS DECIMAL(38,0)) * p * (d - s)"
                " + CAST(1000000000 - p AS DECIMAL(38,0))"
                " * (1000000000 - p) * s)"
                " div (s * (d - s)) AS BIGINT)"
            ).alias("gain_nano"),
        )
    )
    best = gains.agg(
        F.max(
            F.struct(
                F.col("gain_nano").alias("g"),
                (-F.col("dd")).alias("nd"),
                F.col("s").alias("s"),
                F.col("cs").alias("cs"),
                F.col("d").alias("d"),
                F.col("st").alias("st"),
            )
        ).alias("b")
    ).filter(F.col("b").isNotNull())
    return best.select(
        F.col("b.d").alias("n_days"),
        (-F.col("b.nd")).cast("long").alias("split_dd"),
        F.col("b.s").alias("left_days"),
        (F.col("b.d") - F.col("b.s")).alias("right_days"),
        F.expr("b.cs div b.s").cast("long").alias("left_mean_cents"),
        F.expr("(b.st - b.cs) div (b.d - b.s)")
        .cast("long")
        .alias("right_mean_cents"),
        F.col("b.g").alias("gain_nano"),
    )


# ---------------------------------------------------------------------------
# Positional delete vectors — the modern lakehouse delete read path
# (Iceberg positional deletes / Delta deletion vectors): deletes live
# in a sidecar relation of physical row positions and the scan resolves
# them with an ANTI-JOIN on position, never rewriting data files.
# Spark exposes the physical position as `_metadata.row_index`; the
# oracle (which only sees the registered view, not the file) states the
# position LOGICALLY as rank over doc_id — the documents file's
# clustering key — so a green row certifies BOTH halves of the
# contract: position-keyed deletes are engine-portable, and the file's
# physical layout really is doc_id-clustered (the zone-map/Z-order
# assumption the layout queries rely on).
#
# The DV is a deterministic ~10% md5-of-position sample standing in
# for the sidecar file; the read path is the real shape: base scan ->
# LEFT ANTI join on position -> aggregate. At 100 TB the anti-join is
# per-file position-aligned with tiny broadcast DVs.
# ---------------------------------------------------------------------------


@register(
    "positional_delete_vector_read",
    """
    WITH base AS (
      SELECT source, n_chars,
             CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS pos
      FROM documents),
    dv AS (
      SELECT pos FROM base
      WHERE CAST('0x' || substr(md5('dv:' || CAST(pos AS VARCHAR)), 1, 15)
                 AS BIGINT) % 10 = 0)
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_surviving,
           CAST(SUM(b.n_chars) AS BIGINT) AS surviving_chars
    FROM base b
    LEFT JOIN dv ON dv.pos = b.pos
    WHERE dv.pos IS NULL
    GROUP BY b.source
    """,
    doc="Positional delete vectors (Iceberg positional deletes / Delta "
    "deletion vectors): the delete sidecar is a relation of PHYSICAL "
    "row positions and the scan resolves it with a LEFT ANTI join on "
    "position (`_metadata.row_index`), never rewriting data files. The "
    "oracle sees only the registered view, so it states positions "
    "logically as rank over doc_id — the file's clustering key — and a "
    "green row therefore certifies both that position-keyed deletes "
    "are engine-portable AND that the physical layout really is "
    "doc_id-clustered. The DV is a deterministic ~10% md5 position "
    "sample standing in for the sidecar; at scale the anti-join is "
    "per-file position-aligned with tiny broadcast DVs.",
)
def positional_delete_vector_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source",
        "n_chars",
        F.col("_metadata.row_index").cast("long").alias("pos"),
    )
    dv = base.filter(
        F.expr(
            "CAST(conv(substring(md5(concat('dv:', CAST(pos AS STRING))),"
            " 1, 15), 16, 10) AS BIGINT) % 10 = 0"
        )
    ).select("pos")
    surviving = base.join(dv, "pos", "left_anti")
    return surviving.groupBy("source").agg(
        F.count("*").cast("long").alias("n_surviving"),
        F.sum("n_chars").cast("long").alias("surviving_chars"),
    )


# ---------------------------------------------------------------------------
# Inference batch padding waste — the serving-side economics of batch
# composition: fixed-size inference batches pad every sequence to the
# batch max, so arrival-order batches burn FLOPs on pad tokens while
# length-sorted ("bucketed") batching — the standard serving
# optimization — packs like-length sequences together. The query
# quantifies both strategies on the corpus.
#
# Scale shape: arrival batches are doc_id-contiguous (embarrassingly
# parallel). The length-sorted strategy needs a GLOBAL rank by length —
# done with the repo's histogram-rank trick, never a corpus-wide sort:
# per-length counts (bounded value domain) -> prefix sums over the
# length domain -> rank = prefix_before(len) + intra-length row_number
# (windows partition on the bounded length value). Deterministic
# tie-break by doc_id in both engines.
# ---------------------------------------------------------------------------

_PAD_B = 16  # sequences per inference batch


@register(
    "inference_batch_padding_waste",
    f"""
    WITH d AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
      FROM documents),
    arrival AS (
      SELECT doc_id // {_PAD_B} AS b, wc FROM d),
    a_stats AS (
      SELECT CAST(MAX(wc) * COUNT(*) AS BIGINT) AS padded,
             CAST(SUM(wc) AS BIGINT) AS real
      FROM arrival GROUP BY b),
    hist AS (
      SELECT wc, COUNT(*) AS c FROM d GROUP BY wc),
    pre AS (
      SELECT wc, SUM(c) OVER (ORDER BY wc) - c AS before_cnt FROM hist),
    ranked AS (
      SELECT d.wc,
             pre.before_cnt
               + ROW_NUMBER() OVER (PARTITION BY d.wc ORDER BY d.doc_id)
               - 1 AS rk
      FROM d JOIN pre ON pre.wc = d.wc),
    srt AS (
      SELECT rk // {_PAD_B} AS b, wc FROM ranked),
    s_stats AS (
      SELECT CAST(MAX(wc) * COUNT(*) AS BIGINT) AS padded,
             CAST(SUM(wc) AS BIGINT) AS real
      FROM srt GROUP BY b),
    both_ AS (
      SELECT 'arrival' AS strategy,
             CAST(COUNT(*) AS BIGINT) AS n_batches,
             CAST(SUM(real) AS BIGINT) AS tokens_real,
             CAST(SUM(padded) AS BIGINT) AS tokens_padded
      FROM a_stats
      UNION ALL
      SELECT 'length_sorted' AS strategy,
             CAST(COUNT(*) AS BIGINT) AS n_batches,
             CAST(SUM(real) AS BIGINT) AS tokens_real,
             CAST(SUM(padded) AS BIGINT) AS tokens_padded
      FROM s_stats)
    SELECT strategy, n_batches, tokens_real, tokens_padded,
           CAST((tokens_padded - tokens_real) * 1000 // tokens_padded
                AS BIGINT) AS waste_milli
    FROM both_ WHERE tokens_padded > 0
    """,
    doc="Inference batch padding waste: fixed {B}-sequence batches pad "
    "to the batch max, so the query prices BOTH compositions — "
    "arrival-order (doc_id-contiguous batches) vs length-sorted "
    "bucketing, the standard serving optimization. The global "
    "length rank is the histogram-rank trick (per-length counts -> "
    "bounded-domain prefix sums -> intra-length row_number), NEVER a "
    "corpus-wide sort — the windows partition on the bounded length "
    "value; ties break on doc_id identically in both engines. The "
    "suite pins that sorting strictly reduces waste.".format(B=_PAD_B),
)
def inference_batch_padding_waste(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("wc")
    )
    a_stats = (
        d.groupBy(F.expr(f"doc_id div {_PAD_B}").alias("b"))
        .agg(
            (F.max("wc") * F.count("*")).cast("long").alias("padded"),
            F.sum("wc").cast("long").alias("real"),
        )
    )
    hist = d.groupBy("wc").agg(F.count("*").alias("c"))
    pre = hist.select(
        "wc",
        (F.sum("c").over(Window.orderBy("wc")) - F.col("c")).alias(
            "before_cnt"
        ),
    )
    ranked = d.join(F.broadcast(pre), "wc").select(
        "wc",
        (
            F.col("before_cnt")
            + F.row_number().over(
                Window.partitionBy("wc").orderBy("doc_id")
            )
            - 1
        ).alias("rk"),
    )
    s_stats = (
        ranked.groupBy(F.expr(f"rk div {_PAD_B}").alias("b"))
        .agg(
            (F.max("wc") * F.count("*")).cast("long").alias("padded"),
            F.sum("wc").cast("long").alias("real"),
        )
    )

    def roll(stats: DataFrame, name: str) -> DataFrame:
        return stats.agg(
            F.lit(name).alias("strategy"),
            F.count("*").cast("long").alias("n_batches"),
            F.sum("real").cast("long").alias("tokens_real"),
            F.sum("padded").cast("long").alias("tokens_padded"),
        )

    both = roll(a_stats, "arrival").unionAll(roll(s_stats, "length_sorted"))
    return both.filter(F.col("tokens_padded") > 0).select(
        "strategy",
        "n_batches",
        "tokens_real",
        "tokens_padded",
        F.expr(
            "CAST((tokens_padded - tokens_real) * 1000 div tokens_padded"
            " AS BIGINT)"
        ).alias("waste_milli"),
    )


# ---------------------------------------------------------------------------
# Prefix-cache (KV-cache reuse) planning — the serving-side question
# behind vLLM-style automatic prefix caching: if requests share their
# first k tokens, the KV computation for those tokens is paid once per
# DISTINCT prefix, not once per request. For each prefix depth k the
# query reports the distinct-prefix count and the token-level reuse:
#   saved_tokens(k) = k * (n_docs_with_len>=k - distinct_prefixes(k))
# i.e. every duplicate occurrence of a depth-k prefix re-serves k
# cached token states.
#
# Scale shape: one pass builds the per-doc depth-k prefix hash for the
# fixed ladder of k's (array slice + md5 — narrow, no explode of token
# rows), then one groupBy per k on the hash (map-side combinable,
# fixed small ladder). No windows, no sorts.
# ---------------------------------------------------------------------------

_PC_KS = (1, 2, 4, 8, 16)


@register(
    "prefix_cache_reuse_plan",
    f"""
    WITH d AS (
      SELECT string_split(lower(text), ' ') AS toks FROM documents),
    lad AS (
      SELECT k,
             CAST(COUNT(*) AS BIGINT) AS n_reqs,
             CAST(COUNT(DISTINCT md5(array_to_string(toks[1:k], ' ')))
                  AS BIGINT) AS distinct_prefixes
      FROM d, (SELECT unnest([{", ".join(str(k) for k in _PC_KS)}]) AS k) u
      WHERE len(toks) >= k
      GROUP BY k)
    SELECT k, n_reqs, distinct_prefixes,
           CAST(k * (n_reqs - distinct_prefixes) AS BIGINT)
             AS saved_tokens,
           CAST((n_reqs - distinct_prefixes) * 1000 // n_reqs AS BIGINT)
             AS hit_rate_milli
    FROM lad
    """,
    doc="Prefix-cache (KV-reuse) planning, the vLLM automatic-prefix-"
    "caching question: per prefix depth k in {ks}, how many requests "
    "share their first k tokens — distinct prefixes, tokens saved "
    "(k per duplicate occurrence) and the request-level hit rate. One "
    "narrow pass derives each doc's depth-k prefix hashes (array "
    "slice + md5, no token explode); per-k distinct counts are "
    "map-side-combinable groupBys over a fixed small ladder. No "
    "windows, no sorts, no fact-table fan-out beyond the {n}-row "
    "ladder.".format(ks=_PC_KS, n=len(_PC_KS)),
)
def prefix_cache_reuse_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = docs.select(F.split(F.lower("text"), " ").alias("toks"))
    lad = d.select(
        F.explode(
            F.array(*[F.lit(k) for k in _PC_KS])
        ).alias("k"),
        "toks",
    ).filter(F.size("toks") >= F.col("k"))
    lad = lad.select(
        "k",
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.lit(1), F.col("k")))
        ).alias("ph"),
    )
    agg = lad.groupBy("k").agg(
        F.count("*").cast("long").alias("n_reqs"),
        F.countDistinct("ph").cast("long").alias("distinct_prefixes"),
    )
    return agg.select(
        F.col("k").cast("long").alias("k"),
        "n_reqs",
        "distinct_prefixes",
        (F.col("k") * (F.col("n_reqs") - F.col("distinct_prefixes")))
        .cast("long")
        .alias("saved_tokens"),
        F.expr(
            "CAST((n_reqs - distinct_prefixes) * 1000 div n_reqs AS BIGINT)"
        ).alias("hit_rate_milli"),
    )


# ---------------------------------------------------------------------------
# The curation pipeline, END TO END, as one certified query: quality
# gate -> canonical dedup -> PII redaction -> BPE tokenization ->
# sequence packing, reporting per-stage survival and the stage metrics
# (redaction checksum, token total, packing waste). Every stage reuses
# a primitive the registry already certifies in isolation; this query
# certifies that they COMPOSE — the oracle restates the whole chain in
# one SQL (including the recursive-CTE BPE encoder running over the
# REDACTED vocabulary), so a green row means the engines agree on the
# corpus at every stage boundary, not just at the end.
#
# Scale shape: narrow row-local stages (gate predicate, regex redact),
# one fingerprint groupBy for dedup, the vocabulary-relation BPE
# encode (distinct words, Arrow-batched), bucketed prefix-sum packing
# — the same postures as the individual queries; the canonical
# relation is persisted across its consumers and freed via
# finalize_unpersist.
# ---------------------------------------------------------------------------


@register(
    "curation_pipeline_e2e",
    f"""
    WITH RECURSIVE raw AS (
      SELECT doc_id, n_chars,
             ({_PII_AUG_SQL}) AS t,
             len(string_split(text, ' ')) AS wc,
             md5(array_to_string(list_slice(string_split(lower(text), ' '),
                                            1, 8), ' ')) AS head_fp
      FROM documents),
    gated AS (SELECT * FROM raw WHERE wc >= 20),
    canon AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, t,
               ROW_NUMBER() OVER (PARTITION BY head_fp
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM gated) WHERE rn = 1),
    red AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS rt
      FROM canon),
    m(rank, a, b) AS (VALUES {_MERGE_VALUES}),
    words AS (
      SELECT doc_id, unnest(string_split(lower(rt), ' ')) AS word
      FROM red),
    v AS (SELECT DISTINCT word FROM words),
    enc AS (
      SELECT word, '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS s
      FROM v
      UNION ALL
      SELECT word,
             replace(s,
               (SELECT '|'||a||'|'||b||'|' FROM m
                WHERE contains(enc.s, '|'||a||'|'||b||'|')
                ORDER BY rank LIMIT 1),
               (SELECT '|'||a||b||'|' FROM m
                WHERE contains(enc.s, '|'||a||'|'||b||'|')
                ORDER BY rank LIMIT 1))
      FROM enc
      WHERE EXISTS (SELECT 1 FROM m
                    WHERE contains(enc.s, '|'||a||'|'||b||'|'))),
    fin AS (
      SELECT word,
             CAST(len(s) - len(replace(s, '|', '')) - 1 AS BIGINT)
               AS n_tokens
      FROM enc e
      WHERE NOT EXISTS (SELECT 1 FROM m
                        WHERE contains(e.s, '|'||a||'|'||b||'|'))),
    per_doc AS (
      SELECT w.doc_id, CAST(SUM(f.n_tokens) AS BIGINT) AS n_tokens
      FROM words w JOIN fin f USING (word) GROUP BY w.doc_id),
    pos AS (
      SELECT doc_id, n_tokens, doc_id // 32 AS bucket
      FROM per_doc),
    per_bucket AS (
      SELECT bucket,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens_b,
             CAST((SUM(n_tokens) + 127) // 128 AS BIGINT) AS seqs_b
      FROM pos GROUP BY bucket),
    stages AS (
      SELECT 1 AS stage_order, 'raw' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n, CAST(0 AS BIGINT) AS metric
      FROM raw
      UNION ALL
      SELECT 2, 'quality_gate', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
      FROM gated
      UNION ALL
      SELECT 3, 'dedup_canonical', CAST(COUNT(*) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM canon
      UNION ALL
      SELECT 4, 'pii_redacted', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CAST('0x' || substr(md5(rt), 1, 13)
                                    AS BIGINT)), 0)
                  % 1000000007 AS BIGINT)
      FROM red
      UNION ALL
      SELECT 5, 'tokenized', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT)
      FROM per_doc
      UNION ALL
      SELECT 6, 'packed', CAST(COALESCE(SUM(seqs_b), 0) AS BIGINT),
             CAST(COALESCE(SUM(seqs_b) * 128 - SUM(tokens_b), 0)
                  AS BIGINT)
      FROM per_bucket)
    SELECT CAST(stage_order AS BIGINT) AS stage_order, stage, n, metric
    FROM stages
    """,
    doc="The curation pipeline END TO END in one certified query: "
    "quality gate (wc >= 20) -> canonical dedup (longest per head "
    "fingerprint) -> PII redaction -> merge-table BPE tokenization of "
    "the REDACTED text -> 128-token bucketed sequence packing, with "
    "per-stage survival counts and stage metrics (prime-modulus "
    "redaction checksum so the digest sum cannot overflow int64 at any "
    "corpus size; token total; packing waste). Each primitive is "
    "already registry-certified in isolation — this row certifies they "
    "COMPOSE: the oracle restates the full chain in one SQL including "
    "the recursive-CTE encoder over the redacted vocabulary. Postures "
    "match the individual queries (row-local gate/redact, one "
    "fingerprint groupBy, vocabulary-relation Arrow encode, bucketed "
    "prefix-sum packing).",
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.bpe import doc_token_counts
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).alias("wc"),
        F.md5(
            F.concat_ws(" ", F.slice(F.split(F.lower("text"), " "), 1, 8))
        ).alias("head_fp"),
        _pii_aug_col().alias("t"),
    )
    gated = raw.filter(F.col("wc") >= 20)
    canon = (
        gated.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("head_fp").orderBy(
                    F.col("n_chars").desc(), F.col("doc_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "t")
    )
    red = canon.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("t", F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
                F.lit(_PII_IPV4),
                F.lit("<IP>"),
            ),
            F.lit(_PII_PHONE),
            F.lit("<PHONE>"),
        ).alias("rt"),
    ).persist()
    per_doc = doc_token_counts(
        red.select("doc_id", F.col("rt").alias("text"))
    ).select("doc_id", "n_tokens").persist()
    per_bucket = (
        per_doc.groupBy(F.expr("doc_id div 32").alias("bucket"))
        .agg(
            F.sum("n_tokens").cast("long").alias("tokens_b"),
            F.expr("(sum(n_tokens) + 127) div 128").cast("long").alias(
                "seqs_b"
            ),
        )
    )

    def stage(order: int, name: str, rel: DataFrame, metric) -> DataFrame:
        return rel.agg(
            F.lit(order).cast("long").alias("stage_order"),
            F.lit(name).alias("stage"),
            F.count("*").cast("long").alias("n"),
            metric.cast("long").alias("metric"),
        )

    zero = F.lit(0)
    digest = F.expr(
        "COALESCE(SUM(CAST(conv(substring(md5(rt), 1, 13), 16, 10)"
        " AS DECIMAL(38,0))), 0) % 1000000007"
    )
    out = (
        stage(1, "raw", raw, zero)
        .unionAll(stage(2, "quality_gate", gated, zero))
        .unionAll(stage(3, "dedup_canonical", canon, zero))
        .unionAll(stage(4, "pii_redacted", red, digest))
        .unionAll(
            stage(
                5,
                "tokenized",
                per_doc,
                F.expr("COALESCE(SUM(n_tokens), 0)"),
            )
        )
        .unionAll(
            per_bucket.agg(
                F.lit(6).cast("long").alias("stage_order"),
                F.lit("packed").alias("stage"),
                F.expr("CAST(COALESCE(SUM(seqs_b), 0) AS BIGINT)").alias("n"),
                F.expr(
                    "CAST(COALESCE(SUM(seqs_b) * 128 - SUM(tokens_b), 0)"
                    " AS BIGINT)"
                ).alias("metric"),
            )
        )
    )
    return finalize_unpersist(out, red, per_doc)
