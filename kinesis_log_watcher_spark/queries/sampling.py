"""Training-data pipeline queries: deterministic sampling, dataset
splitting, and sequence packing over the documents corpus.

All selection is md5-hex-threshold based (operators/sampling.py) so the
DuckDB oracle reproduces membership bit-for-bit — the property a real
pipeline needs anyway (resumable, engine-portable, growth-stable
sampling), demonstrated here as the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_log_watcher_spark.operators.dedup import md5_h15
from kinesis_log_watcher_spark.operators.sampling import (
    pack_bins,
    split_assign,
    stratified_sample,
)
from kinesis_log_watcher_spark.operators.text import ws_token_count
from kinesis_log_watcher_spark.queries.base import load, register

# --------------------------------------------------------------------------
# stratified (per-language) rebalancing sample
# --------------------------------------------------------------------------


@register(
    "stratified_sample_counts",
    """
    SELECT lang,
           COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE WHEN lang = 'en' THEN '33333333' ELSE '80000000' END
    GROUP BY lang
    """,
    doc="Class-rebalancing sample: keep 20% of the dominant language, "
    "50% of the rest, membership = md5(doc_id) hex threshold — "
    "deterministic at any scale/partitioning, zero shuffle (a filter).",
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs, "lang", {"en": 0.2}, key_col="doc_id", default_rate=0.5
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.sum("n_chars").cast("bigint").alias("sampled_chars"),
    )


# --------------------------------------------------------------------------
# train/val/test split assignment
# --------------------------------------------------------------------------


@register(
    "train_val_test_split",
    """
    SELECT CASE
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
             ELSE 'test'
           END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY split
    """,
    doc="80/10/10 deterministic split: disjoint hex ranges over one "
    "md5 draw — a doc never migrates between splits as the corpus "
    "grows, and no engine/run/partitioning changes membership.",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    assigned = split_assign(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# contiguous sequence packing into token-budget bins
# --------------------------------------------------------------------------


@register(
    "doc_pack_bins",
    """
    WITH toks AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS tok
        FROM documents
    ),
    cum AS (
        SELECT source, doc_id, tok,
               SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - tok AS start_off
        FROM toks
    )
    SELECT source,
           CAST(FLOOR(start_off / 2048) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS bin_tokens
    FROM cum
    GROUP BY source, bin_id
    """,
    doc="Sequence packing: lay docs end-to-end per source (doc_id order), "
    "cut a bin every 2048 tokens; a doc belongs to its start offset's "
    "bin. One shuffle on source + one running-sum window; all-integer "
    "(engine-exact).",
)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    packed = pack_bins(
        docs,
        group_col="source",
        size_col=ws_token_count(F.col("text")),
        budget=2048,
        order_col="doc_id",
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("_sz").cast("bigint").alias("bin_tokens"),
    )


# --------------------------------------------------------------------------
# decontamination: test-split docs sharing content with the train split
# --------------------------------------------------------------------------


@register(
    "split_contamination",
    """
    WITH assigned AS (
        SELECT doc_id, lang, text,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                    THEN 'train' ELSE 'eval' END AS split
        FROM documents
    ),
    sh AS (
        SELECT a.doc_id, a.lang, a.split, unnest(list_distinct(sub.grams)) AS shingle
        FROM assigned a,
             LATERAL (
               SELECT list_transform(
                        range(1, len(string_split(a.text, ' ')) - 3 + 2),
                        i -> array_to_string(string_split(a.text, ' ')[i:i+2], ' ')
                      ) AS grams
             ) sub
        WHERE len(string_split(a.text, ' ')) >= 3
    ),
    train_sh AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
    contaminated AS (
        SELECT DISTINCT s.doc_id, s.lang
        FROM sh s JOIN train_sh t USING (shingle)
        WHERE s.split = 'eval'
    ),
    eval_docs AS (SELECT doc_id, lang FROM assigned WHERE split = 'eval')
    SELECT e.lang,
           COUNT(*) AS n_eval_docs,
           COUNT(c.doc_id) AS n_contaminated
    FROM eval_docs e LEFT JOIN contaminated c ON e.doc_id = c.doc_id
    GROUP BY e.lang
    """,
    doc="Decontamination check: eval-split docs sharing any 3-gram "
    "shingle with the train split, per language. Composes the "
    "deterministic split with the shingle inverted index: train "
    "shingles dedup'd, eval shingles semi-joined against them — an "
    "equi-join on the shingle key, never doc×doc. At 100 TB both "
    "sides partition by shingle hash; the semi join is the same "
    "shuffle the dedup family already pays.",
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import exploded_shingles

    docs = load(spark, sf_dir, "documents")
    assigned = split_assign(
        docs, "doc_id", {"train": 0.8, "eval": 0.2}
    )
    sh = exploded_shingles(assigned, n=3).join(
        assigned.select("doc_id", "lang", "split"), "doc_id"
    )
    train_sh = (
        sh.filter(F.col("split") == "train").select("shingle").distinct()
    )
    contaminated = (
        sh.filter(F.col("split") == "eval")
        .join(train_sh, "shingle", "left_semi")
        .select("doc_id", "lang")
        .distinct()
    )
    eval_docs = assigned.filter(F.col("split") == "eval").select("doc_id", "lang")
    return (
        eval_docs.join(
            contaminated.select(F.col("doc_id").alias("c_doc_id")),
            F.col("doc_id") == F.col("c_doc_id"),
            "left",
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_eval_docs"),
            F.count("c_doc_id").alias("n_contaminated"),
        )
    )


@register(
    "weighted_doc_sample",
    """
    WITH w AS (
      SELECT doc_id, len(string_split(text, ' ')) AS wt FROM documents),
    mx AS (SELECT MAX(wt) AS max_w FROM w)
    SELECT doc_id, CAST(wt AS BIGINT) AS wt
    FROM w, mx
    WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) % 1048576) * max_w * 4
          < wt * 1048576
    """,
    doc="Weighted Bernoulli sampling (operators/sampling.py): inclusion "
    "probability ∝ token count (P = w / (4·max_w)), decided by an EXACT "
    "integer comparison on an md5-derived 20-bit uniform draw — "
    "engine/run/partitioning-stable membership with no float "
    "thresholds, the quality-weighted document selection step of a "
    "curation pipeline. The max-weight scalar broadcasts.",
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sampling import (
        weighted_bernoulli_sample,
    )

    docs = load(spark, sf_dir, "documents")
    wt = F.size(F.split(F.col("text"), " ")).cast("long")
    with_w = docs.select("doc_id", wt.alias("wt"))
    mx = with_w.agg(F.max("wt").alias("max_w"))
    out = weighted_bernoulli_sample(
        with_w, F.col("doc_id"), F.col("wt"), mx, scale_down=4, u_bits=20
    )
    return out.select("doc_id", "wt")


# --------------------------------------------------------------------------
# per-stratum fixed-size reservoir (deterministic top-k by hash rank)
# --------------------------------------------------------------------------

_RESERVOIR_K = 10


@register(
    "reservoir_per_source",
    f"""
    WITH r AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    SELECT source, doc_id, rk
    FROM r WHERE rk <= {_RESERVOIR_K}
    """,
    doc=f"Deterministic fixed-size 'reservoir' sample: exactly "
    f"{_RESERVOIR_K} documents per source, chosen as the lowest "
    "md5(doc_id) hash ranks (tiebreak doc_id). Unlike a rate sample "
    "(stratified_sample_counts) the output size per stratum is exact, "
    "and unlike random.sample it is engine/run/cluster-reproducible — "
    "re-running on a grown corpus keeps every previously-chosen doc "
    "whose hash rank still clears the bar. Scale shape: one shuffle on "
    "source for the per-stratum ranking; at 100 TB with huge strata "
    "the same query runs after a hash-threshold pre-filter "
    "(hash_draw < k_margin/stratum_size, operators/sampling.py) so "
    "each window partition sees only ~k_margin candidate rows instead "
    "of the whole stratum — rank-of-lowest-hashes commutes with the "
    "pre-filter as long as the margin keeps >= k rows per stratum.",
)
def reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sampling import reservoir_topk

    docs = load(spark, sf_dir, "documents")
    return reservoir_topk(docs, "source", "doc_id", _RESERVOIR_K).select(
        "source", "doc_id", "rk"
    )


# --------------------------------------------------------------------------
# class-balanced downsampling — equalize per-class counts deterministically
# --------------------------------------------------------------------------


@register(
    "class_balanced_downsample",
    """
    WITH ranked AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS r
      FROM documents),
    floor_n AS (
      SELECT MIN(cnt) AS n FROM (
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang))
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
    FROM ranked, floor_n
    WHERE r <= n
    GROUP BY lang
    """,
    doc="CLASS REBALANCING for training data: downsample every language "
    "to the smallest class's size, membership chosen by md5 hash-rank "
    "— deterministic, engine/run-stable, and growth-stable in the "
    "sampling.py sense (a doc's rank only moves if smaller-hash docs "
    "enter its class). The kept_id_sum column pins the exact selected "
    "SET, not just its size. Shape: one (lang) window rank over doc "
    "ids + a 1-row class-floor broadcast — at 100 TB the rank is the "
    "same per-class shuffle any stratified op pays, and the selection "
    "needs no second pass.",
)
def class_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    r = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    floor_n = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").alias("n"))
    )
    ranked = docs.select("lang", "doc_id", r.alias("r"))
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .filter(F.col("r") <= F.col("n"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("kept_id_sum"),
        )
    )


# --------------------------------------------------------------------------
# largest-remainder budget apportionment (Hare quota)
# --------------------------------------------------------------------------


@register(
    "source_quota_apportion",
    """
    WITH sz AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM sz),
    q AS (
      SELECT s.source, s.n,
             CAST((s.n * 1000) // t.total AS BIGINT) AS floor_quota,
             CAST((s.n * 1000) % t.total AS BIGINT) AS remainder
      FROM sz s CROSS JOIN tot t),
    short AS (
      SELECT CAST(1000 - SUM(floor_quota) AS BIGINT) AS short
      FROM q),
    ranked AS (
      SELECT source, n, floor_quota, remainder,
             CAST(ROW_NUMBER() OVER (ORDER BY remainder DESC, source)
                  AS BIGINT) AS rr
      FROM q)
    SELECT r.source, r.n, r.floor_quota, r.remainder,
           CAST(r.floor_quota
                + CASE WHEN r.rr <= s.short THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked r CROSS JOIN short s
    """,
    doc="Largest-remainder (Hare) apportionment of a fixed sample "
    "budget (1000) across sources proportional to size: integer floor "
    "quotas via one int64 floor-division, then the leftover seats go "
    "to the largest remainders (source-name tie-break - fully "
    "deterministic, sum(quota) == budget EXACTLY, which naive "
    "per-source rounding cannot guarantee). This is the budgeted "
    "form of stratified sampling: stratified_sample_counts draws "
    "per-stratum RATES; this allocates an absolute budget - the "
    "knob an annotation pipeline or eval-set builder actually has. "
    "Scale shape: the apportionment runs on the per-source size "
    "relation (|sources| rows) after one partial-agg pass; the "
    "chosen quotas then feed the exact-k reservoir "
    "(reservoir_per_source) unchanged.",
)
def source_quota_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sz = docs.groupBy("source").agg(F.count("*").alias("n"))
    tot = sz.agg(F.sum("n").cast("long").alias("total"))
    q = sz.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n").cast("long"),
        F.expr("CAST((n * 1000) div total AS BIGINT)").alias("floor_quota"),
        F.expr("CAST((n * 1000) % total AS BIGINT)").alias("remainder"),
    )
    short = q.agg(
        (F.lit(1000) - F.sum("floor_quota")).cast("long").alias("short")
    )
    ranked = q.withColumn(
        "rr",
        F.row_number()
        .over(Window.orderBy(F.col("remainder").desc(), "source"))
        .cast("long"),
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "source",
        "n",
        "floor_quota",
        "remainder",
        (
            F.col("floor_quota")
            + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0)
        ).cast("long").alias("quota"),
    )


# --------------------------------------------------------------------------
# rendezvous (HRW) shard assignment + minimal-disruption audit
# --------------------------------------------------------------------------


@register(
    "rendezvous_shard_rebalance",
    """
    WITH shards AS (SELECT unnest(range(0, 9)) AS shard),
    w AS (
      SELECT d.doc_id, s.shard,
             CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                     || CAST(s.shard AS VARCHAR)), 1, 15)
                  AS BIGINT) AS wt
      FROM documents d CROSS JOIN shards s),
    a8 AS (
      SELECT doc_id, shard AS shard8 FROM (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY wt DESC, shard) AS rn
        FROM w WHERE shard < 8) WHERE rn = 1),
    a9 AS (
      SELECT doc_id, shard AS shard9 FROM (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY wt DESC, shard) AS rn
        FROM w) WHERE rn = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN shard8 != shard9 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST(SUM(CASE WHEN shard8 != shard9 AND shard9 = 8
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_to_new,
           (CAST(SUM(CASE WHEN shard8 != shard9 THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS moved_frac
    FROM a8 JOIN a9 USING (doc_id)
    """,
    doc="Rendezvous (highest-random-weight) shard assignment with the "
    "minimal-disruption audit: every doc's shard is "
    "argmax_s md5(doc:s), computed for the 8-shard and 9-shard "
    "layouts side by side. The HRW theorem says growing the pool "
    "moves a key IFF the new shard wins its argmax - so every moved "
    "doc must land on shard 8 (n_moved == n_moved_to_new, "
    "pytest-pinned) and the moved fraction concentrates around 1/9, "
    "unlike modulo sharding which reshuffles ~8/9 of all keys. This "
    "is the assignment discipline that lets a 100 TB store add "
    "capacity without a full rewrite (and the audit a migration "
    "runs to verify it). Scale shape: the weight relation is "
    "|docs| x |shards| narrow rows from one scan; both argmaxes "
    "share it, and the audit is one equi-join on doc_id.",
)
def rendezvous_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    shards = spark.range(9).select(F.col("id").cast("int").alias("shard"))
    w = docs.crossJoin(F.broadcast(shards)).select(
        "doc_id",
        "shard",
        md5_h15(
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("shard").cast("string"),
            )
        ).alias("wt"),
    ).persist()

    def argmax(rel, out):
        wn = Window.partitionBy("doc_id").orderBy(
            F.col("wt").desc(), "shard"
        )
        return (
            rel.withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("shard").alias(out))
        )

    a8 = argmax(w.filter(F.col("shard") < 8), "shard8")
    a9 = argmax(w, "shard9")
    j = a8.join(a9, "doc_id")
    moved = (F.col("shard8") != F.col("shard9")).cast("long")
    return j.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(moved).cast("long").alias("n_moved"),
        F.sum(
            moved * (F.col("shard9") == 8).cast("long")
        ).cast("long").alias("n_moved_to_new"),
        (
            F.sum(moved).cast("double") / F.count("*").cast("double")
        ).alias("moved_frac"),
    )
