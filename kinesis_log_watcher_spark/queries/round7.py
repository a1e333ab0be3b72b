"""Round 7: the documented 100 TB swaps, executed.

Round 6 left four operators whose registry form is exact-but-small-scale
with the scale fallback stated only in prose. This module ships each
fallback as a REAL oracle-checked twin (the orders_column_profile_approx
pattern), so the plan a 100 TB user needs is code, not a docstring:

- blocklist_phrase_filter_ac — Aho-Corasick mapInPandas kernel replacing
  the broadcast nested-loop containment scan (O(len) per row instead of
  O(len x |blocklist|)); certified lossless because the oracle is the
  SAME naive strpos cross-join the BNLJ form uses.
- customer_rfm_hist_quantile — NTILE quintiles WITHOUT any global
  window: exact boundary keys located by histogram-bucket prefix sums +
  a rank restricted to the boundary bucket, then a broadcast
  threshold-join scores every customer. Bit-identical to NTILE because
  the sort key (metric, custkey) is unique.
- robust_zscore_outliers_hist — median/MAD/fence computed entirely on
  the mergeable value-count histogram (groupBy(prio, value)); the only
  windows run over DISTINCT values (bounded by the value domain), never
  over fact rows.
- source_quantile_normalize_hist — the global reference ranking replaced
  by the stored value-histogram inverse-CDF: cumulative counts give each
  distinct value a [lo, hi] global-rank span, spans and lookups meet on
  a coarse rank-bucket EQUI-join (no range BNLJ), so no operator ever
  sorts the corpus on one partition.

Plus the two remaining round-7 punch-list items:

- template_render_line_variant — the compiled template's nested
  ``.Log`` access exercised against an oracle AND cross-checked in-row
  against a hand-written ``get_json_object`` render.
- kinesis_sim_shard_split_scan / stream_kinesis_sim_split_resume — the
  simulator's shard-split surface (parent closed at the split point,
  parity-rerouted children with fresh sequence numbers, Kinesis
  resharding semantics) scanned in batch and checkpoint-resumed ACROSS
  the split in streaming.
- kinesis_sim_shard_merge_scan — MergeShards, the other reshard
  direction: both parents closed, remainders interleaved on one child.
- kinesis_sim_split_render_e2e — the end-to-end render certificate run
  across the reshard, with the template referencing the one envelope
  field resharding rewrites ({{.SequenceNumber}}).

Reference parity note: the reference (/root/reference/main.go) handles
resharding implicitly by re-listing shards (main.go:148-178); the
simulator makes that behavior testable offline. Everything else here is
SURVEY.md §2.2 "beyond-reference" engine surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.functions.exact import dec
from kinesis_log_watcher_spark.queries import mining, round6, round6b
from kinesis_log_watcher_spark.queries.base import (
    finalize_unpersist,
    load,
    register,
)

# ---------------------------------------------------------------------------
# 1. blocklist_phrase_filter_ac — Aho-Corasick corpus screening
# ---------------------------------------------------------------------------
#
# Oracle: the SAME naive strpos cross-join as blocklist_phrase_filter —
# a green row certifies the automaton finds exactly the contained
# phrases. Join shape unchanged (pattern set rides the closure, i.e. a
# broadcast build side; corpus streams map-side; one tiny rollup
# shuffle) but per-row cost is now O(len + matches) regardless of
# phrase count — the plan that survives a 10k-phrase production list.


@register(
    "blocklist_phrase_filter_ac",
    round6b._BL_SQL,
    doc="The executed 100 TB swap for blocklist_phrase_filter: an "
    "Aho-Corasick automaton (operators/ahocorasick.py — goto/fail/"
    "output, built once from the bounded curated list, shipped in the "
    "mapInPandas closure like a broadcast) scans each document ONCE, "
    "O(len + matches) independent of |blocklist|, emitting the same "
    "(doc, phrase) containment relation the broadcast-instr plan "
    "produces. Arrow-batched kernel, no per-row Python UDF, no "
    "shuffle before the final category rollup. The oracle is the "
    "naive strpos cross-join, so every green row re-certifies the "
    "automaton's losslessness.",
)
def blocklist_phrase_filter_ac(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.ahocorasick import (
        match_distinct_kernel,
    )

    docs = load(spark, sf_dir, "documents")
    patterns = tuple(p for p, _ in round6b._BLOCKLIST)
    kernel = match_distinct_kernel(patterns, "doc_id", "text")
    matches = docs.select("doc_id", "text").mapInPandas(
        kernel, schema="doc_id long, pattern_idx int"
    )
    bl = F.broadcast(
        spark.createDataFrame(
            [(i, p, c) for i, (p, c) in enumerate(round6b._BLOCKLIST)],
            "pattern_idx int, phrase string, category string",
        )
    )
    return (
        matches.join(bl, "pattern_idx")
        .groupBy("category")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_hits"),
            F.countDistinct("phrase").cast("long").alias("n_phrases_hit"),
        )
    )


# ---------------------------------------------------------------------------
# 2. customer_rfm_hist_quantile — NTILE without a global window
# ---------------------------------------------------------------------------
#
# The oracle is customer_rfm_segmentation's NTILE SQL verbatim: the twin
# must reproduce the quintile grid bit-for-bit. The trick that makes a
# threshold-join EXACT (not approximate): NTILE's ordering key
# (metric, custkey) is unique, so the 4 boundary keys fully determine
# every row's tile — locate them with (1) a 1024-bucket histogram +
# prefix sums over BUCKETS (tiny), (2) a row_number restricted to the
# ~4 boundary buckets only, then (3) score the whole relation against
# the 4 broadcast keys. No window ever sees the full customer relation
# on one partition.


@register(
    "customer_rfm_hist_quantile",
    round6b._RFM_SQL,
    doc="The executed 100 TB swap for customer_rfm_segmentation: "
    "quintile scores from quantile-threshold joins instead of three "
    "global NTILE windows. Exact-by-construction: the NTILE key "
    "(metric, custkey) is unique, so boundary keys located via "
    "bucket-histogram prefix sums (windows run over <=1024 bucket "
    "rows per metric) plus an in-bucket rank reproduce NTILE "
    "bit-for-bit; every customer then scores against the 12 broadcast "
    "boundary keys with one conditional aggregate. Oracle: the "
    "original NTILE SQL, verbatim.",
)
def customer_rfm_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    mx = orders.groupBy().agg(F.max(F.to_date("o_orderdate")).alias("mxd"))
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
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
        .persist()
    )
    # Melt to (metric, mval, custkey) with mval ASCENDING in NTILE order
    # (descending metrics negated) so one code path handles all three.
    m = cust.select(
        F.col("o_custkey").alias("custkey"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    F.col("recency_days").alias("mval"),
                ),
                F.struct(
                    F.lit("f").alias("metric"),
                    (-F.col("frequency")).alias("mval"),
                ),
                F.struct(
                    F.lit("m").alias("metric"),
                    (-F.col("monetary_cents")).alias("mval"),
                ),
            )
        ).alias("e"),
    ).select("custkey", "e.metric", "e.mval")

    stats = m.groupBy("metric").agg(
        F.min("mval").alias("mn"),
        F.max("mval").alias("mx"),
        F.count("*").cast("long").alias("n"),
    )
    # Coarse value histogram: <=1025 buckets per metric, width scaled to
    # the observed range (all arithmetic on broadcast per-metric stats).
    m2 = m.join(F.broadcast(stats), "metric").select(
        "metric",
        "custkey",
        "mval",
        "n",
        F.expr(
            "(mval - mn) div greatest(CAST(1 AS BIGINT), ((mx - mn) div 1024) + 1)"
        ).alias("bucket"),
    )
    hist = m2.groupBy("metric", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wb = Window.partitionBy("metric").orderBy("bucket")
    histc = hist.select(
        "metric",
        "bucket",
        "cnt",
        F.sum("cnt").over(wb).cast("long").alias("cum"),
    ).withColumn("cum_prev", F.col("cum") - F.col("cnt"))

    # NTILE(5) boundary ranks: cumulative size of the first i tiles.
    bnds = stats.select(
        "metric",
        "n",
        F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("i"),
    ).select(
        "metric",
        "i",
        (
            F.col("i") * F.expr("n div 5") + F.least(F.col("i"), F.col("n") % 5)
        ).alias("brank"),
    )
    bcell = (
        bnds.join(histc, "metric")
        .filter(
            (F.col("cum_prev") < F.col("brank"))
            & (F.col("brank") <= F.col("cum"))
        )
        .select("metric", "i", "brank", "bucket", "cum_prev")
    )

    # Exact boundary keys: rank ONLY inside the boundary buckets.
    bbuckets = bcell.select("metric", "bucket").distinct()
    rows_b = m2.join(F.broadcast(bbuckets), ["metric", "bucket"])
    wr = Window.partitionBy("metric", "bucket").orderBy("mval", "custkey")
    ranked = rows_b.select(
        "metric", "bucket", "mval", "custkey", F.row_number().over(wr).alias("rn")
    )
    bkeys = (
        ranked.join(F.broadcast(bcell), ["metric", "bucket"])
        .filter(F.col("rn") == F.col("brank") - F.col("cum_prev"))
        .select(
            "metric",
            F.col("mval").alias("b_val"),
            F.col("custkey").alias("b_key"),
        )
    )

    # Score = 1 + #boundary keys strictly below this row's unique key.
    after = (F.col("mval") > F.col("b_val")) | (
        (F.col("mval") == F.col("b_val")) & (F.col("custkey") > F.col("b_key"))
    )
    sc = (
        m2.join(F.broadcast(bkeys), "metric")
        .groupBy("metric", "custkey")
        .agg(
            (1 + F.sum(F.when(after, 1).otherwise(0))).cast("long").alias("score")
        )
    )
    piv = sc.groupBy("custkey").agg(
        F.max(F.when(F.col("metric") == "r", F.col("score"))).alias("r_score"),
        F.max(F.when(F.col("metric") == "f", F.col("score"))).alias("f_score"),
        F.max(F.when(F.col("metric") == "m", F.col("score"))).alias("m_score"),
    )
    result = (
        piv.join(
            cust.select(
                F.col("o_custkey").alias("custkey"), "monetary_cents"
            ),
            "custkey",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("total_cents"),
        )
    )
    return finalize_unpersist(result, cust)


# ---------------------------------------------------------------------------
# 3. robust_zscore_outliers_hist — median/MAD on the value histogram
# ---------------------------------------------------------------------------


@register(
    "robust_zscore_outliers_hist",
    round6._ROBUST_ZSCORE_SQL,
    doc="The executed 100 TB swap for robust_zscore_outliers: lower "
    "median, MAD and the 3.5-MAD fence computed entirely on the "
    "mergeable (prio, cents)->count histogram. Integer cents make the "
    "histogram LOSSLESS, so the result is exact — and the only "
    "ordered windows run over DISTINCT values per priority (bounded "
    "by the price domain), never over order rows: the fact relation "
    "is touched by exactly one map-side-combinable groupBy. Oracle: "
    "the original exact-rank SQL, verbatim.",
)
def robust_zscore_outliers_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cents = orders.select(
        F.col("o_orderpriority").alias("prio"),
        (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long").alias("c"),
    )
    h1 = (
        cents.groupBy("prio", "c")
        .agg(F.count("*").cast("long").alias("cnt"))
        .persist()
    )
    n = h1.groupBy("prio").agg(F.sum("cnt").cast("long").alias("n"))
    wv = Window.partitionBy("prio").orderBy("c")
    med = (
        h1.select("prio", "c", F.sum("cnt").over(wv).alias("cum"))
        .join(F.broadcast(n), "prio")
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("prio")
        .agg(F.min("c").alias("med_cents"))
    )
    h2 = (
        h1.join(F.broadcast(med), "prio")
        .select(
            "prio",
            "cnt",
            "med_cents",
            F.abs(F.col("c") - F.col("med_cents")).alias("ad"),
        )
        .persist()
    )
    hd = h2.groupBy("prio", "ad").agg(F.sum("cnt").alias("dcnt"))
    wd = Window.partitionBy("prio").orderBy("ad")
    mad = (
        hd.select("prio", "ad", F.sum("dcnt").over(wd).alias("cum"))
        .join(F.broadcast(n), "prio")
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("prio")
        .agg(F.greatest(F.min("ad"), F.lit(1)).cast("long").alias("mad_cents"))
    )
    result = (
        h2.join(F.broadcast(mad), "prio")
        .groupBy("prio")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.min("med_cents").alias("med_cents"),
            F.min("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(
                    F.lit(1000) * F.col("ad")
                    > F.lit(3500) * F.col("mad_cents"),
                    F.col("cnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
    return finalize_unpersist(result, h1, h2)


# ---------------------------------------------------------------------------
# 4. source_quantile_normalize_hist — inverse CDF via the value histogram
# ---------------------------------------------------------------------------


@register(
    "source_quantile_normalize_hist",
    mining._QNORM_SQL,
    doc="The executed 100 TB swap for source_quantile_normalize: the "
    "global reference ranking (a single-partition sort of the corpus) "
    "replaced by the stored value-histogram inverse CDF. Cumulative "
    "counts over DISTINCT n_chars values give every value a [lo, hi] "
    "global-rank span; tie-break by doc_id means the value at any "
    "global index g is fully determined by which span contains g, so "
    "the lookup is exact. Spans and lookups meet on a coarse "
    "rank-bucket EQUI-join (spans exploded to the ~5-bins-worth of "
    "buckets they cover) — no range BNLJ, no corpus-wide sort; the "
    "only global window runs over distinct values (the histogram). "
    "Oracle: the original global-rank SQL, verbatim.",
)
def source_quantile_normalize_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
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
    # Value histogram: one row per distinct n_chars, with its global
    # rank span [lo, hi] from the prefix sum (window over bins only).
    vh = docs.groupBy("n_chars").agg(F.count("*").cast("long").alias("cnt"))
    wv = Window.orderBy("n_chars")
    vhc = vh.select(
        F.col("n_chars").alias("ref_chars"),
        F.sum("cnt").over(wv).cast("long").alias("hi"),
        "cnt",
    ).withColumn("lo", F.col("hi") - F.col("cnt") + 1)
    stats = docs.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("n_chars").cast("long").alias("nb"),
    )
    # Rank-bucket width: ~4 buckets per bin on average, so the exploded
    # span relation stays O(bins) — the broadcast build side.
    bexpr = "greatest(CAST(1 AS BIGINT), n div (4 * nb))"
    ex = (
        vhc.crossJoin(F.broadcast(stats))
        .select(
            "ref_chars",
            "lo",
            "hi",
            F.explode(
                F.expr(f"sequence(lo div ({bexpr}), hi div ({bexpr}))")
            ).alias("gb"),
        )
    )
    gidx = F.expr(
        "CASE WHEN src_n = 1 THEN CAST(1 AS BIGINT) "
        "ELSE ((2 * (src_rank - 1) * (n - 1) + (src_n - 1)) "
        "div (2 * (src_n - 1))) + 1 END"
    )
    mapped = (
        src.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "source",
            "n_chars",
            "src_rank",
            "src_n",
            "n",
            "nb",
            gidx.alias("gidx"),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            "src_rank",
            "src_n",
            "gidx",
            F.expr(f"gidx div ({bexpr})").alias("gb"),
        )
    )
    return (
        mapped.join(F.broadcast(ex), "gb")
        .filter((F.col("lo") <= F.col("gidx")) & (F.col("gidx") <= F.col("hi")))
        .select(
            "doc_id",
            "source",
            "n_chars",
            "src_rank",
            "src_n",
            F.col("ref_chars").cast("long").alias("norm_chars"),
        )
    )


# ---------------------------------------------------------------------------
# 5. template_render_line_variant — nested .Log access, cross-checked
# ---------------------------------------------------------------------------
#
# Renders a 3-field nested-access template over a synthesized nested
# payload and pins in-row agreement with an independent render of the
# same fields (engines_agree must be TRUE for every row or the hash
# diverges from the oracle's literal TRUE). The name is kept from the
# VariantType engine this query used to check.

_VARIANT_TPL = (
    "{{.ShortHostId}} k={{.Log.k}} ty={{.Log.meta.ty}} seq={{.Log.meta.seq}}"
)

_VARIANT_SQL = """
    WITH env AS (
      SELECT event_id, event_type,
             CAST(event_id % 97 AS VARCHAR) AS kk,
             CAST(event_id % 100 AS VARCHAR) AS sq,
             regexp_replace(
               list_extract(string_split(
                 CASE CAST(user_id % 4 AS BIGINT)
                   WHEN 0 THEN 'arn:aws:ecs:us-east-1:123456789012:task/task-' || CAST(user_id AS VARCHAR)
                   WHEN 1 THEN 'arn:aws:ec2:us-east-1:123456789012:instance/i-' || CAST(user_id AS VARCHAR)
                   WHEN 2 THEN 'ip-address:10.0.0.' || CAST(user_id AS VARCHAR)
                   ELSE 'uuid:00000000-0000-0000-0000-' || lpad(CAST(user_id AS VARCHAR), 12, '0')
                 END, ':'), -1),
               '^(task/|instance/)', '') AS short_host
      FROM events)
    SELECT event_id,
           short_host || ' k=' || kk || ' ty=' || event_type
                      || ' seq=' || sq AS line,
           TRUE AS engines_agree
    FROM env
    """


@register(
    "template_render_line_variant",
    _VARIANT_SQL,
    doc="X5/T1: the compiled template parses the payload ONCE per row "
    "into a struct of the top-level keys it reads (from_json), and "
    "nested access ({{.Log.meta.ty}}) walks into the 'meta' field's "
    "JSON text — the intermediate-object traversal path. engines_agree "
    "pins byte equality row-by-row with a hand-written get_json_object "
    "concat of the same fields over the raw payload, and the DuckDB "
    "oracle independently restates the render.",
)
def template_render_line_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.envelope import short_host_id
    from kinesis_log_watcher_spark.queries.watcher_surface import _partition_key
    from kinesis_log_watcher_spark.template import compile_template

    compiled = compile_template(_VARIANT_TPL)
    ev = load(spark, sf_dir, "events", spread=True)
    payload = F.concat(
        F.lit('{"k": '),
        (F.col("event_id") % 97).cast("string"),
        F.lit(', "meta": {"ty": "'),
        F.col("event_type"),
        F.lit('", "seq": '),
        (F.col("event_id") % 100).cast("string"),
        F.lit("}}"),
    )
    env = ev.select(
        "event_id",
        F.col("ts").alias("Timestamp"),
        _partition_key().alias("HostId"),
        short_host_id(_partition_key()).alias("ShortHostId"),
        payload.alias("LogEntry"),
    )
    by_hand = F.concat(
        F.col("ShortHostId"),
        F.lit(" k="), F.get_json_object("LogEntry", "$.k"),
        F.lit(" ty="), F.get_json_object("LogEntry", "$.meta.ty"),
        F.lit(" seq="), F.get_json_object("LogEntry", "$.meta.seq"),
    )
    return compiled.apply(
        env.withColumn("by_hand", by_hand), keep=("event_id", "by_hand")
    ).select(
        "event_id", "line", (F.col("line") == F.col("by_hand")).alias("engines_agree")
    )


# ---------------------------------------------------------------------------
# 6-7. kinesis_sim shard split: batch scan + checkpoint-resume across it
# ---------------------------------------------------------------------------
#
# Kinesis resharding (the one real-stream behavior the round-6 simulator
# didn't model): SplitShard closes the parent at a split point; records
# past it land on two child shards under FRESH child sequence numbers.
# The simulator reroutes deterministically by parity of the parent
# sequence, so the oracle regenerates parent + children exactly with
# generate_series, and the rollup below (grouped by shardId, with
# per-shard LOCAL sequence extents) pins closure, rerouting, and child
# re-sequencing all at once.

_SP_SHARDS = 4
_SP_PER_SHARD = 250
_SP_SHARD = 1
_SP_AT = 100

_SPLIT_ORACLE = f"""
    WITH parents AS (
      SELECT s.s AS shard, q.q AS q, q.q AS local_seq, s.s AS content
      FROM generate_series(0, {_SP_SHARDS - 1}) s(s),
           generate_series(0, {_SP_PER_SHARD - 1}) q(q)
      WHERE NOT (s.s = {_SP_SHARD} AND q.q >= {_SP_AT})),
    children AS (
      SELECT {_SP_SHARDS} + (q.q - {_SP_AT}) % 2 AS shard, q.q AS q,
             (q.q - {_SP_AT}) // 2 AS local_seq, {_SP_SHARD} AS content
      FROM generate_series({_SP_AT}, {_SP_PER_SHARD - 1}) q(q)),
    allrec AS (
      SELECT * FROM parents UNION ALL SELECT * FROM children),
    rec AS (
      SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
             CASE q % 3 WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
                        ELSE 'error' END AS level,
             CAST((q * 7 + content * 3) % 500 AS BIGINT) AS latency,
             local_seq
      FROM allrec)
    SELECT shard_id, level,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(latency) AS BIGINT) AS sum_latency_ms,
           CAST(MIN(local_seq) AS BIGINT) AS min_seq,
           CAST(MAX(local_seq) AS BIGINT) AS max_seq
    FROM rec GROUP BY 1, 2
    """


def _split_rollup(raw: DataFrame) -> DataFrame:
    entry = F.col("data").cast("string")
    return (
        raw.select(
            F.col("shardId").alias("shard_id"),
            F.get_json_object(entry, "$.level").alias("level"),
            F.get_json_object(entry, "$.latency_ms")
            .cast("long")
            .alias("latency"),
            F.substring("sequenceNumber", 5, 16).cast("long").alias("seq"),
        )
        .groupBy("shard_id", "level")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("latency").cast("long").alias("sum_latency_ms"),
            F.min("seq").cast("long").alias("min_seq"),
            F.max("seq").cast("long").alias("max_seq"),
        )
    )


def _split_reader(spark: SparkSession, streaming: bool, **extra: str):
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )

    register_sim_source(spark)
    rd = spark.readStream if streaming else spark.read
    rd = (
        rd.format("kinesis_sim")
        .option("shards", str(_SP_SHARDS))
        .option("recordsPerShard", str(_SP_PER_SHARD))
        .option("splitShard", str(_SP_SHARD))
        .option("splitAtSeq", str(_SP_AT))
    )
    for k, v in extra.items():
        rd = rd.option(k, v)
    return rd.load()


@register(
    "kinesis_sim_shard_split_scan",
    _SPLIT_ORACLE,
    doc="Kinesis resharding semantics, BATCH path: the simulator "
    "(sources/kinesis_sim.py _SimPlan) closes shard 1 at parent seq "
    "100 and reroutes the remainder to child shards 4/5 by parity "
    "with fresh child-local sequence numbers — SplitShard as the "
    "reference experiences it via re-listing (main.go:148-178). One "
    "InputPartition per open-or-closed shard; the rollup pins parent "
    "closure (max_seq=99 on shard 1), rerouted payload content, and "
    "child re-sequencing (0-based local extents) against a "
    "generate_series oracle.",
)
def kinesis_sim_shard_split_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _split_rollup(_split_reader(spark, streaming=False))


@register(
    "stream_kinesis_sim_split_resume",
    _SPLIT_ORACLE,
    doc="Kinesis resharding, STREAMING path with checkpoint-resume "
    "ACROSS the split: phase 1 consumes the stream capped at parent "
    "seq 60 (pre-split; the checkpointed offset map has no child "
    "keys), stops, then phase 2 resumes from the same checkpoint with "
    "the full post-split stream — the reader picks up the children "
    "from offset 0 (the reference's TRIM_HORIZON pickup of "
    "newly-listed shards) and reads ONLY the parent delta. The "
    "file-sink output equals the batch scan's oracle iff resume "
    "produced no duplicates and no gaps.",
)
def stream_kinesis_sim_split_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kinesis_log_watcher_spark.sources.files import drain_replay
    from kinesis_log_watcher_spark.staging import scratch_dir

    base = scratch_dir(prefix="klw_split_resume_")
    out, ck = f"{base}/out", f"{base}/ck"

    def consume(**extra: str) -> None:
        raw = _split_reader(spark, streaming=True, **extra)
        drain_replay(
            raw.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
        )

    # Phase 1: the stream has only produced up to parent seq 60 —
    # strictly pre-split, so the checkpoint knows nothing of shards 4/5.
    consume(maxVisibleSeq="60", maxRecordsPerPull="40")
    # Phase 2: the split has happened; resume from the same checkpoint.
    consume(maxRecordsPerPull="40")
    return _split_rollup(spark.read.parquet(out))


# ---------------------------------------------------------------------------
# 8. kinesis_sim_shard_merge_scan — MergeShards, the other reshard op
# ---------------------------------------------------------------------------
#
# Both parents close at the merge point; their remainders interleave on
# ONE child under fresh child sequence numbers (sim_merged_record:
# child j carries parent j%2's record for parent seq merge_at + j//2).

_MG_PARENTS = (2, 3)
_MG_AT = 100

_MERGE_ORACLE = f"""
    WITH parents AS (
      SELECT s.s AS shard, q.q AS q, q.q AS local_seq, s.s AS content
      FROM generate_series(0, {_SP_SHARDS - 1}) s(s),
           generate_series(0, {_SP_PER_SHARD - 1}) q(q)
      WHERE NOT (s.s IN {_MG_PARENTS} AND q.q >= {_MG_AT})),
    child AS (
      SELECT {_SP_SHARDS} AS shard, {_MG_AT} + j.j // 2 AS q, j.j AS local_seq,
             CASE WHEN j.j % 2 = 0 THEN {_MG_PARENTS[0]}
                  ELSE {_MG_PARENTS[1]} END AS content
      FROM generate_series(0, {2 * (_SP_PER_SHARD - _MG_AT) - 1}) j(j)),
    allrec AS (
      SELECT * FROM parents UNION ALL SELECT * FROM child),
    rec AS (
      SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
             CASE q % 3 WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
                        ELSE 'error' END AS level,
             CAST((q * 7 + content * 3) % 500 AS BIGINT) AS latency,
             local_seq
      FROM allrec)
    SELECT shard_id, level,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(latency) AS BIGINT) AS sum_latency_ms,
           CAST(MIN(local_seq) AS BIGINT) AS min_seq,
           CAST(MAX(local_seq) AS BIGINT) AS max_seq
    FROM rec GROUP BY 1, 2
    """


@register(
    "kinesis_sim_shard_merge_scan",
    _MERGE_ORACLE,
    doc="Kinesis MergeShards semantics (the reshard direction the split "
    "queries don't cover): parents 2 and 3 close at seq 100; their "
    "remainders interleave deterministically on child shard 4 under "
    "fresh child-local sequence numbers. The rollup pins both parent "
    "closures (max_seq=99), the interleave (child n = 2x150), and the "
    "child re-sequencing, against a generate_series oracle. Together "
    "with kinesis_sim_shard_split_scan this completes the resharding "
    "surface the reference absorbs via re-listing (main.go:148-178).",
)
def kinesis_sim_shard_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )

    register_sim_source(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("shards", str(_SP_SHARDS))
        .option("recordsPerShard", str(_SP_PER_SHARD))
        .option("mergeShards", f"{_MG_PARENTS[0]},{_MG_PARENTS[1]}")
        .option("mergeAtSeq", str(_MG_AT))
        .load()
    )
    return _split_rollup(raw)


# ---------------------------------------------------------------------------
# 9. kinesis_sim_split_render_e2e — the render certificate ACROSS a reshard
# ---------------------------------------------------------------------------
#
# kinesis_sim_render_e2e certifies source → envelope → template on the
# static stream; this twin runs the SAME pipeline over the split stream
# with a template that references {{.SequenceNumber}} — the one field
# resharding rewrites — so the hash-sum certifies child re-sequencing
# through the envelope (main.go:270) and template compiler byte-for-byte.

_SPLIT_E2E_TPL = "{{.ShortHostId}} {{.SequenceNumber}} {{.Log.level}}"

_SPLIT_E2E_SQL = f"""
    WITH parents AS (
      SELECT s.s AS shard, q.q AS q, q.q AS local_seq, s.s AS content
      FROM generate_series(0, {_SP_SHARDS - 1}) s(s),
           generate_series(0, {_SP_PER_SHARD - 1}) q(q)
      WHERE NOT (s.s = {_SP_SHARD} AND q.q >= {_SP_AT})),
    children AS (
      SELECT {_SP_SHARDS} + (q.q - {_SP_AT}) % 2 AS shard, q.q AS q,
             (q.q - {_SP_AT}) // 2 AS local_seq, {_SP_SHARD} AS content
      FROM generate_series({_SP_AT}, {_SP_PER_SHARD - 1}) q(q)),
    allrec AS (
      SELECT * FROM parents UNION ALL SELECT * FROM children),
    lines AS (
      SELECT 'i-' || lpad(CAST(content AS VARCHAR), 4, '0') AS short_host,
             'i-' || lpad(CAST(content AS VARCHAR), 4, '0') || ' '
             || lpad(CAST(shard AS VARCHAR), 4, '0')
             || lpad(CAST(local_seq AS VARCHAR), 16, '0') || ' '
             || (CASE q % 3 WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
                            ELSE 'error' END) AS line
      FROM allrec)
    SELECT short_host,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST('0x' || substr(md5(line), 1, 13) AS BIGINT))
                AS BIGINT) AS line_check
    FROM lines GROUP BY 1
    """


@register(
    "kinesis_sim_split_render_e2e",
    _SPLIT_E2E_SQL,
    doc="The end-to-end render certificate ACROSS a reshard: split "
    "stream (parent closed, parity-rerouted children) → envelope "
    "(ShortHostId + SequenceNumber, main.go:252-270) → compiled "
    "template → line, hash-summed per host against a generate_series "
    "oracle that reconstructs the rendered lines INCLUDING the "
    "children's rewritten zero-padded sequence numbers. One green row "
    "certifies the resharded source, envelope derivation, and "
    "template compiler byte-for-byte.",
)
def kinesis_sim_split_render_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.watcher import build_lines

    raw = _split_reader(spark, streaming=False)
    lines = build_lines(raw, _SPLIT_E2E_TPL)
    short_host = F.element_at(F.split("line", " "), 1)
    return lines.groupBy(short_host.alias("short_host")).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(
            F.conv(F.substring(F.md5("line"), 1, 13), 16, 10).cast("long")
        )
        .cast("long")
        .alias("line_check"),
    )


# ===========================================================================
# Round-7 wave 2: privacy + interval analytics
# ===========================================================================
#
# - t_closeness_audit: completes the k-anonymity / l-diversity privacy
#   family with the distributional criterion (Li, Li & Venkatasubramanian,
#   ICDE 2007): per QI class, the Earth Mover's Distance between the
#   class's sensitive-value distribution and the global one over the
#   ORDERED value domain — all integer-exact via common-denominator
#   cumulative differences.
# - dp_noisy_counts: the reporting primitive for differentially-private
#   statistics releases — Laplace(Δ/ε) noise drawn DETERMINISTICALLY by
#   inverse-CDF from an md5-uniform per group (the repo's seeded-sample
#   discipline), so the oracle reproduces the exact same noise.
# - open_intervals_per_day_sweep: interval stabbing counts WITHOUT an
#   interval join — the sweep-line reformulation (+1 at start, -1 past
#   end, prefix-sum over the day domain) that turns an O(n·m) range
#   join into one groupBy + one window over DISTINCT days.


@register(
    "t_closeness_audit",
    """
    WITH qid AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                                  AS BIGINT) AS DOUBLE) / 100000.0)
                  AS BIGINT) AS band
      FROM customer),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM qid),
    bands AS (
      SELECT band, CAST(COUNT(*) AS BIGINT) AS g_cnt FROM qid GROUP BY 1),
    nbands AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM bands),
    classes AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_size
      FROM qid GROUP BY 1, 2),
    grid AS (
      SELECT c.c_nationkey, c.c_mktsegment, c.class_size, b.band, b.g_cnt,
             COALESCE(x.c_cnt, 0) AS c_cnt
      FROM classes c
      CROSS JOIN bands b
      LEFT JOIN (SELECT c_nationkey, c_mktsegment, band,
                        CAST(COUNT(*) AS BIGINT) AS c_cnt
                 FROM qid GROUP BY 1, 2, 3) x
        ON x.c_nationkey = c.c_nationkey
       AND x.c_mktsegment = c.c_mktsegment AND x.band = b.band),
    cums AS (
      SELECT c_nationkey, c_mktsegment, class_size, band,
             SUM(c_cnt) OVER w AS cum_c,
             SUM(g_cnt) OVER w AS cum_g
      FROM grid
      WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY band ROWS UNBOUNDED PRECEDING)),
    emd AS (
      SELECT g.c_nationkey, g.c_mktsegment, g.class_size,
             CAST(SUM(abs(g.cum_c * t.n_total - g.cum_g * g.class_size))
                  AS BIGINT) AS emd_scaled
      FROM cums g CROSS JOIN tot t
      GROUP BY 1, 2, 3)
    SELECT e.c_nationkey, e.c_mktsegment, e.class_size,
           CAST(e.emd_scaled * 1000000
                // (t.n_total * e.class_size * (nb.m - 1)) AS BIGINT)
             AS t_micro,
           (e.emd_scaled * 1000000
            // (t.n_total * e.class_size * (nb.m - 1))) > 200000
             AS violates_t02
    FROM emd e CROSS JOIN tot t CROSS JOIN nbands nb
    """,
    doc="t-closeness (Li et al., ICDE 2007): per (nationkey, segment) QI "
    "class, the ordered-domain EMD between the class's balance-band "
    "distribution and the global one, as exact integers — cumulative "
    "differences on the common denominator n_total*class_size, summed, "
    "then one micro-quantized division by the (m-1) normalizer. "
    "Completes the privacy-audit family (customer_k_anonymity, "
    "customer_l_diversity): k bounds re-identification, l bounds "
    "attribute disclosure by count, t bounds it by DISTRIBUTION. Scale "
    "shape: class x band grid is (QI cells x value bands) — dimension-"
    "bounded, never row-bounded; windows run over the grid only.",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    qid = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            (dec(F.col("c_acctbal"), 12, 2) * 100).cast("long").cast("double")
            / 100000.0
        )
        .cast("long")
        .alias("band"),
    )
    tot = qid.agg(F.count("*").cast("long").alias("n_total"))
    bands = qid.groupBy("band").agg(F.count("*").cast("long").alias("g_cnt"))
    nbands = bands.agg(F.count("*").cast("long").alias("m"))
    classes = qid.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("class_size")
    )
    cellcnt = qid.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count("*").cast("long").alias("c_cnt")
    )
    grid = (
        classes.crossJoin(F.broadcast(bands))
        .join(cellcnt, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_size",
            "band",
            "g_cnt",
            F.coalesce(F.col("c_cnt"), F.lit(0)).alias("c_cnt"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "class_size",
        F.sum("c_cnt").over(w).alias("cum_c"),
        F.sum("g_cnt").over(w).alias("cum_g"),
    )
    emd = (
        cums.crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "c_mktsegment", "class_size", "n_total")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_c") * F.col("n_total")
                    - F.col("cum_g") * F.col("class_size")
                )
            )
            .cast("long")
            .alias("emd_scaled")
        )
    )
    t_micro = F.expr(
        "emd_scaled * 1000000 div (n_total * class_size * (m - 1))"
    ).cast("long")
    return (
        emd.crossJoin(F.broadcast(nbands))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_size",
            t_micro.alias("t_micro"),
            (t_micro > 200000).alias("violates_t02"),
        )
    )


# Laplace noise for dp_noisy_counts, precomputed ONCE at module-import
# time as exact integer micros and embedded as literals in BOTH dialects.
# The draw is the same deterministic md5-uniform inverse-CDF as before
# (u = (md5(prio)[:13] % 1e6 + 0.5)/1e6, noise = -b*sign(v)*ln(1-2|v|),
# b=2), but the one float op (ln) now runs in Python at build time, so
# JVM Math.log vs DuckDB libm last-ulp differences can never flip the
# floored micro value (the r7 ADVICE finding). o_orderpriority's domain
# is the 5 fixed TPC-H literals; an out-of-domain group would release
# its count noiselessly (CASE ELSE 0) rather than error.
_DP_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _dp_noise_micro(prio: str) -> int:
    import hashlib
    import math

    k = int(hashlib.md5(prio.encode()).hexdigest()[:13], 16) % 1000000
    v = (k + 0.5) / 1000000.0 - 0.5
    sign = 1.0 if v > 0 else (-1.0 if v < 0 else 0.0)
    return math.floor(-2.0 * sign * math.log(1.0 - 2.0 * abs(v)) * 1e6 + 0.5)


_DP_NOISE_CASE = (
    "CASE prio "
    + " ".join(
        f"WHEN '{p}' THEN {_dp_noise_micro(p)}" for p in _DP_PRIOS
    )
    + " ELSE 0 END"
)


@register(
    "dp_noisy_counts",
    f"""
    WITH cnt AS (
      SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1)
    SELECT prio, n,
           CAST(n * 1000000 + ({_DP_NOISE_CASE}) AS BIGINT) AS noisy_micro
    FROM cnt
    """,
    doc="Differentially-private count release (Laplace mechanism, "
    "sensitivity 1, epsilon=0.5 -> scale b=2): noise drawn by inverse "
    "CDF -b*sign(v)*ln(1-2|v|) from a DETERMINISTIC md5-uniform per "
    "group (the repo's seeded-sampling discipline), with the ln "
    "evaluated ONCE at build time and embedded as integer micros in "
    "both dialects — no runtime libm anywhere, so the release is "
    "int64-exact: noisy_micro = n*1e6 + noise_micro. The reporting "
    "primitive for private statistics over training corpora. Scale "
    "shape: one partial-agg shuffle, then per-group integer math.",
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cnt = orders.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count("*").cast("long").alias("n")
    )
    return cnt.select(
        "prio",
        "n",
        (F.col("n") * 1000000 + F.expr(_DP_NOISE_CASE))
        .cast("long")
        .alias("noisy_micro"),
    )


@register(
    "open_intervals_per_day_sweep",
    """
    WITH iv AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               AS d0,
             date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               + (l_orderkey + l_linenumber) % 14 AS d1
      FROM lineitem),
    days AS (SELECT DISTINCT d0 AS day FROM iv),
    naive AS (
      SELECT d.day, CAST(COUNT(*) AS BIGINT) AS n_open
      FROM days d JOIN iv ON iv.d0 <= d.day AND d.day <= iv.d1
      GROUP BY 1)
    SELECT CAST(day AS BIGINT) AS day, n_open FROM naive
    """,
    doc="Interval stabbing counts (shipments in transit per day) WITHOUT "
    "an interval join: the engine plans the sweep-line reformulation — "
    "+1 delta at interval start, -1 past its end, one groupBy to "
    "per-day deltas, one prefix-sum window over DISTINCT days — while "
    "the ORACLE states the naive O(days x intervals) range join, so "
    "every green row certifies the sweep's equivalence. Transit length "
    "is synthesized deterministically ((orderkey+linenumber) % 14) in "
    "both dialects. Scale shape: the range join this replaces is the "
    "classic 100 TB killer; the sweep is one shuffle on day + a window "
    "over the bounded day DOMAIN (like the histogram family), then an "
    "inner join back to observed ship days only.",
)
def open_intervals_per_day_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    epoch = F.lit("1970-01-01")
    d0 = F.datediff(F.to_date("l_shipdate"), epoch).cast("long")
    iv = li.select(
        d0.alias("d0"),
        (d0 + (F.col("l_orderkey") + F.col("l_linenumber")) % 14).alias("d1"),
    )
    # sweep deltas: +1 at d0, -1 at d1+1, summed per day
    deltas = (
        iv.select(
            F.explode(
                F.array(
                    F.struct(F.col("d0").alias("day"), F.lit(1).alias("dl")),
                    F.struct(
                        (F.col("d1") + 1).alias("day"), F.lit(-1).alias("dl")
                    ),
                )
            ).alias("e")
        )
        .select("e.day", "e.dl")
        .groupBy("day")
        .agg(F.sum("dl").alias("delta"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    open_by_day = deltas.select(
        "day", F.sum("delta").over(w).cast("long").alias("n_open")
    )
    ship_days = iv.select(F.col("d0").alias("day")).distinct()
    return ship_days.join(open_by_day, "day").select(
        F.col("day").cast("long").alias("day"), "n_open"
    )


# ===========================================================================
# Round-7 wave 3: record linkage + funnel analytics
# ===========================================================================


# Fellegi-Sunter match weights, precomputed offline from the model
# parameters (m, u) per field and embedded as integer micro-nats in BOTH
# dialects (no runtime ln anywhere):
#   last name token: m=0.95, u=0.125 -> agree +2028148, disagree -2862201
#   p_type:          m=0.90, u=0.200 -> agree +1504077, disagree -2079442
#   p_size:          m=0.85, u=0.100 -> agree +2140066, disagree -1791759
_FS_W = (
    ("tok", 2028148, -2862201),
    ("typ", 1504077, -2079442),
    ("siz", 2140066, -1791759),
)
_FS_LINK = 3000000  # >= : link
_FS_POSSIBLE = 0  # >= : possible match, needs review


def _fs_case_sql(field: str, agree: int, disagree: int, a: str, b: str) -> str:
    return f"CASE WHEN {a} = {b} THEN {agree} ELSE {disagree} END"


_FS_SQL = f"""
    WITH a AS (
      SELECT p_partkey, split_part(p_name, ' ', 1) AS tok1,
             split_part(p_name, ' ', 2) AS tok2, p_brand, p_type, p_size
      FROM part WHERE p_partkey % 2 = 0),
    b AS (
      SELECT p_partkey, split_part(p_name, ' ', 1) AS tok1,
             split_part(p_name, ' ', 2) AS tok2, p_brand, p_type, p_size
      FROM part WHERE p_partkey % 2 = 1),
    pairs AS (
      SELECT {_fs_case_sql('tok', *_FS_W[0][1:], 'a.tok2', 'b.tok2')}
           + {_fs_case_sql('typ', *_FS_W[1][1:], 'a.p_type', 'b.p_type')}
           + {_fs_case_sql('siz', *_FS_W[2][1:], 'a.p_size', 'b.p_size')}
             AS score
      FROM a JOIN b ON a.tok1 = b.tok1 AND a.p_brand = b.p_brand),
    scored AS (
      SELECT CASE WHEN score >= {_FS_LINK} THEN 'link'
                  WHEN score >= {_FS_POSSIBLE} THEN 'possible'
                  ELSE 'non-link' END AS decision,
             score
      FROM pairs)
    SELECT decision,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(score) AS BIGINT) AS sum_score_micro,
           CAST(MIN(score) AS BIGINT) AS min_score_micro,
           CAST(MAX(score) AS BIGINT) AS max_score_micro
    FROM scored GROUP BY 1
    """


@register(
    "fellegi_sunter_linkage",
    _FS_SQL,
    doc="Probabilistic record linkage (Fellegi & Sunter 1969), the "
    "entity-resolution scorer behind cross-source dedup: candidate "
    "pairs generated by BLOCKING (equi-join on first name token + "
    "brand — never all-pairs), each pair scored by summing per-field "
    "agreement/disagreement log-likelihood weights ln(m/u) vs "
    "ln((1-m)/(1-u)), precomputed offline as integer micro-nats so "
    "the whole pipeline is int64-exact; decisions by the classic "
    "two-threshold rule (link / possible / non-link). Scale shape: "
    "one equi-join on bounded blocking keys (block sizes bounded by "
    "the key product, pairs ~ sum of block-size products, never "
    "|A| x |B|), then a 3-row rollup.",
)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")

    def side(par: int, pre: str) -> DataFrame:
        # tok2 mirrors DuckDB split_part(p_name, ' ', 2) exactly: a
        # missing second token is '' (compared, and '' agrees with ''),
        # never NULL (which Spark would silently score as disagree) —
        # guards the engine/oracle parity for 1-token names (r7 ADVICE)
        return part.filter(F.col("p_partkey") % 2 == par).select(
            F.split("p_name", " ").getItem(0).alias(f"{pre}tok1"),
            F.coalesce(F.split("p_name", " ").getItem(1), F.lit("")).alias(
                f"{pre}tok2"
            ),
            F.col("p_brand").alias(f"{pre}brand"),
            F.col("p_type").alias(f"{pre}typ"),
            F.col("p_size").alias(f"{pre}siz"),
        )

    a, b = side(0, "a_"), side(1, "b_")
    pairs = a.join(
        b,
        (F.col("a_tok1") == F.col("b_tok1"))
        & (F.col("a_brand") == F.col("b_brand")),
    )

    def w(fa: str, fb: str, agree: int, disagree: int) -> F.Column:
        return F.when(F.col(fa) == F.col(fb), F.lit(agree)).otherwise(
            F.lit(disagree)
        )

    score = (
        w("a_tok2", "b_tok2", *_FS_W[0][1:])
        + w("a_typ", "b_typ", *_FS_W[1][1:])
        + w("a_siz", "b_siz", *_FS_W[2][1:])
    ).cast("long")
    decision = (
        F.when(score >= _FS_LINK, F.lit("link"))
        .when(score >= _FS_POSSIBLE, F.lit("possible"))
        .otherwise(F.lit("non-link"))
    )
    return (
        pairs.select(decision.alias("decision"), score.alias("score"))
        .groupBy("decision")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("score").cast("long").alias("sum_score_micro"),
            F.min("score").cast("long").alias("min_score_micro"),
            F.max("score").cast("long").alias("max_score_micro"),
        )
    )


@register(
    "ordered_funnel_completion",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_view_click,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_full)
    SELECT n_view, n_view_click, n_full,
           CAST(CASE WHEN n_view = 0 THEN NULL
                     ELSE n_view_click * 1000000 // n_view END
                AS BIGINT) AS conv12_micro,
           CAST(CASE WHEN n_view_click = 0 THEN NULL
                     ELSE n_full * 1000000 // n_view_click END
                AS BIGINT) AS conv23_micro
    FROM agg
    """,
    doc="Ordered (landmark) funnel: users progressing view -> click -> "
    "purchase with STRICT temporal order — each stage's timestamp is "
    "the earliest qualifying event after the previous stage's, the "
    "classic product-analytics primitive a bag-of-events count would "
    "fake (a purchase before the first view must NOT convert). "
    "Conversion ratios as exact integer micro shares. Scale shape: "
    "three per-user partial aggregations chained by equi-joins on "
    "user_id (the natural hash-partition key) — no windows, no "
    "per-user sort; each stage's relation only shrinks.",
)
def ordered_funnel_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    agg = (
        v.agg(F.count("*").cast("long").alias("n_view"))
        .crossJoin(c.agg(F.count("*").cast("long").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").cast("long").alias("n_full")))
    )
    # empty-input safe: an empty funnel reports NULL rates, not a
    # divide-by-zero (ANSI div) — same CASE guard in the oracle
    return agg.select(
        "n_view",
        "n_view_click",
        "n_full",
        F.expr(
            "CASE WHEN n_view = 0 THEN NULL "
            "ELSE n_view_click * 1000000 div n_view END"
        )
        .cast("long")
        .alias("conv12_micro"),
        F.expr(
            "CASE WHEN n_view_click = 0 THEN NULL "
            "ELSE n_full * 1000000 div n_view_click END"
        )
        .cast("long")
        .alias("conv23_micro"),
    )


# ===========================================================================
# Round-7 wave 4: scale idioms — latest-state compaction, FK audit
# ===========================================================================


@register(
    "latest_state_compaction",
    """
    WITH ranked AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           ts AS last_ts
    FROM ranked WHERE rn = 1
    """,
    doc="Latest-state compaction (the CDC/upsert-table maintenance "
    "primitive): one row per key carrying its most recent event. The "
    "ORACLE states the textbook window plan (ROW_NUMBER over a "
    "per-key DESC sort); the ENGINE plans the scale idiom instead — "
    "argmax via max-key self-join: (1) hash-aggregate max(ts) per "
    "user, (2) equi-join the fact on (user, ts) and hash-aggregate "
    "max(event_id) to resolve timestamp ties exactly like the "
    "window's tie-break, (3) one last equi-join fetches the payload "
    "of the now-unique winner. Every aggregate is a map-side-"
    "combinable HashAggregate on primitive types and every join a "
    "SHUFFLE_HASH equi-join — the executed plan contains NO Window "
    "and NO Sort node (pinned), where the window form must exchange "
    "AND sort the entire fact relation. (max(struct)/max(string) "
    "would be one pass but Spark plans non-fixed-width aggregation "
    "buffers as SortAggregate; at 100 TB two extra |keys|-sized "
    "hash joins beat a full-fact sort.)",
)
def latest_state_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    mt = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    mt = mt.select(F.col("user_id").alias("u"), "last_ts")
    me = (
        ev.hint("SHUFFLE_HASH")
        .join(
            mt,
            (F.col("user_id") == F.col("u")) & (F.col("ts") == F.col("last_ts")),
        )
        .groupBy("u", "last_ts")
        .agg(F.max("event_id").alias("last_event_id"))
    )
    win = ev.hint("SHUFFLE_HASH").join(
        me,
        (F.col("user_id") == F.col("u"))
        & (F.col("ts") == F.col("last_ts"))
        & (F.col("event_id") == F.col("last_event_id")),
    )
    return win.select(
        F.col("u").alias("user_id"),
        "last_event_id",
        F.col("event_type").alias("last_type"),
        "last_ts",
    )


@register(
    "fk_integrity_audit",
    """
    WITH live_cust AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0),
    live_part AS (
      SELECT p_partkey FROM part WHERE p_partkey % 89 <> 0),
    o AS (
      SELECT 'orders->customer' AS fk,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM orders x LEFT JOIN live_cust c ON c.c_custkey = x.o_custkey),
    l1 AS (
      SELECT 'lineitem->orders' AS fk,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN ok.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM lineitem x
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
        ON ok.o_orderkey = x.l_orderkey),
    l2 AS (
      SELECT 'lineitem->part' AS fk,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM lineitem x LEFT JOIN live_part p ON p.p_partkey = x.l_partkey)
    SELECT fk, n_rows, n_orphans,
           CAST(CASE WHEN n_rows = 0 THEN NULL
                     ELSE n_orphans * 1000000 // n_rows END
                AS BIGINT) AS orphan_micro
    FROM (SELECT * FROM o UNION ALL SELECT * FROM l1 UNION ALL
          SELECT * FROM l2)
    """,
    doc="Referential-integrity audit across three FK edges in one "
    "report — the ingest-gate every warehouse load runs. Deleted "
    "dimension rows are simulated deterministically (custkey%97=0, "
    "partkey%89=0 'deleted') so orphan counts are nonzero and the "
    "rate math is exercised. Scale shape: each edge is one "
    "hash-partitioned existence probe — the engine plans dimension "
    "broadcasts where the live side is small and never materializes "
    "orphan rows (counting left joins, no fact-side dedup); the "
    "orders->lineitem edge probes the DISTINCT orderkey relation, "
    "pre-shrunk map-side.",
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    live_cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 != 0)
        .select("c_custkey")
    )
    live_part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 89 != 0)
        .select("p_partkey")
    )
    okeys = orders.select("o_orderkey").distinct()

    def edge(
        fact: DataFrame, key: str, dim: DataFrame, dkey: str, name: str,
        small_dim: bool,
    ):
        # dimension edges broadcast (customer/part are dim-sized at any
        # SF); the orders-keys relation grows with the fact table, so
        # that edge stays a hash join on the natural key
        build = F.broadcast(dim) if small_dim else dim
        joined = fact.select(F.col(key)).join(
            build, fact[key] == dim[dkey], "left"
        )
        return joined.agg(
            F.lit(name).alias("fk"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(F.col(dkey).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )

    out = (
        edge(orders, "o_custkey", live_cust, "c_custkey",
             "orders->customer", small_dim=True)
        .unionAll(
            edge(lineitem, "l_orderkey", okeys, "o_orderkey",
                 "lineitem->orders", small_dim=False)
        )
        .unionAll(
            edge(lineitem, "l_partkey", live_part, "p_partkey",
                 "lineitem->part", small_dim=True)
        )
    )
    return out.select(
        "fk",
        "n_rows",
        "n_orphans",
        F.expr(
            "CASE WHEN n_rows = 0 THEN NULL "
            "ELSE n_orphans * 1000000 div n_rows END"
        )
        .cast("long")
        .alias("orphan_micro"),
    )


# ===========================================================================
# Round-7 wave 5: resume-across-merge + incremental JOIN-view maintenance
# ===========================================================================


@register(
    "stream_kinesis_sim_merge_resume",
    _MERGE_ORACLE,
    doc="Kinesis MergeShards, STREAMING path with checkpoint-resume "
    "ACROSS the merge: phase 1 consumes the stream capped strictly "
    "pre-merge (the checkpointed offset map has no child key and TWO "
    "still-open parents), phase 2 resumes post-merge — both parents "
    "close at the merge seq, the interleaved child is picked up from "
    "offset 0, and only the parent deltas are re-read. The reshard "
    "edge the split-resume query can't exercise: two shards closing "
    "at once. File-sink output equals the batch merge oracle iff the "
    "resume produced no duplicates and no gaps.",
)
def stream_kinesis_sim_merge_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kinesis_log_watcher_spark.sources.files import drain_replay
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )
    from kinesis_log_watcher_spark.staging import scratch_dir

    register_sim_source(spark)
    base = scratch_dir(prefix="klw_merge_resume_")
    out, ck = f"{base}/out", f"{base}/ck"

    def consume(**extra: str) -> None:
        rd = (
            spark.readStream.format("kinesis_sim")
            .option("shards", str(_SP_SHARDS))
            .option("recordsPerShard", str(_SP_PER_SHARD))
            .option("mergeShards", f"{_MG_PARENTS[0]},{_MG_PARENTS[1]}")
            .option("mergeAtSeq", str(_MG_AT))
            .option("maxRecordsPerPull", "40")
        )
        for k, v in extra.items():
            rd = rd.option(k, v)
        drain_replay(
            rd.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
        )

    consume(maxVisibleSeq="60")  # strictly pre-merge snapshot
    consume()  # post-merge world: resume across the double closure
    return _split_rollup(spark.read.parquet(out))


# ---------------------------------------------------------------------------
# ivm_join_view_delta — incremental maintenance of a JOIN view
# ---------------------------------------------------------------------------
#
# ivm_incremental_agg (queries/warehouse.py) maintains an AGGREGATE
# view from deltas; this maintains a JOIN view: for V = A JOIN B, after
# deltas dA and dB the exact update is the delta-join identity
#     V' = V  +  dA JOIN B0  +  A0 JOIN dB  +  dA JOIN dB
# (A0/B0 = pre-delta snapshots). The engine computes the three delta
# joins and merges them into the maintained rollup WITHOUT rescanning
# the base join — the deltas are the only fact-sized inputs touched.
# The oracle recomputes the full post-delta join from scratch; hash
# equality certifies the identity's implementation.

_IVMJ_SQL = """
    WITH a1 AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS BIGINT) AS cents
      FROM orders),
    b1 AS (
      SELECT c_custkey, c_mktsegment FROM customer),
    v AS (
      SELECT b1.c_mktsegment AS segment, a1.cents
      FROM a1 JOIN b1 ON b1.c_custkey = a1.o_custkey)
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM v GROUP BY 1
    """


@register(
    "ivm_join_view_delta",
    _IVMJ_SQL,
    doc="Incremental JOIN-view maintenance (the delta-join identity "
    "V' = V + dA*B0 + A0*dB + dA*dB): the post-delta state of an "
    "orders*customer join view maintained from a base snapshot "
    "(orders with orderkey%7!=0, customers with custkey%5!=0) plus "
    "the two delta relations, merged at the ROLLUP level so the "
    "maintained view is never rescanned — only the deltas join "
    "against the opposite snapshots. The oracle recomputes the full "
    "join from scratch; hash equality certifies the identity. Scale "
    "shape: the base pass happens ONCE (amortized across refreshes); "
    "each refresh costs |dA| x B-lookup + |dB| x A-lookup, both "
    "equi-joins on the natural keys — the view refresh pattern that "
    "keeps a 100 TB materialization affordable.",
)
def ivm_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long").alias("cents"),
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # deterministic split into snapshot + delta
    a0 = orders.filter(F.col("o_orderkey") % 7 != 0)
    da = orders.filter(F.col("o_orderkey") % 7 == 0)
    b0 = cust.filter(F.col("c_custkey") % 5 != 0)
    db = cust.filter(F.col("c_custkey") % 5 == 0)

    def rollup(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, a["o_custkey"] == b["c_custkey"])
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("total_cents"),
            )
        )

    # the maintained view's rollup state (computed once at snapshot
    # time in a real deployment; its cost is NOT part of the refresh)
    v0 = rollup(a0, b0)
    # refresh: three delta joins, merged at the rollup level
    parts = (
        v0.unionAll(rollup(da, b0))
        .unionAll(rollup(a0, db))
        .unionAll(rollup(da, db))
    )
    return parts.groupBy("segment").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("total_cents").cast("long").alias("total_cents"),
    )


# ===========================================================================
# Round-7 wave 6: association rules + dedup-cluster evaluation
# ===========================================================================


@register(
    "association_rules_lift",
    """
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS oid, p.p_brand AS item
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    nb AS (SELECT CAST(COUNT(DISTINCT oid) AS BIGINT) AS n FROM baskets),
    isup AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS s FROM baskets GROUP BY 1),
    pairs AS (
      SELECT a.item AS ante, b.item AS cons, CAST(COUNT(*) AS BIGINT) AS s_ab
      FROM baskets a JOIN baskets b
        ON a.oid = b.oid AND a.item <> b.item
      GROUP BY 1, 2),
    rules AS (
      SELECT p.ante, p.cons, p.s_ab, ia.s AS s_a, ic.s AS s_c, nb.n
      FROM pairs p
      JOIN isup ia ON ia.item = p.ante
      JOIN isup ic ON ic.item = p.cons
      CROSS JOIN nb
      WHERE p.s_ab >= 60)
    SELECT ante, cons, s_ab AS support_cnt,
           CAST(s_ab * 1000000 // s_a AS BIGINT) AS confidence_micro,
           CAST((CAST(s_ab AS HUGEINT) * n * 1000000)
                // (CAST(s_a AS HUGEINT) * s_c) AS BIGINT) AS lift_micro
    FROM rules
    """,
    doc="Market-basket association rules over (order, brand) baskets: "
    "support-thresholded pairs, confidence = s(A,B)/s(A) and lift = "
    "s(A,B)*N / (s(A)*s(B)) as exact integer micro ratios — the "
    "co-purchase mining primitive behind recommendations and the "
    "companion to part_cooccurrence_topk (which stops at counts). "
    "Scale shape: the pair relation is the basket self-join keyed on "
    "the basket id — fan-out bounded by basket size squared (items "
    "per order, never catalog size); item supports broadcast back "
    "onto the thresholded pair relation; no window anywhere.",
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("oid"), F.col("p_brand").alias("item"))
        .distinct()
    )
    nb = baskets.agg(F.countDistinct("oid").cast("long").alias("n"))
    isup = baskets.groupBy("item").agg(F.count("*").cast("long").alias("s"))
    a = baskets.select("oid", F.col("item").alias("ante"))
    b = baskets.select("oid", F.col("item").alias("cons"))
    pairs = (
        a.join(b, "oid")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count("*").cast("long").alias("s_ab"))
        .filter(F.col("s_ab") >= 60)
    )
    rules = (
        pairs.join(
            F.broadcast(isup.select(F.col("item").alias("ante"), F.col("s").alias("s_a"))),
            "ante",
        )
        .join(
            F.broadcast(isup.select(F.col("item").alias("cons"), F.col("s").alias("s_c"))),
            "cons",
        )
        .crossJoin(F.broadcast(nb))
    )
    return rules.select(
        "ante",
        "cons",
        F.col("s_ab").alias("support_cnt"),
        F.expr("s_ab * 1000000 div s_a").cast("long").alias("confidence_micro"),
        # lift's cross product s_ab*n*1e6 overflows int64 once n*s_ab
        # passes ~9.2e12 (real at sf >= ~10 for high-support pairs); the
        # drift-query discipline — widen to DECIMAL(38,0)/HUGEINT before
        # multiplying, truncate-divide, land the ~1e6-scale quotient in
        # BIGINT. Spark's `div` (IntegralDivide) accepts decimals and
        # truncates exactly like DuckDB's `//` on HUGEINT.
        F.expr(
            "(CAST(s_ab AS DECIMAL(38,0)) * n * 1000000)"
            " div (CAST(s_a AS DECIMAL(38,0)) * s_c)"
        )
        .cast("long")
        .alias("lift_micro"),
    )


@register(
    "dedup_bcubed_eval",
    """
    WITH items AS (
      SELECT doc_id,
             substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                    1, 24) AS pred_key,
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS gold_key
      FROM documents),
    nc AS (SELECT pred_key, CAST(COUNT(*) AS BIGINT) AS n_c
           FROM items GROUP BY 1),
    ng AS (SELECT gold_key, CAST(COUNT(*) AS BIGINT) AS n_g
           FROM items GROUP BY 1),
    ncg AS (SELECT pred_key, gold_key, CAST(COUNT(*) AS BIGINT) AS n_cg
            FROM items GROUP BY 1, 2),
    per_item AS (
      SELECT i.doc_id,
             x.n_cg * 1000000 // c.n_c AS p_micro,
             x.n_cg * 1000000 // g.n_g AS r_micro
      FROM items i
      JOIN nc c ON c.pred_key = i.pred_key
      JOIN ng g ON g.gold_key = i.gold_key
      JOIN ncg x ON x.pred_key = i.pred_key AND x.gold_key = i.gold_key),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS bcubed_p_micro,
             CAST(SUM(r_micro) // COUNT(*) AS BIGINT) AS bcubed_r_micro
      FROM per_item)
    SELECT n_docs, bcubed_p_micro, bcubed_r_micro,
           CAST(CASE WHEN bcubed_p_micro + bcubed_r_micro = 0 THEN 0
                     ELSE (2 * bcubed_p_micro * bcubed_r_micro)
                          // (bcubed_p_micro + bcubed_r_micro) END
                AS BIGINT) AS bcubed_f1_micro
    FROM agg
    """,
    doc="B-cubed evaluation of a dedup clustering (Bagga & Baldwin "
    "1998, the standard entity-resolution metric): predicted clusters "
    "= 24-char normalized-prefix blocking, gold clusters = full "
    "normalized text; per-item precision |C(i) inter G(i)|/|C(i)| and "
    "recall |C(i) inter G(i)|/|G(i)| as truncated micro ratios, "
    "averaged, F1 from the averaged P/R — all int64-exact with both "
    "dialects truncating identically. The eval primitive that "
    "quantifies what prefix blocking trades for its speed (recall 1.0 "
    "by construction here — a prefix cluster always contains the full "
    "gold group; precision < 1 measures over-merging). Scale shape: "
    "three hash aggregates on the key relations + equi-joins back to "
    "items — cluster-size bounded, no pairwise expansion anywhere "
    "(B-cubed's whole point vs pair-counting metrics).",
)
def dedup_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    items = docs.select(
        "doc_id",
        F.substring(norm, 1, 24).alias("pred_key"),
        norm.alias("gold_key"),
    )
    nc = items.groupBy("pred_key").agg(F.count("*").cast("long").alias("n_c"))
    ng = items.groupBy("gold_key").agg(F.count("*").cast("long").alias("n_g"))
    ncg = items.groupBy("pred_key", "gold_key").agg(
        F.count("*").cast("long").alias("n_cg")
    )
    per_item = (
        items.join(nc, "pred_key")
        .join(ng, "gold_key")
        .join(ncg, ["pred_key", "gold_key"])
        .select(
            F.expr("n_cg * 1000000 div n_c").alias("p_micro"),
            F.expr("n_cg * 1000000 div n_g").alias("r_micro"),
        )
    )
    agg = per_item.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("sum(p_micro) div count(*)").cast("long").alias("bcubed_p_micro"),
        F.expr("sum(r_micro) div count(*)").cast("long").alias("bcubed_r_micro"),
    )
    return agg.select(
        "n_docs",
        "bcubed_p_micro",
        "bcubed_r_micro",
        F.expr(
            "CASE WHEN bcubed_p_micro + bcubed_r_micro = 0 THEN CAST(0 AS BIGINT) "
            "ELSE (2 * bcubed_p_micro * bcubed_r_micro) "
            "div (bcubed_p_micro + bcubed_r_micro) END"
        )
        .cast("long")
        .alias("bcubed_f1_micro"),
    )


# ===========================================================================
# Round-7 wave 7: RAG-style document chunking
# ===========================================================================
#
# The retrieval-corpus preparation staple: fixed-size token windows with
# overlap (size 50, stride 30). Chunk CONTENT is certified, not just
# counts — each chunk's text is reconstructed from the token slice and
# md5 hash-summed per document, so a boundary off-by-one in either
# dialect fails the hash. One explode per chunk (bounded by
# ceil(tokens/stride)), no shuffle until the per-doc rollup.

_CHUNK_SIZE = 50
_CHUNK_STRIDE = 30


@register(
    "doc_chunking_stride",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    spans AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens <= {_CHUNK_SIZE} THEN 1
                  ELSE CAST(ceil(CAST(n_tokens - {_CHUNK_SIZE} AS DOUBLE)
                                 / {_CHUNK_STRIDE}) AS BIGINT) + 1
             END AS n_chunks
      FROM toks),
    chunks AS (
      SELECT t.doc_id, s.n_tokens, s.n_chunks, g.g AS chunk_idx,
             array_to_string(
               list_slice(t.ts, 1 + g.g * {_CHUNK_STRIDE},
                          least(g.g * {_CHUNK_STRIDE} + {_CHUNK_SIZE},
                                s.n_tokens)), ' ') AS chunk_text
      FROM toks t
      JOIN spans s ON s.doc_id = t.doc_id
      JOIN LATERAL (SELECT unnest(generate_series(0, s.n_chunks - 1)) AS g)
           g ON TRUE)
    SELECT doc_id,
           CAST(MIN(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(CAST('0x' || substr(md5(chunk_text), 1, 13) AS BIGINT))
                AS BIGINT) AS chunk_check
    FROM chunks GROUP BY 1
    """,
    doc="RAG chunking: 50-token windows at stride 30 per document, with "
    "the chunk CONTENT certified — every chunk's text is rebuilt from "
    "its token slice and md5 hash-summed per doc (52-bit prefixes, "
    "order-free), so an off-by-one window boundary in either engine "
    "fails the hash, not just a count mismatch. Scale shape: tokenize "
    "once, explode to ceil(tokens/stride) chunk indices per doc "
    "(narrow, size-bounded), slice+join+hash in the same projection, "
    "one per-doc rollup shuffle. The preparation step every retrieval "
    "corpus build runs before embedding.",
)
def doc_chunking_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("ts"),
    ).select("doc_id", "ts", F.size("ts").cast("long").alias("n_tokens"))
    spans = toks.select(
        "doc_id",
        "ts",
        "n_tokens",
        F.when(F.col("n_tokens") <= _CHUNK_SIZE, F.lit(1).cast("long"))
        .otherwise(
            F.ceil(
                (F.col("n_tokens") - _CHUNK_SIZE).cast("double") / _CHUNK_STRIDE
            ).cast("long")
            + 1
        )
        .alias("n_chunks"),
    )
    chunks = spans.select(
        "doc_id",
        "n_tokens",
        "n_chunks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("ci"),
        "ts",
    ).select(
        "doc_id",
        "n_tokens",
        "n_chunks",
        F.array_join(
            F.slice(
                F.col("ts"),
                F.col("ci") * _CHUNK_STRIDE + 1,
                F.least(
                    F.col("ci") * _CHUNK_STRIDE + F.lit(_CHUNK_SIZE),
                    F.col("n_tokens"),
                )
                - F.col("ci") * _CHUNK_STRIDE,
            ),
            " ",
        ).alias("chunk_text"),
    )
    return chunks.groupBy("doc_id").agg(
        F.min("n_tokens").cast("long").alias("n_tokens"),
        F.min("n_chunks").cast("long").alias("n_chunks"),
        F.sum(
            F.conv(F.substring(F.md5("chunk_text"), 1, 13), 16, 10).cast("long")
        )
        .cast("long")
        .alias("chunk_check"),
    )


# ===========================================================================
# Round-7 wave 8: seasonal decomposition + edit-distance fuzzy join
# ===========================================================================


@register(
    "daily_revenue_stl_decompose",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS dd,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    trend AS (
      SELECT dd, cents,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
             CAST(SUM(cents) OVER w AS BIGINT) AS sum_win
      FROM daily
      WINDOW w AS (ORDER BY dd ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT dd, cents, sum_win // n_win AS trend_cents,
             cents - (sum_win // n_win) AS detrended
      FROM trend WHERE n_win = 7),
    seas AS (
      SELECT dd % 7 AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(detrended) AS BIGINT) AS sum_det,
             CAST(SUM(detrended) // COUNT(*) AS BIGINT) AS seasonal_cents
      FROM det GROUP BY 1),
    resid AS (
      SELECT d.dd % 7 AS dow,
             d.detrended - s.seasonal_cents AS r
      FROM det d JOIN seas s ON s.dow = d.dd % 7)
    SELECT s.dow, s.n_days, s.seasonal_cents,
           CAST(SUM(abs(r.r)) // COUNT(*) AS BIGINT) AS resid_mad_cents
    FROM seas s JOIN resid r ON r.dow = s.dow
    GROUP BY 1, 2, 3
    """,
    doc="Classical seasonal decomposition of daily revenue (the STL "
    "shape with integer-exact arithmetic): trend = centered "
    "7-OBSERVATION moving average over the ordered day relation "
    "(interior rows only — full ROWS frames; calendar gaps handled "
    "identically in both dialects by construction), seasonal = "
    "per-weekday mean of the detrended series, remainder summarized "
    "as mean absolute residual per weekday. All divisions are ordered "
    "int64 floor-divs done identically in both dialects. Completes "
    "the time-series family (autocorr, periodogram, Mann-Kendall, "
    "CUSUM) with the decomposition every forecasting pipeline starts "
    "from. Scale shape: one fact pass to the daily relation; every "
    "window runs over the bounded DAY DOMAIN, never order rows.",
)
def daily_revenue_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("dd")
    ).agg(
        F.sum((dec(F.col("o_totalprice"), 12, 2) * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("dd").rowsBetween(-3, 3)
    trend = daily.select(
        "dd",
        "cents",
        F.count("*").over(w).cast("long").alias("n_win"),
        F.sum("cents").over(w).cast("long").alias("sum_win"),
    )
    det = trend.filter(F.col("n_win") == 7).select(
        "dd",
        "cents",
        F.expr("cents - (sum_win div n_win)").alias("detrended"),
        (F.col("dd") % 7).alias("dow"),
    )
    # Both dialects TRUNCATE integer division toward zero (Spark `div`,
    # DuckDB `//`) — the detrended sums go negative, where Python's
    # flooring `//` differs by one; the recompute test mirrors the
    # truncating semantics explicitly.
    seas = det.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("sum(detrended) div count(*)").cast("long").alias(
            "seasonal_cents"
        ),
    )
    resid = det.join(F.broadcast(seas), "dow").select(
        "dow",
        "n_days",
        "seasonal_cents",
        F.abs(F.col("detrended") - F.col("seasonal_cents")).alias("ar"),
    )
    return resid.groupBy("dow", "n_days", "seasonal_cents").agg(
        F.expr("sum(ar) div count(*)").cast("long").alias("resid_mad_cents")
    )


@register(
    "fuzzy_join_levenshtein",
    """
    WITH a AS (
      SELECT p_partkey, p_name FROM part
      WHERE p_partkey % 2 = 0 AND split_part(p_name, ' ', 2) <> ''),
    b AS (
      SELECT p_partkey, p_name FROM part
      WHERE p_partkey % 2 = 1 AND split_part(p_name, ' ', 2) <> ''),
    cand AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM a JOIN b
        ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
       AND a.p_name <> b.p_name),
    verified AS (
      SELECT DISTINCT name_a, name_b,
             CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
      FROM cand
      WHERE levenshtein(name_a, name_b) <= 4)
    SELECT dist,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT name_a) AS BIGINT) AS n_left_names
    FROM verified GROUP BY 1
    """,
    doc="Edit-distance fuzzy join: candidates blocked on the shared "
    "second name token (equi-join, never all-pairs), verified with "
    "Levenshtein <= 4 — both engines' built-in edit distance, "
    "cross-validated value-for-value through the dist column. The "
    "companion to part_trigram_fuzzy_match (set-overlap similarity): "
    "edit distance catches transpositions/typos trigrams dilute. "
    "Scale shape: blocking keys bound candidate volume; the O(m*n) "
    "DP verify runs only inside blocks, JVM-side codegen, no UDF.",
)
def fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")

    def side(par: int, pre: str) -> DataFrame:
        # the verified relation is DISTINCT name pairs, so dedupe each
        # side BEFORE the block-join: candidate volume becomes
        # |distinct names|^2 / blocks instead of |rows|^2 / blocks —
        # the dedupe-then-verify shape that keeps the O(m*n) edit-
        # distance DP off the fact cardinality (16.6s -> sub-second at
        # sf0.1; at 100 TB the distinct relation is vocabulary-sized)
        return (
            part.filter(F.col("p_partkey") % 2 == par)
            .select(F.col("p_name").alias(f"{pre}name"))
            .distinct()
            .select(
                f"{pre}name",
                F.split(f"{pre}name", " ").getItem(1).alias(f"{pre}tok"),
            )
            # names without a second token have no blocking key: drop
            # them EXPLICITLY in both dialects (Spark getItem(1) yields
            # NULL and the equi-join would drop them silently; DuckDB
            # split_part yields '' and would join them to each other —
            # the guard makes the two agree by construction, r7 ADVICE)
            .filter(F.col(f"{pre}tok").isNotNull())
        )

    a, b = side(0, "a_"), side(1, "b_")
    cand = a.join(
        b,
        (F.col("a_tok") == F.col("b_tok"))
        & (F.col("a_name") != F.col("b_name")),
    )
    verified = (
        cand.select(
            F.col("a_name").alias("name_a"),
            F.col("b_name").alias("name_b"),
            F.levenshtein("a_name", "b_name").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 4)
        .distinct()
    )
    return verified.groupBy("dist").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.countDistinct("name_a").cast("long").alias("n_left_names"),
    )


# ===========================================================================
# Round-7 wave 9: perceptual image hashing (dHash) through the real codec
# ===========================================================================
#
# The standard perceptual near-dup key for images: a 9x8 grayscale
# thumbnail, one bit per horizontally-adjacent pixel comparison -> a
# 64-bit hash; identical scenes with small level shifts collide. The
# engine synthesizes each doc's 9x8 grayscale deterministically
# (24 base patterns + a +3 level shift for every 4th GENERATION of 24 docs — which dHash
# must IGNORE, gradients are shift-invariant), round-trips the pixels
# through the REAL PNG codec (encode_png -> decode_png,
# functions/imagecodec.py — grayscale color type 0, all scanline
# filters live), computes the 64 comparison bits JVM-side from the
# emitted pixel relation, and groups by hash. The DuckDB oracle
# restates the pixel function and bit algebra directly — a green row
# certifies codec round-trip AND hash algebra.

_DH_W, _DH_H = 8, 8
_DH_DOCS = 240


@register(
    "multimodal_dhash_groups",
    f"""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < {_DH_DOCS}),
    px AS (
      SELECT doc_id, x.x AS x, y.y AS y,
             ((doc_id % 24) * 17 + x.x * 7 + y.y * 13
              + (x.x * y.y) % 5) % 250
              + CASE WHEN (doc_id // 24) % 4 = 0 THEN 3 ELSE 0 END AS v
      FROM ids,
           generate_series(0, {_DH_W - 1}) x(x),
           generate_series(0, {_DH_H - 1}) y(y)),
    bits AS (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN b.v > a.v
                           THEN CAST(1 AS BIGINT) << (a.y * {_DH_W - 1} + a.x)
                           ELSE 0 END) AS BIGINT) AS dhash
      FROM px a JOIN px b
        ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
      WHERE a.x < {_DH_W - 1}
      GROUP BY 1)
    SELECT dhash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(MIN(doc_id) AS BIGINT) AS exemplar_doc
    FROM bits GROUP BY 1
    """,
    doc="Perceptual image hashing (dHash, 8x8/56-bit variant) with the REAL PNG codec in "
    "the loop: 8x8 grayscale thumbnails (synthesized as a pure "
    "function of doc_id, 24 base gradients + a +3 level shift on "
    "every 4th 24-doc generation) encoded and decoded through "
    "functions/imagecodec.py inside an Arrow-batched mapInPandas "
    "kernel, then the 64 adjacent-pixel comparison bits and the "
    "group-by-hash rollup run JVM-side. dHash's defining invariance "
    "is pinned by construction: base pixel values are clamped to "
    "[0, 249] before the +3 shift so the shift can never wrap mod "
    "256 — every level-shifted copy MUST land in the same hash group "
    "(gradients are shift-invariant), group sizes certify the "
    "property, and the oracle recomputes pixels and "
    "bit algebra without any codec — hash equality certifies the "
    "codec round-trip bit-for-bit. Scale shape: one kernel pass per "
    "image (56 int comparisons), hash group-by — the dedup key "
    "generator for a billion-image corpus; the 8x7 comparison grid "
    "keeps the hash at 56 bits, exact in signed int64 in BOTH "
    "dialects (the 9x8 variant needs bit 63, which overflows).",
)
def multimodal_dhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from kinesis_log_watcher_spark.functions.imagecodec import (
        decode_png,
        encode_png,
    )

    W, H = _DH_W, _DH_H

    def synth_decode(batches):
        for pdf in batches:
            ids: list[int] = []
            xs: list[int] = []
            ys: list[int] = []
            vs: list[int] = []
            for d in pdf["doc_id"]:
                d = int(d)
                shift = 3 if (d // 24) % 4 == 0 else 0
                # base values land in [0, 249] BEFORE the +3 level
                # shift, so the shift can never wrap mod 256 — the
                # shift-invariance of the comparison bits holds by
                # construction for every pixel (r7 ADVICE fix)
                pix = bytes(
                    ((d % 24) * 17 + x * 7 + y * 13 + (x * y) % 5) % 250
                    + shift
                    for y in range(H)
                    for x in range(W)
                )
                # the REAL round trip: encode to PNG, decode back
                _w, _h, _c, raw = decode_png(encode_png(pix, W, H, 1))
                arr = np.frombuffer(raw, dtype=np.uint8)
                for y in range(H):
                    for x in range(W):
                        ids.append(d)
                        xs.append(x)
                        ys.append(y)
                        vs.append(int(arr[y * W + x]))
            yield pd.DataFrame(
                {"doc_id": ids, "x": xs, "y": ys, "v": vs}
            )

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < _DH_DOCS)
    )
    px = docs.mapInPandas(
        synth_decode, "doc_id bigint, x bigint, y bigint, v bigint"
    )
    a = px.filter(F.col("x") < W - 1).select(
        "doc_id", "x", "y", F.col("v").alias("va")
    )
    b = px.select(
        "doc_id", (F.col("x") - 1).alias("x"), "y", F.col("v").alias("vb")
    )
    bits = (
        a.join(b, ["doc_id", "x", "y"])
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("vb") > F.col("va"),
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), "
                        f"CAST(y * {W - 1} + x AS INT))"
                    ),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("dhash")
        )
    )
    return bits.groupBy("dhash").agg(
        F.count("*").cast("long").alias("n_images"),
        F.min("doc_id").cast("long").alias("exemplar_doc"),
    )
