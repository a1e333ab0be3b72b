"""Unit tests for the round-5 mining family (queries/mining.py +
operators/sketch.py KMV additions): semantic invariants the oracle gate
cannot see (error bounds, set-algebra consistency, blocking guarantees)
plus plan-shape pins for the scale-sensitive pieces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.operators.sketch import (
    KMV_HASH_SPACE,
    kmv_build,
    kmv_estimate,
)
from kinesis_log_watcher_spark.queries import registry


@pytest.fixture(scope="module")
def reg():
    return registry()


# ---------------------------------------------------------------------------
# KMV sketch operator
# ---------------------------------------------------------------------------


def test_kmv_sketch_bounded_and_ranked(spark):
    df = spark.range(5000).select(F.col("id").alias("k"))
    sk = kmv_build(df, "k", k=64).orderBy("r").collect()
    assert len(sk) == 64  # full sketch: exactly k rows
    hs = [r.h for r in sk]
    assert hs == sorted(hs)  # r follows ascending hash order
    assert [r.r for r in sk] == list(range(1, 65))


def test_kmv_small_set_is_exact(spark):
    df = spark.range(10).select(F.col("id").alias("k"))
    est = kmv_estimate(kmv_build(df, "k", k=64), k=64).collect()[0]
    assert est.est_distinct == 10  # non-full sketch holds every hash


def test_kmv_estimate_within_theory_bound(spark):
    # KMV relative standard error is ~1/sqrt(k-2); allow 4 sigma.
    n, k = 20000, 256
    df = spark.range(n).select(F.col("id").alias("k"))
    est = kmv_estimate(kmv_build(df, "k", k=k), k=k).collect()[0].est_distinct
    rel = abs(est - n) / n
    assert rel < 4.0 / (k - 2) ** 0.5, (est, rel)


def test_kmv_merge_equals_rebuild(spark):
    # bottom-k of a union of sketches == sketch of the union: re-ranking
    # two shards' sketch rows must reproduce the full-data sketch.
    a = spark.range(0, 3000).select(F.col("id").alias("k"))
    b = spark.range(2000, 6000).select(F.col("id").alias("k"))
    merged_rows = kmv_build(a, "k", k=64).select("h").unionByName(
        kmv_build(b, "k", k=64).select("h")
    ).distinct()
    from pyspark.sql import Window

    w = Window.orderBy("h")
    merged = (
        merged_rows.withColumn("r", F.row_number().over(w).cast("long"))
        .filter(F.col("r") <= 64)
        .orderBy("r")
        .collect()
    )
    full = (
        kmv_build(a.unionByName(b), "k", k=64).orderBy("r").collect()
    )
    assert [r.h for r in merged] == [r.h for r in full]


def test_kmv_hash_space_constant():
    assert KMV_HASH_SPACE == 1 << 60


# ---------------------------------------------------------------------------
# theta set ops query
# ---------------------------------------------------------------------------


def test_kmv_theta_set_algebra_consistent(spark, sf_dir, reg):
    row = reg["kmv_theta_set_ops"].fn(spark, sf_dir).collect()[0]
    # inclusion-exclusion sanity on the EXACT side
    assert row.exact_union <= row.exact_click + row.exact_purchase
    assert row.exact_inter <= min(row.exact_click, row.exact_purchase)
    # estimates land within the k=32 error envelope (4/sqrt(k-2) ~ 73%)
    for est, exact in (
        (row.est_click, row.exact_click),
        (row.est_purchase, row.exact_purchase),
        (row.est_union, row.exact_union),
    ):
        assert abs(est - exact) / exact < 0.75, (est, exact)
    # estimated intersection must not exceed estimated union
    assert row.est_inter <= row.est_union
    assert 0 <= row.jaccard_micro <= 1_000_000


# ---------------------------------------------------------------------------
# KN bigram perplexity
# ---------------------------------------------------------------------------


def test_kn_bigram_covers_all_multitoken_docs(spark, sf_dir, reg):
    from kinesis_log_watcher_spark.queries.base import load

    out = reg["kn_bigram_perplexity"].fn(spark, sf_dir)
    n_docs = (
        load(spark, sf_dir, "documents")
        .filter(F.size(F.split(F.lower("text"), " ")) >= 2)
        .count()
    )
    rows = out.collect()
    assert len(rows) == n_docs
    assert all(r.nll_micro > 0 for r in rows)  # probabilities < 1
    assert {r.ppl_bucket for r in rows} == {1, 2, 3}


def test_kn_bigram_model_is_proper(spark, sf_dir, reg):
    # For a sampled context w1, sum over observed w2 of P(w2|w1) must be
    # <= 1 (the remainder is continuation mass reserved for unseen w2).
    from kinesis_log_watcher_spark.queries.base import load

    docs = load(spark, sf_dir, "documents")
    t = docs.select(F.split(F.lower("text"), " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, "
                "element_at(toks, i + 1) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = c2.groupBy("w1").agg(
        F.sum("n12").alias("n1"), F.count("*").alias("fanout")
    )
    ct = c2.groupBy("w2").agg(F.count("*").alias("cont_w2"))
    tt = c2.count()
    top_w1 = c1.orderBy(F.col("n1").desc()).first().w1
    p = (
        F.greatest(F.col("n12").cast("double") - F.lit(0.75), F.lit(0.0))
        + F.lit(0.75) * F.col("fanout") * F.col("cont_w2") / F.lit(float(tt))
    ) / F.col("n1")
    mass = (
        c2.filter(F.col("w1") == top_w1)
        .join(c1, "w1")
        .join(ct, "w2")
        .agg(F.sum(p))
        .collect()[0][0]
    )
    assert 0.0 < mass <= 1.0 + 1e-9, mass


# ---------------------------------------------------------------------------
# Dirichlet query likelihood
# ---------------------------------------------------------------------------


def test_dirichlet_ql_scores_shape_and_monotonicity(spark, sf_dir, reg):
    out = reg["dirichlet_ql_scores"].fn(spark, sf_dir).toPandas()
    assert len(out) == 500 or len(out) > 0
    # all scores are log-probabilities of a 3-term query: negative
    assert (out.score_micro < 0).all()
    # among equal-length docs, more query-term occurrences => higher
    # score; check the weaker global invariant: the best-scoring doc
    # contains at least one query term.
    best = out.sort_values("score_micro", ascending=False).iloc[0]
    assert best.tf_table + best.tf_join + best.tf_fast > 0


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking dedup
# ---------------------------------------------------------------------------


def test_sorted_neighborhood_pairs_verified(spark, sf_dir, reg):
    out = reg["sorted_neighborhood_neardup"].fn(spark, sf_dir).toPandas()
    assert len(out) > 0  # corpus is ~28% near-dup by construction
    assert (out.jac_milli >= 500).all()
    assert (out.doc_a != out.doc_b).all()
    # Jaccard consistency: inter <= union, milli value recomputes
    assert (out.n_inter <= out.n_union).all()
    recompute = (out.n_inter * 1000.0 / out.n_union + 0.5).astype(int)
    assert (recompute == out.jac_milli).all()
    # no pair reported twice (one direction only, by sort-order construction)
    keys = set(map(tuple, out[["doc_a", "doc_b"]].values))
    assert len(keys) == len(out)
    assert not any((b, a) in keys for a, b in keys)


def test_sorted_neighborhood_no_cartesian(spark, sf_dir, reg):
    plan = (
        reg["sorted_neighborhood_neardup"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# embedding mining
# ---------------------------------------------------------------------------


def test_hard_negatives_are_other_label(spark, sf_dir, reg):
    from kinesis_log_watcher_spark.queries.base import load

    out = reg["hard_negative_mining"].fn(spark, sf_dir).toPandas()
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .toPandas()
        .set_index("vec_id")
        .label
    )
    assert set(out["rank"]) == {1, 2, 3}
    for _, r in out.iterrows():
        assert emb[r.q_id] != r.neg_label  # never the anchor's own label
        assert emb[r.neighbor_id] == r.neg_label
    assert (out.cosine <= 1.0 + 1e-9).all() and (out.cosine >= -1.0 - 1e-9).all()


def test_matryoshka_recall_bounds(spark, sf_dir, reg):
    out = reg["matryoshka_recall"].fn(spark, sf_dir).toPandas()
    assert len(out) == 10
    assert ((out.n_overlap >= 0) & (out.n_overlap <= 10)).all()
    assert (out.recall_pct == out.n_overlap * 10).all()


# ---------------------------------------------------------------------------
# streaming OPH overlap
# ---------------------------------------------------------------------------


def test_stream_minhash_overlap_state_and_estimate(spark, sf_dir, reg):
    row = reg["stream_minhash_overlap"].fn(spark, sf_dir).collect()[0]
    assert 0 < row.n_regs_both <= 64  # bounded register state
    assert 0 <= row.n_regs_equal <= row.n_regs_both
    # OPH estimator: |J_est - J| within 5 sigma of sqrt(J(1-J)/m)
    j = row.exact_jaccard_micro / 1e6
    sigma = (j * (1 - j) / row.n_regs_both) ** 0.5
    assert abs(row.jaccard_est_micro / 1e6 - j) < 5 * sigma + 1e-9


def test_stream_minhash_overlap_split_invariant(spark, sf_dir):
    # MIN-register state is order-free and duplicate-insensitive: a
    # 2-file replay at maxFilesPerTrigger=1 (two micro-batches, with the
    # overlap keys DUPLICATED across both batches to exercise
    # at-least-once re-delivery) must match the single-batch result.
    from kinesis_log_watcher_spark.queries.base import load
    from kinesis_log_watcher_spark.sources.files import stage_replay_files
    from kinesis_log_watcher_spark.streaming.windows import (
        run_streaming_minhash_overlap,
    )

    ev = load(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0).withColumn("part", F.lit(0))
    second = ev.filter(
        (F.col("event_id") % 2 == 1) | (F.col("event_id") % 10 == 0)
    ).withColumn("part", F.lit(1))
    replay = stage_replay_files(
        first.unionByName(second), "part", 2, prefix="oph_replay_"
    )
    one = run_streaming_minhash_overlap(
        spark, f"{sf_dir}/events.parquet"
    ).collect()[0]
    split = run_streaming_minhash_overlap(
        spark, replay, max_files_per_trigger=1
    ).collect()[0]
    assert (one.n_regs_both, one.n_regs_equal) == (
        split.n_regs_both,
        split.n_regs_equal,
    )


# ---------------------------------------------------------------------------
# weighted reservoir / kNN label propagation / source KL
# ---------------------------------------------------------------------------


def test_weighted_reservoir_exact_k_and_bias(spark, sf_dir, reg):
    from kinesis_log_watcher_spark.queries.base import load

    out = reg["weighted_reservoir_per_source"].fn(spark, sf_dir).toPandas()
    sizes = out.groupby("source")["doc_id"].count()
    assert (sizes == 10).all()  # exact-k per stratum
    assert out.groupby("source")["rank"].max().eq(10).all()
    # A-ES selects proportional to weight: the selected docs' mean
    # weight must exceed the corpus mean (documents weights vary).
    docs = load(spark, sf_dir, "documents").toPandas()
    assert out.weight.mean() > docs.n_chars.mean()


def test_knn_label_propagation_votes_consistent(spark, sf_dir, reg):
    out = reg["knn_label_propagation"].fn(spark, sf_dir).toPandas()
    assert len(out) == 20  # one prediction per anchor
    assert ((out.n_votes >= 1) & (out.n_votes <= 5)).all()
    assert (out.correct == (out.pred_label == out.true_label).astype(int)).all()


def test_source_unigram_kl_nonnegative(spark, sf_dir, reg):
    # Gibbs' inequality: KL >= 0, zero only if the source's word
    # distribution equals the corpus marginal (impossible here since
    # every source is a strict subset with its own mix). Quantization
    # is +-0.5 nano-nat per word, so allow that much slack.
    out = reg["source_unigram_kl"].fn(spark, sf_dir).toPandas()
    assert len(out) > 1
    assert (out.kl_nano >= -out.n_words).all()
    assert (out.kl_nano > 0).any()


# ---------------------------------------------------------------------------
# containment + novelty
# ---------------------------------------------------------------------------


def test_shingle_containment_consistent(spark, sf_dir, reg):
    out = reg["shingle_containment_pairs"].fn(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out.doc_a < out.doc_b).all()  # unordered pairs, one direction
    assert (out.n_inter <= out[["sz_a", "sz_b"]].min(axis=1)).all()
    assert (out[["cont_a_milli", "cont_b_milli"]].max(axis=1) >= 800).all()
    # containment recomputes from the exact counts
    rc = (out.n_inter * 1000.0 / out.sz_a + 0.5).astype(int)
    assert (rc == out.cont_a_milli).all()


def test_ngram_novelty_first_cohort_is_all_novel(spark, sf_dir, reg):
    out = (
        reg["ngram_novelty_rate"].fn(spark, sf_dir)
        .toPandas()
        .sort_values("cohort")
        .reset_index(drop=True)
    )
    assert out.cohort.iloc[0] == 0
    # cohort 0 has no predecessor: everything it contains is novel
    assert out.novelty_milli.iloc[0] == 1000
    assert (out.n_novel <= out.n_shingles).all()
    # novel counts across cohorts partition the global distinct-shingle set
    from kinesis_log_watcher_spark.operators.dedup import exploded_shingles
    from kinesis_log_watcher_spark.queries.base import load

    total = (
        exploded_shingles(load(spark, sf_dir, "documents"), n=3)
        .select("shingle")
        .distinct()
        .count()
    )
    assert out.n_novel.sum() == total


# ---------------------------------------------------------------------------
# PCA power iteration
# ---------------------------------------------------------------------------


def test_pca_power_iteration_matches_numpy(spark, sf_dir, reg):
    import numpy as np

    from kinesis_log_watcher_spark.queries.base import load

    out = (
        reg["pca_power_iteration"].fn(spark, sf_dir)
        .toPandas()
        .sort_values("event_type")
    )
    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .count()
        .toPandas()
        .pivot_table(index="user_id", columns="event_type", values="count",
                     fill_value=0)
    )
    C = counts[sorted(counts.columns)].to_numpy(float)
    evals, evecs = np.linalg.eigh(C.T @ C)
    top = evecs[:, -1]
    v = out.v_q7.to_numpy() / 1e7
    cos = abs(v @ top) / np.linalg.norm(v)
    assert cos > 0.999, cos  # two rounds converge on this spectrum
    assert abs(out.lambda_est.iloc[0] - evals[-1]) / evals[-1] < 0.01
    # the iterate is (near-)unit at Q scale
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3


# ---------------------------------------------------------------------------
# KMV daily merge / lang calibration / burstiness
# ---------------------------------------------------------------------------


def test_kmv_daily_merge_matches_direct_sketch(spark, sf_dir, reg):
    # mergeability: bottom-k of unioned daily sketches == the direct
    # month-wide sketch, so the merged estimate equals the direct one.
    from kinesis_log_watcher_spark.queries.base import load

    row = reg["kmv_daily_merge"].fn(spark, sf_dir).collect()[0]
    ev = load(spark, sf_dir, "events")
    direct = kmv_estimate(kmv_build(ev, "user_id", k=32), k=32).collect()[0]
    assert row.est_users == direct.est_distinct
    assert row.n_days > 1  # the merge actually spans multiple sketches
    assert abs(row.est_users - row.exact_users) / row.exact_users < 0.75


def test_lang_buckets_calibrated_per_language(spark, sf_dir, reg):
    out = reg["lang_calibrated_ppl_buckets"].fn(spark, sf_dir).toPandas()
    # every language gets its own head/middle/tail — no language is
    # wholesale relegated to the tail (the global-cut failure mode)
    per_lang = out.groupby("lang").lang_bucket.nunique()
    assert (per_lang >= 2).all()
    sizes = out.groupby(["lang", "lang_bucket"]).size()
    # NTILE balance within each language: max-min <= 1
    for lang, grp in sizes.groupby(level=0):
        assert grp.max() - grp.min() <= 1, lang


def test_burstiness_bounds_and_regular_user(spark, sf_dir, reg):
    out = reg["user_burstiness_profile"].fn(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert ((out.burstiness_milli >= -1000) & (out.burstiness_milli <= 1000)).all()
    assert (out.n_gaps >= 2).all()
    assert (out.mean_gap_s >= 0).all()


# ---------------------------------------------------------------------------
# RRF hybrid retrieval / Welch t-test
# ---------------------------------------------------------------------------


def test_rrf_fusion_arithmetic(spark, sf_dir, reg):
    out = reg["rrf_hybrid_retrieval"].fn(spark, sf_dir).toPandas()
    assert len(out) == 20
    assert list(out.sort_values("rank")["rank"]) == list(range(1, 21))
    # fused score recomputes from the two ranks (0 for a missing list)
    for _, r in out.iterrows():
        want = 0
        if r.rank_lex == r.rank_lex:  # not NaN
            want += int(1e9 / (60 + r.rank_lex) + 0.5)
        if r.rank_sem == r.rank_sem:
            want += int(1e9 / (60 + r.rank_sem) + 0.5)
        assert want == r.fused_nano
    # fusion actually mixes: the top-20 isn't either list's top-20 verbatim
    assert (out.rank_lex > 20).any() or (out.rank_sem > 20).any()


def test_welch_ttest_matches_scipy_formula(spark, sf_dir, reg):
    import numpy as np

    from kinesis_log_watcher_spark.queries.base import load

    out = reg["ab_welch_ttest"].fn(spark, sf_dir).toPandas()
    assert len(out) == 5  # one row per event_type
    ev = load(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    ).toPandas()
    ev["qv"] = np.floor(ev.value * 1000 + 0.5)
    for _, r in out.iterrows():
        g = ev[ev.event_type == r.event_type]
        a = g[g.user_id % 2 == 0].qv.to_numpy()
        b = g[g.user_id % 2 == 1].qv.to_numpy()
        va_n = a.var(ddof=1) / len(a)
        vb_n = b.var(ddof=1) / len(b)
        t = (a.mean() - b.mean()) / np.sqrt(va_n + vb_n)
        df = (va_n + vb_n) ** 2 / (
            va_n**2 / (len(a) - 1) + vb_n**2 / (len(b) - 1)
        )
        assert abs(r.t_micro / 1e6 - t) < 1e-4, r.event_type
        assert abs(r.df_deci / 10.0 - df) < 0.2, r.event_type


def test_welch_and_burstiness_survive_degenerate_inputs(spark, tmp_path, reg):
    """Zero-variance arms and all-zero gaps previously hit ANSI
    DIVIDE_BY_ZERO on the Spark side while the oracle returned NULL —
    both engines must now agree on the degenerate populations too."""
    import datetime as dt

    import duckdb

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # 'signup': constant value in both parity arms -> zero pooled variance
    for i in range(8):
        rows.append((i, t0 + dt.timedelta(hours=i), i % 4, "signup", 7.0, "{}"))
    # user 90: three events in the SAME second -> all gaps zero
    for i in range(3):
        rows.append((100 + i, t0, 90, "click", float(i), "{}"))
    # a normal population so 'click' has variance
    for i in range(10):
        rows.append(
            (200 + i, t0 + dt.timedelta(minutes=3 * i + i * i), 91 + (i % 2),
             "click", float(i * 2 + 1), "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tmp_path / "deg_events"
    df.coalesce(1).write.parquet(str(d / "events.parquet"))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'"
    )
    for name in ("ab_welch_ttest", "user_burstiness_profile"):
        got = (
            reg[name].fn(spark, str(d))
            .toPandas()
            .sort_values(["event_type" if name == "ab_welch_ttest" else "user_id"])
            .reset_index(drop=True)
        )
        want = (
            con.sql(reg[name].oracle).df()
            .sort_values(["event_type" if name == "ab_welch_ttest" else "user_id"])
            .reset_index(drop=True)
        )
        cols = sorted(got.columns)
        assert got[cols].astype("int64", errors="ignore").equals(
            want[cols].astype(got[cols].dtypes.to_dict())
        ), name
    # the degenerate populations are handled, not dropped silently:
    burst = reg["user_burstiness_profile"].fn(spark, str(d)).toPandas()
    assert burst.set_index("user_id").loc[90, "burstiness_milli"] == -1000
    welch = reg["ab_welch_ttest"].fn(spark, str(d)).toPandas()
    assert "signup" not in set(welch.event_type)  # undefined t excluded
    assert "click" in set(welch.event_type)


def test_cms_join_size_spine_follows_build_depth(spark):
    # grids built at depth=2: the estimate must min over the grid's own
    # 2 rows, not a caller-assumed 4 (which would min over phantom
    # zero rows and report 0 for any overlap).
    from kinesis_log_watcher_spark.operators.sketch import (
        cms_build,
        cms_join_size,
    )

    a = cms_build(spark.range(0, 50).selectExpr("id AS k"), "k",
                  depth=2, width=64)
    b = cms_build(spark.range(0, 50).selectExpr("id AS k"), "k",
                  depth=2, width=64)
    [row] = cms_join_size(a, b).collect()
    assert row.est_join_size >= 50  # upper bound of the true join size 50


def test_passk_matches_comb_formula(spark, sf_dir, reg):
    # Chen et al. eq.1 recomputed with exact math.comb on every task.
    from math import comb

    rows = reg["passk_estimate"].fn(spark, sf_dir).collect()
    assert rows  # sf0.001 still has parts with >=5 lineitems
    for r in rows:
        n, c = r.n_trials, r.n_correct
        assert n >= 5 and 0 <= c <= n
        expect = 1.0 - comb(n - c, 5) / comb(n, 5) if n - c >= 5 else 1.0
        assert abs(r.pass_at_5 - expect) < 1e-12, (n, c, r.pass_at_5, expect)
        assert 0.0 <= r.pass_at_5 <= 1.0


def test_trigram_fuzzy_top_match_is_source_name(spark, sf_dir, reg):
    import hashlib

    from kinesis_log_watcher_spark.queries.base import load

    out = reg["part_trigram_fuzzy_match"].fn(spark, sf_dir).collect()
    assert out
    names = sorted(
        r.p_name
        for r in load(spark, sf_dir, "part").select("p_name").distinct().collect()
    )

    def tgs(s: str) -> set[str]:
        return {s[i : i + 3] for i in range(len(s) - 2)}

    # brute-force recomputation of the whole top-3 per corrupted query
    expect = {}
    for src in names:
        if hashlib.md5(src.encode()).hexdigest()[0] not in "01":
            continue
        q = src[0] + src[2:]
        scored = []
        for m in names:
            inter = len(tgs(q) & tgs(m))
            if inter:
                sim = inter / (len(tgs(q)) + len(tgs(m)) - inter)
                scored.append((-sim, m, inter))
        scored.sort()
        expect[src] = [(m, i) for _, m, i in scored[:3]]
    got = {}
    for r in sorted(out, key=lambda r: (r.q_src, r.rank)):
        inter, union = r.tg_shared, r.na + r.nb - r.tg_shared
        assert 0 < inter <= min(r.na, r.nb)
        assert abs(r.sim - inter / union) < 1e-15
        got.setdefault(r.q_src, []).append((r.match_name, r.tg_shared))
    assert got == expect
    # the corrupted query still lands its source in the top-3 every time
    assert all(src in [m for m, _ in v] for src, v in got.items())


def test_triangle_counts_match_brute_force(spark, sf_dir, reg):
    from collections import Counter
    from itertools import combinations

    from kinesis_log_watcher_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from kinesis_log_watcher_spark.queries.base import load

    out = {r.vec_id: r for r in
           reg["neardup_graph_triangles"].fn(spark, sf_dir).collect()}
    emb = load(spark, sf_dir, "embeddings")
    edges = {(r.vec_a, r.vec_b) for r in
             embedding_near_dup_pairs(emb, 0.35).select("vec_a", "vec_b").collect()}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = Counter()
    for v, nbrs in adj.items():
        for x, y in combinations(sorted(nbrs), 2):
            if (x, y) in edges or (y, x) in edges:
                tri[v] += 1
    assert set(out) == set(adj)
    for v in adj:
        assert out[v].degree == len(adj[v]), v
        assert out[v].n_triangles == tri.get(v, 0), v
    # the near-dup corpus genuinely has triangles to audit
    assert sum(tri.values()) > 0


def test_mg_summary_certificate_holds(spark, sf_dir, reg):
    from kinesis_log_watcher_spark.queries.mining import _MG_K

    rows = reg["mg_shard_merge"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= _MG_K  # the merged summary is itself size-k
    bound = rows[0].err_bound
    assert bound > 0 and all(r.err_bound == bound for r in rows)
    for r in rows:
        # the Misra-Gries certificate: est underestimates, by at most
        # the summed trim offsets
        assert 0 < r.est_count <= r.exact_count
        assert r.exact_count - r.est_count <= bound


def test_ndcg_weights_and_bounds(spark, sf_dir, reg):
    import math

    from kinesis_log_watcher_spark.queries.mining import _NDCG_C, _NDCG_W

    # the integer literals really are 1e9/log2(rank+1) and prefix sums
    for i, w in enumerate(_NDCG_W, start=1):
        assert w == round(1e9 / math.log2(i + 1))
    assert _NDCG_C[0] == 0
    for i in range(1, len(_NDCG_C)):
        assert _NDCG_C[i] == _NDCG_C[i - 1] + _NDCG_W[i - 1]

    rows = reg["ann_label_ndcg"].fn(spark, sf_dir).collect()
    assert len(rows) == 10  # one row per query vector
    for r in rows:
        assert r.n_relevant >= 1
        assert 0 <= r.dcg_nano <= r.idcg_nano
        assert r.idcg_nano == _NDCG_C[min(r.n_relevant, 10)]
        assert abs(r.ndcg - r.dcg_nano / r.idcg_nano) < 1e-15
        assert 0.0 <= r.ndcg <= 1.0


def test_quantile_normalize_maps_ranks_onto_global_distribution(
    spark, sf_dir, reg
):
    out = reg["source_quantile_normalize"].fn(spark, sf_dir).collect()
    from kinesis_log_watcher_spark.queries.base import load

    docs = load(spark, sf_dir, "documents").collect()
    assert len(out) == len(docs)
    gsorted = [r.n_chars for r in sorted(docs, key=lambda r: (r.n_chars, r.doc_id))]
    n = len(gsorted)
    by_src = {}
    for r in sorted(docs, key=lambda r: (r.n_chars, r.doc_id)):
        by_src.setdefault(r.source, []).append(r.doc_id)
    want = {}
    for src, ids in by_src.items():
        m = len(ids)
        for i, doc_id in enumerate(ids, start=1):
            gidx = 0 if m == 1 else (2 * (i - 1) * (n - 1) + (m - 1)) // (2 * (m - 1))
            want[doc_id] = (i, m, gsorted[gidx])
    got = {r.doc_id: (r.src_rank, r.src_n, r.norm_chars) for r in out}
    assert got == want
    # normalization pins every source's extremes onto the global ones
    for src, ids in by_src.items():
        assert got[ids[0]][2] == gsorted[0]
        assert got[ids[-1]][2] == gsorted[-1]


def test_audience_overlap_matrix_exact(spark, sf_dir, reg):
    from kinesis_log_watcher_spark.queries.base import load

    out = {
        (r.type_a, r.type_b): (r.n_a, r.n_b, r.n_both, r.jaccard)
        for r in reg["audience_overlap_matrix"].fn(spark, sf_dir).collect()
    }
    rows = load(spark, sf_dir, "events").select("user_id", "event_type").collect()
    cohorts = {}
    for r in rows:
        cohorts.setdefault(r.event_type, set()).add(r.user_id)
    types = sorted(cohorts)
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            inter = len(cohorts[a] & cohorts[b])
            if inter == 0:
                assert (a, b) not in out
                continue
            na, nb = len(cohorts[a]), len(cohorts[b])
            assert out[(a, b)][:3] == (na, nb, inter)
            assert abs(out[(a, b)][3] - inter / (na + nb - inter)) < 1e-15


def test_cooccurrence_lift_recompute(spark, sf_dir, reg):
    from collections import Counter, defaultdict
    from itertools import combinations

    from kinesis_log_watcher_spark.queries.base import load

    out = reg["part_cooccurrence_topk"].fn(spark, sf_dir).collect()
    rows = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets = defaultdict(set)
    for r in rows:
        baskets[r.l_orderkey].add(r.l_partkey)
    freq = Counter()
    pair_n = Counter()
    for parts in baskets.values():
        for p in parts:
            freq[p] += 1
        for x, y in combinations(sorted(parts), 2):
            pair_n[(x, y)] += 1
    n_orders = len(baskets)
    by_part = defaultdict(list)
    for (x, y), n in pair_n.items():
        by_part[x].append((y, n))
        by_part[y].append((x, n))
    for r in out:
        assert 1 <= r.rank <= 5
        key = (min(r.part, r.other), max(r.part, r.other))
        assert pair_n[key] == r.n_ab
        want_lift = r.n_ab * n_orders / (freq[r.part] * freq[r.other])
        assert abs(r.lift - want_lift) < 1e-12
    # every rank-1 row is that part's true argmax by (n_ab, other)
    top1 = {r.part: (r.n_ab, r.other) for r in out if r.rank == 1}
    for part, (n_ab, other) in top1.items():
        best = min(
            ((-n, o) for o, n in by_part[part]),
        )
        assert (-best[0], best[1]) == (n_ab, other)


def test_chi2_matches_scipy_formula(spark, sf_dir, reg):
    from kinesis_log_watcher_spark.queries.base import load

    (row,) = reg["segment_type_chi2"].fn(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = [
        (r.c_mktsegment, r.event_type)
        for r in ev.join(cust, ev.user_id == cust.c_custkey).collect()
    ]
    from collections import Counter

    cells = Counter(joined)
    nr = Counter(s for s, _ in joined)
    nc = Counter(t for _, t in joined)
    n = len(joined)
    chi_nano = 0
    for (s, t), o in cells.items():
        e = nr[s] * nc[t] / n
        chi_nano += int((o - e) ** 2 / e * 1e9 + 0.5)
    assert row.dof == (len(nr) - 1) * (len(nc) - 1)
    assert row.chi2_nano == chi_nano
    assert abs(row.chi2 - chi_nano / 1e9) < 1e-15


def test_km_survival_matches_lifelines_formula(spark, sf_dir, reg):
    from kinesis_log_watcher_spark.queries.base import load

    rows = sorted(
        reg["click_to_purchase_survival"].fn(spark, sf_dir).collect(),
        key=lambda r: r.d_days,
    )
    assert rows
    ev = load(spark, sf_dir, "events").collect()
    from collections import defaultdict

    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append(e)
    durs = []
    for u, es in by_user.items():
        clicks = [e.ts for e in es if e.event_type == "click"]
        if not clicks:
            continue
        t0 = min(clicks)
        purch = [e.ts for e in es if e.event_type == "purchase" and e.ts >= t0]
        if purch:
            end, obs = min(purch), True
        else:
            end, obs = max(e.ts for e in es), False
        us = int((end - t0).total_seconds() * 1_000_000)
        durs.append((us // 86_400_000_000, obs))
    # exact KM recompute in floats (loose tolerance: the query's
    # nano-quantized ln/exp pipeline differs from naive float products
    # by <1e-6)
    s = 1.0
    at_risk = len(durs)
    want = {}
    for day in sorted({d for d, _ in durs}):
        d_i = sum(1 for d, o in durs if d == day and o)
        n_i = sum(1 for d, _ in durs if d >= day)
        if d_i > 0:
            s *= 1 - d_i / n_i
            want[day] = (n_i, d_i, s)
        at_risk -= sum(1 for d, _ in durs if d == day)
    got = {r.d_days: (r.n_risk, r.n_events, r.surv) for r in rows}
    assert set(got) == set(want)
    for day, (n_i, d_i, s) in want.items():
        gn, gd, gs = got[day]
        assert (gn, gd) == (n_i, d_i), day
        assert abs(gs - s) < 1e-6, (day, gs, s)
    # survival is monotone nonincreasing and ends at/below the KM floor
    survs = [r.surv for r in rows]
    assert all(a >= b for a, b in zip(survs, survs[1:]))


def test_benford_audit_flags_uniform_prices(spark, sf_dir, reg):
    import math

    from kinesis_log_watcher_spark.queries.mining import _BENFORD_NANO

    for d, nano in enumerate(_BENFORD_NANO, start=1):
        assert nano == round(math.log10(1 + 1 / d) * 1e9)
    rows = {r.digit: r for r in
            reg["benford_price_audit"].fn(spark, sf_dir).collect()}
    assert set(rows) <= set(range(1, 10))
    n = sum(r.n_d for r in rows.values())
    for d, r in rows.items():
        assert r.p_obs_nano == r.n_d * 1_000_000_000 // n
        assert r.p_benford_nano == _BENFORD_NANO[d - 1]
        assert r.dev_nano == abs(r.p_obs_nano - r.p_benford_nano)
    # synthetic uniform prices are NOT Benford: digit 1 must deviate
    # far beyond any sampling noise (>5% absolute)
    assert rows[1].dev_nano > 50_000_000


def test_ppjoin_prefix_filter_is_lossless_and_prunes(spark, sf_dir, reg):
    from collections import Counter
    from itertools import combinations

    from kinesis_log_watcher_spark.queries.base import load

    out = {
        (r.da, r.db): (r.tok_shared, r.n_a, r.n_b)
        for r in reg["ppjoin_prefix_filter"].fn(spark, sf_dir).collect()
    }
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    toksets = {}
    for r in docs:
        w = r.text.split(" ")
        toksets[r.doc_id] = {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        }
    # brute-force truth
    want = {}
    for a, b in combinations(sorted(toksets), 2):
        inter = len(toksets[a] & toksets[b])
        union = len(toksets[a]) + len(toksets[b]) - inter
        if inter and 2 * inter >= union:
            want[(a, b)] = (inter, len(toksets[a]), len(toksets[b]))
    assert out == want
    assert want  # the near-dup corpus has genuine J>=0.5 pairs
    # the prefix index really prunes: its candidate pairs are a strict
    # subset of the any-shared-token candidates
    df = Counter(t for s in toksets.values() for t in s)
    def prefix(s):
        ordered = sorted(s, key=lambda t: (df[t], t))
        return set(ordered[: len(s) // 2 + 1])
    pre_cand = sum(
        1
        for a, b in combinations(sorted(toksets), 2)
        if prefix(toksets[a]) & prefix(toksets[b])
    )
    all_cand = sum(
        1
        for a, b in combinations(sorted(toksets), 2)
        if toksets[a] & toksets[b]
    )
    assert set(want) <= set(out)
    assert pre_cand < all_cand, (pre_cand, all_cand)


def test_emd_matches_scipy_wasserstein_on_bins(spark, sf_dir, reg):
    from collections import Counter

    from kinesis_log_watcher_spark.queries.base import load

    (row,) = reg["value_emd_drift"].fn(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events").select("event_type", "value").collect()
    bins_a = Counter()
    bins_b = Counter()
    for r in ev:
        bin_ = min(max(int(r.value // 10), 0), 49)
        if r.event_type == "click":
            bins_a[bin_] += 1
        elif r.event_type == "purchase":
            bins_b[bin_] += 1
    na, nb = sum(bins_a.values()), sum(bins_b.values())
    assert (row.n_a, row.n_b) == (na, nb)
    cum_a = cum_b = 0
    units = 0
    # full 0..49 spine: an empty interior bin still separates the CDFs
    for bin_ in range(50):
        cum_a += bins_a.get(bin_, 0)
        cum_b += bins_b.get(bin_, 0)
        units += abs(cum_a * nb - cum_b * na)
    assert row.emd_units == units
    assert abs(row.emd - units * 10.0 / (na * nb)) < 1e-15
