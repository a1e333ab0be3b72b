"""Round-6 operator tests: suffix-automaton kernel, closure rollup,
sketch-error panel, ridge closed form, watermarked streaming dedup, URL
parsing, CDF quota thresholds, and the HLL column profile."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.queries import registry
from kinesis_log_watcher_spark.queries.base import load


def _q(name):
    return registry()[name].fn


# ---------------------------------------------------------------------------
# suffix automaton kernel
# ---------------------------------------------------------------------------


def _brute_distinct_substrings(s: str) -> int:
    return len({s[i:j] for i in range(len(s)) for j in range(i + 1, len(s) + 1)})


def test_sam_kernel_matches_brute_force():
    from kinesis_log_watcher_spark.queries.round6 import _sam_distinct_substrings

    rng = random.Random(42)
    cases = ["", "a", "aa", "ab", "abab", "aaaa", "banana"]
    cases += [
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 40)))
        for _ in range(30)
    ]
    cases += [
        "".join(rng.choice("abcde ") for _ in range(rng.randint(1, 60)))
        for _ in range(20)
    ]
    for s in cases:
        assert _sam_distinct_substrings(s) == _brute_distinct_substrings(s), s


def test_repeat_mass_accounting(spark, sf_dir):
    rows = _q("suffix_automaton_repeat_mass")(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # mass identity and bounds: 0 <= repeat <= total, distinct >= L
        assert r.repeat_mass == r.total_substrings - r.distinct_substrings
        assert 0 <= r.repeat_mass <= r.total_substrings
        assert r.n_docs > 0


# ---------------------------------------------------------------------------
# taxonomy closure rollup
# ---------------------------------------------------------------------------


def test_taxonomy_root_equals_total_and_levels(spark, sf_dir):
    rows = {r.node: r for r in _q("taxonomy_rollup_closure")(spark, sf_dir).collect()}
    root = rows["ROOT"]
    assert root.level == 0
    # ROOT aggregates every lineitem that has a catalog part
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    expect_lines = joined.count()
    assert root.n_lines == expect_lines
    # level-1 (types) partition the lines: their sums equal ROOT's
    lvl1 = [r for r in rows.values() if r.level == 1]
    assert sum(r.n_lines for r in lvl1) == root.n_lines
    assert sum(r.revenue_cents for r in lvl1) == root.revenue_cents
    # level-2 (brands within type) partition level-1 the same way
    lvl2 = [r for r in rows.values() if r.level == 2]
    assert sum(r.n_lines for r in lvl2) == root.n_lines


# ---------------------------------------------------------------------------
# minhash estimate-vs-exact panel
# ---------------------------------------------------------------------------


def test_minhash_panel_bounds(spark, sf_dir):
    rows = _q("minhash_prob_vs_exact_jaccard")(spark, sf_dir).collect()
    assert rows, "LSH should produce candidates on the near-dup corpus"
    for r in rows:
        assert 0 <= r.match_k <= 16
        assert 0 <= r.est_micro <= 1_000_000
        assert 0 < r.exact_micro <= 1_000_000  # candidates share >=1 shingle
        assert r.err_micro == abs(r.est_micro - r.exact_micro)


# ---------------------------------------------------------------------------
# ridge normal equations vs numpy
# ---------------------------------------------------------------------------


def test_ridge_matches_numpy_solve(spark, sf_dir):
    import numpy as np

    row = _q("ols_ridge_normal_eq")(spark, sf_dir).collect()[0]
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        (F.col("l_discount").cast("decimal(12,2)") * 100).cast("long").alias("x2"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("y"),
    ).toPandas()
    X = np.column_stack(
        [np.ones(len(li)), li.x1.to_numpy(float), li.x2.to_numpy(float)]
    )
    y = li.y.to_numpy(float)
    lam = 1000.0
    beta = np.linalg.solve(X.T @ X + lam * np.eye(3), X.T @ y)
    got = np.array([row.beta0_micro, row.beta1_micro, row.beta2_micro]) / 1e6
    # Cramer vs LAPACK agree to float noise; micro quantization adds 1e-6
    assert np.allclose(got, beta, rtol=1e-9, atol=2e-6), (got, beta)
    assert row.n == len(li)


# ---------------------------------------------------------------------------
# watermarked streaming dedup
# ---------------------------------------------------------------------------


def test_watermark_dedup_equals_batch_distinct(spark, sf_dir):
    got = _q("stream_watermark_dedup_ids")(spark, sf_dir)
    expect = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute_ts"),
        )
        .distinct()
    )
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0


# ---------------------------------------------------------------------------
# URL parsing
# ---------------------------------------------------------------------------


def test_url_domains_collapse_www_and_shards(spark, sf_dir):
    rows = _q("url_domain_aggregate")(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # registrable domain strips the www./shard host prefixes
        assert r.reg_domain == "example.com"
        # the first path segment is the language code
        assert r.path_lang and "/" not in r.path_lang
        assert 0 <= r.n_tracked <= r.n_docs
        # hosts vary by www-prefix and shard digit while the domain is one
        assert r.n_hosts >= 1


# ---------------------------------------------------------------------------
# CDF quota thresholds
# ---------------------------------------------------------------------------


def test_cdf_thresholds_are_type1_quantiles(spark, sf_dir):
    import math

    rows = _q("cdf_stratified_quota_join")(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents").select("source", "n_chars").toPandas()
    assert rows
    for r in rows:
        vals = sorted(docs[docs.source == r.source].n_chars)
        k = math.ceil(r.p * len(vals) / 100)
        assert r.n_total == len(vals)
        assert r.thresh_chars == vals[k - 1]
        assert r.n_le == sum(1 for v in vals if v <= r.thresh_chars)
        assert r.n_le >= k  # CDF at the threshold covers the quota


# ---------------------------------------------------------------------------
# HLL column profile
# ---------------------------------------------------------------------------


def test_hll_profile_tracks_exact_distincts(spark, sf_dir):
    approx = {
        r.col_name: r
        for r in _q("orders_column_profile_approx")(spark, sf_dir).collect()
    }
    exact = {
        r.col_name: r.n_distinct
        for r in _q("orders_column_profile")(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for col, r in approx.items():
        assert r.n_nulls == 0
        # p=10 -> ~3.25% standard error; 15% is a 4.5-sigma bound
        rel = abs(r.n_distinct_approx - exact[col]) / max(exact[col], 1)
        assert rel < 0.15, (col, r.n_distinct_approx, exact[col])


def test_hll_profile_plans_without_expand(spark, sf_dir):
    plan = _q("orders_column_profile_approx")(spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Expand" not in plan, plan[:2000]


# ===========================================================================
# wave 2
# ===========================================================================


def test_mrr_map_bounds_and_first_rank(spark, sf_dir):
    rows = _q("retrieval_mrr_map")(spark, sf_dir).collect()
    assert len(rows) == 10  # one row per query vector
    for r in rows:
        assert 0 <= r.first_rel_rank <= 10
        assert 0 <= r.rr_nano <= 1_000_000_000
        assert 0 <= r.ap_nano <= 1_000_000_000
        assert 0 <= r.n_hits <= 10
        # AP <= 1 implies rr consistency: a hit at rank 1 -> rr = 1e9
        if r.first_rel_rank == 1:
            assert r.rr_nano == 1_000_000_000
        if r.n_hits == 0:
            assert r.rr_nano == 0 and r.ap_nano == 0


def test_adamic_adar_matches_python(spark, sf_dir):
    import math
    from collections import defaultdict

    rows = _q("link_prediction_adamic_adar")(spark, sf_dir).collect()
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = {
        (r.o_custkey, r.l_suppkey)
        for r in orders.join(
            li, orders.o_orderkey == li.l_orderkey
        ).collect()
    }
    by_c = defaultdict(set)
    for c, s in edges:
        by_c[c].add(s)
    scores = defaultdict(lambda: [0, 0])
    for c, ss in by_c.items():
        if not (2 <= len(ss) <= 64):
            continue
        t = int(1e9 / math.log(len(ss)) + 0.5)
        ss = sorted(ss)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                scores[(ss[i], ss[j])][0] += 1
                scores[(ss[i], ss[j])][1] += t
    expect = sorted(
        ((v[1], k[0], k[1], v[0]) for k, v in scores.items()),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:20]
    got = [(r.aa_nano, r.s1, r.s2, r.n_common) for r in rows]
    assert got == expect


def test_bfs_hops_cover_and_partition(spark, sf_dir):
    rows = {r.dist: r for r in _q("bfs_reach_hops")(spark, sf_dir).collect()}
    assert rows[0].n_nodes == 1 and rows[0].n_suppliers == 0
    # hop 1 = the source customer's suppliers (odd nodes only)
    assert rows[1].n_nodes == rows[1].n_suppliers > 0
    # hop 2 = customers only; hop sets are disjoint by construction
    if 2 in rows:
        assert rows[2].n_suppliers == 0


def test_naive_bayes_beats_prior(spark, sf_dir):
    rows = _q("naive_bayes_lang_classify")(spark, sf_dir).collect()
    total = sum(r.n_docs for r in rows)
    correct = sum(r.n_docs for r in rows if r.true_lang == r.pred_lang)
    majority = max(
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .count()
        .collect(),
        key=lambda r: r["count"],
    )["count"]
    assert total == load(spark, sf_dir, "documents").count()
    # language-blind lorem text gives no signal guarantee, but the
    # classifier must at least match the majority-class baseline
    assert correct >= majority or correct / total >= 0.2


def test_autocorr_bounds(spark, sf_dir):
    rows = _q("daily_revenue_autocorr")(spark, sf_dir).collect()
    assert len(rows) == 7
    for r in rows:
        assert -1_000_000 <= r.acf_micro <= 1_000_000


def test_decay_weights_monotone_and_scores_positive(spark, sf_dir):
    from kinesis_log_watcher_spark.queries.round6 import _DECAY_W

    assert all(a >= b for a, b in zip(_DECAY_W, _DECAY_W[1:]))
    assert _DECAY_W[0] == 1000
    rows = _q("time_decayed_user_scores")(spark, sf_dir).collect()
    assert rows and all(r.score_qm > 0 for r in rows)
    scores = [r.score_qm for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_url_normalization_collapses_variants(spark, sf_dir):
    rows = _q("url_normalized_dedup")(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # every page ships a clean + a messy variant; canonicalization
        # must collapse each pair exactly (and nothing else — page ids
        # are doc-unique)
        assert r.n_urls == 2 * r.n_canonical
        assert r.n_collapsed == r.n_canonical


def test_kfold_partition_and_train_sizes(spark, sf_dir):
    rows = _q("kfold_assignment_stats")(spark, sf_dir).collect()
    n = load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n
    folds = {}
    for r in rows:
        folds.setdefault(r.fold, set()).add((r.fold_total, r.train_size))
    assert set(folds) == set(range(5))
    for fold, pairs in folds.items():
        assert len(pairs) == 1  # consistent totals within a fold
        ft, ts = next(iter(pairs))
        assert ft + ts == n


# ---------------------------------------------------------------------------
# timer-finalized sessionization
# ---------------------------------------------------------------------------


def test_timer_sessions_equal_batch_and_emit_once(spark, sf_dir):
    from pyspark.sql import Window

    got = _q("stream_timer_sessions")(spark, sf_dir)
    rows = got.collect()
    # exactly-once: no session (user, start) appears twice
    keys = [(r.user_id, r.session_start) for r in rows]
    assert len(keys) == len(set(keys))
    # equals the batch gap-session answer
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagd = ev.select(
        "user_id", "ts", "event_id", F.lag("ts").over(w).alias("prev_ts")
    )
    sess = lagd.withColumn(
        "new_s",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
            1,
        ).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    expect = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").cast("long").alias("n_events"),
    ).drop("sid")
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0


def test_sessionizers_fold_across_arrow_chunks(spark, tmp_path):
    """A key's micro-batch rows split into multiple Arrow chunks at
    arrow.maxRecordsPerBatch, and Spark sorts the partition only by the
    grouping key — the fold must sort ALL chunks together, or a
    >chunk-size user processed in non-time file order rewinds the
    session fold (r6 review finding)."""
    from datetime import datetime, timezone

    from kinesis_log_watcher_spark.sources.files import run_replay
    from kinesis_log_watcher_spark.streaming.stateful import (
        final_sessions,
        session_update_stream,
    )

    # one user, TWO true sessions (10 events at 10-min spacing, a 2-hour
    # gap, 10 more), written in DESCENDING ts order so Arrow chunks mix
    # late-session and early-session rows — per-chunk sorting folds them
    # out of order and merges/splits sessions wrongly
    base = 1_700_000_000
    times = [base + i * 600 for i in range(10)]
    times += [times[-1] + 7200 + i * 600 for i in range(10)]
    rows = [
        (
            1,
            i,
            datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None),
        )
        for i, t in enumerate(reversed(times))
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    src = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = (
            spark.readStream.schema("user_id long, event_id long, ts timestamp")
            .parquet(src)
        )
        updates = run_replay(
            session_update_stream(stream, gap_s=1800),
            "update",
            "chunk_fold_sessions",
        )
        got = final_sessions(updates).collect()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # exactly TWO sessions of 10 events each
    assert sorted(r.n_events for r in got) == [10, 10], got
