"""Round-7 surface: the executed 100 TB swaps (Aho-Corasick blocklist,
NTILE-free RFM, histogram median/MAD, histogram inverse-CDF), the
VariantType template engine, and the Kinesis simulator's shard-split /
resume-across-split behavior."""

from __future__ import annotations

import random

import pytest

from kinesis_log_watcher_spark.operators.ahocorasick import AhoCorasick
from kinesis_log_watcher_spark.queries.base import registry


def _q(name: str):
    return registry()[name].fn


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# Aho-Corasick automaton
# ---------------------------------------------------------------------------


def test_ac_matches_naive_containment_randomized():
    rng = random.Random(7)
    words = [
        "a", "the", "fast", "slow", "scan", "table", "hash", "value",
        "line", "sort", "batch", "window", "spark", "big", "query",
    ]
    pats = [
        "slow fast", "fast table", "scan slow", "batch window spark",
        "the line sort", "a a the", "he", "ash", "b", "spark",
    ]
    ac = AhoCorasick(pats)
    for _ in range(500):
        text = " ".join(rng.choices(words, k=rng.randint(0, 25)))
        got = set(ac.match_distinct(text))
        want = {i for i, p in enumerate(pats) if p in text}
        assert got == want, text


def test_ac_overlapping_and_nested_patterns():
    # suffix-of-suffix chains exercise the fail-link output merge
    ac = AhoCorasick(["abcde", "bcd", "cd", "d", "xd"])
    assert ac.match_distinct("abcde") == [0, 1, 2, 3]
    assert ac.match_distinct("xd") == [3, 4]
    assert ac.match_distinct("zzz") == []
    # occurrences: every (end, idx) event
    evs = sorted(ac.finditer("abcd"))
    assert (4, 1) in evs and (4, 2) in evs and (4, 3) in evs


def test_ac_rejects_degenerate_inputs():
    with pytest.raises(ValueError):
        AhoCorasick([])
    with pytest.raises(ValueError):
        AhoCorasick(["ok", ""])


# ---------------------------------------------------------------------------
# Twin queries must equal their originals row-for-row
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "twin,orig",
    [
        ("blocklist_phrase_filter_ac", "blocklist_phrase_filter"),
        ("customer_rfm_hist_quantile", "customer_rfm_segmentation"),
        ("robust_zscore_outliers_hist", "robust_zscore_outliers"),
        ("source_quantile_normalize_hist", "source_quantile_normalize"),
    ],
)
def test_twin_equals_original(spark, sf_dir, twin, orig):
    t = _rows(_q(twin)(spark, sf_dir))
    o = _rows(_q(orig)(spark, sf_dir))
    assert t == o


def test_rfm_twin_plan_has_no_global_window(spark, sf_dir):
    """The point of the swap: no windows over the unpartitioned customer
    relation. Every Window spec in the twin is either partitioned or
    runs over the bucket histogram (tiny); the ORIGINAL plan has three
    unpartitioned running windows."""
    plan = _q("customer_rfm_hist_quantile")(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    # ntile never appears in the twin
    assert "ntile" not in plan.lower()


def test_hist_zscore_plan_has_no_rownumber_over_facts(spark, sf_dir):
    plan = (
        _q("robust_zscore_outliers_hist")(spark, sf_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "row_number" not in plan.lower()


# ---------------------------------------------------------------------------
# template_render_line_variant: nested .Log access vs a hand-written render
# ---------------------------------------------------------------------------


def test_variant_engine_plan_and_agreement(spark, sf_dir):
    df = _q("template_render_line_variant")(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed().toString().lower()
    # one scan of the payload; the VariantType engine is gone
    assert "klw_payload" in plan and "variant_get" not in plan
    rows = df.collect()
    assert rows and all(r.engines_agree for r in rows)
    sample = {r.event_id: r.line for r in rows}
    k = min(sample)
    assert f"k={k % 97}" in sample[k] and f"seq={k % 100}" in sample[k]


# ---------------------------------------------------------------------------
# Kinesis simulator: shard split + resume across it
# ---------------------------------------------------------------------------


def _read_split(spark, **extra):
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )

    register_sim_source(spark)
    rd = (
        spark.read.format("kinesis_sim")
        .option("shards", "2")
        .option("recordsPerShard", "40")
        .option("splitShard", "1")
        .option("splitAtSeq", "10")
    )
    for key, val in extra.items():
        rd = rd.option(key, val)
    return rd.load()


def test_split_closes_parent_and_reroutes(spark):
    rows = _read_split(spark).collect()
    by_shard: dict[str, list] = {}
    for r in rows:
        by_shard.setdefault(r.shardId, []).append(r)
    # parent closed at seq 10; shard 0 untouched; children split 30 rows
    assert len(by_shard["shardId-000000000000"]) == 40
    assert len(by_shard["shardId-000000000001"]) == 10
    assert len(by_shard["shardId-000000000002"]) == 15
    assert len(by_shard["shardId-000000000003"]) == 15
    # children re-sequence from 0 with their own shard prefix
    c0 = sorted(r.sequenceNumber for r in by_shard["shardId-000000000002"])
    assert c0[0] == f"{2:04d}{0:016d}" and c0[-1] == f"{2:04d}{14:016d}"
    # rerouted payloads are the PARENT's records for seqs >= 10, by parity
    import json as _json

    payloads = {
        _json.loads(bytes(r.data).decode())["msg"]
        for r in by_shard["shardId-000000000002"]
    }
    assert payloads == {f"req {q} shard 1" for q in range(10, 40, 2)}


def test_split_visibility_cap_is_preslit_consistent(spark):
    # cap below the split point: children invisible, parents capped
    rows = _read_split(spark, maxVisibleSeq="8").collect()
    shards = {r.shardId for r in rows}
    assert shards == {"shardId-000000000000", "shardId-000000000001"}
    assert len(rows) == 16
    # cap straddling the split: children carry only pre-cap reroutes
    rows = _read_split(spark, maxVisibleSeq="13").collect()
    per = {}
    for r in rows:
        per[r.shardId] = per.get(r.shardId, 0) + 1
    assert per["shardId-000000000001"] == 10  # parent still closed at 10
    assert per["shardId-000000000002"] == 2  # q=10,12
    assert per["shardId-000000000003"] == 1  # q=11


def test_split_resume_reads_only_delta(spark, tmp_path):
    """Checkpoint BEFORE the split, resume AFTER it: the children are
    picked up from offset 0 and the parent delta is read exactly once —
    no duplicates, no gaps, across the reshard boundary."""
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )

    register_sim_source(spark)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run(**extra):
        rd = (
            spark.readStream.format("kinesis_sim")
            .option("shards", "2")
            .option("recordsPerShard", "40")
            .option("splitShard", "1")
            .option("splitAtSeq", "10")
            .option("maxRecordsPerPull", "7")
        )
        for key, val in extra.items():
            rd = rd.option(key, val)
        q = (
            rd.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run(maxVisibleSeq="6")  # pre-split snapshot: 2 shards x 6
    assert spark.read.parquet(out).count() == 12
    run()  # post-split world: resume must add exactly the remainder
    rows = spark.read.parquet(out).select("shardId", "sequenceNumber").collect()
    assert len(rows) == 80  # 40 + 10 + 15 + 15
    assert len({(r.shardId, r.sequenceNumber) for r in rows}) == 80


def test_no_split_options_keep_legacy_offsets(spark):
    """Backward compatibility: without splitShard the offset map and
    partition layout are unchanged (old checkpoints keep working)."""
    from kinesis_log_watcher_spark.sources.kinesis_sim import _SimPlan

    plan = _SimPlan({"shards": "3", "recordsPerShard": "5"})
    assert plan.counts() == {0: 5, 1: 5, 2: 5}
    split = _SimPlan(
        {
            "shards": "3",
            "recordsPerShard": "5",
            "splitShard": "2",
            "splitAtSeq": "2",
        }
    )
    assert split.counts() == {0: 5, 1: 5, 2: 2, 3: 2, 4: 1}


def test_merge_closes_both_parents_and_interleaves(spark):
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )

    register_sim_source(spark)
    rows = (
        spark.read.format("kinesis_sim")
        .option("shards", "3")
        .option("recordsPerShard", "20")
        .option("mergeShards", "0,2")
        .option("mergeAtSeq", "12")
        .load()
        .collect()
    )
    per: dict[str, int] = {}
    for r in rows:
        per[r.shardId] = per.get(r.shardId, 0) + 1
    assert per == {
        "shardId-000000000000": 12,
        "shardId-000000000001": 20,
        "shardId-000000000002": 12,
        "shardId-000000000003": 16,  # 2 x (20 - 12), interleaved
    }
    import json as _json

    child = sorted(
        (r.sequenceNumber, _json.loads(bytes(r.data).decode())["msg"])
        for r in rows
        if r.shardId == "shardId-000000000003"
    )
    # j even -> parent 0, j odd -> parent 2; q = 12 + j//2
    assert child[0][1] == "req 12 shard 0"
    assert child[1][1] == "req 12 shard 2"
    assert child[-1][1] == "req 19 shard 2"


def test_split_and_merge_are_mutually_exclusive(spark):
    from kinesis_log_watcher_spark.sources.kinesis_sim import _SimPlan

    with pytest.raises(ValueError):
        _SimPlan(
            {
                "shards": "3",
                "splitShard": "1",
                "mergeShards": "0,2",
            }
        )


# ---------------------------------------------------------------------------
# Wave 2: privacy + interval analytics
# ---------------------------------------------------------------------------


def test_t_closeness_python_recompute(spark, sf_dir):
    """Exact EMD recompute in Python over the collected QI relation."""
    import math
    from collections import Counter, defaultdict

    from kinesis_log_watcher_spark.queries.base import load

    rows = load(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).collect()
    global_bands: Counter = Counter()
    per_class: dict = defaultdict(Counter)
    for r in rows:
        cents = int(
            (r.c_acctbal * 100).__round__()
            if False
            else math.floor(float(round(r.c_acctbal, 2)) * 100 + 0.5)
        )
        band = math.floor(cents / 100000.0)
        global_bands[band] += 1
        per_class[(r.c_nationkey, r.c_mktsegment)][band] += 1
    n_total = sum(global_bands.values())
    bands = sorted(global_bands)
    m = len(bands)
    out = {
        (r.c_nationkey, r.c_mktsegment): r
        for r in _q("t_closeness_audit")(spark, sf_dir).collect()
    }
    assert set(out) == set(per_class)
    for key, cc in per_class.items():
        cs = sum(cc.values())
        cum_c = cum_g = emd = 0
        for b in bands:
            cum_c += cc.get(b, 0)
            cum_g += global_bands[b]
            emd += abs(cum_c * n_total - cum_g * cs)
        t_micro = emd * 1000000 // (n_total * cs * (m - 1))
        r = out[key]
        assert r.class_size == cs
        assert r.t_micro == t_micro
        assert r.violates_t02 == (t_micro > 200000)
    # sanity: t is a [0,1] distance and the audit is discriminative
    ts = [r.t_micro for r in out.values()]
    assert all(0 <= t <= 1000000 for t in ts)
    assert len(set(ts)) > 1


def test_dp_noise_is_laplace_deterministic(spark, sf_dir):
    """The noise must be exactly the inverse-CDF draw from the md5
    uniform — recomputed in Python — and stable across invocations."""
    import hashlib
    import math

    rows = {r.prio: r for r in _q("dp_noisy_counts")(spark, sf_dir).collect()}
    rows2 = {r.prio: r for r in _q("dp_noisy_counts")(spark, sf_dir).collect()}
    assert rows.keys() == rows2.keys()
    for p, r in rows.items():
        assert rows2[p].noisy_micro == r.noisy_micro  # deterministic
        h = int(hashlib.md5(p.encode()).hexdigest()[:13], 16)
        u = ((h % 1000000) + 0.5) / 1000000.0
        v = u - 0.5
        noisy = r.n - 2.0 * math.copysign(1.0, v) * math.log(1.0 - 2.0 * abs(v))
        assert r.noisy_micro == math.floor(noisy * 1000000 + 0.5)
        # epsilon=0.5 Laplace noise is almost surely within +-30
        assert abs(r.noisy_micro / 1e6 - r.n) < 30


def test_interval_sweep_matches_naive(spark, sf_dir):
    """Sweep-line result == naive per-day interval containment count."""
    from collections import Counter

    from kinesis_log_watcher_spark.queries.base import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    ).collect()
    import datetime

    epoch = datetime.date(1970, 1, 1)
    ivs = []
    for r in li:
        d0 = (r.l_shipdate.date() - epoch).days
        ivs.append((d0, d0 + (r.l_orderkey + r.l_linenumber) % 14))
    days = sorted({d0 for d0, _ in ivs})
    deltas: Counter = Counter()
    for d0, d1 in ivs:
        deltas[d0] += 1
        deltas[d1 + 1] -= 1
    run = 0
    expect = {}
    for d in sorted(deltas):
        run += deltas[d]
        expect[d] = run
    # forward-fill to observed ship days
    want = {}
    keys = sorted(deltas)
    import bisect

    for d in days:
        i = bisect.bisect_right(keys, d) - 1
        run = sum(deltas[k] for k in keys[: i + 1])
        want[d] = run
    got = {r.day: r.n_open for r in _q("open_intervals_per_day_sweep")(spark, sf_dir).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Wave 3: record linkage + funnel
# ---------------------------------------------------------------------------


def test_fellegi_sunter_blocking_and_weights(spark, sf_dir):
    """Python recompute over collected parts: same blocks, same scores."""
    from collections import Counter

    from kinesis_log_watcher_spark.queries.base import load
    from kinesis_log_watcher_spark.queries.round7 import (
        _FS_LINK,
        _FS_POSSIBLE,
        _FS_W,
    )

    parts = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    ).collect()
    a = [p for p in parts if p.p_partkey % 2 == 0]
    b = [p for p in parts if p.p_partkey % 2 == 1]
    want: Counter = Counter()
    stats = {}
    for x in a:
        for y in b:
            if (
                x.p_name.split(" ")[0] != y.p_name.split(" ")[0]
                or x.p_brand != y.p_brand
            ):
                continue
            s = 0
            for (fa, fb), (_, ag, dg) in zip(
                [
                    (x.p_name.split(" ")[1], y.p_name.split(" ")[1]),
                    (x.p_type, y.p_type),
                    (x.p_size, y.p_size),
                ],
                _FS_W,
            ):
                s += ag if fa == fb else dg
            d = (
                "link"
                if s >= _FS_LINK
                else ("possible" if s >= _FS_POSSIBLE else "non-link")
            )
            want[d] += 1
            lo, hi, tot = stats.get(d, (s, s, 0))
            stats[d] = (min(lo, s), max(hi, s), tot + s)
    got = {r.decision: r for r in _q("fellegi_sunter_linkage")(spark, sf_dir).collect()}
    assert {k: v.n_pairs for k, v in got.items()} == dict(want)
    for d, r in got.items():
        lo, hi, tot = stats[d]
        assert (r.min_score_micro, r.max_score_micro, r.sum_score_micro) == (
            lo, hi, tot,
        )


def test_funnel_requires_strict_order(spark, sf_dir):
    """A purchase BEFORE the first view must not count as conversion —
    recompute the landmark funnel in Python."""
    from collections import defaultdict

    from kinesis_log_watcher_spark.queries.base import load

    by_user = defaultdict(list)
    for r in load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).collect():
        by_user[r.user_id].append((r.ts, r.event_type))
    n1 = n2 = n3 = 0
    for evs in by_user.values():
        t1 = min((t for t, k in evs if k == "view"), default=None)
        if t1 is None:
            continue
        n1 += 1
        t2 = min((t for t, k in evs if k == "click" and t > t1), default=None)
        if t2 is None:
            continue
        n2 += 1
        t3 = min(
            (t for t, k in evs if k == "purchase" and t > t2), default=None
        )
        if t3 is not None:
            n3 += 1
    (r,) = _q("ordered_funnel_completion")(spark, sf_dir).collect()
    assert (r.n_view, r.n_view_click, r.n_full) == (n1, n2, n3)
    assert r.conv12_micro == n2 * 1000000 // n1
    assert r.conv23_micro == n3 * 1000000 // n2


# ---------------------------------------------------------------------------
# Wave 4: scale idioms
# ---------------------------------------------------------------------------


def test_latest_state_plan_is_aggregate_not_window(spark, sf_dir):
    """The whole point of the max-struct idiom: a hash aggregate with
    map-side partials, no Window node, no sort of the fact relation."""
    df = _q("latest_state_compaction")(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan and "Sort [" not in plan
    # tie-break parity with the window form: same result as ROW_NUMBER
    from kinesis_log_watcher_spark.queries.base import load

    got = {r.user_id: (r.last_ts, r.last_event_id, r.last_type)
           for r in df.collect()}
    best = {}
    for r in load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    ).collect():
        k = (r.ts, r.event_id, r.event_type)
        if r.user_id not in best or k > best[r.user_id]:
            best[r.user_id] = k
    assert got == {u: (t, e, y) for u, (t, e, y) in best.items()}


def test_fk_audit_orphan_rates(spark, sf_dir):
    rows = {r.fk: r for r in _q("fk_integrity_audit")(spark, sf_dir).collect()}
    assert set(rows) == {
        "orders->customer", "lineitem->orders", "lineitem->part",
    }
    # simulated deletions make the dimension edges nonzero; the
    # lineitem->orders edge is structurally intact in the testdata
    assert rows["orders->customer"].n_orphans > 0
    assert rows["lineitem->part"].n_orphans > 0
    assert rows["lineitem->orders"].n_orphans == 0
    for r in rows.values():
        assert r.orphan_micro == r.n_orphans * 1000000 // r.n_rows


# ---------------------------------------------------------------------------
# Wave 5: resume-across-merge + incremental JOIN-view maintenance
# ---------------------------------------------------------------------------


def test_merge_resume_reads_only_delta(spark, tmp_path):
    """Checkpoint BEFORE the merge (two open parents), resume AFTER it:
    both parents close, the interleaved child is picked up from 0."""
    from kinesis_log_watcher_spark.sources.kinesis_sim import (
        register_sim_source,
    )

    register_sim_source(spark)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run(**extra):
        rd = (
            spark.readStream.format("kinesis_sim")
            .option("shards", "3")
            .option("recordsPerShard", "40")
            .option("mergeShards", "0,2")
            .option("mergeAtSeq", "10")
            .option("maxRecordsPerPull", "7")
        )
        for key, val in extra.items():
            rd = rd.option(key, val)
        q = (
            rd.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run(maxVisibleSeq="6")  # pre-merge: 3 shards x 6
    assert spark.read.parquet(out).count() == 18
    run()
    rows = spark.read.parquet(out).select("shardId", "sequenceNumber").collect()
    # parents 0,2 closed at 10; shard 1 full 40; child 3 = 2 x 30
    assert len(rows) == 10 + 40 + 10 + 60
    assert len({(r.shardId, r.sequenceNumber) for r in rows}) == 120


def test_ivm_join_delta_identity(spark, sf_dir):
    """The delta-join identity covers every (snapshot, delta) pairing:
    the maintained rollup equals the from-scratch join."""
    from kinesis_log_watcher_spark.queries.base import load

    got = {
        r.segment: (r.n_orders, r.total_cents)
        for r in _q("ivm_join_view_delta")(spark, sf_dir).collect()
    }
    import math

    from collections import defaultdict

    cust = {
        r.c_custkey: r.c_mktsegment
        for r in load(spark, sf_dir, "customer").collect()
    }
    want: dict = defaultdict(lambda: [0, 0])
    for r in load(spark, sf_dir, "orders").collect():
        seg = cust.get(r.o_custkey)
        if seg is None:
            continue
        cents = math.floor(float(round(r.o_totalprice, 2)) * 100 + 0.5)
        want[seg][0] += 1
        want[seg][1] += cents
    assert got == {s: (n, c) for s, (n, c) in want.items()}


# ---------------------------------------------------------------------------
# Wave 6: association rules + B-cubed
# ---------------------------------------------------------------------------


def test_association_rules_math(spark, sf_dir):
    """Recompute supports/confidence/lift in Python from the baskets."""
    from collections import Counter, defaultdict

    from kinesis_log_watcher_spark.queries.base import load

    part_brand = {
        r.p_partkey: r.p_brand
        for r in load(spark, sf_dir, "part").collect()
    }
    baskets = defaultdict(set)
    for r in load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect():
        b = part_brand.get(r.l_partkey)
        if b is not None:
            baskets[r.l_orderkey].add(b)
    n = len(baskets)
    isup: Counter = Counter()
    psup: Counter = Counter()
    for items in baskets.values():
        for x in items:
            isup[x] += 1
        for x in items:
            for y in items:
                if x != y:
                    psup[(x, y)] += 1
    got = {
        (r.ante, r.cons): r
        for r in _q("association_rules_lift")(spark, sf_dir).collect()
    }
    want = {k: v for k, v in psup.items() if v >= 60}
    assert set(got) == set(want)
    for (x, y), s_ab in want.items():
        r = got[(x, y)]
        assert r.support_cnt == s_ab
        assert r.confidence_micro == s_ab * 1000000 // isup[x]
        assert r.lift_micro == (s_ab * n * 1000000) // (isup[x] * isup[y])
    # lift is symmetric, confidence is not (sanity on at least one pair)
    some = next(iter(want))
    rev = (some[1], some[0])
    if rev in got:
        assert got[some].lift_micro == got[rev].lift_micro


def test_bcubed_prefix_blocking_properties(spark, sf_dir):
    (r,) = _q("dedup_bcubed_eval")(spark, sf_dir).collect()
    # prefix clusters are a COARSENING of exact-text clusters: every
    # gold group sits inside one predicted cluster, so recall == 1
    assert r.bcubed_r_micro == 1000000
    # and precision measures over-merging: in (0, 1]
    assert 0 < r.bcubed_p_micro <= 1000000
    # F1 consistency with the truncated harmonic mean
    p, q = r.bcubed_p_micro, r.bcubed_r_micro
    assert r.bcubed_f1_micro == (2 * p * q) // (p + q)


def test_chunking_boundaries_python_recompute(spark, sf_dir):
    """Chunk starts/ends and content hashes recomputed in Python."""
    import hashlib
    import math

    from kinesis_log_watcher_spark.queries.base import load

    got = {
        r.doc_id: (r.n_tokens, r.n_chunks, r.chunk_check)
        for r in _q("doc_chunking_stride")(spark, sf_dir).collect()
    }
    for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect():
        ts = r.text.split(" ")
        n = len(ts)
        n_chunks = 1 if n <= 50 else math.ceil((n - 50) / 30) + 1
        check = 0
        for ci in range(n_chunks):
            chunk = " ".join(ts[ci * 30 : min(ci * 30 + 50, n)])
            check += int(hashlib.md5(chunk.encode()).hexdigest()[:13], 16)
        assert got[r.doc_id] == (n, n_chunks, check), r.doc_id
    # every token is covered and consecutive chunks overlap by 20
    assert len(got) == load(spark, sf_dir, "documents").count()


# ---------------------------------------------------------------------------
# Wave 8: seasonal decomposition + edit-distance fuzzy join
# ---------------------------------------------------------------------------


def test_stl_decomposition_python_recompute(spark, sf_dir):
    import math
    from collections import defaultdict

    from kinesis_log_watcher_spark.queries.base import load

    daily: dict = defaultdict(int)
    epoch = None
    import datetime

    epoch = datetime.date(1970, 1, 1)
    for r in load(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    ).collect():
        dd = (r.o_orderdate.date() - epoch).days
        daily[dd] += math.floor(float(round(r.o_totalprice, 2)) * 100 + 0.5)
    days = sorted(daily)
    det = {}
    # ROWS-based centered window over the ORDERED day relation (both
    # dialects use the identical ROWS frame, so gaps in the calendar
    # are handled the same way: 7 observations, not 7 calendar days)
    for i, d in enumerate(days):
        if i - 3 < 0 or i + 3 >= len(days):
            continue
        win = [daily[x] for x in days[i - 3: i + 4]]
        det[d] = daily[d] - (sum(win) // 7)
    def tdiv(a: int, b: int) -> int:
        # both engines truncate integer division toward zero; Python
        # floors — mirror the engines
        q = abs(a) // b
        return q if a >= 0 else -q

    seas: dict = defaultdict(list)
    for d, v in det.items():
        seas[d % 7].append(v)
    got = {r.dow: r for r in _q("daily_revenue_stl_decompose")(spark, sf_dir).collect()}
    for dow, vals in seas.items():
        s = tdiv(sum(vals), len(vals))
        r = got[dow]
        assert (r.n_days, r.seasonal_cents) == (len(vals), s)
        mad = sum(abs(v - s) for v in vals) // len(vals)
        assert r.resid_mad_cents == mad


def test_fuzzy_levenshtein_recompute(spark, sf_dir):
    from collections import Counter

    from kinesis_log_watcher_spark.queries.base import load

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    parts = [r.p_name for r in load(spark, sf_dir, "part").select(
        "p_partkey", "p_name"
    ).collect()]
    rows = load(spark, sf_dir, "part").select("p_partkey", "p_name").collect()
    a = [r.p_name for r in rows if r.p_partkey % 2 == 0]
    b = [r.p_name for r in rows if r.p_partkey % 2 == 1]
    seen = set()
    hist: Counter = Counter()
    lefts: dict = {}
    for x in a:
        for y in b:
            if x.split(" ")[1] != y.split(" ")[1] or x == y:
                continue
            d = lev(x, y)
            if d <= 4 and (x, y) not in seen:
                seen.add((x, y))
                hist[d] += 1
                lefts.setdefault(d, set()).add(x)
    got = {r.dist: r for r in _q("fuzzy_join_levenshtein")(spark, sf_dir).collect()}
    assert {k: v.n_pairs for k, v in got.items()} == dict(hist)
    for d, r in got.items():
        assert r.n_left_names == len(lefts[d])


def test_dhash_shift_invariance_and_grouping(spark, sf_dir):
    """dHash's defining property: the +3 level-shifted images land in
    the SAME group as their unshifted base pattern (gradient bits are
    shift-invariant); recompute hashes in Python through the codec."""
    from kinesis_log_watcher_spark.functions.imagecodec import (
        decode_png,
        encode_png,
    )
    from kinesis_log_watcher_spark.queries.base import load

    W, H = 8, 8
    n_docs = min(
        240,
        load(spark, sf_dir, "documents")
        .filter("doc_id < 240")
        .count(),
    )
    want: dict = {}
    for d in range(n_docs):
        shift = 3 if (d // 24) % 4 == 0 else 0
        pix = bytes(
            ((d % 24) * 17 + x * 7 + y * 13 + (x * y) % 5) % 250 + shift
            for y in range(H)
            for x in range(W)
        )
        _w, _h, _c, raw = decode_png(encode_png(pix, W, H, 1))
        hsh = 0
        for y in range(H):
            for x in range(W - 1):
                if raw[y * W + x + 1] > raw[y * W + x]:
                    hsh |= 1 << (y * (W - 1) + x)
        want.setdefault(hsh, []).append(d)
    got = {
        r.dhash: (r.n_images, r.exemplar_doc)
        for r in _q("multimodal_dhash_groups")(spark, sf_dir).collect()
    }
    assert got == {h: (len(ds), min(ds)) for h, ds in want.items()}
    # shift invariance BY CONSTRUCTION: base pixels are clamped to
    # [0, 249] before the +3 shift, so the shift can never wrap mod 256
    # and EVERY shifted/unshifted pair sharing a base pattern (d % 24)
    # must collide — the full invariant, not just one witness pair
    by_doc = {}
    for h, ds in want.items():
        for d in ds:
            by_doc[d] = h
    pairs = [
        (d, d2)
        for d in range(n_docs)
        if (d // 24) % 4 == 0
        for d2 in range(n_docs)
        if (d2 // 24) % 4 != 0 and d2 % 24 == d % 24
    ]
    assert pairs and all(by_doc[a] == by_doc[b] for a, b in pairs)


def test_lift_micro_survives_1e10_scale_counts(spark):
    """The r7 judge's int64-headroom finding, pinned: the lift cross
    product s_ab*n*1e6 overflows int64 once n*s_ab > ~9.2e12, so the
    query widens through DECIMAL(38,0) (engine) / HUGEINT (oracle)
    before the truncating divide. Both expression shapes must survive
    100TB-scale counts (n, s_ab, s_a, s_c ~ 1e10) and agree with
    Python's exact integer arithmetic."""
    import duckdb

    from pyspark.sql import functions as F

    n, s_ab, s_a, s_c = 15_000_000_007, 10_000_000_001, 10_000_000_019, 9_999_999_943
    want_lift = (s_ab * n * 1_000_000) // (s_a * s_c)
    want_conf = (s_ab * 1_000_000) // s_a
    row = (
        spark.createDataFrame(
            [(s_ab, s_a, s_c, n)], "s_ab long, s_a long, s_c long, n long"
        )
        .select(
            # the exact expressions association_rules_lift emits
            F.expr("s_ab * 1000000 div s_a").cast("long").alias("conf"),
            F.expr(
                "(CAST(s_ab AS DECIMAL(38,0)) * n * 1000000)"
                " div (CAST(s_a AS DECIMAL(38,0)) * s_c)"
            )
            .cast("long")
            .alias("lift"),
        )
        .collect()[0]
    )
    assert (row.conf, row.lift) == (want_conf, want_lift)
    (orc,) = duckdb.sql(
        f"SELECT CAST(({s_ab}::HUGEINT * {n} * 1000000)"
        f" // ({s_a}::HUGEINT * {s_c}) AS BIGINT)"
    ).fetchall()
    assert orc[0] == want_lift
