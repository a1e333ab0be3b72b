"""Handchecks for the round-4 curation operators: unigram-LM perplexity
buckets, DSIR importance weights, temperature mixture shares, PageRank.

Each test builds a corpus/graph small enough to replicate the exact
integer-grid arithmetic in pure Python (same IEEE double ops -> same
integers), so the assertions are bit-exact, not approximate."""

from __future__ import annotations

import math

import pytest

from kinesis_log_watcher_spark.queries import extensions, llm, quality  # noqa: F401
from kinesis_log_watcher_spark.queries.base import registry


@pytest.fixture(scope="module")
def reg():
    return registry()


def _write_docs(spark, tmp_path, rows):
    """rows: list of (doc_id, text, lang, source)."""
    df = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_unigram_logprob_handcheck(spark, tmp_path, reg):
    # corpus: "a a a" + "b" -> counts a=3, b=1; N=4, V=2 (add-1: denom 6)
    sf = _write_docs(
        spark, tmp_path, [(0, "a a a", "en", "s0"), (1, "b", "en", "s0")]
    )
    rows = {
        r["doc_id"]: r
        for r in reg["unigram_logprob_buckets"].fn(spark, sf).collect()
    }
    nano_a = math.floor(-math.log(4.0 / 6.0) * 1e9 + 0.5)
    nano_b = math.floor(-math.log(2.0 / 6.0) * 1e9 + 0.5)
    assert rows[0]["n_toks"] == 3
    assert rows[0]["nll_micro"] == math.floor(3 * nano_a / 3000.0 + 0.5)
    assert rows[1]["nll_micro"] == math.floor(nano_b / 1000.0 + 0.5)
    # common-word doc is the low-perplexity head, rare-word doc the tail
    assert rows[0]["nll_micro"] < rows[1]["nll_micro"]
    assert rows[0]["ppl_bucket"] < rows[1]["ppl_bucket"]


def test_dsir_weights_sign_and_counts(spark, tmp_path, reg):
    # target (en) doc repeats 'xx'; raw adds a de doc with 'yy' ->
    # xx is over-represented in target (weight > 0), yy absent (< 0).
    sf = _write_docs(
        spark, tmp_path, [(0, "xx xx", "en", "s0"), (1, "yy", "de", "s0")]
    )
    rows = {
        r["doc_id"]: r
        for r in reg["dsir_importance_weights"].fn(spark, sf).collect()
    }
    assert rows[0]["n_toks"] == 2 and rows[1]["n_toks"] == 1
    assert rows[0]["logw_nano"] > 0 > rows[1]["logw_nano"]
    B = 4096.0
    delta_x = math.log(3.0 / (2.0 + B)) - math.log(3.0 / (3.0 + B))
    assert rows[0]["logw_nano"] == 2 * math.floor(delta_x * 1e9 + 0.5)


def test_temperature_mixture_handcheck(spark, tmp_path, reg):
    # source token masses 9 and 1 -> p = 0.9/0.1, alpha=0.5 flattening
    sf = _write_docs(
        spark,
        tmp_path,
        [(0, " ".join(["w"] * 9), "en", "big"), (1, "w", "en", "small")],
    )
    rows = {
        r["source"]: r
        for r in reg["temperature_mixture_weights"].fn(spark, sf).collect()
    }
    q_big = math.floor(math.sqrt(9.0 / 10.0) * 1e9 + 0.5)
    q_small = math.floor(math.sqrt(1.0 / 10.0) * 1e9 + 0.5)
    denom = float(q_big + q_small)
    assert rows["big"]["ws_tokens"] == 9
    assert rows["big"]["share_micro"] == math.floor(q_big * 1e6 / denom + 0.5)
    assert rows["small"]["share_micro"] == math.floor(q_small * 1e6 / denom + 0.5)
    # temperature flattens: head share well under its raw 90% mass
    assert 500_000 < rows["big"]["share_micro"] < 900_000


def _pagerank_expected(edge_pairs):
    """Replicate the integer-grid two-round PageRank in pure Python."""
    U, d = 1_000_000_000_000, 0.85
    edges = [(2 * c, 2 * s + 1) for c, s in edge_pairs]
    edges = edges + [(b, a) for a, b in edges]
    nodes = sorted({src for src, _ in edges})
    outdeg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    N = len(nodes)
    q = {n: math.floor(float(U) / N) for n in nodes}
    base = math.floor((1.0 - d) * U / N + 0.5)
    for _ in range(2):
        sum_in = {n: 0 for n in nodes}
        for s, t in edges:
            sum_in[t] += math.floor(q[s] / outdeg[s])
        q = {n: base + math.floor(d * float(sum_in[n]) + 0.5) for n in nodes}
    return {(n - 1) // 2: q[n] for n in nodes if n % 2 == 1}


def test_pagerank_handcheck(spark, tmp_path, reg):
    # orders o1,o2 by customers 1,2; lines give edges:
    # c1-s1, c1-s2, c2-s1  -> s1 has more mass than s2 after 2 rounds
    orders = spark.createDataFrame(
        [(10, 1), (20, 2)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(10, 1), (10, 2), (20, 1), (20, 1)], "l_orderkey long, l_suppkey long"
    )
    orders.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    lineitem.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        r["s_suppkey"]: r["rank_pico"]
        for r in reg["pagerank_two_rounds"].fn(spark, str(tmp_path)).collect()
    }
    want = _pagerank_expected([(1, 1), (1, 2), (2, 1)])
    assert got == want
    assert got[1] > got[2]


def test_reservoir_per_source_handcheck(spark, tmp_path, reg):
    import hashlib

    # 15 docs in one source -> exactly 10 survive, the lowest md5 ranks
    sf = _write_docs(
        spark, tmp_path, [(i, f"doc {i}", "en", "s0") for i in range(15)]
    )
    rows = reg["reservoir_per_source"].fn(spark, sf).collect()
    assert len(rows) == 10
    assert sorted(r["rk"] for r in rows) == list(range(1, 11))
    want = sorted(range(15), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:10]
    assert sorted(r["doc_id"] for r in rows) == sorted(want)


def test_bpe_top_merges_handcheck(spark, tmp_path, reg):
    # vocab: 'ab' x2, 'cd' x1, 'e' (no pair) -> merges (a,b)=2, (c,d)=1
    sf = _write_docs(spark, tmp_path, [(0, "ab ab cd e", "en", "s0")])
    rows = {r["merge_rank"]: r for r in reg["bpe_top_merges"].fn(spark, sf).collect()}
    assert len(rows) == 2
    assert (rows[1]["a"], rows[1]["b"], rows[1]["pair_count"]) == ("a", "b", 2)
    assert (rows[2]["a"], rows[2]["b"], rows[2]["pair_count"]) == ("c", "d", 1)


def test_reservoir_prefilter_commutes_and_partition_invariant(spark):
    from kinesis_log_watcher_spark.operators.sampling import reservoir_topk
    from kinesis_log_watcher_spark.queries.base import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    plain = sorted(
        (r["source"], r["doc_id"], r["rk"])
        for r in reservoir_topk(docs, "source", "doc_id", 5).select(
            "source", "doc_id", "rk"
        ).collect()
    )
    # two-phase: a 50% hash pre-filter leaves every stratum >= 5 rows,
    # so the exact same reservoir must come out
    two_phase = sorted(
        (r["source"], r["doc_id"], r["rk"])
        for r in reservoir_topk(
            docs, "source", "doc_id", 5, prefilter_rate=0.5
        ).select("source", "doc_id", "rk").collect()
    )
    assert plain == two_phase
    # physical layout must not matter
    shuffled = sorted(
        (r["source"], r["doc_id"], r["rk"])
        for r in reservoir_topk(
            docs.repartition(13, "doc_id"), "source", "doc_id", 5
        ).select("source", "doc_id", "rk").collect()
    )
    assert plain == shuffled


def test_temperature_shares_sum_to_unit(spark):
    from kinesis_log_watcher_spark.queries.base import registry

    reg = registry()
    rows = reg["temperature_mixture_weights"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    total = sum(r["share_micro"] for r in rows)
    # each source rounds by at most 0.5 micro-units
    assert abs(total - 1_000_000) <= len(rows)


def test_incremental_dedup_handcheck(spark, tmp_path, reg):
    # snapshot (<300): doc 0 holds "seen text"; batch (>=300):
    # 300 duplicates the index, 301+302 duplicate each other (301 wins),
    # 303 is fresh -> per-source counts are fully determined
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, "seen text here we go five", "en", "s0"),
            (300, "seen text here we go five", "en", "sA"),
            (301, "fresh text one two three four", "en", "sA"),
            (302, "fresh text one two three four", "en", "sA"),
            (303, "completely new and unique words", "en", "sB"),
        ],
    )
    rows = {
        r["source"]: r
        for r in reg["incremental_dedup_update"].fn(spark, sf).collect()
    }
    assert rows["sA"]["n_batch"] == 3
    assert rows["sA"]["n_dup_index"] == 1
    assert rows["sA"]["n_dup_batch"] == 1
    assert rows["sA"]["n_admitted"] == 1
    assert rows["sB"]["n_batch"] == 1 and rows["sB"]["n_admitted"] == 1
    assert "s0" not in rows  # snapshot rows are not re-reported


def test_span_corruption_python_replica(spark, tmp_path, reg):
    import hashlib

    text = " ".join(f"w{i:03d}" for i in range(60))
    sf = _write_docs(spark, tmp_path, [(7, text, "en", "s0")])
    got = {r["doc_id"]: r for r in reg["span_corruption_stats"].fn(spark, sf).collect()}
    K, n = 3, 60
    starts = [
        p
        for p in range(1, n + 1)
        if hashlib.md5(f"7:{p}".encode()).hexdigest()[:8] < "0e000000"
    ]
    if not starts:
        assert 7 not in got
        return
    masked = 0
    spans = 0
    prev = None
    for p in starts:
        masked += K if prev is None else min(K, p - prev)
        spans += 1 if prev is None or p - prev > K else 0
        prev = p
    masked -= max(0, starts[-1] + K - 1 - n)  # clip final span at doc end
    r = got[7]
    assert r["n_tokens"] == n
    assert r["n_spans"] == spans
    assert r["n_masked"] == masked
    import math
    assert r["mask_micro"] == math.floor(masked / n * 1e6 + 0.5)


def test_image_neardup_groups(spark, tmp_path, reg):
    # 120 doc ids -> groups d%50; ids 0..119 give groups 0..49 with
    # 2-3 members each; every surviving pair must be within-group
    # (pixel vectors differ only at pixel 0, by |d1//50 - d2//50| <= 2)
    sf = _write_docs(
        spark, tmp_path, [(i, f"img {i}", "en", "s0") for i in range(120)]
    )
    rows = reg["multimodal_image_neardup"].fn(spark, sf).collect()
    assert rows, "expected near-dup pairs"
    for r in rows:
        assert r["img_a"] % 50 == r["img_b"] % 50
        delta = r["img_a"] // 50 - r["img_b"] // 50
        assert r["l2_q"] == delta * delta
    # groups 0..19 have 3 members (0,50,100): all 3 pairs should survive
    # unless a sign flipped; group 0's exact-duplicate-distance pair is
    # (50,100)? no: members 0,50,100 -> l2 in {1,4}; at least the
    # adjacent pairs (delta=1) must land in the same signature bucket
    found = {(r["img_a"], r["img_b"]) for r in rows}
    assert (0, 50) in found and (50, 100) in found


def test_streaming_admission_multibatch_equals_batch(spark, tmp_path):
    from kinesis_log_watcher_spark.streaming.windows import (
        ADMISSION_MIN_CHARS,
        ADMISSION_SOURCES,
        run_streaming_admission,
    )

    # 3 parquet files -> 3 micro-batches with maxFilesPerTrigger=1
    rows = []
    for i in range(90):
        text = "x" * (100 + (i * 7) % 60)  # straddles the length floor
        rows.append((i, text, ["en", "de"][i % 2], f"src{i % 5}", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = f"{tmp_path}/documents.parquet"
    df.repartition(3).write.mode("overwrite").parquet(path)
    got = {
        r["lang"]: r
        for r in run_streaming_admission(
            spark, path, max_files_per_trigger=1
        ).collect()
    }
    import hashlib

    exp = {}
    for i, text, lang, src, n_chars in rows:
        e = exp.setdefault(lang, [0, 0, 0])
        e[0] += 1
        admit = src in ADMISSION_SOURCES and n_chars >= ADMISSION_MIN_CHARS
        e[1] += admit
        e[2] += admit and (
            hashlib.md5(str(i).encode()).hexdigest()[:8] < "40000000"
        )
    for lang, (n_seen, n_admit, n_samp) in exp.items():
        assert got[lang]["n_seen"] == n_seen
        assert got[lang]["n_admitted"] == n_admit
        assert got[lang]["n_sampled"] == n_samp


def test_event_transition_matrix_handcheck(spark, tmp_path, reg):
    from datetime import datetime

    rows = [
        # user 1: a -> b -> a ; user 2: a -> b
        (1, datetime(2024, 1, 1, 0, 0, 0), 1, "a"),
        (2, datetime(2024, 1, 1, 0, 1, 0), 1, "b"),
        (3, datetime(2024, 1, 1, 0, 2, 0), 1, "a"),
        (4, datetime(2024, 1, 1, 0, 0, 0), 2, "a"),
        (5, datetime(2024, 1, 1, 0, 1, 0), 2, "b"),
    ]
    df = spark.createDataFrame(
        [(e, ts, u, t, 1.0, "{}") for e, ts, u, t in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        (r["from_type"], r["to_type"]): r
        for r in reg["event_transition_matrix"].fn(spark, str(tmp_path)).collect()
    }
    # transitions: a->b x2, b->a x1
    assert got[("a", "b")]["n"] == 2
    assert got[("a", "b")]["prob_micro"] == 1_000_000  # a only goes to b
    assert got[("b", "a")]["n"] == 1
    assert got[("b", "a")]["prob_micro"] == 1_000_000  # b only goes to a
    assert len(got) == 2


def _write_events_files(spark, batches):
    """Write each batch as one time-ordered parquet file (mirrors the
    stateful-session test fixtures: file order == event-time order)."""
    from datetime import datetime, timedelta

    from kinesis_log_watcher_spark.sources.files import stage_replay_files

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    eid = 0
    rows = []
    for part, batch in enumerate(batches):
        for user, offset_s in batch:
            eid += 1
            rows.append(
                (eid, t0 + timedelta(seconds=offset_s), user, "e", 1.0, "{}", part)
            )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string, part int",
    )
    return stage_replay_files(df, "part", len(batches), prefix="t_ratelimit_")


def test_rate_limit_boundary_and_multibatch(spark):
    from kinesis_log_watcher_spark.streaming.ratelimit import run_rate_limit

    # user 1: 8 events inside one hour -> first 5 admitted, 3 throttled;
    # then one event a full hour after the last -> window slid, admitted.
    # user 2: 2 sparse events -> all admitted. Split mid-stream into two
    # files so the limiter's state must carry across micro-batches.
    b1 = [(1, 0), (1, 60), (1, 120), (1, 180), (2, 0)]
    b2 = [(1, 240), (1, 300), (1, 360), (1, 420), (1, 420 + 3601 + 3600), (2, 7200)]
    path = _write_events_files(spark, [b1, b2])
    from conftest import replay_parallel

    rows_single, rows_multi = replay_parallel(
        lambda: run_rate_limit(spark, f"{path}/*.parquet").collect(),
        lambda: run_rate_limit(
            spark, f"{path}/*.parquet", max_files_per_trigger=1
        ).collect(),
    )
    single = {r["user_id"]: r for r in rows_single}
    multi = {r["user_id"]: r for r in rows_multi}
    for got in (single, multi):
        assert got[1]["n_events"] == 9
        assert got[1]["n_admitted"] == 6  # 5 in-window + 1 after the slide
        assert got[2]["n_events"] == 2 and got[2]["n_admitted"] == 2


def test_ts_profile_similarity_shape_invariance(spark, tmp_path, reg):
    from datetime import datetime

    # user 1 (query) and user 2 have the SAME shape profile at different
    # magnitudes (x10) -> z-normalized distance 0; user 3's profile is
    # the reverse shape -> strictly farther.
    rows = []
    eid = 0
    base = [5.0, 10.0, 20.0, 40.0]  # hours 0..3, ascending
    for user, scale, pattern in (
        (1, 1.0, base),
        (2, 10.0, base),
        (3, 1.0, list(reversed(base))),
    ):
        for h, v in enumerate(pattern):
            eid += 1
            rows.append(
                (eid, datetime(2024, 1, 1, h, 0, 0), user, "e", v * scale, "{}")
            )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        r["user_id"]: r
        for r in reg["ts_profile_similarity"].fn(spark, str(tmp_path)).collect()
    }
    assert got[2]["dist_q"] == 0  # scale-invariant: same shape
    assert got[3]["dist_q"] > 0
    assert got[2]["rank"] == 1 and got[3]["rank"] == 2


def test_new_op_invariants_on_driver_corpus(spark, reg):
    """Cross-cutting invariants of the round-4 operators on the real
    sf0.001 tables — cheap CI pins beyond the per-query oracles. The
    four independent registry executions run as one concurrent burst
    (the round-8b suite-speed shape)."""
    from conftest import replay_parallel

    sf = "/root/testdata/sf0.001"
    span, rows, pr, dsir = replay_parallel(
        lambda: reg["span_corruption_stats"].fn(spark, sf).collect(),
        lambda: reg["event_transition_matrix"].fn(spark, sf).collect(),
        lambda: reg["pagerank_two_rounds"].fn(spark, sf).collect(),
        lambda: reg["dsir_importance_weights"].fn(spark, sf).collect(),
    )

    # span corruption: masked tokens never exceed the doc, spans >= 1,
    # ratio consistent with the counts
    for r in span:
        assert 0 < r["n_masked"] <= r["n_tokens"]
        assert 1 <= r["n_spans"] <= r["n_masked"]

    # transition matrix: every from-row's probabilities sum to one unit
    # within per-cell rounding
    import collections

    by_from = collections.defaultdict(list)
    for r in rows:
        by_from[r["from_type"]].append(r["prob_micro"])
    for probs in by_from.values():
        assert abs(sum(probs) - 1_000_000) <= len(probs)

    # pagerank: mass approximately conserved (floor losses only shrink),
    # and every supplier node gets a row
    assert pr, "graph must be non-empty at sf0.001"
    total = sum(r["rank_pico"] for r in pr)
    assert 0 < total <= 1_000_000_000_000  # suppliers' share of unit mass

    # dsir: weights are finite ints; en docs skew positive on average
    # (the target IS the en sub-corpus)
    assert dsir and all(isinstance(r["logw_nano"], int) for r in dsir)


def test_dedup_keep_longest_policy(spark, tmp_path, reg):
    # three docs share their 8-token head; the longest (least truncated)
    # copy wins regardless of arrival order.
    head = "w0 w1 w2 w3 w4 w5 w6 w7"
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, head + " short tail", "en", "s0"),
            (1, head + " a much longer continuation of the text", "en", "s0"),
            (2, head, "en", "s0"),
            (3, "something else entirely different here ok yes", "en", "s0"),
        ],
    )
    rows = reg["dedup_keep_longest"].fn(spark, sf).collect()
    assert len(rows) == 1
    (r,) = rows
    assert r["doc_id"] == 1 and r["group_size"] == 3
    assert r["kept_chars"] == len(head + " a much longer continuation of the text")


def test_targeted_deletion_removes_all_tombstoned(spark, tmp_path, reg):
    sf = _write_docs(
        spark, tmp_path, [(i, f"text {i}", "en", f"s{i % 2}") for i in range(80)]
    )
    rows = reg["targeted_deletion_rewrite"].fn(spark, sf).collect()
    kept = sum(r["n_kept"] for r in rows)
    assert kept == sum(1 for i in range(80) if i % 37 != 0)
    assert all(r["n_tombstoned_remaining"] == 0 for r in rows)


def test_rate_limit_fold_admits_across_batches():
    """The limiter's arrival log carries across micro-batches."""
    import pandas as pd

    from kinesis_log_watcher_spark.streaming.ratelimit import fold

    t0 = pd.Timestamp("2024-03-01 12:00:00")
    b1 = pd.DataFrame(
        {"ts": [t0 + pd.Timedelta(seconds=s) for s in (0, 60, 120)],
         "event_id": [1, 2, 3]}
    )
    b2 = pd.DataFrame(
        {"ts": [t0 + pd.Timedelta(seconds=s) for s in (180, 240, 7200)],
         "event_id": [4, 5, 6]}
    )
    out = []
    state = None
    for b in (b1, b2):
        state, pdf = fold(7, state, b, k=2, window_s=3600)
        out.extend(zip(pdf["event_id"], pdf["admitted"]))

    # K=2: events 1,2 admitted; 3,4,5 throttled; 6 is past the window
    assert [a for _, a in out] == [1, 1, 0, 0, 0, 1]


def test_pagerank_star_graph_skew(spark, tmp_path, reg):
    # extreme degree skew: one hub supplier trades with 40 customers,
    # a leaf supplier with one — exact integer replica must still match
    pairs = [(c, 1) for c in range(1, 41)] + [(1, 2)]
    orders = spark.createDataFrame(
        [(100 + c, c) for c in range(1, 41)] + [(999, 1)],
        "o_orderkey long, o_custkey long",
    )
    lines = [(100 + c, 1) for c in range(1, 41)] + [(999, 2)]
    lineitem = spark.createDataFrame(lines, "l_orderkey long, l_suppkey long")
    orders.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    lineitem.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        r["s_suppkey"]: r["rank_pico"]
        for r in reg["pagerank_two_rounds"].fn(spark, str(tmp_path)).collect()
    }
    want = _pagerank_expected(pairs)
    assert got == want
    assert got[1] > got[2]  # the hub dominates


def test_corrupt_file_tolerance_truncated_parquet(spark, tmp_path):
    """A TRUNCATED (half-written) parquet part — the realistic failed-
    writer artifact, unlike the garbage-bytes file the registry query
    plants — must be skipped by ignoreCorruptFiles, not fail the scan."""
    import glob
    import os

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    path = f"{tmp_path}/data"
    df.repartition(2).write.parquet(path)
    part = sorted(glob.glob(f"{path}/part-*.parquet"))[0]
    size = os.path.getsize(part)
    with open(part, "rb") as fh:
        head = fh.read(size // 2)
    with open(part, "wb") as fh:
        fh.write(head)  # valid magic, truncated body/footer
    back = (
        spark.read.schema("id long, v long")
        .option("ignoreCorruptFiles", True)
        .parquet(path)
    )
    rows = back.count()
    assert 0 < rows < 1000  # the intact part survives, the stub is skipped


def test_reservoir_topk_validates_k(spark):
    import pytest as _pytest

    from kinesis_log_watcher_spark.operators.sampling import reservoir_topk
    from kinesis_log_watcher_spark.queries.base import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    with _pytest.raises(ValueError):
        reservoir_topk(docs, "source", "doc_id", 0)


def test_rate_limit_accepts_directory_dataset(spark, tmp_path):
    """run_rate_limit must accept a spark-written directory-shaped
    parquet dataset, not just a single file (read_parquet_stream
    handles both layouts)."""
    from datetime import datetime, timedelta

    from kinesis_log_watcher_spark.streaming.ratelimit import run_rate_limit

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, t0 + timedelta(seconds=30 * i), 1, "e", 1.0, "{}") for i in range(8)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    path = f"{tmp_path}/events.parquet"
    df.repartition(2).write.mode("overwrite").parquet(path)
    (r,) = run_rate_limit(spark, path).collect()
    assert r["n_events"] == 8 and r["n_admitted"] == 5  # K=5 in one hour


def test_k_anonymity_histogram_accounts_every_row(spark, sf_dir):
    from kinesis_log_watcher_spark.queries import registry
    from kinesis_log_watcher_spark.queries.base import load

    reg = registry()
    out = reg["customer_k_anonymity"].fn(spark, sf_dir).collect()
    total = load(spark, sf_dir, "customer").count()
    # the histogram partitions the table: sizes * classes sums to rowcount
    assert sum(r.n_rows for r in out) == total
    for r in out:
        assert r.n_rows == r.class_size * r.n_classes
        assert r.violates_k5 == (r.class_size < 5)


def test_column_profile_is_single_scan_and_exact(spark, sf_dir):
    from kinesis_log_watcher_spark.queries import registry
    from kinesis_log_watcher_spark.queries.base import load

    reg = registry()
    q = reg["orders_column_profile"].fn(spark, sf_dir)
    from pyspark.sql import functions as F

    out = {r.col_name: r for r in q.collect()}
    orders = load(spark, sf_dir, "orders")
    n = orders.count()
    assert set(out) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    }
    assert all(r.n_total == n for r in out.values())
    assert out["o_orderkey"].n_distinct == n  # primary key
    assert out["o_orderkey"].n_nulls == 0
    ns = orders.select(F.countDistinct("o_orderstatus")).collect()[0][0]
    assert out["o_orderstatus"].n_distinct == ns
    # exactly one scan of the orders parquet in the optimized plan
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation [") == 1, plan


def test_ivm_merge_equals_full_recompute_without_base_rescan(spark, sf_dir):
    from kinesis_log_watcher_spark.queries import registry
    from kinesis_log_watcher_spark.queries.base import load

    reg = registry()
    q = reg["ivm_incremental_agg"].fn(spark, sf_dir)
    got = {r.o_orderpriority: (r.n, r.revenue_cents) for r in q.collect()}
    from pyspark.sql import functions as F
    from kinesis_log_watcher_spark.functions.exact import dec

    orders = load(spark, sf_dir, "orders")
    cents = (dec(F.col("o_totalprice"), 12, 2) * 100).cast("long")
    want = {
        r.o_orderpriority: (r.n, r.revenue_cents)
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("revenue_cents"))
        .collect()
    }
    assert got == want
    # maintenance reads the stored view + the delta: exactly two scans,
    # neither of which is a full-base re-aggregation
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation [") == 2, plan


def test_content_digest_is_order_free_and_recomputable(spark, sf_dir):
    import hashlib

    from kinesis_log_watcher_spark.queries import registry
    from kinesis_log_watcher_spark.queries.base import load

    reg = registry()
    out = {
        r.o_orderdate: (r.n_rows, r.content_digest)
        for r in reg["orders_daily_content_digest"].fn(spark, sf_dir).collect()
    }
    orders = load(spark, sf_dir, "orders").collect()
    # python recompute: same canonical serialization, same 60-bit fp
    from collections import defaultdict
    from decimal import Decimal, ROUND_HALF_UP

    agg = defaultdict(lambda: [0, 0])
    for r in orders:
        cents = int(
            Decimal(repr(r.o_totalprice)).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP
            )
            * 100
        )
        canon = "|".join(
            [
                str(r.o_orderkey),
                str(r.o_custkey),
                r.o_orderstatus,
                str(cents),
                r.o_orderpriority,
            ]
        )
        fp = int(hashlib.md5(canon.encode()).hexdigest()[:15], 16)
        a = agg[r.o_orderdate]
        a[0] += 1
        a[1] ^= fp
    assert out == {d: (n, x) for d, (n, x) in agg.items()}
