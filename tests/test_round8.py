"""Round-8 operators: the real merge-table BPE tokenizer."""

from __future__ import annotations

from kinesis_log_watcher_spark.operators.bpe import (
    DEFAULT_MERGES,
    bpe_encode,
    doc_token_counts,
    merge_ranks,
    vocab_token_counts,
)
from kinesis_log_watcher_spark.queries import registry


import pytest


def _q(name):
    return registry()[name].fn


@pytest.fixture(scope="module")
def r8_results(spark, sf_dir):
    """The module's five registry-query executions, one concurrent
    burst (independent Spark actions; the r8 suite-speed shape), plus
    the docs rows every recompute test replays in Python."""
    from concurrent.futures import ThreadPoolExecutor

    from kinesis_log_watcher_spark.queries.base import load

    names = [
        "bpe_tokenize_budget",
        "bpe_vocab_encodings",
        "pii_redaction_audit",
        "sequence_packing_stats",
        "bpe_token_vocab_coverage",
        "annotator_agreement_kappa",
        "golden_record_survivorship",
        "chi_square_independence",
    ]
    with ThreadPoolExecutor(max_workers=9) as pool:
        futs = {n: pool.submit(lambda n=n: _q(n)(spark, sf_dir).collect())
                for n in names}
        docs = pool.submit(
            lambda: load(spark, sf_dir, "documents")
            .select("doc_id", "source", "text", "n_chars", "lang")
            .collect()
        )
        out = {n: f.result() for n, f in futs.items()}
        out["docs"] = docs.result()
    return out


def test_bpe_encode_iterates_by_min_rank():
    """The defining property vs a rank-order single pass: (s, low) is
    rank 1 but 'low' only exists after ranks 11/12 fire — an iterative
    encoder reaches ONE token; a single rank-order pass cannot."""
    ranks = merge_ranks()
    assert bpe_encode("slow", ranks) == ["slow"]
    assert bpe_encode("low", ranks) == ["low"]
    # multi-symbol chain in proper order
    assert bpe_encode("table", ranks) == ["table"]
    assert bpe_encode("value", ranks) == ["value"]
    # min-rank choice: 'data' has (d,a) r8 and (t,a) r2 — (t,a) first
    assert bpe_encode("data", ranks) == ["da", "ta"]
    # no applicable merge → characters
    assert bpe_encode("fq", ranks) == ["f", "q"]
    assert bpe_encode("x", ranks) == ["x"]
    assert bpe_encode("", ranks) == []


def test_bpe_encode_merges_all_occurrences_leftmost():
    """One merge step consumes every occurrence, scanning left to right
    and resuming after each merge (the GPT-2 pass)."""
    ranks = {("a", "a"): 0}
    assert bpe_encode("aaaa", ranks) == ["aa", "aa"]
    assert bpe_encode("aaa", ranks) == ["aa", "a"]
    ranks2 = {("a", "a"): 0, ("aa", "aa"): 1}
    assert bpe_encode("aaaa", ranks2) == ["aaaa"]


def test_vocab_token_counts_mapinpandas(spark):
    df = spark.createDataFrame(
        [("slow",), ("table",), ("fq",)], "word string"
    )
    got = {r.word: (r.n_tokens, r.tokens)
           for r in vocab_token_counts(df).collect()}
    assert got == {
        "slow": (1, "slow"),
        "table": (1, "table"),
        "fq": (2, "f|q"),
    }


def test_doc_token_counts_exact(spark):
    docs = spark.createDataFrame(
        [(1, "slow table"), (2, "fq fq slow")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_words, r.n_tokens)
           for r in doc_token_counts(docs).collect()}
    assert got == {1: (2, 2), 2: (3, 5)}


def test_bpe_budget_recompute(r8_results):
    """Recompute the per-source budget rollup from the per-word Python
    encoder — independent of both the Spark plan and the oracle CTE."""
    ranks = merge_ranks(DEFAULT_MERGES)
    docs = r8_results["docs"]
    per_source: dict = {}
    for r in docs:
        words = r.text.lower().split(" ")
        n_tokens = sum(len(bpe_encode(w, ranks)) for w in words)
        s = per_source.setdefault(
            r.source, {"docs": 0, "words": 0, "tokens": 0, "chunks": 0}
        )
        s["docs"] += 1
        s["words"] += len(words)
        s["tokens"] += n_tokens
        s["chunks"] += (n_tokens + 63) // 64
    got = {r.source: r for r in r8_results["bpe_tokenize_budget"]}
    assert set(got) == set(per_source)
    for src, s in per_source.items():
        g = got[src]
        assert (g.n_docs, g.words_total, g.tokens_total, g.chunks_64_total) == (
            s["docs"], s["words"], s["tokens"], s["chunks"]
        )
        assert g.tokens_per_word_micro == s["tokens"] * 1000000 // s["words"]


def test_bpe_vocab_encodings_certifies_symbols(r8_results):
    ranks = merge_ranks(DEFAULT_MERGES)
    rows = r8_results["bpe_vocab_encodings"]
    assert rows
    for r in rows:
        enc = bpe_encode(r.word, ranks)
        assert r.tokens == "|".join(enc) and r.n_tokens == len(enc)
    # the out-of-order rank-1 witness is present in the corpus
    by_word = {r.word: r.tokens for r in rows}
    if "slow" in by_word:
        assert by_word["slow"] == "slow"


def test_bpe_corpus_flows_jvm_side(spark, sf_dir):
    """Scale posture: the only Python node is the Arrow-batched encoder
    over the DISTINCT vocabulary — the corpus-side explode/join/agg is
    JVM codegen (no BatchEvalPython anywhere)."""
    plan = _q("bpe_tokenize_budget")(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 1


def test_pii_redaction_recompute(r8_results):
    """Recompute detection counts + the redaction digest in pure Python
    regex — independent of both engines."""
    import hashlib
    import re

    from kinesis_log_watcher_spark.queries.round8 import (
        _PII_EMAIL,
        _PII_IPV4,
        _PII_PHONE,
    )

    docs = r8_results["docs"]
    per_source: dict = {}
    for r in docs:
        t = r.text
        if r.doc_id % 3 == 0:
            t += f" contact user{r.doc_id}@example.com"
        if r.doc_id % 5 == 0:
            t += f" from 10.{r.doc_id % 256}.0.{r.doc_id % 100}"
        if r.doc_id % 7 == 0:
            t += f" call 555-{1000 + r.doc_id % 9000}"
        ne = len(re.findall(_PII_EMAIL, t))
        ni = len(re.findall(_PII_IPV4, t))
        np_ = len(re.findall(_PII_PHONE, t))
        red = re.sub(_PII_PHONE, "<PHONE>",
                     re.sub(_PII_IPV4, "<IP>",
                            re.sub(_PII_EMAIL, "<EMAIL>", t)))
        dig = int(hashlib.md5(red.encode()).hexdigest()[:13], 16)
        s = per_source.setdefault(
            r.source,
            {"docs": 0, "pii": 0, "e": 0, "i": 0, "p": 0, "d": 0},
        )
        s["docs"] += 1
        s["pii"] += 1 if ne + ni + np_ else 0
        s["e"] += ne
        s["i"] += ni
        s["p"] += np_
        s["d"] += dig
    got = {r.source: r for r in r8_results["pii_redaction_audit"]}
    assert set(got) == set(per_source)
    for src, s in per_source.items():
        g = got[src]
        assert (g.n_docs, g.docs_with_pii, g.emails_total, g.ips_total,
                g.phones_total, g.redacted_digest) == (
            s["docs"], s["pii"], s["e"], s["i"], s["p"], s["d"])
    # the synthesizer actually planted PII (non-degenerate test)
    assert sum(s["e"] for s in per_source.values()) > 0
    assert sum(s["i"] for s in per_source.values()) > 0
    assert sum(s["p"] for s in per_source.values()) > 0


def test_sequence_packing_recompute(r8_results):
    """Recompute bucketed packing from per-doc Python BPE counts."""
    from kinesis_log_watcher_spark.queries.round8 import (
        _PACK_BUCKET,
        _PACK_SEQ,
    )

    ranks = merge_ranks(DEFAULT_MERGES)
    docs = r8_results["docs"]
    buckets: dict = {}
    for r in sorted(docs, key=lambda r: r.doc_id):
        n = sum(len(bpe_encode(w, ranks)) for w in r.text.lower().split(" "))
        buckets.setdefault(r.doc_id // _PACK_BUCKET, []).append(n)
    n_docs = tokens_total = seqs_total = crossing = 0
    for toks in buckets.values():
        cum = 0
        for n in toks:
            start, cum = cum, cum + n
            if start // _PACK_SEQ != (cum - 1) // _PACK_SEQ:
                crossing += 1
        n_docs += len(toks)
        tokens_total += cum
        seqs_total += (cum + _PACK_SEQ - 1) // _PACK_SEQ
    g = r8_results["sequence_packing_stats"][0]
    assert (g.n_buckets, g.n_docs, g.tokens_total, g.seqs_total,
            g.waste_total, g.docs_crossing) == (
        len(buckets), n_docs, tokens_total, seqs_total,
        seqs_total * _PACK_SEQ - tokens_total, crossing)
    assert g.fill_micro == tokens_total * 1000000 // (seqs_total * _PACK_SEQ)


def test_token_coverage_monotone_and_complete(r8_results):
    rows = sorted(r8_results["bpe_token_vocab_coverage"], key=lambda r: r.rank)
    assert rows[-1].coverage_micro == 1000000  # full corpus covered
    occs = [r.occurrences for r in rows]
    assert occs == sorted(occs, reverse=True)
    covs = [r.coverage_micro for r in rows]
    assert covs == sorted(covs)
    # token domain is bounded: alphabet + at most one symbol per merge
    alphabet = {c for r in rows for c in r.token}
    assert len(rows) <= len(alphabet) + len(DEFAULT_MERGES)


def test_token_budget_prefix_recompute(r8_results, spark, sf_dir):
    """Recompute the prefix-admission rule in Python off the same BPE
    counts; the streaming fold must match exactly."""
    from kinesis_log_watcher_spark.streaming.tokenbudget import (
        TOKEN_BUDGET,
        run_token_budget_admission,
    )

    ranks = merge_ranks(DEFAULT_MERGES)
    per_source: dict = {}
    for r in sorted(r8_results["docs"], key=lambda r: r.doc_id):
        n = sum(len(bpe_encode(w, ranks)) for w in r.text.lower().split(" "))
        s = per_source.setdefault(
            r.source, {"docs": 0, "adm": 0, "tok": 0, "adm_tok": 0}
        )
        s["docs"] += 1
        s["tok"] += n
        if s["tok"] <= TOKEN_BUDGET:
            s["adm"] += 1
            s["adm_tok"] = s["tok"]
    got = {
        r.source: r
        for r in run_token_budget_admission(
            spark, f"{sf_dir}/documents.parquet"
        ).collect()
    }
    assert set(got) == set(per_source)
    for src, s in per_source.items():
        g = got[src]
        assert (g.n_docs, g.n_admitted, g.tokens_total, g.tokens_admitted) == (
            s["docs"], s["adm"], s["tok"], s["adm_tok"])
    # the budget actually bites somewhere (non-degenerate scenario)
    assert any(s["adm"] < s["docs"] for s in per_source.values())


def test_token_budget_split_and_twin_equal(spark, sf_dir):
    """Any micro-batch split converges to the same admission (state
    carries the running totals)."""
    from pyspark.sql import functions as F

    from conftest import replay_parallel
    from kinesis_log_watcher_spark.queries.base import load
    from kinesis_log_watcher_spark.sources.files import stage_replay_files
    from kinesis_log_watcher_spark.streaming.tokenbudget import (
        run_token_budget_admission,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # three mtime-ordered files split by doc_id range (the determinism
    # contract: file order == doc_id order)
    doc_id = F.col("doc_id")
    part = (
        F.when((doc_id >= 0) & (doc_id < 150), 0)
        .when((doc_id >= 150) & (doc_id < 300), 1)
        .when((doc_id >= 300) & (doc_id < 10**9), 2)
    )
    d = stage_replay_files(
        docs.withColumn("part", part), "part", 3, prefix="t_tokbudget_"
    )

    def rows(df):
        return {
            (r.source, r.n_docs, r.n_admitted, r.tokens_total,
             r.tokens_admitted)
            for r in df.collect()
        }

    split, single = replay_parallel(
        lambda: rows(
            run_token_budget_admission(spark, d, max_files_per_trigger=1)
        ),
        lambda: rows(run_token_budget_admission(spark, d)),
    )
    assert split == single


def test_holt_forecast_recompute(spark, sf_dir):
    """Recompute the Holt recurrence in Python with TRUNCATING division
    (both engines truncate toward zero; Python // floors — mirrored
    explicitly, the r7 STL discipline)."""
    from kinesis_log_watcher_spark.queries.base import load
    from kinesis_log_watcher_spark.queries.round8 import (
        _HOLT_ALPHA,
        _HOLT_GAMMA,
    )

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    orders = load(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    ).collect()
    weekly: dict = {}
    for r in orders:
        wk = (r.o_orderdate.date() - __import__("datetime").date(1970, 1, 1)).days // 7
        weekly[wk] = weekly.get(wk, 0) + int(round(float(r.o_totalprice) * 100))
    seq = sorted(weekly.items())
    level, trend = seq[0][1], 0
    want = {}
    M6 = 10**6
    for wk, cents in seq[1:]:
        forecast = level + trend
        new_level = tdiv(_HOLT_ALPHA * cents + (M6 - _HOLT_ALPHA) * (level + trend), M6)
        trend = tdiv(_HOLT_GAMMA * (new_level - level) + (M6 - _HOLT_GAMMA) * trend, M6)
        level = new_level
        want[wk] = (cents, forecast, abs(cents - forecast))
    got = {
        r.week: (r.actual_cents, r.forecast_cents, r.abs_err_cents)
        for r in _q("weekly_revenue_holt_forecast")(spark, sf_dir).collect()
    }
    assert got == want and len(got) >= 50


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark div / DuckDB //)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_annotator_agreement_kappa_recompute(r8_results):
    """Exact Python recompute of all four kappa rows, including the
    signed truncating division on the near-complementary a|b pair."""
    labels = []
    for r in r8_results["docs"]:
        words = r.text.split(" ")
        a = 1 if len(words) >= 48 else 0
        b = 1 if 2 * len(set(r.text.lower().split(" "))) >= len(words) else 0
        c = 1 if r.n_chars >= 280 else 0
        labels.append((a, b, c))
    n = len(labels)
    want = {}
    for tag, i, j in (("cohen:a_b", 0, 1), ("cohen:a_c", 0, 2),
                      ("cohen:b_c", 1, 2)):
        sx = sum(l[i] for l in labels)
        sy = sum(l[j] for l in labels)
        agree = sum(1 for l in labels if l[i] == l[j])
        pesum = sx * sy + (n - sx) * (n - sy)
        kappa = (None if n * n == pesum
                 else _tdiv((n * agree - pesum) * 10**6, n * n - pesum))
        want[tag] = (n, _tdiv(agree * 10**6, n),
                     _tdiv(pesum * 10**6, n * n), kappa)
    s3 = sum(sum(l) for l in labels)
    pnum = sum((sum(l)) ** 2 + (3 - sum(l)) ** 2 - 3 for l in labels)
    enum_ = s3 * s3 + (3 * n - s3) ** 2
    want["fleiss:abc"] = (
        n,
        _tdiv(pnum * 10**6, 6 * n),
        _tdiv(enum_ * 10**6, 9 * n * n),
        None if 9 * n * n == enum_
        else _tdiv((3 * n * pnum - 2 * enum_) * 10**6,
                   2 * (9 * n * n - enum_)),
    )
    got = {
        r.pair: (r.n_items, r.obs_micro, r.exp_micro, r.kappa_micro)
        for r in r8_results["annotator_agreement_kappa"]
    }
    assert got == want
    # the lexical-diversity rater disagrees with the length raters by
    # construction on this corpus — the signed path is really exercised
    assert got["cohen:a_b"][3] < 0 and got["cohen:a_c"][3] > 0


def test_golden_record_survivorship_recompute(r8_results):
    """Field-wise survivorship recomputed in Python: longest-text
    survivor (tie min doc_id), per-field mode (tie lexicographic),
    earliest id, total mass; only groups of >= 2."""
    import hashlib
    from collections import Counter, defaultdict

    groups = defaultdict(list)
    for r in r8_results["docs"]:
        head = " ".join(r.text.lower().split(" ")[:8])
        fp = hashlib.md5(head.encode()).hexdigest()
        groups[fp].append(r)
    want = {}
    for fp, rows in groups.items():
        if len(rows) < 2:
            continue
        sv = min(rows, key=lambda r: (-r.n_chars, r.doc_id))
        lmode = min(Counter(r.lang for r in rows).items(),
                    key=lambda kv: (-kv[1], kv[0]))[0]
        smode = min(Counter(r.source for r in rows).items(),
                    key=lambda kv: (-kv[1], kv[0]))[0]
        want[fp] = (len(rows), sv.doc_id, sv.n_chars, lmode, smode,
                    min(r.doc_id for r in rows),
                    sum(r.n_chars for r in rows))
    got = {
        r.head_fp: (r.group_size, r.survivor_doc_id, r.survivor_chars,
                    r.mode_lang, r.mode_source, r.first_doc_id,
                    r.total_chars)
        for r in r8_results["golden_record_survivorship"]
    }
    assert got == want and len(got) >= 5
    assert all(v[0] >= 2 for v in got.values())


def test_chi_square_independence_recompute(r8_results):
    """chi2 = n*(sum O^2/(r*c) - 1) recomputed with the same per-cell
    nano quantization; dof/V^2 pinned."""
    from collections import Counter

    cells = Counter((r.lang, r.source) for r in r8_results["docs"])
    rmarg = Counter(r.lang for r in r8_results["docs"])
    cmarg = Counter(r.source for r in r8_results["docs"])
    n = sum(cells.values())
    sum_nano = sum(
        _tdiv(o * o * 10**9, rmarg[lg] * cmarg[src])
        for (lg, src), o in cells.items()
    )
    nr, nc = len(rmarg), len(cmarg)
    want = (
        n,
        (nr - 1) * (nc - 1),
        _tdiv(n * (sum_nano - 10**9), 1000),
        _tdiv(sum_nano - 10**9, (min(nr, nc) - 1) * 1000)
        if min(nr, nc) > 1 else None,
    )
    [row] = r8_results["chi_square_independence"]
    assert (row.n_docs, row.dof, row.chi2_micro, row.cramers_v2_micro) == want
    # chi2 should hover near dof for this independent synthetic mix
    assert 0 < row.chi2_micro < 10 * row.dof * 10**6


def test_ddsketch_bounds_certify_and_merge(spark, sf_dir):
    """The sketch's guarantee, proven on real data: the exact ceil-rank
    quantile lies inside every reported [lo,hi]; bucket width <= 12.5%
    relative; and the sketch merges — bucketing each half of the data
    separately and summing counts equals the one-pass sketch."""
    from kinesis_log_watcher_spark.queries.base import load

    rows = _q("ddsketch_quantile_bounds")(spark, sf_dir).collect()
    assert {r.q for r in rows} == {50, 90, 95, 99}
    cents = sorted(
        r.c
        for r in load(spark, sf_dir, "lineitem")
        .filter("l_extendedprice > 0")
        .selectExpr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c")
        .collect()
    )
    assert rows[0].n_rows == len(cents)

    def bucket(v: int) -> int:
        if v < 8:
            return v
        e = v.bit_length() - 1
        return 8 * e + ((v >> (e - 3)) & 7)

    for r in rows:
        exact = cents[r.target_rank - 1]
        assert r.lo_bound <= exact <= r.hi_bound
        assert bucket(exact) == r.bucket_idx
        # relative width of the certificate interval
        assert (r.hi_bound - r.lo_bound) <= r.lo_bound / 8 + 1
    # mergeability: per-half histograms summed == whole histogram
    from collections import Counter

    half = len(cents) // 2
    merged = Counter(map(bucket, cents[:half])) + Counter(
        map(bucket, cents[half:])
    )
    assert merged == Counter(map(bucket, cents))


def test_isotonic_pav_exact_fraction_recompute(spark, sf_dir):
    """The minimax micro fit must equal floor(1e6 * exact PAV) — run
    the classic stack-based pool-adjacent-violators with exact
    fractions in Python and compare; isotonicity pinned."""
    from fractions import Fraction

    from kinesis_log_watcher_spark.queries.base import load

    rows = sorted(
        (r.bucket, r.n, r.pos, r.raw_micro, r.fitted_micro)
        for r in _q("isotonic_calibration_pav")(spark, sf_dir).collect()
    )
    docs = load(spark, sf_dir, "documents").select("n_chars", "text").collect()
    agg: dict = {}
    for d in docs:
        words = d.text.split(" ")
        lbl = 1 if 2 * len(set(d.text.lower().split(" "))) < len(words) else 0
        b = min(31, d.n_chars // 18)
        n, p = agg.get(b, (0, 0))
        agg[b] = (n + 1, p + lbl)
    assert {(b, n, p) for b, (n, p) in agg.items()} == {
        (b, n, p) for b, n, p, _, _ in rows
    }
    # exact PAV: pool stack of (n, pos); merge while means decrease
    stack: list = []
    for b in sorted(agg):
        n, p = agg[b]
        cur = [n, p, [b]]
        while stack and Fraction(stack[-1][1], stack[-1][0]) >= Fraction(
            cur[1], cur[0]
        ):
            prev = stack.pop()
            cur = [prev[0] + cur[0], prev[1] + cur[1], prev[2] + cur[2]]
        stack.append(cur)
    want = {}
    for n, p, bs in stack:
        for b in bs:
            want[b] = (p * 10**6) // n
    got = {b: f for b, _, _, _, f in rows}
    assert got == want
    fits = [f for _, _, _, _, f in rows]
    assert all(a <= b for a, b in zip(fits, fits[1:]))
    assert len(set(fits)) >= 3  # a real staircase, not one global pool


def test_bradley_terry_mm_recompute(spark, sf_dir):
    """Recompute the two MM iterations in exact Python integer
    arithmetic from raw lineitem rows; also sanity-pin that strengths
    order by quality, not just win counts."""
    from collections import defaultdict

    from kinesis_log_watcher_spark.queries.base import load
    from kinesis_log_watcher_spark.queries.round8 import _BT_SCALE

    rows = {r.suppkey: r for r in
            _q("bradley_terry_strengths")(spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey AS k", "l_suppkey AS s",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c",
    ).collect()
    rev: dict = defaultdict(int)
    for r in li:
        rev[(r.k, r.s)] += r.c
    byorder: dict = defaultdict(list)
    for (k, s), c in rev.items():
        byorder[k].append((s, c))
    n: dict = defaultdict(int)
    wins: dict = defaultdict(int)
    for k, ss in byorder.items():
        ss.sort()
        for x in range(len(ss)):
            for y in range(x + 1, len(ss)):
                (si, ci), (sj, cj) = ss[x], ss[y]
                n[(si, sj)] += 1
                n[(sj, si)] += 1
                if ci >= cj:
                    wins[(si, sj)] = wins.get((si, sj), 0) + 1
                else:
                    wins[(sj, si)] = wins.get((sj, si), 0) + 1
    players = sorted({i for i, _ in n})
    W = {i: sum(wins.get((i, j), 0) for j in players) for i in players}
    G = {i: sum(n.get((i, j), 0) for j in players) for i in players}
    w = {i: 10**6 for i in players}
    for _ in range(2):
        new = {}
        for i in players:
            denom = sum(
                (n[(i, j)] * _BT_SCALE) // (w[i] + w[j])
                for j in players if (i, j) in n
            )
            new[i] = (
                max(1, (W[i] * _BT_SCALE) // denom) if denom > 0 else 10**6
            )
        w = new
    top = sorted(players, key=lambda i: (-w[i], i))[:20]
    assert set(rows) == set(top)
    for rk, i in enumerate(top, start=1):
        r = rows[i]
        assert (r.strength_micro, r.rnk, r.games_total, r.wins_total) == (
            w[i], rk, G[i], W[i]
        )
    # strengths are a real fit: spread away from the 1e6 prior
    assert max(w.values()) > 10**6 > min(w.values())


def test_stream_ddsketch_any_split_equals_batch(spark):
    """Mergeability proven live: replaying the SAME rows one file per
    micro-batch vs all-at-once yields the identical sketch and
    quantiles (counting state is order-free)."""
    from conftest import replay_parallel
    from kinesis_log_watcher_spark.queries.round8 import (
        _dd_finalize,
        _dd_state,
    )
    from kinesis_log_watcher_spark.sources.files import (
        read_parquet_stream,
        run_replay,
        stage_replay_files,
    )

    batches = [
        [(1, 901.82), (2, 5302.0), (3, 104997.88)],
        [(4, 12.5), (5, 5302.0), (6, 77000.25)],
        [(7, 901.82), (8, 250000.0), (9, 33.0)],
    ]
    d = stage_replay_files(
        spark.createDataFrame(
            [(*r, i) for i, rows in enumerate(batches) for r in rows],
            "l_orderkey long, l_extendedprice double, part int",
        ),
        "part",
        len(batches),
        prefix="t_dd_",
    )

    def run(split):
        stream = read_parquet_stream(spark, d, max_files_per_trigger=split)
        sink = run_replay(_dd_state(stream), "complete", f"t_dd_{split}")
        return sorted(tuple(r) for r in _dd_finalize(sink).collect())

    r1, rall = replay_parallel(lambda: run(1), lambda: run(None))
    assert r1 == rall and len(r1) == 4
    # every certified interval contains its exact quantile
    cents = sorted(
        int(p * 100 + 0.5) for b in batches for _, p in b
    )
    for qq, n, tr, bi, lo, hi in r1:
        assert n == len(cents) and lo <= cents[tr - 1] <= hi


def test_changepoint_binseg_recompute(spark, sf_dir):
    """Recompute the nano-quantized binary-segmentation objective in
    Python from raw orders and pin the argmax row; also check the
    chosen split actually separates the means."""
    from collections import defaultdict

    from kinesis_log_watcher_spark.queries.base import load

    [got] = _q("changepoint_binary_segmentation")(spark, sf_dir).collect()
    orders = load(spark, sf_dir, "orders").selectExpr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        " AS BIGINT) AS dd",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c",
    ).collect()
    daily: dict = defaultdict(int)
    for r in orders:
        daily[r.dd] += r.c
    days = sorted(daily)
    d = len(days)
    st = sum(daily.values())
    cs = 0
    best = None
    for s, dd in enumerate(days[:-1], start=1):
        cs += daily[dd]
        p = cs * 10**9 // st
        gain = (p * p * (d - s) + (10**9 - p) ** 2 * s) // (s * (d - s))
        key = (-gain, dd)
        if best is None or key < best[0]:
            best = (key, s, cs, dd, gain)
    _, s, cs, dd, gain = best
    assert (got.n_days, got.split_dd, got.left_days, got.right_days) == (
        d, dd, s, d - s
    )
    assert (got.left_mean_cents, got.right_mean_cents, got.gain_nano) == (
        cs // s, (st - cs) // (d - s), gain
    )
    assert got.left_mean_cents != got.right_mean_cents


def test_register_rejects_duplicate_names():
    """A second registration under an existing name would silently
    shadow the first (last import wins) while its oracle rows kept
    passing — register() must refuse."""
    from kinesis_log_watcher_spark.queries.base import register, registry

    registry()  # ensure all modules are imported

    with pytest.raises(ValueError, match="duplicate query registration"):
        @register("dedup_exact", "SELECT 1 AS x")
        def dedup_exact(spark, sf_dir):  # pragma: no cover
            raise AssertionError("never called")


def test_positional_dv_recompute_and_physical_positions(spark, sf_dir):
    """Recompute the DV read in Python from physical row order AND pin
    that Spark's _metadata.row_index equals the doc_id rank (the
    clustering certificate the oracle relies on)."""
    import hashlib
    from collections import defaultdict

    pos_rows = sorted(
        (r.pos, r.doc_id, r.source, r.n_chars)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr(
            "_metadata.row_index AS pos", "doc_id", "source", "n_chars"
        )
        .collect()
    )
    by_docid = sorted(pos_rows, key=lambda t: t[1])
    assert [t[0] for t in by_docid] == list(range(len(pos_rows)))

    want: dict = defaultdict(lambda: [0, 0])
    for pos, _, source, n_chars in pos_rows:
        h = int(hashlib.md5(f"dv:{pos}".encode()).hexdigest()[:15], 16)
        if h % 10 == 0:
            continue  # deleted
        want[source][0] += 1
        want[source][1] += n_chars
    got = {
        r.source: [r.n_surviving, r.surviving_chars]
        for r in _q("positional_delete_vector_read")(spark, sf_dir).collect()
    }
    assert got == dict(want)
    # the DV really deleted something (non-degenerate)
    assert sum(v[0] for v in got.values()) < len(pos_rows)


def test_padding_waste_recompute_and_sorting_wins(r8_results, spark, sf_dir):
    """Python recompute of both batch compositions; length-sorting must
    strictly reduce padding waste on this corpus."""
    docs = sorted((r.doc_id, len(r.text.split(" "))) for r in r8_results["docs"])

    def waste(lengths):
        padded = real = 0
        for i in range(0, len(lengths), 16):
            b = lengths[i:i + 16]
            padded += max(b) * len(b)
            real += sum(b)
        return padded, real

    arrival = [wc for _, wc in docs]
    slens = [wc for wc, _ in sorted((wc, did) for did, wc in docs)]
    pa, ra = waste(arrival)
    ps, rs = waste(slens)
    got = {
        r.strategy: (r.n_batches, r.tokens_real, r.tokens_padded,
                     r.waste_milli)
        for r in _q("inference_batch_padding_waste")(spark, sf_dir).collect()
    }
    nb = (len(docs) + 15) // 16
    assert got["arrival"] == (nb, ra, pa, (pa - ra) * 1000 // pa)
    assert got["length_sorted"] == (nb, rs, ps, (ps - rs) * 1000 // ps)
    assert got["length_sorted"][3] < got["arrival"][3]


def test_prefix_cache_reuse_recompute(r8_results, spark, sf_dir):
    """Python recompute of the reuse ladder + monotonicity pins: deeper
    prefixes can only be rarer (distinct count rises with k until docs
    run out; hit rate never rises as k doubles)."""
    got = {
        r.k: (r.n_reqs, r.distinct_prefixes, r.saved_tokens,
              r.hit_rate_milli)
        for r in _q("prefix_cache_reuse_plan")(spark, sf_dir).collect()
    }
    for k in (1, 2, 4, 8, 16):
        toks = [r.text.lower().split(" ") for r in r8_results["docs"]]
        elig = [t for t in toks if len(t) >= k]
        distinct = len({" ".join(t[:k]) for t in elig})
        n = len(elig)
        assert got[k] == (
            n, distinct, k * (n - distinct), (n - distinct) * 1000 // n
        )
    hits = [got[k][3] for k in (1, 2, 4, 8, 16)]
    assert all(a >= b for a, b in zip(hits, hits[1:]))


def test_dd_bucket_bounds_property():
    """Hypothesis: for ANY positive int64, the bucket's [lo, hi] bounds
    contain the value and the interval is <= 12.5% relative width —
    the DDSketch guarantee holds over the whole domain, not just the
    corpus sample."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def bucket(v: int) -> int:
        if v < 8:
            return v
        e = v.bit_length() - 1
        return 8 * e + ((v >> (e - 3)) & 7)

    def bounds(idx: int) -> tuple[int, int]:
        if idx < 24:
            return idx, idx
        e, m = divmod(idx, 8)
        return (8 + m) << (e - 3), ((9 + m) << (e - 3)) - 1

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=1, max_value=2**62))
    def check(v):
        lo, hi = bounds(bucket(v))
        assert lo <= v <= hi
        assert (hi - lo) * 8 <= lo

    check()


def test_pav_minimax_identity_property():
    """Hypothesis: the minimax closed form max_{j<=i} min_{k>=i}
    mean(j..k) equals stack-based pool-adjacent-violators with exact
    fractions, and micro floor-quantization commutes — on random
    bucketed inputs, not just the corpus."""
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=50),   # n
                st.integers(min_value=0, max_value=50),  # pos (clamped)
            ),
            min_size=1,
            max_size=12,
        )
    )
    def check(buckets):
        buckets = [(n, min(p, n)) for n, p in buckets]
        # stack PAV, exact fractions
        stack = []
        for n, p in buckets:
            cur = [n, p, 1]
            while stack and Fraction(stack[-1][1], stack[-1][0]) >= Fraction(
                cur[1], cur[0]
            ):
                prev = stack.pop()
                cur = [prev[0] + cur[0], prev[1] + cur[1], prev[2] + cur[2]]
            stack.append(cur)
        pav = []
        for n, p, width in stack:
            pav.extend([Fraction(p, n)] * width)
        # minimax closed form
        B = len(buckets)
        pre_n = [0]
        pre_p = [0]
        for n, p in buckets:
            pre_n.append(pre_n[-1] + n)
            pre_p.append(pre_p[-1] + p)

        def mean(j, k):
            return Fraction(pre_p[k + 1] - pre_p[j], pre_n[k + 1] - pre_n[j])

        for i in range(B):
            mm = max(
                min(mean(j, k) for k in range(i, B)) for j in range(i + 1)
            )
            assert mm == pav[i]
            # floor-quantization commutes: micro minimax == floored PAV
            mm_micro = max(
                min(
                    (pre_p[k + 1] - pre_p[j]) * 10**6
                    // (pre_n[k + 1] - pre_n[j])
                    for k in range(i, B)
                )
                for j in range(i + 1)
            )
            assert mm_micro == (pav[i].numerator * 10**6) // pav[i].denominator

    check()


def test_curation_pipeline_e2e_recompute(r8_results, spark, sf_dir):
    """Replay the entire pipeline in Python — gate, canonical dedup,
    redaction (+ checksum), BPE tokenization of the REDACTED text,
    bucketed packing — and match every stage row."""
    import hashlib
    import re

    from kinesis_log_watcher_spark.queries.round8 import (
        _PII_EMAIL,
        _PII_IPV4,
        _PII_PHONE,
    )

    docs = sorted(r8_results["docs"], key=lambda r: r.doc_id)
    raw_n = len(docs)
    gated = [r for r in docs if len(r.text.split(" ")) >= 20]
    groups: dict = {}
    for r in gated:
        fp = " ".join(r.text.lower().split(" ")[:8])
        groups.setdefault(fp, []).append(r)
    canon = sorted(
        (min(rows, key=lambda r: (-r.n_chars, r.doc_id)) for rows in groups.values()),
        key=lambda r: r.doc_id,
    )
    checksum = 0
    per_doc = {}
    ranks = merge_ranks(DEFAULT_MERGES)
    for r in canon:
        t = r.text
        if r.doc_id % 3 == 0:
            t += f" contact user{r.doc_id}@example.com"
        if r.doc_id % 5 == 0:
            t += f" from 10.{r.doc_id % 256}.0.{r.doc_id % 100}"
        if r.doc_id % 7 == 0:
            t += f" call 555-{1000 + r.doc_id % 9000}"
        rt = re.sub(_PII_PHONE, "<PHONE>",
                    re.sub(_PII_IPV4, "<IP>",
                           re.sub(_PII_EMAIL, "<EMAIL>", t)))
        checksum += int(hashlib.md5(rt.encode()).hexdigest()[:13], 16)
        per_doc[r.doc_id] = sum(
            len(bpe_encode(w, ranks)) for w in rt.lower().split(" ")
        )
    buckets: dict = {}
    for did, nt in per_doc.items():
        buckets[did // 32] = buckets.get(did // 32, 0) + nt
    seqs = sum((t + 127) // 128 for t in buckets.values())
    waste = seqs * 128 - sum(buckets.values())
    want = {
        1: ("raw", raw_n, 0),
        2: ("quality_gate", len(gated), 0),
        3: ("dedup_canonical", len(canon), 0),
        4: ("pii_redacted", len(canon), checksum % 1000000007),
        5: ("tokenized", len(canon), sum(per_doc.values())),
        6: ("packed", seqs, waste),
    }
    got = {
        r.stage_order: (r.stage, r.n, r.metric)
        for r in _q("curation_pipeline_e2e")(spark, sf_dir).collect()
    }
    assert got == want
    # the pipeline actually trims at each trimming stage
    assert raw_n > len(gated) > len(canon) > 0
