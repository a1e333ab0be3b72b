#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "total_query_seconds", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Timing protocol: one untimed warm-up pass of the first query (JVM/codegen
warm-up), then each query timed as a full `noop`-format write — every
stage AND every final projection expression executes on the executors
(under a bare .count() Catalyst prunes unevaluated projections, silently
under-timing render-heavy queries), with zero sink cost and no
driver-side collection.

Stdout hygiene: the driver parses stdout as one JSON line, but the JVM
(launched as a child sharing fd 1) writes its own banner lines to stdout.
So fd 1 is pointed at stderr for the whole Spark lifetime and restored
only for the final print.

Output-size contract: the driver captures only the LAST 2000 bytes of
stdout (BENCH_r04.json "tail" is exactly 2000 chars with "parsed": null —
the ~11 KB full-registry line got truncated mid-JSON). So the stdout line
is budgeted to <=1900 bytes: headline metric + the slowest queries that
fit (slowest-first, since those are what a perf reviewer audits), plus
"queries_omitted" and a pointer to BENCH_FULL_LOCAL.json, which always
carries every timed query and is committed to the repo each round.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: every registered query except the streaming replays
# (their micro-batch bootstrap cost is not a query-engine number; they
# are still correctness-gated via the registry).
SKIP = {
    "stream_windowed_counts",
    "stream_sessionization_stateful",
    "stream_session_windows",
    "stream_click_purchase_join",
    # stateful replay over ~20k tiny band buckets: the time is
    # micro-batch + per-group state machinery, not query-engine cost
    "stream_neardup_lsh",
    # outer-join replay: the time is the sentinel-finalization harness
    # (full dataset rewrite + 3 micro-batches of join state), not
    # query-engine cost; correctness-gated via the registry
    "stream_click_purchase_left_join",
    # same class: the late-data replay rewrites the dataset into the
    # 4-file staged order before any engine work runs
    "stream_late_data_accounting",
    # two full stream-query lifecycles (pre-split checkpoint, post-split
    # resume) + a filesystem checkpoint + parquet sink: the time is the
    # resume harness, not query-engine cost; the single-lifecycle
    # kinesis_sim_shard_split_scan twin stays timed
    "stream_kinesis_sim_split_resume",
    # same two-lifecycle resume harness, merge direction
    "stream_kinesis_sim_merge_resume",
}


def materialize(df) -> None:
    """Execute the full plan, final projections included, executor-side."""
    df.write.format("noop").mode("overwrite").save()


def timed_run(spark, query, sf_dir: str) -> float:
    """Seconds to build and materialize one query. Afterwards, failed or
    not, drops what it left behind, so every timing is cold-cache and
    late queries pay no accumulated memory pressure: the intermediates
    queries persist() for internal reuse, and the memory-sink tables of
    streaming replays (full result sets pinned on the JVM heap; ~25 of
    them over the full registry read r6's 1.7 s replays 8-22 s late)."""
    t0 = time.perf_counter()
    try:
        materialize(query.fn(spark, sf_dir))
        return round(time.perf_counter() - t0, 4)
    finally:
        spark.catalog.clearCache()
        for tbl in spark.catalog.listTables():
            if tbl.isTemporary:
                spark.catalog.dropTempView(tbl.name)


def failure_text(exc: BaseException) -> str:
    """``ExcType: first line of the message``, short enough for the
    stdout line (a py4j error's message carries a JVM stack trace)."""
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0] if lines else ''}"[:200]


def _cpu_ticks() -> dict[str, int]:
    """Aggregate /proc/stat cpu counters. ``steal`` is the direct
    hypervisor-contention signal loadavg cannot see (loadavg counts our
    own runnable threads, so a busy bench self-pollutes it); a large
    steal delta proves a slow run was the host's fault, not a plan
    regression."""
    try:
        parts = open("/proc/stat").readline().split()
        names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
        return {n: int(v) for n, v in zip(names, parts[1:9])}
    except Exception:  # noqa: BLE001 - non-Linux fallback
        return {}


def parse_args(argv: list[str]) -> "argparse.Namespace":
    """Strict CLI: UNKNOWN flags are an error, not a silent full run.

    The round-9 judge typed ``bench.py --subset a,b,c`` (not a real
    flag); the old arg handling ignored it, ran the FULL registry, and
    overwrote the committed BENCH_FULL_LOCAL.json comparator in the
    working tree. argparse's default unknown-argument error makes that
    class of typo fail fast instead."""
    import argparse

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument(
        "--commit",
        action="store_true",
        help="write the full-run archive to BENCH_FULL_LOCAL.json "
        "(the committed cross-round comparator). Without it a full "
        "run writes BENCH_FULL_LOCAL.candidate.json so ad-hoc and "
        "adjudication runs can never clobber the committed archive.",
    )
    p.add_argument(
        "--only",
        default="",
        metavar="a,b,c",
        help="restrict the timed set to these query names "
        "(same semantics as SPARK_GRAFT_BENCH_ONLY).",
    )
    return p.parse_args(argv)


# FIXED stdout headline set (round 12). The old stdout line showed
# this-run-slowest-N, so any distribution shift rotated ~20 queries out
# of the driver's 2000-byte tail view and its cross-round common-set
# comparison reported them "dropped" (PERF_r11: 19 phantom drops, all
# still registered and timed in the archive). The headline set is now
# FROZEN: the 34 queries in the round-11 stdout line plus the next 10
# biggest cost centers from the last steal-quiet committed archive
# (BENCH_FULL_LOCAL.json at 6cd0872, steal_s 4.2). Every headline query
# present in the run is kept in the stdout line on a best-effort basis
# under the 1900-byte budget, and any remaining byte budget is filled
# with this-run slowest extras. Listed in KEEP priority order: when the
# byte budget forces trimming, extras drop first, then rerun details,
# then the tail of this list — so under enough byte pressure the tail
# (the next-10 names, then r11 names) CAN rotate out. Measured: the
# 44-name line with no reruns and the archive's timings and host block
# is 1814 bytes; with every timing at 100+ s (7 chars) it is 1907 bytes
# and the last name drops.
HEADLINE = (
    # the 34 names in BENCH_r11.json's stdout line (never drop)
    "stream_ams_f2_sketch",
    "fuzzy_join_levenshtein",
    "kinesis_sim_shard_split_scan",
    "stream_timer_sessions",
    "template_render_line_variant",
    "dawid_skene_one_step",
    "bradley_terry_strengths",
    "fellegi_sunter_linkage",
    "t_closeness_audit",
    "daily_revenue_stl_decompose",
    "association_rules_lift",
    "ordered_funnel_completion",
    "multimodal_dhash_groups",
    "budgeted_coverage_greedy",
    "open_intervals_per_day_sweep",
    "bt_model_strength_ci",
    "stream_click_purchase_full_outer",
    "latest_state_compaction",
    "dedup_clusters",
    "bfs_reach_hops",
    "neardup_graph_2core",
    "bigram_collocation_chi2",
    "graph_anf_reach_kmv",
    "neardup_graph_triangles",
    "decontaminated_eval_certificate",
    "semantic_decontamination_embeddings",
    "minhash_prob_vs_exact_jaccard",
    "customer_rfm_hist_quantile",
    "robust_zscore_outliers_hist",
    "shingle_containment_pairs",
    "community_label_propagation",
    "huber_one_step_fit",
    "part_cooccurrence_topk",
    "pagerank_two_rounds",
    # next-10 cost centers from the steal-quiet archive (drop last)
    "greedy_set_cover_docs",
    "link_prediction_adamic_adar",
    "ppjoin_prefix_filter",
    "stream_rate_limit",
    "bootstrap_mean_ci",
    "tfidf_cosine_pairs",
    "dedup_minhash_lsh",
    "bigram_greedy_generation",
    "dedup_ngram_jaccard",
    "community_modularity",
)

# Queries sharing an iterative kernel run at ADJACENT registry
# positions (they live in the same module), so one hypervisor-steal
# burst inflates the whole family at once and cross-round comparison
# flags them together (BENCH_r09's false positive: the LPA trio at
# run positions 127-137 all read 1.4-2.5x under steal_s 168). Spread
# each family's members >=30 run slots apart so contention cannot
# correlate them; plans are unchanged, only run ORDER moves (the
# positions map in the archive records it).
FAMILY_SPREAD = (
    ("community_modularity",
     "neardup_graph_assortativity",
     "community_label_propagation"),
)
_SPREAD_SLOTS = 30


def spread_families(names: list[str]) -> list[str]:
    """Re-seat later members of each FAMILY_SPREAD family >=_SPREAD_SLOTS
    positions after the previous member. Deterministic, order-preserving
    for everything else."""
    for family in FAMILY_SPREAD:
        members = [n for n in family if n in names]
        if len(members) < 2:
            continue
        rest = [n for n in names if n not in members[1:]]
        out = list(rest)
        anchor = out.index(members[0])
        for i, m in enumerate(members[1:], start=1):
            pos = min(anchor + i * _SPREAD_SLOTS, len(out))
            out.insert(pos, m)
        names = out
    return names


def archive_name(subset_run: bool, commit: bool) -> str:
    """Which file a run's full-fidelity record goes to. Only an explicit
    --commit full run may touch the committed cross-round comparator."""
    if subset_run:
        return "BENCH_FULL_LOCAL.subset.json"
    if commit:
        return "BENCH_FULL_LOCAL.json"
    return "BENCH_FULL_LOCAL.candidate.json"


def load_prior(path: str, sf: float, cpus: int | None) -> dict[str, float]:
    """Per-query cold times of a prior archive, usable as the rerun
    comparator only when it ran at the same scale factor AND on the same
    CPU count (``host.cpus``, recorded as ``os.cpu_count()``): timings
    from a wider host read every query as a regression here. Empty when
    the archive is missing, unreadable or not comparable."""
    try:
        with open(path) as fh:
            doc = json.load(fh)
        if abs(float(doc.get("sf", -1)) - sf) >= 1e-9:
            return {}
        if doc.get("host", {}).get("cpus") != cpus:
            return {}
    except (OSError, ValueError):
        return {}
    return doc.get("queries", {})


def timed_names(reg, only: str) -> list[str]:
    """The queries to time, in registry order: every registered query
    outside ``SKIP``, or, for a non-empty ``only`` (``a,b,c``), exactly
    the named ones, ``SKIP`` members included, so a replay can be timed
    on purpose. Exits non-zero naming any name that is not registered."""
    if not only.strip():
        return [n for n in reg if n not in SKIP]
    keep = {s.strip() for s in only.split(",") if s.strip()}
    unknown = sorted(keep - set(reg))
    if unknown or not keep:
        sys.exit(f"bench.py: no registered queries match --only/"
                 f"SPARK_GRAFT_BENCH_ONLY names {unknown}")
    return [n for n in reg if n in keep]


def main() -> None:
    args = parse_args(sys.argv[1:])
    # Point fd 1 at stderr BEFORE the JVM launches so its stdout banners
    # ("Setting default log level...", Ivy, WARNs) can't pollute the one
    # JSON line the driver parses.
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)

    from kinesis_log_watcher_spark.queries import registry
    from kinesis_log_watcher_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    reg = registry()
    # Subset hook: --only a,b,c (or SPARK_GRAFT_BENCH_ONLY for contract
    # tests) restricts the timed set; the stdout/budget logic runs
    # unchanged. The driver passes neither, so per-round benches are
    # unaffected. Resolved BEFORE the JVM launches so a typo fails in
    # seconds, not after a full Spark bring-up.
    only = args.only or os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    subset_run = bool(only.strip())
    names = timed_names(reg, only)
    if not subset_run:
        names = spread_families(names)
    # A ~270-query marathon submits thousands of jobs through one JVM;
    # the Spark UI's live state store retains them all by default and
    # the resulting driver heap/GC pressure lands on whichever queries
    # run late (r6: randomly-placed 1.5s queries read 8-22s late in
    # full runs, normal in isolation). The bench needs no UI.
    spark = get_spark(
        app_name="klw-bench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.ui.retainedExecutions": "5",
            "spark.ui.retainedJobs": "50",
            "spark.ui.retainedStages": "50",
            "spark.ui.retainedTasks": "500",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Host-load telemetry: 1/5/15-min load averages before and after the
    # timed section plus wall timestamps, so a slow run can be machine-
    # attributed to concurrent host load instead of argued from ps
    # forensics after the fact (rounds 4-5 saw ±40% swings on identical
    # binaries).
    load_before = os.getloadavg()
    t_start = time.time()
    stat_before = _cpu_ticks()

    # warm-up (JVM JIT, codegen compiler, shuffle machinery, parquet
    # footer caches, Python worker pool): r8 showed a single warm-up
    # query is not enough — queries rotated to the cold front of the
    # run read 2-5x their prior-round numbers with UNCHANGED plans
    # (front-of-run JIT ramp landing on whichever queries rotate in),
    # and the one non-rebounding rerun triple on record
    # (stream_kinesis_sim_scan, BENCH_r08) was the Python DataSource
    # worker-spawn cost: 8.4s cold vs 2.4s warm on a quiet host (r9
    # standalone adjudication, steal_s 2.1). Warm one query per major
    # execution family — the first timed query's own plan shape, a
    # columnar scan+agg+window, a join-heavy plan, a text explode+agg,
    # and the Python-worker path — so the timed section starts hot
    # regardless of which queries the rotation put first.
    # Subset runs (contract tests, quick adjudications) warm only the
    # first query — the full five-family warm-up would dominate a
    # 3-query diagnostic run.
    warm_set = (
        (names[0],)
        if subset_run
        else (
            names[0],
            "pricing_summary",
            "top_supplier_revenue",
            "doc_quality_scores",
            "stream_kinesis_sim_scan",
        )
    )
    for warm in warm_set:
        if warm in reg:
            try:
                timed_run(spark, reg[warm], sf_dir)
            except Exception:  # noqa: BLE001 - every warm query is also timed, which records it
                pass

    # One query that raises must not lose the run's other timings: it
    # is recorded in ``failed``, left out of ``total``, and the run
    # still prints its line and then exits non-zero.
    timings: dict[str, float] = {}
    failed: dict[str, str] = {}
    for name in names:
        try:
            timings[name] = timed_run(spark, reg[name], sf_dir)
        except Exception as exc:  # noqa: BLE001 - recorded and reported below
            failed[name] = failure_text(exc)

    total = round(sum(timings.values()), 4)

    # Self-adjudicating variance check: any query whose cold time swung
    # >1.5x against the committed prior-round per-query archive is
    # re-run ONCE in the same JVM and both numbers are recorded. A
    # rerun back at the prior level is machine noise (r5/r6 saw roving
    # 2-3-query tails tracking hypervisor steal); a rerun that stays
    # high is a real regression — BENCH_rN now distinguishes the two
    # without a narrative. The cold time stays the official number.
    reruns: dict[str, dict[str, float]] = {}
    prior_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_LOCAL.json"
    )
    prior = load_prior(prior_path, sf, os.cpu_count())
    for name, cold in timings.items():
        p = prior.get(name)
        if p is None or cold < 1.0 or cold <= 1.5 * p:
            continue
        try:
            rerun = timed_run(spark, reg[name], sf_dir)
        except Exception as exc:  # noqa: BLE001 - recorded and reported below
            failed[name] = "rerun " + failure_text(exc)
            continue
        reruns[name] = {"prior": p, "cold": cold, "rerun": rerun}

    load_after = os.getloadavg()
    stat_after = _cpu_ticks()
    deltas = {
        k: stat_after[k] - stat_before[k] for k in stat_after if k in stat_before
    }
    telemetry = {
        "load_before": [round(x, 2) for x in load_before],
        "load_after": [round(x, 2) for x in load_after],
        "t_start": round(t_start, 1),
        "t_end": round(time.time(), 1),
        "cpus": os.cpu_count(),
        # tick deltas over the run (USER_HZ=100): steal_s is seconds of
        # CPU the hypervisor withheld across all vCPUs — the definitive
        # noisy-neighbor attribution (r6 saw identical binaries read
        # 373s vs 470s totals with medians at parity; the tail tracked
        # steal, not any plan change)
        "steal_s": round(deltas.get("steal", 0) / 100.0, 1),
        "busy_s": round(
            sum(deltas.get(k, 0) for k in ("user", "system", "nice")) / 100.0, 1
        ),
        "iowait_s": round(deltas.get("iowait", 0) / 100.0, 1),
    }

    # Full fidelity: every timed query, committed to the repo each round.
    # Overridable so harness/test runs don't clobber the committed
    # per-round record (a pytest contract run at sf0.001 used to).
    # SUBSET runs (--only / SPARK_GRAFT_BENCH_ONLY) never write the
    # committed archive implicitly: a 3-query sidecar silently replacing
    # the 400+-query round record destroys every self-adjudication
    # comparator — route subsets to a .subset sidecar unless the caller
    # named an explicit path. FULL runs are archive-safe too (r9
    # verdict item 2): only --commit writes BENCH_FULL_LOCAL.json; a
    # plain full run (driver per-round bench, judge adjudication)
    # writes a .candidate sidecar, so the committed comparator only
    # moves on an explicit round-close commit run.
    default_full = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        archive_name(subset_run, args.commit),
    )
    full_path = os.environ.get("SPARK_GRAFT_BENCH_FULL_PATH") or default_full
    with open(full_path, "w") as fh:
        json.dump(
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
                "failed": failed,
                "reruns": reruns,
                # run-order index per query, so a cross-round comparison
                # can tell a rotation-induced cold-front move from a
                # plan regression (the r5/r8 warm-up effect lands on
                # whichever queries run first)
                "positions": {n: i for i, n in enumerate(names)},
                "host": telemetry,
            },
            fh,
            indent=1,
        )

    # Stdout line: must survive a 2000-byte tail capture. The query set
    # shown is the FIXED headline set (see HEADLINE above) so the
    # driver's cross-round common-set comparison is stable; leftover
    # byte budget is filled with this-run slowest non-headline extras.
    # Trim order under pressure: extras first, then rerun detail, then
    # the tail of HEADLINE (priority-ordered; the r11-line names go
    # last, so they rotate out only under the heaviest byte pressure).
    headline_present = [n for n in HEADLINE if n in timings]
    extras = sorted(
        ((n, t) for n, t in timings.items() if n not in set(HEADLINE)),
        key=lambda kv: -kv[1],
    )
    candidates = headline_present + [n for n, _ in extras]
    ranked_reruns = sorted(
        reruns.items(),
        key=lambda kv: -kv[1]["cold"] / max(kv[1]["prior"], 1e-9),
    )
    BUDGET = 1900

    def render(k: int, n_reruns: int) -> str:
        shown = candidates[:k]
        return json.dumps(
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "queries": {n: timings[n] for n in sorted(shown)},
                "queries_omitted": len(timings) - len(shown),
                "queries_file": os.path.basename(full_path),
                "n_queries": len(timings),
                "failed": failed,
                "sf": sf,
                "headline_set": "r12",
                # biggest swings only — the full set is in the archive
                "reruns": dict(ranked_reruns[:n_reruns]),
                "reruns_omitted": max(0, len(reruns) - n_reruns),
                "host": telemetry,
            },
            separators=(",", ":"),
        )

    k, n_reruns = len(candidates), 3
    line = render(k, n_reruns)
    # 1) trim extras down to the headline set
    while k > len(headline_present) and len(line.encode()) > BUDGET:
        k -= 1
        line = render(k, n_reruns)
    # 2) trim rerun detail
    while n_reruns > 0 and len(line.encode()) > BUDGET:
        n_reruns -= 1
        line = render(k, n_reruns)
    # 3) last resort: trim the headline tail (priority order holds)
    while k > 0 and len(line.encode()) > BUDGET:
        k -= 1
        line = render(k, n_reruns)

    # Restore the real stdout for exactly one line.
    sys.stdout.flush()
    os.dup2(real_stdout, 1)
    print(line, flush=True)
    if failed:
        sys.exit(f"bench.py: {len(failed)} queries failed: {sorted(failed)}")


if __name__ == "__main__":
    main()
