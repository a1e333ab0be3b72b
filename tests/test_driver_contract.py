"""Guards on the driver contract (__spark_entry__ + bench.py): these are
the interfaces the round harness consumes; breaking them silently would
void every other green test."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as entrymod


def test_entry_contract_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(oracles) <= set(qs), "every oracle key must be a query"
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())
    # at most a handful of rows-only entries; the gate is oracle coverage
    rows_only = set(qs) - set(oracles)
    assert len(rows_only) <= 2, f"too many un-oracled queries: {rows_only}"


def test_bench_emits_single_json_line(tmp_path):
    # Contract under test: ONE parseable stdout line within the
    # driver's tail budget, plus the full-fidelity sidecar file. A
    # 12-query subset exercises the identical code path (warm-up,
    # noop-materialize timing, budget fill, sidecar write) without the
    # ~3-minute full-registry run; SPARK_GRAFT_BENCH_FULL_PATH keeps
    # the committed per-round BENCH_FULL_LOCAL.json untouched.
    # 5 queries keep the contract exercise (warm-up, timing, budget
    # fill, sidecar) while shaving ~20s off the subprocess JVM run; the
    # mix still spans a join, a groupBy, a dedup, and a sketch.
    # 3 queries: a scan+agg, a top-k, and a dedup still walk every
    # contract branch (warm-up, timing, budget fill, sidecar, reruns)
    subset = "pricing_summary,top_orders,dedup_exact"
    full_out = tmp_path / "bench_full.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_ONLY=subset,
        SPARK_GRAFT_BENCH_FULL_PATH=str(full_out),
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True, text=True, timeout=560, env=env,
        cwd=os.path.dirname(os.path.abspath(entrymod.__file__)),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, f"bench must print exactly one line, got {len(lines)}"
    assert len(lines[0]) <= 2000, "stdout line exceeds the driver tail budget"
    d = json.loads(lines[0])
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in d, key
    assert d["unit"] == "sec" and d["value"] > 0
    assert abs(d["sf"] - 0.001) < 1e-9
    assert d["n_queries"] == 3
    full = json.loads(full_out.read_text())
    assert set(full["queries"]) == set(subset.split(","))


def test_front_order_names_all_registered():
    # _FRONT is the static verification-priority prefix; a typo'd or
    # stale name would silently drop a query from first-pass sampling.
    from kinesis_log_watcher_spark.queries.base import _FRONT, registry

    reg = registry()
    missing = [n for n in _FRONT if n not in reg]
    assert not missing, f"_FRONT names not in registry: {missing}"
    assert len(set(_FRONT)) == len(_FRONT), "duplicate names in _FRONT"


# Every twin whose oracle is its batch twin's SQL: the stream twins,
# which run the batch twin's state builder, and the histogram swaps,
# which compute the same answer by another plan. Each pair registers one
# oracle constant; this table pins that the two registry entries still
# carry the same SQL.
_BATCH_TWIN_OF = {
    "stream_winrate_matrix": "winrate_matrix_models",
    "stream_ece_calibration": "ece_calibration_bins",
    "stream_mcnemar_paired": "mcnemar_paired_models",
    "stream_retrieval_coverage": "retrieval_candidate_coverage",
    "stream_semantic_cache_ttl": "semantic_cache_ttl_eval",
    "stream_srm_check": "ab_sample_ratio_mismatch",
    "stream_rejection_sampling": "rejection_sampling_efficiency",
    "stream_rebuild_cadence": "index_rebuild_cadence_cost",
    "stream_ddsketch_quantiles": "ddsketch_quantile_bounds",
    "stream_ams_f2_sketch": "ams_f2_sketch_estimate",
    "stream_hll_user_distinct": "hll_user_distinct",
    "stream_neardup_lsh": "dedup_minhash_lsh",
    "stream_ivf_index_update": "ann_ivf_topk",
    "stream_cdc_upsert": "orders_upsert_totals",
    "stream_kinesis_sim_scan": "kinesis_sim_batch_scan",
    "stream_kinesis_sim_split_resume": "kinesis_sim_shard_split_scan",
    "stream_kinesis_sim_merge_resume": "kinesis_sim_shard_merge_scan",
    "robust_zscore_outliers_hist": "robust_zscore_outliers",
    "source_quantile_normalize_hist": "source_quantile_normalize",
}


def test_stream_twins_share_batch_oracle():
    oracles = entrymod.oracle_sql()
    for twin, batch in _BATCH_TWIN_OF.items():
        assert oracles[twin] == oracles[batch], (twin, batch)


def test_query_modules_do_not_read_the_registry():
    # A query module that reads _REGISTRY at import time depends on
    # which other query modules were imported before it; shared oracle
    # SQL goes through module constants instead.
    from pathlib import Path

    import kinesis_log_watcher_spark.queries as queries

    readers = [
        p.name
        for p in sorted(Path(queries.__file__).parent.glob("*.py"))
        if p.name != "base.py" and "_REGISTRY" in p.read_text()
    ]
    assert not readers, readers


def test_readers_own_session_confs_and_ts_normalization():
    # The parquet readers in sources/files.py (and the kinesis_sim
    # registration) apply the session confs and normalize `ts`; a query
    # module (queries/base.load included) or replay runner that repeats
    # either is a second input path.
    from pathlib import Path

    import kinesis_log_watcher_spark as pkg

    root = Path(pkg.__file__).parent
    callers = [
        f"{p.parent.name}/{p.name}"
        for d in ("streaming", "queries")
        for p in sorted((root / d).glob("*.py"))
        if any(
            call in p.read_text()
            for call in ("ensure_session_confs(", "normalize_ts_cols(")
        )
    ]
    assert not callers, callers
