"""Guards on the driver contract (__spark_entry__ + bench.py): these are
the interfaces the round harness consumes; breaking them silently would
void every other green test."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

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


def test_bench_prints_its_line_when_one_query_fails(tmp_path):
    # A query that raises is recorded as "failed" (left out of the
    # total) and the other queries keep their timings; the run still
    # prints its one line, then exits non-zero. The failing builder is
    # planted through a patched registry, and it is also the subset's
    # warm-up query.
    script = tmp_path / "run_bench.py"
    script.write_text(
        "import dataclasses, runpy, sys\n"
        "import kinesis_log_watcher_spark.queries as q\n"
        "real = q.registry\n"
        "def boom(spark, sf_dir):\n"
        "    raise RuntimeError('planted failure')\n"
        "def patched():\n"
        "    reg = dict(real())\n"
        "    reg['pricing_summary'] = dataclasses.replace(reg['pricing_summary'], fn=boom)\n"
        "    return reg\n"
        "q.registry = patched\n"
        "sys.argv = ['bench.py', '--only', 'pricing_summary,top_orders']\n"
        "runpy.run_path('bench.py', run_name='__main__')\n"
    )
    full_out = tmp_path / "bench_full.json"
    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_FULL_PATH=str(full_out),
        PYTHONPATH=root,
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, timeout=560, env=env, cwd=root,
    )
    assert out.returncode != 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, out.stderr[-2000:]
    for doc in (json.loads(lines[0]), json.loads(full_out.read_text())):
        assert doc["failed"] == {"pricing_summary": "RuntimeError: planted failure"}
        assert set(doc["queries"]) == {"top_orders"}
        assert doc["value"] == doc["queries"]["top_orders"] > 0


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


def test_render_kernel_json_parses_are_guarded():
    # Spark's JSON functions fail a non-object payload by throwing per
    # row; the render kernel reaches them only through the guarded
    # helpers in envelope.py, which skip the parse when the first
    # non-whitespace character cannot open the value. A bare call is a
    # parse site that brings the exception path back.
    import ast
    from pathlib import Path

    import kinesis_log_watcher_spark as pkg

    parses = {"from_json", "json_object_keys", "json_array_length"}
    helpers = {"guarded_from_json", "guarded_object_keys", "guarded_array_length"}
    root = Path(pkg.__file__).parent
    bare = []
    for name in ("template.py", "envelope.py"):
        tree = ast.parse((root / name).read_text())
        allowed = set()
        if name == "envelope.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name in helpers:
                    allowed |= {id(n) for n in ast.walk(fn)}
        bare += [
            f"{name}:{node.lineno} F.{node.func.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in parses
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and id(node) not in allowed
        ]
    assert not bare, bare


def test_temp_root_is_per_process(tmp_path_factory):
    """Without ``--basetemp``, each pytest process gets its own temp root
    on tmpfs (``conftest.pytest_configure``), so two runs on one machine
    never empty each other's directories."""
    import conftest

    if conftest._own_basetemp is None:
        pytest.skip("--basetemp was given, or /dev/shm is not writable")
    root = tmp_path_factory.getbasetemp()
    assert root == Path(conftest._own_basetemp)
    assert root.parent == Path("/dev/shm") and root.name.startswith("klw-pytest-")
    assert root.name != "klw-pytest-tmp"
