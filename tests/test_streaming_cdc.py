"""Streaming CDC delta sink semantics (merge-on-read, idempotent
batches) and streaming-HLL register convergence."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from kinesis_log_watcher_spark.streaming.cdc import resolve_latest, run_cdc_upsert


def _stage_file(spark, tmp_path, dest_dir, name, df, mtime):
    stage = tmp_path / f"_stage_{name}"
    df.coalesce(1).write.parquet(str(stage))
    (part,) = glob.glob(str(stage / "part-*.parquet"))
    dest = dest_dir / f"{name}.parquet"
    shutil.copy(part, dest)
    os.utime(dest, (mtime, mtime))
    shutil.rmtree(stage)


import pytest


@pytest.fixture(scope="module")
def cdc_results(spark, tmp_path_factory):
    """The module's two bounded replays (CDC upsert, streaming HLL at
    two splits) staged once and launched in ONE replay_parallel burst
    (the r8 suite-speed shape); batch-only tests below stay inline."""
    from concurrent.futures import ThreadPoolExecutor

    from conftest import replay_parallel
    from kinesis_log_watcher_spark.operators.sketch import hll_estimate
    from kinesis_log_watcher_spark.queries.llm import _hll_state
    from kinesis_log_watcher_spark.sources.files import (
        read_parquet_stream,
        run_replay,
    )

    tmp_path = tmp_path_factory.mktemp("cdc")
    changes = tmp_path / "changes"
    changes.mkdir()
    ev = tmp_path / "ev"
    ev.mkdir()
    mkc = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, val string, version long"
    )
    mke = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "user_id long, event_type string"
    )
    stages = [
        # batch 0: keys 1..3 at v0; batch 1: key 2 updated, key 4 inserted
        (changes, "c0", mkc([(1, "a", 0), (2, "b", 0), (3, "c", 0)]),
         1_700_000_000),
        (changes, "c1", mkc([(2, "B", 1), (4, "d", 0)]), 1_700_000_010),
        (ev, "e0", mke([(i, "click") for i in range(40)]
                       + [(i, "view") for i in range(10)]), 1_700_000_000),
        (ev, "e1", mke([(i, "click") for i in range(20, 60)]
                       + [(i, "view") for i in range(5, 15)]), 1_700_000_010),
    ]
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(lambda a: _stage_file(spark, tmp_path, *a), stages))

    def streaming_hll(max_files_per_trigger=None):
        # the registry twin's register builder (stream_hll_user_distinct)
        stream = read_parquet_stream(
            spark, str(ev), max_files_per_trigger=max_files_per_trigger
        )
        sink = run_replay(_hll_state(stream), "complete", "stream_hll")
        return hll_estimate(sink, group_cols=("event_type",), p=4)

    upsert, est, est_single = replay_parallel(
        lambda: run_cdc_upsert(
            spark, str(changes), str(tmp_path / "target"),
            key_cols=("k",), version_col="version",
        ).collect(),
        lambda: streaming_hll(max_files_per_trigger=1).collect(),
        lambda: streaming_hll().collect(),
    )
    return {
        "upsert": upsert,
        "hll_split": est,
        "hll_single": est_single,
        "target": str(tmp_path / "target"),
        "ev": str(ev),
    }


def test_cdc_latest_version_wins_across_batches(cdc_results):
    rows = {(r.k, r.val, r.version) for r in cdc_results["upsert"]}
    assert rows == {(1, "a", 0), (2, "B", 1), (3, "c", 0), (4, "d", 0)}
    # one delta dir per micro-batch landed
    assert sorted(
        d for d in os.listdir(cdc_results["target"]) if d.startswith("batch=")
    ) == ["batch=0", "batch=1"]


def test_cdc_delta_dirs_are_idempotent(spark, tmp_path):
    """Re-landing a batch id overwrites its own directory — the retry
    path cannot duplicate rows."""
    target = tmp_path / "t2"
    df = spark.createDataFrame([(1, "a", 0), (2, "b", 0)],
                               "k long, val string, version long")
    for _ in range(2):  # same batch id landed twice (simulated retry)
        df.write.mode("overwrite").parquet(str(target / "batch=0"))
    deltas = spark.read.option("basePath", str(target)).parquet(
        str(target / "batch=*")
    )
    assert deltas.count() == 2
    resolved = resolve_latest(deltas, ("k",), "version")
    assert resolved.count() == 2


def test_cdc_same_version_later_batch_wins(spark, tmp_path):
    """Tie on version resolves by sink batch id (later micro-batch
    wins) — resolution is total and deterministic."""
    target = tmp_path / "t3"
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, val string, version long"
    )
    mk([(7, "old", 5)]).write.parquet(str(target / "batch=0"))
    mk([(7, "new", 5)]).write.parquet(str(target / "batch=1"))
    deltas = spark.read.option("basePath", str(target)).parquet(
        str(target / "batch=*")
    )
    (row,) = resolve_latest(deltas, ("k",), "version").collect()
    assert (row.k, row.val) == (7, "new")


def test_streaming_hll_matches_batch_any_split(spark, cdc_results):
    """Register-MAX folding converges to the batch sketch whatever the
    micro-batch split (order-free state update)."""
    from kinesis_log_watcher_spark.operators.sketch import hll_build

    batch_regs = hll_build(
        spark.read.parquet(cdc_results["ev"]), "user_id",
        group_cols=("event_type",), p=4,
    )
    want = {(r.event_type, r.r, r.m_rho) for r in batch_regs.collect()}
    assert want  # the batch sketch is non-trivial

    got = {
        (r.event_type, round(r.est_distinct, 9))
        for r in cdc_results["hll_split"]
    }
    got_single = {
        (r.event_type, round(r.est_distinct, 9))
        for r in cdc_results["hll_single"]
    }
    assert got == got_single and len(got) == 2
    # and the split replay's registers reduce to the batch estimate:
    from kinesis_log_watcher_spark.operators.sketch import hll_estimate

    want_est = {
        (r.event_type, round(r.est_distinct, 9))
        for r in hll_estimate(
            batch_regs, group_cols=("event_type",), p=4
        ).collect()
    }
    assert got == want_est and want  # registers converged
