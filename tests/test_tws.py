"""Per-user running totals must reproduce the batch aggregate for any
micro-batch split of a bounded replay — state carries across batch
boundaries."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from kinesis_log_watcher_spark.sources.files import stage_replay_files
from kinesis_log_watcher_spark.streaming.tws import (
    batch_totals,
    run_running_totals,
)

T0 = datetime(2024, 1, 1)


def _mk_events(spark, batches):
    """One events frame; ``part`` is the row's batch index."""
    return spark.createDataFrame(
        [
            (i, T0 + timedelta(minutes=i), uid, "click", val, "{}", b)
            for b, batch in enumerate(batches)
            for i, (uid, val) in enumerate(batch)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string, part int",
    )


@pytest.fixture(scope="module")
def event_files(spark):
    """Three files; users 1 and 2 span file boundaries. Module-scoped:
    the staged dir is read-only input for every test here, and staging
    it once saves a multi-second Spark write chain per test."""
    batches = [
        [(1, 1.5), (1, 2.25), (2, 10.0)],
        [(1, 0.125), (2, -3.5), (3, 7.0)],
        [(2, 1.0), (1, 4.0)],
    ]
    return stage_replay_files(
        _mk_events(spark, batches), "part", len(batches), prefix="t_tws_"
    )


def _as_set(df):
    return {(r.user_id, r.n_events, r.value_sum_q) for r in df.collect()}


def test_replay_matches_batch_any_split(spark, event_files):
    expected = _as_set(batch_totals(spark.read.parquet(event_files)))
    assert expected  # sanity: non-empty
    from conftest import replay_parallel

    # one batch per file (state must merge across three batches) and
    # all-files-in-one-batch, replayed concurrently
    got_split, got_single = (
        _as_set(df)
        for df in replay_parallel(
            lambda: run_running_totals(spark, event_files, max_files_per_trigger=1),
            lambda: run_running_totals(spark, event_files),
        )
    )
    assert got_split == expected
    assert got_single == expected


def test_quantized_sum_is_exact(spark, event_files):
    """int64 micro-unit sums: 1.5+2.25+0.125+4.0 = 7.875 exactly."""
    totals = {
        r.user_id: r.value_sum_q
        for r in batch_totals(spark.read.parquet(event_files)).collect()
    }
    assert totals[1] == 7_875_000
    assert totals[2] == 7_500_000
    assert totals[3] == 7_000_000
