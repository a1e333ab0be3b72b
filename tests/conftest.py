from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from kinesis_log_watcher_spark.session import get_spark


def property_examples(n: int) -> int:
    """Hypothesis example budget for SPARK-DRIVING property tests (each
    example costs a full Spark action, ~0.5-1s). The default suite runs
    40% of the full budget (floor 5) — the identities under test are
    frozen dialect semantics, green at full budget every round since r2,
    and the per-round certification runs restore the full budget with
    SPARK_GRAFT_PROPERTY=full. Pure-Python property tests (closed-form,
    fold identities) keep their full 200-300 example budgets — they cost
    milliseconds per example."""
    if os.environ.get("SPARK_GRAFT_PROPERTY", "").lower() == "full":
        return n
    return max(5, n * 2 // 5)


def replay_parallel(*thunks):
    """Run independent streaming replays concurrently and return their
    results in order. A bounded micro-batch replay spends most of its
    wall-clock in per-batch machinery (offset log, state-store commit,
    job scheduling) on a near-idle 32-core JVM — SparkSession is
    thread-safe for independent queries, so tests that compare two or
    three replay configurations run them side by side instead of
    back to back (driver-contract: still ONE pytest process)."""
    with ThreadPoolExecutor(max_workers=max(2, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


@pytest.fixture(scope="session")
def spark():
    # spark.default.parallelism=4: createDataFrame slices tiny LOCAL
    # relations defaultParallelism-wide, and the replay harnesses'
    # staging idiom (createDataFrame(...).coalesce(1).write.parquet)
    # then evaluates every slice serially inside the one write task at
    # a measured ~0.12s fixed cost per slice — 32 slices is ~4.0s per
    # staged micro-batch file vs ~0.7s at 4 slices (≥19 staging sites,
    # many staged 3×). Executor thread capacity stays local[32]; only
    # the default slicing of driver-local test rows narrows.
    # UI live-state store trimmed for the same reason bench.py does it
    # (the r6 lesson): a ~570-test suite submits thousands of jobs
    # through one JVM, the UI retains them all by default, and the
    # resulting driver heap/GC pressure lands on whichever tests run
    # LATE in the alphabet (template tests measured 2-3x their
    # standalone times at the r9 registry size). The suite needs no UI.
    spark = get_spark(
        app_name="klw-tests",
        shuffle_partitions=4,
        extra_conf={
            "spark.default.parallelism": "4",
            "spark.ui.enabled": "false",
            "spark.sql.ui.retainedExecutions": "5",
            "spark.ui.retainedJobs": "50",
            "spark.ui.retainedStages": "50",
            "spark.ui.retainedTasks": "500",
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
