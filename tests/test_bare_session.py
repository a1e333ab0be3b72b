"""The driver's correctness harness builds a bare SparkSession (none of
``session.py``'s confs). Every query must still work: the readers
(``sources/files.read_parquet``/``read_parquet_stream``, under
``queries.base.load``, and ``sources/kinesis_sim.register_sim_source``)
defensively re-apply the runtime-settable confs they depend on
(nanosAsLong for the TIMESTAMP(NANOS) events table, UTC session timezone
for oracle-comparable timestamps).

These tests simulate that harness by deliberately mis-setting the confs on
the shared session, then running real registered queries through their
public entry points.
"""

from __future__ import annotations

import pytest

from kinesis_log_watcher_spark.queries.base import load, registry
from kinesis_log_watcher_spark.session import ensure_session_confs


@pytest.fixture()
def bare_confs(spark):
    """Mis-set the confs the way a bare (driver) session would have them."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    ensure_session_confs(spark)


def test_load_events_heals_bare_session(bare_confs, sf_dir):
    spark = bare_confs
    df = load(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


@pytest.mark.parametrize(
    "name",
    [
        "events_time_filter",
        "user_sessions",
        "orders_by_month",
        "stream_windowed_counts",
        "kinesis_sim_batch_scan",
    ],
)
def test_timestamp_queries_survive_bare_session(bare_confs, sf_dir, name):
    """The 3 shapes that broke (or could break) in round 1: a nanos-events
    scan, a timestamp-rendering session query, and a date-truncating
    aggregate; plus a streaming replay (read_parquet_stream) and a
    kinesis_sim scan (register_sim_source). The query's own reader must
    heal the session, and results must match a properly-configured run
    exactly."""
    spark = bare_confs
    q = registry()[name]
    bare_rows = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    # the query's reader healed the session itself
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # now under the healed/proper confs
    ensure_session_confs(spark)
    good_rows = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    assert bare_rows == good_rows
    assert len(good_rows) > 0
