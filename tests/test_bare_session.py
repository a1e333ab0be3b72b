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
        "shorthost_derivation",
        "template_render_line",
    ],
)
def test_timestamp_queries_survive_bare_session(bare_confs, sf_dir, name):
    """The 3 shapes that broke (or could break) in round 1: a nanos-events
    scan, a timestamp-rendering session query, and a date-truncating
    aggregate; plus a streaming replay (read_parquet_stream), a
    kinesis_sim scan (register_sim_source), and the two envelope queries
    that call the in-repo JVM functions (``klw_short_host``,
    ``klw_local_time``). The query's own reader must heal the session,
    and results must match a properly-configured run exactly."""
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


@pytest.mark.parametrize(
    "name", ["shorthost_derivation", "template_render_line", "template_conditional_render"]
)
def test_envelope_queries_run_in_a_new_session(spark, sf_dir, name):
    """A ``newSession()`` session that is not the active one runs the
    queries whose Columns call the in-repo JVM functions: each Column
    carries its function, so nothing has to be registered in the
    session that analyzes the plan."""
    q = registry()[name]
    want = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    fresh = spark.newSession()
    assert sorted(map(tuple, q.fn(fresh, sf_dir).collect())) == want
    assert len(want) > 0


def test_default_template_renders_in_a_new_session(spark):
    """The default template renders in ``newSession()`` sessions both
    through ``build_lines`` and over an envelope built without
    ``with_envelope``, with no function in those sessions' catalogs. The
    inputs come from ``range()``: ``createDataFrame`` would make their
    session the active one."""
    from datetime import datetime, timezone

    from kinesis_log_watcher_spark import jvm
    from pyspark.sql import functions as F

    from kinesis_log_watcher_spark.envelope import RAW_KINESIS_SCHEMA
    from kinesis_log_watcher_spark.template import DEFAULT_TEMPLATE, compile_template
    from kinesis_log_watcher_spark.watcher import build_lines

    ts = datetime(2024, 5, 1, 12, 0, 0, 120000, tzinfo=timezone.utc)
    want = ["t-9 2024-05-01 12:00:00.12 +0000 UTC payload"]

    fresh = spark.newSession()
    fresh.conf.set("spark.sql.session.timeZone", "UTC")
    raw = fresh.range(1).select(
        *(F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(
            ["s", "shardId-0", "0001", ts, "arn:aws:ecs:r:1:task/t-9", bytearray(b"payload")],
            RAW_KINESIS_SCHEMA.fields,
        ))
    )
    assert [r.line for r in build_lines(raw).collect()] == want

    compiled = compile_template(DEFAULT_TEMPLATE)
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "UTC")
    env = other.range(1).select(
        F.lit(ts).alias("Timestamp"),
        F.lit("t-9").alias("ShortHostId"),
        F.lit("payload").alias("LogEntry"),
    )
    assert [r.line for r in compiled.apply(env).collect()] == want
    for session in (fresh, other):
        assert not any(session.catalog.functionExists(n) for n in jvm.FUNCTIONS)
