"""Envelope derivation tests — reference main.go:247-279 semantics."""

from __future__ import annotations

from kinesis_log_watcher_spark.envelope import with_envelope
from kinesis_log_watcher_spark.sources.fixture import kinesis_records_fixture
from kinesis_log_watcher_spark.template import compile_template


def test_envelope_schema(spark):
    env = with_envelope(kinesis_records_fixture(spark, n_records=40))
    assert [f.name for f in env.schema.fields] == [
        "Timestamp",
        "HostId",
        "ShortHostId",
        "SequenceNumber",
        "LogEntry",
    ]


def test_short_host_id_all_partition_key_shapes(spark):
    """main.go:249-262: last ':'-segment, then task// instance/ strip."""
    env = with_envelope(kinesis_records_fixture(spark, n_records=40))
    pairs = {
        r["HostId"]: r["ShortHostId"]
        for r in env.select("HostId", "ShortHostId").distinct().collect()
    }
    assert pairs["arn:aws:ecs:us-east-1:123456789012:task/abc-123"] == "abc-123"
    assert (
        pairs["arn:aws:ec2:us-east-1:123456789012:instance/i-0abcdef"] == "i-0abcdef"
    )
    assert pairs["ip-address:10.0.0.1"] == "10.0.0.1"
    assert pairs["uuid:6f1e4a3c-9d2b-4c61-a0f7-2f4f0a9b1c55"] == (
        "6f1e4a3c-9d2b-4c61-a0f7-2f4f0a9b1c55"
    )


def test_log_entry_is_raw_payload_text(spark):
    env = with_envelope(kinesis_records_fixture(spark, n_records=60))
    texts = [r["LogEntry"] for r in env.collect()]
    assert any(t.startswith('{"level"') for t in texts)
    assert any(t.startswith("plain text log line") for t in texts)
    assert any(t == "" for t in texts)  # empty payload stays empty string


def test_log_field_errors_unless_payload_is_object(spark):
    """main.go:273-279: an object parses; an array, scalar, invalid or
    empty payload leaves Log nil, so ``{{.Log.level}}`` is a render error."""
    env = with_envelope(kinesis_records_fixture(spark, n_records=120))
    rows = compile_template("{{.Log.level}}").apply_with_errors(
        env, keep=("LogEntry",)
    ).collect()
    for r in rows:
        expect = r["LogEntry"].startswith("{")
        assert r["_render_error"] != expect, r["LogEntry"][:40]


def test_envelope_is_narrow_no_shuffle(spark):
    """The envelope projection must not introduce an Exchange."""
    env = with_envelope(kinesis_records_fixture(spark, n_records=40))
    plan = env._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_invalid_utf8_payload_survives(spark):
    """Invalid-UTF-8 payloads (FIXTURES.md §1) must not crash the
    pipeline: LogEntry decodes with replacement chars (Go keeps raw bytes
    and prints U+FFFD at output — same visible result), the row renders
    under the default template, and {{.Log.x}} treats it as unparseable
    (dropped, main.go:276-279)."""
    from kinesis_log_watcher_spark.sources.fixture import kinesis_records_fixture
    from kinesis_log_watcher_spark.watcher import watch

    rec = kinesis_records_fixture(spark, n_records=120)
    n_invalid = sum(
        1 for r in rec.collect()
        if r.data and bytes(r.data).startswith(b"\xff\xfe")
    )
    assert n_invalid > 0
    lines = watch(rec)
    assert len(lines) == 120  # default template renders every row
    assert any("�" in l for l in lines)
    log_lines = watch(rec, template="{{.Log.level}}")
    assert len(log_lines) == 60  # non-JSON-object rows dropped, as before
