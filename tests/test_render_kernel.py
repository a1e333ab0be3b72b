"""Render-kernel edge cases, each rendered three ways — ``apply``,
``apply_with_errors`` and a one-shot streaming ``watch()`` — which must
agree on every line and on which rows are render errors.

The kernel parses ``.Log`` once per row into a struct of the top-level
keys the template reads, renders ``.Timestamp`` from two
``date_format`` calls plus the integer-micros fraction, and derives
ShortHostId with ``substring_index``; these cases pin its behaviour on
the inputs where those choices could diverge from the reference.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.envelope import (
    RAW_KINESIS_SCHEMA,
    guarded_array_length,
    guarded_from_json,
    guarded_object_keys,
    with_envelope,
)
from kinesis_log_watcher_spark.functions.strftime import (
    go_default_render_col,
    go_layout_col,
    rfc3339nano_col,
)
from kinesis_log_watcher_spark.sources.files import read_raw_records_stream
from kinesis_log_watcher_spark.template import NO_VALUE, compile_template
from kinesis_log_watcher_spark.watcher import RenderErrorReporter, watch

ERR = "<render error>"
TS = datetime(2024, 5, 1, 12, 0, 0, 123456, tzinfo=timezone.utc)


def _raw(spark, rows):
    """rows: (timestamp, payload bytes) → raw records, SequenceNumber = index."""
    return spark.createDataFrame(
        [
            ("s", "shardId-0", f"{i:04d}", ts, "arn:aws:ecs:r:1:task/t-9", bytearray(p))
            for i, (ts, p) in enumerate(rows)
        ],
        RAW_KINESIS_SCHEMA,
    )


def _render_three_ways(spark, tmp_path, template, rows):
    """{row index: line, or ERR} — after asserting that ``apply``,
    ``apply_with_errors`` and a one-shot streaming ``watch()`` render
    the same lines and drop the same number of error rows."""
    raw = _raw(spark, rows)
    compiled = compile_template(template)
    env = with_envelope(raw)

    tagged = compiled.apply_with_errors(env, keep=("SequenceNumber",)).collect()
    got = {
        int(r.SequenceNumber): ERR if r._render_error else r.line for r in tagged
    }
    want_lines = Counter(v for v in got.values() if v != ERR)
    n_err = sum(v == ERR for v in got.values())

    applied = [r.line for r in compiled.apply(env).collect()]
    assert Counter(applied) == want_lines

    src = str(tmp_path / "in")
    raw.coalesce(1).write.parquet(src)
    streamed: list = []
    reporter = RenderErrorReporter()
    q = watch(
        read_raw_records_stream(spark, src),
        template=template,
        one_shot=True,
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink=streamed.append,
        reporter=reporter,
        max_lines=None,
    )
    q.awaitTermination(120)
    assert Counter(streamed) == want_lines
    assert reporter.dropped_rows == n_err
    return got


def test_duplicate_keys_last_wins(spark, tmp_path):
    # Go's encoding/json keeps the LAST value of a repeated key (so does
    # Python's json module); the struct parse does the same.
    got = _render_three_ways(
        spark, tmp_path, "{{.Log.level}}|{{.Log.n}}",
        [
            (TS, b'{"level":"info","level":"warn","n":1}'),
            (TS, b'{"n":1,"n":2,"n":3}'),
            (TS, b'{"level":{"a":1},"level":[2]}'),
        ],
    )
    assert got == {
        0: "warn|1",
        1: f"{NO_VALUE}|3",
        2: "[2]|" + NO_VALUE,
    }


def test_keys_differing_only_by_case(spark, tmp_path):
    # Key lookup is case-sensitive (a Go map lookup); both spellings in
    # one template must resolve without an ambiguous-field error.
    got = _render_three_ways(
        spark, tmp_path, "{{.Log.level}}|{{.Log.Level}}|{{.Log.LEVEL}}",
        [
            (TS, b'{"level":"a","Level":"B"}'),
            (TS, b'{"Level":"B"}'),
            (TS, b'{"LEVEL":3}'),
        ],
    )
    assert got == {
        0: f"a|B|{NO_VALUE}",
        1: f"{NO_VALUE}|B|{NO_VALUE}",
        2: f"{NO_VALUE}|{NO_VALUE}|3",
    }


def test_non_object_and_malformed_payloads(spark, tmp_path):
    got = _render_three_ways(
        spark, tmp_path, "[{{.Log.level}}]",
        [
            (TS, b'[{"level":1}]'),            # array of objects: not an object
            (TS, b'{"level":1} trailing'),     # Jackson reads the first value
            (TS, b'{"level":"\xff"}'),         # invalid UTF-8 inside a string
            (TS, b"\xff\xfe{"),                # invalid UTF-8, not JSON
            (TS, b""),                         # empty payload
            (TS, b"null"),
            (TS, b"42"),
            (TS, b'{"level":null}'),           # JSON null leaf
            (TS, b'{"#corrupt":"x"}'),         # key named like the corrupt field
            (TS, b'{"level":{"b":[1, 2]}}'),   # nested value re-serialized
        ],
    )
    assert got == {
        0: ERR,
        # divergence (unchanged from the map parse): Go's json.Unmarshal
        # rejects trailing data, Jackson stops after the first value
        1: "[1]",
        2: "[\ufffd]",  # the lossy string cast → U+FFFD, as Go's decoder
        3: ERR,
        4: ERR,
        5: ERR,
        6: ERR,
        7: f"[{NO_VALUE}]",
        8: f"[{NO_VALUE}]",
        9: '[{"b":[1,2]}]',
    }


# Payloads at the edge of the first-character guard (envelope.json_opens)
# with what Go renders for "[{{.Log.level}}]": its decoder skips JSON's
# four whitespace characters before a value and rejects anything else.
_GUARD_EDGES = [
    (b' {"level":1}', "[1]"),
    (b'\n\t\r {"level":1}', "[1]"),
    (b'{"level":1}\n', "[1]"),
    (b'\x0b{"level":1}', ERR),          # vertical tab: not JSON whitespace
    (b'\xef\xbb\xbf{"level":1}', ERR),  # UTF-8 byte-order mark
    (b'\x00{"level":1}', ERR),
    (b'\xc2\xa0{"level":1}', ERR),      # no-break space
    (b'\xff{"level":1}', ERR),          # invalid UTF-8
    (b'/*c*/{"level":1}', ERR),         # comments are not JSON
    (b'[{"level":1}]', ERR),
    (b" [1, 2]", ERR),
    (b'"  "', ERR),
    (b"{", ERR),
    (b" \t", ERR),
    (b"", ERR),
]


def test_guard_edge_payloads_parse_as_unguarded(spark, tmp_path):
    rows = [(TS, p) for p, _ in _GUARD_EDGES]
    got = _render_three_ways(spark, tmp_path, "[{{.Log.level}}]", rows)
    assert got == {i: want for i, (_, want) in enumerate(_GUARD_EDGES)}

    # Row by row, every guarded parse equals the bare Spark function.
    # The struct parse is compared where it is an object: elsewhere the
    # unguarded parse sets the corrupt-record field, the guarded one is
    # NULL, and both mean "Log is not an object".
    s = F.col("LogEntry")
    schema = "level string, `#bad` string"
    opts = {"columnNameOfCorruptRecord": "#bad"}

    def as_object(parsed):
        return F.when(parsed.isNotNull() & parsed["#bad"].isNull(), parsed)

    pairs = {
        "struct": (as_object(guarded_from_json(s, schema, opts)),
                   as_object(F.from_json(s, schema, opts))),
        "array": (guarded_from_json(s, "array<string>"),
                  F.from_json(s, "array<string>")),
        "map": (guarded_from_json(s, "map<string,string>"),
                F.from_json(s, "map<string,string>")),
        "keys": (guarded_object_keys(s), F.json_object_keys(s)),
        "length": (guarded_array_length(s), F.json_array_length(s)),
    }
    env = with_envelope(_raw(spark, rows))
    out = env.select(
        *[F.to_json(F.struct(g.alias("v"))).alias(f"{k}_g") for k, (g, _) in pairs.items()],
        *[F.to_json(F.struct(u.alias("v"))).alias(f"{k}_u") for k, (_, u) in pairs.items()],
    ).collect()
    for r in out:
        for k in pairs:
            assert r[f"{k}_g"] == r[f"{k}_u"], (k, r)


def test_guarded_range_slice_and_len(spark, tmp_path):
    # Each target as an object, an array and a scalar, with and without
    # whitespace before the payload and before the value itself.
    rows = [
        (TS, b'{"xs": {"b": 2, "a": 1, "c": 3}}'),
        (TS, b' {"xs":\n {"b": 2, "a": 1, "c": 3}}'),
        (TS, b'{"xs": [3, 1, 2]}'),
        (TS, b'\r\n{"xs": \t[3, 1, 2]}'),
        (TS, b'{"xs": 5}'),
        (TS, b'\t{"xs":  5}'),
    ]
    ranged = _render_three_ways(
        spark, tmp_path / "range", "{{range .Log.xs}}<{{.}}>{{end}}", rows
    )
    assert ranged == {0: "<1><2><3>", 1: "<1><2><3>", 2: "<3><1><2>",
                      3: "<3><1><2>", 4: ERR, 5: ERR}
    # {{range .Log}} ranges over the payload text itself, leading
    # whitespace included
    whole = _render_three_ways(
        spark, tmp_path / "whole", "{{range .Log}}<{{.}}>{{end}}",
        [(TS, b'\n {"b": 2, "a": 1}'), (TS, b'{"b": 2, "a": 1}'), (TS, b" [1]")],
    )
    assert whole == {0: "<1><2>", 1: "<1><2>", 2: ERR}
    sliced = _render_three_ways(
        spark, tmp_path / "slice", "{{range slice .Log.xs 1}}[{{.}}]{{end}}", rows
    )
    assert sliced == {0: ERR, 1: ERR, 2: "[1][2]", 3: "[1][2]", 4: ERR, 5: ERR}
    lens = _render_three_ways(
        spark, tmp_path / "len", "{{len .Log.xs}}",
        rows[:4] + [(TS, b' {"xs": "abcd"}')],
    )
    assert lens == {0: "3", 1: "3", 2: "3", 3: "3", 4: "4"}


def test_whole_log_and_nested_access_keep_semantics(spark, tmp_path):
    got = _render_three_ways(
        spark, tmp_path, "{{.Log.a.b}}|{{if .Log}}obj{{else}}nil{{end}}",
        [
            (TS, b'{"a":{"b":7}}'),
            (TS, b'{"a":5}'),         # intermediate not an object → error
            (TS, b"not json"),        # .Log.a.b errors before the if
            (TS, b'{"c":1}'),         # missing intermediate → error
        ],
    )
    assert got == {0: "7|obj", 1: ERR, 2: ERR, 3: ERR}


def test_null_and_pre_1970_timestamps(spark, tmp_path):
    got = _render_three_ways(
        spark, tmp_path, "{{.Timestamp}}",
        [
            (None, b"x"),
            (datetime(1969, 12, 31, 23, 59, 59, 500000, tzinfo=timezone.utc), b"x"),
            (datetime(1900, 1, 1, 0, 0, 0, 120, tzinfo=timezone.utc), b"x"),
        ],
    )
    assert got == {
        # no render error; a null field renders Go's <no value>
        0: NO_VALUE,
        1: "1969-12-31 23:59:59.5 +0000 UTC",
        2: "1900-01-01 00:00:00.00012 +0000 UTC",
    }
    # Formatting a null timestamp is a render error, as in Go: a method
    # call on a nil interface, or nil passed as a time.Time argument, so
    # the row is dropped and counted instead of printing a null line.
    rows = [(None, b"x"), (TS, b"x")]
    assert _render_three_ways(
        spark, tmp_path / "format", '{{.Timestamp.Format "2006-01-02"}}', rows
    ) == {0: ERR, 1: "2024-05-01"}
    assert _render_three_ways(
        spark, tmp_path / "strftime", '{{strftime "%Y-%m-%d" .Timestamp}}', rows
    ) == {0: ERR, 1: "2024-05-01"}


@pytest.mark.parametrize(
    "micros,want",
    [(0, ""), (1, ".000001"), (500000, ".5"), (120000, ".12"), (999999, ".999999")],
)
def test_fraction_trimming(spark, tmp_path, micros, want):
    ts = datetime(2024, 5, 1, 12, 0, 0, micros, tzinfo=timezone.utc)
    got = _render_three_ways(
        spark, tmp_path,
        '{{.Timestamp}}|{{.Timestamp.Format "05.999"}}|{{strftime "%s.%f" .Timestamp}}',
        [(ts, b"x")],
    )
    ms = f".{micros // 1000:03d}".rstrip("0").rstrip(".")
    assert got == {
        0: f"2024-05-01 12:00:00{want} +0000 UTC|00{ms}|1714564800.{micros:06d}"
    }


def _old_fraction(ts, digits=6):
    """The trimmed fraction as rendered before the integer-micros kernel."""
    frac = F.date_format(ts, "." + "S" * digits)
    trimmed = F.regexp_replace(frac, "0+$", "")
    return F.when(trimmed == ".", F.lit("")).otherwise(trimmed)


def _old_go_default_render(ts):
    return F.concat(
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss"),
        _old_fraction(ts),
        F.lit(" "),
        F.date_format(ts, "Z"),
        F.lit(" "),
        F.date_format(ts, "zzz"),
    )


_ZONE_CASES = [
    datetime(2024, 3, 10, 9, 59, 59, 999999, tzinfo=timezone.utc),  # before DST
    datetime(2024, 3, 10, 10, 0, 0, 1, tzinfo=timezone.utc),        # after DST
    datetime(2024, 11, 3, 9, 0, 0, 500000, tzinfo=timezone.utc),
    datetime(1969, 12, 31, 23, 59, 59, 250000, tzinfo=timezone.utc),
    datetime(1850, 6, 1, 12, 0, 0, 123400, tzinfo=timezone.utc),     # LMT offset
    datetime(2024, 5, 1, 12, 0, 0, tzinfo=timezone.utc),
]


@pytest.mark.parametrize(
    "zone", ["America/Los_Angeles", "Asia/Kolkata", "Europe/Amsterdam"]
)
def test_timestamp_render_in_non_utc_session(spark, tmp_path, zone):
    """The zone part follows the session time zone, and every render
    equals the pre-kernel formula (4 date_formats + regex + CASE)."""
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        rows = [(ts, b"x") for ts in _ZONE_CASES]
        env = with_envelope(_raw(spark, rows))
        ts = F.col("Timestamp")
        pairs = env.select(
            "SequenceNumber",
            go_default_render_col(ts).alias("new"),
            _old_go_default_render(ts).alias("old"),
            rfc3339nano_col(ts).alias("rfc_new"),
            F.concat(
                F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
                _old_fraction(ts),
                F.date_format(ts, "XXX"),
            ).alias("rfc_old"),
            go_layout_col("05.999 .999999999", ts).alias("layout_new"),
            F.concat(
                F.date_format(ts, "ss"), _old_fraction(ts, 3), F.lit(" "),
                _old_fraction(ts, 9),
            ).alias("layout_old"),
        ).collect()
        for r in pairs:
            assert (r.new, r.rfc_new, r.layout_new) == (r.old, r.rfc_old, r.layout_old)
        got = _render_three_ways(spark, tmp_path, "{{.Timestamp}}", rows)
        assert got == {int(r.SequenceNumber): r.old for r in pairs}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    if zone == "America/Los_Angeles":
        assert got[0].endswith(" -0800 PST") and got[1].endswith(" -0700 PDT")


def test_short_host_id_via_substring_index(spark, tmp_path):
    pks = ["arn:aws:ecs:r:1:task/t-9", "ip-address:10.0.0.1", "plain", "", "a:b:", "x:instance/i-1"]
    raw = spark.createDataFrame(
        [("s", "shardId-0", f"{i:04d}", TS, pk, bytearray(b"x")) for i, pk in enumerate(pks)],
        RAW_KINESIS_SCHEMA,
    )
    lines = {
        r.SequenceNumber: r.line
        for r in compile_template("{{.ShortHostId}}")
        .apply(with_envelope(raw), keep=("SequenceNumber",))
        .collect()
    }
    assert [lines[f"{i:04d}"] for i in range(len(pks))] == [
        "t-9", "10.0.0.1", "plain", "", "", "i-1",
    ]


def test_if_else_if_with_render(spark, tmp_path):
    payload = b'{"user": {"name": "ada"}, "k": 0, "lv": "b"}'
    got = _render_three_ways(
        spark, tmp_path,
        '{{if .Log.k}}K{{else if eq .Log.lv "b"}}B{{else}}other{{end}}'
        "-{{with .Log.user}}{{.name}}{{end}}",
        [(TS, payload)],
    )
    assert got == {0: "B-ada"}


def test_range_array_and_map_render(spark, tmp_path):
    got = _render_three_ways(
        spark, tmp_path,
        "{{range .Log.xs}}[{{.}}]{{end}}|{{range .Log.m}}{{.}}{{end}}",
        [(TS, b'{"xs": [3, 1], "m": {"k": "v"}}')],
    )
    assert got == {0: "[3][1]|v"}


def test_concurrent_compiles_do_not_cross_wire(spark):
    # All compile state is per call (no module lock): templates compiled
    # from more threads than cores must keep their own prep columns.
    import sys
    from concurrent.futures import ThreadPoolExecutor

    n = 8
    templates = [
        "{{.Log.k%d}}-{{range .Log.xs}}{{.}}{{end}}" % i for i in range(n)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n) as pool:
            futures = [pool.submit(compile_template, t) for t in templates]
            compiled = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(old)
    names = [name for c in compiled for name in c.prep]
    assert len(names) == len(set(names)) == 2 * n
    payload = ('{"xs": [1, 2], %s}' % ", ".join(f'"k{i}": {i}' for i in range(n))).encode()
    env = with_envelope(_raw(spark, [(TS, payload)]))
    for i, c in enumerate(compiled):
        assert [r.line for r in c.apply(env).collect()] == [f"{i}-12"]
