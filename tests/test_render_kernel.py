"""Render-kernel edge cases, each rendered three ways — ``apply``,
``apply_with_errors`` and a one-shot streaming ``watch()`` — which must
agree on every line and on which rows are render errors.

The kernel parses ``.Log`` once per row into the values of the
top-level keys the template reads (one Java UDF call, which returns no
values without parsing when the first character cannot open an object),
renders ``.Timestamp`` as the text of a timestamp-to-string cast (a
second Java UDF) plus a zone that is a literal in a UTC session, and
derives ShortHostId from the partition key's bytes (a third); these
cases pin its behaviour on the inputs where those choices could diverge
from the reference or from the built-in forms they replaced.
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
    json_opens,
    short_host_id,
    with_envelope,
)
from kinesis_log_watcher_spark.functions.strftime import (
    go_default_render_col,
    go_layout_col,
    rfc3339nano_col,
    trimmed_fraction_col,
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
    # Python's json module); the payload scan does the same.
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


def test_string_leaf_and_number_divergences_pinned(spark, tmp_path):
    """Two documented divergences from Go (template.py's list), pinned as
    they render today. A JSON string that spells JSON acts as the value
    it spells (Go: ``len`` is the string's bytes, 7; range and field
    access on a string are exec errors). A JSON number renders as
    Jackson spells it (Go's float64 ``%v``: 1|1e-07|1e+20|1000|-0|1e+20)."""
    leaf = [(TS, b'{"s": "[1,2,3]", "o": "{\\"a\\":1}"}')]
    assert _render_three_ways(
        spark, tmp_path / "leaf",
        "{{len .Log.s}}|{{range .Log.s}}<{{.}}>{{end}}|{{.Log.o.a}}", leaf,
    ) == {0: "3|<1><2><3>|1"}
    numbers = [
        (TS, b'{"a":1.0,"c":1e-7,"d":1e20,"e":1e3,"f":-0.0,'
             b'"g":100000000000000000000}'),
    ]
    assert _render_three_ways(
        spark, tmp_path / "numbers",
        "{{.Log.a}}|{{.Log.c}}|{{.Log.d}}|{{.Log.e}}|{{.Log.f}}|{{.Log.g}}",
        numbers,
    ) == {0: "1.0|1.0E-7|1.0E20|1000.0|-0.0|100000000000000000000"}


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


def _two_format_go_default_render(ts):
    """``{{.Timestamp}}`` as rendered before the string cast: two
    ``date_format`` calls around the integer-micros fraction."""
    return F.concat(
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss"),
        trimmed_fraction_col(ts),
        F.date_format(ts, " Z zzz"),
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
    equals the pre-kernel formula (4 date_formats + regex + CASE) and
    the two-``date_format`` formula."""
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
            _two_format_go_default_render(ts).alias("two_format"),
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
            assert r.new == r.two_format
        got = _render_three_ways(spark, tmp_path, "{{.Timestamp}}", rows)
        assert got == {int(r.SequenceNumber): r.old for r in pairs}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    if zone == "America/Los_Angeles":
        assert got[0].endswith(" -0800 PST") and got[1].endswith(" -0700 PDT")


def test_zone_name_is_stable_under_concurrent_first_use(spark):
    """Eight tasks that format a zone's name for the first time at once
    all print the name a later single task prints. JDK 17 can cache the
    GMT-offset fallback (``GMT+03:00`` for ``EAT``) when tasks race on a
    zone's first name lookup; the render's plan build formats the
    session zone's names on the driver first. The Africa/ zones are ones
    this test session has not formatted before."""
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    zones = sorted(
        z for z in spark._jvm.java.time.ZoneId.getAvailableZoneIds()
        if z.startswith("Africa/")
    )
    ts = F.timestamp_seconds(F.lit(1714564800) + F.col("id"))
    unstable = {}
    try:
        for zone in zones:
            spark.conf.set("spark.sql.session.timeZone", zone)
            rows = spark.range(0, 8, 1, 8).select(go_default_render_col(ts).alias("r"))
            first = {r.r.rsplit(" ", 1)[1] for r in rows.collect()}
            later = {r.r.rsplit(" ", 1)[1] for r in rows.limit(1).collect()}
            if len(first) != 1 or first != later:
                unstable[zone] = (sorted(first), sorted(later))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert unstable == {}


# Instants at the edges of the cast's and date_format's year range,
# as epoch micros: Python datetimes stop at years 1 and 9999.
_EDGE_MICROS = [
    -62135596799500000,  # 0001-01-01 00:00:00.5 UTC
    -30610224000999999,  # 0999-12-31 23:59:59.000001
    -12219724800000000,  # 1582-10-10, inside the Julian-Gregorian gap
    253402300799999999,  # 9999-12-31 23:59:59.999999
    253402300800000000,  # +10000-01-01
    -62198755200000000,  # -0001-01-01
    -750000,             # 1969-12-31 23:59:59.25
    None,
]


@pytest.mark.parametrize("zone", ["UTC", "America/Los_Angeles"])
def test_timestamp_render_edges_match_old_formulas(spark, zone):
    """The cast-based render equals both earlier formulas at the year
    edges, in UTC (the zone a literal) and in a zone with an LMT offset
    (the zone a date_format)."""
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        ts = F.timestamp_micros("us")
        rows = (
            spark.createDataFrame([(us,) for us in _EDGE_MICROS], "us long")
            .select(
                "us",
                go_default_render_col(ts).alias("new"),
                _two_format_go_default_render(ts).alias("two_format"),
                _old_go_default_render(ts).alias("old"),
            )
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    got = {r.us: r.new for r in rows}
    for r in rows:
        assert r.new == r.two_format == r.old, r
    assert got[None] is None
    if zone == "UTC":
        assert got[253402300800000000] == "+10000-01-01 00:00:00 +0000 UTC"
        assert got[-62198755200000000] == "-0001-01-01 00:00:00 +0000 UTC"
        assert got[-62135596799500000] == "0001-01-01 00:00:00.5 +0000 UTC"
    else:
        assert got[-62135596799500000] == "0000-12-31 16:07:02.5 -0752 PST"


def test_timestamp_zone_is_fixed_when_the_plan_is_built(spark):
    """The zone label and the wall-clock text take the session zone at
    the same moment, so a render built in one zone and run after a
    switch to the other stays self-consistent in the zone it was built
    in (as ``ensure_session_confs`` switches a bare session to UTC)."""
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    ts = F.timestamp_micros(F.lit(1714564800123456))
    try:
        for built, run, want in [
            ("America/Los_Angeles", "UTC", "2024-05-01 05:00:00.123456 -0700 PDT"),
            ("UTC", "America/Los_Angeles", "2024-05-01 12:00:00.123456 +0000 UTC"),
        ]:
            spark.conf.set("spark.sql.session.timeZone", built)
            df = spark.range(1).select(go_default_render_col(ts).alias("r"))
            spark.conf.set("spark.sql.session.timeZone", run)
            assert df.collect()[0].r == want, (built, run)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


# The render_batch benchmark's template (perfbench/reference.py).
_KERNEL_TEMPLATE = "{{.ShortHostId}} {{.Timestamp}} {{.Log.level}} {{.Log.latency_ms}}"


def _optimized_plan(spark, zone):
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        env = with_envelope(_raw(spark, [(TS, b'{"level": "x"}')]))
        df = compile_template(_KERNEL_TEMPLATE).apply_with_errors(env)
        return df._jdf.queryExecution().optimizedPlan().toString().lower()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_utc_render_plan_has_no_regex_or_date_format(spark):
    """In a UTC session the envelope, the guarded payload parse and
    ``{{.Timestamp}}`` reach the optimized plan with no regex, no
    ``date_format``, no ``substring_index`` and no timestamp-to-string
    cast; another zone keeps the zone's ``date_format``."""
    import re

    utc = _optimized_plan(spark, "UTC")
    for name in ("date_format", "rlike", "regexp", "substring_index"):
        assert name not in utc, name
    assert "+0000 utc" in utc
    assert "klw_short_host" in utc and "klw_local_time" in utc
    # the only timestamp column is approximateArrivalTimestamp (Timestamp)
    assert not re.search(r"cast\([a-z_]*timestamp#\d+ as string\)", utc), utc
    assert "date_format" in _optimized_plan(spark, "America/Los_Angeles")


# Partition keys and payloads for the byte-level forms: NULL, empty,
# bare prefixes, a doubled prefix, a prefix that is not a prefix,
# multibyte text and invalid UTF-8 (a lone 0xFF, a truncated sequence).
_BYTE_EDGES = [
    None, b"", b"task/", b"instance/", b"task/task/x", b"x:task",
    b"x:instance/", b"TASK/x", b" task/x", b"a:b:task/\xc3\xa9t\xc3\xa9",
    b"\xff:task/x", b"task/\xff\xfe", b"task/\xe2\x82", b"\xffx",
    b"{", b" \t\n\r{", b"\t[", b"\xff{", b"\xc2\xa0{", b"\x0b{",
    b"\x00[", b"  \xe2\x82", b"\xe2\x82{", b"\xef\xbb\xbf{",
]


def test_short_host_id_and_json_guard_match_regex_forms(spark):
    """``short_host_id`` (``startswith`` + ``substr``) and ``json_opens``
    (``ltrim`` + ``startswith``) against the regex forms they replaced,
    row by row. The guards agree everywhere. The host paths agree on
    valid UTF-8; on invalid UTF-8 the regex decoded the whole string to
    a Java String and wrote each invalid sequence back as U+FFFD, while
    the byte-level path keeps the bytes, as Go's string functions do."""
    s = F.col("s")
    regex_host = F.regexp_replace(
        F.substring_index(s, ":", -1), r"^(task/|instance/)", ""
    )
    out = (
        spark.createDataFrame(
            [(None if v is None else bytearray(v),) for v in _BYTE_EDGES], "b binary"
        )
        .select(F.col("b"), F.col("b").cast("string").alias("s"))
        .select(
            "b",
            short_host_id(s).cast("binary").alias("host"),
            regex_host.cast("binary").alias("host_rx"),
            json_opens(s, "{").alias("obj"),
            F.regexp_like(s, F.lit(r"^[ \t\n\r]*\{")).alias("obj_rx"),
            json_opens(s, "[").alias("arr"),
            F.regexp_like(s, F.lit(r"^[ \t\n\r]*\[")).alias("arr_rx"),
        )
        .collect()
    )
    got = {None if r.b is None else bytes(r.b): r for r in out}
    for raw, r in got.items():
        assert (r.obj, r.arr) == (r.obj_rx, r.arr_rx), raw
        last = None if raw is None else raw.rsplit(b":", 1)[-1]
        if last is None or _is_utf8(last):
            assert r.host == r.host_rx, raw
        else:
            # the regex form replaced the invalid bytes; the byte path
            # keeps them and strips exactly what it strips on valid text
            assert "\ufffd" in bytes(r.host_rx).decode(), raw
            for prefix in (b"task/", b"instance/"):
                if last.startswith(prefix):
                    last = last[len(prefix):]
                    break
            assert bytes(r.host) == last, raw

    def host(v):
        h = got[v].host
        return None if h is None else bytes(h)

    assert host(None) is None
    assert [host(v) for v in (b"", b"task/", b"instance/", b"x:instance/")] == [b""] * 4
    assert host(b"task/task/x") == b"task/x"
    assert host(b"x:task") == b"task"
    assert host(b"a:b:task/\xc3\xa9t\xc3\xa9") == "été".encode()
    assert host(b"task/\xff\xfe") == b"\xff\xfe"
    assert [v for v, r in got.items() if r.obj] == [b"{", b" \t\n\r{"]
    assert [v for v, r in got.items() if r.arr] == [b"\t["]
    assert got[None].obj is None


def _is_utf8(raw):
    try:
        raw.decode("utf-8")
    except UnicodeDecodeError:
        return False
    return True


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


# ---------------------------------------------------------------------------
# The envelope UDFs (jvm/LocalTime.java, jvm/ShortHost.java) against the
# built-in forms they replaced, kept here only as the oracles.
# ---------------------------------------------------------------------------

_UDF_ZONES = [
    "UTC", "America/Los_Angeles", "Europe/Amsterdam", "Asia/Kathmandu",
    "Australia/Lord_Howe", "+05:30",
]

_NEGATIVE_FRACTIONS = [-1, -999_999, -1_000_001, -123_456_789, -86_400_000_001]


def _transition_micros(spark, zone):
    """Instants around the zone's first two and last four transitions
    (the end of LMT, DST gaps and overlaps), and 40 years before the
    first (LMT)."""
    rules = spark._jvm.java.time.ZoneId.of(zone).getRules()
    secs = [t.toEpochSecond() for t in rules.getTransitions()]
    picks = secs[:2] + secs[-4:]
    out = [(t - 86_400 * 365 * 40) * 1_000_000 for t in secs[:1]]
    for t in picks:
        out += [t * 1_000_000 + d for d in (0, -1, 1, -1_000_000, 999_999, -1_000_001)]
    return out


def _local_time_vs_cast(spark, zone, micros):
    """[(micros, UDF text, cast text)] in a session in ``zone``."""
    from kinesis_log_watcher_spark import jvm

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        ts = F.timestamp_micros("us")
        session_zone = F.date_format(F.timestamp_micros(F.lit(0)), "VV")
        rows = (
            spark.createDataFrame([(us,) for us in micros], "us long")
            .select(
                "us",
                jvm.call(jvm.LOCAL_TIME, F.unix_micros(ts), session_zone)
                .cast("string").alias("udf"),
                ts.cast("string").alias("cast"),
            )
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    return [(r.us, r.udf, r.cast) for r in rows]


@pytest.mark.parametrize("zone", _UDF_ZONES)
def test_local_time_matches_cast_on_edges(spark, zone):
    """``klw_local_time`` prints the cast's text at the year edges, around
    the zone's transitions, in the LMT era, on negative micros with a
    fraction, and NULL for NULL."""
    micros = _EDGE_MICROS + _NEGATIVE_FRACTIONS + _transition_micros(spark, zone)
    rows = _local_time_vs_cast(spark, zone, micros)
    assert len(rows) == len(micros)
    for us, udf, cast in rows:
        assert udf == cast, (zone, us)
    got = {us: udf for us, udf, _ in rows}
    assert got[None] is None
    if zone == "UTC":
        assert got[253402300800000000] == "+10000-01-01 00:00:00"
        assert got[-62198755200000000] == "-0001-01-01 00:00:00"
        assert got[-1_000_001] == "1969-12-31 23:59:58.999999"


def test_local_time_matches_cast_property(spark):
    """Over the whole micros range, and densely over the years the cast's
    four-digit form covers, in every zone of the edge test."""
    from hypothesis import HealthCheck, Phase, given, settings
    from hypothesis import strategies as st

    from conftest import property_examples

    micros = st.one_of(
        st.integers(-(2**63), 2**63 - 1),
        st.integers(-62_135_596_800_000_000, 253_402_300_799_999_999),
        st.none(),
    )

    @settings(
        max_examples=property_examples(10), deadline=None, derandomize=True,
        phases=[Phase.generate], suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(micros, min_size=200, max_size=200))
    def check(values):
        for zone in _UDF_ZONES:
            for us, udf, cast in _local_time_vs_cast(spark, zone, values):
                assert udf == cast, (zone, us)

    check()


def _substring_index_host(s):
    """ShortHostId as ``envelope.short_host_id`` derived it before
    ``klw_short_host``."""
    last = F.substring_index(s, ":", -1)
    return (
        F.when(last.startswith("task/"), F.substr(last, F.lit(6)))
        .when(last.startswith("instance/"), F.substr(last, F.lit(10)))
        .otherwise(last)
    )


def _short_host_vs_substring_index(spark, keys):
    s = F.col("b").cast("string")
    rows = (
        spark.createDataFrame(
            [(i, None if k is None else bytearray(k)) for i, k in enumerate(keys)],
            "i int, b binary",
        )
        .select(
            "i",
            short_host_id(s).cast("binary").alias("udf"),
            _substring_index_host(s).cast("binary").alias("old"),
        )
        .orderBy("i")
        .collect()
    )
    return [(keys[r.i], r.udf, r.old) for r in rows]


def test_short_host_matches_substring_index_property(spark):
    """``klw_short_host`` equals the ``substring_index`` form byte for
    byte: on arbitrary bytes, and on keys assembled from separators,
    prefixes (repeated, cased, partial) and invalid UTF-8."""
    from hypothesis import HealthCheck, Phase, given, settings
    from hypothesis import strategies as st

    from conftest import property_examples

    parts = st.sampled_from([
        b":", b"::", b"task/", b"instance/", b"task", b"TASK/", b"instance",
        b"/", b"x", b"i-1", b"\xff", b"\xe2\x82", b"\xc3\xa9", b"\x00", b"",
    ])
    keys = st.one_of(
        st.binary(max_size=40),
        st.lists(parts, max_size=8).map(b"".join),
        st.none(),
    )

    @settings(
        max_examples=property_examples(10), deadline=None, derandomize=True,
        phases=[Phase.generate], suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(keys, min_size=200, max_size=200))
    def check(values):
        for key, udf, old in _short_host_vs_substring_index(spark, values):
            assert udf == old, key

    check()
    fixed = _short_host_vs_substring_index(
        spark, [None, b"task/task/x", b"a::instance/instance/", b"x:\xff:task/\xe2\x82"]
    )
    assert [udf for _, udf, _ in fixed] == [None, b"task/x", b"instance/", b"\xe2\x82"]


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


# ---------------------------------------------------------------------------
# The payload scan (jvm/PayloadScan.java) against the guarded from_json
# struct it replaced, kept here only as the oracle.
# ---------------------------------------------------------------------------

_SCAN_KEYS = ["a", "A", "b"]


def _deep(depth):
    # an object nesting arrays to a total depth of ``depth``
    return b'{"a":' + b"[" * (depth - 1) + b"]" * (depth - 1) + b"}"


_SCAN_EDGES = [
    b'{"a":1e3,"b":"x"}',                       # number normalized: 1000.0
    b'{"a":-0,"b":-0.0}',
    b'{"a":NaN,"b":[Infinity,-Infinity]}',      # non-numeric numbers
    b"{'a':'single','b':\"x\"}",                # single quotes
    b'{"a":007}',                               # leading zeros rejected
    b'{"a":"tab\there"}',                       # raw control character
    b'{"a":"\\u0000\\ud83d\\ude00","b":"\\ud800"}',  # escapes, lone surrogate
    b'{"b":["\\ud800", "\\udfff"]}',            # lone surrogates re-serialized
    b'{"a":{"b":[1, 2, {"c": null}]} , "b" : true}',
    b'{"a":1,"a":null,"b":{"x":1},"b":[2]}',    # the last duplicate wins
    b'{"a":1}{',                                # trailing data ignored
    b'{"a":1} x',
    _deep(999),
    _deep(1001),                                # past the nesting limit
    b'{"a":"' + b"x" * 30_000_000 + b'"}',      # past the string limit
    b'{"a":1,"z":[1,2,}',                       # bad value under a skipped key
    b'{"a":1e400,"b":123456789012345678901234567890}',
    b'{"a":"\xff","b":"\xc3\xa9"}',             # invalid UTF-8 → U+FFFD
    b"\xff\xfe{",
    b'{"a":"x","A":"y"}',                       # keys match case-sensitively
    b'{"a":1,}',                                # trailing comma
    b"{a:1}",                                   # unquoted field name
    b'{"a":1 /*c*/}',                           # comments
    b' \n{"b":false,"z":{"a":"deep"}}',         # key below the top is not read
    b"{}",
]


def _scan_vs_from_json(spark, payloads):
    """[(values, is_null)] of the scan and of the old parse, per payload,
    with every value as bytes."""
    from pyspark.sql.types import StringType, StructField, StructType

    from kinesis_log_watcher_spark.template import _hoisted_payload

    s = F.col("LogEntry")
    schema = StructType(
        [StructField(k, StringType()) for k in _SCAN_KEYS]
        + [StructField("#corrupt", StringType())]
    )
    positional = StructType(
        [StructField(f"f{i}", StringType()) for i in range(len(_SCAN_KEYS))]
        + [StructField("bad", StringType())]
    )
    old = F.when(
        json_opens(s, "{"),
        F.from_json(s, schema, {"columnNameOfCorruptRecord": "#corrupt"}),
    ).cast(positional)
    new = _hoisted_payload(_SCAN_KEYS)
    n = len(_SCAN_KEYS)
    rows = (
        spark.createDataFrame([(i, bytearray(p)) for i, p in enumerate(payloads)], "i int, b binary")
        .select("i", F.col("b").cast("string").alias("LogEntry"))
        .select(
            "i",
            F.array(*[new.getItem(k).cast("binary") for k in range(n)]).alias("new"),
            new.isNull().alias("new_null"),
            F.array(*[old[f"f{k}"].cast("binary") for k in range(n)]).alias("old"),
            (old.isNull() | old["bad"].isNotNull()).alias("old_null"),
        )
        .orderBy("i")
        .collect()
    )

    def values(arr, is_null):
        return None if is_null else [None if v is None else bytes(v) for v in arr]

    return [
        (values(r.new, r.new_null), values(r.old, r.old_null)) for r in rows
    ]


def test_payload_scan_matches_from_json_on_edges(spark):
    got = _scan_vs_from_json(spark, _SCAN_EDGES)
    for payload, (new, old) in zip(_SCAN_EDGES, got):
        assert new == old, payload[:80]
    by = dict(zip(_SCAN_EDGES, (new for new, _ in got)))
    assert by[b'{"a":1e3,"b":"x"}'] == [b"1000.0", None, b"x"]
    assert by[b'{"a":NaN,"b":[Infinity,-Infinity]}'][0] == b'"NaN"'
    assert by[_deep(999)] is not None and by[_deep(1001)] is None
    assert by[b'{"a":"x","A":"y"}'] == [b"x", b"y", None]
    assert by[b'{"a":"\xff","b":"\xc3\xa9"}'] == ["�".encode(), None, "é".encode()]


def test_payload_scan_matches_from_json_on_fixture(spark):
    from kinesis_log_watcher_spark.sources.fixture import kinesis_records_fixture

    payloads = [
        bytes(r.data or b"")
        for r in kinesis_records_fixture(spark, n_records=240).select("data").collect()
    ]
    got = _scan_vs_from_json(spark, payloads)
    assert all(new == old for new, old in got)
    assert sum(new is not None for new, _ in got) == 120


def _json_ish():
    import json

    from hypothesis import strategies as st

    escapes = st.sampled_from(
        ['"\\ud83d\\ude00"', '"\\ud800"', '"\\udc00x"', '"\\n\\t\\"\\\\"', '"\\u0000"', '"\\/"']
    )
    scalars = st.one_of(
        st.none(), st.booleans(), st.integers(-(10**25), 10**25),
        st.floats(allow_nan=True, allow_infinity=True), st.text(max_size=6),
    ).map(json.dumps) | escapes
    values = st.recursive(
        scalars,
        lambda inner: st.lists(inner, max_size=3).map(lambda xs: "[" + ",".join(xs) + "]")
        | st.lists(st.tuples(st.sampled_from(['"a"', '"c"']), inner), max_size=3).map(
            lambda kv: "{" + ",".join(f"{k}:{v}" for k, v in kv) + "}"),
        max_leaves=6,
    )
    keys = st.sampled_from(['"a"', '"A"', '"b"', '"z"', '"\\u0061"', '"a "', '"é"'])
    objects = st.lists(st.tuples(keys, values), max_size=5).map(
        lambda kv: "{" + ", ".join(f"{k}: {v}" for k, v in kv) + "}")

    def mutate(text, draw):
        kind = draw(st.sampled_from(["none", "cut", "drop", "insert", "quote"]))
        at = draw(st.integers(0, len(text)))
        if kind == "cut":
            return text[:at]
        if kind == "drop":
            return text[:at] + text[at + 1:]
        if kind == "insert":
            return text[:at] + draw(st.sampled_from(list("{}[],:\"' \\\x01"))) + text[at:]
        if kind == "quote":
            return text.replace('"', "'")
        return text

    @st.composite
    def payload(draw):
        text = mutate(draw(objects), draw)
        raw = text.encode("utf-8", "surrogatepass")
        prefix = draw(st.sampled_from([b"", b" ", b"\n\t", b"\xef\xbb\xbf"]))
        suffix = draw(st.sampled_from([b"", b" trailing", b"\xff", b"}"]))
        return prefix + raw + suffix

    return payload()


def test_payload_scan_matches_from_json_property(spark):
    from hypothesis import HealthCheck, Phase, given, settings
    from hypothesis import strategies as st

    from conftest import property_examples

    seen = []

    # No shrink phase: the assertion names the failing payload, and each
    # shrink step would cost a Spark job (minutes for a 100-payload list).
    @settings(
        max_examples=property_examples(8), deadline=None, derandomize=True,
        phases=[Phase.generate],
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(st.lists(_json_ish(), min_size=100, max_size=100))
    def check(payloads):
        seen.extend(payloads)
        for payload, (new, old) in zip(payloads, _scan_vs_from_json(spark, payloads)):
            assert new == old, payload

    check()
    assert len(seen) >= 300
    assert sum(p.lstrip(b" \n\t").startswith(b"{") for p in seen) >= 100


def test_payload_function_loads_at_first_log_compile_in_a_new_session(spark):
    from kinesis_log_watcher_spark.jvm import PAYLOAD as FUNCTION

    fresh = spark.newSession()
    env = with_envelope(_raw(fresh, [(TS, b'{"level":"warn"}'), (TS, b"x")]))
    compiled = compile_template("[{{.Log.level}}]")
    assert [r.line for r in compiled.apply(env).collect()] == ["[warn]"]
    # the Column carries the function: the session's catalog never has it
    assert not fresh.catalog.functionExists(FUNCTION)
