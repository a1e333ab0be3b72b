"""Property-based template testing (hypothesis): for ANY template built
from the documented dialect, the compiled Column path and the Python
render_fn escape hatch must agree row-for-row — including which rows are
dropped as render errors.

This pins the compiler's semantics far beyond the hand-written cases:
arbitrary interleavings of literals, envelope fields, aliases, .Log
paths, strftime calls, and Go layouts.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import property_examples

from kinesis_log_watcher_spark.functions.strftime import go_default_render
from kinesis_log_watcher_spark.sources.fixture import kinesis_records_fixture
from kinesis_log_watcher_spark.watcher import build_lines

NO_VALUE = "<no value>"

# ---- a Python reference renderer for the documented dialect ----------------


def make_render_fn(actions):
    # Everything the closure touches must be nested (pickled by value), a
    # stdlib module, or an importable package symbol — the test module
    # itself is not importable on executors, so module-level helpers
    # (pickled by reference) would fail to unpickle there.
    no_value = NO_VALUE
    default_render = go_default_render

    def ref_strftime(fmt, dt):
        out = []
        i = 0
        while i < len(fmt):
            if fmt[i] == "%" and i + 1 < len(fmt):
                c = fmt[i + 1]
                if c == "f":
                    out.append(f"{dt.microsecond:06d}")
                elif c == "L":
                    out.append(f"{dt.microsecond // 1000:03d}")
                elif c == "s":
                    import calendar

                    out.append(str(int(calendar.timegm(dt.timetuple()))))
                else:
                    out.append(dt.strftime("%" + c))
                i += 2
            else:
                out.append(fmt[i])
                i += 1
        return "".join(out)

    def render(row):
        parts = []
        for kind, arg in actions:
            if kind == "lit":
                parts.append(arg)
            elif kind == "field":
                v = row.get(arg)
                if arg == "Timestamp":
                    parts.append(default_render(v))
                else:
                    parts.append(no_value if v is None else str(v))
            elif kind == "log":
                log = row["Log"]
                if not isinstance(log, dict):
                    raise ValueError("not an object")
                cur = log
                path = arg.split(".")
                for p in path[:-1]:
                    cur = cur.get(p)
                    if not isinstance(cur, dict):
                        raise ValueError("intermediate not an object")
                leaf = cur.get(path[-1])
                if leaf is None:
                    parts.append(no_value)
                elif isinstance(leaf, (dict, list)):
                    parts.append(json.dumps(leaf, separators=(",", ":")))
                elif leaf is True or leaf is False:
                    parts.append("true" if leaf else "false")
                else:
                    parts.append(str(leaf))
            elif kind == "strftime":
                parts.append(ref_strftime(arg, row["Timestamp"]))
        return "".join(parts)

    return render


def to_template(actions) -> str:
    out = []
    for kind, arg in actions:
        if kind == "lit":
            out.append(arg)
        elif kind == "field":
            out.append("{{." + arg + "}}")
        elif kind == "log":
            out.append("{{.Log." + arg + "}}")
        elif kind == "strftime":
            out.append('{{strftime "' + arg + '" .Timestamp}}')
    return "".join(out)


_LITS = st.text(
    alphabet="abc XYZ0-:/,", min_size=1, max_size=8
).filter(lambda s: "{{" not in s and "}}" not in s)
_FIELDS = st.sampled_from(
    ["HostId", "HostID", "ShortHostId", "ShortHostID", "SequenceNumber", "LogEntry", "Timestamp"]
)
_LOG_PATHS = st.sampled_from(
    ["level", "msg", "FieldName", "latency_ms", "nested", "nested.code", "missing", "nested.missing"]
)
_STRFTIMES = st.sampled_from(
    ["%Y-%m-%d", "%H:%M:%S", "%Y-%m-%dT%H:%M:%S.%f", "%s", "%d/%m/%y %L"]
)

_ACTION = st.one_of(
    st.tuples(st.just("lit"), _LITS),
    st.tuples(st.just("field"), _FIELDS),
    st.tuples(st.just("log"), _LOG_PATHS),
    st.tuples(st.just("strftime"), _STRFTIMES),
)


@settings(
    max_examples=property_examples(30),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(actions=st.lists(_ACTION, min_size=1, max_size=6))
def test_compiled_equals_reference_renderer(spark, records_cache, actions):
    template = to_template(actions)
    compiled = build_lines(records_cache, template=template, keep_errors=True)
    via_fn = build_lines(
        records_cache, render_fn=make_render_fn(actions), keep_errors=True
    )
    got = [(r.line, r._render_error) for r in compiled.collect()]
    exp = [(r.line, r._render_error) for r in via_fn.collect()]
    # error rows: only the flag must agree (messages differ by design)
    assert len(got) == len(exp)
    for (gl, ge), (el, ee) in zip(got, exp):
        assert ge == ee, template
        if not ge:
            assert gl == el, template


@pytest.fixture(scope="module")
def records_cache(spark):
    return kinesis_records_fixture(spark, n_records=60).cache()


@settings(
    max_examples=property_examples(25),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.text(alphabet="abc:/-.0123456789", min_size=0, max_size=24),
        min_size=1,
        max_size=8,
    )
)
def test_short_host_id_matches_go_semantics(spark, keys):
    """ShortHostId for ANY partition key must equal the Go reference
    logic (main.go:252-262): last ':'-segment, then strip one leading
    'task/' or 'instance/'. Covers empty strings, missing/trailing
    colons, repeated separators."""
    from kinesis_log_watcher_spark.envelope import short_host_id
    from pyspark.sql import functions as F

    def go_ref(pk: str) -> str:
        seg = pk.split(":")[-1]
        for prefix in ("task/", "instance/"):
            if seg.startswith(prefix):
                return seg[len(prefix):]
        return seg

    df = spark.createDataFrame([(k,) for k in keys], "pk string")
    got = [r.s for r in df.select(short_host_id(F.col("pk")).alias("s")).collect()]
    assert got == [go_ref(k) for k in keys]


# ---- range property: compiled HOFs vs a Python reference -------------------

_RANGE_CORPUS = [
    '{"xs":[1,2,3],"m":{"b":2,"a":1},"s":"str","n":5,'
    '"obj":{"name":"x"},"items":[{"name":"a","k":1},{"name":"b"}],'
    '"empty":[],"eobj":{},"nested":{"xs":[7,8]},"nullv":null,'
    '"mixed":[1,"a",null,{"name":"z"},[2]],"deep":[[1,2],[3]]}',
    '{"xs":"notarray","m":5,"items":{"a":{"name":"q"}},"empty":[0]}',
    "not json",
    "{}",
    '{"xs":[0,"","false","0",true,false],"m":{"only":null}}',
]

_TARGETS = [
    "xs", "m", "items", "empty", "eobj", "missing", "s", "n", "obj",
    "nullv", "mixed", "deep", "nested.xs",
]
_BODIES = ["[{{.}}]", "{{.}},", "{{.name}};", "{{if .}}T{{else}}F{{end}}"]


def _jtext(v):
    """The element's raw text as the string engine sees it
    (get_json_object / from_json array<string> semantics)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    return str(v)


def _truthy_text(t):
    if t is None or t == "" or t == "false" or t in ("[]", "{}"):
        return False
    try:
        return float(t) != 0.0
    except ValueError:
        return True


def _ref_range_render(payload_text, target, body, else_text):
    """Python reference for the compiled range semantics: returns the
    rendered string, or None for a render-error (dropped row)."""
    try:
        payload = json.loads(payload_text)
    except ValueError:
        payload = None
    if not isinstance(payload, dict):
        return None
    cur = payload
    parts = target.split(".")
    for p in parts[:-1]:
        cur = cur.get(p) if isinstance(cur, dict) else None
        if not isinstance(cur, dict):
            return None
    leaf = cur.get(parts[-1]) if isinstance(cur, dict) else None
    if isinstance(leaf, list):
        items = leaf
    elif isinstance(leaf, dict):
        items = [leaf[k] for k in sorted(leaf)]
    else:
        return None  # range over nil/missing/scalar: Go reflect error
    if not items:
        return else_text or ""
    out = []
    for el in items:
        t = _jtext(el)
        if body == "[{{.}}]":
            out.append("[" + (t if t is not None else NO_VALUE) + "]")
        elif body == "{{.}},":
            out.append((t if t is not None else NO_VALUE) + ",")
        elif body == "{{.name}};":
            if not isinstance(el, dict):
                return None  # field access on non-object element: error
            out.append((_jtext(el.get("name")) or NO_VALUE) + ";")
        else:  # {{if .}}T{{else}}F{{end}}
            out.append("T" if _truthy_text(t) else "F")
    return "".join(out)


@pytest.fixture(scope="module")
def range_corpus_df(spark):
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(_RANGE_CORPUS)],
        "rid long, LogEntry string",
    ).cache()


@settings(
    max_examples=property_examples(40),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    target=st.sampled_from(_TARGETS),
    body=st.sampled_from(_BODIES),
    with_else=st.booleans(),
)
def test_range_compiled_equals_reference(spark, range_corpus_df, target, body, with_else):
    from kinesis_log_watcher_spark.template import compile_template

    else_text = "E" if with_else else None
    tpl = (
        "{{range .Log." + target + "}}" + body
        + ("{{else}}" + else_text if else_text else "")
        + "{{end}}"
    )
    compiled = compile_template(tpl)
    rows = compiled.apply_with_errors(range_corpus_df, keep=("rid",)).collect()
    got = {r.rid: (None if r._render_error else r.line) for r in rows}
    exp = {
        i: _ref_range_render(p, target, body, else_text)
        for i, p in enumerate(_RANGE_CORPUS)
    }
    assert got == exp, tpl


@settings(
    max_examples=property_examples(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(actions=st.lists(_ACTION, min_size=1, max_size=5))
def test_define_template_root_wrap_identity(spark, records_cache, actions):
    """Wrapping ANY template in {{define}} + {{template "w" .}} (dot =
    the root record) must be an identity — sub-template inlining cannot
    change a single rendered byte or error flag."""
    body = to_template(actions)
    wrapped = '{{define "w"}}' + body + '{{end}}{{template "w" .}}'
    a = build_lines(records_cache, template=body, keep_errors=True).collect()
    b = build_lines(records_cache, template=wrapped, keep_errors=True).collect()
    assert [(r.line, r._render_error) for r in a] == [
        (r.line, r._render_error) for r in b
    ], wrapped


@settings(
    max_examples=property_examples(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(paths=st.lists(_LOG_PATHS, min_size=1, max_size=4))
def test_paren_and_var_identities(spark, records_cache, paths):
    """{{(.Log.p)}} ≡ {{.Log.p}}, and binding a path to a variable then
    using the variable N times ≡ accessing the path N times directly."""
    direct = "|".join("{{.Log." + p + "}}" for p in paths)
    parens = "|".join("{{(.Log." + p + ")}}" for p in paths)
    decls = "".join(
        "{{$v%d := .Log.%s}}" % (i, p) for i, p in enumerate(paths)
    )
    via_vars = decls + "|".join("{{$v%d}}" % i for i in range(len(paths)))
    a = build_lines(records_cache, template=direct, keep_errors=True).collect()
    for alt in (parens, via_vars):
        b = build_lines(records_cache, template=alt, keep_errors=True).collect()
        assert [(r.line, r._render_error) for r in a] == [
            (r.line, r._render_error) for r in b
        ], alt
