"""Template-dialect conformance sweep (round-10, r9 verdict item 7):
randomized NESTED control-flow templates — if/with/range bodies inside
each other, top-level variable declarations, cross-block reassignment,
define/template invocation — rendered by the compiled Column path and
checked against an independent Python evaluator of Go text/template's
semantics table (as documented in template.py's contract: dot
rebinding, text truthiness, <no value> for missing keys, render-error
row drops for nil-dot field access / range over non-iterables, sorted
map iteration, invocation-scoped variables).

The existing property tests sweep FLAT action lists and single range
blocks; this module locks the COMPOSITION semantics — the part a
future template change is most likely to break silently.

The generator and the evaluator share one AST, so the test never
parses: hypothesis builds the tree, one side serializes it to template
text for the compiler, the other side evaluates it directly.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import property_examples

from kinesis_log_watcher_spark.template import NO_VALUE, compile_template

# ---------------------------------------------------------------------------
# payload corpus: every structural edge the semantics table mentions
# ---------------------------------------------------------------------------

_CORPUS = [
    '{"a": 1, "b": 0, "s": "x", "xs": [1, 2, 3],'
    ' "m": {"k2": "v2", "k1": "v1"},'
    ' "obj": {"name": "n1", "xs": ["p", "q"]},'
    ' "empty": [], "eobj": {}, "nullv": null, "f": false, "t": true}',
    '{"a": 0, "s": "", "xs": [], "m": {}, "obj": {"name": ""}}',
    '{"xs": [{"name": "u"}, {"name": "v"}],'
    ' "deep": {"x": {"y": 5}}, "a": "txt"}',
    "not json",
    '{"a": 7, "obj": {"name": "z"}, "m": {"only": "one"}}',
    "[1, 2]",  # parseable but not an object: .Log.x access errors
]

# paths used as block targets / conditions / declarations (under .Log)
_PATHS = [
    "a", "b", "s", "xs", "m", "obj", "obj.name", "obj.xs",
    "deep", "deep.x", "deep.x.y", "empty", "eobj", "nullv",
    "f", "t", "missing",
]
# child keys accessed under a rebound dot
_CHILDREN = ["name", "xs", "k1", "x", "y", "missing"]


# ---------------------------------------------------------------------------
# AST → template text
# ---------------------------------------------------------------------------
# node shapes:
#   ("text", s)
#   ("log", path)       {{.Log.path}} at top, {{$.Log.path}} when dot is
#                       rebound (Go's $ = execution-data root)
#   ("dot",)            {{.}}                    (rebound dot only)
#   ("child", key)      {{.key}}                 (rebound dot only)
#   ("var", name)       {{$name}}
#   ("if", tgt_or_none, then, els)
#   ("with", tgt, body, els)
#   ("range", tgt, bind, body, els)   bind in (None, "v", "iv")
#   ("assign", name, path)     {{$name = .Log.path}}    (top-scope var)
#   ("call", body, path_or_none)  {{define}}+{{template "tN" [.Log.path]}}
#
# a tgt is None (the current dot), ("L", path) (root .Log access —
# $.Log.path from inside rebound bodies), or ("C", key) (child of the
# current dot; only generated when rebound)


def _target(tgt, rebound: bool) -> str:
    if tgt is None:
        return "."
    kind, p = tgt
    if kind == "L":
        return ("$.Log." if rebound else ".Log.") + p
    return "." + p


class _Serializer:
    """AST → template text; every ("call", body, _) node gets a UNIQUE
    define name assigned in pre-order (the reference evaluator carries
    the body on the node itself, so only the text needs the names)."""

    def __init__(self):
        self.defines: list[str] = []

    def text(self, nodes, rebound: bool) -> str:
        out = []
        for n in nodes:
            kind = n[0]
            if kind == "text":
                out.append(n[1])
            elif kind == "log":
                out.append("{{" + _target(("L", n[1]), rebound) + "}}")
            elif kind == "dot":
                out.append("{{.}}")
            elif kind == "child":
                out.append("{{." + n[1] + "}}")
            elif kind == "var":
                out.append("{{$" + n[1] + "}}")
            elif kind == "if":
                _, tgt, then, els = n
                out.append("{{if " + _target(tgt, rebound) + "}}")
                out.append(self.text(then, rebound))
                if els is not None:
                    out.append("{{else}}")
                    out.append(self.text(els, rebound))
                out.append("{{end}}")
            elif kind == "with":
                _, tgt, body, els = n
                out.append("{{with " + _target(tgt, rebound) + "}}")
                out.append(self.text(body, True))
                if els is not None:
                    out.append("{{else}}")
                    out.append(self.text(els, rebound))
                out.append("{{end}}")
            elif kind == "range":
                _, tgt, bind, body, els = n
                t = _target(tgt, rebound)
                if bind == "iv":
                    out.append("{{range $i, $v := " + t + "}}")
                elif bind == "v":
                    out.append("{{range $v := " + t + "}}")
                else:
                    out.append("{{range " + t + "}}")
                out.append(self.text(body, True))
                if els is not None:
                    out.append("{{else}}")
                    out.append(self.text(els, rebound))
                out.append("{{end}}")
            elif kind == "assign":
                out.append(
                    "{{$" + n[1] + " = "
                    + _target(("L", n[2]), rebound) + "}}"
                )
            elif kind == "js":
                out.append("{{js " + _target(n[1], rebound) + "}}")
            elif kind == "callerr":
                out.append("{{call " + _target(n[1], rebound) + "}}")
            elif kind == "call":
                _, body, tgt = n
                name = f"t{len(self.defines)}"
                self.defines.append("")  # reserve the name slot first
                self.defines[int(name[1:])] = (
                    "{{define \"" + name + "\"}}"
                    + self.text(body, True)
                    + "{{end}}"
                )
                arg = (
                    ""
                    if tgt is None
                    else " " + _target(("L", tgt), rebound)
                )
                out.append("{{template \"" + name + "\"" + arg + "}}")
        return "".join(out)


def to_template(nodes, prefix: str) -> str:
    s = _Serializer()
    body = s.text(nodes, rebound=False)
    return "".join(s.defines) + prefix + body


# round-11 extension: the escape/exec-error edges (r10 verdict item 8)
#   ("js", tgt)       {{js <target>}}   (the JS escaper builtin)
#   ("callerr", tgt)  {{call <target>}} (always an exec error in this
#                     engine: JSON data has no function values)


def _js_ref(s: str) -> str:
    """Reference of the engine's documented JSEscapeString surface:
    \\ ' " < > & = quoted, ASCII control chars -> \\u00XX (uppercase
    hex), everything else (incl. printable non-ASCII) passes."""
    table = {
        "\\": "\\\\", "'": "\\'", '"': '\\"',
        "<": "\\u003C", ">": "\\u003E",
        "&": "\\u0026", "=": "\\u003D",
    }
    out = []
    for ch in s:
        if ch in table:
            out.append(table[ch])
        elif ord(ch) < 0x20:
            out.append(f"\\u{ord(ch):04X}")
        else:
            out.append(ch)
    return "".join(out)


# ---------------------------------------------------------------------------
# the reference evaluator (Go semantics table over JSON-text values)
# ---------------------------------------------------------------------------


class Drop(Exception):
    """Render error: the row is dropped (Go exec error surface)."""


def _jtext(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    return str(v)


def _truthy(v) -> bool:
    t = _jtext(v)
    if t is None or t in ("", "false", "[]", "{}"):
        return False
    try:
        return float(t) != 0.0
    except ValueError:
        return True


def _walk(obj, parts):
    """Go map-access semantics: missing key → nil; access THROUGH a
    non-map → error."""
    cur = obj
    for p in parts[:-1]:
        if not isinstance(cur, dict):
            raise Drop()
        cur = cur.get(p)
    if not isinstance(cur, dict):
        raise Drop()
    return cur.get(parts[-1])


def _eval_log_path(log, path: str):
    return _walk(log, path.split("."))


def _render(v) -> str:
    t = _jtext(v)
    return NO_VALUE if t is None else t


def _tval(tgt, log, dot):
    """Evaluate a block target against the current dot / root log."""
    if tgt is None:
        return dot
    kind, p = tgt
    if kind == "L":
        return _eval_log_path(log, p)
    return _walk(dot, [p])  # child of dot: scalar/nil dot → error


def ref_eval(nodes, log, dot, env, rebound: bool) -> str:
    """dot is the current execution value (at top level only .Log.*
    accesses are generated, so the record itself needs no model)."""
    out = []
    for n in nodes:
        kind = n[0]
        if kind == "text":
            out.append(n[1])
        elif kind == "log":
            out.append(_render(_eval_log_path(log, n[1])))
        elif kind == "dot":
            out.append(_render(dot))
        elif kind == "child":
            if not isinstance(dot, dict):
                raise Drop()  # field access under nil/scalar dot
            out.append(_render(dot.get(n[1])))
        elif kind == "var":
            out.append(_render(env.get(n[1])))
        elif kind == "if":
            _, tgt, then, els = n
            cond = _tval(tgt, log, dot)
            if _truthy(cond):
                out.append(ref_eval(then, log, dot, env, rebound))
            elif els is not None:
                out.append(ref_eval(els, log, dot, env, rebound))
        elif kind == "with":
            _, tgt, body, els = n
            v = _tval(tgt, log, dot)
            if _truthy(v):
                out.append(ref_eval(body, log, v, env, True))
            elif els is not None:
                out.append(ref_eval(els, log, dot, env, rebound))
        elif kind == "range":
            _, tgt, bind, body, els = n
            v = _tval(tgt, log, dot)
            if isinstance(v, list):
                pairs = list(enumerate(v))
            elif isinstance(v, dict):
                pairs = [(k, v[k]) for k in sorted(v)]
            else:
                raise Drop()  # range over nil/missing/scalar
            if not pairs:
                if els is not None:
                    out.append(ref_eval(els, log, dot, env, rebound))
                continue
            for i, el in pairs:
                if bind == "iv":
                    env = dict(env)
                    env["i"], env["v"] = i, el
                elif bind == "v":
                    env = dict(env)
                    env["v"] = el
                out.append(ref_eval(body, log, el, env, True))
        elif kind == "assign":
            env[n[1]] = _eval_log_path(log, n[2])
        elif kind == "js":
            out.append(_js_ref(_render(_tval(n[1], log, dot))))
        elif kind == "callerr":
            _tval(n[1], log, dot)  # argument still evaluated first
            raise Drop()  # call of a non-function value
        elif kind == "call":
            _, body, tgt = n
            arg = None if tgt is None else _eval_log_path(log, tgt)
            # invocation scope: caller variables invisible, dot = arg
            out.append(ref_eval(body, log, arg, {}, True))
    return "".join(out)


def ref_render(payload_text: str, nodes, decl) -> "str | None":
    try:
        payload = json.loads(payload_text)
    except ValueError:
        payload = None
    log = payload  # nil when unparseable (main.go:276-279)
    env = {}
    try:
        if decl is not None:
            env[decl[0]] = _eval_log_path(log, decl[1])
        return ref_eval(nodes, log, None, env, False)
    except Drop:
        return None


# ---------------------------------------------------------------------------
# hypothesis strategies: recursive nesting, scope-correct by construction
# ---------------------------------------------------------------------------

_TEXTS = st.sampled_from(["<", "|", "x ", "0", ":"])
_PATH = st.sampled_from(_PATHS)
_CHILD = st.sampled_from(_CHILDREN)


def _block_target(rebound: bool):
    opts = [st.tuples(st.just("L"), _PATH)]
    if rebound:
        opts.append(st.tuples(st.just("C"), _CHILD))
    return st.one_of(*opts)


def _nodes(depth: int, rebound: bool, var_names: tuple, esc: bool = False):
    leaf = [st.tuples(st.just("text"), _TEXTS)]
    if rebound:
        leaf.append(st.tuples(st.just("dot")))
        leaf.append(st.tuples(st.just("child"), _CHILD))
    leaf.append(st.tuples(st.just("log"), _PATH))
    if esc:
        # escape/exec-error edges: js over any reachable target, call
        # (always an exec error) placed so branch guards decide whether
        # a row actually reaches it
        leaf.append(st.tuples(st.just("js"), _block_target(rebound)))
        leaf.append(st.tuples(st.just("callerr"), _block_target(rebound)))
    if var_names:
        leaf.append(st.tuples(st.just("var"), st.sampled_from(var_names)))
    opts = list(leaf)
    if depth > 0:
        sub = _nodes(depth - 1, rebound, var_names, esc)
        sub_rebound = _nodes(depth - 1, True, var_names, esc)
        els = st.one_of(st.none(), sub)
        tgt = _block_target(rebound)
        opts.append(
            st.tuples(
                st.just("if"),
                st.one_of(st.none(), tgt) if rebound else tgt,
                sub,
                els,
            )
        )
        opts.append(st.tuples(st.just("with"), tgt, sub_rebound, els))
        opts.append(
            st.tuples(
                st.just("range"),
                tgt,
                st.sampled_from([None, "v", "iv"]),
                sub_rebound,
                els,
            )
        )
        if var_names:
            opts.append(
                st.tuples(
                    st.just("assign"), st.sampled_from(var_names), _PATH
                )
            )
        if not rebound:
            # define bodies: dot-relative leaves only — inside the
            # invocation dot is the ARGUMENT (nil when absent) and
            # caller variables are invisible (Go invocation scoping);
            # nested blocks inside defines are covered by the flat
            # define identity test in test_template_property.py
            call_leaf = st.one_of(
                st.tuples(st.just("text"), _TEXTS),
                st.tuples(st.just("dot")),
                st.tuples(st.just("child"), _CHILD),
            )
            opts.append(
                st.tuples(
                    st.just("call"),
                    st.lists(call_leaf, min_size=1, max_size=2),
                    st.one_of(st.none(), _PATH),
                )
            )
    return st.lists(st.one_of(*opts), min_size=1, max_size=3)


_DECL = st.one_of(
    st.none(), st.tuples(st.just("x"), st.sampled_from(["a", "s", "obj"]))
)


@st.composite
def template_case(draw):
    decl = draw(_DECL)
    var_names = ("x",) if decl is not None else ()
    # esc=True (round-11): the js escaper and the always-erroring
    # {{call}} are ordinary leaves of the SAME composition space, so
    # one sweep covers control flow and the escape/exec-error edges
    # together (r10 verdict item 8) at a higher per-sweep budget
    # instead of two half-budget sweeps
    nodes = draw(_nodes(2, rebound=False, var_names=var_names, esc=True))
    return decl, nodes


# ---------------------------------------------------------------------------
# the sweep
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def conformance_df(spark):
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(_CORPUS)],
        "rid long, LogEntry string",
    ).cache()


@settings(
    max_examples=property_examples(45),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=template_case())
def test_nested_control_flow_matches_semantics_table(
    spark, conformance_df, case
):
    decl, nodes = case
    prefix = (
        "" if decl is None
        else "{{$" + decl[0] + " := .Log." + decl[1] + "}}"
    )
    tpl = to_template(nodes, prefix)
    compiled = compile_template(tpl)
    rows = compiled.apply_with_errors(conformance_df, keep=("rid",)).collect()
    got = {r.rid: (None if r._render_error else r.line) for r in rows}
    exp = {
        i: ref_render(p, nodes, decl) for i, p in enumerate(_CORPUS)
    }
    assert got == exp, tpl


# ---------------------------------------------------------------------------
# round-11 extension (r10 verdict item 8): js / call / recursive-define
# ---------------------------------------------------------------------------


def _chain(depth: int) -> str:
    """{"v": 0, "next": {"v": 1, ... }} with `depth` total levels."""
    payload: dict = {"v": 0}
    cur = payload
    for i in range(1, depth):
        cur["next"] = {"v": i}
        cur = cur["next"]
    return json.dumps(payload)


def _render_one(spark, tpl: str, payloads: list[str]):
    compiled = compile_template(tpl)
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "rid long, LogEntry string",
    )
    rows = compiled.apply_with_errors(df, keep=("rid",)).collect()
    return {r.rid: (None if r._render_error else r.line) for r in rows}


def test_recursion_depth_boundary_exact(spark):
    """Self-recursive define over data chains: MAX_TEMPLATE_DEPTH=8
    expansions succeed, the 9th is a render error — so the per-row
    verdict is a pure function of the DATA's nesting depth, checked at
    every depth around the bound in one projection."""
    from kinesis_log_watcher_spark.template import MAX_TEMPLATE_DEPTH

    t = (
        '{{define "r"}}{{.v}}{{with .next}}>{{template "r" .}}'
        "{{end}}{{end}}"
        '{{template "r" .Log}}'
    )
    depths = list(range(1, 13))
    got = _render_one(spark, t, [_chain(d) for d in depths])
    for rid, d in enumerate(depths):
        if d <= MAX_TEMPLATE_DEPTH:
            # the top-level invocation compiles at depth 0, so the
            # k-th RECURSIVE call site compiles at depth k and the
            # level-8 site is the error node: d-level chains execute
            # sites 0..d-1 and survive iff d <= 8
            assert got[rid] == ">".join(str(i) for i in range(d)), d
        else:
            assert got[rid] is None, d


def test_mutual_recursion_per_name_bound(spark):
    """a <-> b mutual recursion: the unroll bound is PER NAME, so an
    alternating chain survives ~2x the single-name bound."""
    from kinesis_log_watcher_spark.template import MAX_TEMPLATE_DEPTH

    t = (
        '{{define "a"}}a{{with .next}}{{template "b" .}}{{end}}{{end}}'
        '{{define "b"}}b{{with .next}}{{template "a" .}}{{end}}{{end}}'
        '{{template "a" .Log}}'
    )
    # chain of depth d renders "ab"*... with d letters total; each
    # name's counter advances every OTHER level, so the first error
    # node (a's 8th recursion) sits at level 16 (0-indexed). ONE
    # compile, both boundary depths as rows of the same projection.
    ok_d, err_d = 2 * MAX_TEMPLATE_DEPTH, 2 * MAX_TEMPLATE_DEPTH + 1
    got = _render_one(spark, t, [_chain(ok_d), _chain(err_d)])
    assert got[0] == ("ab" * ok_d)[:ok_d]
    assert got[1] is None


def test_argless_invocation_nil_dot_and_dollar(spark):
    """{{template "r"}} with NO argument: dot is nil inside AND $
    rebinds to the (nil) argument (Go exec.go walkTemplate), so BOTH
    access forms are nil-dereference exec errors and every row drops —
    an argless body can consult no data at all. A literal-only argless
    recursive body therefore recurses unconditionally: it renders the
    full 8-expansion unroll and then hits the depth-bound error node
    on every row."""
    for t in (
        '{{define "r"}}{{if .Log.a}}x{{end}}{{end}}{{template "r"}}',
        '{{define "r"}}{{if $.Log.a}}x{{end}}{{end}}{{template "r"}}',
        '{{define "r"}}x{{template "r"}}{{end}}{{template "r"}}',
    ):
        got = _render_one(spark, t, ['{"a": 1}', '{"a": 0}', "not json"])
        assert got == {0: None, 1: None, 2: None}, t
