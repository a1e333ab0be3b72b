"""Control-flow + pipeline dialect tests (the text/template core the
reference parses in full, main.go:109): if/else if/else, with dot
rebinding, pipelines, and the built-in function set — all compiled to
Column exprs, verified against Go text/template semantics."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from kinesis_log_watcher_spark.envelope import RAW_KINESIS_SCHEMA, with_envelope
from kinesis_log_watcher_spark.template import (
    NO_VALUE,
    TemplateError,
    compile_template,
)


def _env(spark, payload: bytes, pk="uuid:abc", ts=datetime(2024, 5, 1, 12, 0, 0, 123456)):
    raw = spark.createDataFrame(
        [("s", "shardId-0", "0001", ts, pk, bytearray(payload))], RAW_KINESIS_SCHEMA
    )
    return with_envelope(raw)


def _render(spark, template, payload, **kw):
    compiled = compile_template(template)
    rows = compiled.apply(_env(spark, payload, **kw)).collect()
    return [r["line"] for r in rows]


# --- if / else ---------------------------------------------------------


def test_if_truthy_branch(spark):
    t = "{{if .Log.level}}L={{.Log.level}}{{else}}none{{end}}"
    assert _render(spark, t, b'{"level": "warn"}') == ["L=warn"]
    assert _render(spark, t, b'{"other": 1}') == ["none"]


@pytest.mark.parametrize(
    "payload,expect",
    [
        (b'{"v": 0}', "F"),        # number zero → empty
        (b'{"v": 1}', "T"),
        (b'{"v": ""}', "F"),       # empty string → empty
        (b'{"v": "x"}', "T"),
        (b'{"v": false}', "F"),
        (b'{"v": true}', "T"),
        (b'{"v": null}', "F"),     # nil → empty
        (b'{"v": []}', "F"),       # empty slice → empty
        (b'{"v": [0]}', "T"),
        (b'{"v": {}}', "F"),       # empty map → empty
        (b'{"v": {"a":1}}', "T"),
    ],
)
def test_go_truthiness(spark, payload, expect):
    t = "{{if .Log.v}}T{{else}}F{{end}}"
    assert _render(spark, t, payload) == [expect]


def test_else_if_chain(spark):
    t = (
        '{{if eq .Log.lv "a"}}A{{else if eq .Log.lv "b"}}B'
        "{{else}}other{{end}}"
    )
    assert _render(spark, t, b'{"lv": "a"}') == ["A"]
    assert _render(spark, t, b'{"lv": "b"}') == ["B"]
    assert _render(spark, t, b'{"lv": "z"}') == ["other"]


def test_nested_if(spark):
    t = "{{if .Log.a}}{{if .Log.b}}both{{else}}a-only{{end}}{{else}}no-a{{end}}"
    assert _render(spark, t, b'{"a":1,"b":1}') == ["both"]
    assert _render(spark, t, b'{"a":1}') == ["a-only"]
    assert _render(spark, t, b'{"b":1}') == ["no-a"]


def test_if_condition_on_nil_log_drops_row(spark):
    """Go: field access on a nil payload errors even inside a condition →
    row dropped (main.go:283-287 semantics)."""
    t = "{{if .Log.a}}x{{else}}y{{end}}"
    assert _render(spark, t, b"not json") == []


def test_if_envelope_field(spark):
    t = "{{if .SequenceNumber}}has-seq{{end}}"
    assert _render(spark, t, b"x") == ["has-seq"]


# --- with --------------------------------------------------------------


def test_with_rebinds_dot(spark):
    payload = json.dumps({"user": {"name": "ada", "id": 7}}).encode()
    t = "{{with .Log.user}}{{.name}}#{{.id}}{{else}}anon{{end}}"
    assert _render(spark, t, payload) == ["ada#7"]
    assert _render(spark, t, b'{"other": 1}') == ["anon"]


def test_with_dot_renders_value(spark):
    t = "{{with .Log.msg}}[{{.}}]{{end}}"
    assert _render(spark, t, b'{"msg": "hi"}') == ["[hi]"]
    # falsey target → body skipped entirely
    assert _render(spark, t, b'{"msg": ""}') == [""]


def test_with_nested_under_rebound_dot(spark):
    payload = json.dumps({"a": {"b": {"c": 9}}}).encode()
    t = "{{with .Log.a}}{{.b.c}}{{end}}"
    assert _render(spark, t, payload) == ["9"]


def test_with_scalar_envelope_field(spark):
    t = "{{with .ShortHostId}}<{{.}}>{{end}}"
    assert _render(spark, t, b"x") == ["<abc>"]


# --- pipelines + functions --------------------------------------------


def test_pipeline_printf(spark):
    t = '{{.Log.n | printf "n=%s"}}'
    assert _render(spark, t, b'{"n": 42}') == ["n=42"]


def test_printf_verbs(spark):
    t = '{{printf "%s|%d|%.2f|%q" .Log.s .Log.i .Log.f .Log.s}}'
    assert _render(spark, t, b'{"s":"x","i":7,"f":1.5}') == ['x|7|1.50|"x"']


def test_printf_numeric_verb_mismatch_drops_row(spark):
    assert _render(spark, '{{printf "%d" .Log.s}}', b'{"s":"abc"}') == []


def test_len_function(spark):
    t = '{{len .Log.arr}}/{{len .Log.obj}}/{{len .Log.s}}'
    payload = json.dumps({"arr": [1, 2, 3], "obj": {"a": 1, "b": 2}, "s": "abcd"}).encode()
    assert _render(spark, t, payload) == ["3/2/4"]
    # Go len(string) counts bytes: "é" is 2 UTF-8 bytes
    payload = json.dumps({"arr": [], "obj": {}, "s": "é"}).encode()
    assert _render(spark, "{{len .Log.s}}", payload) == ["2"]


def test_print_println_spacing(spark):
    # Go fmt.Sprint: space only between two non-string operands;
    # fmt.Sprintln: always spaced + newline
    payload = b'{"a": 1, "b": 2, "s": "x"}'
    assert _render(spark, "{{print .Log.a .Log.b}}", payload) == ["1 2"]
    assert _render(spark, "{{print .Log.s .Log.a}}", payload) == ["x1"]
    assert _render(spark, "{{print .Log.a .Log.s}}", payload) == ["1x"]
    assert _render(spark, "{{println .Log.s .Log.a}}", payload) == ["x 1\n"]


def test_comparisons(spark):
    t = (
        '{{if lt .Log.k 50}}low{{else}}high{{end}}'
        '-{{if eq .Log.tag "x"}}X{{else}}notX{{end}}'
    )
    assert _render(spark, t, b'{"k": 7, "tag": "x"}') == ["low-X"]
    assert _render(spark, t, b'{"k": 99, "tag": "y"}') == ["high-notX"]


def test_numeric_compare_is_numeric_not_lexicographic(spark):
    # "9" < "10" numerically (lexicographically "10" < "9")
    t = "{{if lt .Log.a .Log.b}}lt{{else}}ge{{end}}"
    assert _render(spark, t, b'{"a": 9, "b": 10}') == ["lt"]


def test_and_or_not(spark):
    t = (
        "{{if and .Log.a .Log.b}}both{{end}}"
        "{{if or .Log.c .Log.a}}some{{end}}"
        "{{if not .Log.c}}noc{{end}}"
    )
    assert _render(spark, t, b'{"a":1,"b":2}') == ["bothsomenoc"]


def test_and_returns_value_semantics(spark):
    # Go: and returns the last arg when all truthy, first falsey otherwise
    assert _render(spark, "{{and .Log.a .Log.b}}", b'{"a":1,"b":2}') == ["2"]
    assert _render(spark, "{{or .Log.z .Log.b}}", b'{"b":2}') == ["2"]


def test_strftime_in_pipeline_form(spark):
    [line] = _render(spark, '{{strftime "%Y" .Timestamp}}', b"x")
    assert line == "2024"


def test_missing_key_still_no_value_inside_if_body(spark):
    t = "{{if .Log.a}}[{{.Log.missing}}]{{end}}"
    assert _render(spark, t, b'{"a":1}') == [f"[{NO_VALUE}]"]


# --- range -------------------------------------------------------------


def test_range_scalars(spark):
    t = "{{range .Log.xs}}[{{.}}]{{end}}"
    assert _render(spark, t, b'{"xs": [1, 2, 3]}') == ["[1][2][3]"]
    assert _render(spark, t, b'{"xs": ["a", "b"]}') == ["[a][b]"]


def test_range_objects(spark):
    payload = json.dumps(
        {"items": [{"name": "x", "n": 1}, {"name": "y", "n": 2}]}
    ).encode()
    t = "{{range .Log.items}}{{.name}}={{.n}};{{end}}"
    assert _render(spark, t, payload) == ["x=1;y=2;"]


def test_range_empty_takes_else(spark):
    t = "{{range .Log.xs}}x{{else}}empty{{end}}"
    assert _render(spark, t, b'{"xs": []}') == ["empty"]
    assert _render(spark, t, b'{"xs": [1]}') == ["x"]


def test_range_map_iterates_values_keys_sorted(spark):
    # Go ranges maps in sorted key order, dot = value
    t = "{{range .Log.m}}{{.}},{{end}}"
    assert _render(spark, t, b'{"m": {"b": 2, "a": 1, "c": 3}}') == ["1,2,3,"]


def test_range_over_missing_or_scalar_drops_row(spark):
    # Go: range can't iterate over <no value> / a number / a string → error
    t = "{{range .Log.xs}}x{{end}}"
    assert _render(spark, t, b'{"other": 1}') == []
    assert _render(spark, t, b'{"xs": 5}') == []
    assert _render(spark, t, b'{"xs": "abc"}') == []
    assert _render(spark, t, b'{"xs": null}') == []


def test_range_null_element_renders_no_value(spark):
    t = "{{range .Log.xs}}[{{.}}]{{end}}"
    assert _render(spark, t, b'{"xs": [1, null]}') == [f"[1][{NO_VALUE}]"]


def test_range_body_field_on_scalar_elem_drops_row(spark):
    t = "{{range .Log.xs}}{{.name}}{{end}}"
    assert _render(spark, t, b'{"xs": [1, 2]}') == []


def test_nested_range(spark):
    payload = json.dumps({"rows": [{"c": [1, 2]}, {"c": [3]}]}).encode()
    t = "{{range .Log.rows}}({{range .c}}{{.}}.{{end}}){{end}}"
    assert _render(spark, t, payload) == ["(1.2.)(3.)"]


def test_range_inside_if_and_if_inside_range(spark):
    payload = json.dumps({"xs": [1, 0, 2]}).encode()
    t = "{{if .Log.xs}}{{range .Log.xs}}{{if .}}+{{else}}-{{end}}{{end}}{{end}}"
    assert _render(spark, t, payload) == ["+-+"]


def test_range_nested_object_elements(spark):
    payload = json.dumps({"items": [{"u": {"id": 7}}, {"u": {"id": 8}}]}).encode()
    t = "{{range .Log.items}}{{.u.id}} {{end}}"
    assert _render(spark, t, payload) == ["7 8 "]


def test_range_whitespace_trim(spark):
    t = "{{range .Log.xs -}} {{.}} {{- end}}"
    assert _render(spark, t, b'{"xs": [1, 2]}') == ["12"]


def test_range_two_var_else_branch_binds_both(spark):
    # Go scope: both declared variables extend to {{end}}, so the else
    # branch sees them (holding the empty pipeline value)
    t = "{{range $i, $v := .Log.xs}}x{{else}}{{$i}}/{{$v}}{{end}}"
    assert _render(spark, t, b'{"xs": []}') == ["[]/[]"]


def test_printf_piped_without_format_raises(spark):
    # Go allows {{P | printf}} (dynamic format) — our printf requires a
    # literal format, and must reject cleanly, not crash
    with pytest.raises(TemplateError, match="literal format"):
        compile_template('{{"x" | printf}}')


def test_hoist_survives_variables_in_scope(spark):
    # a variable declaration must not disable the range-collection hoist
    # when the range target doesn't reference it
    c = compile_template("{{$x := .HostId}}{{range .Log.xs}}{{.}}{{end}}{{$x}}")
    assert any("_items_" in n for n in c.prep), list(c.prep)
    assert _render_c(spark, c, b'{"xs": [1, 2]}') == ["12uuid:abc"]


def _render_c(spark, compiled, payload, **kw):
    rows = compiled.apply(_env(spark, payload, **kw)).collect()
    return [r["line"] for r in rows]


def test_range_variables_render(spark):
    t = "{{range $i, $v := .Log.xs}}{{$i}}:{{$v}} {{end}}"
    assert _render(spark, t, b'{"xs": [7, 8]}') == ["0:7 1:8 "]
    t = "{{range $v := .Log.xs}}[{{$v}}={{.}}]{{end}}"
    assert _render(spark, t, b'{"xs": ["a", "b"]}') == ["[a=a][b=b]"]


# --- general variables -------------------------------------------------


def test_variable_declaration_and_use(spark):
    t = "{{$x := .Log.a}}{{$x}}|{{$x}}"
    assert _render(spark, t, b'{"a": "hi"}') == ["hi|hi"]
    t = "{{$o := .Log.o}}{{$o.b}}"
    assert _render(spark, t, b'{"o": {"b": 3}}') == ["3"]


def test_variable_reassignment_same_scope(spark):
    t = '{{$x := "a"}}{{$x = "b"}}{{$x}}'
    assert _render(spark, t, b"{}") == ["b"]


def test_if_with_variable_declaration(spark):
    t = "{{if $x := .Log.a}}y{{$x}}{{else}}n{{$x}}{{end}}"
    assert _render(spark, t, b'{"a": 5}') == ["y5"]
    assert _render(spark, t, b'{"b": 5}') == [f"n{NO_VALUE}"]
    t = "{{with $x := .Log.o}}{{.b}}/{{$x.b}}{{end}}"
    assert _render(spark, t, b'{"o": {"b": 2}}') == ["2/2"]


def test_variable_scope_does_not_escape_block(spark):
    # declared inside {{if}} → out of scope after {{end}} (Go rule)
    with pytest.raises(TemplateError, match="undefined variable"):
        compile_template("{{if .Log.a}}{{$x := 1}}{{end}}{{$x}}")


def test_cross_scope_assignment_if_branches(spark):
    # {{$x = P}} mutating an enclosing block's variable escapes the
    # block as a CASE-joined value (Go mutation semantics)
    t = "{{$x := 1}}{{if .Log.a}}{{$x = 2}}{{end}}{{$x}}"
    assert _render(spark, t, b'{"a": 9}') == ["2"]
    assert _render(spark, t, b"{}") == ["1"]
    t = '{{$x := "i"}}{{if .Log.a}}{{$x = "t"}}{{else}}{{$x = "e"}}{{end}}{{$x}}'
    assert _render(spark, t, b'{"a": 1}') == ["t"]
    assert _render(spark, t, b"{}") == ["e"]
    # assignment to a variable that was never declared still raises
    with pytest.raises(TemplateError, match="undefined variable"):
        compile_template("{{$y = 1}}")


def test_cross_scope_assignment_with_block(spark):
    # P evaluates under the rebound dot; binding escapes the with
    t = '{{$x := "i"}}{{with .Log.o}}{{$x = .b}}{{end}}{{$x}}'
    assert _render(spark, t, b'{"o": {"b": 7}}') == ["7"]
    assert _render(spark, t, b"{}") == ["i"]


def test_cross_scope_assignment_range_fold(spark):
    # loop-carried mutation compiles to an F.aggregate fold
    t = '{{$x := "none"}}{{range .Log.xs}}{{$x = .}}{{end}}{{$x}}'
    assert _render(spark, t, b'{"xs": [1, 2, 3]}') == ["3"]
    # self-referential accumulation (the classic fold)
    t = '{{$s := ""}}{{range .Log.xs}}{{$s = printf "%s<%s>" $s .}}{{end}}{{$s}}'
    assert _render(spark, t, b'{"xs": [1, 2, 3]}') == ["<1><2><3>"]
    # the body TEXT sees the pre-iteration value (Go sequencing)
    t = '{{$p := "S"}}{{range .Log.xs}}{{$p}}:{{$p = .}}{{end}}{{$p}}'
    assert _render(spark, t, b'{"xs": [1, 2, 3]}') == ["S:1:2:3"]
    # empty collection: else-branch assignment applies; no else → pre
    t = '{{$x := "i"}}{{range .Log.e}}{{$x = .}}{{else}}{{$x = "y"}}{{end}}{{$x}}'
    assert _render(spark, t, b'{"e": []}') == ["y"]
    t = '{{$x := "i"}}{{range .Log.e}}{{$x = .}}{{end}}{{$x}}'
    assert _render(spark, t, b'{"e": []}') == ["i"]


def test_cross_scope_assignment_shadowing(spark):
    # a local redeclaration shadows without escaping; an assignment
    # BEFORE the shadow escapes
    t = '{{$x := "out"}}{{if .Log.a}}{{$x := "in"}}{{$x}}{{end}}|{{$x}}'
    assert _render(spark, t, b'{"a": 1}') == ["in|out"]
    t = '{{$x := "0"}}{{if .Log.a}}{{$x = "1"}}{{$x := "2"}}{{$x}}{{end}}|{{$x}}'
    assert _render(spark, t, b'{"a": 1}') == ["2|1"]


def test_cross_scope_assignment_json_subtree(spark):
    # a mutated variable can carry a JSON subtree; later range/field
    # access work off the joined raw value
    t = '{{$o := .Log.o}}{{if .Log.a}}{{$o = .Log.xs}}{{end}}{{range $o}}[{{.}}]{{end}}'
    assert _render(spark, t, b'{"a": 1, "o": {}, "xs": [4, 5]}') == ["[4][5]"]
    t = '{{$o := .Log.o}}{{if .Log.missing}}{{$o = .Log.xs}}{{end}}{{$o.b}}'
    assert _render(spark, t, b'{"o": {"b": 3}, "xs": []}') == ["3"]


# --- define / template / block -----------------------------------------


def test_template_define_render(spark):
    t = '{{define "t"}}[{{.b}}]{{end}}{{template "t" .Log.o}}'
    assert _render(spark, t, b'{"o": {"b": 9}}') == ["[9]"]
    # whole-record argument: dot inside the body is the root record
    t = '{{define "t"}}{{.ShortHostId}}/{{.Log.a}}{{end}}{{template "t" .}}'
    assert _render(spark, t, b'{"a": 1}') == ["abc/1"]


def test_template_no_arg_nil_dot(spark):
    # Go: dot is nil inside a no-arg invocation; rendering nil gives
    # <no value>, dereferencing it is an exec-time error (row dropped)
    t = '{{define "t"}}x{{.}}{{end}}{{template "t"}}'
    assert _render(spark, t, b"{}") == [f"x{NO_VALUE}"]
    t = '{{define "t"}}{{.f}}{{end}}{{template "t"}}'
    assert _render(spark, t, b"{}") == []


def test_block_nested_inside_if(spark):
    t = '{{if .Log.a}}{{block "b" .Log.o}}<{{.v}}>{{end}}{{end}}'
    assert _render(spark, t, b'{"a": 1, "o": {"v": 4}}') == ["<4>"]


def test_block_requires_pipeline(spark):
    with pytest.raises(TemplateError, match="pipeline"):
        compile_template('{{block "b"}}x{{end}}')


def test_recursive_template_bounded(spark):
    t = (
        '{{define "r"}}{{.v}}{{if .next}}>{{template "r" .next}}{{end}}{{end}}'
        '{{template "r" .Log}}'
    )
    payload = json.dumps({"v": 1, "next": {"v": 2, "next": {"v": 3}}}).encode()
    assert _render(spark, t, payload) == ["1>2>3"]
    # deeper than MAX_TEMPLATE_DEPTH → render error → row dropped
    deep: dict = {"v": 0}
    cur = deep
    for i in range(1, 12):
        cur["next"] = {"v": i}
        cur = cur["next"]
    assert _render(spark, t, json.dumps(deep).encode()) == []


def test_dollar_rebinds_to_template_argument(spark):
    # Go exec.go walkTemplate: inside an invocation, $ IS the argument
    t = '{{define "t"}}{{$.v}}{{end}}{{template "t" .Log.o}}'
    assert _render(spark, t, b'{"o": {"v": 1}}') == ["1"]
    # and {{template "t" $}} passes the enclosing data value through —
    # at top level that is the root record
    t = (
        '{{define "t"}}{{.ShortHostId}}:{{.Log.a}}{{end}}'
        '{{range .Log.xs}}{{template "t" $}}{{end}}'
    )
    assert _render(spark, t, b'{"a": 7, "xs": [1, 2]}') == ["abc:7abc:7"]
    # nested invocation: the inner body's $ is the inner argument
    t = (
        '{{define "in"}}[{{$.w}}]{{end}}'
        '{{define "out"}}{{template "in" $.o}}{{end}}'
        '{{template "out" .Log}}'
    )
    assert _render(spark, t, b'{"o": {"w": 3}}') == ["[3]"]


def test_else_if_with_declaration(spark):
    t = "{{if .Log.a}}A{{else if $y := .Log.b}}B{{$y}}{{else}}C{{end}}"
    assert _render(spark, t, b'{"a": 1}') == ["A"]
    assert _render(spark, t, b'{"b": 2}') == ["B2"]
    assert _render(spark, t, b'{"c": 3}') == ["C"]


def test_root_dollar_variable(spark):
    # $ is the root data value — usable from inside rebound-dot bodies
    t = "{{range .Log.xs}}{{$.Log.pre}}{{.}};{{end}}"
    assert _render(spark, t, b'{"pre": "p", "xs": [1, 2]}') == ["p1;p2;"]
    t = "{{with .Log.o}}{{.v}}/{{$.ShortHostId}}{{end}}"
    assert _render(spark, t, b'{"o": {"v": 9}}') == ["9/abc"]
    with pytest.raises(TemplateError, match="not renderable"):
        compile_template("{{$}}")


# --- parenthesized sub-pipelines ---------------------------------------


def test_paren_subpipeline_operands(spark):
    t = "{{if (and .Log.a (not .Log.b))}}Y{{else}}N{{end}}"
    assert _render(spark, t, b'{"a": 1, "b": 0}') == ["Y"]
    assert _render(spark, t, b'{"a": 1, "b": 2}') == ["N"]
    t = '{{printf "%d" (len .Log.xs)}}'
    assert _render(spark, t, b'{"xs": [1, 2, 3]}') == ["3"]
    t = "{{if (eq (len .Log.xs) 2)}}two{{else}}other{{end}}"
    assert _render(spark, t, b'{"xs": [1, 2]}') == ["two"]


def test_paren_nested_pipeline_and_literals(spark):
    # a full pipeline may sit inside parens; parens in string literals
    # are data, not grouping
    t = '{{(.Log.s | printf "%s?")}}'
    assert _render(spark, t, b'{"s": "q"}') == ["q?"]
    t = '{{eq .Log.s "(x)"}}'
    assert _render(spark, t, b'{"s": "(x)"}') == ["true"]


def test_unbalanced_parens_raise(spark):
    for bad in ["{{(}}", "{{)}}", "{{if (and .Log.a}}x{{end}}"]:
        with pytest.raises(TemplateError):
            compile_template(bad)


# --- compile errors ----------------------------------------------------


def test_undefined_template_raises(spark):
    with pytest.raises(TemplateError, match="not defined"):
        compile_template('{{template "nope" .}}')
    with pytest.raises(TemplateError):
        compile_template('{{define "x"}}y{{end}}{{define "x"}}z{{end}}')


@pytest.mark.parametrize(
    "bad",
    [
        "{{if .Log.a}}unclosed",
        "{{end}}",
        "{{else}}",
        "{{if .Log.a}}{{else}}{{else}}x{{end}}",
        "{{unknownfn .Log.a}}",
        '{{printf "%d %d" .Log.a}}',  # verb/arg count mismatch
    ],
)
def test_malformed_templates_raise(bad):
    with pytest.raises(TemplateError):
        compile_template(bad)


def test_whitespace_trim_with_blocks(spark):
    t = "{{if .Log.a -}}   x   {{- end}}"
    assert _render(spark, t, b'{"a":1}') == ["x"]


def test_with_inside_range_body(spark):
    payload = json.dumps(
        {"items": [{"name": "a"}, {"k": 1}, {"name": "c"}]}
    ).encode()
    t = "{{range .Log.items}}{{with .name}}<{{.}}>{{else}}anon{{end}}{{end}}"
    assert _render(spark, t, payload) == ["<a>anon<c>"]


# --- index builtin -----------------------------------------------------


def test_index_array_and_map(spark):
    payload = json.dumps(
        {"xs": [10, 20, 30], "m": {"k": "v"}, "grid": [[1, 2], [3, 4]]}
    ).encode()
    assert _render(spark, "{{index .Log.xs 1}}", payload) == ["20"]
    assert _render(spark, '{{index .Log.m "k"}}', payload) == ["v"]
    assert _render(spark, "{{index .Log.grid 1 0}}", payload) == ["3"]


def test_index_missing_renders_no_value(spark):
    payload = b'{"xs": [1]}'
    assert _render(spark, "{{index .Log.xs 5}}", payload) == [NO_VALUE]
    assert _render(spark, '{{index .Log.m "k"}}', b'{"m": {}}') == [NO_VALUE]


def test_index_nil_target_drops_row(spark):
    assert _render(spark, "{{index .Log.xs 0}}", b'{"other": 1}') == []
    assert _render(spark, "{{index .Log.xs 0}}", b"not json") == []


def test_index_in_condition_and_range_elem(spark):
    payload = json.dumps({"rows": [{"c": [7, 8]}, {"c": [9]}]}).encode()
    t = "{{range .Log.rows}}({{index .c 0}}){{end}}"
    assert _render(spark, t, payload) == ["(7)(9)"]


def test_index_dynamic_argument_raises(spark):
    with pytest.raises(TemplateError):
        compile_template("{{index .Log.xs .Log.i}}")


# --- slice / html / urlquery builtins ----------------------------------


def test_slice_builtin(spark):
    payload = b'{"xs": [1, 2, 3, 4]}'
    assert _render(spark, "{{range slice .Log.xs 1 3}}[{{.}}]{{end}}", payload) == [
        "[2][3]"
    ]
    assert _render(spark, "{{range slice .Log.xs 2}}{{.}}{{end}}", payload) == ["34"]
    # slicing a non-array drops the row (Go errors)
    assert _render(spark, "{{range slice .Log.xs 0}}x{{end}}", b'{"xs": 5}') == []


def test_html_escape_matches_go(spark):
    payload = json.dumps({"s": '<a href="x">&\'b\'</a>'}).encode()
    [line] = _render(spark, "{{html .Log.s}}", payload)
    assert line == "&lt;a href=&#34;x&#34;&gt;&amp;&#39;b&#39;&lt;/a&gt;"


def test_urlquery_escape(spark):
    payload = json.dumps({"s": "a b&c=d"}).encode()
    [line] = _render(spark, "{{urlquery .Log.s}}", payload)
    assert line == "a+b%26c%3Dd"
    # Go QueryEscape parity where Java's URLEncoder differs: '~' stays
    # literal (RFC 3986 unreserved), '*' escapes
    payload = json.dumps({"s": "a~b*c"}).encode()
    [line] = _render(spark, "{{urlquery .Log.s}}", payload)
    assert line == "a~b%2Ac"


def test_html_in_pipeline(spark):
    [line] = _render(spark, "{{.Log.s | html}}", b'{"s": "<x>"}')
    assert line == "&lt;x&gt;"


def test_js_escape_builtin(spark):
    # Go template.JSEscapeString: \ ' " < > & = quoted; ASCII control
    # chars -> \u00XX (uppercase hex); printable non-ASCII passes
    payload = json.dumps(
        {"s": 'a"b\'c\\d<e>f&g=h', "n": "x\ny\tz", "u": "héllo"}
    ).encode()
    assert _render(spark, "{{js .Log.s}}", payload) == [
        'a\\"b\\\'c\\\\d\\u003Ce\\u003Ef\\u0026g\\u003Dh'
    ]
    assert _render(spark, "{{js .Log.n}}", payload) == ["x\\u000Ay\\u0009z"]
    assert _render(spark, "{{js .Log.u}}", payload) == ["héllo"]
    # pipe form appends the piped value as the argument
    assert _render(spark, "{{.Log.n | js}}", payload) == ["x\\u000Ay\\u0009z"]


def test_call_is_exec_error(spark):
    # Go: call requires a function value; JSON execution data cannot
    # contain one, so every call errors at exec time and the row drops
    payload = b'{"f": 1}'
    assert _render(spark, "{{call .Log.f}}", payload) == []
    assert _render(spark, "{{call .Log.f 1 2}}", payload) == []
    with pytest.raises(TemplateError, match="at least one argument"):
        compile_template("{{call}}")


def test_cross_scope_assignment_nested_folds(spark):
    # doubly loop-carried: the accumulator survives BOTH loop levels
    # (outer fold's accumulator feeds the inner fold's init)
    t = (
        '{{$s := ""}}{{range .Log.xss}}{{range .}}'
        '{{$s = printf "%s%s" $s .}}{{end}}'
        '{{$s = printf "%s|" $s}}{{end}}{{$s}}'
    )
    assert _render(spark, t, b'{"xss": [[1, 2], [3]]}') == ["12|3|"]
    # conditional mutation inside the loop: CASE-join within the fold
    t = '{{$n := "0"}}{{range .Log.xs}}{{if eq . "2"}}{{$n = .}}{{end}}{{end}}{{$n}}'
    assert _render(spark, t, b'{"xs": [1, 2, 3]}') == ["2"]
    assert _render(spark, t, b'{"xs": [1, 3]}') == ["0"]
