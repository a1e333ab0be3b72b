"""Go-text/template (the reference's query language) → Column compiler.

The reference's only user-facing query surface is a Go text/template
applied per record (reference main.go:103-114 compile, 281-289 execute;
README.md:13-24 documents the dialect). The reference parses the FULL
text/template language (main.go:109); this compiler covers the documented
constructs plus the control-flow/pipeline core:

- ``{{.Field}}`` — envelope field access (README.md:15-19)
- ``{{.Log.FieldName}}`` — nested access into the dynamic JSON payload
  (README.md:19)
- ``{{.Timestamp.Format "<go layout>"}}`` — method call (README.md:21-23)
- ``{{strftime "<fmt>" .Timestamp}}`` — function call (README.md:24,
  main.go:106)
- ``{{if P}} … {{else if P}} … {{else}} … {{end}}`` — conditionals with
  Go truthiness (empty = false / 0 / nil / "" / empty map-slice)
- ``{{with P}} … {{else}} … {{end}}`` — dot rebinding: inside the body
  ``.`` is P's value and ``.x`` resolves under it (supported when P is a
  ``.Log`` path; rebinding dot to a scalar supports ``.`` only)
- pipelines ``{{P | cmd args | cmd2}}`` with the text/template built-ins
  ``printf print println len index slice html urlquery js call not and
  or eq ne lt le gt ge`` plus ``strftime``; a piped value is appended as
  the final argument of the next command. Parenthesized sub-pipelines
  compile recursively as operands (``{{if (and .Log.a (not .Log.b))}}``,
  ``{{printf "%s" (len .Log.xs)}}``). ``index``/``slice`` take literal
  indices/bounds (compiled into the JSON path / an ``F.slice`` call).
  ``js`` is Go's JSEscapeString as chained JVM replaces (divergence:
  non-printable non-ASCII runes pass through instead of Go's u-escape).
  ``call`` requires a FUNCTION value, which JSON execution data can
  never contain, so it compiles to Go's exec-time "call of
  non-function" error (row dropped) — exact parity over this engine's
  data model.
- ``{{range P}} … {{else}} … {{end}}`` — iterate a JSON array (dot = each
  element) or object (dot = each value, keys sorted — Go map order); the
  per-element renders concatenate into the SAME output line, so it
  compiles to ``transform`` + ``array_join`` (higher-order functions, no
  row multiplication, no Python). Empty → else branch; range over
  nil/missing/scalar is a render error (Go reflect semantics). Range
  *variables* are supported: ``{{range $v := P}}`` binds the element,
  ``{{range $i, $v := P}}`` binds array index (or sorted map key) and
  value; ``$name`` / ``$name.field`` resolve lexically inside the block.
- ``{{define "n"}}…{{end}}`` + ``{{template "n" [P]}}`` + ``{{block}}``
  — named sub-templates, inlined at compile time with dot rebound to the
  argument (nil when absent — field access under a nil dot is a runtime
  render error, Go's error surface; caller variables invisible — Go
  invocation scoping). ``{{block}}`` is legal at any nesting depth.
  Recursive invocation is depth-bounded unrolled (MAX_TEMPLATE_DEPTH
  levels; rows recursing deeper become render errors — the analogue of
  Go's exec-time depth cap).
- ``$`` — the execution data value (Go semantics): the root record at
  top level — ``$.Field`` / ``$.Log.path`` resolve under it from inside
  range/with bodies where dot is rebound — and rebound to the
  invocation ARGUMENT inside ``{{template}}``/``{{block}}`` bodies;
  ``{{template "t" $}}`` passes it through.
- ``{{$x := P}}`` — general variable declaration, anywhere; lexically
  scoped to the enclosing block per Go's rule (scope runs to the
  {{end}}); ``{{if $x := P}}`` / ``{{with $x := P}}`` /
  ``{{range $v := P}}`` declaration forms all bind. ``{{$x = P}}``
  reassignment is fully supported, including assignment to an enclosing
  block's variable: an if/with-branch assignment escapes its block as a
  CASE-joined value, and a range-body assignment (including the
  self-referential fold ``{{$s = printf "%s%s" $s .}}``) compiles the
  whole loop to one ``F.aggregate`` whose accumulator carries the
  mutated bindings (see ``_compile_range``). Nothing in the dialect
  requires the ``watcher.watch(render_fn=…)`` escape hatch anymore; it
  remains available for user-defined Python rendering.

This compiler turns a template into ONE string Column (the rendered line)
plus ONE boolean Column (the render-error condition). That reproduces the
reference's execution semantics declaratively:

- render error → the row is dropped from output and the stream continues;
  the first error is reported once (main.go:283-289) — see
  ``CompiledTemplate.apply`` and watcher.py.
- unparseable payload → ``Log`` is nil (main.go:276-279); any
  ``{{.Log.x}}`` then errors → row dropped.
- the payload is parsed ONCE per row (a hoisted ``klw_payload`` call,
  the in-repo Java scan in ``jvm/PayloadScan.java``, which returns the
  top-level keys the template reads exactly as ``from_json`` would —
  see ``_hoisted_payload``); a key repeated at the top level of the
  payload renders its LAST value, as Go's ``encoding/json`` decodes it.
- a payload, or a ``{{range}}``/``slice``/``len``/field-access target,
  whose first character after JSON whitespace cannot open the value
  being parsed (``{`` for an object, ``[`` for an array) is never
  parsed: it is nil or not an object either way, and Spark's JSON
  functions pay one thrown exception per row to say so
  (``envelope.json_opens``; the numbers are in ``_hoisted_payload``).
- a *missing* key on a parsed JSON object renders Go's ``<no value>``
  placeholder (Go map semantics), not an error.
- an unknown top-level field likewise renders ``<no value>`` (the
  reference's row is a ``map[string]interface{}``, main.go:264), and so
  does a null envelope field, ``{{.Timestamp}}`` included.

Documented divergences (all on contrived payloads, none load-bearing):
- ``{{break}}``/``{{continue}}`` (Go 1.18 range control) are compile
  errors, not supported — the range body compiles to a per-element
  ``transform``, which has no early exit. Loud failure, never silent
  wrong output.
- JSON leaves are accessed as their text (struct fields of type
  ``string`` / ``get_json_object``), so a JSON string ``"false"``/``"0"``
  is indistinguishable from boolean false / number 0 for truthiness and
  ``eq``.
- for the same reason, a JSON *string* leaf whose text spells JSON acts
  as the value it spells: on ``{"s": "[1,2,3]", "o": "{\\"a\\":1}"}``,
  ``{{len .Log.s}}`` is 3 (Go: 7, the string's bytes),
  ``{{range .Log.s}}`` ranges over 1, 2, 3 and ``{{.Log.o.a}}`` is 1
  (Go: both exec errors).
- a JSON number renders as Jackson spells the parsed value, not as Go's
  float64 ``%v``: ``1.0``, ``1e-7``, ``1e20``, ``1e3``, ``-0.0`` and
  ``100000000000000000000`` render ``1.0``, ``1.0E-7``, ``1.0E20``,
  ``1000.0``, ``-0.0`` and ``100000000000000000000`` (Go: ``1``,
  ``1e-07``, ``1e+20``, ``1000``, ``-0``, ``1e+20``).
- duplicate keys BELOW the top level (``.Log.a.b``), and under
  ``{{range .Log…}}``, resolve to the FIRST value (``get_json_object`` /
  map parse); Go keeps the last.
- a JSON object followed by trailing data (``{"a":1} x``) parses as the
  object (Jackson stops after the first value); Go rejects it.
- ``lt/le/gt/ge`` compare numerically when both sides cast to double,
  else lexicographically (Go compares within one static type).
- a ``printf`` numeric verb (%d/%f/…) whose argument doesn't parse is a
  render error (Go renders a ``%!d(...)`` marker instead).

Everything is built-ins (``concat``, ``from_json``,
``get_json_object``, ``json_object_keys``, ``startswith``,
``date_format``, ``format_string``) except three Java UDFs from the
in-repo jar (``jvm``), each one call per row: the payload scan, because
``from_json`` builds a reader and a parser per row and was most of the
render cost; ``{{.Timestamp}}``'s text, because the timestamp-to-string
cast builds a ``ZonedDateTime`` and runs a ``DateTimeFormatter`` per
row; and ShortHostId, because ``substring_index`` compares the
separator at every byte position. Each Column carries its function,
so any session runs the plan. The whole render — control flow
included, compiled to ``CASE WHEN`` — is a narrow projection: no Python
in the per-row path, no shuffle, linear scale-out with input
partitions. The envelope and ``{{.Timestamp}}`` cost no regex and, in a
UTC session, no ``date_format`` per row (``envelope.short_host_id``,
``envelope.json_opens``, ``functions.strftime.go_default_render_col``).
"""

from __future__ import annotations

import functools
import itertools
import re
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.envelope import (
    ENVELOPE_ALIASES,
    ENVELOPE_FIELDS,
    guarded_array_length,
    guarded_from_json,
    guarded_object_keys,
)
from kinesis_log_watcher_spark.functions.strftime import (
    go_default_render_col,
    go_layout_col,
    strftime_or_fallback,
)
from kinesis_log_watcher_spark import jvm

# The reference's default template (main.go:65).
DEFAULT_TEMPLATE = "{{.ShortHostId}} {{.Timestamp}} {{.LogEntry}}"

NO_VALUE = "<no value>"  # Go text/template placeholder for missing values


class TemplateError(ValueError):
    """Template failed to compile (reference exits with code 2, main.go:110-114)."""


_ACTION_RE = re.compile(r"\{\{-?\s*(.*?)\s*-?\}\}", re.DOTALL)

_FIELD_PATH_RE = re.compile(r"^\.(\w+(?:\.\w+)*)?$")
_VAR_PATH_OPERAND_RE = re.compile(r"^\$(\w+)(\.\w+(?:\.\w+)*)?$")
_FORMAT_CALL_RE = re.compile(r'^\.(\w+)\.Format\s+"((?:[^"\\]|\\.)*)"$')
_NUMBER_RE = re.compile(r"^-?\d+(\.\d+)?$")
_TOKEN_RE = re.compile(r'"(?:[^"\\]|\\.)*"|\||\(|\)|[^\s|()]+')
_VERB_RE = re.compile(r"%[-+ 0#]*\d*(?:\.\d+)?[a-zA-Z%]")


def _unescape(s: str) -> str:
    return s.encode().decode("unicode_escape")


def _canonical(name: str) -> str | None:
    """Resolve an envelope field name incl. the reference's alias pairs
    (HostID/HostId etc., main.go:266-269). None if not an envelope field."""
    if name in ENVELOPE_FIELDS:
        return name
    if name in ENVELOPE_ALIASES:
        return ENVELOPE_ALIASES[name]
    return None


@dataclass
class CompiledTemplate:
    """A template compiled to (rendered line, render-error condition).

    ``line``/``error`` read the *hoisted* ``prep`` columns: the ``.Log``
    payload parse (ONE ``klw_payload`` call per row for exactly the
    top-level keys the template reads) and every hoistable ``{{range}}``
    collection parse, so the JSON is parsed once per row instead of once
    per reference site (higher-order functions are CodegenFallback, so
    Catalyst never dedupes those subtrees; see _compile_range). They are
    valid only over ``_prepped(df)`` — use ``apply``/``apply_with_errors``.
    Each prep column is wrapped in a non-foldable non-deterministic gate
    (``_gate``) — without it, pruning + CollapseProject +
    PushDownPredicates substitute the parses right back into the error
    filter and line projection and undo the hoist."""

    line: Column
    error: Column
    source: str
    prep: dict[str, Column] = field(default_factory=dict)

    @staticmethod
    def _gate(c: Column) -> Column:
        """Evaluate-once pin — see functions/evalonce. Without it the
        hoist is an illusion: ColumnPruning drops any separate barrier
        column, the then-deterministic projection collapses, and
        PushDownPredicates substitutes the parse back into BOTH the
        error filter and the line projection — every hoisted subtree
        evaluated twice (measured 5.9s → 1.7s at sf0.1 on
        template_range_render when pinned properly). One gate serves
        batch and streaming; it takes no seed, so each micro-batch's
        generated code is identical and compiles only once."""
        from kinesis_log_watcher_spark.functions.evalonce import gate

        return gate(c)

    def _prepped(self, df: DataFrame) -> DataFrame:
        # Two stages: the shared whole-payload parse first, then the
        # per-range normalized collections (which reference it). The
        # stages stay separate projections because the gated columns are
        # non-deterministic and referenced more than once — CollapseProject
        # refuses to merge them.
        payload = {n: c for n, c in self.prep.items() if n.endswith("_payload")}
        rest = {n: c for n, c in self.prep.items() if not n.endswith("_payload")}
        out = df
        for stage in (payload, rest):
            if stage:
                out = out.select(
                    "*",
                    *(self._gate(c).alias(n) for n, c in stage.items()),
                )
        return out

    def apply(
        self, df: DataFrame, out_col: str = "line", keep: tuple[str, ...] = ()
    ) -> DataFrame:
        """Render against an envelope DataFrame, dropping error rows
        (reference E1 semantics: bad rows vanish from output,
        main.go:283-287)."""
        return (
            self._prepped(df)
            .filter(~self.error)
            .select(*keep, self.line.alias(out_col))
        )

    def apply_with_errors(
        self, df: DataFrame, out_col: str = "line", keep: tuple[str, ...] = ()
    ) -> DataFrame:
        """Keep all rows; adds a boolean ``_render_error`` column. Used by
        the sink to implement report-first-error-once (main.go:283-286)."""
        return self._prepped(df).select(
            *keep, self.line.alias(out_col), self.error.alias("_render_error")
        )


# --------------------------------------------------------------------------
# parse phase: template text → node tree
# --------------------------------------------------------------------------


@dataclass
class _Text:
    text: str


@dataclass
class _Action:
    pipe: str


@dataclass
class _Block:  # if / with / range / define
    kind: str  # "if" | "with" | "range" | "define"
    pipe: str  # pipeline text ("define": the template name)
    body: list = field(default_factory=list)
    else_: list = field(default_factory=list)
    vars: tuple = ()  # range variables: () | ($v,) | ($i, $v)


@dataclass
class _TemplateCall:  # {{template "name" [pipeline]}}
    name: str
    pipe: str | None


@dataclass
class _VarDecl:  # {{$x := P}} (declare=True) / {{$x = P}} (declare=False)
    name: str  # includes the leading "$"
    pipe: str
    declare: bool


_KEYWORD_RE = re.compile(r"^(if|else if|else|end|with|range|template|block|define)\b\s*")


_DEFINE_NAME_RE = re.compile(r'^"((?:[^"\\]|\\.)*)"\s*')
_RANGE_VAR_RE = re.compile(r"^\$\w+$")
# {{$x := P}} / {{$x = P}} — ':=' declares, '=' reassigns ('==' is not a
# Go pipeline token, so a lone '=' never splits an equality).
_VAR_DECL_RE = re.compile(r"^(\$\w+)\s*(:=|=(?!=))\s*(.+)$", re.DOTALL)


def _split_decl(word: str, rest: str) -> tuple[tuple, str]:
    """Strip a leading variable declaration ``$v :=`` (``$i, $v :=`` for
    range) from an if/with/range pipeline. Returns (names, pipeline)."""
    if not (rest.startswith("$") and ":=" in rest):
        return (), rest
    lhs, rhs = rest.split(":=", 1)
    rhs = rhs.strip()
    names = [t.strip() for t in lhs.split(",")]
    if not all(_RANGE_VAR_RE.match(n) for n in names):
        # a ':=' inside a string literal further down the pipeline
        return (), rest
    max_vars = 2 if word == "range" else 1
    if not (1 <= len(names) <= max_vars and len(set(names)) == len(names) and rhs):
        raise TemplateError(
            f"malformed {{{{{word}}}}} variable declaration in {rest!r}"
        )
    return tuple(names), rhs


def _parse(template: str) -> tuple[list, dict[str, list]]:
    """Template text → (node tree, named {{define}} bodies). Handles
    {{- -}} whitespace trimming, nested if/with/range blocks, range
    variables ({{range $i, $v := …}}), and {{define}}/{{template}}/
    {{block}} (bodies are stored by name and inlined at compile time —
    recursive invocation is rejected)."""
    root: list = []
    defines: dict[str, list] = {}
    # stack entries: (_Block, which_list_currently_filling)
    stack: list[tuple[_Block, list]] = []

    def emit(node) -> None:
        (stack[-1][1] if stack else root).append(node)

    def emit_text(text: str) -> None:
        if text:
            emit(_Text(text))

    pos = 0
    pending_ltrim = False
    for m in _ACTION_RE.finditer(template):
        literal = template[pos : m.start()]
        if "{{" in literal:
            raise TemplateError(f"unclosed action in template: {template!r}")
        if pending_ltrim:
            literal = literal.lstrip()
        if m.group(0).startswith("{{-"):
            literal = literal.rstrip()
        emit_text(literal)
        pos = m.end()
        pending_ltrim = m.group(0).endswith("-}}")

        body = m.group(1)
        kw = _KEYWORD_RE.match(body)
        if not kw:
            vd = _VAR_DECL_RE.match(body)
            if vd:
                emit(_VarDecl(vd.group(1), vd.group(3).strip(), vd.group(2) == ":="))
            else:
                emit(_Action(body))
            continue
        word = kw.group(1)
        rest = body[kw.end() :].strip()
        if word in ("template", "block", "define"):
            nm = _DEFINE_NAME_RE.match(rest)
            if not nm:
                raise TemplateError(f'{{{{{word}}}}} needs a quoted name: {rest!r}')
            name = _unescape(nm.group(1))
            arg = rest[nm.end() :].strip() or None
            if word == "template":
                emit(_TemplateCall(name, arg))
                continue
            if name in defines:
                raise TemplateError(f"template {name!r} defined twice")
            blk = _Block(kind="define", pipe=name)
            defines[name] = blk.body
            if word == "block":
                # {{block "n" P}}body{{end}} ≡ {{define "n"}}…{{end}} +
                # {{template "n" P}} in place (Go text/template
                # desugaring) — legal at any nesting depth; the body is
                # hoisted into the defines map while the call stays put.
                if arg is None:
                    raise TemplateError("{{block}} requires a pipeline argument")
                emit(_TemplateCall(name, arg))
            else:
                if stack:
                    raise TemplateError("{{define}} must be at top level")
                if arg is not None:
                    raise TemplateError("{{define}} takes only a name")
            stack.append((blk, blk.body))
            continue
        if word in ("if", "with", "range"):
            if not rest:
                raise TemplateError(f"{{{{{word}}}}} needs a pipeline")
            range_vars, rest = _split_decl(word, rest)
            blk = _Block(kind=word, pipe=rest, vars=range_vars)
            emit(blk)
            stack.append((blk, blk.body))
        elif word == "else if":
            if not stack or stack[-1][0].kind != "if":
                raise TemplateError("{{else if}} outside {{if}}")
            # desugar: else branch contains a nested if; re-point the stack
            # entry at the nested block so {{end}} closes both. The
            # nested if supports {{else if $x := P}} declarations too.
            decl_vars, rest = _split_decl("if", rest)
            outer, _ = stack.pop()
            nested = _Block(kind="if", pipe=rest, vars=decl_vars)
            outer.else_.append(nested)
            stack.append((nested, nested.body))
        elif word == "else":
            if rest:
                raise TemplateError("malformed {{else}}")
            if not stack:
                raise TemplateError("{{else}} outside a block")
            blk, cur = stack[-1]
            if blk.kind == "define":
                raise TemplateError("{{else}} inside {{define}}")
            if cur is blk.else_:
                raise TemplateError("duplicate {{else}}")
            stack[-1] = (blk, blk.else_)
        elif word == "end":
            if rest:
                raise TemplateError("malformed {{end}}")
            if not stack:
                raise TemplateError("{{end}} without open block")
            stack.pop()
    tail = template[pos:]
    if "{{" in tail:
        raise TemplateError(f"unclosed action in template: {template!r}")
    if pending_ltrim:
        tail = tail.lstrip()
    emit_text(tail)
    if stack:
        raise TemplateError(f"unclosed {{{{{stack[-1][0].kind}}}}} block")
    return root, defines


# --------------------------------------------------------------------------
# compile phase: node tree → Columns
# --------------------------------------------------------------------------


class _Expr:
    """A compiled pipeline value: rendered text, Go truthiness, render
    error. ``log_parts`` is set when the value is a .Log path (so
    ``with`` can rebind dot under it); ``is_timestamp`` marks the
    envelope Timestamp for strftime/Format.

    ``col``/``truth``/``raw`` may be given as zero-argument builders:
    each is built on first read, so a value nobody tests for truth (a
    plain ``{{.Log.x}}`` action) never pays the py4j calls of its
    truthiness tree. ``err`` is None when the value can never error."""

    __slots__ = ("_col", "_truth", "err", "log_parts", "is_timestamp", "_raw")

    def __init__(self, col, truth, err: Column | None = None,
                 log_parts: list[str] | None = None, is_timestamp: bool = False,
                 raw=None):
        self._col = col  # string-rendered value
        self._truth = truth
        self.err = err
        self.log_parts = log_parts
        self.is_timestamp = is_timestamp
        # Uncoalesced JSON text of the value (no <no value> substitution) —
        # what {{range}} parses and {{with}} rebinds dot onto.
        self._raw = raw

    def _force(self, slot: str) -> Column | None:
        v = getattr(self, slot)
        if v is not None and not isinstance(v, Column):
            v = v()
            setattr(self, slot, v)
        return v

    @property
    def col(self) -> Column:
        return self._force("_col")

    @property
    def truth(self) -> Column:
        return self._force("_truth")

    @property
    def raw(self) -> Column | None:
        return self._force("_raw")


@dataclass
class _Ctx:
    """What ``.`` means at this point in the tree."""

    log_base: list[str] | None = None  # dot = .Log.<base…>  ([] = .Log itself)
    scalar: _Expr | None = None  # dot = a scalar value
    elem: Column | None = None  # dot = a JSON-text value (range element /
    # with-bound subtree) — field access parses INTO this column
    vars: dict[str, "_Expr"] | None = None  # $name → compiled value
    # (range / {{$x := …}} variables; lexically scoped, NOT inherited by
    # {{template}} — Go invocation scoping)
    # What ``$`` means here. None = the root record (top-level execution
    # data). Inside a {{template}}/{{block}} body, Go rebinds $ to the
    # invocation ARGUMENT (exec.go walkTemplate) — _compile_template_call
    # sets this to the argument's dot-context.
    dollar: "_Ctx | None" = None

    @property
    def is_root(self) -> bool:
        return self.log_base is None and self.scalar is None and self.elem is None

    def dollar_ctx(self) -> "_Ctx":
        """The context ``$``/``$.path`` resolves against (vars stay the
        caller's — variables and $ are orthogonal scopes in Go)."""
        base = self.dollar if self.dollar is not None else _Ctx()
        return replace(base, vars=self.vars, dollar=self.dollar)


# Unique prep-column prefix per compile, so two templates can share a df.
_COMPILE_IDS = itertools.count(1)

class _Compiler:
    """Per-compile state: the {{define}} bodies being inlined, the
    current inline depth of each (recursion guard), the hoisted prep
    columns, and the top-level ``.Log`` keys the template reads."""

    def __init__(self, defines: dict[str, list]) -> None:
        self.defines = defines
        self.expanding: dict[str, int] = {}  # name → inline-expansion depth
        self.prefix = f"__tpl{next(_COMPILE_IDS)}"
        self.prep: dict[str, Column] = {}
        self.log_keys: list[str] = []
        self._not_object: Column | None = None

    @functools.cached_property
    def _payload(self) -> Column:
        return F.col(self.prefix + "_payload")

    def log_field(self, key: str) -> Column:
        """Top-level payload field ``key`` as JSON text (null if absent)."""
        if key not in self.log_keys:
            self.log_keys.append(key)
        return self._payload.getItem(self.log_keys.index(key))

    def not_object(self) -> Column:
        """True when the payload is not a JSON object (Log is nil or a
        non-object; main.go:276-279) — one shared Column, so every
        ``.Log`` access ORs the same condition."""
        if self._not_object is None:
            self._not_object = self._payload.isNull()
        return self._not_object

    def finish(self) -> dict[str, Column]:
        """The prep columns, with the payload parse registered if any
        ``.Log`` access read it (see ``_hoisted_payload``)."""
        if self._not_object is not None or self.log_keys:
            self.prep[self.prefix + "_payload"] = _hoisted_payload(self.log_keys)
        return self.prep


def _false() -> Column:
    return F.lit(False)


def _or(a: Column | None, b: Column | None) -> Column | None:
    """OR of two render-error conditions (None = can never error)."""
    if a is None or a is b:
        return b
    if b is None:
        return a
    return a | b


def _err_col(e: Column | None) -> Column:
    return _false() if e is None else e


def _when_err(cond: Column, a: Column | None, b: Column | None) -> Column | None:
    """The error of a two-way branch: ``a`` where ``cond``, else ``b``."""
    if a is None and b is None:
        return None
    return F.when(cond, _err_col(a)).otherwise(_err_col(b))


def _truthy_json(v: Column) -> Column:
    """Go 'empty' test on a JSON-extracted text value (see module
    docstring for the string-"false"/"0" divergence)."""
    num = v.try_cast("double")
    return (
        v.isNotNull()
        & (v != "")
        & (v != "false")
        & ~F.coalesce(num == 0.0, F.lit(False))
        & (v != "[]")
        & (v != "{}")
    )


def _nonempty(v: Column) -> Column:
    return v.isNotNull() & (v != "")


def _bool_expr(truth: Column, err: Column | None) -> _Expr:
    return _Expr(
        col=lambda: F.when(truth, F.lit("true")).otherwise(F.lit("false")),
        truth=truth,
        err=err,
    )


# ---- cross-scope {{$x = P}} support -------------------------------------
# A variable binding that must survive a block boundary (a branch-
# dependent value, or a loop-carried value) is carried as a 4-field
# struct: rendered text, Go truthiness, render-error flag, and the raw
# JSON text (null when the value has no JSON form — later .field access
# on it then becomes an exec-time error, Go's error surface).


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _expr_struct(e: _Expr) -> Column:
    return F.struct(
        e.col.alias("col"),
        e.truth.alias("truth"),
        _err_col(e.err).alias("err"),
        (e.raw if e.raw is not None else _null_str()).alias("raw"),
    )


def _expr_from_struct(s: Column) -> _Expr:
    return _Expr(col=s["col"], truth=s["truth"], err=s["err"], raw=s["raw"])


def _join_expr(cond: Column, a: _Expr, b: _Expr) -> _Expr:
    """One variable, two bindings, a branch boundary: the escaping value
    is the CASE-join. (``is_timestamp`` survives only if both sides are
    the envelope timestamp; ``log_parts`` never survives a join — the
    rebind fast path requires one statically-known payload path.)"""
    if a is b:
        return a
    return _Expr(
        col=F.when(cond, a.col).otherwise(b.col),
        truth=F.when(cond, a.truth).otherwise(b.truth),
        err=_when_err(cond, a.err, b.err),
        raw=F.when(
            cond, a.raw if a.raw is not None else _null_str()
        ).otherwise(b.raw if b.raw is not None else _null_str()),
        is_timestamp=a.is_timestamp and b.is_timestamp,
    )


def _assigned_outer(nodes: list, local: set[str]) -> set[str]:
    """Names ``{{$x = P}}``-assigned somewhere under ``nodes`` without a
    covering declaration inside them — the variables whose mutation
    escapes this scope. ({{template}} bodies never see caller variables,
    so calls don't contribute.)"""
    out: set[str] = set()
    local = set(local)
    for n in nodes:
        if isinstance(n, _VarDecl):
            if n.declare:
                local.add(n.name)
            elif n.name not in local:
                out.add(n.name)
        elif isinstance(n, _Block):
            inner = local | set(n.vars or ())
            out |= {
                m
                for m in (
                    _assigned_outer(n.body, inner)
                    | _assigned_outer(n.else_, inner)
                )
                if m not in local
            }
    return out


def _json_path(parts: list[str]) -> str:
    return "$." + ".".join(parts)


def _hoisted_payload(keys: list[str]) -> Column:
    """The shared whole-payload parse, hoisted into a prep column: ONE
    ``klw_payload`` call per row (``jvm/PayloadScan.java``), an
    ``array<string>`` with the JSON text of each top-level key the
    template reads, in ``keys`` order, or NULL when the payload is not a
    JSON object. Every ``.Log`` access reads an element instead of
    re-parsing ``LogEntry`` per reference site (``get_json_object`` /
    ``json_object_keys`` each re-parse the whole payload, and inside
    higher-order functions — CodegenFallback, interpreted — Catalyst
    never dedupes them).

    The values are exactly those of a guarded ``from_json`` into a
    struct of ``string`` fields: the same Jackson factory (Spark's
    ``JSONOptions``), a string leaf as its text, other leaves
    re-serialized by that factory's generator (numbers normalized,
    nested values compact), the LAST value of a repeated top-level key
    (as Go's ``encoding/json``), trailing data ignored. Keys match
    case-sensitively, as Go's map lookup does. A payload whose first
    character after JSON whitespace is not ``{`` is NULL without
    entering the parser (``envelope.json_opens``): Jackson reports a
    bad record by throwing, and log streams carry many non-object lines.

    Why a UDF: ``from_json`` builds a ``ByteArrayInputStream``, an
    ``InputStreamReader`` and a fresh parser per row, then runs the
    generic struct converter. On perfbench ``render_batch`` (1M rows,
    half of them non-objects, invalid JSON, invalid UTF-8 or empty;
    4 vCPUs) the scan took the median ``rows_per_s`` from 0.77M to
    1.20M over 10 alternating pairs (+57%). Per million rows, noop
    write, median of 6 warm runs: guarded ``from_json`` 1.36 s, this
    scan 0.77 s, the same UDF returning constants without parsing
    0.54 s, and a template with no ``.Log`` 0.60 s. So Jackson's
    parse of the objects is now about 0.23 s of a 0.77 s call.

    Access below the top level (``.Log.a.b``) and ``{{range .Log…}}``
    still go through ``get_json_object`` / ``from_json`` maps, where
    the FIRST duplicate wins — a documented divergence of the
    contrived-payload class."""
    return jvm.call(jvm.PAYLOAD, F.col("LogEntry"), F.lit("\n".join(keys)))


def _compile_log_access(parts: list[str], comp: _Compiler) -> _Expr:
    """Access ``{{.Log.p1.p2…}}`` into the dynamic JSON payload, via the
    shared payload scan (``_hoisted_payload``).

    Faithful Go semantics (main.go:273-279 + text/template map rules):
    - payload not a JSON object (incl. unparseable) → render error
    - any intermediate path element missing or non-object → render error
    - leaf missing or JSON null → ``<no value>`` (falsey)
    - leaf scalar → raw text (numbers/bools as JSON text, strings unquoted
      — ``get_json_object`` matches this)
    - leaf object/array → its JSON text (divergence: Go prints Go-syntax
      ``map[…]``; we print JSON — documented, not load-bearing)
    """
    top = comp.log_field(parts[0])

    def sub(upto: int) -> Column:
        if upto == 1:
            return top
        return F.get_json_object(top, _json_path(parts[1:upto]))

    error = comp.not_object()
    for i in range(1, len(parts)):
        error = error | guarded_object_keys(sub(i)).isNull()
    leaf = sub(len(parts))
    return _Expr(
        col=lambda: F.coalesce(leaf, F.lit(NO_VALUE)),
        truth=lambda: _truthy_json(leaf),
        err=error,
        log_parts=list(parts),
        raw=leaf,
    )


def _json_elem_access(base: Column, parts: list[str]) -> _Expr:
    """Access relative to a JSON-text column (a range element or a
    with-bound subtree): ``.`` is the value itself, ``.x.y`` parses into
    it. Same Go semantics as ``_compile_log_access`` with the element as
    the root object."""
    if not parts:
        return _Expr(
            col=lambda: F.coalesce(base, F.lit(NO_VALUE)),
            truth=lambda: _truthy_json(base),
            raw=base,
        )
    # field access requires the element to be an object (nil/scalar → error)
    error = guarded_object_keys(base).isNull()
    for i in range(1, len(parts)):
        inter = F.get_json_object(base, _json_path(parts[:i]))
        error = error | guarded_object_keys(inter).isNull()
    leaf = F.get_json_object(base, _json_path(parts))
    return _Expr(
        col=lambda: F.coalesce(leaf, F.lit(NO_VALUE)),
        truth=lambda: _truthy_json(leaf),
        err=error,
        raw=leaf,
    )


def _whole_log_expr(comp: _Compiler) -> _Expr:
    """``{{.Log}}``: nil payload → <no value> (Go zero value, falsey);
    otherwise the JSON text (divergence noted in the module docstring)."""
    entry = F.col("LogEntry")
    parsed_ok = ~comp.not_object()
    return _Expr(
        col=lambda: F.when(parsed_ok, entry).otherwise(F.lit(NO_VALUE)),
        truth=parsed_ok,
        log_parts=[],
        raw=lambda: F.when(parsed_ok, entry),
    )


def _field_expr(path: str, ctx: _Ctx, comp: _Compiler) -> _Expr:
    """Resolve ``.``, ``.x``, ``.x.y`` relative to the current dot."""
    parts = path.split(".") if path else []

    if ctx.elem is not None:
        return _json_elem_access(ctx.elem, parts)
    if ctx.scalar is not None:
        if not parts:
            return ctx.scalar
        raise TemplateError(
            f"cannot access .{path} under a scalar dot (bind {{{{with}}}} to "
            "a .Log path for nested access)"
        )
    if ctx.log_base is not None:
        full = ctx.log_base + parts
        if not full:
            return _whole_log_expr(comp)
        return _compile_log_access(full, comp)

    # root context
    if not parts:
        raise TemplateError(
            "'.' alone is only supported inside {{with}} (the root dot is "
            "the whole record)"
        )
    head = parts[0]
    if head == "Log":
        if len(parts) == 1:
            return _whole_log_expr(comp)
        return _compile_log_access(parts[1:], comp)
    canon = _canonical(head)
    if canon is None:
        # Unknown key on the map[string]interface{} row → <no value>.
        return _Expr(col=lambda: F.lit(NO_VALUE), truth=_false)
    if len(parts) > 1:
        raise TemplateError(f"nested access only supported under .Log, got .{path}")
    if canon == "Timestamp":
        ts = F.col("Timestamp")
        return _Expr(
            col=lambda: F.coalesce(go_default_render_col(ts), F.lit(NO_VALUE)),
            truth=ts.isNotNull,
            is_timestamp=True,
        )
    v = F.col(canon)
    return _Expr(
        col=lambda: F.coalesce(v, F.lit(NO_VALUE)),
        truth=lambda: v.isNotNull() & (v != ""),
    )


def _operand(token: str, ctx: _Ctx, comp: _Compiler) -> _Expr:
    if token.startswith('"'):
        s = _unescape(token[1:-1])
        return _Expr(col=F.lit(s), truth=lambda: F.lit(bool(s)))
    if _NUMBER_RE.match(token):
        num = float(token)
        text = token if "." in token or "-" in token[1:] else str(int(num))
        return _Expr(col=F.lit(text), truth=lambda: F.lit(num != 0))
    if token == "true":
        return _Expr(col=F.lit("true"), truth=lambda: F.lit(True))
    if token == "false":
        return _Expr(col=F.lit("false"), truth=_false)
    if token == "nil":
        return _Expr(col=lambda: F.lit(NO_VALUE), truth=_false)
    if token == "$" or token.startswith("$."):
        # $ is the execution data value: the root record at top level,
        # rebound to the invocation argument inside {{template}}/{{block}}
        # bodies (Go exec.go walkTemplate). $.path resolves under it
        # from anywhere, incl. range/with bodies where dot is rebound.
        dctx = ctx.dollar_ctx()
        if token == "$" and dctx.is_root:
            raise TemplateError(
                "'$' alone is not renderable here (it is the whole root "
                "record); use $.Field / $.Log.path, or pass it to a "
                'sub-template: {{template "name" $}}'
            )
        return _field_expr(token[2:] if token != "$" else "", dctx, comp)
    m = _VAR_PATH_OPERAND_RE.match(token)
    if m:
        name = "$" + m.group(1)
        if ctx.vars is None or name not in ctx.vars:
            raise TemplateError(f"undefined variable {name}")
        e = ctx.vars[name]
        parts = m.group(2)[1:].split(".") if m.group(2) else []
        if not parts:
            return e
        if e.raw is None:
            raise TemplateError(
                f"cannot access {token}: {name} holds a scalar value"
            )
        return _json_elem_access(e.raw, parts)
    m = _FIELD_PATH_RE.match(token)
    if m:
        return _field_expr(m.group(1) or "", ctx, comp)
    raise TemplateError(f"unsupported operand {token!r}")


def _num(e: _Expr) -> Column:
    return e.col.try_cast("double")


def _any_err(exprs: list[_Expr]) -> Column | None:
    err = None
    for e in exprs:
        err = _or(err, e.err)
    return err


def _compile_printf(fmt: str, args: list[_Expr]) -> _Expr:
    """Go fmt verbs → java.util.Formatter via ``format_string``. %v → %s;
    %d/%f/%e/%g/%x/%o args are cast (cast failure on a non-null value is
    a render error — documented divergence)."""
    verbs = [v for v in _VERB_RE.findall(fmt) if not v.endswith("%")]
    if len(verbs) != len(args):
        raise TemplateError(
            f"printf format {fmt!r} has {len(verbs)} verb(s) but got {len(args)} arg(s)"
        )
    jfmt = fmt
    cols: list[Column] = []
    err = _any_err(args)
    for verb, arg in zip(verbs, args):
        kind = verb[-1]
        if kind in ("v", "s", "q"):
            if kind == "q":
                jfmt = jfmt.replace(verb, verb[:-1] + "s", 1)
                cols.append(F.concat(F.lit('"'), arg.col, F.lit('"')))
            else:
                if kind == "v":
                    jfmt = jfmt.replace(verb, verb[:-1] + "s", 1)
                cols.append(arg.col)
        elif kind in ("d", "x", "o", "X"):
            n = arg.col.try_cast("double").try_cast("long")
            err = _or(err, arg.col.isNotNull() & n.isNull())
            cols.append(n)
        elif kind in ("f", "e", "g", "E", "G"):
            n = _num(arg)
            err = _or(err, arg.col.isNotNull() & n.isNull())
            cols.append(n)
        elif kind == "t":
            jfmt = jfmt.replace(verb, verb[:-1] + "s", 1)
            cols.append(F.when(arg.truth, F.lit("true")).otherwise(F.lit("false")))
        else:
            raise TemplateError(f"unsupported printf verb {verb!r}")
    out = F.format_string(jfmt, *cols)
    return _Expr(col=out, truth=lambda: _nonempty(out), err=err)


def _compile_compare(op: str, a: _Expr, b: _Expr) -> _Expr:
    """eq/ne: text equality (null-safe). lt/le/gt/ge: numeric when both
    sides cast to double, else lexicographic (see divergence note)."""
    err = _or(a.err, b.err)
    if op in ("eq", "ne"):
        t = a.col.eqNullSafe(b.col)
        return _bool_expr(t if op == "eq" else ~t, err)
    an, bn = _num(a), _num(b)
    both_num = an.isNotNull() & bn.isNotNull()
    import operator as _op

    py = {"lt": _op.lt, "le": _op.le, "gt": _op.gt, "ge": _op.ge}[op]
    t = F.when(both_num, py(an, bn)).otherwise(py(a.col, b.col))
    # comparing a nil (null-rendered) value errors in Go
    err = _or(err, a.col.isNull() | b.col.isNull())
    return _bool_expr(t, err)


_FUNCTIONS = {
    "printf", "print", "println", "len", "not", "and", "or",
    "eq", "ne", "lt", "le", "gt", "ge", "strftime", "index", "slice",
    "html", "urlquery", "js", "call",
}


def _compile_index(args: list[_Expr], tokens: list[str]) -> _Expr:
    """Go's ``index`` builtin on a JSON value: ``index .Log.xs 2`` /
    ``index .Log.m "key"`` / chained ``index .Log.grid 1 0``. Indices
    must be literals (compiled into the JSON path); a dynamic index
    would need a per-row path — not expressible as get_json_object."""
    target = args[0]
    if target.raw is None:
        raise TemplateError("index requires a .Log path (or range element) target")
    suffix = ""
    for tok in tokens[2:]:
        if not isinstance(tok, str):
            raise TemplateError(
                "index arguments must be literal ints/strings, not sub-pipelines"
            )
        if _NUMBER_RE.match(tok) and "." not in tok:
            suffix += f"[{int(tok)}]"
        elif tok.startswith('"'):
            suffix += "." + _unescape(tok[1:-1])
        else:
            raise TemplateError(
                f"index arguments must be literal ints/strings, got {tok!r}"
            )
    leaf = F.get_json_object(target.raw, "$" + suffix)
    # indexing nil errors in Go; out-of-range/missing-key → <no value>
    return _Expr(
        col=lambda: F.coalesce(leaf, F.lit(NO_VALUE)),
        truth=lambda: _truthy_json(leaf),
        err=_or(target.err, target.raw.isNull()),
        raw=leaf,
    )


def _compile_command(tokens: list, piped: _Expr | None, ctx: _Ctx,
                     comp: _Compiler) -> _Expr:
    """One pipeline command: either a bare operand or FUNC args…; a piped
    value is appended as the last argument (text/template semantics).
    A token may be a sublist — a parenthesized sub-pipeline — which
    compiles recursively into an operand."""
    head = tokens[0]

    def arg_expr(t) -> _Expr:
        if isinstance(t, list):
            return _compile_items(t, ctx, comp)
        return _operand(t, ctx, comp)

    if isinstance(head, list) or head not in _FUNCTIONS:
        if len(tokens) != 1:
            raise TemplateError(
                f"unsupported command {tokens!r} (head is not a known function)"
            )
        if piped is not None and not isinstance(head, list):
            raise TemplateError(f"cannot pipe into non-function operand {head!r}")
        if piped is not None:
            raise TemplateError("cannot pipe into a parenthesized operand")
        return arg_expr(head)

    args = [arg_expr(t) for t in tokens[1:]]
    if piped is not None:
        args.append(piped)

    if head == "strftime":
        # reference signature (main.go:106): strftime "<fmt>" <time>
        if (
            len(args) != 2
            or not isinstance(tokens[1], str)
            or not tokens[1].startswith('"')
        ):
            raise TemplateError('strftime expects: strftime "<fmt>" .Timestamp')
        fmt = _unescape(tokens[1][1:-1])
        target = args[1]
        if not target.is_timestamp:
            raise TemplateError("strftime expects .Timestamp as its time argument")
        out = strftime_or_fallback(fmt, F.col("Timestamp"))
        # Go: nil passed as the time.Time argument is an exec error
        err = _or(_any_err(args), F.col("Timestamp").isNull())
        return _Expr(col=out, truth=lambda: _nonempty(out), err=err)
    if head == "printf":
        if (
            not args
            or len(tokens) < 2  # {{P | printf}} — format would be dynamic
            or not isinstance(tokens[1], str)
            or not tokens[1].startswith('"')
        ):
            raise TemplateError('printf expects a literal format: printf "<fmt>" args…')
        return _compile_printf(_unescape(tokens[1][1:-1]), args[1:])
    if head == "index":
        if len(args) < 2:
            raise TemplateError("index needs a target and at least one index")
        if piped is not None:
            raise TemplateError("piping into index is not supported")
        return _compile_index(args, tokens)
    if head == "slice":
        # slice .Log.xs [start [end]] — literal bounds, JSON-array target
        if piped is not None:
            raise TemplateError("piping into slice is not supported")
        target = args[0]
        if target.raw is None:
            raise TemplateError("slice requires a .Log path (or range element)")
        bounds = tokens[2:]
        if len(bounds) > 2 or not all(
            isinstance(b, str) and _NUMBER_RE.match(b) and "." not in b
            for b in bounds
        ):
            raise TemplateError("slice takes up to two literal int bounds")
        start = int(bounds[0]) if bounds else 0
        if start < 0 or (len(bounds) == 2 and int(bounds[1]) < 0):
            # Go: negative slice indices are an execution error; reject
            # at compile time (literal bounds make it statically known)
            raise TemplateError("slice bounds must be non-negative")
        arr = guarded_from_json(target.raw, "array<string>")
        if len(bounds) == 2:
            length = int(bounds[1]) - start
            if length < 0:
                raise TemplateError("slice end must be >= start")
            sliced = F.slice(arr, start + 1, length)
        else:
            sliced = F.slice(arr, start + 1, F.greatest(
                F.size(arr) - start, F.lit(0)))
        out = F.to_json(sliced)
        # slicing a non-array (or out-of-range start) errors in Go
        err = _or(_any_err(args), arr.isNull() | (F.size(arr) < start))
        return _Expr(
            col=lambda: F.coalesce(out, F.lit(NO_VALUE)),
            truth=lambda: F.size(sliced) > 0,
            err=err,
            raw=out,
        )
    if head == "js":
        if len(args) != 1:
            raise TemplateError("js takes exactly one argument")
        # Go template.JSEscapeString: \ ' " < > & = are quoted, ASCII
        # control chars become \u00XX (uppercase hex), printable
        # non-ASCII passes through. (Divergence, documented in the
        # module docstring: non-printable non-ASCII runes also pass
        # through here — Go writes \uXXXX — they cannot appear in a
        # format Spark can't compute per-rune without a UDF.)
        #
        # Single pass: split per char → per-char CASE → rejoin. One
        # traversal of the string instead of the 39 sequential
        # full-string rewrites a replace() chain costs (and a ~40x
        # smaller expression tree — template compile time scales with
        # it). split("") yields UTF-16 units, so an astral-plane rune
        # arrives as two lone surrogates: each has code point > 0x20,
        # falls through the ELSE unchanged, and the join reassembles
        # the pair — byte-identical to the pass-through contract.
        # ascii('') is 0, so the empty unit split() appends at the end
        # needs the explicit c != '' guard.
        def _esc_char(c: Column) -> Column:
            ctrl = F.when(
                (c != "") & (F.ascii(c) < 0x20),
                F.concat(F.lit("\\u"), F.lpad(F.hex(F.ascii(c)), 4, "0")),
            ).otherwise(c)
            e = None
            for ch, rep in (
                ("\\", "\\\\"), ("'", "\\'"), ('"', '\\"'),
                ("<", "\\u003C"), (">", "\\u003E"),
                ("&", "\\u0026"), ("=", "\\u003D"),
            ):
                branch = (c == ch, F.lit(rep))
                e = F.when(*branch) if e is None else e.when(*branch)
            return e.otherwise(ctrl)

        out = F.array_join(
            F.transform(F.split(args[0].col, ""), _esc_char), ""
        )
        return _Expr(col=out, truth=args[0].truth, err=_any_err(args))
    if head == "call":
        # Go: the first argument must be a FUNCTION value. This engine's
        # execution data is the record envelope + a JSON payload, and
        # JSON has no function values — so every {{call …}} the
        # reference could execute over the same data fails at exec time
        # ("call of non-function"). Compiling it to an unconditional
        # render error (arguments still evaluated, row dropped) is
        # therefore exact parity, not a stub.
        if not args:
            raise TemplateError("call needs at least one argument")
        return _Expr(col=lambda: F.lit(NO_VALUE), truth=_false, err=F.lit(True))
    if head in ("html", "urlquery"):
        if len(args) != 1:
            raise TemplateError(f"{head} takes exactly one argument")
        v = args[0].col
        if head == "urlquery":
            # java.net.URLEncoder vs Go url.QueryEscape differ on two
            # chars: Java escapes '~' (Go leaves it — RFC 3986
            # unreserved) and passes '*' (Go escapes it). Patch both so
            # the output is byte-identical to the reference's escaper.
            out = F.replace(
                F.replace(F.url_encode(v), F.lit("%7E"), F.lit("~")),
                F.lit("*"),
                F.lit("%2A"),
            )
        else:
            # Go html/template escaper set: & < > ' "
            out = v
            for ch, rep in (
                ("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                ("'", "&#39;"), ('"', "&#34;"),
            ):
                out = F.replace(out, F.lit(ch), F.lit(rep))
        return _Expr(col=out, truth=args[0].truth, err=_any_err(args))
    if head in ("print", "println"):
        if not args:
            raise TemplateError(f"{head} needs at least one argument")
        if head == "println":
            # Go fmt.Sprintln: operands ALWAYS space-separated + newline
            out = F.concat(F.concat_ws(" ", *[a.col for a in args]), F.lit("\n"))
        else:
            # Go fmt.Sprint: a space between two operands only when
            # NEITHER is a string. JSON leaves reach us as text, so
            # "non-string" is approximated as numeric/bool-shaped text
            # (same class as the documented leaf-text divergence).
            def nonstr(c: Column) -> Column:
                return c.try_cast("double").isNotNull() | c.isin("true", "false")

            out = args[0].col
            for prev, nxt in zip(args, args[1:]):
                sep = F.when(
                    nonstr(prev.col) & nonstr(nxt.col), F.lit(" ")
                ).otherwise(F.lit(""))
                out = F.concat(out, sep, nxt.col)
        return _Expr(col=out, truth=lambda: _nonempty(out), err=_any_err(args))
    if head == "len":
        if len(args) != 1:
            raise TemplateError("len takes exactly one argument")
        v = args[0].col
        arr_len = guarded_array_length(v)
        keys = guarded_object_keys(v)
        n = (
            F.when(arr_len.isNotNull(), arr_len.cast("long"))
            .when(keys.isNotNull(), F.array_size(keys).cast("long"))
            # Go len(string) counts BYTES (reflect .Len on a string), not
            # runes — octet_length is the UTF-8 byte count.
            .otherwise(F.octet_length(v).cast("long"))
        )
        # len of nil errors in Go
        err = _or(
            _any_err(args),
            v.isNull() | ~args[0].truth & v.eqNullSafe(F.lit(NO_VALUE)),
        )
        return _Expr(col=n.cast("string"), truth=lambda: n > 0, err=err)
    if head == "not":
        if len(args) != 1:
            raise TemplateError("not takes exactly one argument")
        return _bool_expr(~args[0].truth, args[0].err)
    if head in ("and", "or"):
        if len(args) < 2:
            raise TemplateError(f"{head} needs at least two arguments")
        # Go value semantics: and → first falsey arg else last;
        # or → first truthy arg else last.
        acc = args[0]
        for nxt in args[1:]:
            if head == "and":
                col = F.when(acc.truth, nxt.col).otherwise(acc.col)
                truth = acc.truth & nxt.truth
            else:
                col = F.when(acc.truth, acc.col).otherwise(nxt.col)
                truth = acc.truth | nxt.truth
            acc = _Expr(col=col, truth=truth, err=_or(acc.err, nxt.err))
        return acc
    if head in ("eq", "ne", "lt", "le", "gt", "ge"):
        if head == "eq" and len(args) > 2:
            # eq a b1 b2… = a==b1 || a==b2 || …
            base, rest = args[0], args[1:]
            t = F.lit(False)
            for b in rest:
                t = t | base.col.eqNullSafe(b.col)
            return _bool_expr(t, _any_err(args))
        if len(args) != 2:
            raise TemplateError(f"{head} takes exactly two arguments")
        return _compile_compare(head, args[0], args[1])
    raise TemplateError(f"unsupported function {head!r}")  # pragma: no cover


def _group_parens(tokens: list[str]) -> list:
    """Token list → items, with ``( … )`` runs nested as sublists
    (recursively) — Go's parenthesized sub-pipeline operands."""
    out: list = []
    stack: list[list] = [out]
    for tok in tokens:
        if tok == "(":
            grp: list = []
            stack[-1].append(grp)
            stack.append(grp)
        elif tok == ")":
            if len(stack) == 1:
                raise TemplateError("unbalanced ')' in pipeline")
            stack.pop()
        else:
            stack[-1].append(tok)
    if len(stack) != 1:
        raise TemplateError("unbalanced '(' in pipeline")
    return out


def _compile_items(items: list, ctx: _Ctx, comp: _Compiler) -> _Expr:
    """Grouped item list → _Expr: split stages on top-level '|', feed
    each stage's value to the next as its last argument."""
    stages: list[list] = [[]]
    for it in items:
        if it == "|":
            stages.append([])
        else:
            stages[-1].append(it)
    result: _Expr | None = None
    for tokens in stages:
        if not tokens:
            raise TemplateError("empty pipeline stage")
        result = _compile_command(tokens, result, ctx, comp)
    assert result is not None
    return result


def _compile_pipeline(pipe: str, ctx: _Ctx, comp: _Compiler) -> _Expr:
    """``cmd | cmd | …`` — each stage's value feeds the next as its last
    argument; ``(…)`` sub-pipelines compile recursively as operands."""
    # legacy method-call form: .Timestamp.Format "layout"
    m = _FORMAT_CALL_RE.match(pipe)
    if m:
        name, layout = m.group(1), _unescape(m.group(2))
        if _canonical(name) != "Timestamp":
            raise TemplateError(f".Format is only supported on .Timestamp, got .{name}")
        out = go_layout_col(layout, F.col("Timestamp"))
        # Go: a method call on a nil .Timestamp is an exec error
        return _Expr(
            col=out,
            truth=lambda: _nonempty(out),
            err=F.col("Timestamp").isNull(),
        )

    # quote-aware tokens ('|' or parens inside a string literal are data)
    return _compile_items(_group_parens(_TOKEN_RE.findall(pipe)), ctx, comp)


def _compile_range(
    node: _Block, ctx: _Ctx, comp: _Compiler
) -> tuple[Column, Column, dict[str, _Expr]]:
    """``{{range P}}body{{else}}alt{{end}}`` → higher-order functions.

    Go reflect semantics over a JSON-decoded payload (main.go:276 decodes
    into ``interface{}``):
    - array → iterate elements in order (dot = element)
    - object → iterate values with keys sorted (Go map range order)
    - empty array/object → else branch
    - nil / missing / scalar → render error ("range can't iterate over")

    The per-element bodies land in the SAME rendered line, so this is
    ``transform`` (body per element) + ``array_join`` (concatenate) +
    ``exists`` (any-element render error) — all JVM higher-order
    functions; zero Python, no row fan-out, no shuffle.

    Expression-count discipline matters here: higher-order functions are
    CodegenFallback (interpreted, no codegen subexpression elimination),
    and a Column subtree referenced N times is *copied* N times into the
    plan. An earlier version folded (text, err) through one
    ``F.aggregate`` struct and then read ``res["text"]`` and
    ``res["err"]`` — two copies of the whole fold, ×2 again under
    filter(error)+select(line), ×2 again with two ranges in a template:
    ~8 interpreted fold evaluations per row (~70 µs/row at sf0.1). This
    shape keeps every subtree single-referenced: the body transform
    appears only in the text column, the error ``exists`` only in the
    error column, and the per-element body is compiled once for each.

    The one construct that genuinely needs the fold form is a body that
    ``{{$x = P}}``-assigns a variable of an enclosing scope — Go runs
    iterations sequentially and the binding carries across them (and out
    of the loop). Only then does this compile to ``F.aggregate`` with an
    accumulator struct of (line, err, one struct per mutated variable);
    the loop-exit binding is read back off the result, joined with the
    else-branch/pre-loop value on emptiness. Mutation-free ranges — the
    overwhelmingly common case — keep the cheap transform shape."""
    target = _compile_pipeline(node.pipe, ctx, comp)
    raw = target.raw if target.raw is not None else target.col

    # Normalize both shapes to one element array. coalesce evaluates
    # `arr` ONCE in the common (array) case. Map branch: sort the
    # (key, value) entry structs (struct ordering is field-wise → key
    # order, Go's map-range order) and project values — ONE `obj`
    # reference; an element_at-per-key lookup would re-parse the map for
    # every key.
    # Two-var form needs the index/key alongside each value: carry
    # (k, v) structs — array index (Go int, rendered as its decimal) or
    # sorted map key — so $i/$k resolves without a second collection pass.
    two_var = len(node.vars) == 2

    def items_tree() -> Column:
        a = guarded_from_json(raw, "array<string>")
        o = guarded_from_json(raw, "map<string,string>")
        if two_var:
            return F.coalesce(
                F.transform(
                    a, lambda x, i: F.struct(i.cast("string").alias("k"), x.alias("v"))
                ),
                F.transform(
                    F.array_sort(F.map_entries(o)),
                    lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v")),
                ),
            )
        return F.coalesce(
            a, F.transform(F.array_sort(F.map_entries(o)), lambda e: e["value"])
        )

    # Hoist the parse when dot is row-derived (root / .Log rebind): the
    # normalized array lands in a named prep column evaluated once per
    # row; all four reference sites below become attribute reads. Range
    # over a lambda element (nested range, with-bound element) can't
    # hoist — the value doesn't exist outside the enclosing HOF; a
    # target PIPELINE that references a variable can't either (the
    # variable may be lambda-bound), but variables merely being in
    # scope is fine — the '$' scan keeps hoisting on for the common
    # {{$x := …}}…{{range .Log.xs}} shape.
    hoistable = ctx.elem is None and ctx.scalar is None and "$" not in node.pipe
    if hoistable:
        name = f"{comp.prefix}_items_{len(comp.prep)}"
        comp.prep[name] = items_tree()

        def items() -> Column:
            return F.col(name)

    else:
        items = items_tree

    def body_ctx(el: Column, base: dict | None = None) -> _Ctx:
        vars0 = dict(base if base is not None else (ctx.vars or {}))
        if two_var:
            val, key = el["v"], el["k"]
            vars0[node.vars[0]] = _json_elem_access(key, [])
            vars0[node.vars[1]] = _json_elem_access(val, [])
            return _Ctx(elem=val, vars=vars0, dollar=ctx.dollar)
        if node.vars:  # {{range $v := P}} — dot AND $v are the element
            vars0[node.vars[0]] = _json_elem_access(el, [])
        return _Ctx(elem=el, vars=vars0 or None, dollar=ctx.dollar)

    # Go scope rule: a range-declared variable extends to the {{end}},
    # so it is visible in the else branch too — there it holds the
    # (empty) pipeline value, Go's initial assignment before iteration
    # (both variables in the two-var form).
    if node.vars:
        else_vars = dict(ctx.vars or {})
        for var_name in node.vars:
            else_vars[var_name] = target
        else_ctx = replace(ctx, vars=else_vars)
    else:
        else_ctx = ctx
    else_col, else_err, else_up = _compile_nodes(node.else_, else_ctx, comp)
    block_local = set(node.vars or ())
    empty = F.size(items()) == 0

    def join_on_empty(on_empty: _Expr, on_loop: _Expr) -> _Expr:
        # items null (range-over-nil error) → row drops; pick either arm
        return _join_expr(F.coalesce(empty, F.lit(False)), on_empty, on_loop)

    # ---- loop-carried mutation → F.aggregate fold --------------------
    mutated = sorted(_assigned_outer(node.body, block_local))
    if mutated:
        for vname in mutated:
            if ctx.vars is None or vname not in ctx.vars:
                raise TemplateError(f"undefined variable {vname}")

        def fold_tree() -> Column:
            init = F.struct(
                F.lit("").alias("line"),
                _false().alias("err"),
                *[
                    _expr_struct(ctx.vars[vn]).alias(f"v{i}")
                    for i, vn in enumerate(mutated)
                ],
            )

            def merge(acc: Column, el: Column) -> Column:
                base = dict(ctx.vars)
                for i, vn in enumerate(mutated):
                    base[vn] = _expr_from_struct(acc[f"v{i}"])
                line, berr, up = _compile_nodes(
                    node.body, body_ctx(el, base), comp
                )
                fields = [
                    F.concat(
                        acc["line"], F.coalesce(line, F.lit(""))
                    ).alias("line"),
                    _or(acc["err"], berr).alias("err"),
                ]
                for i, vn in enumerate(mutated):
                    fields.append(_expr_struct(up.get(vn, base[vn])).alias(f"v{i}"))
                return F.struct(*fields)

            # items_tree(), not items(): a hoisted fold lands in the same
            # withColumns as the hoisted items column and prep columns
            # cannot reference each other
            return F.aggregate(items_tree(), init, merge)

        if hoistable:
            fname = f"{comp.prefix}_fold_{len(comp.prep)}"
            comp.prep[fname] = fold_tree()
            res = F.col(fname)
        else:
            res = fold_tree()

        seg = F.when(empty, else_col).otherwise(res["line"])
        err = _or(target.err, F.coalesce(
            F.when(empty, _err_col(else_err)).otherwise(res["err"]), F.lit(True)
        ))
        updates: dict[str, _Expr] = {}
        for i, vn in enumerate(mutated):
            pre = ctx.vars[vn]
            updates[vn] = join_on_empty(
                else_up.get(vn, pre), _expr_from_struct(res[f"v{i}"])
            )
        for vn, b in else_up.items():
            if vn not in updates and vn not in block_local:
                updates[vn] = join_on_empty(b, (ctx.vars or {})[vn])
        return seg, F.coalesce(err, F.lit(True)), updates

    # ---- mutation-free body → transform/exists (the fast shape) ------
    def body_line(el: Column) -> Column:
        line, _, _ = _compile_nodes(node.body, body_ctx(el), comp)
        return line

    def body_err(el: Column) -> Column:
        _, err, _ = _compile_nodes(node.body, body_ctx(el), comp)
        return _err_col(err)

    # array_join skips null elements; a null body line only happens on a
    # body render error, which the error column catches (row dropped).
    joined = F.array_join(F.transform(items(), body_line), "")
    seg = F.when(empty, else_col).otherwise(joined)
    # range over nil/missing/scalar: neither parse succeeds → items is
    # null → size(null)/exists(null) are null → the inner coalesce(…,
    # True) marks the row errored (Go reflect: "range can't iterate
    # over …"). No separate null-check term: it would re-parse the JSON.
    err = _or(
        target.err,
        F.coalesce(
            F.when(empty, _err_col(else_err)).otherwise(
                F.exists(items(), body_err)
            ),
            F.lit(True),
        ),
    )
    # {{else}}-branch assignments escape joined on emptiness
    updates = {
        vn: join_on_empty(b, (ctx.vars or {})[vn])
        for vn, b in else_up.items()
        if vn not in block_local
    }
    return seg, F.coalesce(err, F.lit(True)), updates


# Recursive {{template}} is inlined by bounded unrolling: each
# self-invocation level is compiled in place, and a row whose data would
# recurse deeper than this becomes a render error (dropped), the analogue
# of Go's exec-time "exceeded maximum template depth" (Go caps at 100000;
# ours is lower because every level lands in the projection).
MAX_TEMPLATE_DEPTH = 8


def _compile_template_call(
    node: _TemplateCall, ctx: _Ctx, comp: _Compiler
) -> tuple[Column, Column | None]:
    """``{{template "name" [P]}}`` → the named {{define}} body inlined at
    compile time with dot rebound to the argument (Go invocation
    semantics: dot is ALWAYS rebound — nil when no argument — and the
    caller's variables are NOT visible inside). Inlining keeps the whole
    render a single projection — zero runtime dispatch. Recursion is
    depth-bounded unrolled (MAX_TEMPLATE_DEPTH); beyond the bound the
    node is a runtime render error, reached only by rows whose data
    actually recurses that deep."""
    body = comp.defines.get(node.name)
    if body is None:
        raise TemplateError(f"template {node.name!r} is not defined")
    depth = comp.expanding.get(node.name, 0)
    if depth >= MAX_TEMPLATE_DEPTH:
        return F.lit(""), F.lit(True)
    arg_err = None
    pipe = node.pipe.strip() if node.pipe is not None else None
    if pipe is None:
        # No argument → dot is nil inside the invoked template. Bind a
        # null JSON element so field access still compiles and becomes a
        # render error at execution time — Go's error surface (Go parses
        # this fine and fails only when the body dereferences nil).
        inner_ctx = _Ctx(elem=F.lit(None).cast("string"))
    elif pipe == "." and ctx.is_root:
        # Pass the whole record: dot inside the body is the root record.
        inner_ctx = _Ctx()
    elif pipe == "$":
        # Pass the execution data value — the Go idiom for handing a
        # sub-template the root (or, nested, the enclosing invocation's
        # argument). Never rendered, so the root form is fine here.
        inner_ctx = replace(ctx.dollar_ctx(), vars=None)
    else:
        arg = _compile_pipeline(node.pipe, ctx, comp)
        arg_err = arg.err
        if arg.log_parts is not None and ctx.is_root:
            inner_ctx = _Ctx(log_base=arg.log_parts)
        elif arg.raw is not None:
            inner_ctx = _Ctx(elem=arg.raw)
        else:
            inner_ctx = _Ctx(scalar=arg)
    # Go rebinds $ to the invocation argument inside the body
    # (exec.go walkTemplate); caller variables stay invisible.
    inner_ctx = replace(
        inner_ctx, dollar=None if inner_ctx.is_root else replace(inner_ctx, vars=None)
    )
    comp.expanding[node.name] = depth + 1
    body_col, body_err, _ = _compile_nodes(body, inner_ctx, comp)
    comp.expanding[node.name] = depth
    return body_col, _or(arg_err, body_err)


def _compile_nodes(
    nodes: list, ctx: _Ctx, comp: _Compiler
) -> tuple[Column, Column | None, dict[str, _Expr]]:
    """Node list → (concatenated text Column, error Column — None when
    nothing in the list can error — and the
    bindings this list assigned to variables of an ENCLOSING scope).

    ``{{$x := P}}`` declarations update the context for the REST of this
    node list (and everything nested under it) — Go's lexical scope rule:
    a variable's scope extends to the {{end}} of the structure in which
    it is declared. The parent's context object is never mutated, so
    declarations cannot escape the block. ``{{$x = P}}`` ASSIGNMENTS to
    an enclosing scope's variable do escape (Go mutation semantics):
    they are returned in the third element; block compilers CASE-join
    them at the branch boundary, and ``_compile_range`` folds them
    through the loop."""
    segments: list[Column] = []
    err = None
    declared_here: set[str] = set()
    outer_updates: dict[str, _Expr] = {}

    def rebind(name: str, e: _Expr, declare: bool) -> None:
        nonlocal ctx
        new_vars = dict(ctx.vars or {})
        new_vars[name] = e
        ctx = replace(ctx, vars=new_vars)
        if declare:
            declared_here.add(name)
        elif name not in declared_here:
            outer_updates[name] = e

    for node in nodes:
        if isinstance(node, _VarDecl):
            e = _compile_pipeline(node.pipe, ctx, comp)
            if not node.declare and (
                ctx.vars is None or node.name not in ctx.vars
            ):
                raise TemplateError(f"undefined variable {node.name}")
            rebind(node.name, e, node.declare)
            # Go evaluates the declaration pipeline even if $x is unused.
            err = _or(err, e.err)
        elif isinstance(node, _Text):
            segments.append(F.lit(node.text))
        elif isinstance(node, _Action):
            e = _compile_pipeline(node.pipe, ctx, comp)
            segments.append(e.col)
            err = _or(err, e.err)
        elif isinstance(node, _TemplateCall):
            # caller variables are invisible inside the body (Go
            # invocation scoping), so no assignment can escape a call
            seg, terr = _compile_template_call(node, ctx, comp)
            segments.append(seg)
            err = _or(err, terr)
        elif isinstance(node, _Block):
            if node.kind == "range":
                seg, rerr, updates = _compile_range(node, ctx, comp)
                segments.append(seg)
                err = _or(err, rerr)
                for name, e in updates.items():
                    rebind(name, e, False)
                continue
            cond = _compile_pipeline(node.pipe, ctx, comp)
            # {{if $x := P}} / {{with $x := P}} — $x is in scope in both
            # the body and the else branch (scope runs to the {{end}}).
            branch_vars = ctx.vars
            if node.vars:
                branch_vars = dict(ctx.vars or {})
                branch_vars[node.vars[0]] = cond
            if node.kind == "with":
                # rebind dot; outer variables and $ stay lexically visible
                if cond.log_parts is not None and ctx.is_root:
                    inner_ctx = _Ctx(
                        log_base=cond.log_parts, vars=branch_vars,
                        dollar=ctx.dollar,
                    )
                elif cond.raw is not None:
                    inner_ctx = _Ctx(
                        elem=cond.raw, vars=branch_vars, dollar=ctx.dollar
                    )
                else:
                    inner_ctx = _Ctx(
                        scalar=cond, vars=branch_vars, dollar=ctx.dollar
                    )
            else:
                inner_ctx = replace(ctx, vars=branch_vars)
            else_ctx = replace(ctx, vars=branch_vars)
            body_col, body_err, body_up = _compile_nodes(
                node.body, inner_ctx, comp
            )
            else_col, else_err, else_up = _compile_nodes(
                node.else_, else_ctx, comp
            )
            segments.append(F.when(cond.truth, body_col).otherwise(else_col))
            err = _or(_or(err, cond.err), _when_err(cond.truth, body_err, else_err))
            # cross-scope assignment: a binding either branch rebound
            # escapes the block as its CASE-join with the other branch's
            # (or the pre-block) value. Block-declared variables
            # ({{if $x := P}}) stay block-local.
            block_local = set(node.vars or ())
            for name in (set(body_up) | set(else_up)) - block_local:
                pre = (ctx.vars or {})[name]
                rebind(
                    name,
                    _join_expr(
                        cond.truth,
                        body_up.get(name, pre),
                        else_up.get(name, pre),
                    ),
                    False,
                )
        else:  # pragma: no cover
            raise AssertionError(node)
    line = F.concat(*segments) if segments else F.lit("")
    return line, err, outer_updates


def compile_template(template: str = DEFAULT_TEMPLATE) -> CompiledTemplate:
    """Compile a template string (see module docstring for the dialect).

    Compile errors raise TemplateError — the analogue of the reference's
    exit-2-on-parse-failure (main.go:110-114). All compile state lives in
    one ``_Compiler`` per call, so concurrent compiles (harnesses that
    plan template queries from thread pools) never share prep columns.
    """
    nodes, defines = _parse(template)
    comp = _Compiler(defines)
    line, error, _ = _compile_nodes(nodes, _Ctx(), comp)
    return CompiledTemplate(
        line=line, error=_err_col(error), source=template, prep=comp.finish()
    )
