"""Timestamp formatting: C strftime codes and Go reference layouts → Columns.

The reference registers one template function, ``strftime`` (reference
main.go:104-107), implemented with C-style ``%`` codes plus extensions
``%f`` (microseconds), ``%L`` (milliseconds), ``%s`` (unix seconds)
(main.go:400-416; README.md:24), and also supports Go's reference-time
layouts via ``{{.Timestamp.Format <layout>}}`` (README.md:21-23).

On an invalid strftime format the reference prints a warning once and falls
back to RFC3339Nano for every row (main.go:411-415) — mirrored here by
``strftime_or_fallback``.

Everything compiles to built-in ``date_format`` / ``unix_timestamp``
expressions — JVM-side, codegen'd, no UDFs — so formatting a trillion rows
is a narrow map with no Python in the loop.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


class FormatError(ValueError):
    """Raised for an unsupported/invalid format specifier."""


def zoned_date_format(ts: Column, pattern: str) -> Column:
    """``date_format(ts, pattern)``; when ``pattern`` prints a zone name
    (``z``), the session zone's names are first formatted once on the
    driver.

    JDK 17 derives a zone's names on first use by filling a shared array
    without a lock, so tasks that format a zone for the first time at
    the same moment can cache the GMT-offset fallback for the life of
    the JVM (``GMT+02:00`` instead of Europe/Amsterdam's ``CEST``). A
    run of 8 concurrent first lookups per zone read the fallback in 53
    of 453 zones, and in none after one driver-side format. Executors
    share the driver's JVM in local mode; a cluster executor derives the
    names in its own JVM, where this does not reach."""
    if "z" in pattern:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            jvm = spark._jvm
            zone = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
                spark.conf.get("spark.sql.session.timeZone")
            )
            formatter = jvm.java.time.format.DateTimeFormatter.ofPattern(
                "zzz", jvm.java.util.Locale.US
            )
            formatter.withZone(zone).format(jvm.java.time.Instant.EPOCH)
    return F.date_format(ts, pattern)


# %-code -> JVM DateTimeFormatter pattern (None = handled specially below).
# Pattern letters per java.time.format.DateTimeFormatter, which is what
# date_format() uses under spark.sql.legacy.timeParserPolicy=CORRECTED.
_STRFTIME_TO_JVM: dict[str, str | None] = {
    "Y": "yyyy",
    "y": "yy",
    "C": None,  # century — special
    "m": "MM",
    "d": "dd",
    "e": None,  # space-padded day — special
    "H": "HH",
    "I": "hh",
    "M": "mm",
    "S": "ss",
    "f": "SSSSSS",  # microseconds (reference extension, main.go:406)
    "L": "SSS",  # milliseconds (reference extension)
    "s": None,  # unix seconds — special (unix_timestamp)
    "p": "a",
    "A": "EEEE",
    "a": "EEE",
    "B": "MMMM",
    "b": "MMM",
    "h": "MMM",
    "j": "DDD",
    "z": "Z",  # +0000
    "Z": "zzz",  # zone name
    "%": None,  # literal %
    "n": None,  # newline
    "t": None,  # tab
    "F": None,  # %Y-%m-%d — special composite
    "T": None,  # %H:%M:%S — special composite
    "D": None,  # %m/%d/%y — special composite
    "R": None,  # %H:%M
    "u": "e",  # ISO day-of-week 1..7
    "G": "YYYY",  # ISO week-based year
    "V": "ww",  # ISO week number
}


def _code_segments(code: str, ts: Column) -> list[Column]:
    """Expand one %-code into concat segments."""
    if code == "%":
        return [F.lit("%")]
    if code == "n":
        return [F.lit("\n")]
    if code == "t":
        return [F.lit("\t")]
    if code == "s":
        return [F.unix_timestamp(ts).cast("string")]
    if code == "C":
        return [F.floor(F.year(ts) / 100).cast("int").cast("string")]
    if code == "e":
        return [F.lpad(F.dayofmonth(ts).cast("string"), 2, " ")]
    if code == "F":
        return [F.date_format(ts, "yyyy-MM-dd")]
    if code == "T":
        return [F.date_format(ts, "HH:mm:ss")]
    if code == "D":
        return [F.date_format(ts, "MM/dd/yy")]
    if code == "R":
        return [F.date_format(ts, "HH:mm")]
    pattern = _STRFTIME_TO_JVM.get(code)
    if pattern is None:
        raise FormatError(f"unsupported strftime code %{code}")
    return [zoned_date_format(ts, pattern)]


def strftime_col(fmt: str, ts: Column) -> Column:
    """Compile a strftime format string into a single string Column.

    Literal runs become ``lit`` segments; each %-code becomes its own
    ``date_format`` (avoids JVM-pattern quoting pitfalls for arbitrary
    literal text). Catalyst folds the concat into one codegen'd expression.

    Raises FormatError on an unknown code (caller decides fallback
    semantics — see ``strftime_or_fallback``).
    """
    segments: list[Column] = []
    literal: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= len(fmt):
                raise FormatError("dangling % at end of format")
            if literal:
                segments.append(F.lit("".join(literal)))
                literal = []
            segments.extend(_code_segments(fmt[i + 1], ts))
            i += 2
        else:
            literal.append(ch)
            i += 1
    if literal:
        segments.append(F.lit("".join(literal)))
    if not segments:
        return F.lit("")
    return F.concat(*segments)


def trimmed_fraction_col(ts: Column, digits: int = 6) -> Column:
    """``.SSSSSS`` with trailing zeros removed; empty string if zero.

    Matches Go's ``.999…`` layouts, which trim trailing fractional zeros
    (and the dot when the fraction is 0).
    Built from the integer micros of the instant (``pmod`` keeps
    pre-1970 fractions positive, as the seconds ``date_format`` renders
    are floored) — no extra ``date_format`` or regex per row, and the
    zone cannot shift it (offsets are whole seconds). Spark timestamps
    are microsecond-precision, so more than 6 digits add only zeros,
    which the trim removes.
    """
    width = min(digits, 6)
    frac = F.pmod(F.unix_micros(ts), F.lit(1_000_000))
    if width < 6:
        frac = F.floor(frac / 10 ** (6 - width))
    text = F.concat(F.lit("."), F.lpad(frac.cast("string"), width, "0"))
    return F.rtrim(F.rtrim(text, F.lit("0")), F.lit("."))


def rfc3339nano_col(ts: Column) -> Column:
    """Go RFC3339Nano (``2006-01-02T15:04:05.999999999Z07:00``).

    The reference's fallback rendering for invalid strftime formats
    (main.go:413-415). Spark timestamps are microsecond-precision, so the
    trimmed fraction has ≤6 digits. Session TZ is UTC → zone renders 'Z'
    via the XXX pattern.
    """
    return F.concat(
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
        trimmed_fraction_col(ts),
        F.date_format(ts, "XXX"),
    )


def go_default_render_col(ts: Column) -> Column:
    """Go's default ``%v`` rendering of time.Time:
    ``2006-01-02 15:04:05.999999999 +0000 UTC`` in the session time zone
    — used when a template says ``{{.Timestamp}}`` with no format (the
    reference's default template does exactly this, main.go:65).

    Spark's timestamp-to-string cast already prints
    ``yyyy-MM-dd HH:mm:ss`` with trailing fractional zeros (and the dot)
    trimmed, which is Go's ``.999999999``. The zone test formats a
    constant instant's zone ID, which the optimizer folds, and the CASE
    with it: under UTC (``session.get_spark`` / ``ensure_session_confs``)
    the zone is a literal and the row pays one formatter call; any other
    zone keeps the ``date_format`` of offset and zone name. Like the
    cast, a ``date_format`` takes the session zone when the DataFrame is
    analyzed; ``current_timezone()`` would read it when the plan is
    optimized, and label a plan built in another zone and run after a
    switch to UTC as UTC.
    """
    session_zone = F.date_format(F.timestamp_micros(F.lit(0)), "VV")
    zone = F.when(session_zone == "UTC", F.lit(" +0000 UTC")).otherwise(
        zoned_date_format(ts, " Z zzz")
    )
    return F.concat(ts.cast("string"), zone)


def go_default_render(dt) -> str:
    """Python-side twin of go_default_render_col, for the render_fn
    escape hatch (a datetime → the same Go ``%v`` string the compiled
    path produces)."""
    frac = ""
    if dt.microsecond:
        frac = "." + f"{dt.microsecond:06d}".rstrip("0")
    return f"{dt:%Y-%m-%d %H:%M:%S}{frac} +0000 UTC"


def strftime_or_fallback(fmt: str, ts: Column) -> Column:
    """Reference semantics for a bad format: warn once, render RFC3339Nano
    for every row (main.go:411-415). Validation happens at compile time
    (a format invalid for one row is invalid for all)."""
    try:
        return strftime_col(fmt, ts)
    except FormatError as exc:
        warnings.warn(f"invalid strftime format {fmt!r}: {exc}; falling back to RFC3339Nano")
        return rfc3339nano_col(ts)


# ---------------------------------------------------------------------------
# Go reference-time layouts ({{.Timestamp.Format "2006-01-02..."}})
# ---------------------------------------------------------------------------

# Longest-match-first token table: Go layout token -> JVM pattern
# (None = special segment).
_GO_TOKENS: list[tuple[str, str | None]] = [
    ("2006", "yyyy"),
    ("January", "MMMM"),
    ("Jan", "MMM"),
    ("Monday", "EEEE"),
    ("Mon", "EEE"),
    ("01", "MM"),
    ("02", "dd"),
    ("002", "DDD"),
    ("15", "HH"),
    ("03", "hh"),
    ("04", "mm"),
    ("05", "ss"),
    ("06", "yy"),
    ("PM", "a"),
    ("pm", None),  # lowercase am/pm — special (lower())
    (".000000000", ".SSSSSSSSS"),
    (".000000", ".SSSSSS"),
    (".000", ".SSS"),
    (".999999999", None),  # trimmed fraction — special
    (".999999", None),
    (".999", None),
    ("Z07:00", "XXX"),
    ("Z0700", "XX"),
    ("Z07", "X"),
    ("-07:00", "xxx"),
    ("-0700", "xx"),
    ("-07", "x"),
    ("MST", "zzz"),
    ("3", "h"),
    ("4", "m"),
    ("5", "s"),
    ("2", "d"),
    ("1", "M"),
]
# Order by token length desc so longest-match wins at each position.
_GO_TOKENS.sort(key=lambda t: -len(t[0]))


def go_layout_col(layout: str, ts: Column) -> Column:
    """Compile a Go reference-time layout into a string Column.

    Supports the documented usage ``{{.Timestamp.Format <layout>}}``
    (README.md:21-23; NB the README's sample layout string "2005-…" is a
    typo for Go's reference time 2006 — we implement real Go semantics).
    """
    segments: list[Column] = []
    literal: list[str] = []

    def flush() -> None:
        if literal:
            segments.append(F.lit("".join(literal)))
            literal.clear()

    i = 0
    n = len(layout)
    while i < n:
        matched = False
        for token, pattern in _GO_TOKENS:
            if layout.startswith(token, i):
                flush()
                if pattern is not None:
                    segments.append(zoned_date_format(ts, pattern))
                elif token == "pm":
                    segments.append(F.lower(F.date_format(ts, "a")))
                elif token.startswith(".9"):
                    segments.append(trimmed_fraction_col(ts, digits=len(token) - 1))
                i += len(token)
                matched = True
                break
        if not matched:
            literal.append(layout[i])
            i += 1
    flush()
    if not segments:
        return F.lit("")
    return F.concat(*segments)
