"""Timestamp layout compatibility for driver-generated testdata.

The driver has shipped the events/orders/lineitem timestamp columns in two
parquet layouts across rounds:

- legacy: ``TIMESTAMP(NANOS)`` — unreadable without
  ``spark.sql.legacy.parquet.nanosAsLong``, under which it scans as
  ``bigint`` nanoseconds;
- current: naive ``timestamp[us]`` — scans as ``TIMESTAMP_NTZ``.

Every parquet reader (``sources/files.read_parquet`` and
``read_parquet_stream``, which ``queries/base.load`` and ``load_stream``
call) normalizes to session-zone ``TimestampType`` so queries, tests, and
the DuckDB oracle see one stable dtype regardless of which layout is on
disk. The readers apply ``ensure_session_confs`` first, which pins the
session to UTC, so the NTZ cast preserves wall-clock values exactly; the
nanos data is µs-aligned, so the integer division is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Tables whose legacy layout shipped a TIMESTAMP(NANOS) column that
# scans as bigint under nanosAsLong. Only these columns get the
# bigint→nanos reinterpretation; any other table's legitimate bigint
# column (even one named "ts") is left alone.
NANOS_BIGINT_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def normalize_ts_cols(
    df: DataFrame, nanos_bigint_cols: tuple[str, ...] = ("ts",)
) -> DataFrame:
    """Cast timestamp columns of either testdata layout to TimestampType.

    - columns named in ``nanos_bigint_cols`` that scan as ``bigint`` are
      treated as nanosecond epochs (legacy nanosAsLong layout);
      ``queries/base.load`` and ``load_stream`` scope this per-table via
      ``NANOS_BIGINT_COLS``, the replay runners keep the ``("ts",)``
      default (they only ever read events-shaped data);
    - any ``timestamp_ntz`` column is cast to session-zone timestamp
      (exact under the UTC session conf).

    Integer division must stay integral — the ns epochs exceed double's
    53-bit mantissa — so the ``div`` is built with a backtick-quoted
    identifier rather than Column arithmetic.
    """
    dtypes = dict(df.dtypes)
    out: dict[str, F.Column] = {}
    for name in nanos_bigint_cols:
        if dtypes.get(name) == "bigint":
            out[name] = F.timestamp_micros(F.expr(f"{_ident(name)} div 1000"))
    for name, dtype in dtypes.items():
        if dtype == "timestamp_ntz":
            out[name] = F.col(name).cast("timestamp")
    return df.withColumns(out) if out else df
