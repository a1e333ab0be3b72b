#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its oracle_sql()
on DuckDB over the same parquet tables, then compares:
  - row count
  - column names (sorted)
  - values: columns sorted by name, rows sorted by all columns, exact
    equality (floats compared exactly — the engine is built to be
    bit-identical; report max abs diff when not)

Usage: python tools/check_correctness.py [--bare] [sf_dir] [query ...]

--bare simulates the driver's bare SparkSession (which has none of
session.py's confs) by mis-setting the runtime confs before every query;
queries must heal the session themselves (the readers in sources/files.py
and sources/kinesis_sim.register_sim_source apply session.ensure_session_confs).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_log_watcher_spark.queries.base import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    if problems:
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sa = sv.astype(float).to_numpy()
            da = dv.astype(float).to_numpy()
            both_nan = np.isnan(sa) & np.isnan(da)
            eq = (sa == da) | both_nan
            if not eq.all():
                diff = np.nanmax(np.abs(sa - da))
                problems.append(
                    f"col {c}: {int((~eq).sum())}/{len(eq)} float mismatches, "
                    f"max abs diff {diff:.3e}"
                )
        else:
            if not sv.equals(dv):
                neq = (sv != dv)
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches, first at row {i}: "
                    f"spark={sv.iloc[i]!r} duck={dv.iloc[i]!r}"
                )
    return problems


def main() -> int:
    argv = sys.argv[1:]
    bare = "--bare" in argv
    argv = [a for a in argv if a != "--bare"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from kinesis_log_watcher_spark.session import get_spark

    spark = get_spark(app_name="check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        if bare:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        finally:
            # Queries persist() intermediates they reuse internally;
            # drop them between queries (same hygiene as bench.py) so
            # cached partitions don't accumulate executor memory across
            # a full-registry sweep.
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"rows-only {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
            rows_only.append(name)
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"    {p}")
            failed.append(name)
        else:
            print(f"ok   {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
            passed.append(name)

    print(
        f"\n{len(passed)} ok, {len(rows_only)} rows-only, {len(failed)} failed"
        + (f": {failed}" if failed else "")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
