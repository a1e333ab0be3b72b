"""User-defined function surface: Arrow-vectorized Pandas UDFs.

The reference's UDF registry is the template ``FuncMap`` — one scalar
function, ``strftime``, extensible by design (main.go:105-107). Our
engine's equivalents, in preference order (SURVEY.md §2.2):

1. built-in Column expressions (JVM codegen — the strftime translation
   in functions/strftime.py lives here, zero Python in the row path);
2. ``@pandas_udf`` scalar / grouped-aggregate (Arrow batch transfer,
   ~10-100× faster than row-at-a-time Python UDFs) — this module;
3. row-at-a-time ``F.udf`` only as a last-resort escape hatch
   (watcher._render_fn_lines).

UDFs are built lazily (factory + cache): ``pandas_udf`` registration
needs an active SparkSession, so module import stays session-free.

Scale: a scalar pandas UDF is a narrow map over Arrow batches; a
grouped-agg pandas UDF costs one shuffle on the grouping key and reduces
each group in a single vectorized call — same movement profile as a
built-in aggregate, Python cost amortized per batch, not per row.
Catalyst cannot mix pandas and JVM aggregates in one Aggregate node
(INVALID_PANDAS_UDF_PLACEMENT), so queries using these keep every
aggregate in the pandas family.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd


@lru_cache(maxsize=1)
def median_udaf():
    """Exact median as a grouped-aggregate pandas UDF — an aggregate
    Spark has no exact built-in for (percentile_approx is approximate).
    np.median's even-count interpolation ((a+b)/2 in doubles) matches
    SQL MEDIAN bit-for-bit."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    return median


@lru_cache(maxsize=1)
def count_udaf():
    """Group count in the pandas-aggregate family (see module docstring
    for why it can't be F.count alongside a pandas UDAF)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def count_rows(v: pd.Series) -> int:
        return int(len(v))

    return count_rows


@lru_cache(maxsize=1)
def discounted_price_udf():
    """Scalar pandas UDF demo: vectorized arithmetic over Arrow batches.
    (In production this exact expression should be the built-in Column
    ``price * (1 - discount)`` — the UDF form exists to pin the scalar
    Arrow path's semantics; tests assert both paths agree exactly.)"""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def discounted(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1.0 - discount)

    return discounted


@lru_cache(maxsize=1)
def tokenize_udtf():
    """Python UDTF (table function): one doc row → (pos, token) rows.

    Completes the UDF/UDAF/UDTF surface (SURVEY.md §2.2). For plain
    whitespace tokens the built-in posexplode(split(...)) is the fast
    path (tests assert equivalence); the UDTF form is the extension
    point for tokenizers that aren't expressible as Column functions
    (BPE merges, stateful normalizers)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            for pos, token in enumerate(text.split(" ")):
                yield pos, token

    return Tokenize
