"""Evaluate-once pinning for expensive expressions.

Catalyst has no common-subexpression elimination for interpreted
(CodegenFallback) expressions — higher-order functions, ``from_json``
chains — and three optimizer rules conspire to duplicate any expression
you try to hoist into a named column: ColumnPruning drops helper
columns nothing references, CollapseProject merges the then-trivial
projection upward, and PushDownPredicates substitutes column aliases
into filter conditions. The net effect: a column computed once per row
on paper is evaluated once per *reference site* in the physical plan
(measured 2× on the template render path, see
template.CompiledTemplate._gate history).

``gate(col)`` wraps an expression in a condition Catalyst treats as
non-deterministic but cannot fold: ``spark_partition_id() >= 0`` is
always true, but the partition id is non-deterministic, so no rule
simplifies it, collapses through it, or substitutes it into a
predicate. A ``rand()``-based gate does NOT work — the optimizer
constant-folds ``rand()`` comparisons against out-of-range constants.

The same gate serves batch and streaming plans, and it has no seed on
purpose. ``SparkPartitionID`` is allowed by the streaming analyzer
(``monotonically_increasing_id`` is not). A seeded expression such as
``shuffle``/``rand`` gets a fresh random seed every time a plan is
analyzed, and every micro-batch is analyzed anew, so its generated Java
source differs per batch, misses the codegen cache, and pays a Janino
compile on every trigger.

Use on a projection column that (a) is expensive (JSON parse, HOF
fold), and (b) is referenced more than once downstream (filter + select,
or several derived columns).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def gate(c: Column) -> Column:
    """Pin ``c`` to evaluate exactly once per row when aliased in a
    projection (see module docstring). Batch and streaming plans."""
    return F.when(F.spark_partition_id() >= 0, c)
