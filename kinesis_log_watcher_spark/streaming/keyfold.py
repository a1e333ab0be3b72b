"""One adapter from a pure per-key fold to a stateful streaming operator.

The reference's work loop folds each pulled batch into its worker's
state and emits lines (main.go:247-365). Here each stateful operator
with no timeout (``tws``, ``topk``, ``tokenbudget``, ``cusum``,
``stateful``, ``ratelimit``, ``mapstate``, ``semcache``) is that fold
and nothing else::

    fold(key, state_or_None, rows) -> (new_state_or_None, out_or_None)

``key`` is the grouping value, ``state_or_None`` the key's stored state
tuple (``None`` before its first batch), ``rows`` ALL of the key's rows
in the micro-batch as one pandas frame, in no particular order. The
fold returns the state to store (``None`` forgets the key) and the
frame to emit (``None`` emits nothing). It never sees ``GroupState``,
so a test drives it with plain values.

:func:`fold_by_key` owns the rest of the ``applyInPandasWithState``
protocol: update output mode, ``NoTimeout``, state get/update, and the
chunk rule. The protocol splits a key's rows into Arrow chunks at
``spark.sql.execution.arrow.maxRecordsPerBatch`` and sorts the
partition only by the grouping key, so a fold that sorted chunk by
chunk would fold a >10k-row key out of order; the adapter joins the
chunks first. The two operators with timers (``timers.py``, event
time; ``neardup.py``, processing time) call ``applyInPandasWithState``
themselves, so this adapter has no timeout branch.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

Fold = Callable[[Any, Any, pd.DataFrame], "tuple[Any, pd.DataFrame | None]"]


def fold_by_key(
    df: DataFrame, key: str, fold: Fold, out_schema: str, state_schema: str
) -> DataFrame:
    """Group ``df`` by the column ``key`` and run ``fold`` per key and
    micro-batch (see the module docstring); the result is the stream of
    the folds' emitted frames, in ``out_schema``."""

    def step(
        key_values: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        new_state, out = fold(
            key_values[0], state.get if state.exists else None, rows
        )
        if new_state is None:
            state.remove()
        else:
            state.update(new_state)
        if out is not None:
            yield out

    return df.groupBy(key).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
