"""Bounded-state streaming top-k leaderboard: a pure per-key fold
(:func:`fold`) run by ``keyfold.fold_by_key``.

The operator keeps, per stream key (event_type), ONLY the current top-k
records ``(value_milli, event_id, user_id)`` — k rows of state per key,
never the events. Each micro-batch folds the batch's candidates into
the stored leaderboard (merge, sort by (value_milli DESC, event_id),
truncate to k) and emits the updated board. This is the canonical
bounded-state streaming top-k: eviction is EXACT because a record's
score is its own value (no cross-record accumulation), so

    leaderboard(prefix ∪ batch) = topk(leaderboard(prefix) ∪ batch)

and the union of every emission contains the global top-k. That
containment is what makes sink resolution order-free: re-ranking the
DISTINCT union of emitted rows yields the batch answer regardless of
how the replay was split into micro-batches — the same replay-split
convergence argument streaming/mapstate.py makes for counters.

State size: k rows per key — at 100 TB the per-key board is a constant,
and emissions are k rows per updated key per batch. Values are
milli-quantized int64 (the house events.value convention, e.g.
queries/mining.py ab_welch_ttest) so comparisons are exact integer
comparisons, bit-identical to the DuckDB oracle's ranking.

The board lives in the group state as three parallel arrays
(values, event ids, user ids).

Reference scope note: the reference (main.go) has no analytics surface;
this belongs to the SURVEY.md §2.2 streaming-stateful family.
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_log_watcher_spark.sources.files import (
    read_parquet_stream,
    run_replay,
)
from kinesis_log_watcher_spark.streaming.keyfold import fold_by_key


TOPK_K = 3
TOPK_SCHEMA = (
    "event_type string, event_id bigint, user_id bigint, value_milli bigint"
)
_STATE_SCHEMA = (
    "vals array<bigint>, event_ids array<bigint>, user_ids array<bigint>"
)


def _fold_board(
    board: "list[tuple[int, int, int]]", batch: pd.DataFrame, k: int
) -> "list[tuple[int, int, int]]":
    """Merge a batch's rows into the (value_milli, event_id, user_id)
    board: best k by (value DESC, event_id ASC). Pure and deterministic."""
    cand = board + list(
        zip(
            (int(v) for v in batch["value_milli"]),
            (int(e) for e in batch["event_id"]),
            (int(u) for u in batch["user_id"]),
        )
    )
    cand.sort(key=lambda t: (-t[0], t[1]))
    return cand[:k]


def fold(event_type, state, rows: pd.DataFrame, *, k: int = TOPK_K):
    """Fold a batch into the key's stored board and emit the updated
    board (one board emission per key and batch)."""
    board: list[tuple[int, int, int]] = []
    if state is not None:
        vals, eids, uids = state
        board = [(int(v), int(e), int(u)) for v, e, u in zip(vals, eids, uids)]
    board = _fold_board(board, rows, k)
    vals = [v for v, _, _ in board]
    eids = [e for _, e, _ in board]
    uids = [u for _, _, u in board]
    return (vals, eids, uids), pd.DataFrame(
        {
            "event_type": [event_type] * len(board),
            "event_id": eids,
            "user_id": uids,
            "value_milli": vals,
        }
    )


def run_stream_topk(
    spark: SparkSession,
    events_path: str,
    k: int = TOPK_K,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay a bounded events table through the leaderboard and
    resolve the update sink: every emission is a running top-k, so the
    DISTINCT union of emissions contains the global top-k and one
    re-rank recovers it — order-free in the replay split."""
    stream = read_parquet_stream(spark, events_path, max_files_per_trigger)
    feed = stream.select(
        "event_type",
        "event_id",
        "user_id",
        F.expr(
            "CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT)"
        ).alias("value_milli"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value_milli").desc(), F.col("event_id")
    )
    return (
        run_replay(
            fold_by_key(
                feed, "event_type", partial(fold, k=k), TOPK_SCHEMA, _STATE_SCHEMA
            ),
            "update",
            "stream_topk",
        )
        .distinct()
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("event_type", "event_id", "user_id", "value_milli", "rank")
    )
