"""Bounded-state streaming top-k leaderboard: the board fold across
batches, fold purity, and replay-split invariance of the resolved
board."""

from __future__ import annotations

import pandas as pd


def _mk(values, eid0=0):
    return pd.DataFrame(
        {
            "value_milli": [v for v, _ in values],
            "event_id": list(range(eid0, eid0 + len(values))),
            "user_id": [u for _, u in values],
        }
    )


def test_topk_fold_updates_board_across_batches():
    from kinesis_log_watcher_spark.streaming.topk import fold

    b1 = _mk([(500, 7), (900, 8), (100, 9)], eid0=0)
    b2 = _mk([(700, 7), (900, 5), (50, 6)], eid0=3)
    out = []
    state = None
    for b in (b1, b2):
        state, pdf = fold("click", state, b, k=3)
        out.append(list(zip(pdf["value_milli"], pdf["event_id"])))

    # batch 1: board is all three rows ranked; batch 2: the 900-tie
    # breaks by event_id (1 before 4), 700 displaces 500
    assert out[0] == [(900, 1), (500, 0), (100, 2)]
    assert out[1] == [(900, 1), (900, 4), (700, 3)]


def test_topk_fold_keeps_exact_order_and_k():
    from kinesis_log_watcher_spark.streaming.topk import _fold_board

    board = _fold_board([], _mk([(5, 1), (9, 2), (7, 3)]), 2)
    assert board == [(9, 1, 2), (7, 2, 3)]
    # merging the same batch again never duplicates past-board rows'
    # dominance: ties on value fall back to ascending event_id
    board = _fold_board(board, _mk([(9, 4)], eid0=0), 2)
    assert board == [(9, 0, 4), (9, 1, 2)]


def test_topk_replay_equals_batch_any_split(spark):
    from kinesis_log_watcher_spark.sources.files import stage_replay_files
    from kinesis_log_watcher_spark.streaming.topk import run_stream_topk

    rows_by_batch = [
        [(0, "click", 1, 5.0), (1, "view", 2, 9.25), (2, "click", 3, 7.5)],
        [(3, "click", 4, 8.0), (4, "view", 5, 9.25), (5, "click", 6, 1.0)],
        [(6, "click", 7, 9.9), (7, "view", 8, 0.5), (8, "click", 9, 8.0)],
    ]
    d = stage_replay_files(
        spark.createDataFrame(
            [(*r, i) for i, rows in enumerate(rows_by_batch) for r in rows],
            "event_id long, event_type string, user_id long, value double, "
            "part int",
        ),
        "part",
        len(rows_by_batch),
        prefix="t_topk_",
    )

    from conftest import replay_parallel

    res = replay_parallel(
        *(
            (lambda s=split: run_stream_topk(
                spark, d, max_files_per_trigger=s
            ).collect())
            for split in (1, None)
        )
    )
    boards = {
        split: sorted(
            (r.event_type, r.rank, r.event_id, r.value_milli) for r in rows
        )
        for split, rows in zip((1, None), res)
    }
    assert boards[1] == boards[None]
    # exact expected board: clicks 9900(id6), 8000(id3<id8 tie), views...
    assert boards[1] == sorted(
        [
            ("click", 1, 6, 9900),
            ("click", 2, 3, 8000),
            ("click", 3, 8, 8000),
            ("view", 1, 1, 9250),
            ("view", 2, 4, 9250),
            ("view", 3, 7, 500),
        ]
    )
