"""Per-user event-type counters: the fold accumulates across batches,
and cross-batch accumulation equals the batch GROUP BY."""

from __future__ import annotations

import pandas as pd


def test_mapstate_fold_accumulates_across_batches():
    from kinesis_log_watcher_spark.streaming.mapstate import fold

    b1 = pd.DataFrame({"event_type": ["click", "view", "click"]})
    b2 = pd.DataFrame({"event_type": ["view", "click", "purchase"]})
    out = []
    state = None
    for b in (b1, b2):
        state, pdf = fold(3, state, b)
        out.extend(zip(pdf["event_type"], pdf["n"]))

    # batch 1 emits click=2, view=1; batch 2 accumulates on top
    assert out == [
        ("click", 2), ("view", 1),
        ("click", 3), ("purchase", 1), ("view", 2),
    ]


def test_mapstate_replay_equals_batch_any_split(spark):
    from kinesis_log_watcher_spark.sources.files import stage_replay_files
    from kinesis_log_watcher_spark.streaming.mapstate import run_type_counts

    batches = [
        [(1, "click"), (1, "view"), (2, "click")],
        [(1, "click"), (2, "purchase"), (3, "view")],
        [(2, "click"), (1, "view")],
    ]
    d = stage_replay_files(
        spark.createDataFrame(
            [(*r, i) for i, rows in enumerate(batches) for r in rows],
            "user_id long, event_type string, part int",
        ),
        "part",
        len(batches),
        prefix="t_mapstate_",
    )

    want = {
        (r.user_id, r.event_type, r["count"])
        for r in spark.read.parquet(d)
        .groupBy("user_id", "event_type")
        .count()
        .collect()
    }
    from conftest import replay_parallel

    res = replay_parallel(
        *(
            (lambda s=split: run_type_counts(
                spark, d, max_files_per_trigger=s
            ).collect())
            for split in (1, None)
        )
    )
    for rows in res:
        got = {(r.user_id, r.event_type, r.n) for r in rows}
        assert got == want
