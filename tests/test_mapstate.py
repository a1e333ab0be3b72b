"""MapState categorical counters: TWS processor ≡ fallback twin, and
cross-batch accumulation equals the batch GROUP BY."""

from __future__ import annotations

import pandas as pd


def test_mapstate_processor_matches_fallback_twin():
    """Drive the MapState processor through a fake handle so its logic
    executes even without the TWS protobuf worker, and pin it against
    the applyInPandasWithState twin batch-for-batch."""
    from kinesis_log_watcher_spark.streaming.mapstate import (
        TypeCountsProcessor,
        _count_updates,
    )

    class _FakeMapState:
        def __init__(self):
            self._m = {}

        def containsKey(self, key):
            return key in self._m

        def getValue(self, key):
            return self._m.get(key)

        def updateValue(self, key, value):
            self._m[key] = value

    class _FakeHandle:
        def __init__(self):
            self.state = _FakeMapState()

        def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
            return self.state

    class _FakeGroupState:
        def __init__(self):
            self._val = None

        @property
        def exists(self):
            return self._val is not None

        @property
        def get(self):
            return self._val

        def update(self, v):
            self._val = v

    def batches():
        b1 = pd.DataFrame({"event_type": ["click", "view", "click"]})
        b2 = pd.DataFrame({"event_type": ["view", "click", "purchase"]})
        return b1, b2

    proc = TypeCountsProcessor()
    proc.init(_FakeHandle())
    tws_out = []
    for b in batches():
        (pdf,) = list(proc.handleInputRows((3,), iter([b]), None))
        tws_out.extend(zip(pdf["event_type"], pdf["n"]))

    fb = _count_updates()
    st = _FakeGroupState()
    fb_out = []
    for b in batches():
        (pdf,) = list(fb((3,), iter([b]), st))
        fb_out.extend(zip(pdf["event_type"], pdf["n"]))

    assert tws_out == fb_out
    # batch 1 emits click=2, view=1; batch 2 accumulates on top
    assert tws_out == [
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
        [
            spark.createDataFrame(rows, "user_id long, event_type string")
            for rows in batches
        ],
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
