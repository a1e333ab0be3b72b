"""Streaming MinHash+LSH near-dup: a bounded replay must produce
EXACTLY the batch candidate-pair relation, for any micro-batch split —
bucket state carries across batches, pairs are emitted once per
colliding band, and the (doc_a < doc_b) normalization makes the pair
set independent of arrival order."""

from __future__ import annotations

import pytest

from kinesis_log_watcher_spark.operators.dedup import (
    exploded_shingles,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
)
from kinesis_log_watcher_spark.sources.files import stage_replay_files
from kinesis_log_watcher_spark.streaming.neardup import (
    NUM_HASHES,
    BANDS,
    run_stream_neardup,
)


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "synth", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _stage_stream(spark, batches):
    """mtime-ordered single-file batches in a fresh replay directory."""
    df = spark.createDataFrame(
        [
            (i, t, "en", "synth", len(t), b)
            for b, batch in enumerate(batches)
            for i, t in batch
        ],
        "doc_id long, text string, lang string, source string, n_chars long, "
        "part int",
    )
    return stage_replay_files(df, "part", len(batches), prefix="t_neardup_")


def _as_rows(df):
    return {(r.doc_a, r.doc_b, r.n_bands) for r in df.collect()}


@pytest.fixture(scope="module")
def neardup_replays(spark):
    """Both scenarios staged once; the module's four bounded replays
    (split + single over the 3-file stream; capped + uncapped over the
    cap stream) launch in ONE replay_parallel burst (the r8 suite-speed
    shape). The TTL test stays standalone — it is wall-clock-bound by
    real idle batches, not replay machinery."""
    from conftest import replay_parallel

    from concurrent.futures import ThreadPoolExecutor

    base = " ".join(f"t{i:02d}" for i in range(20))
    variant = base.replace("t07", "x07")  # high-Jaccard neighbor of base
    fresh = " ".join(f"u{i:02d}" for i in range(20))
    cap_text = " ".join(f"w{i:02d}" for i in range(20))
    # the two streams stage concurrently (independent write jobs)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_docs = pool.submit(_stage_stream, spark, [
            [(0, base), (1, fresh)],
            [(2, base), (3, variant)],          # 2 dups 0 across batches
            [(4, base), (5, " ".join(f"v{i:02d}" for i in range(20)))],
        ])
        f_cap = pool.submit(_stage_stream, spark, [
            [(10, cap_text)], [(20, cap_text)], [(30, cap_text)],
        ])
        doc_files, cap_files = f_docs.result(), f_cap.result()

    split, single, cap_full, cap_capped = replay_parallel(
        lambda: _as_rows(
            run_stream_neardup(spark, doc_files, max_files_per_trigger=1)
        ),
        lambda: _as_rows(run_stream_neardup(spark, doc_files)),
        lambda: _as_rows(
            run_stream_neardup(spark, cap_files, max_files_per_trigger=1)
        ),
        lambda: _as_rows(
            run_stream_neardup(
                spark, cap_files, max_files_per_trigger=1, max_bucket_members=1
            )
        ),
    )
    return {
        "doc_files": doc_files,
        "split": split,
        "single": single,
        "cap_full": cap_full,
        "cap_capped": cap_capped,
    }


def test_replay_matches_batch_any_split(spark, neardup_replays):
    docs = spark.read.parquet(neardup_replays["doc_files"])
    expected = _as_rows(
        lsh_candidate_pairs(
            lsh_bands(
                minhash_signature(exploded_shingles(docs), NUM_HASHES),
                NUM_HASHES,
                BANDS,
            )
        )
    )
    assert expected  # identical docs collide in all bands
    assert any(n == BANDS for _, _, n in expected)
    assert neardup_replays["split"] == expected
    assert neardup_replays["single"] == expected


def test_state_ttl_evicts_idle_buckets(spark, tmp_path):
    """A bucket left idle past the processing-time TTL is dropped from
    the state store: docs arriving after the idle gap no longer pair
    with it (within-gap collisions still do) — proof the state row is
    freed, not merely ignored.

    Files are added WHILE the query runs: timeouts only fire in a batch
    where the key has no input, so the eviction needs real idle batches
    between arrivals (back-to-back replay batches would never evict —
    which is also why run_stream_neardup disables the TTL for bounded
    replays: pending timers make the engine keep scheduling batches and
    an availableNow replay would never terminate)."""
    import glob as _glob
    import shutil as _shutil
    import time

    from kinesis_log_watcher_spark.sources.files import read_parquet_stream
    from kinesis_log_watcher_spark.streaming.neardup import (
        candidate_pairs,
        neardup_pair_stream,
    )

    base = " ".join(f"t{i:02d}" for i in range(20))
    variant = base.replace("t07", "x07")

    def _write_file(rows, stage_name, dest):
        stage = tmp_path / stage_name
        _mk_docs(spark, rows).coalesce(1).write.parquet(str(stage))
        (part,) = _glob.glob(str(stage / "part-*.parquet"))
        _shutil.copy(part, dest)

    d = tmp_path / "ttl_stream"
    d.mkdir()
    _write_file([(0, base)], "ttl_stage1", d / "f1.parquet")

    stream = read_parquet_stream(spark, str(d), max_files_per_trigger=1)
    q = (
        neardup_pair_stream(stream, state_ttl_ms=1, max_bucket_members=None)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("neardup_ttl_test")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and not (
            q.lastProgress and q.lastProgress["batchId"] >= 1
        ):
            time.sleep(0.2)
        # idle: empty batches run, doc 0's buckets pass the 1ms TTL and
        # are invoked with hasTimedOut → state.remove(). 1.5s of
        # processingTime=0 batches is many eviction opportunities; the
        # post-write polling loop below is the correctness wait.
        time.sleep(1.5)
        _write_file([(2, base), (3, variant)], "ttl_stage2", d / "f2.parquet")
        while time.time() < deadline:
            got = {
                (r.doc_a, r.doc_b)
                for r in candidate_pairs(
                    spark.table("neardup_ttl_test")
                ).collect()
            }
            if (2, 3) in got:
                break
            time.sleep(0.5)
        else:
            raise TimeoutError("pair (2,3) never surfaced")
        # state-scale pin: the store's own metrics must show rows being
        # REMOVED (doc 0's buckets expiring), not just ignored — the
        # 100 TB posture is bounded state, asserted from query progress
        removed = sum(
            op.get("numRowsRemoved", 0)
            for p_ in q.recentProgress
            for op in p_.get("stateOperators", [])
        )
        assert removed > 0, "TTL never removed state-store rows"
        last_total = next(
            (
                op["numRowsTotal"]
                for p_ in reversed(q.recentProgress)
                for op in p_.get("stateOperators", [])
                if "numRowsTotal" in op
            ),
            None,
        )
        # live state is bounded by the CURRENT docs' bucket count (one
        # row per (band, band_sig)); doc 0's rows are gone
        from kinesis_log_watcher_spark.streaming.neardup import BANDS

        assert last_total is not None and last_total <= 2 * BANDS
    finally:
        q.stop()
    # without a TTL the same two files produce the cross-gap pairs too
    full = {
        (a, b)
        for a, b, _ in _as_rows(
            run_stream_neardup(spark, str(d), max_files_per_trigger=1)
        )
    }
    assert full == {(0, 2), (0, 3), (2, 3)}
    # under the TTL doc 0's buckets were evicted during the idle gap
    assert got == {(2, 3)}


def test_member_cap_bounds_bucket_state(neardup_replays):
    """max_bucket_members=1 keeps only the most recent member per
    bucket: with three identical docs over three single-file batches,
    only consecutive pairs survive — the oldest member was evicted."""
    full = neardup_replays["cap_full"]
    capped = neardup_replays["cap_capped"]
    assert {(a, b) for a, b, _ in full} == {(10, 20), (10, 30), (20, 30)}

    # (10,30) requires remembering doc 10 after doc 20 arrived — evicted
    assert {(a, b) for a, b, _ in capped} == {(10, 20), (20, 30)}
