"""Custom Python DataSource: a deterministic offline Kinesis simulator.

The reference consumes a real Kinesis stream (main.go:148-243: paginated
ListShards, one consumer per shard, AT_TIMESTAMP/AT_SEQUENCE_NUMBER
iterators, NextShardIterator advancement). sources/kinesis.py adapts
those options onto a connector; THIS module implements the stream's
*semantics* as a first-class Spark source via the Python DataSource API
(Spark 4): shards → one InputPartition each (S2 parity: per-shard
parallel scan), records totally ordered per shard by zero-padded
sequence number (main.go:320,362), offsets = a per-shard sequence-number
map that Structured Streaming checkpoints and resumes (W4 parity — the
same resume contract as the reference's latestSequenceNumber tracking,
minus its main.go:345 shadow bug).

Everything the simulator emits is a PURE FUNCTION of (shard, seq) — no
randomness, no clock — so a SQL oracle can regenerate the identical
records with generate_series and the whole source + envelope + JSON
access pipeline is hash-checkable end to end (queries/round6b.py
kinesis_sim_batch_scan / stream_kinesis_sim_scan).

At scale: a real deployment swaps this class for the connector; the
reader surface (partition-per-shard, offset map, bounded per-pull
record limit ≙ the ≤10k GetRecords bound, S3 parity) is identical.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from kinesis_log_watcher_spark.session import ensure_session_confs

SIM_SCHEMA = (
    "streamName string, shardId string, sequenceNumber string, "
    "approximateArrivalTimestamp timestamp, partitionKey string, "
    "data binary"
)

SIM_EPOCH = datetime(2024, 5, 1, 12, 0, 0)

_LEVELS = ("info", "warn", "error")


def sim_record(stream_name: str, shard: int, seq: int) -> tuple:
    """The deterministic record for (shard, seq) — the single source of
    truth both the reader below and the SQL oracle restate."""
    level = _LEVELS[seq % 3]
    latency = (seq * 7 + shard * 3) % 500
    payload = json.dumps(
        {
            "level": level,
            "msg": f"req {seq} shard {shard}",
            "latency_ms": latency,
        },
        separators=(", ", ": "),
    )
    return (
        stream_name,
        f"shardId-{shard:012d}",
        f"{shard:04d}{seq:016d}",
        SIM_EPOCH + timedelta(seconds=seq),
        f"instance/i-{shard:04d}",
        payload.encode("utf-8"),
    )


def sim_child_record(
    stream_name: str, parent: int, child_shard: int, child_off: int,
    split_at: int, j: int,
) -> tuple:
    """Record ``j`` of a child shard created by splitting ``parent`` at
    parent-sequence ``split_at``. Kinesis split semantics: the parent
    shard is CLOSED at the split point; records that would have landed
    on it are rerouted to the two children, which assign their own
    fresh sequence numbers. Here rerouting is deterministic by parity
    ((q - split_at) % 2 — the hash-range analogue), so the child record
    carries the PARENT's payload/partition-key for parent seq
    q = split_at + 2*j + child_off, re-sequenced as (child_shard, j)."""
    q = split_at + 2 * j + child_off
    rec = sim_record(stream_name, parent, q)
    return (
        rec[0],
        f"shardId-{child_shard:012d}",
        f"{child_shard:04d}{j:016d}",
        rec[3],  # arrival time keyed to the parent seq — monotone per child
        rec[4],
        rec[5],
    )


def sim_merged_record(
    stream_name: str, parents: tuple[int, int], child_shard: int,
    merge_at: int, j: int,
) -> tuple:
    """Record ``j`` of the child shard created by MERGING two parents at
    parent-sequence ``merge_at``. Kinesis merge semantics: both parents
    are CLOSED; subsequent records land on the single child under fresh
    child sequence numbers. Deterministic interleave: child record j
    carries parent ``parents[j % 2]``'s payload for parent seq
    q = merge_at + j // 2 (both producers keep producing at the same
    rate, alternating arrival)."""
    q = merge_at + j // 2
    parent = parents[j % 2]
    rec = sim_record(stream_name, parent, q)
    return (
        rec[0],
        f"shardId-{child_shard:012d}",
        f"{child_shard:04d}{j:016d}",
        rec[3],
        rec[4],
        rec[5],
    )


class _ShardSlice(InputPartition):
    def __init__(
        self, shard: int, start: int, end: int, stream_name: str,
        parent: int | None = None, child_off: int = 0, split_at: int = 0,
        merge_parents: tuple[int, int] | None = None, merge_at: int = 0,
    ):
        self.shard = shard
        self.start = start
        self.end = end
        self.stream_name = stream_name
        self.parent = parent  # set → this is a post-split child shard
        self.child_off = child_off
        self.split_at = split_at
        self.merge_parents = merge_parents  # set → post-merge child shard
        self.merge_at = merge_at


class _SimPlan:
    """The logical shard layout: every open-or-closed shard with its
    record count and lineage. A pure function of the option map, so the
    batch reader, the stream reader's offset maps, and the SQL oracle
    all restate the identical stream."""

    def __init__(self, options):
        self.shards = int(options.get("shards", "4"))
        self.per_shard = int(options.get("recordsPerShard", "250"))
        self.batch = int(options.get("maxRecordsPerPull", "100"))
        self.stream_name = options.get("streamName", "sim-stream")
        self.split_shard = int(options.get("splitShard", "-1"))
        self.split_at = int(options.get("splitAtSeq", "0"))
        # MergeShards: "i,j" names two parents closed at mergeAtSeq; the
        # single child interleaves their remainders. Mutually exclusive
        # with splitShard (one reshard event per simulated stream).
        merge = options.get("mergeShards", "")
        self.merge_parents: tuple[int, int] | None = None
        if merge.strip():
            if int(options.get("splitShard", "-1")) >= 0:
                raise ValueError(
                    "kinesis_sim: splitShard and mergeShards are mutually "
                    "exclusive (one reshard event per stream)"
                )
            a, b = (int(x) for x in merge.split(","))
            self.merge_parents = (a, b)
        self.merge_at = int(options.get("mergeAtSeq", "0"))
        # Visibility cap in the PARENT sequence domain ("the stream has
        # only produced up to here") — lets a resume test checkpoint
        # mid-parent and restart after the split has happened.
        self.visible = int(options.get("maxVisibleSeq", "-1"))

    def _lim(self) -> int:
        return self.per_shard if self.visible < 0 else min(
            self.per_shard, self.visible
        )

    def counts(self) -> dict[int, int]:
        """shard id → available record count (parents closed at the
        split point, children carrying the rerouted remainder)."""
        lim = self._lim()
        out = {s: lim for s in range(self.shards)}
        if 0 <= self.split_shard < self.shards:
            k = min(self.split_at, self.per_shard)
            out[self.split_shard] = min(k, lim)
            rerouted = max(0, lim - k)
            out[self.shards] = (rerouted + 1) // 2  # child 0: even offsets
            out[self.shards + 1] = rerouted // 2  # child 1: odd offsets
        elif self.merge_parents is not None:
            k = min(self.merge_at, self.per_shard)
            for p in self.merge_parents:
                out[p] = min(k, lim)
            # two producers' remainders interleave on the one child
            out[self.shards] = 2 * max(0, lim - k)
        return out

    def slice(self, shard: int, start: int, end: int) -> _ShardSlice:
        if 0 <= self.split_shard < self.shards and shard >= self.shards:
            return _ShardSlice(
                shard, start, end, self.stream_name,
                parent=self.split_shard,
                child_off=shard - self.shards,
                split_at=min(self.split_at, self.per_shard),
            )
        if self.merge_parents is not None and shard >= self.shards:
            return _ShardSlice(
                shard, start, end, self.stream_name,
                merge_parents=self.merge_parents,
                merge_at=min(self.merge_at, self.per_shard),
            )
        return _ShardSlice(shard, start, end, self.stream_name)


def _read_slice(partition: _ShardSlice):
    if partition.parent is not None:
        for j in range(partition.start, partition.end):
            yield sim_child_record(
                partition.stream_name, partition.parent, partition.shard,
                partition.child_off, partition.split_at, j,
            )
    elif partition.merge_parents is not None:
        for j in range(partition.start, partition.end):
            yield sim_merged_record(
                partition.stream_name, tuple(partition.merge_parents),
                partition.shard, partition.merge_at, j,
            )
    else:
        for seq in range(partition.start, partition.end):
            yield sim_record(partition.stream_name, partition.shard, seq)


class KinesisSimBatchReader(DataSourceReader):
    def __init__(self, options):
        self.plan = _SimPlan(options)

    def partitions(self):
        # one input partition per shard — the connector's layout
        # (closed parents and their children each get their own, the
        # shape a post-split ListShards returns)
        return [
            self.plan.slice(s, 0, n)
            for s, n in self.plan.counts().items()
        ]

    def read(self, partition: _ShardSlice):
        yield from _read_slice(partition)


class KinesisSimStreamReader(DataSourceStreamReader):
    """Offsets are {"shard-<i>": next_seq} maps — checkpointed by
    Structured Streaming exactly like the reference tracks
    latestSequenceNumber per shard. maxRecordsPerPull bounds each
    INPUT PARTITION (one pull ≡ one GetRecords call, Limit ≤10k,
    main.go:218); a trigger may span several pulls per shard, exactly
    like the reference's poll loop."""

    def __init__(self, options):
        self.plan = _SimPlan(options)

    def initialOffset(self):
        return {f"shard-{s}": 0 for s in self.plan.counts()}

    def latestOffset(self):
        # a bounded simulation: the stream "ends" at per_shard records
        # (parents end at the split point, children at their rerouted
        # share; maxVisibleSeq caps everything for phased-resume tests)
        return {f"shard-{s}": n for s, n in self.plan.counts().items()}

    def partitions(self, start: dict, end: dict):
        # Each input partition is one bounded PULL (the GetRecords
        # Limit analogue, main.go:218): a micro-batch may span several
        # pulls per shard, exactly like the reference's poll loop
        # issues several GetRecords calls per poll. A checkpoint written
        # BEFORE a split knows nothing of the children — missing start
        # keys default to 0, exactly how the reference picks up
        # newly-listed shards from TRIM_HORIZON (main.go:176-178).
        parts = []
        for s in self.plan.counts():
            a = int(start.get(f"shard-{s}", 0))
            b = int(end.get(f"shard-{s}", 0))
            while a < b:
                c = min(a + self.plan.batch, b)
                parts.append(self.plan.slice(s, a, c))
                a = c
        return parts

    def read(self, partition: _ShardSlice):
        yield from _read_slice(partition)

    def commit(self, end):
        pass

    def stop(self):
        pass


class KinesisSimDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesis_sim"

    def schema(self) -> str:
        return SIM_SCHEMA

    def reader(self, schema):
        return KinesisSimBatchReader(self.options)

    def streamReader(self, schema):
        return KinesisSimStreamReader(self.options)


def register_sim_source(spark) -> None:
    """Idempotently register the simulator with this session, after
    applying the session confs its reads depend on (the UTC zone the
    naive ``approximateArrivalTimestamp`` values are read in), so the
    callers never set them."""
    ensure_session_confs(spark)
    spark.dataSource.register(KinesisSimDataSource)
