"""Seeded input generators for the benchmark workloads.

Everything here is plain Python, NumPy and pyarrow: the program under
test receives only the files these functions write. The same seed always
gives the same rows.

- ``kinesis_records``: raw Kinesis-shaped records (the engine's
  ``RAW_KINESIS_SCHEMA``) with the ``sources.fixture`` payload mix: per
  six records, three JSON objects, one JSON non-object, one invalid JSON
  (plain text or invalid UTF-8) and one empty payload, so half of the
  records are render errors for any template that reads ``.Log``.
- ``query_tables``: the five driver tables the ``query_mix`` list reads
  (lineitem, orders, supplier, events, documents), with the column names,
  types and value domains of the sf0.1 layout.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTITION_KEYS = (
    "arn:aws:ecs:us-east-1:123456789012:task/abc-123",
    "arn:aws:ec2:us-east-1:123456789012:instance/i-0abcdef",
    "ip-address:10.0.0.1",
    "uuid:6f1e4a3c-9d2b-4c61-a0f7-2f4f0a9b1c55",
)
LEVELS = ("info", "warn", "error")
NON_OBJECT_JSON = (b"[1,2]", b'"plain string"', b"42")

RAW_SCHEMA = pa.schema(
    [
        ("streamName", pa.string()),
        ("shardId", pa.string()),
        ("sequenceNumber", pa.string()),
        ("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC")),
        ("partitionKey", pa.string()),
        ("data", pa.binary()),
    ]
)

_EPOCH_US = int(datetime(2024, 5, 1, 12, 0, 0).timestamp()) * 1_000_000


def payloads(rng: np.random.Generator, ids: np.ndarray) -> list[bytes]:
    """The fixture payload mix for record ids ``ids`` (kind = id % 6)."""
    n = len(ids)
    levels = rng.integers(0, len(LEVELS), n)
    latency = rng.integers(1, 501, n)
    non_object = rng.integers(0, len(NON_OBJECT_JSON), n)
    out: list[bytes] = []
    for j, i in enumerate(ids.tolist()):
        kind = i % 6
        if kind < 3:
            out.append(
                (
                    f'{{"level": "{LEVELS[levels[j]]}", "msg": "request {i} handled", '
                    f'"FieldName": "v{i % 7}", "latency_ms": {latency[j]}, '
                    f'"nested": {{"code": {i % 3}}}}}'
                ).encode()
            )
        elif kind == 3:
            out.append(NON_OBJECT_JSON[non_object[j]])
        elif kind == 4:
            if (i // 6) % 2 == 1:
                out.append(b"\xff\xfe raw bytes \xff" + str(i).encode())
            else:
                out.append(f"plain text log line {i}".encode())
        else:
            out.append(b"")
    return out


def kinesis_records(
    seed: int,
    n: int,
    start_id: int = 0,
    arrival_us: np.ndarray | None = None,
    n_shards: int = 4,
) -> pa.Table:
    """``n`` raw records with ids ``start_id .. start_id + n - 1``.

    Arrival timestamps default to one second apart per shard with a
    seeded sub-second jitter; a streaming generator passes its own
    creation times instead. Sequence numbers are unique across the whole
    id space (``<shard:04d><id:016d>``) and increase within a shard.
    """
    rng = np.random.default_rng([seed, start_id])
    ids = np.arange(start_id, start_id + n, dtype=np.int64)
    shard = ids % n_shards
    if arrival_us is None:
        arrival_us = _EPOCH_US + (ids // n_shards) * 1_000_000 + rng.integers(
            0, 1_000_000, n
        )
    shard_ids = [f"shardId-{s:012d}" for s in range(n_shards)]
    shard_list = shard.tolist()
    return pa.table(
        [
            pa.array(["bench-stream"] * n, pa.string()),
            pa.array([shard_ids[s] for s in shard_list], pa.string()),
            pa.array(
                [f"{s:04d}{i:016d}" for s, i in zip(shard_list, ids.tolist())],
                pa.string(),
            ),
            pa.array(arrival_us, pa.timestamp("us", tz="UTC")),
            pa.array(
                [PARTITION_KEYS[i % len(PARTITION_KEYS)] for i in ids.tolist()],
                pa.string(),
            ),
            pa.array(payloads(rng, ids), pa.binary()),
        ],
        schema=RAW_SCHEMA,
    )


def write_splits(table: pa.Table, out_dir: str, n_splits: int) -> None:
    """Write ``table`` as ``n_splits`` equal parquet files (one row group
    each), so the scan gets ``n_splits`` equal input splits."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n_splits)
    for k in range(n_splits):
        part = table.slice(k * per, per)
        pq.write_table(
            part, os.path.join(out_dir, f"part-{k:05d}.parquet"),
            row_group_size=max(1, part.num_rows),
        )


# ---------------------------------------------------------------------------
# query_mix tables
# ---------------------------------------------------------------------------

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")

_DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The five tables the query_mix list reads, ``scale`` × the sf0.1
    row counts (lineitem 600k, orders 150k, supplier 1k, events 100k,
    documents 5k at ``scale=1``)."""
    rng = np.random.default_rng([seed, 7])
    n_li = int(600_000 * scale)
    n_ord = int(150_000 * scale)
    n_sup = max(50, int(1_000 * scale))
    n_ev = int(100_000 * scale)
    n_doc = max(200, int(5_000 * scale))
    d1995 = int(datetime(1995, 1, 1).timestamp()) * 1_000_000
    d2024 = int(datetime(2024, 1, 1).timestamp()) * 1_000_000

    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_sup),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 15_000, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(d1995 + rng.integers(0, 2400, n_ord) * _DAY_US),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_ord)
                ]
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(d1995 + rng.integers(0, 2500, n_li) * _DAY_US),
        }
    )
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(np.sort(d2024 + rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, 1_500, n_ev), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": _money(rng, 0.0, 560.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
        }
    )
    texts: list[str] = []
    words = np.array(WORDS)
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.03:
            # near-duplicate of an earlier document: one word replaced
            base = texts[int(rng.integers(0, i))].split(" ")
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_doc)]),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_doc).tolist()],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return {
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-file parquet per table, as ``<name>.parquet`` (the
    layout ``queries.base.load`` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
