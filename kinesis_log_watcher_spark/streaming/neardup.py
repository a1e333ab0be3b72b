"""Streaming near-duplicate detection: MinHash+LSH over a document
stream with per-bucket state.

The batch LSH dedup (queries/llm.dedup_minhash_lsh) bucket-joins banded
signatures; the streaming form keeps each (band, band_sig) bucket's
member list in the state store and pairs every arriving document
against the bucket's prior members — the standard online-curation
shape: near-dup candidates surface the moment the second copy arrives,
without re-scanning the corpus.

Plan shape:
- the MinHash signature is a pure NARROW map (no pre-shuffle): K
  min-hashes fold over the document's shingle array via higher-order
  functions (``MIN(md5(k|shingle))`` — identical values to the batch
  groupBy form, since duplicates cannot change a MIN);
- bands explode to (band, band_sig) rows; the ONE stateful operator
  groups by bucket key. Buckets are md5-keyed → maximal shuffle
  entropy, no skew;
- state per bucket is the member id list, and it is BOUNDED two ways
  (both on by default, both parameterized):
  * a processing-time TTL (``state_ttl_ms``) — a bucket idle past the
    horizon is dropped from the state store, so an unbounded stream
    cannot accumulate state forever;
  * a per-bucket member cap (``max_bucket_members``) with
    oldest-first eviction — a pathological hot bucket (boilerplate
    shingles) cannot grow one key's state or make pairing O(corpus).
  Inside the TTL/cap horizon the pair stream is exact; beyond it the
  operator degrades to "near-dup within the retention window", the
  standard contract for online dedup at corpus scale;
- each colliding pair is emitted exactly once per band regardless of
  micro-batch split (pairs are normalized doc_a < doc_b), so the
  bounded replay reduces to EXACTLY the batch candidate relation:

      groupBy(doc_a, doc_b).count() == batch lsh_candidate_pairs

  which is the driver-checked oracle (same SQL as dedup_minhash_lsh).
"""

from __future__ import annotations

from kinesis_log_watcher_spark.sources.files import (
    read_parquet_stream,
    run_replay,
)

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kinesis_log_watcher_spark.functions.evalonce import gate
from kinesis_log_watcher_spark.operators.dedup import (
    # geometry SHARED with the batch query (queries/llm.dedup_minhash_lsh)
    # — the streaming operator's oracle is that query's SQL verbatim
    MINHASH_BANDS as BANDS,
    MINHASH_NUM_HASHES as NUM_HASHES,
    shingles_col,
    tokens_col,
)


_ROWS = NUM_HASHES // BANDS

_PAIR_SCHEMA = "doc_a bigint, doc_b bigint, band int"
_STATE_SCHEMA = "ids array<bigint>"


def banded_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, band, band_sig) — the narrow-map LSH signature.

    Value-identical to the batch pipeline (exploded_shingles →
    minhash_signature → lsh_bands): m_k = MIN over shingles of
    md5('k|' || shingle), folded with array_min over the shingle array
    instead of a groupBy — no shuffle before the stateful operator."""
    toks = tokens_col(F.col("text"))
    prepped = docs.filter(F.size(toks) >= n).select(
        "doc_id", gate(shingles_col(F.col("text"), n)).alias("__sh")
    )

    def min_hash(k: int):
        # NB: closure, not a defaulted lambda parameter — a two-parameter
        # lambda would make PySpark pass the element INDEX as the second
        # argument (transform's (x, i) form), silently overriding k
        return F.array_min(
            F.transform(
                F.col("__sh"), lambda s: F.md5(F.concat(F.lit(f"{k}|"), s))
            )
        ).alias(f"m{k}")

    mins = [min_hash(k) for k in range(NUM_HASHES)]
    sig = prepped.select("doc_id", *mins)
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"m{b * _ROWS + r}") for r in range(_ROWS)]
                )
            ).alias("band_sig"),
        )
        for b in range(BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.band", "e.band_sig")


# Default state bounds. The TTL drops buckets idle past the horizon
# (state-store rows are freed, not just ignored); the member cap bounds
# a single hot bucket's state AND its per-arrival pairing cost. At
# corpus scale both limits are load-bearing; for a bounded oracle
# replay neither fires (replays complete in seconds and sf buckets are
# far below the cap), so replay ≡ batch stays exact.
DEFAULT_STATE_TTL_MS = 6 * 3_600_000  # 6h idle → bucket evicted
DEFAULT_MAX_BUCKET_MEMBERS = 8_192


def _make_bucket_pairs(ttl_ms: int | None, max_members: int | None):
    """Build the stateful pairing fn with the given state bounds."""

    def _bucket_pairs(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Pair each arriving doc against the bucket's prior members."""
        if state.hasTimedOut:
            # idle past the TTL horizon: free the bucket's state row
            state.remove()
            return
        (members,) = state.get if state.exists else ([],)
        members = list(members)
        new: list[int] = []
        for pdf in pdfs:
            new.extend(int(d) for d in pdf["doc_id"])
        new.sort()  # deterministic in-batch order
        out_a: list[int] = []
        out_b: list[int] = []
        for d in new:
            for m in members:
                a, b = (m, d) if m < d else (d, m)
                out_a.append(a)
                out_b.append(b)
            members.append(d)
        if max_members is not None and len(members) > max_members:
            # oldest-first eviction: keep the most recent arrivals
            members = members[-max_members:]
        state.update((members,))
        if ttl_ms is not None:
            # re-arm on every update: the clock measures idleness
            state.setTimeoutDuration(ttl_ms)
        if out_a:
            yield pd.DataFrame(
                {"doc_a": out_a, "doc_b": out_b, "band": int(key[0])}
            )

    return _bucket_pairs


def neardup_pair_stream(
    docs: DataFrame,
    state_ttl_ms: int | None = DEFAULT_STATE_TTL_MS,
    max_bucket_members: int | None = DEFAULT_MAX_BUCKET_MEMBERS,
) -> DataFrame:
    """Document stream → (doc_a, doc_b, band) collision stream.

    ``state_ttl_ms=None`` disables the idle-bucket TTL;
    ``max_bucket_members=None`` disables the per-bucket cap. Both
    default ON — unbounded state is opt-in, never the silent default.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        banded_signatures(docs)
        .groupBy("band", "band_sig")
        .applyInPandasWithState(
            _make_bucket_pairs(state_ttl_ms, max_bucket_members),
            outputStructType=_PAIR_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def candidate_pairs(collisions: DataFrame) -> DataFrame:
    """Reduce the collision stream to the batch candidate relation."""
    return collisions.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("long").alias("n_bands")
    )


def run_stream_neardup(
    spark: SparkSession,
    docs_path: str,
    max_files_per_trigger: int | None = None,
    state_ttl_ms: int | None = None,
    max_bucket_members: int | None = DEFAULT_MAX_BUCKET_MEMBERS,
) -> DataFrame:
    """Replay a documents file/directory through the operator and reduce
    to the candidate-pair relation (== batch lsh_candidate_pairs).

    The TTL defaults OFF **here only**: pending processing-time timers
    make the micro-batch engine keep scheduling batches
    (``shouldRunAnotherBatch``), so an ``availableNow`` replay with a
    live TTL never terminates — and a bounded replay has no idle-state
    problem to solve. The member cap stays on. Long-running deployments
    use ``neardup_pair_stream`` directly, where the TTL defaults ON."""
    stream = read_parquet_stream(spark, docs_path, max_files_per_trigger)

    pairs = neardup_pair_stream(stream, state_ttl_ms, max_bucket_members)
    return candidate_pairs(run_replay(pairs, "update", "neardup"))
