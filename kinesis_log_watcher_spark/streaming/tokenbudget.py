"""Streaming token-budget admission: per-source running BPE token
totals with a hard budget cutoff, a pure per-source fold (:func:`fold`)
run by ``keyfold.fold_by_key``.

The ingest-time form of sequence_packing_stats/bpe_tokenize_budget
(queries/round8.py): documents stream in, each source admits documents
in doc_id order until its token budget is exhausted — the gate a
training-data collector runs while a crawl is still arriving, when
"stop taking from this source" must be decided online, not after a
batch pass. State per source is ONE (cum_tokens, cum_docs) pair —
bounded by the source alphabet, never the stream.

Determinism contract (what makes the stateful fold oracle-comparable):
within a micro-batch each source's rows fold in doc_id order; across
micro-batches the replay files are mtime-ordered by doc_id range. The
DuckDB oracle states the same rule declaratively (cumulative token sum
over doc_id order per source), so a green row certifies the stateful
stream == the declarative batch cumsum.

Tokenization runs inside the same Arrow-batched Python stage that holds
the state (the rows are already in pandas), through a module-level
word → n_tokens cache, so the per-row cost is a dict hit once the
vocabulary is warm — the same vocabulary-sized-work posture as
operators/bpe.py, without a circular stream-static join on a vocab
derived from the stream itself.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.operators.bpe import bpe_encode, merge_ranks
from kinesis_log_watcher_spark.sources.files import read_parquet_stream, run_replay
from kinesis_log_watcher_spark.streaming.keyfold import fold_by_key

TOKEN_BUDGET = 1000  # tokens admitted per source before the gate closes

ADMIT_SCHEMA = (
    "source string, n_docs bigint, n_admitted bigint, "
    "tokens_total bigint, tokens_admitted bigint"
)
_STATE_SCHEMA = (
    "cum_tokens bigint, cum_adm_tokens bigint, n_docs bigint, n_adm bigint"
)

_RANKS = merge_ranks()
_WORD_CACHE: dict[str, int] = {}


def doc_tokens(text: str) -> int:
    """Exact BPE token count of one document, word-cache-backed."""
    total = 0
    for w in text.lower().split(" "):
        n = _WORD_CACHE.get(w)
        if n is None:
            n = len(bpe_encode(w, _RANKS))
            _WORD_CACHE[w] = n
        total += n
    return total


def fold(source, state, rows: pd.DataFrame):
    """Fold one micro-batch of a source's rows (doc_id order) into the
    running (cum_tokens, cum_admitted_tokens, n_docs, n_admitted) state
    and emit the updated counters.

    Admission is PREFIX semantics: a doc admits iff the source's
    running token total INCLUDING it stays within budget; the first
    overflow closes the gate for good (cum only grows, so admission is
    a doc_id prefix). That is the declaratively-expressible rule — the
    oracle states it as `cumsum <= budget` — and the realistic one for
    an online collector ("stop taking from this source")."""
    cum, cum_adm, n_docs, n_adm = (
        (int(x) for x in state) if state is not None else (0, 0, 0, 0)
    )
    for text in rows.sort_values("doc_id")["text"]:
        n = doc_tokens(str(text))
        n_docs += 1
        cum += n
        if cum <= TOKEN_BUDGET:
            cum_adm = cum
            n_adm += 1
    return (cum, cum_adm, n_docs, n_adm), pd.DataFrame(
        {
            "source": [source],
            "n_docs": [n_docs],
            "n_admitted": [n_adm],
            "tokens_total": [cum],
            "tokens_admitted": [cum_adm],
        }
    )


def run_token_budget_admission(
    spark: SparkSession,
    docs_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay a bounded documents table through the admission gate and
    resolve the update sink to the final per-source counters (all four
    counters are monotone per key, so latest = MAX — order-free)."""
    stream = read_parquet_stream(spark, docs_path, max_files_per_trigger)
    updates = fold_by_key(
        stream.select("source", "doc_id", "text"),
        "source",
        fold,
        ADMIT_SCHEMA,
        _STATE_SCHEMA,
    )
    return (
        run_replay(updates, "update", "token_budget")
        .groupBy("source")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.max("n_admitted").cast("long").alias("n_admitted"),
            F.max("tokens_total").cast("long").alias("tokens_total"),
            F.max("tokens_admitted").cast("long").alias("tokens_admitted"),
        )
    )
