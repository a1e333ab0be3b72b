"""The per-query scan-spread opt-in (queries/base.load(spread=True)).

Round-12 optimization: the single-row-group scan repartition is a
per-query OPT-IN — measured a 1.3-3x win on heavy map-side kernels and
a 1.2-2.7x LOSS on trivial or many-reference plans (every spread table
reference is an extra AQE exchange + stage round-trip), and the
registry has ~320 small queries vs ~25 measured winners, so a global
trigger costs the bench total ~+100s net. These tests pin the decision
logic: no spread without the opt-in, the opt-in respects the footer
floors, and the spread never changes rows.
"""

from __future__ import annotations

from kinesis_log_watcher_spark.queries.base import load

SF01 = "/root/testdata/sf0.1"
SF0001 = "/root/testdata/sf0.001"


def _logical(df) -> str:
    # logical node name: "Repartition 32, true" (physical: RoundRobinPartitioning)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_no_spread_without_optin(spark):
    # Round 11's global row-guard spread is gone: even a 600k-row
    # single-row-group scan stays unspread unless the query opted in.
    assert "Repartition " not in _logical(load(spark, SF01, "lineitem"))
    assert "Repartition " not in _logical(load(spark, SF01, "documents"))


def test_optin_spreads_by_rows_and_by_bytes(spark):
    # lineitem trips the 10k-row floor; documents (5,000 rows) trips
    # the 512 KiB byte floor (1.6 MB uncompressed single row group).
    assert "Repartition " in _logical(load(spark, SF01, "lineitem", spread=True))
    assert "Repartition " in _logical(load(spark, SF01, "documents", spread=True))


def test_optin_respects_floors(spark):
    # sf0.001 documents is 500 rows / ~160 KB — below BOTH floors: the
    # opt-in stays inert, so tiny fixtures never pay the exchange.
    assert "Repartition " not in _logical(
        load(spark, SF0001, "documents", spread=True)
    )


def test_optin_rows_identical(spark):
    a = sorted(r.doc_id for r in load(spark, SF01, "documents").collect())
    b = sorted(
        r.doc_id for r in load(spark, SF01, "documents", spread=True).collect()
    )
    assert a == b

