"""Physical-plan shape assertions — the 100 TB posture, checked in CI.

Correctness says the answer is right; these tests say the *plan* is the
one that survives a 1000-executor scale-up: filters push into the
parquet scan, projections prune columns at the reader, dimension joins
broadcast instead of shuffling the fact side, and top-k never
total-sorts. A regression here is a performance bug even when every
value still matches the oracle.
"""

from __future__ import annotations

import pytest

from kinesis_log_watcher_spark.queries import registry

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reg():
    return registry()


def plan_of(spark, reg, name: str) -> str:
    df = reg[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, reg):
    """events_time_filter: the ts predicate must be in PushedFilters, not
    a post-scan Filter only (at 100 TB this is the difference between
    reading one partition and reading the table)."""
    plan = plan_of(spark, reg, "events_time_filter")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no pushed filters: {pushed!r}"


def test_column_pruning_at_reader(spark, reg):
    """pricing_summary reads 7 of lineitem's 16 columns — the ReadSchema
    must contain only what the query needs."""
    plan = plan_of(spark, reg, "pricing_summary")
    read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "l_comment" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dimension_joins_broadcast(spark, reg):
    """customers_per_region joins customer⋈nation⋈region: the dimension
    sides must broadcast (no shuffle of the customer side per dim)."""
    plan = plan_of(spark, reg, "customers_per_region")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_never_total_sorts(spark, reg):
    """top_orders (ORDER BY … LIMIT 10) must plan TakeOrderedAndProject,
    not a global Sort."""
    plan = plan_of(spark, reg, "top_orders")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_joins_stay_semi(spark, reg):
    """EXISTS / NOT EXISTS must plan as semi/anti joins (never
    materialize the match side per row)."""
    plan_semi = plan_of(spark, reg, "customers_with_recent_orders")
    plan_anti = plan_of(spark, reg, "customers_without_orders")
    assert "Semi" in plan_semi
    assert "Anti" in plan_anti


def test_render_pipeline_is_jvm_only(spark, reg):
    """The watcher render path (template_render_line) must stay inside
    codegen — no Python evaluation nodes in the hot path."""
    plan = plan_of(spark, reg, "template_render_line")
    assert "Python" not in plan
    # "*(n) Op" marks whole-stage-codegen'd operators in the plan string
    assert "*(" in plan


def test_lsh_never_cross_joins(spark, reg):
    """Every near-dup candidate generator must be an equi-join on bucket
    keys — a cartesian/broadcast-nested-loop here would be the O(n²)
    plan that dies at corpus scale."""
    for name in ("dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine"):
        plan = plan_of(spark, reg, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_exact_dedup_partial_aggregates(spark, reg):
    """Hash-groupBy dedup must do map-side partial aggregation (two
    HashAggregate levels) so the shuffle carries groups, not rows."""
    plan = plan_of(spark, reg, "dedup_exact")
    assert plan.count("HashAggregate") >= 2

def test_deep_joins_broadcast_every_dim(spark, reg):
    """The TPC-H-deep family: every dimension side must broadcast. The
    only SortMergeJoin allowed is fact⋈fact on the order key (Q3/5/7/8
    lineitem⋈orders, Q17/Q18 lineitem⋈agg-of-lineitem)."""
    for name, max_smj in [
        ("shipping_priority_topk", 1),
        ("local_supplier_volume", 1),
        ("nation_trade_flows", 1),
        ("market_share_by_year", 1),
        ("returned_items_topk", 1),
        ("promo_revenue_ratio", 0),
        ("brand_size_qty_revenue", 0),
        ("idle_rich_customers", 1),  # anti join vs orders may shuffle
    ]:
        plan = plan_of(spark, reg, name)
        assert "CartesianProduct" not in plan, name
        n_smj = plan.count("SortMergeJoin")
        assert n_smj <= max_smj, f"{name}: {n_smj} SortMergeJoins (max {max_smj})"
        assert "BroadcastHashJoin" in plan, name


def test_deep_topk_takeordered(spark, reg):
    """Q3/Q10/Q18 top-k must plan TakeOrderedAndProject, not total sort."""
    for name in (
        "shipping_priority_topk",
        "returned_items_topk",
        "large_volume_customers",
    ):
        assert "TakeOrderedAndProject" in plan_of(spark, reg, name), name


def test_q4_semi_join_non_equi_residual(spark, reg):
    """Q4's EXISTS with interval correlate must stay a semi join with the
    non-equi predicate as residual — never a pre-aggregated or looped
    rewrite that materializes matches."""
    plan = plan_of(spark, reg, "late_shipment_priority")
    assert "Semi" in plan
    assert "CartesianProduct" not in plan


def test_new_tpch_family_plan_shapes(spark, reg):
    """Round-2 TPC-H additions: same discipline — dims broadcast, at most
    the expected fact-side SortMergeJoins, never a cartesian."""
    for name, max_smj in [
        ("nation_year_profit", 0),       # part/supplier/nation all broadcast
        ("returnflag_priority_lines", 1),  # orders⋈lineitem fact join
        ("customer_order_distribution", 1),  # customer⋈orders left join
        ("part_supplier_counts", 0),     # anti + dim both broadcast
        ("top_supplier_revenue", 0),     # agg + broadcast max + supplier
        ("important_part_values", 0),    # agg + 1-row broadcast threshold
        ("waiting_supplier_ranking", 1),  # lineitem⋈orders fact join
    ]:
        plan = plan_of(spark, reg, name)
        assert "CartesianProduct" not in plan, name
        n_smj = plan.count("SortMergeJoin")
        assert n_smj <= max_smj, f"{name}: {n_smj} SortMergeJoins (max {max_smj})"


def test_q2_q20_plan_shapes(spark, reg):
    """Round-3 TPC-H additions. Q2: dims broadcast, ONE lineitem pass,
    window over the aggregated supply relation (never the fact table),
    top-100 as TakeOrderedAndProject. Q20: part prefix filter pushed to
    the parquet scan, qualifying pairs broadcast into a LeftSemi against
    supplier, no cartesian anywhere."""
    plan = plan_of(spark, reg, "min_cost_supplier")
    assert plan.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") == 0

    plan = plan_of(spark, reg, "part_share_suppliers")
    assert "StringStartsWith(p_name,red)" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") == 0


def test_q6_scan_aggregate_no_shuffle_joins(spark, reg):
    """Q6: pure scan-aggregate — predicates reach the parquet scan
    (PushedFilters) and the plan contains NO join of any kind."""
    plan = plan_of(spark, reg, "forecast_revenue_delta")
    assert "Join" not in plan
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]


def test_q21_single_fact_pass(spark, reg):
    """Q21's exists/not-exists rewrite must read lineitem ONCE (the
    window computes both per-order counts) — a correlated-subquery plan
    would scan the fact table two or three times."""
    plan = plan_of(spark, reg, "waiting_supplier_ranking")
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


def test_roundtrip_reads_apply_schema_not_inference(spark, reg):
    """Format round-trips must read with the applied schema: an
    inference pass would show up as a second scan job and breaks at
    100 TB. The aggregate itself stays partial (map-side combine)."""
    plan = plan_of(spark, reg, "orders_csv_roundtrip")
    assert "partial" in plan.lower()


def test_template_hoist_pinned_evaluate_once(spark, reg):
    """The hoisted template prep columns must appear in the plan exactly
    once each. Catalyst's pruning + CollapseProject + PushDownPredicates
    would otherwise substitute the parses into both the error filter and
    the line projection (every JSON parse evaluated twice per row — the
    round-2 6.7s regression on template_range_render); the gated prep
    columns (template.CompiledTemplate._gate) pin evaluate-once."""
    plan = plan_of(spark, reg, "template_range_render")
    # one whole-payload scan (klw_payload) + one array-attempt and one
    # map-attempt from_json per range collection (two ranges); a
    # collapsed plan shows each twice (referenced from filter AND project)
    assert plan.count("klw_payload") == 1, plan.count("klw_payload")
    assert plan.count("from_json") == 4, plan.count("from_json")
    # the hoisted projections survive as named prep columns
    assert "_payload" in plan
    assert "_items_" in plan


def test_curation_funnel_single_pass(spark, reg):
    """corpus_curation_funnel: the whole 4-stage funnel is ONE corpus
    scan, one window exchange (md5 fingerprint — uniform key), one
    aggregation exchange, zero Python — the stage flags are computed
    inline, never by re-reading the table per stage."""
    plan = plan_of(spark, reg, "corpus_curation_funnel")
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2  # AQE may print the scan twice
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange") <= 2
    assert "Window" in plan


def test_join_strategy_hints_take_effect(spark):
    """The engine exposes Catalyst's join-strategy control surface: the
    same orders |><| customer equi-join planned three ways via hints.
    At scale this is how an operator overrides a misestimated side
    (e.g. force SHUFFLE_HASH when a 'small' dim is actually huge)."""
    from kinesis_log_watcher_spark.queries.base import load

    orders = load(spark, SF_DIR, "orders")
    cust = load(spark, SF_DIR, "customer")

    def planned(hint: str) -> str:
        j = orders.join(cust.hint(hint), orders.o_custkey == cust.c_custkey)
        return j._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in planned("broadcast")
    assert "ShuffledHashJoin" in planned("shuffle_hash")
    assert "SortMergeJoin" in planned("merge")
