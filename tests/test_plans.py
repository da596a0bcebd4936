"""Plan-quality invariants (SURVEY.md §4): the physical plans we ship
are the ones we mean to ship. Catches regressions where a code change
silently turns a broadcast into a shuffle, loses a pushed filter, or
reads columns it doesn't need — the failures that don't show up at
sf0.001 but dominate at 100 TB."""

from __future__ import annotations

import re

import pytest

from k8e_fetch_spark.queries import REGISTRY, queries
from k8e_fetch_spark.testing import formatted_plan
from tests.conftest import SF_DIR

queries()


def _executed_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    # materialize so AQE finalizes its runtime decisions
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name: str) -> str:
    return formatted_plan(REGISTRY[name].fn(spark, SF_DIR))


def test_q1_filter_pushed_to_scan(spark):
    plan = _formatted(spark, "tpch_q1_pricing_summary")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1), plan


def test_q1_column_pruning(spark):
    plan = _formatted(spark, "tpch_q1_pricing_summary")
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    read = m.group(1)
    assert "l_comment" not in read  # only needed columns reach the scan
    assert "l_orderkey" not in read
    assert "l_quantity" in read


@pytest.mark.parametrize("name", ["tpch_q3_shipping_priority", "tpch_q5_local_supplier"])
def test_star_joins_broadcast(spark, name):
    """Dimension joins must be broadcast — a sort-merge join here means
    the fact table shuffles once per dimension at scale."""
    plan = _executed_plan(spark, name)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_topk_uses_take_ordered(spark):
    """LIMIT after ORDER BY must compile to TakeOrderedAndProject — a
    global Sort + Limit materializes the full sorted fact table."""
    plan = _executed_plan(spark, "tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan, plan


def test_aggregates_are_partial(spark):
    """Two-phase hash aggregation (partial before the exchange): the
    shuffle carries per-group partials, not raw rows."""
    plan = _formatted(spark, "tpch_q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2, plan


def test_semi_join_no_payload_dedup(spark):
    """Left-semi compiles to a semi join (no inner-join + distinct)."""
    plan = _executed_plan(spark, "join_semi_customers")
    assert "LeftSemi" in plan, plan
    assert "HashAggregate" not in plan  # no post-join dedup needed


def test_range_join_broadcasts_band_table(spark):
    """The non-equi band join must broadcast the tiny band table, not
    fall back to a shuffled cartesian."""
    plan = _executed_plan(spark, "join_range_price_bands")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_compress_distinct_single_shuffle(spark):
    """SELECT DISTINCT = partial + final hash aggregate around ONE
    exchange; the shuffle carries unique combos only."""
    plan = _executed_plan(spark, "compress_distinct_status")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_asof_join_is_single_window_pass(spark):
    """The as-of join must stay a windowed single pass — no self-join,
    no range explosion."""
    plan = _executed_plan(spark, "join_asof_purchase")
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 1, plan


def test_fan_out_plans_without_jobs(spark):
    """fan_out must decide width from metadata only: building the plan
    (and the no-op path) may not trigger a Spark job — df.rdd-style
    probes materialize plans and break under Spark Connect."""
    from k8e_fetch_spark.io import fan_out, load

    tracker = spark.sparkContext.statusTracker()
    narrow = load(spark, SF_DIR, "documents")  # the read itself may run
    # a footer-inference job; fan_out on top of it must not add more
    before = tracker.getJobIdsForGroup(None)
    widened = fan_out(narrow)
    already_wide = fan_out(narrow, min_partitions=1)
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "fan_out ran a job while planning"
    # the no-op path returns the input frame unchanged (no exchange)
    assert already_wide is narrow
    assert "Repartition" in widened._jdf.queryExecution().logical().toString()


def test_fan_out_never_shrinks_wide_scans(spark):
    """The 100 TB invariant: a scan already wider than the target is
    returned untouched (no exchange inserted, no shrink)."""
    from k8e_fetch_spark.io import fan_out, load

    df = load(spark, SF_DIR, "lineitem")
    n_files = len(df.inputFiles())
    out = fan_out(df, min_partitions=n_files)
    assert out is df


def test_q21_single_fact_scan(spark):
    """The exists/not-exists pair must NOT duplicate the fact subtree:
    the window form reads lineitem exactly once (the aggregate-join
    form scanned it twice — Spark never unified the branches)."""
    plan = _executed_plan(spark, "tpch_q21_waiting_supplier")
    assert plan.count("lineitem.parquet") == 1, plan


def test_q6_all_predicates_pushed(spark):
    """Q6 is the pushdown probe: date range, discount band and quantity
    cap must all reach the parquet scan."""
    plan = _formatted(spark, "tpch_q6_forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_tpch_dimension_joins_broadcast(spark):
    """Across the new TPC-H adaptations every dimension-side join must
    broadcast; a SortMergeJoin is only acceptable on fact-fact keys
    (q12/q21's lineitem-orders, q18's keyset flow)."""
    for name in (
        "tpch_q2_min_cost_supplier",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q16_supplier_count",
        "tpch_q17_small_quantity",
        "tpch_q19_discounted_revenue",
        "tpch_q20_potential_promotion",
    ):
        plan = _executed_plan(spark, name)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (name, plan)


def test_temperature_sampling_no_fact_shuffle(spark):
    """The corpus side of temperature sampling is a scan-local filter:
    the only exchanges are the dimension-sized rate aggregation and
    its broadcast — the documents scan feeding the output must not
    hash-repartition."""
    plan = _executed_plan(spark, "sample_source_temperature")
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q2_min_cost_supplier",
        "tpch_q11_important_stock",
        "tpch_q15_top_supplier",
    ],
)
def test_scalar_threshold_queries_scan_fact_once(spark, name):
    """Correlated-min / global-fraction / scalar-max thresholds must be
    window-over-the-aggregate, not a broadcast scalar whose subplan
    re-executes the whole fact chain: lineitem appears in the plan
    exactly ONCE. (A 1-row broadcast aggregate gets no exchange reuse
    across the broadcast boundary — the join form doubled the fact
    work, verified on q2's executed plan before the rewrite.)"""
    plan = _formatted(spark, name)
    # the formatted dump names the table on the scan's Location line
    assert len(re.findall(r"Location: InMemoryFileIndex[^\n]*lineitem\.parquet", plan)) == 1, plan


def test_unigram_lm_single_token_explode(spark):
    """The corpus token total must ride a window over the aggregated
    vocab, not a broadcast scalar that re-runs the token explode: the
    documents scan appears at most twice (token stream + the broadcast
    LM side), never a third time for the total."""
    plan = _formatted(spark, "text_unigram_logprob")
    assert (
        len(re.findall(r"Location: InMemoryFileIndex[^\n]*documents\.parquet", plan)) <= 2
    ), plan


def test_funnel_chain_propagates_forward(spark):
    """The funnel must chain stage state forward (3 pushed-filter
    events scans), not re-join the stage frames at the end (which
    re-executes v's subplan 3x and c's 2x — six scans)."""
    plan = _formatted(spark, "events_funnel_conversion")
    assert (
        len(re.findall(r"Location: InMemoryFileIndex[^\n]*events\.parquet", plan)) == 3
    ), plan
