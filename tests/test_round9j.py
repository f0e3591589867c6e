"""Round-9 (continuation): plan-shape guards for the session's queries —
the Python-boundary and distribution properties PLANS.md documents."""

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

# pure column-algebra queries: NO Python of any kind in the plan
PURE = [
    "fisher_exact", "jarque_bera", "ljung_box", "durbin_watson",
    "cochran_armitage", "breusch_pagan", "rake_keywords",
    "shard_manifest", "theil_sen", "gmm_em", "logistic_conversion",
    "poisson_purchases", "cox_ph", "greedy_tree", "pq_codes",
    "pq_search",
]

# the documented sequential-DP exceptions: Arrow-batched ONLY
ARROW_ONLY = ["rouge_l", "unigram_tokenize", "holt_winters"]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", PURE)
def test_no_python_anywhere(spark, name):
    plan = _plan(entrymod.queries()[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


@pytest.mark.parametrize("name", ARROW_ONLY)
def test_sequential_dp_is_arrow_batched(spark, name):
    plan = _plan(entrymod.queries()[name](spark, SF))
    assert "BatchEvalPython" not in plan, name  # never row-at-a-time
    assert (
        "ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan
    ), name


def test_fisher_support_enumeration_is_distributed(spark):
    # the hypergeometric grid must come from a Range scan, not a
    # driver-materialized local relation
    plan = _plan(entrymod.queries()["fisher_exact"](spark, SF))
    assert "Range (" in plan


def test_cox_risk_sets_share_tied_times(spark, monkeypatch):
    """Round 10 rewrote cox risk sets: rows collapse to one CELL per
    (group, distinct time) BEFORE the suffix-sum window, so tied
    subjects share a risk set by construction (the round-9 RANGE frame
    achieved the same over raw rows).  Assert the new mechanism: a
    pre-window aggregate keyed on the time column feeding ROWS-frame
    running sums — and no RANGE frame needed anywhere.  Value-level tie
    semantics are covered by test_round9e
    TestCoxPH::test_tied_times_share_risk_set.  The cell bound is set
    to 0 so the fit takes the Spark path (at this size it would
    otherwise run whole on the driver)."""
    from woodwork_spark import io

    monkeypatch.setattr(io, "LOCAL_MAX_CELLS", 0)
    plan = _plan(entrymod.queries()["cox_ph"](spark, SF))
    low = plan.lower().replace(" ", "")
    assert "rowframe" in low and "rangeframe" not in low
    # the cell collapse: an aggregate whose grouping keys include the
    # internal time column
    assert "__t" in plan


def test_pq_search_scan_is_broadcast_side(spark):
    # LUT lookups are literals; the only joins in the scoring path are
    # broadcast (centroid frame during training)
    plan = _plan(entrymod.queries()["pq_search"](spark, SF))
    assert "SortMergeJoin" not in plan


def test_tpch_queries_registered_in_bench_surface():
    qs = entrymod.queries()
    for name in ("tpch_min_cost_supplier", "tpch_waiting_suppliers",
                 "greedy_tree", "pq_search", "unigram_tokenize"):
        assert name in qs
        assert name in entrymod.oracle_sql()


SESSION_ADDITIONS = PURE + ARROW_ONLY + [
    "kendall_tau", "c_index", "pairwise_welch", "cronbach_alpha",
    "icc_oneway", "by_fdr",
    "tpch_min_cost_supplier", "tpch_order_priority",
    "tpch_volume_shipping", "tpch_market_share", "tpch_product_profit",
    "tpch_shipmode_priority", "tpch_customer_distribution",
    "tpch_promo_revenue", "tpch_top_supplier", "tpch_parts_supplier",
    "tpch_small_qty_revenue", "tpch_large_orders",
    "tpch_bracket_revenue", "tpch_promo_suppliers",
    "tpch_waiting_suppliers", "tpch_sales_opportunity",
]


def test_driver_contract_invariants():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # every query carries a full SQL oracle — zero rows-only checks
    assert set(qs) == set(oracles)
    assert len(qs) >= 341
    # the rotation contract: every never-driver-verified query sorts
    # BEFORE every verified one (so new work is always inside the
    # driver's 50-entry correctness window until it gets a row)
    rec = entrymod._verification_recency()
    order = list(qs)
    unverified = [n for n in order if n not in rec]
    if unverified:
        last_unverified = max(order.index(n) for n in unverified)
        assert last_unverified == len(unverified) - 1, (
            "a verified query sorted ahead of unverified work"
        )
        # and this session's additions are (still-unverified -> in
        # front, or already driver-verified -> exempt)
        for n in SESSION_ADDITIONS:
            assert n in rec or order.index(n) < max(50, len(unverified)), n
