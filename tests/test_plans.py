"""Plan-shape regression guards: the scale properties claimed in SURVEY §2.3
(pushdown, broadcast dims, single-shuffle as-of, partial aggregation) are
asserted against the optimizer's actual output so refactors can't silently
regress them.

Every key's node counts are checked against PLAN_SHAPES.json (regenerate
with ``python tools/plan_shapes.py`` after a deliberate plan change), and
the node-count tests below hold whatever the manifest says."""

from __future__ import annotations

import functools
import json
import pathlib
import re
import sys

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from rocana_impala_udfs_spark.session import scoped_conf

sys.path.append(str(pathlib.Path(__file__).resolve().parents[1] / "tools"))
from plan_shapes import MANIFEST, node_counts  # noqa: E402

SF = "/root/testdata/sf0.001"


@functools.cache
def _plan(spark, name: str) -> str:
    """The key's executed-plan string at sf0.001, built once per session."""
    return entry.queries()[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def _assert_shapes(expected: dict, observed: dict) -> None:
    """Fail naming each key and each node whose count moved."""
    moved = []
    for key in sorted(expected):
        want, got = expected[key], observed[key]
        diff = [
            f"{n} {want.get(n, 0)}→{got.get(n, 0)}"
            for n in sorted(want.keys() | got.keys())
            if want.get(n, 0) != got.get(n, 0)
        ]
        if diff:
            moved.append(f"{key}: " + ", ".join(diff))
    assert not moved, (
        "plan shape moved (if intended, run python tools/plan_shapes.py and "
        "review the diff):\n" + "\n".join(moved)
    )


def test_plan_shapes_match_manifest(spark):
    expected = json.loads(pathlib.Path(MANIFEST).read_text())
    assert sorted(expected) == sorted(entry.queries()), (
        "PLAN_SHAPES.json keys differ from queries(): run python tools/plan_shapes.py"
    )
    _assert_shapes(expected, {key: node_counts(_plan(spark, key)) for key in expected})


def test_plan_shape_guard_names_a_broadcast_turned_sort_merge(spark):
    """join_q7_nation_volume broadcasts supplier and customer by size (its
    nation copies carry a hint): with the size threshold off, the guard's
    compare must fail and name the key and both join nodes."""
    key = "join_q7_nation_volume"
    expected = json.loads(pathlib.Path(MANIFEST).read_text())[key]
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = entry.queries()[key](spark, SF)._jdf.queryExecution().executedPlan().toString()
    with pytest.raises(AssertionError) as err:
        _assert_shapes({key: expected}, {key: node_counts(plan)})
    assert re.search(rf"{key}: .*BroadcastHashJoin \d+→\d+, .*SortMergeJoin 0→\d+", str(err.value))


def _nodes(plan: str, *names: str) -> int:
    """How many plan nodes have a name containing any of ``names``."""
    return sum(c for node, c in node_counts(plan).items() if any(n in node for n in names))


def test_node_name_checks_catch_udtf_and_window_variants(spark):
    # "EvalPython" must catch BatchEvalPythonUDTF and "Window" ArrowWindowPython
    assert _nodes(_plan(spark, "udtf_lateral_shingles"), "EvalPython") >= 1
    assert _nodes("*(1) Project [x]\n+- ArrowWindowPython [f(x)]", "Window") == 1


# Node-count invariants the manifest cannot approve away.
def test_topk_uses_take_ordered(spark):
    assert _nodes(_plan(spark, "topk_orders"), "TakeOrderedAndProject") >= 1  # no global sort


def test_q10_topk_is_take_ordered(spark):
    assert _nodes(_plan(spark, "join_q10_returned_items"), "TakeOrderedAndProject") >= 1


def test_weighted_det_topk_no_global_sort(spark):
    # deterministic A-Res top-k: per-partition heaps, JVM-side keys
    plan = _plan(spark, "weighted_sample_det_topk")
    assert _nodes(plan, "TakeOrderedAndProject") >= 1
    assert _nodes(plan, "EvalPython") == 0


def test_exact_dedup_partial_agg(spark):
    plan = _plan(spark, "dedup_exact_docs")
    assert _nodes(plan, "HashAggregate") >= 2  # map-side partial + final
    assert _nodes(plan, "Exchange") == 1


# pair generation stays an equi-join, never a cross product
_CROSS = ("CartesianProduct", "BroadcastNestedLoopJoin")


def test_minhash_has_no_cartesian(spark):
    assert _nodes(_plan(spark, "dedup_minhash_pairs"), *_CROSS) == 0


def test_fuzzy_d1_d2_no_cartesian(spark):
    # the n² pairing lives only in the DuckDB oracle
    for key in ("fuzzy_join_part_names", "fuzzy_join_part_names_d2"):
        assert _nodes(_plan(spark, key), *_CROSS) == 0, key


def test_ivf_and_lsh_have_no_cartesian(spark):
    for key in ("ann_lsh_top5", "ann_ivf_top5"):
        assert _nodes(_plan(spark, key), "CartesianProduct") == 0, key


def test_basket_pairs_single_keyed_shuffle_no_cartesian(spark):
    assert _nodes(_plan(spark, "basket_part_pairs"), "CartesianProduct") == 0


def test_prefix_filter_no_cartesian(spark):
    assert _nodes(_plan(spark, "dedup_prefix_filter_pairs"), *_CROSS) == 0


def test_interval_overlap_join_is_keyed(spark):
    assert _nodes(_plan(spark, "interval_overlap_pairs"), *_CROSS) == 0


def test_triangle_and_linkage_joins_are_keyed(spark):
    for key in ("graph_triangle_parts", "linkage_best_match"):
        assert _nodes(_plan(spark, key), *_CROSS) == 0, key


def test_decontaminate_broadcasts_eval_shingles(spark):
    # the training corpus meets the benchmark shingles by broadcast
    assert _nodes(_plan(spark, "decontaminate_docs"), "BroadcastHashJoin") >= 1


def test_heavy_hitters_recount_is_broadcast_join(spark):
    assert _nodes(_plan(spark, "heavy_hitter_tokens"), "BroadcastHashJoin") >= 1


def test_tfidf_vocab_sides_broadcast(spark):
    # df(term) and N are vocabulary/scalar sized: both reach tf via broadcast
    plan = _plan(spark, "tfidf_top_terms")
    assert _nodes(plan, "BroadcastHashJoin", "BroadcastNestedLoopJoin") >= 2


def test_q7_dims_broadcast_one_fact_shuffle(spark):
    plan = _plan(spark, "join_q7_nation_volume")
    assert _nodes(plan, "BroadcastHashJoin") >= 3  # supplier + 2x nation
    assert _nodes(plan, "CartesianProduct") == 0


def test_winsorized_bounds_are_broadcast(spark):
    plan = _plan(spark, "winsorized_stats_price")
    assert _nodes(plan, "BroadcastHashJoin") >= 1  # p05/p95 frame joins broadcast
    assert _nodes(plan, "HashAggregate") >= 2  # partial+final on the stats


def test_q2_min_subquery_stays_in_plan(spark):
    # the per-type MIN is an aggregate broadcast back, not a collected scalar
    plan = _plan(spark, "corrmin_q2_min_price_supplier")
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "CartesianProduct") == 0


def test_countmin_grid_broadcasts_to_probes(spark):
    # the <= depth x width counter grid is broadcast to the probe side
    plan = _plan(spark, "sketch_countmin_tokens")
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "CartesianProduct") == 0


def test_curriculum_budget_is_broadcast(spark):
    # the 1-row token budget broadcasts; the corpus never shuffles to meet it
    plan = _plan(spark, "curriculum_budget_selection")
    assert _nodes(plan, "BroadcastNestedLoopJoin", "BroadcastExchange") >= 1
    assert _nodes(plan, "CartesianProduct") == 0


def test_vocab_overlap_joins_on_token_key(spark):
    # the self-join is keyed on tok; the per-source size tables broadcast
    plan = _plan(spark, "source_vocab_overlap")
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "BroadcastHashJoin") >= 2


def test_source_overlap_has_no_all_pairs_join(spark):
    # pairs come from the bounded per-fingerprint source-set array, never a
    # doc-doc join; the totals joins broadcast
    plan = _plan(spark, "corpus_source_overlap")
    assert _nodes(plan, "CartesianProduct", "Window") == 0
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "SortMergeJoin", "ShuffledHashJoin") == 0


def test_repetition_profile_is_map_side_only(spark):
    # one round-robin widening exchange allowed; no aggregate, no join
    assert _nodes(_plan(spark, "repetition_scores"), "HashAggregate", "Join") == 0


def test_q19_disjunction_stays_single_predicate(spark):
    # the OR-of-conjunctions never expands into a union of three scans
    plan = _plan(spark, "disjunct_q19_discounted_revenue")
    assert _nodes(plan, "FileScan") == 2  # lineitem + part, once each
    assert _nodes(plan, "Union") == 0


def test_simhash_fingerprints_no_python_udf(spark):
    assert _nodes(_plan(spark, "dedup_simhash_pairs"), "EvalPython") == 0


def test_bigram_lm_no_python_udf(spark):
    assert _nodes(_plan(spark, "text_bigram_lm_scores"), "EvalPython") == 0


def test_kmv_is_two_phase_no_python(spark):
    plan = _plan(spark, "kmv_distinct_users_by_type")
    assert _nodes(plan, "EvalPython") == 0
    assert _nodes(plan, "HashAggregate") >= 1


def test_hll_partial_final_agg_no_python(spark):
    plan = _plan(spark, "sketch_hll_users_by_type")
    assert _nodes(plan, "HashAggregate") >= 2
    assert _nodes(plan, "EvalPython") == 0


def test_benford_single_scan(spark):
    # orders is read once: a window total over the 9-row histogram
    assert _nodes(_plan(spark, "quality_benford_prices"), "FileScan") == 1


def test_corpus_dashboard_single_scan_one_keyed_agg(spark):
    plan = _plan(spark, "corpus_source_dashboard")
    assert _nodes(plan, "FileScan") == 1
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "HashAggregate") >= 2


def test_seasonal_decompose_two_window_shuffles_max(spark):
    # the windows run over the tiny daily aggregate; the corpus is read once
    plan = _plan(spark, "events_seasonal_decompose")
    assert _nodes(plan, "FileScan") == 1
    assert _nodes(plan, "CartesianProduct") == 0


def test_exact_moment_stats_are_pure_aggregation(spark):
    # exact DECIMAL/HUGEINT moments stay partial+final aggregation
    for key in (
        "stats_price_quantity",
        "ab_cuped_adjusted",
        "zipf_token_fit",
        "ab_welch_ttest",
        "ab_ratio_delta_ci",
    ):
        plan = _plan(spark, key)
        assert _nodes(plan, "HashAggregate", "SortAggregate") >= 1, key
        assert _nodes(plan, "EvalPython") == 0, key
    assert _nodes(_plan(spark, "stats_price_quantity"), "Window") == 0


def test_pca_project_is_zero_shuffle_before_label_agg(spark):
    # one Arrow projection kernel, then the label-keyed partial+final agg
    plan = _plan(spark, "emb_pca_project")
    assert _nodes(plan, "ArrowEvalPython") >= 1
    assert _nodes(plan, "Window", "CartesianProduct", "Join") == 0
    assert _nodes(plan, "HashAggregate", "SortAggregate") >= 2


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # partial + final aggregation pair
    assert plan.count("HashAggregate") >= 2


def test_q1_column_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    read_schema = re.search(r"ReadSchema: ([^\n]*)", plan).group(1)
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_revenue_joins_are_broadcast(spark):
    plan = _plan(spark, "join_revenue_by_nation")
    # customer/nation/region joins must all be broadcast — no shuffle of the
    # fact table on dimension keys.
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Exchange hashpartitioning(c_custkey" not in plan
    assert "Exchange hashpartitioning(n_nationkey" not in plan


def test_asof_join_single_shuffle(spark):
    plan = _plan(spark, "asof_click_attribution")
    # union + window plan: exactly one exchange (on user_id), one Window.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan and "Union" in plan


def test_q3_pushdown_and_topk(spark):
    plan = _plan(spark, "join_q3_shipping_priority")
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "TakeOrderedAndProject" in plan  # LIMIT never globally sorts
    assert "BroadcastHashJoin" in plan  # segment-filtered customer is broadcast


def test_sliding_window_is_one_agg_pass(spark):
    plan = _plan(spark, "sliding_window_event_rates")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert plan.count("Exchange hashpartitioning") == 1  # single shuffle


def test_q6_all_predicates_pushed_no_shuffle_but_final_agg(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    # The plan string truncates long filter lists; check the head of the
    # pushed list plus the data-filter mirror of the range predicate.
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "(l_shipdate" in plan and "l_quantity" in plan
    # global agg: exactly one exchange (partial -> final), no join
    assert plan.count("Exchange") == 1 and "Join" not in plan


def test_q5_dim_broadcast_single_fact_shuffle(spark):
    plan = _plan(spark, "join_q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan


def test_no_driver_collect_in_query_plans():
    """No queries() path may embed a driver round-trip: `.collect()` splits
    the query into multiple jobs and doesn't scale. Bounded operator-internal
    collects (similarity small-query side, dedup driver union-find) are
    documented exceptions outside plans/."""
    import pathlib

    plans_dir = pathlib.Path(__file__).resolve().parents[1] / "rocana_impala_udfs_spark" / "plans"
    offenders = [
        f"{p.name}:{i}"
        for p in plans_dir.glob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".collect()" in line
    ]
    assert not offenders, offenders


def test_no_round_of_avg_in_plans_or_operators():
    """The final-round midpoint class is CLOSED (r10): `round(avg(x), k)` /
    `F.round(F.avg(x), k)` over a quotient legitimately disagrees between
    engines when the exact value lands on a k-dp midpoint (Spark rounds the
    shortest-string decimal via BigDecimal.valueOf, DuckDB rounds the binary
    double — found by the r9 multi-SF sweep). The recipe is an exact integer
    /decimal numerator and ONE raw double divide on both sides. This guard
    keeps the class from creeping back in."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "rocana_impala_udfs_spark"
    pat = re.compile(r"round\s*\(\s*(F\.)?avg\s*\(", re.IGNORECASE)
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for sub in ("plans", "operators", "functions")
        for p in (pkg / sub).glob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not offenders, offenders


RESERVOIR_KEYS = (
    "appx_median_price_global",
    "appx_median_price_by_returnflag",
    "appx_median_totalprice_by_status",
    "appx_median_value_by_event_type",
    "appx_median_value_by_day",
    "appx_median_sql_udaf",
    "appx_median_sql_twophase",
    "appx_p90_value_by_event_type",
    "appx_percentile_sql_udaf",
    "ops_daily_digest",
    "reservoir_sample_quantity",
)
PYTHON_EXEC_NODES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ArrowAggregatePython",
    "AggregateInPandas",
    "ArrowWindowPython",
    "WindowInPandas",
)


def test_reservoir_keys_run_on_jvm_partial_final_aggregate(spark):
    """Every batch median/percentile/sample key runs the JVM Aggregator:
    no Python exec node anywhere in its plan, and the reservoir aggregate
    split into a partial and a final ObjectHashAggregate (the windowed
    median instead evaluates it in a Window node)."""
    for name in RESERVOIR_KEYS + ("window_median_quantity",):
        plan = _plan(spark, name)
        assert not [n for n in PYTHON_EXEC_NODES if n in plan], (name, plan)
        aggs = [ln for ln in plan.splitlines() if "ObjectHashAggregate(" in ln]
        partial = [ln for ln in aggs if re.search(r"partial_(appx_|reservoir_sample)", ln)]
        final = [ln for ln in aggs if re.search(r"appx_|reservoir_sample", ln) and ln not in partial]
        if name == "window_median_quantity":
            assert not aggs, (name, plan)
            assert re.search(r"Window \[appx_median_bounded_double\(", plan), (name, plan)
        else:
            assert partial and final, (name, plan)


def test_entry_contract_consistency():
    """Every oracle key must have a matching queries() entry (driver pairs
    them by key), and keys are unique, non-empty strings."""
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs), set(oracles) - set(qs)
    assert all(isinstance(k, str) and k for k in qs)
    assert all(callable(v) for v in qs.values())
    assert all(isinstance(v, str) and "SELECT" in v.upper() for v in oracles.values())


# --- TPC-H-flavor pack (round 2) -------------------------------------------


def test_q4_exists_is_semi_join_not_distinct(spark):
    plan = _plan(spark, "exists_q4_order_priority")
    assert "LeftSemi" in plan
    # EXISTS must not materialize a distinct lineitem set
    assert "Deduplicate" not in plan


def test_q9_six_table_tree_no_dim_shuffle(spark):
    plan = _plan(spark, "join_q9_profit_by_nation_year")
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert "Exchange hashpartitioning(p_partkey" not in plan
    assert "Exchange hashpartitioning(s_suppkey" not in plan


def test_q22_anti_join_no_collect_shape(spark):
    plan = _plan(spark, "notexists_q22_idle_customers")
    assert "LeftAnti" in plan
    # scalar subquery stays in-plan as a broadcast join over the 1-row agg
    assert "BroadcastNestedLoopJoin" in plan


def test_equidepth_no_global_sort(spark):
    plan = _plan(spark, "histogram_price_equidepth")
    # boundaries come from a two-phase percentile AGGREGATE: map-side
    # partial_percentile buffers merge on one partition (1 row), and that
    # row is broadcast back to the fact — the corpus itself is never
    # single-partitioned or globally sorted
    assert "partial_percentile" in plan
    assert "BroadcastExchange" in plan
    # no window over a single unbounded partition of the corpus
    assert "Window" not in plan


def test_stratified_hash_gate_is_pure_projection(spark):
    # the deterministic sampler's keep decision must not shuffle: the only
    # exchanges belong to the count aggregation, and no Python eval node
    # appears (md5/conv are JVM expressions)
    plan = _plan(spark, "stratified_hash_counts")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    before_agg = plan.split("HashAggregate")[-1]  # below the partial agg
    assert "Exchange" not in before_agg


def test_q21_no_cartesian_and_semi_anti_shapes(spark):
    plan = _plan(spark, "selfjoin_q21_sole_returned_suppliers")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q13_left_join_preserved(spark):
    plan = _plan(spark, "outeragg_q13_order_count_distribution")
    assert "LeftOuter" in plan


def test_bitmap_intersect_joins_on_word_only(spark):
    """Bitmap intersection equi-joins on the word index — never on the
    member ids themselves (SortMergeJoin/ShuffledHashJoin/BHJ on word)."""
    plan = _plan(spark, "bitmap_intersect_users")
    assert "CartesianProduct" not in plan
    assert "word" in plan
    # popcount over the word-aligned AND; the bit_or build side sits behind
    # the localCheckpoint lineage cut, so assert the probe side only.
    assert "bit_count" in plan and "&" in plan


def test_kruskal_matches_scipy_formula(spark):
    """H (tie-corrected) computed by the plan equals the textbook formula
    evaluated in numpy over the same data — a library-free cross-check."""
    import numpy as np

    from rocana_impala_udfs_spark.plans.relational import q_stats_kruskal_price_by_flag
    from rocana_impala_udfs_spark.sources.io import load_table

    row = q_stats_kruskal_price_by_flag(spark, SF).collect()[0]
    li = load_table(spark, SF, "lineitem").select("l_returnflag", "l_extendedprice").collect()
    vals = np.array([float(r.l_extendedprice) for r in li])
    flags = np.array([r.l_returnflag for r in li])
    # tie-averaged ranks via argsort + group means
    order = np.argsort(vals, kind="stable")
    ranks = np.empty(len(vals))
    sorted_vals = vals[order]
    i = 0
    rk = np.arange(1, len(vals) + 1, dtype=np.float64)
    while i < len(vals):
        j = i
        while j + 1 < len(vals) and sorted_vals[j + 1] == sorted_vals[i]:
            j += 1
        rk[i : j + 1] = (i + 1 + j + 1) / 2.0
        i = j + 1
    ranks[order] = rk
    N = len(vals)
    h = 0.0
    for g in ("A", "N", "R"):
        sel = flags == g
        h += ranks[sel].sum() ** 2 / sel.sum()
    h = 12.0 / (N * (N + 1)) * h - 3 * (N + 1)
    _, counts = np.unique(vals, return_counts=True)
    tie = float((counts**3 - counts).sum())
    hc = h / (1 - tie / (N**3 - N))
    assert abs(row.h_tie_corrected - hc) < 1e-4
    assert row.n_a + row.n_n + row.n_r == N


def test_selection_candidate_range_pushed_to_scan(spark):
    """exact_kth_value's per-round candidate frame must push the narrowed
    range onto the RAW parquet column so row-group min/max skipping
    engages at scale (VERDICT r6 #2): the filter reaches PushedFilters
    as a range on l_extendedprice, not on a cast."""
    from rocana_impala_udfs_spark.operators.selection import candidate_frame
    from rocana_impala_udfs_spark.sources.io import load_table

    li = load_table(spark, SF, "lineitem")
    plan = (
        candidate_frame(li, "l_extendedprice", 1000.0, 2000.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # (plan strings truncate long filter lists, so match the prefix form)
    assert "PushedFilters: [GreaterThanOrEqual(l_extendedprice" in plan, plan
    assert "LessThanOrEqual(l_extendedprice" in plan, plan
    assert "cast" not in plan.split("PushedFilters")[1].split("ReadSchema")[0]


def test_selection_histogram_is_partial_final_agg_no_sort(spark):
    """One selection round = one map-side-combinable histogram aggregate:
    partial+final HashAggregate pair, no Sort, no Window, no cartesian."""
    from rocana_impala_udfs_spark.operators.selection import (
        candidate_frame,
        histogram_frame,
    )
    from rocana_impala_udfs_spark.sources.io import load_table

    li = load_table(spark, SF, "lineitem")
    cand = candidate_frame(li, "l_extendedprice", 1000.0, 50000.0)
    plan = (
        histogram_frame(cand, 1000.0, (50000.0 - 1000.0) / 4096, 4096)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_count" in plan and plan.count("HashAggregate") >= 2
    assert "Sort [" not in plan and "Window" not in plan
    assert "Cartesian" not in plan


def test_epoch_shuffle_no_driver_permutation(spark):
    """epoch_shuffle_plan must derive the permutation inside the plan
    (md5 sort key + per-epoch window over one FileScan), never as a
    driver-built ExistingRDD."""
    plan = _plan(spark, "epoch_shuffle_plan")
    assert "ExistingRDD" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "row_number()" in plan and "md5" in plan
    # epochs come from a broadcast Range, not collected rows
    assert "Range (0" in plan


def test_join_skew_report_single_scan_per_table(spark):
    """join_skew_report: each audited key is one FileScan + a keyed
    partial/final count agg — no self-joins, no cartesian."""
    plan = _plan(spark, "join_skew_report")
    n_branches = plan.count("FileScan parquet")
    assert n_branches == plan.count("Union") + 1 or n_branches >= 2
    assert plan.count("partial_count") >= 2
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_attribution_multitouch_broadcast_join_one_shuffle(spark):
    """attribution_multitouch: clicks broadcast into the purchase side on
    user_id, then BOTH window passes reuse a single purchase_id
    exchange; purchase filter pushed to the events scan."""
    plan = _plan(spark, "attribution_multitouch")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EqualTo(event_type,purchase)" in plan


def test_two_phase_topk_both_sorts_bounded(spark):
    """topk_per_group_two_phase: phase-1 window partitions by (group,
    salt) — no task sorts a whole group — and phase-2 only sees the
    bounded survivors; two Sort+Window pairs, no global sort."""
    plan = _plan(spark, "topk_per_group_two_phase")
    assert plan.count("Window [") == 2
    # phase-1 (the lower Window node) partitions by (group, salt)
    lower = plan.split("Window [")[2]
    assert "_salt" in lower.split("\n")[0], lower.split("\n")[0]
    assert "Exchange rangepartitioning" not in plan  # never a global sort


def test_pq_probe_side_broadcast_single_shuffle(spark):
    """ann_pq_top5: the only join is the k-bounded probe frame broadcast
    (BroadcastNestedLoopJoin against 4 rows — the documented bounded
    crossJoin shape shared by the ANN keys); encode/table kernels are
    Arrow-batched; and the per-probe ranking is the two-phase salted
    top-k (r8): the phase-1 window partitions by (query_id, _salt) so no
    task ever sorts the whole corpus for one probe — two bounded window
    exchanges, never one unbounded one."""
    plan = _plan(spark, "ann_pq_top5")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("Exchange hashpartitioning") == 2  # salted + final window
    assert "_salt" in plan  # phase-1 partitioning carries the salt
    assert plan.count("ArrowEvalPython") == 2  # codes + tables kernels


def test_ann_brute_force_ranking_is_two_phase(spark):
    """ann_cosine_top5: the exact brute-force path must NOT rank with a
    bare query_id window over the whole corpus (one task sorts n rows per
    probe at 100×). r8 routes it through grouped_topk_two_phase: two
    Window nodes, the lower one partitioned by (query_id, _salt)."""
    plan = _plan(spark, "ann_cosine_top5")
    assert plan.count("Window [") == 2
    lower = plan.split("Window [")[2]
    assert "_salt" in lower.split("\n")[0], lower.split("\n")[0]
    assert "Exchange rangepartitioning" not in plan


def test_duplicated_spans_no_cartesian_partial_agg(spark):
    """dedup_duplicated_spans: dup marking is a partial+final hash count,
    island merging is windowed on the doc key — no cartesian anywhere,
    no interpreted HOF lambda (the hash projection stays in codegen)."""
    plan = _plan(spark, "dedup_duplicated_spans")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert plan.count("Window [") == 2
    # shingle hash is a plain projection, not a transform() lambda
    assert "lambdafunction" not in plan.lower()


def test_hybrid_rrf_windows_are_k_bounded(spark):
    """search_hybrid_rrf_top10: every rank window sits above a
    TakeOrderedAndProject (limit 3 query terms / limit 50 per arm), so no
    unpartitioned window ever sees a corpus-sized frame; the final top-10
    is TakeOrdered too, and nothing cartesian or globally sorted."""
    plan = _plan(spark, "search_hybrid_rrf_top10")
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert "TakeOrderedAndProject(limit=10" in plan
    assert "TakeOrderedAndProject(limit=50" in plan
    assert "TakeOrderedAndProject(limit=3," in plan


def test_ann_recall_report_reuses_method_plans(spark):
    """ann_recall_report: the eval composes the audited method plans —
    no cartesian joins beyond the methods' own k-bounded broadcast
    probes, and the hit joins stay broadcast (two top-5 frames)."""
    plan = _plan(spark, "ann_recall_report")
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_survivor_argmax_is_partial_final_agg(spark):
    """dedup_survivors_best_quality: survivor selection must be the
    map-side-combinable max(struct(score, -id)) aggregate — each map
    partition collapses to one candidate per component BEFORE the shuffle,
    so a million-member boilerplate cluster can't hot-spot a task the way
    a component-keyed rank window would."""
    plan = _plan(spark, "dedup_survivors_best_quality")
    assert "partial_max(struct(score" in plan
    assert "windowspecdefinition(component" not in plan


def test_cdc_latest_is_partial_final_agg(spark):
    """cdc_apply_latest: latest-wins collapse must be max_by — partial+final
    aggregation on the entity key (hot CDC keys combine map-side), never a
    key-partitioned rank window."""
    plan = _plan(spark, "cdc_apply_latest")
    assert "partial_max_by" in plan
    assert "row_number" not in plan


def test_llm_pipeline_exact_dedup_is_min_by_agg(spark):
    """llm_corpus_pipeline: the exact-dedup stage must run as min_by on the
    fingerprint (duplicate-heavy fingerprints are the canonical dedup skew
    case) — no fingerprint-partitioned window anywhere in the flagship."""
    plan = _plan(spark, "llm_corpus_pipeline")
    assert "partial_min_by" in plan
    assert "windowspecdefinition(fingerprint" not in plan


def test_rank_stats_never_sort_fact_rows(spark):
    """kruskal / mann-whitney / spearman: rank statistics must reduce to
    the distinct-value frames before any ordered window — a window whose
    input is raw fact rows would single-partition (or 3-partition) sort
    the corpus at 100 TB. Guard: every Window in these plans consumes an
    aggregated frame (a HashAggregate/SortAggregate lies between the scan
    and the window), and the Window count stays at the designed number."""
    for key, n_windows in (
        ("stats_kruskal_price_by_flag", 1),
        ("stats_mannwhitney_price_halves", 2),
        ("stats_spearman_price_quantity", 2),
        ("stats_median_ci_price", 1),
        ("stats_quantile_bands_price", 1),
        ("exact_weighted_median_price", 2),  # cum + total weight specs
        ("eval_auc_doc_length", 1),  # cum window over the distinct-score frame
        ("eval_pr_curve_points", 2),  # desc-cumulative + all-rows specs
        ("eval_conformal_coverage", 1),  # cum window over the distinct-score frame
        ("stats_mad_price", 3),  # median pick + its reuse in the dev branch + MAD pick
        ("corpus_gini_doc_length", 1),  # source-partitioned cum over distinct lengths
    ):
        plan = _plan(spark, key)
        assert plan.count("Window [") == n_windows, (key, plan.count("Window ["))
        # rank() over raw rows is the banned shape
        assert "rank(l_extendedprice" not in plan, key
        assert "rank(l_quantity" not in plan, key
        # the BOTTOM window (last in the printed tree) must consume an
        # aggregated frame — stacked window specs above it inherit that
        below = plan.split("Window [")[-1].split("Scan parquet")[0]
        assert "Aggregate" in below, (key, below[:300])


def test_join_skew_top_key_is_max_by(spark):
    """join_skew_report: the hottest key comes from partial_max_by, not a
    rank window over the per-key frame (billions of keys at 100 TB)."""
    plan = _plan(spark, "join_skew_report")
    assert "partial_max_by" in plan
    assert "row_number" not in plan


def test_funnel_median_uses_selection_not_global_sort(spark):
    """funnel_time_to_convert: the conversions median comes from the
    histogram-selection operator; the returned plan must not contain a
    global rank window over the conversions frame."""
    plan = _plan(spark, "funnel_time_to_convert")
    assert "row_number" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_kendall_grid_join_is_broadcast_no_fact_pairing(spark):
    """stats_kendall_tau_qty_linenumber: the concordance join must pair
    GRID CELLS (bounded 50×7 domain), never fact rows — the grid side is
    broadcast and every fact-table touch is an aggregation."""
    plan = _plan(spark, "stats_kendall_tau_qty_linenumber")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "row_number" not in plan and "Window [" not in plan


def test_chi2_fold_is_bounded_single_row(spark):
    """ab_chi2_type_by_variant: the sorted-fold runs over the tiny
    (type × variant) grid — the plan's collect_list sits above the
    cell-count aggregate, never above fact rows, and the result is a
    1-row frame."""
    plan = _plan(spark, "ab_chi2_type_by_variant")
    assert "collect_list" in plan
    # the cell grid aggregation (partial+final) feeds the fold
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2
    assert "Window" not in plan


def test_bootstrap_ci_brackets_mean_and_is_partitioning_invariant(spark):
    """stats_bootstrap_ci_price: the 95% CI must bracket the full-sample
    mean, bounds must be ordered, replicate weights must be genuinely
    Poisson(1)-like (mean weight ≈ 1), and the whole report must be
    byte-identical under a different input partitioning (the
    content-addressed draw is partitioning-free)."""
    from rocana_impala_udfs_spark.plans.relational import (
        q_stats_bootstrap_ci_price,
        _poisson1_cdf_thresholds,
    )

    row = q_stats_bootstrap_ci_price(spark, SF).collect()[0]
    assert row.ci_lo < row.mean_price < row.ci_hi
    assert row.b_replicates == 100 and row.n_orders > 0
    # weight sanity: E[w]=1 ⇒ the CDF(0) threshold sits at e^-1 of 2^24
    ths = _poisson1_cdf_thresholds()
    import math

    assert abs(ths[0] / (1 << 24) - math.exp(-1)) < 1e-7
    assert ths == sorted(ths) and len(ths) == 8
    # partitioning invariance: same result from a repartitioned source
    import rocana_impala_udfs_spark.sources.io as io_mod

    orig = io_mod.load_table

    def shuffled(spark_, sf_dir_, name):
        t = orig(spark_, sf_dir_, name)
        return t.repartition(13) if name == "orders" else t

    io_mod_load, io_mod.load_table = io_mod.load_table, shuffled
    # q_* resolved load_table at import time — patch the plan module's ref
    import rocana_impala_udfs_spark.plans.relational as rel

    rel_load, rel.load_table = rel.load_table, shuffled
    try:
        row2 = q_stats_bootstrap_ci_price(spark, SF).collect()[0]
    finally:
        io_mod.load_table = io_mod_load
        rel.load_table = rel_load
    assert row2 == row


def test_stratified_bootstrap_matches_python_recomputation(spark):
    """stats_stratified_bootstrap_ci: the CI bounds are exactly the
    3rd/98th ranked replicate estimates recomputed in pure Python from
    the same md5 draws (hashlib) and fixed stratum weights — the whole
    deterministic chain, not a statistical approximation — and the CI
    brackets the point estimate."""
    import hashlib
    import math

    from rocana_impala_udfs_spark.plans.relational import (
        _poisson1_cdf_thresholds,
        q_stats_stratified_bootstrap_ci,
    )

    from rocana_impala_udfs_spark.sources.io import load_table

    row = q_stats_stratified_bootstrap_ci(spark, SF).collect()[0]
    assert row.ci_lo < row.mean_price < row.ci_hi
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).collect()
    ths = _poisson1_cdf_thresholds()
    strata = sorted({r.o_orderpriority[0] for r in orders})
    assert strata == ["1", "2", "3", "4", "5"]
    n_h = {p: 0 for p in strata}
    sw = {(b, p): 0 for b in range(100) for p in strata}
    swx = {(b, p): 0 for b in range(100) for p in strata}
    for r in orders:
        p = r.o_orderpriority[0]
        cents = math.floor(r.o_totalprice * 100)
        n_h[p] += 1
        for j in range(20):
            h = hashlib.md5(f"{r.o_orderkey}_s_{j}".encode()).hexdigest()
            for i in range(5):
                draw = int(h[6 * i : 6 * i + 6], 16)
                w = sum(1 for t in ths if draw >= t)
                b = j * 5 + i
                sw[(b, p)] += w
                swx[(b, p)] += w * cents
    n = sum(n_h.values())
    ests = sorted(
        (
            sum(n_h[p] * (swx[(b, p)] / sw[(b, p)]) for p in strata) / n,
            b,
        )
        for b in range(100)
    )
    assert row.n_orders == n
    assert row.ci_lo == ests[2][0] / 100.0
    assert row.ci_hi == ests[97][0] / 100.0


def test_calibration_ece_matches_python_recomputation(spark):
    """eval_calibration_ece: bins, accuracy, confidence and the ECE match
    a pure-Python recomputation from the same (token_count, lang) pairs
    (float tolerance only for the fold-order-free Python sums), bin
    coverage partitions the corpus, and ECE is the n-weighted mean gap."""
    import pytest
    from pyspark.sql import functions as F

    from rocana_impala_udfs_spark.functions import text as T
    from rocana_impala_udfs_spark.plans.pipeline import q_eval_calibration_ece
    from rocana_impala_udfs_spark.sources.io import load_table

    rows = q_eval_calibration_ece(spark, SF).collect()
    assert rows and all(0.0 <= r.ece <= 1.0 for r in rows)
    assert len({r.ece for r in rows}) == 1  # one constant across bins
    docs = (
        load_table(spark, SF, "documents")
        .select(
            T.token_count("text").cast("int").alias("tc"),
            (F.col("lang") == "en").cast("int").alias("y"),
        )
        .collect()
    )
    bins = {}
    for r in docs:
        p = r.tc / (r.tc + 50.0)
        b = min(int(p * 10), 9)
        n, pos, conf = bins.get(b, (0, 0, 0.0))
        bins[b] = (n + 1, pos + r.y, conf + p)
    assert sum(n for n, _, _ in bins.values()) == len(docs)
    got = {r.bin: r for r in rows}
    assert set(got) == set(bins)
    ece = 0.0
    for b, (n, pos, conf) in sorted(bins.items()):
        assert got[b].n_docs == n and got[b].n_pos == pos
        assert got[b].accuracy == pytest.approx(pos / n, abs=1e-12)
        assert got[b].confidence == pytest.approx(conf / n, abs=1e-12)
        ece += n / len(docs) * abs(pos / n - conf / n)
    assert rows[0].ece == pytest.approx(ece, abs=1e-12)


def test_brier_decomposition_matches_python(spark):
    """eval_brier_decomposition: raw Brier, reliability, resolution and
    uncertainty all match a pure-Python recomputation from (token_count,
    label) pairs, and REL − RES + UNC equals the binned Brier identity
    computed directly (Murphy 1973)."""
    import pytest
    from pyspark.sql import functions as F

    from rocana_impala_udfs_spark.functions import text as T
    from rocana_impala_udfs_spark.plans.pipeline import q_eval_brier_decomposition
    from rocana_impala_udfs_spark.sources.io import load_table

    row = q_eval_brier_decomposition(spark, SF).collect()[0]
    docs = (
        load_table(spark, SF, "documents")
        .select(
            T.token_count("text").cast("int").alias("tc"),
            (F.col("lang") == "en").cast("int").alias("y"),
        )
        .collect()
    )
    N = len(docs)
    P = sum(r.y for r in docs)
    ybar = P / N
    brier = sum((r.tc / (r.tc + 50.0) - r.y) ** 2 for r in docs) / N
    bins = {}
    for r in docs:
        p = r.tc / (r.tc + 50.0)
        b = min(int(p * 10), 9)
        n, pos, conf = bins.get(b, (0, 0, 0.0))
        bins[b] = (n + 1, pos + r.y, conf + p)
    rel = sum(n / N * (conf / n - pos / n) ** 2 for n, pos, conf in bins.values())
    res = sum(n / N * (pos / n - ybar) ** 2 for n, pos, conf in bins.values())
    assert (row.n_docs, row.n_pos) == (N, P)
    assert row.base_rate == pytest.approx(ybar, abs=1e-15)
    assert row.brier == pytest.approx(brier, abs=1e-12)
    assert row.reliability == pytest.approx(rel, abs=1e-12)
    assert row.resolution == pytest.approx(res, abs=1e-12)
    assert row.uncertainty == pytest.approx(ybar * (1 - ybar), abs=1e-15)
    assert row.brier_binned == pytest.approx(
        row.reliability - row.resolution + row.uncertainty, abs=1e-15
    )


def test_recursive_month_spine_fills_gaps(spark, tmp_path):
    """sql_recursive_month_spine: a month with no orders must still appear
    as an explicit (month, 0, 0) row — the recursion generates the full
    contiguous spine, not just observed months."""
    import os

    from pyspark.sql import functions as F

    from rocana_impala_udfs_spark.plans.relational import q_sql_recursive_month_spine

    rows = [
        (1, 10, "O", 100.0, "2024-01-15 00:00:00", "1-URGENT"),
        (2, 11, "O", 100.0, "2024-01-20 00:00:00", "1-URGENT"),
        (3, 10, "O", 100.0, "2024-03-05 00:00:00", "1-URGENT"),  # Feb is silent
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
        " o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    df.write.parquet(f"{d}/orders.parquet")
    out = {r.month: (r.n_orders, r.n_custs) for r in q_sql_recursive_month_spine(spark, d).collect()}
    assert out == {"2024-01": (2, 2), "2024-02": (0, 0), "2024-03": (1, 1)}


def test_mad_matches_numpy(spark):
    """stats_mad_price: median and MAD equal the numpy upper-median
    recomputation on the cents grid (the reference's even-n rule)."""
    import numpy as np

    from rocana_impala_udfs_spark.plans.relational import q_stats_mad_price

    import pyspark.sql.functions as F

    from rocana_impala_udfs_spark.sources.io import load_table

    out = q_stats_mad_price(spark, SF).collect()[0]
    vals = [
        r.v
        for r in load_table(spark, SF, "lineitem")
        .select(F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v"))
        .collect()
    ]
    v = np.sort(np.array(vals, dtype=np.int64))
    k = (len(v) + 2) // 2
    m = int(v[k - 1])
    d = np.sort(np.abs(v - m))
    mad = int(d[k - 1])
    assert out.n == len(v)
    assert out.median_price == m / 100.0
    assert out.mad_price == mad / 100.0
    assert out.sigma_robust == 1.4826 * (mad / 100.0)


def test_no_duplicate_module_level_oracle_constants():
    """A module-level ORACLE_* constant defined twice silently shadows the
    first definition and mis-oracles whichever key bound the earlier one
    (the r9 Benford/changepoint collision class). Guard: every plans/
    module defines each ORACLE_*/QUERIES/ORACLE name at most once."""
    import ast
    import pathlib

    plans_dir = pathlib.Path(__file__).resolve().parents[1] / "rocana_impala_udfs_spark" / "plans"
    for p in plans_dir.glob("*.py"):
        seen: dict = {}
        dups = []
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name) and (
                        t.id.startswith("ORACLE") or t.id in ("QUERIES",)
                    ):
                        if t.id in seen:
                            dups.append((p.name, t.id, seen[t.id], node.lineno))
                        seen[t.id] = node.lineno
        assert not dups, dups


def test_survival_and_mi_folds_are_grid_bounded(spark):
    """The r9 fold keys (mutual information, log-rank) run their sorted
    folds over domain-bounded frames: collect_list sits above aggregates
    (the grid / duration frame), never above fact rows; Kaplan–Meier's
    windows likewise consume the aggregated duration frame."""
    for key in ("ab_mutual_info_type_variant", "ab_logrank_conversion"):
        plan = _plan(spark, key)
        assert "collect_list" in plan, key
        assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2, key
    km = _plan(spark, "events_kaplan_meier_conversion")
    below = km.split("Window [")[-1].split("Scan parquet")[0]
    assert "Aggregate" in below


def test_parameterized_sql_binds_server_side(spark):
    """sql_parameterized_segment: the named markers bind as literals in
    the optimized plan (pushed to the dimension scan) and a hostile
    string value stays data, never SQL."""
    from rocana_impala_udfs_spark.plans.relational import q_sql_parameterized_segment

    plan = _plan(spark, "sql_parameterized_segment")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # pushed to the scan
    # injection probe: a quote-laden arg must parse as a plain value
    rows = spark.sql(
        "SELECT count(*) AS n FROM _prm_customer WHERE c_mktsegment = :seg",
        args={"seg": "x' OR '1'='1"},
    ).collect()
    assert rows[0].n == 0


def test_sample_sum_ci_estimator_and_coverage(spark):
    """appx_sample_sum_ci: the estimate equals N·(sample mean), the CI is
    symmetric and positive-width, and the relative error of the 1%
    estimator is sane (< 50% at sf0.001's tiny sample)."""
    from rocana_impala_udfs_spark.plans.relational import q_appx_sample_sum_ci

    out = q_appx_sample_sum_ci(spark, SF).collect()[0]
    assert out.n_sample < out.n_total
    assert out.ci_lo < out.estimate < out.ci_hi
    assert abs((out.estimate + out.ci_lo + out.ci_hi) / 3 - out.estimate) < 1e-6
    assert abs(out.estimate - out.true_total) / out.true_total < 0.5
    assert out.covered == (out.ci_lo <= out.true_total <= out.ci_hi)


def _capture_stream_plans(monkeypatch) -> list:
    """Wrap ``replay.run_to_table`` so every streaming query a key runs
    appends its executed physical plan to the returned list — the exact
    driver-key path, with no capture hook in the plan functions."""
    from rocana_impala_udfs_spark.streaming import replay

    executed: list = []
    real = replay.run_to_table
    monkeypatch.setattr(
        replay,
        "run_to_table",
        lambda out, *a, **kw: real(out, *a, capture_plan=executed, **kw),
    )
    return executed


def _run_key(spark, key: str) -> None:
    """Build the key afresh, so its streams run even when ``_plan`` has
    already cached the key's plan."""
    entry.queries()[key](spark, SF)


def test_tws_driver_key_executes_transform_with_state_exec(spark, monkeypatch):
    """stream_tws_ewma_user_value must run the GENUINE Spark 4
    transformWithStateInPandas operator (VERDICT r10 #1): the captured
    executed plan of the driver key's own streaming query contains
    TransformWithStateInPandasExec — evidence the vendored protobuf shim
    carried the state-server protocol end to end, not the
    applyInPandasWithState fallback twin."""
    plans = _capture_stream_plans(monkeypatch)
    _run_key(spark, "stream_tws_ewma_user_value")
    assert plans, "tws key fell back to the applyInPandasWithState twin"
    executed = plans[-1]
    # Spark 4.1 names the executed python-tws operator
    # TransformWithStateInPySpark (earlier 4.x: TransformWithStateInPandasExec)
    assert (
        "TransformWithStateInPySpark" in executed
        or "TransformWithStateInPandas" in executed
    ), executed
    assert "state info" in executed, executed  # stateful operator, real state
    assert "FlatMapGroupsInPandasWithState" not in executed, executed


def test_tws_map_and_list_state_keys_execute_tws_operator(spark, monkeypatch):
    """stream_tws_bitmap_map_state / stream_tws_topk_list_state must run
    the genuine tws operator (MapState and ListState wire-protocol
    certification), not their applyInPandasWithState twins."""
    plans = _capture_stream_plans(monkeypatch)
    for key in ("stream_tws_bitmap_map_state", "stream_tws_topk_list_state"):
        before = len(plans)
        _run_key(spark, key)
        assert len(plans) > before, f"{key} fell back"
        executed = plans[-1]
        assert (
            "TransformWithStateInPySpark" in executed
            or "TransformWithStateInPandas" in executed
        ), (key, executed)
        assert "state info" in executed, (key, executed)


def test_tws_session_timer_key_executes_tws_operator(spark, monkeypatch):
    """stream_tws_session_timers must run the genuine tws operator — the
    event-time-timer protocol certification, not the batch fallback."""
    plans = _capture_stream_plans(monkeypatch)
    _run_key(spark, "stream_tws_session_timers")
    assert plans, "fell back to batch plan"
    executed = plans[-1]
    assert (
        "TransformWithStateInPySpark" in executed
        or "TransformWithStateInPandas" in executed
    ), executed
    assert "state info" in executed, executed


def test_tws_lsh_index_key_executes_tws_operator(spark, monkeypatch):
    """stream_tws_lsh_index_candidates must run the genuine tws operator
    (ListState bucket index), not the batch band self-join fallback."""
    plans = _capture_stream_plans(monkeypatch)
    _run_key(spark, "stream_tws_lsh_index_candidates")
    assert plans, "fell back to batch plan"
    executed = plans[-1]
    assert (
        "TransformWithStateInPySpark" in executed
        or "TransformWithStateInPandas" in executed
    ), executed


def test_tws_driver_key_state_lives_in_rocksdb(spark, last_stateful_progress):
    """VERDICT r11 missing #3: the tws driver keys must run their state in
    the RocksDB provider — pinned from the EXECUTED query progress (the
    RocksDB provider reports rocksdb* customMetrics per stateful
    operator; the HDFS-backed default reports none and, in Spark 4.1,
    cannot run tws at all — see
    test_streaming.py::test_tws_requires_rocksdb_state_store)."""
    _run_key(spark, "stream_tws_ewma_user_value")
    progress = last_stateful_progress()
    assert progress is not None, "no progress captured"
    ops = progress["stateOperators"]
    assert ops, progress
    metrics = ops[0]["customMetrics"]
    assert any(str(k).startswith("rocksdb") for k in metrics), metrics


def test_tws_lsh_bounded_key_executes_tws_operator(spark, monkeypatch):
    """stream_tws_lsh_bounded_bucket must run the genuine tws operator —
    the bounded-bucket (cap + overflow marker) variant, not the batch
    rank-window fallback."""
    plans = _capture_stream_plans(monkeypatch)
    _run_key(spark, "stream_tws_lsh_bounded_bucket")
    assert plans, "fell back to batch plan"
    executed = plans[-1]
    assert (
        "TransformWithStateInPySpark" in executed
        or "TransformWithStateInPandas" in executed
    ), executed


def test_tws_warm_start_key_executes_tws_operator(spark, monkeypatch):
    """stream_tws_warm_start_ewma must run the genuine tws operator with
    initial state (the handleInitialState certification), not the
    full-stream fallback."""
    plans = _capture_stream_plans(monkeypatch)
    _run_key(spark, "stream_tws_warm_start_ewma")
    assert plans, "fell back"
    executed = plans[-1]
    assert (
        "TransformWithStateInPySpark" in executed
        or "TransformWithStateInPandas" in executed
    ), executed


def test_stream_median_key_runs_native_state_store_aggregate(spark, monkeypatch):
    """stream_tws_median_value runs the reservoir as Structured Streaming's
    own stateful aggregation over the JVM Aggregator: the executed plan of
    the key's streaming query has StateStoreSave and no Python stateful
    operator (the applyInPandasWithState / transformWithState routes are
    gone)."""
    executed = _capture_stream_plans(monkeypatch)
    _run_key(spark, "stream_tws_median_value")
    assert len(executed) == 1, executed
    plan = executed[0]
    assert "StateStoreSave" in plan and "StateStoreRestore" in plan, plan
    assert "appx_median_bounded_double" in plan, plan
    assert "InPandas" not in plan and "InPySpark" not in plan, plan


def test_aqe_skew_join_splits_skewed_partition(spark):
    """session.py enables spark.sql.adaptive.skewJoin for the unsalted
    skew path of the 100 TB story, but nothing certified it ENGAGES — pin
    that a synthetic hot key makes AQE mark the executed sort-merge join
    ``skew=true`` (runtime partition split).  Thresholds are lowered to
    make the 60k-row fixture skewed by AQE's definition and restored in
    a finally (the r10 conf-discipline lesson)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32768",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(0))
            .otherwise(F.col("id") % 7 + 1)
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(0, 8).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
        j = left.join(right, "k")
        assert j.count() == 60_000  # every key matches the dim side
        j.collect()  # materialize THIS QueryExecution's final adaptive plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_switches_smj_to_broadcast_at_runtime(spark):
    """The other AQE lever the 100 TB story leans on (session.py enables
    adaptive join planning): when the STATIC planner cannot broadcast
    (threshold -1 — unknown stats), a runtime-small build side must make
    AQE re-plan the sort-merge join into a broadcast hash join in the
    final adaptive plan.  Companion to the skew-split pin above."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10485760",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 200_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = big.join(small.filter(F.col("k") < 500), "k")
        pre = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in pre and "BroadcastHashJoin" not in pre
        assert len(j.collect()) == 100_000
        post = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in post
        assert "BroadcastHashJoin" in post, post
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """Star-join scan pruning at runtime — the third AQE-era lever of the
    100 TB scan story (with the skew split and the runtime broadcast
    switch above): a dim-side filter the static planner can't fold into
    the fact scan must show up as a ``dynamicpruning`` subquery in the
    fact table's PartitionFilters, so only the matching fact partitions
    are read."""
    d = str(tmp_path / "dpp_fact")
    src = spark.range(0, 100_000).select(
        (F.col("id") % 10).alias("etype_id"), F.col("id").alias("v")
    )
    src.write.mode("overwrite").partitionBy("etype_id").parquet(d)
    fact = spark.read.parquet(d)
    dim = spark.range(0, 10).select(
        F.col("id").alias("etype_id"),
        F.when(F.col("id") < 2, "hot").otherwise("cold").alias("klass"),
    )
    j = fact.join(dim, "etype_id").filter(F.col("klass") == "hot")
    assert len(j.collect()) == 20_000
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
