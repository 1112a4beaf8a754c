"""Physical-plan shape assertions (SURVEY.md §4): the optimizations the
engine relies on at 100 TB must actually appear in the plans — filter
pushdown into the parquet scan, broadcast joins for dims, top-k pushdown,
whole-stage codegen, and no Python evaluation in JVM-only operators.
A regression that silently turns a broadcast join into a shuffle or
blocks pushdown fails here, not at 1000 executors.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from un_datapipeline_spark.registry import all_operators
from un_datapipeline_spark.tables import load_table

OPS = all_operators()


def plan_of(spark, name, sf_dir) -> str:
    df = OPS[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan
    # column pruning: scan schema restricted to the two projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_star_join_broadcasts_dims(spark, sf_smoke):
    plan = plan_of(spark, "join_broadcast_dim", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 3


def test_sort_merge_pin_respected(spark, sf_smoke):
    plan = plan_of(spark, "join_sort_merge", sf_smoke)
    assert "SortMergeJoin" in plan


def test_topk_uses_take_ordered(spark, sf_smoke):
    plan = plan_of(spark, "topk_global", sf_smoke)
    assert "TakeOrderedAndProject" in plan


def test_pricing_summary_partial_agg_and_codegen(spark, sf_smoke):
    df = OPS["agg_pricing_summary"].fn(spark, sf_smoke)
    df.collect()  # AQE finalizes (and codegens) only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    # codegen stages render as "*(n) Operator" in executed-plan strings
    assert "*(" in plan


def test_jvm_only_operators_have_no_python_eval(spark, sf_smoke):
    # Everything outside §2.J/§2.K-python must stay JVM-side.
    for name in ("agg_pricing_summary", "fn_array", "llm_vector_norms", "fn_json"):
        plan = plan_of(spark, name, sf_smoke)
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "ArrowEvalPython" not in plan, f"{name} fell off the JVM path"


def test_window_topk_group_limit_pushdown(spark, sf_smoke):
    # rank<=k filters should push into the window operator
    plan = plan_of(spark, "win_topk_per_group", sf_smoke)
    assert "WindowGroupLimit" in plan


def test_scd2_single_join_no_extra_shuffle(spark, sf_smoke):
    # SCD2 must be ONE join on the business key and nothing else —
    # a second join or a window sort here would double the 100 TB cost.
    plan = plan_of(spark, "etl_scd2_snapshot", sf_smoke)
    n_joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, f"expected exactly 1 join, plan has {n_joins}"
    assert "Window" not in plan


def test_funnel_windows_share_one_partitioning(spark, sf_smoke):
    # All sessionize + stage windows partition by user_id (or its
    # session refinement): exactly one hash exchange on user_id; the
    # final 1-row funnel rollup may add its own single-partition
    # exchange, nothing else.
    df = OPS["llm_sessionize_funnel"].fn(spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE plan strings repeat the tree under "== Initial Plan ==" —
    # count exchanges in the final section only.
    plan = plan.split("== Initial Plan ==")[0]
    n_user_exchanges = plan.count("hashpartitioning(user_id")
    assert n_user_exchanges == 1, f"windows re-shuffled: {n_user_exchanges} user_id exchanges"


def test_multiprobe_join_is_bucket_keyed(spark, sf_smoke):
    # The candidate join must key on the LSH bucket (bounded groups),
    # never a cross/nested-loop over the corpus.
    plan = plan_of(spark, "llm_simsearch_multiprobe", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_read_prunes_partitions(spark, sf_smoke):
    """src_partitioned_pruning's read-back scan must prune on the hive
    partition column at listing time: the week filter shows up as
    PartitionFilters bounds on the scan (pruned before any file opens),
    with NO residual DataFilters — the filter is satisfied entirely by
    the directory layout."""
    plan = plan_of(spark, "src_partitioned_pruning", sf_smoke)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PartitionFilters: [isnotnull(event_date" in scan
    assert "(event_date" in scan and ">= 2024-01-08" in scan and "<= 2024-01-14" in scan
    assert "DataFilters: []" in scan


def test_dpp_join_prunes_fact_partitions(spark, sf_smoke):
    """join_dpp_partitioned's fact scan must carry a runtime
    dynamicpruningexpression in its PartitionFilters — the dim filter
    reaches the partitioned fact read at execution time."""
    plan = plan_of(spark, "join_dpp_partitioned", sf_smoke)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runtime_bloom_filter_injected(spark, sf_smoke):
    """join_runtime_bloom's docstring contract: under the runtime-filter
    confs it sets, Catalyst must inject a bloom_filter_agg on the
    selective build side and a might_contain probe-side filter.  The
    registered op freezes its result via eager localCheckpoint (so the
    returned plan is a cache scan); this test rebuilds the same join
    under the same confs and inspects the pre-checkpoint plan."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_returnflag")
        o = (
            load_table(spark, sf_smoke, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        opt = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom_filter_agg" in opt, "runtime bloom filter not injected"
        assert "might_contain" in opt, "probe side missing might_contain"
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    # and the registered op still returns the frozen, conf-independent rows
    rows = OPS["join_runtime_bloom"].fn(spark, sf_smoke).collect()
    assert len(rows) == 3


def test_asof_bucketed_plan_is_equi_join(spark, sf_smoke):
    """The whole point of join_asof_bucketed is replacing the range
    residual's unbounded fan-out with bounded equi-joins: the physical
    plan must contain no nested-loop or cartesian join."""
    plan = plan_of(spark, "join_asof_bucketed", sf_smoke)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_binary_files_fixture_idempotent(spark, sf_smoke):
    """Two calls, each writing its own fixture files, return the same
    digests, and the binaryFile scan re-reads them bit-exactly."""
    a = {r.doc_id: r.digest for r in OPS["src_binary_files"].fn(spark, sf_smoke).collect()}
    b = {r.doc_id: r.digest for r in OPS["src_binary_files"].fn(spark, sf_smoke).collect()}
    assert a == b and len(a) == 20


def test_dsir_ratio_table_broadcasts(spark, sf_smoke):
    """llm_dsir_ngram_weights' bucket-ratio table (B=4096 rows) must join
    the doc-feature stream as the BROADCAST side — a shuffle join there
    would re-key the whole token stream by bucket a second time."""
    plan = plan_of(spark, "llm_dsir_ngram_weights", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_jaccard_neighbors_no_cartesian(spark, sf_smoke):
    """Pair generation must be the cust-keyed equi self-join, never a
    supplier×supplier cartesian."""
    plan = plan_of(spark, "graph_jaccard_neighbors", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_link_predict_expands_pairs_once(spark, sf_smoke):
    """graph_link_predict_aa: the supplier-pair self-join (cust-keyed,
    ``supp < supp``) runs once, inside the top-20 count; the survivors'
    terms come from their own edge lists, not a second pair expansion."""
    plan = plan_of(spark, "graph_link_predict_aa", sf_smoke)
    assert len(re.findall(r"\(supp#\d+L? < supp#\d+L?\)", plan)) == 1, plan


def test_semdedup_prune_is_grouped_per_cluster(spark, sf_smoke):
    """The quadratic prune unit must be the per-cluster pandas group
    (FlatMapGroupsInPandas after a cluster_id exchange), not a corpus-
    wide pairwise join."""
    plan = plan_of(spark, "llm_semdedup", sf_smoke)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # no pairwise join anywhere — clustering + grouped prune only


def test_scd2_pit_join_is_hash_keyed(spark, sf_smoke):
    """join_scd2_pointintime: the validity range must ride as a residual
    on a KEYED join — a BroadcastNestedLoopJoin here would mean the
    equality on user_id was lost and the join went quadratic."""
    plan = plan_of(spark, "join_scd2_pointintime", sf_smoke)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_line_dedup_boiler_set_broadcasts(spark, sf_smoke):
    """llm_line_dedup_reconstruct: the boilerplate-line set is tiny by
    construction (df > cap) and must broadcast into both the anti and
    semi joins — shuffling the full line table against it would add two
    needless exchanges at corpus scale."""
    plan = plan_of(spark, "llm_line_dedup_reconstruct", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interleave_prefix_is_take_ordered(spark, sf_smoke):
    """llm_interleave_schedule: the global schedule prefix must plan as
    TakeOrderedAndProject (top-k), never a full global Sort of the
    corpus."""
    plan = plan_of(spark, "llm_interleave_schedule", sf_smoke)
    assert "TakeOrderedAndProject" in plan


def test_concurrency_sweep_no_self_join(spark, sf_smoke):
    """win_concurrency_sweep: the sweep-line formulation must contain NO
    join at all (the naive interval-overlap self-join is exactly what it
    replaces) — just a union, a hash agg, and a partitioned window."""
    plan = plan_of(spark, "win_concurrency_sweep", sf_smoke)
    for marker in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert marker not in plan, f"unexpected {marker} in sweep plan"
    assert "Window" in plan


def test_shuffle_hash_hint_takes_effect(spark, sf_smoke):
    """join_shuffle_hash: the SHUFFLE_HASH hint must actually produce a
    ShuffledHashJoin — a silent fallback to SortMergeJoin would make the
    op a mislabeled duplicate of join_sort_merge."""
    plan = plan_of(spark, "join_shuffle_hash", sf_smoke)
    assert "ShuffledHashJoin" in plan


def test_triangle_wedges_are_equi_joins(spark, sf_smoke):
    """graph_triangle_count: wedge expansion and closure must both be
    KEYED joins (equi on the shared endpoint / the (v, w) pair) — a
    BroadcastNestedLoopJoin or CartesianProduct would mean the
    inequality leaked into the join condition and the count went
    all-pairs quadratic."""
    plan = plan_of(spark, "graph_triangle_count", sf_smoke)
    assert "CartesianProduct" not in plan
    # the single-row stats x tri combine is the only BNLJ allowed; the
    # node-scale joins must all be hash/sort-merge
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_market_basket_topk_is_take_ordered(spark, sf_smoke):
    """agg_market_basket: the rule ranking must plan as
    TakeOrderedAndProject, and the item-count sides must broadcast —
    the pair table is the only relation allowed to shuffle at scale."""
    plan = plan_of(spark, "agg_market_basket", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q6_is_pure_pushdown_scan(spark, sf_smoke):
    """tpch_q6: the pure scan-aggregate — the ship-date range and the
    quantity bound must reach the parquet scan as PushedFilters, no
    join may appear, and the aggregate must be partial+final hash agg
    (zero shuffle volume beyond one row per task at 100 TB)."""
    plan = plan_of(spark, "tpch_q6_revenue_delta", sf_smoke)
    # toString elides the tail of the PushedFilters list, so assert the
    # list is non-empty and the quantity bound survived into the filter.
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_quantity" in plan and "< 24.0)" in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_tpch_q3_topk_is_take_ordered(spark, sf_smoke):
    """tpch_q3/q10/q18: ORDER BY + LIMIT must plan as
    TakeOrderedAndProject (per-partition top-k + driver merge), never a
    global Sort — the difference between O(k) and O(n log n) driver
    traffic at scale."""
    for name in (
        "tpch_q3_shipping_priority",
        "tpch_q10_returned_items",
        "tpch_q18_volume_customer",
    ):
        plan = plan_of(spark, name, sf_smoke)
        assert "TakeOrderedAndProject" in plan, name


def test_tpch_q5_facts_never_broadcast(spark, sf_smoke):
    """tpch_q5: only the pre-filtered dim chain may broadcast; the
    lineitem/orders/customer fact relations must stay on probe sides
    (a fact broadcast OOMs the executors at 100 TB)."""
    plan = plan_of(spark, "tpch_q5_regional_revenue", sf_smoke)
    assert "BroadcastHashJoin" in plan
    for fact in ("lineitem", "orders", "customer"):
        for line in plan.splitlines():
            if "BroadcastExchange" in line or "BroadcastQueryStage" in line:
                assert fact not in line.lower()


def test_tpch_q4_exists_is_semi_join(spark, sf_smoke):
    """tpch_q4: the EXISTS must plan as a LeftSemi hash/SMJ join keyed
    on the order key with the 30-day lag as residual — never a
    nested-loop or per-row subquery."""
    plan = plan_of(spark, "tpch_q4_late_ship_priority", sf_smoke)
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q22_no_orders_is_anti_join(spark, sf_smoke):
    """tpch_q22: the no-recent-orders predicate must plan as a hash
    LeftAnti join over the date-pruned orders scan.  (The singleton
    Σ/count aggregate broadcast is ALLOWED to plan as a 1-row
    BroadcastNestedLoopJoin — the house share-of-total pattern — so
    only the anti join's physical kind is pinned here.)"""
    plan = plan_of(spark, "tpch_q22_dormant_customers", sf_smoke)
    assert any(
        "Join" in line and "LeftAnti" in line and "NestedLoop" not in line
        for line in plan.splitlines()
    )


def test_interval_join_preaggregates_probe_side(spark, sf_smoke):
    """join_interval's scale guarantee (round-5 fix): the count-only
    interval aggregate must collapse lineitem to (l_shipdate, cnt)
    BEFORE the day-bucket join — the per-pair join output is quadratic
    in scale factor otherwise (measured 142 s vs 2.3 s at sf0.1).  The
    plan therefore aggregates on l_shipdate below the join and sums
    counts above it, never count(1) over raw pairs."""
    plan = plan_of(spark, "join_interval", sf_smoke)
    join_at = plan.find("Join")
    assert join_at != -1
    below = plan[join_at:]
    assert "HashAggregate" in below, "probe side must pre-aggregate below the join"
    assert "keys=[l_shipdate" in below, (
        "pre-aggregation must be keyed on the exact ship timestamp"
    )
    # final aggregate folds partial counts (sum), not raw pair rows
    head = plan[:join_at]
    assert "sum(cnt" in head or "sum(" in head


def test_modularity_scoring_is_keyed_joins(spark, sf_smoke):
    """graph_modularity: the internal-edge count must be KEYED label
    lookups (equi-joins of the edge list against the node->label table),
    never an all-pairs comparison, and the only BroadcastNestedLoopJoin
    allowed is the single-row m-spine crossJoin — a second one would
    mean a community-sized relation leaked into a non-equi join."""
    plan = plan_of(spark, "graph_modularity", sf_smoke)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
