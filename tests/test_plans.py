"""Physical-plan assertions: the scale-critical properties must hold.

These tests pin the *shape* of the plans, not their results: dimension
joins stay broadcast, scan-level filters push into parquet, hot paths stay
inside whole-stage codegen, and top-k compiles to TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_cotrip_signs_spark import registry
from etl_cotrip_signs_spark.io import load_table
from etl_cotrip_signs_spark.plans.explain import (
    assert_broadcast_join,
    assert_pushed_filters,
    assert_wholestage_codegen,
    formatted_plan,
    node_count,
    plan_has,
)

from .conftest import SF_SMALL

registry.load_all()


def test_q5_broadcasts_dimensions(spark):
    df = registry.QUERIES["q5_regional_revenue"](spark, SF_SMALL)
    plan = formatted_plan(df)
    # customer/nation/region joins are all broadcast; only lineitem⋈orders
    # is allowed to be a shuffle join.
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert_wholestage_codegen(df)


def test_q1_filter_pushes_to_parquet_scan(spark):
    df = registry.QUERIES["q1_pricing_summary"](spark, SF_SMALL)
    assert_pushed_filters(df)
    assert_wholestage_codegen(df)


def test_projection_prunes_scan_columns(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    plan = formatted_plan(li)
    assert "l_extendedprice" not in plan, plan  # pruned at the scan


def test_topk_uses_take_ordered(spark):
    df = registry.QUERIES["sort_topk_orders"](spark, SF_SMALL)
    assert plan_has(df, "TakeOrderedAndProject"), formatted_plan(df)


def test_theta_band_join_is_broadcast_nested_loop(spark):
    df = registry.QUERIES["join_theta_price_band"](spark, SF_SMALL)
    assert_broadcast_join(df)


def test_semi_join_stays_semi(spark):
    df = registry.QUERIES["join_semi_customers"](spark, SF_SMALL)
    assert plan_has(df, "LeftSemi"), formatted_plan(df)


def test_knn_broadcasts_query_side(spark):
    df = registry.QUERIES["knn_exact_cosine"](spark, SF_SMALL)
    assert_broadcast_join(df)


def test_partial_aggregation_present(spark):
    # groupBy compiles to partial (map-side) + final hash aggregate.
    df = (
        load_table(spark, SF_SMALL, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan


def test_lsh_candidates_shuffle_ids_only(spark):
    """The LSH candidate plan's load-bearing properties: (a) both self-join
    branches read the SAME checkpointed bucket RDD (the pandas-UDF stage
    runs once), and (b) no Exchange moves embedding arrays — candidate
    shuffles carry bare ids."""
    import re

    from etl_cotrip_signs_spark.operators.similarity import _label_lsh_candidates

    e = load_table(spark, SF_SMALL, "embeddings")
    plan = formatted_plan(_label_lsh_candidates(e).select("vec_a", "vec_b"))

    rdd_ids = re.findall(r"MapPartitionsRDD\[(\d+)\]", plan)
    assert len(rdd_ids) >= 2 and len(set(rdd_ids)) == 1, plan

    for m in re.finditer(r"\(\d+\) Exchange\n((?:.+\n){1,3})", plan):
        assert "embedding" not in m.group(1), m.group(1)


def test_q6_all_predicates_push_to_scan(spark):
    df = registry.QUERIES["q6_forecast_revenue"](spark, SF_SMALL)
    plan = formatted_plan(df)
    # all four predicates reach the parquet reader
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"PushedFilters: [" in plan and frag in plan.split("PushedFilters")[1], plan
    assert_wholestage_codegen(df)


def test_q7_dimension_chain_is_broadcast(spark):
    df = registry.QUERIES["q7_volume_shipping"](spark, SF_SMALL)
    plan = formatted_plan(df)
    # nation (x2) and supplier joins broadcast; nation-pair filter reaches
    # the nation scans as an In pushdown
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "In(n_name" in plan, plan


def test_q10_q18_topk_take_ordered(spark):
    for name in ("q10_returned_items", "q18_large_volume_customer"):
        df = registry.QUERIES[name](spark, SF_SMALL)
        assert plan_has(df, "TakeOrderedAndProject"), formatted_plan(df)


def test_q4_exists_is_left_semi(spark):
    df = registry.QUERIES["q4_order_priority"](spark, SF_SMALL)
    assert plan_has(df, "LeftSemi"), formatted_plan(df)


def test_salted_agg_two_phase(spark):
    df = registry.QUERIES["agg_salted_skew"](spark, SF_SMALL)
    plan = formatted_plan(df)
    # two aggregation phases on different keys → two Exchanges at most,
    # with the salt key present in the first grouping
    assert "__salt" in plan, plan


def test_range_join_banded_is_equi_not_bnlj(spark):
    df = registry.QUERIES["range_join_banded"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoop" not in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """A hot join key triggers AQE's OptimizeSkewedJoin under Spark's
    default AQE confs (thresholds lowered to fixture scale): the executed plan
    marks the sort-merge join skew=true. This is the runtime half of the
    skew story — salting (agg_salted_skew) is the planned half."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id") % 1000)
        left = spark.range(400_000).select(
            hot.alias("k"), F.col("id").alias("payload")
        )
        right = spark.range(1000).select(
            (F.col("id") % 1000).alias("k"), F.lit("dim").alias("tag")
        )
        # bare join: a downstream shuffle requirement (e.g. groupBy) makes
        # AQE skip the skew split (it would re-shuffle the duplicated
        # partitions) unless forceOptimizeSkewedJoin — keep the demo honest
        joined = left.join(right, "k")
        assert joined.collect()  # drives THIS DataFrame's execution to final
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q17_part_filter_is_broadcast(spark):
    """The brand-filtered part side must broadcast (dimension discipline);
    the decorrelated per-part aggregate keeps partial aggregation."""
    df = registry.QUERIES["q17_small_quantity_revenue"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_" in plan.lower() or "HashAggregate" in plan, plan


def test_q22_not_exists_is_left_anti(spark):
    df = registry.QUERIES["q22_dormant_accounts"](spark, SF_SMALL)
    assert plan_has(df, "LeftAnti"), formatted_plan(df)


def test_q13_join_side_filter_stays_in_join(spark):
    """Q13's priority filter lives in the join condition/orders side; the
    customer side must NOT be filtered (every customer must survive into
    the outer join) — i.e. the plan keeps LeftOuter."""
    df = registry.QUERIES["q13_customer_distribution"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "LeftOuter" in plan, plan


def test_upsample_expansion_is_generate_no_shuffle_before_group(spark):
    """The copy expansion must be a Generate (explode) — rows multiply
    map-side; the only exchanges are the aggregation's."""
    df = registry.QUERIES["upsample_fractional"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Generate" in plan, plan


def test_token_budget_single_window_exchange(spark):
    """select_token_budget is one window pass AND one exchange total: the
    groupBy(lang) reuses the window's lang partitioning, so the final agg
    adds no shuffle. (Formatted plans list each node twice — tree and
    detail — so count the numbered detail entries.)"""
    import re

    df = registry.QUERIES["select_token_budget"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_salted_join_spreads_hot_key(spark):
    """join_salted_skew: the build side carries a Generate (salt replicas)
    and the join key includes the salt column, so the hot orderkey spreads
    across SALT reducers."""
    df = registry.QUERIES["join_salted_skew"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Generate" in plan, plan
    assert "__salt" in plan, plan


def test_funnel_single_shuffle(spark):
    """The funnel is one user_id aggregation (map-side partial mins) plus
    the final single-row agg — exactly two exchanges, both preceded by
    partial HashAggregates."""
    import re

    df = registry.QUERIES["events_funnel_conversion"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_q21_no_cartesian_no_bnlj(spark):
    """q21's double decorrelation must stay hash/sort-merge joins on
    orderkey — a correlated rewrite gone wrong shows up as
    BroadcastNestedLoopJoin or CartesianProduct."""
    df = registry.QUERIES["q21_waiting_orders"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q19_part_side_broadcasts(spark):
    df = registry.QUERIES["q19_disjunctive_predicates"](spark, SF_SMALL)
    assert_broadcast_join(df)


def test_resample_grid_is_generate(spark):
    """The hour grid comes from a Generate (sequence-explode off the span
    aggregate), not a join against a materialized range table."""
    df = registry.QUERIES["events_resample_gapfill"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Generate" in plan, plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """With a selective build side and broadcast disabled (forcing a
    shuffle join), the optimizer must inject a might_contain(bloom) filter
    on the probe side — the ship-a-filter-not-a-shuffle reduction that
    trims the 100 TB side's shuffle input. Fixture-scale thresholds."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMALL, "lineitem")
        o = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_topk_via_agg_has_partial_aggregation(spark):
    """The aggregate top-k's load-bearing property: map-side partial
    aggregation (two HashAggregate/ObjectHashAggregate phases), so only
    per-key partial arrays cross the shuffle — the window form cannot
    pre-reduce."""
    import re

    df = registry.QUERIES["window_topk_via_agg"](spark, SF_SMALL)
    plan = formatted_plan(df)
    n_aggs = len(re.findall(r"\(\d+\) (?:ObjectHashAggregate|HashAggregate|SortAggregate)", plan))
    assert n_aggs >= 2, plan
    assert "Window" not in plan, plan  # the whole point: no window


def test_kmeans_assign_is_shuffle_free(spark):
    """The Lloyd assignment step must stay in the scan stage: the argmin
    over k broadcast-small centroids is a map-side fold (literal
    array-of-structs + array_min), NOT a crossJoin + row_number window —
    the window form exchanges and sorts n×k rows every iteration."""
    from etl_cotrip_signs_spark.functions.vectors import to_double
    from etl_cotrip_signs_spark.operators.similarity import kmeans_assign

    e = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = [(0, [0.0] * 64), (1, [0.1] * 64), (2, [0.2] * 64)]
    df = kmeans_assign(e, cents)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    # same argmin semantics as the window form: d2 asc, cluster tie-break
    rows = df.limit(5).collect()
    assert all(r["cluster"] in (0, 1, 2) for r in rows)


def test_kmeans_exact_assign_is_shuffle_free(spark):
    """The integer twin (kmeans_lloyd_exact's assignment) keeps the same
    scan-stage shape: literal codebook fold, no Exchange/Window/Join."""
    from etl_cotrip_signs_spark.functions.vectors import to_double
    from etl_cotrip_signs_spark.operators.similarity import (
        _kmeans_assign_exact,
    )

    e = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id",
        F.transform(
            to_double(F.col("embedding")),
            lambda x: F.floor(x * 1000000).cast("long"),
        ).alias("v"),
    )
    cents = [(0, [0] * 64), (1, [100] * 64)]
    plan = formatted_plan(_kmeans_assign_exact(e, cents))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_q8_dimension_hops_broadcast(spark):
    """Q8's 8-relation tree: every dimension hop (part, supplier,
    customer-region semi, nation x2) broadcasts; only lineitem⋈orders may
    shuffle. 5+ BroadcastHashJoins, at most one shuffle join."""
    import re

    df = registry.QUERIES["q8_market_share"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 5, plan
    shuffle_joins = len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan))
    assert shuffle_joins <= 1, plan


def test_q9_composite_key_join_and_broadcast_dims(spark):
    """Q9 joins lineitem to the derived partsupp on the COMPOSITE
    (partkey, suppkey) key; part/supplier/nation stay broadcast."""
    df = registry.QUERIES["q9_product_profit"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q16_exclusion_is_broadcast_anti(spark):
    """The NOT IN supplier exclusion must compile to a broadcast LEFT
    ANTI join, never a shuffled NOT-IN subquery plan."""
    df = registry.QUERIES["q16_supplier_part_counts"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q20_decorrelated_semi(spark):
    """Q20's correlated availqty subquery decorrelates to agg + join; the
    final supplier membership check stays a LEFT SEMI."""
    df = registry.QUERIES["q20_excess_availability"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan


def test_global_row_number_avoids_single_reducer_window(spark):
    """The two-pass global numbering must contain NO Window node — the
    whole point is replacing the one-partition Window sort with a range
    exchange + map-side indexing. (The oracle IS the Window form.)"""
    df = registry.QUERIES["global_row_number_two_pass"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan


def test_ewma_lags_compile_to_single_window_node(spark):
    """All 8 EWMA lag columns share one WindowSpec — they must land in a
    single Window node (the other two are the n_events count and the
    desc-ordered last-row picker), not eight; and the whole query is
    served by ONE exchange on user_id."""
    df = registry.QUERIES["events_ewma_dyadic"](spark, SF_SMALL)
    assert node_count(df, "Window") <= 3, formatted_plan(df)
    assert node_count(df, "Exchange") <= 1, formatted_plan(df)


def test_running_distinct_single_exchange(spark):
    """Both windows + the final agg of the running-distinct trick hash on
    user_id — Catalyst must reuse one exchange, not stack three."""
    df = registry.QUERIES["window_count_distinct_running"](spark, SF_SMALL)
    assert node_count(df, "Exchange") <= 1, formatted_plan(df)


def test_mode_is_two_aggs_no_window(spark):
    """Deterministic mode is max_by over counts: two hash aggregates with
    map-side partials, zero Window/sort nodes."""
    df = registry.QUERIES["agg_mode_deterministic"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_corr_moments_partial_aggregation(spark):
    """The five exact moments must aggregate map-side (partial+final
    HashAggregate pair) — the property that makes exact corr a
    5-numbers-per-group shuffle at 100 TB."""
    df = registry.QUERIES["stat_corr_moments"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert "Window" not in plan, plan


def test_islands_single_exchange_for_both_windows(spark):
    """Interval-islands runs two windows + two aggs all keyed on
    o_custkey: one exchange must serve the chain."""
    df = registry.QUERIES["orders_interval_islands"](spark, SF_SMALL)
    assert node_count(df, "Exchange") <= 1, formatted_plan(df)


def test_cms_probe_join_is_broadcast(spark):
    """The 1024-cell CMS table must broadcast to the probe side — the
    sketch is cluster-constant state, never a shuffle partner."""
    df = registry.QUERIES["sketch_cms_heavy_hitters"](spark, SF_SMALL)
    assert_broadcast_join(df)


def test_quantile_sketch_readout_stays_metadata_scale(spark):
    """The quantile walk runs over the ~40-row histogram; the only
    full-data operators are the bucket aggregate and the below-estimate
    count — both partial+final HashAggregates, no global Sort of data."""
    df = registry.QUERIES["sketch_quantile_mergeable"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "HashAggregate" in plan, plan
    assert node_count(df, "TakeOrderedAndProject") == 0, plan


def test_rolling_median_single_exchange_bounded_frame(spark):
    """The rolling-median frame array must stay inside one user_id
    exchange; no second shuffle, no partition-wide collect."""
    df = registry.QUERIES["window_rolling_median"](spark, SF_SMALL)
    assert node_count(df, "Exchange") <= 1, formatted_plan(df)


def test_embedding_dim_stats_generate_is_mapside(spark):
    """posexplode compiles to Generate BEFORE the aggregate's exchange —
    the long form never shuffles row-per-element unaggregated."""
    df = registry.QUERIES["embedding_dim_stats"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Generate" in plan, plan
    assert node_count(df, "HashAggregate") >= 2, plan  # partial + final


def test_join_hints_are_honored(spark):
    """Engine surface: explicit join-strategy hints override the
    planner's default choice — SHUFFLE_HASH forces a ShuffledHashJoin
    where sort-merge/broadcast would win, MERGE forces SortMergeJoin."""
    from etl_cotrip_signs_spark.io import load_table

    o = load_table(spark, SF_SMALL, "orders")
    c = load_table(spark, SF_SMALL, "customer")
    hinted_hash = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert node_count(hinted_hash, "ShuffledHashJoin") == 1, formatted_plan(
        hinted_hash
    )
    hinted_merge = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert node_count(hinted_merge, "SortMergeJoin") == 1, formatted_plan(
        hinted_merge
    )


def test_seasonal_decompose_single_window(spark):
    """The centered-MA count and sum must share ONE WindowSpec -> one
    Window node, one exchange on event_type (the daily rollup's)."""
    from etl_cotrip_signs_spark.plans.explain import node_count

    df = registry.QUERIES["events_seasonal_decompose"](spark, SF_SMALL)
    assert node_count(df, "Window") == 1


def test_space_filling_codes_stay_in_codegen(spark):
    """Morton AND Hilbert codes are pure integer expressions — the whole
    computation (scan -> interleave/quadrant-walk -> rollup partial agg)
    must stay inside whole-stage codegen with zero joins and one exchange
    (the 64-cell rollup's)."""
    for q in ("layout_zorder_codes", "layout_hilbert_codes"):
        df = registry.QUERIES[q](spark, SF_SMALL)
        plan = formatted_plan(df)
        assert_wholestage_codegen(df)
        assert "Join" not in plan, plan
        assert plan.count("Exchange") <= 2, plan  # partial+final agg only


def test_ppjoin_verify_is_broadcast_no_cartesian(spark):
    """The PPJoin verify stage joins candidates against the per-doc
    shingle-array table via BROADCAST joins; nothing in the plan may be a
    cartesian/BNLJ (the whole point is never going all-pairs)."""
    df = registry.QUERIES["dedup_ppjoin_prefix"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_entity_match_blocking_is_broadcast(spark):
    """The phonetic-block self-join runs over the DISTINCT name
    vocabulary with the build side broadcast — no shuffle join on the
    block key, no cartesian."""
    df = registry.QUERIES["entity_match_phonetic_block"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_point_in_time_is_single_aggregate_no_join(spark):
    """Every feature and the label are conditional aggregates of ONE
    groupBy over the fact scan — the plan must contain no Join node and
    exactly the partial+final aggregate pair."""
    df = registry.QUERIES["feature_point_in_time"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_asof_directions_single_shuffle_aggregate(spark):
    """All three as-of semantics come from conditional min/max over one
    equi-join — exactly one join node, no Window."""
    df = registry.QUERIES["join_asof_directions"](spark, SF_SMALL)
    plan = formatted_plan(df)
    n_joins = (
        node_count(df, "BroadcastHashJoin")
        + node_count(df, "SortMergeJoin")
        + node_count(df, "ShuffledHashJoin")
    )
    assert n_joins == 1, plan
    assert "Window" not in plan, plan


def test_hll_register_build_is_partial_final_aggregate(spark):
    """The HLL build's only data-sized work is the (grp, bucket) register
    aggregate — partial+final (map-side combine), no Window, and the
    merge/grid stages join only register-table-sized inputs (the grid side
    is broadcast)."""
    df = registry.QUERIES["sketch_hll_exact_registers"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert "Window" not in plan, plan


def test_bloom_probe_is_broadcast(spark):
    """The probe side never shuffles against the filter: the <= m-row bit
    set is broadcast (1 KB at any key count)."""
    df = registry.QUERIES["sketch_bloom_membership"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_stump_histogram_is_combinable_no_data_window(spark):
    """The stump's data-sized work is ONE map-side-combinable histogram
    aggregate; the prefix-sum window runs over the fixed-width bucket
    table only (downstream of the aggregate, never over base rows)."""
    df = registry.QUERIES["ml_decision_stump_gini"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    # TakeOrderedAndProject (limit 1 after orderBy), never a global Sort.
    assert "TakeOrderedAndProject" in plan, plan


def test_iblt_build_is_combinable_aggregate(spark):
    """Each replica's cell build is a partial+final aggregate (count +
    two bit_xor's are all combinable); no Window, no cartesian product
    anywhere in the decode."""
    df = registry.QUERIES["sketch_iblt_diff"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_jaccard_link_prediction_degree_joins_broadcast(spark):
    """Both endpoint degree lookups are broadcast — the wedge join is the
    only data-sized shuffle."""
    df = registry.QUERIES["graph_link_prediction_jaccard"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_not_in_is_null_aware_anti_join(spark):
    """NOT IN over a broadcastable set must plan as the single-column
    null-aware anti join (BroadcastHashJoin ... LeftAnti, BuildRight,
    isNullAware=true) — NOT a BroadcastNestedLoopJoin, which is the
    fallback cross-product shape and the 100 TB scale-killer."""
    df = registry.QUERIES["join_null_aware_anti"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight, true" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bm25_topk_is_take_ordered(spark):
    """The BM25 top-k must plan as TakeOrderedAndProject (per-partition
    bounded heaps) with the rank window running over the k survivors —
    never a single-partition sort of every scored document."""
    df = registry.QUERIES["text_bm25_topk"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_bloom_pruned_probe_filters_in_scan_stage(spark):
    """The bloom probe must evaluate as a map-side Filter over the
    lineitem scan (literal bitmap inside codegen): no Exchange, no join,
    and no subquery may sit between the FileScan and the bloom Filter."""
    df = registry.QUERIES["join_bloom_pruned"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the probe side reads lineitem; its bloom test is an xxhash64-based
    # Filter, not a join against a bit table
    assert "xxhash64" in plan, plan
    li_scans = [
        seg for seg in plan.split("FileScan parquet") if "l_orderkey" in seg
    ]
    assert li_scans, plan
    # the probe scan feeds a Filter without an intervening Exchange: the
    # filter expression names element_at over the literal bitmap
    assert "element_at" in plan, plan


def test_pmi_topk_is_take_ordered_with_broadcast_vocab(spark):
    """PMI top-k must plan as TakeOrderedAndProject, and the frequent-
    vocabulary df joins must broadcast (the vocab is the reduction; the
    corpus-side pair table must not shuffle to meet it)."""
    df = registry.QUERIES["text_pmi_cooccurrence"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_count_vectorizer_vocab_broadcasts(spark):
    """Vectorization must be a map-side join against the broadcast
    vocabulary — the (doc, token) occurrence table never shuffles on the
    token key to meet the vocab."""
    df = registry.QUERIES["feature_count_vectorizer_df"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_audio_frames_have_no_window_exchange(spark):
    """Zero-crossing detection recomputes the predecessor sample inline
    (a hash-decoded sample is a pure function of (asset, index)), so the
    plan must contain NO Window operator — one explode feeding one
    combinable aggregate."""
    df = registry.QUERIES["multimodal_audio_frames"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_decay_sum_has_no_window(spark):
    """The exponential-decay engagement score uses the offset-explode
    form: no Window operator; the lag weights ride in as a broadcast
    14-row dim."""
    df = registry.QUERIES["window_exponential_decay_sum"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
