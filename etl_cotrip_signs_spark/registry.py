"""Query + oracle registry.

Every implemented operator registers a named query callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, the equivalent
ANSI SQL a DuckDB oracle can run on the same parquet tables. The driver
contract (``__spark_entry__.py``) is a thin re-export of these dicts.

Column-name discipline: the driver's compare sorts columns by name before
hashing, so the Spark DataFrame and the oracle SQL must produce identical
column names — every computed column is aliased on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import ensure_confs

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# The driver contract runs Spark query + oracle side-by-side at sf0.01
# (task brief); oracles that must read query-staged scratch files are
# registered as templates with {SCRATCH:tag} placeholders and pre-rendered
# into ORACLES for this sf_dir. Local runners (pytest parity, rehearsal)
# re-render via oracle_for() so the same template works at sf0.001.
DRIVER_SF = "/root/testdata/sf0.01"
ORACLE_TEMPLATES: dict[str, str] = {}


def render_oracle(sql: str, sf_dir: str) -> str:
    """Render {SCRATCH:tag} placeholders to the deterministic per-(sf, tag)
    scratch path (session.scratch_dir) — the exact directory the Spark query
    stages its files in for that sf_dir."""
    if "{SCRATCH:" not in sql:
        return sql
    import re

    from .session import scratch_dir

    return re.sub(
        r"\{SCRATCH:([A-Za-z0-9_]+)\}",
        lambda m: scratch_dir(m.group(1), sf_dir),
        sql,
    )


def oracle_for(name: str, sf_dir: str) -> str:
    """Oracle SQL rendered for a specific sf_dir. Tests and the rehearsal
    sweep use this; the driver reads ORACLES, already rendered for its
    contractual DRIVER_SF."""
    return render_oracle(ORACLE_TEMPLATES.get(name, ORACLES[name]), sf_dir)


class DriverUnsafeSchemaError(TypeError):
    """A registered query produced a column the driver cannot canonicalize."""


def assert_driver_safe_schema(schema: T.StructType, name: str) -> None:
    """The driver canonicalizes EVERY query's output with pandas
    ``sort_values`` — array/map/struct cells raise ``unhashable type`` there
    (observed in round 1: ``agg_approx_distinct``/``agg_collect_first_last``).
    Enforce flat scalar columns for all registered queries, oracle or not.
    """
    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    if bad:
        raise DriverUnsafeSchemaError(
            f"query {name!r} returns non-scalar column(s) {bad}; serialize "
            "with array_join/to_json — the driver canonicalizer hashes flat "
            "columns only"
        )


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query (and optionally its DuckDB oracle SQL).

    The registered callable is the engine's session boundary: it applies
    the required confs (:func:`session.ensure_confs`) to whatever session it
    is handed, because the external driver builds its own. It also validates
    its output schema on every call, so a non-driver-safe shape fails loudly
    in pytest/bench long before the driver's canonicalizer sees it.
    """

    def deco(fn: QueryFn) -> QueryFn:
        assert name not in QUERIES, f"duplicate query name {name!r}"

        @functools.wraps(fn)
        def checked(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_confs(spark)
            df = fn(spark, sf_dir)
            assert_driver_safe_schema(df.schema, name)
            return df

        QUERIES[name] = checked
        if oracle is not None:
            if "{SCRATCH:" in oracle:
                ORACLE_TEMPLATES[name] = oracle
                ORACLES[name] = render_oracle(oracle, DRIVER_SF)
            else:
                ORACLES[name] = oracle
        return fn

    return deco


# Breadth-first driver ordering. Round 1's driver recorded CORRECTNESS rows
# for exactly the first 50 registered queries (cut mid-module), so the
# iteration order of ``queries()`` decides which operators get hard driver
# evidence. The first ~50 names cover every SURVEY §2 inventory area at
# least once (relational core, scalars, signs pipeline, dedup, similarity,
# text, multimodal, training, streaming); per-area variants follow after.
#
# ROTATION (round 3, VERDICT r2 task 5): ten proven-stable slots (green in
# r1+r2) swapped for never-driver-checked queries so hard evidence
# accumulates across rounds; each area keeps at least one green-historied
# representative in the first 50 (string_funcs_part for scalars,
# window_rank_customers for windows, setops_all_variants for set ops,
# partitioned_sink_roundtrip for IO, the join family keeps five forms).
# ROTATION (round 5, VERDICT r4 task 2): fourteen proven-green slots swapped
# for never-driver-checked queries — the twelve the verdict named plus the
# two freshly-oracled graduations (graph_kcore, file_manifest_stats) so they
# earn hard driver rows immediately. Area reps kept: signs_rest_pipeline
# (signs), q1 (agg), string_funcs_part (scalars), partitioned_sink_roundtrip
# (IO), text_quality_score (text), multimodal_metadata, knn_lsh_ann
# (similarity), pipeline_training_corpus + select_token_budget (training),
# stream_tumbling_events + stream_foreach_batch_upsert (streaming).
DRIVER_ORDER: list[str] = [
    # ROTATION (round 10, VERDICT r9 task 1): 36 slots rotate to
    # first-timers — all 25 round-9 wave-46..51 operators (none had driver
    # history; three carry this round's r9-ADVICE fixes straight into
    # slots: text_chunk_boilerplate's short-doc guard, stream_cms_sketch's
    # interpolated-constant oracle, agg stays via the error-bounds rep) and
    # 11 never-driver-checked long-tail queries spanning uncovered areas
    # (signs Part A sink + observability, dynamic partition overwrite,
    # Benford DQ, BPE token count, LOO target encoding, weighted SSSP,
    # streaming incremental dedup, Arrow grouped UDF, isotonic PAVA,
    # dynamic-schema UDTF). The same 14 area/perf reps keep green history
    # and the STATUS perf targets under driver watch.
    # ROTATION (round 9, VERDICT r8 task 1): 36 slots rotate to
    # first-timers — all 16 round-8 wave-41..45 operators (none had driver
    # history; several carry this round's r8-ADVICE fixes straight into
    # slots, e.g. sketch_hll_precision_sweep's distinct-hash fix), the
    # round-9 graduation agg_approx_error_bounds (first hash-checked round
    # ever — decision-hash oracle), and 19 never-driver-checked long-tail
    # queries spanning uncovered areas (TPC-H x4, Spark-4 surface x2,
    # graph + ML iterative x2, privacy, entity resolution, as-of joins,
    # robust stats x2, geo, pareto, IVM, markov, text, DQ). The same 14
    # area/perf reps keep green history and the STATUS perf targets under
    # driver watch.
    # ROTATION (round 8, VERDICT r7 task 1): 36 slots rotate to
    # first-timers — all 13 round-7 operators (the 12 wave-38/39 queries
    # plus the graduated stream_stream_left_join; several carry r7-ADVICE
    # fixes that land straight in slots), the round-8 graduation
    # dedup_minhash_recall (first hash-checked round ever), and 22
    # never-driver-checked long-tail queries spanning uncovered areas
    # (signs A7/A8, TPC-H x4, streaming x2, text x2, graph x2, events x2,
    # IO x2, stats x2, layout, multimodal, training x2). The same 14
    # area/perf reps keep green history and the STATUS perf targets under
    # driver watch.
    # ROTATION (round 7, VERDICT r6 task 1): the driver reads exactly the
    # first 50 names, so this block IS the round's driver-evidence plan.
    # 36 slots rotate to first-timers: all 24 round-6 operators (none had
    # driver history; the five ADVICE-r6 fixes land straight in slots) plus
    # 12 never-driver-checked long-tail queries spanning uncovered areas
    # (signs config matrix, skew join, window distributions, TWAP, TVD,
    # quantile sketch, geo join, TPC-H q10, int8 quantization, containment
    # dedup, Merkle audit, streaming UPDATE mode). 14 area/perf reps keep
    # green history and the STATUS perf targets under driver watch.
    "q1_pricing_summary",             # area rep: TPC-H agg (green r1-r6)
    "signs_rest_pipeline",            # area rep: reference Part A pipeline (green r2-r6)
    "filter_predicate_family",        # area rep: filters/predicates (green r1-r6)
    "string_funcs_part",              # area rep: scalar functions (green r1-r6)
    "setops_all_variants",            # area rep: set operations (green r1-r6)
    "partitioned_sink_roundtrip",     # area rep: IO sinks (green r2-r6)
    "text_quality_score",             # area rep: text analysis (green r2-r6)
    "multimodal_metadata",            # area rep: multimodal (green r2-r6)
    "pipeline_training_corpus",       # area rep: training pipeline (green r3-r6)
    "select_token_budget",            # area rep: selection/budget (green r4-r6)
    "dedup_ngram_jaccard",            # perf-watch rep: STATUS target (green r2-r6)
    "dedup_components_ngram",         # perf-watch rep: STATUS target (green r2-r6)
    "knn_lsh_ann",                    # perf-watch rep: STATUS target (rows-only by nature)
    "stream_tumbling_events",         # perf-watch rep: streaming (green r2-r6)
    # ROTATION (round 11, VERDICT r10 task 1): 36 slots rotate to the
    # round-10/11 OPTIMIZATION-TOUCHED queries (every operator whose plan
    # changed in the two optimization rounds gets an at-HEAD driver row —
    # graph_kcore first, closing the r10 evidence gap), the five wave-57/58
    # operators registered after the r10 rotation, and five wave-52..55
    # never-driver-checked stats. The same 14 area/perf reps keep green
    # history above.
    "graph_kcore",  # r11 in, r10-touched: nested k-core ladder (VERDICT r10 item 1 — the weak component, first at-HEAD driver row)
    "graph_sssp_weighted",  # r11 keep: r10 convergence-detector rework under continued watch
    "graph_densest_subgraph_peel",  # r11 keep: r10 folded peel-loop aggregate under continued watch
    "sketch_cms_heavy_hitters",  # r11 in, r10-touched: checkpointed keyed + one-posexplode probes
    "recsys_item_item_cosine",  # r11 in, r10+r11-touched: checkpoints + explode pair mirror
    "sketch_kmv_distinct",  # r11 in, r10-touched: checkpointed ev
    "sketch_iblt_diff",  # r11 in, r10-touched: one-scan membership-flag build
    "text_rake_keywords",  # r11 in, r10-touched: window phrase length
    "text_pmi_cooccurrence",  # r11 keep: r10 n_docs shortcut + keep checkpoint under continued watch
    "dedup_minhash_band_tuning",  # r11 in, r10+r11-touched: bitmask rework + scored-checkpoint drop
    "dedup_minhash_docs",  # r11 in, r11-touched: bands checkpoint + size-gated broadcast hint
    "dedup_ppjoin_prefix",  # r11 in, r11-touched: prefix checkpoint + size-gated broadcast hint
    "dedup_minhash_recall",  # r11 in, composes the r11-touched minhash candidate chain
    "graph_random_walk_xxh",  # r11 in, r11-touched: fused 4-join walk chain
    "stat_bootstrap_ci",  # r11 in, r11-touched: one-scan replicate chain
    "events_changepoint_argmax",  # r11 in, r11-touched: full-frame-window totals
    "join_bloom_pruned",  # r11 in, r11-touched: one-parse bitmap literal
    "dedup_survivors_quality",  # r11 in, consumes the r11 one-aggregate CC rounds
    "split_group_preserving",  # r11 in, consumes the r11 one-aggregate CC rounds
    "entity_resolution_names",  # r11 in, consumes the r11 one-aggregate CC rounds (string labels)
    "kmeans_maximin_init",  # r11 in, r11-touched: one-parse codebook literals
    "kmeans_lloyd_exact",  # r11 in, r11-touched: one-parse codebook literals
    "kmeans_lloyd_embeddings",  # r11 in, r11-touched: one-parse codebook literals (decision-hash oracle)
    "knn_pq_recall",  # r11 in, r11-touched: one-parse PQ codebook literals
    "knn_opq_recall",  # r11 in, r11-touched: one-parse OPQ codebook literals
    "knn_ivfpq_recall",  # r11 in, r11-touched: one-parse IVF-PQ codebook literals
    "layout_bloomfilter_pruning",  # r11 in, r10 wave 57: never driver-checked
    "trend_motif_daily",  # r11 in, r10 wave 57: never driver-checked
    "stat_page_trend",  # r11 in, r10 wave 57: never driver-checked
    "events_fano_factor",  # r11 in, r10 wave 58: never driver-checked
    "text_term_burstiness",  # r11 in, r10 wave 58: never driver-checked
    "stat_cramers_v",  # r11 in, r10 wave 52: never driver-checked
    "stat_mutual_information",  # r11 in, r10 wave 53: never driver-checked
    "trend_pacf_daily",  # r11 in, r10 wave 54: never driver-checked
    "layout_zonemap_pruning",  # r11 in, r10 wave 55: never driver-checked
    "stat_fisher_exact",  # r11 in, r10 wave 55: never driver-checked
    # -- r11 rotation out (the r10-slot greens not re-staged; all pass r10) --
    "sketch_cms_width_sweep",
    "privacy_randomized_response",
    "stat_grubbs_outlier",
    "sample_balanced_class",
    "text_chunk_boilerplate",
    "trend_seasonal_mann_kendall",
    "dq_schema_drift_report",
    "multimodal_audio_frames",
    "multimodal_image_tiles_pool",
    "feature_count_vectorizer_df",
    "events_entropy_rate_markov",
    "sketch_ams_f2",
    "stat_kendall_tau_b",
    "stat_theil_u",
    "window_exponential_decay_sum",
    "stream_cms_sketch",
    "stat_mcnemar_test",
    "stat_runs_test",
    "text_hapax_ratio",
    "agg_median_of_means",
    "graph_modularity_score",
    "stat_cohens_kappa",
    "orders_hill_tail_index",
    "signs_http_sink_roundtrip",
    "signs_pipeline_observed_counts",
    "partition_overwrite_dynamic",
    "dq_benford_digits",
    "text_bpe_token_count",
    "feature_target_encoding_loo",
    "stream_incremental_dedup",
    "arrow_grouped_norm_ppm",
    "isotonic_regression_daily",
    "udtf_analyze_dynamic_schema",
    # -- r10 rotation out (the 36 r9-slot greens; all pass r9) --
    "stat_benjamini_hochberg",    # r9 in, r8 wave 41: BH step-up FDR
    "text_bm25_topk",             # r9 in, r8 wave 41: Okapi BM25 retrieval
    "events_hurst_rs",            # r9 in, r8 wave 41: rescaled-range Hurst
    "sample_stratified_neyman",   # r9 in, r8 wave 41: Neyman allocation
    "table_vacuum_plan",          # r9 in, r8 wave 41: VACUUM retention dry run
    "stat_cochran_q",             # r9 in, r8 wave 42: Cochran's Q
    "text_zipf_fit",              # r9 in, r8 wave 42: Zipf log-log slope
    "trend_mann_kendall",         # r9 in, r8 wave 43: MK trend test
    "sketch_hll_precision_sweep", # r9 in, r8 wave 43: HLL error curve + the r8-ADVICE distinct-hash fix
    "text_bigram_perplexity",     # r9 in, r8 wave 43: bigram LM perplexity
    "dq_outlier_iqr_fences",      # r9 in, r8 wave 43: Tukey IQR fences
    "graph_k_truss",              # r9 in, r8 wave 44: 4-truss peel
    "privacy_dp_exponential",     # r9 in, r8 wave 44: DP exponential mechanism
    "multimodal_tar_offsets",     # r9 in, r8 wave 45: USTAR offset index
    "feature_kfold_assignment",   # r9 in, r8 wave 45: hash k-fold carve
    "agg_approx_error_bounds",    # r9 in, r9 graduation: sketch-bound decision hash (rows-only -> oracle)
    "q11_important_stock",        # r9 in, long tail: TPC-H value-threshold HAVING
    "q12_priority_by_flag",       # r9 in, long tail: TPC-H shipmode buckets
    "q15_top_supplier",           # r9 in, long tail: TPC-H view-max join
    "q22_dormant_accounts",       # r9 in, long tail: TPC-H anti-join + avg subquery
    "xml_scan_roundtrip",         # r9 in, long tail: Spark 4 native XML source
    "sql_udf_money_pipeline",     # r9 in, long tail: SQL-defined functions
    "graph_pagerank_exact",       # r9 in, long tail: integer power iteration
    "privacy_k_anonymity",        # r9 in, long tail: k-anon/l-diversity gate
    "entity_blocking_soundex",    # r9 in, long tail: phonetic blocking
    "join_asof_directions",       # r9 in, long tail: as-of join family
    "weighted_median_lineitem",   # r9 in, long tail: weight-mass median
    "trend_theil_sen",            # r9 in, long tail: robust median slope
    "geo_cell_density",           # r9 in, long tail: heatmap tile binning
    "skyline_price_size",         # r9 in, long tail: 2D Pareto frontier
    "ivm_agg_delta",              # r9 in, long tail: incremental view maintenance
    "events_markov_stationary",   # r9 in, long tail: stationary distribution
    "dq_constraint_report",       # r9 in, long tail: declarative DQ gate
    # -- r9 rotation out (the 36 r8-slot greens; all pass r8) --
    "sample_reservoir_hash",
    "embedding_jl_projection",
    "stat_levene_bf",
    "ml_naive_bayes_events",
    "privacy_dp_laplace_counts",
    "table_clone_shallow",
    "events_acf_multi_lag",
    "agg_listagg_ordered",
    "stat_friedman_test",
    "multimodal_shard_pack",
    "stream_stream_left_join",
    "signs_capabilities_matrix",
    "signs_config_validation",
    "q4_order_priority",
    "q14_promo_revenue",
    "q17_small_quantity_revenue",
    "q19_disjunctive_predicates",
    "stream_dedup_watermark",
    "stream_stateful_user_totals",
    "text_lang_id",
    "text_wordcount_topk",
    "graph_triangle_count_degree",
    "graph_hits_exact",
    "events_funnel_conversion",
    "events_retention_cohort",
    "jsonl_scan_roundtrip",
    "parquet_codec_roundtrip",
    "stats_welch_ttest",
    "stat_spearman_rank",
    "layout_hilbert_codes",
    "multimodal_patch_grid",
    "pack_sequences",
    "cdc_merge_upsert",
    # -- r8 rotation out (the 36 r7-slot greens; all pass r7) --
    "table_time_travel",              # r7 in, r6 wave: manifest snapshot reads + the r6-ADVICE oracle fix
    "deletion_vector_read",           # r7 in, r6 wave: positional DV suppression
    "partition_evolution_read",       # r7 in, r6 wave: mixed-spec partition read
    "layout_packing_plan",            # r7 in, r6 wave: compaction bin packing
    "layout_encoding_audit",          # r7 in, r6 wave: run-length physical audit
    "reshape_pivot_unpivot",          # r7 in, r6 wave: PIVOT/UNPIVOT round trip
    "keyset_pagination",              # r7 in, r6 wave: seek-method pagination
    "cogroup_asof_interp",            # r7 in, r6 wave: cogroup kernel + the r6-ADVICE Int64 gap fix
    "ml_knn_classifier_exact",        # r7 in, r6 wave: exact-cosine k-NN vote
    "sql_identifier_parameterized",   # r7 in, r6 wave: IDENTIFIER() parameterized SQL
    "mix_temperature_sampling",       # r7 in, r6 wave: temperature corpus mixing
    "graph_degree_assortativity",     # r7 in, r6 wave: Newman assortativity
    "window_topk_with_ties",          # r7 in, r6 wave: rank-based WITH TIES
    "text_langid_confusion",          # r7 in, r6 wave: classifier confusion matrix
    "events_type_entropy",            # r7 in, r6 wave: entropy/perplexity
    "drift_wasserstein_exact",        # r7 in, r6 wave: exact W1 drift
    "feature_woe_iv",                 # r7 in, r6 wave: WOE/IV + the r6-ADVICE ln-guard fix
    "stream_scd2_history",            # r7 in, r6 wave: streaming SCD2 maintenance
    "stream_minhash_weekly",          # r7 in, r6 wave: streaming MinHash sketches
    "drift_jsd_events",               # r7 in, r6 wave: JSD drift + the r6-ADVICE ln-guard fix
    "embedding_prefix_recall",        # r7 in, r6 wave: Matryoshka prefix recall
    "rollup_share_of_parent",         # r7 in, r6 wave: ppm hierarchy shares + the r6-ADVICE DECIMAL widening
    "signs_allowlist_matrix",         # r7 in, long tail: Part A config allow-list (A4)
    "join_salted_skew",               # r7 in, long tail: salted skew join
    "window_distribution_funcs",      # r7 in, long tail: cume_dist/percent_rank family
    "events_twap",                    # r7 in, long tail: time-weighted average
    "drift_tvd_events",               # r7 in, long tail: exact TVD drift
    "sketch_quantile_mergeable",      # r7 in, long tail: log-bucket quantile sketch
    "geo_distance_join",              # r7 in, long tail: grid-cell spatial join
    "q10_returned_items",             # r7 in, long tail: TPC-H returned-items
    "embedding_quantize_int8",        # r7 in, long tail: int8 embedding quantization
    "dedup_containment_ngram",        # r7 in, long tail: asymmetric containment
    "table_merkle_summary",           # r7 in, long tail: anti-entropy Merkle tree
    "stream_update_mode_counts",      # r7 in, long tail: UPDATE output mode
    # -- r7 rotation out (the 36 r6-slot greens; all pass r6) --
    "agg_bitmap_retention",
    "stat_anova_oneway",
    "stat_mann_whitney_u",
    "stat_wilcoxon_signed_rank",
    "stat_kruskal_wallis",
    "events_haar_wavelet",
    "forecast_backtest_rolling",
    "forecast_conformal_coverage",
    "kth_statistic_iterative",
    "collation_case_insensitive",
    "ivm_join_delta",
    "range_join_banded",
    "bucketed_join_roundtrip",
    "q13_customer_distribution",
    "window_rolling_median",
    "graph_minimum_spanning_forest",
    "graph_sssp_frontier",
    "graph_lpa_communities",
    "graph_clustering_coefficient",
    "stream_sliding_events",
    "stream_static_join",
    "stream_observed_counts",
    "events_cep_click_purchase",
    "interval_allen_relations",
    "geo_point_in_polygon",
    "binaryfile_scan_roundtrip",
    "abc_class_migration",
    "pipeline_corpus_fate",
    "privacy_t_closeness",
    "feature_hashing_trick",
    "clean_impute_median",
    "sample_proportional_lrm",
    "events_ab_power_analysis",
    "text_pii_scrub",
    # ROTATION (round 6, VERDICT r5 task 3): 33 proven-green slots swapped
    # for never-driver-checked queries — the fifteen the verdict named plus
    # eighteen spanning the remaining uncovered areas (streaming x3, joins
    # x2, windows, selection, CEP, IO bucketing, text PII, stats x3,
    # forecast, clustering coefficient, imputation, apportionment, power
    # analysis, TPC-H q13). 17 area reps kept, including the three queries
    # whose expressions changed this round (stat_kruskal_wallis's nullif
    # guards, recsys_item_item_cosine's DECIMAL widening,
    # graph_random_walk_xxh's chained 2-long hash key) so the fixes earn
    # fresh driver evidence, and the perf-watch trio (dedup_ngram_jaccard,
    # dedup_components_ngram, knn_lsh_ann) + stream_tumbling_events whose
    # targets STATUS tracks.
    # -- r6 rotation out (all green r5) --
    "q16_supplier_part_counts",
    "q20_excess_availability",
    "text_bpe_apply",
    "drift_ks_exact",
    "sketch_hll_exact_registers",
    "hierarchy_closure_doubling",
    "q21_waiting_orders",
    "variant_json_extract",
    "join_null_aware_anti",
    "q9_product_profit",
    "fuzzy_join_del1",
    "window_topk_via_agg",
    "graph_bfs_hops",
    "orders_interval_islands",
    "stream_bitmap_distinct",
    "ml_decision_stump_gini",
    "global_row_number_two_pass",
    "sql_scripting_topk_bisect",
    "stream_pipeline_sessions",
    "sessionize_capped_sessions",
    "agg_bitmap_distinct_rollup",
    "dedup_substring_spans",
    "orders_survival_km",
    "udtf_table_arg_stats",
    "arrow_vector_norms",
    "cdc_merge_full",
    "file_manifest_stats",
    # -- r5 continuation-4 rotation out (all green r4) --
    "stat_corr_moments",
    "scd2_temporal_join",
    "events_ewma_dyadic",
    "stream_foreach_batch_upsert",
    "udaf_trimmed_mean",
    "sample_stratified",
    "table_diff_audit",
    "q8_market_share",
    # -- r5 rotation out (all green r4; several green r1-r4) --
    "q5_regional_revenue",
    "signs_pipeline_inline",
    "agg_stats_orders",
    "agg_collect_first_last",
    "join_asof_latest_order",
    "knn_lsh_recall",
    "stream_session_windows",
    "json_schema_roundtrip",
    "similarity_threshold_pairs",
    "dedup_embedding_cosine",
    "embedding_centroids",
    "split_train_test",
    "contamination_check",
    # -- per-area variants (driver coverage best-effort past the cap) --
    "agg_exact_percentile",          # r4b rotation out (green r3)
    "join_theta_price_band",         # r4b rotation out (green r1+r2+r3)
    "dedup_exact_docs",              # r4b rotation out (green r1+r2+r3)
    "knn_exact_cosine",              # r4b rotation out (green r1+r2+r3)
    "text_token_stats",              # r4b rotation out (green r1+r2+r3)
    # -- round-4b additions --
    "diag_key_skew",                 # r4b: key-skew pre-flight profile (oracle)
    "agg_histogram_orders",          # r4b: equi-width histogram (oracle)
    "layout_compaction",             # r4b: small-file compaction audit (rows)
    "events_transition_counts",      # r4b: Markov transition matrix (oracle)
    "basket_pair_counts",            # r4b: market-basket co-occurrence (oracle)
    "orders_rfm_segments",           # r4b: RFM quartile segmentation (oracle)
    "events_ab_test_lift",           # r4b: md5-arm A/B readout, exact ppm (oracle)
    "events_funnel_duration",        # r4b: time-to-convert percentiles (oracle)
    # -- round-4c additions (continuation session 3) --
    "events_cusum_drift",            # r4c: CUSUM via prefix-minus-running-min (oracle)
    "agg_mode_deterministic",        # r4c: tie-broken per-group mode (oracle)
    "window_count_distinct_running", # r4c: running COUNT(DISTINCT) trick (oracle)
    "agg_histogram_equidepth",       # r4c: CBO-style equi-depth bounds via ntile (oracle)
    "embedding_dim_stats",           # r4c: per-dimension vector stats, exact e6 ints (oracle)
    "trend_daily_revenue",           # r4c: least-squares slope from exact moments (oracle)
    "diag_join_size_estimate",       # r4c: frequency-vector join cardinality (oracle)
    "events_anomaly_mad",            # r4c: MAD robust outliers, lower-median identity (oracle)
    "events_attribution_last_touch", # r4c: 7-day lookback last-touch attribution (oracle)
    "winsorized_mean_events",        # r4c: clip-at-quantiles robust mean (oracle)
    "orders_revenue_concentration",  # r4c: 80pct coverage count + exact-moment Gini (oracle)
    "events_rolling_active_users",   # r4c: rolling 7d distinct actives via offset explode (oracle)
    "diag_join_strategy_advice",     # r4c: CBO pre-flight, stats + broadcast rule (oracle)
    "lineitem_abc_classification",   # r4c: ABC/Pareto classes, integer thresholds (oracle)
    "events_interarrival_stats",     # r4c: burstiness p50/p90 gaps via shared quantile helper (oracle)
    "orders_backlog_sweep",          # r4c: sweep-line concurrent-interval count (oracle)
    "events_seasonality_profile",    # r4c: arithmetic-dow seasonality grid, ppm shares (oracle)
    "orders_cohort_ltv",             # r4c: cohort LTV curve, linearized months (oracle)
    "text_vocab_growth",             # r4c: Heaps-law vocab growth via first-seen buckets (oracle)
    "dedup_similarity_histogram",    # r4c: one-pass jaccard-decile threshold sweep (oracle)
    "basket_rules_lift",             # r4c: association confidence/lift, exact ppm (oracle)
    "nation_revenue_yoy",            # r4c: YoY growth ppm; integer-div sign semantics measured (oracle)
    "agg_grouping_sets",             # r4c rotation out (green r1+r2+r3)
    "join_outer_customers_orders",   # r4c rotation out (green r1+r2+r3)
    "sessionize_events_batch",       # r4c rotation out (green r2+r3)
    "sort_topk_orders",              # r4c rotation out (green r1+r2+r3)
    "q3_shipping_priority",          # r4 rotation out (green r3)
    "q6_forecast_revenue",           # r4 rotation out (green r3)
    "q7_volume_shipping",            # r4 rotation out (green r3)
    "q18_large_volume_customer",     # r4 rotation out (green r3)
    "agg_salted_skew",               # r4 rotation out (green r3)
    "orc_scan_roundtrip",            # r4 rotation out (green r3)
    "join_semi_customers",           # r4 rotation out (green r1+r2+r3)
    "join_anti_customers",           # r4 rotation out (green r1+r2+r3)
    "window_rank_customers",         # r4 rotation out (green r1+r2+r3)
    "subquery_max_acctbal",          # r4 rotation out (green r1+r2+r3)
    "join_full_outer_nations",       # r3 rotation out (green r1+r2)
    "window_lag_delta",              # r3 rotation out (green r1+r2)
    "window_range_frame",            # r3 rotation out (green r1+r2)
    "distinct_order_status",         # r3 rotation out (green r1+r2)
    "csv_scan_roundtrip",            # r3 rotation out (green r1+r2)
    "case_bucket_orders",            # r3 rotation out (green r1+r2)
    "date_funcs_orders",             # r3 rotation out (green r1+r2)
    "math_funcs_lineitem",           # r3 rotation out (green r1+r2)
    "array_funcs_embeddings",        # r3 rotation out (green r1+r2)
    "map_funcs_events",              # r3 rotation out (green r1+r2)
    "dedup_simhash_docs",
    "knn_ivf_ann",
    "knn_ivf_recall",
    "signs_rest_stream_pipeline",
    "text_tfidf_top_term",
    "similarity_threshold_pairs_lsh",
    "dedup_embedding_cosine_lsh",
    "window_topk_orders_per_cust",
    "window_running_revenue",
    # -- round-3 additions --
    "window_time_range_events",
    "mix_domain_weights",
    "upsample_fractional",
    "curriculum_buckets",
    "cross_partition_duplicate_audit",
    "sort_within_partitions_check",
    "bpe_merge_candidates",
    "events_resample_gapfill",
    "schema_evolution_roundtrip",
    "signs_datasource_writer_sink",
    "stream_rocksdb_state_agg",
    "graph_pagerank",
    # -- round-4 additions --
    "sample_weighted_reservoir",     # r4: exponential-keys weighted sample (oracle)
    "knn_pq_adc",                    # r4: product-quantization ANN (rows)
    "embedding_pca_top_components",  # r4: Gram-partial PCA (rows, numpy-pinned)
    "layout_zorder_locality",        # r4: z-curve layout, files-touched demo (rows)
    "knn_ivfpq_ann",                 # r4: composed IVF + residual-PQ index (rows)
    "pipeline_training_corpus_v2",   # r4: substring-gate + weighted-sample pipeline (oracle)
    "knn_opq_adc",                   # r4: eigenvalue-allocated rotated PQ (rows)
    "text_rare_bigram_score",
    "text_vocab_stats",
    "knn_ivf_recall_curve",
    "signs_udtf_pipeline",
    "agg_rollup_priority",
    "agg_cube_flags",
    "agg_stat_moments",
    "agg_hll_mergeable",
    "profile_columns",
    "setops_customer_keys",
    "dedup_keep_first_per_group",
    "pivot_returnflag",
    "unpivot_lineitem_measures",
    "lateral_top_orders",
    "date_arithmetic_lineitem",
    "json_events_extract",
    "text_fingerprint_md5",
    "text_edit_distance_pairs",
    "text_bigrams_topk",
    "text_fingerprint_rolling",
    "text_repetition_score",
    "shuffle_deterministic",
    "pack_sequences_greedy",
    "multimodal_decode_stub",
    "multimodal_frame_sample",
    "signs_explode_only",
    "date_tz_convert",
    "dedup_minhash_mllib",
    "knn_brp_lsh_mllib",
    "stream_partitioned_file_sink",
    "stream_stream_join",
    "stream_transform_with_state",
    # -- round-5 additions --
    "graph_link_prediction_ra",      # r5: resource-allocation link prediction (oracle)
    "events_autocorr_lag1",          # r5: exact-moment lag-1 autocorrelation (oracle)
    "events_seasonal_decompose",     # r5: classical decomposition, exact integers (oracle)
    "layout_zorder_codes",           # r5: morton bit math, hash-verified (oracle)
    "agg_approx_distinct",           # r5 late rotation out of slot 6 for text_bpe_apply
    "entity_match_phonetic_block",   # r5: block->compare->classify linkage (oracle)
    "events_chi2_independence",      # r5: chi-square contingency, exact fractions (oracle)
    "feature_quantile_normalize_map",  # r5: quantile-normalization mapping table (oracle)
    "split_time_purged",             # r5: purged K-fold time-series CV split (oracle)
    "orders_holt_linear",            # r5: Holt smoothing, recursive-CTE oracle (oracle)
    "feature_point_in_time",         # r5: leakage-free training snapshot + label (oracle)
    "agg_aqp_sampled_groupby",       # r5: deterministic-sample AQP estimate + exact error (oracle)
    "events_attribution_position",   # r5: U-shaped multi-touch, exact ppm books (oracle)
    "join_broadcast_brand_revenue",  # r5 late rotation out of the first 50 (green r1-r4)
    "graph_triangle_count",          # r5 late rotation out of the first 50 (green r4)
    "events_anomaly_iqr",            # r5 late rotation out of the first 50 (green r4)
    # --- round-5 continuation-2 waves (oracle unless noted) ---
    "sketch_bloom_membership",       # r5c2: deterministic Bloom filter, FP set in-hash
    "graph_link_prediction_jaccard", # r5c2: neighborhood-Jaccard baseline
    "stream_datasource_writer_sink", # r5c2: streaming Python DataSource writer
    "orders_lttb_downsample",        # r5c2: LTTB dashboard downsampling
    "scalars_try_arithmetic",        # r5c2: ANSI try_* error-path pins
    "graph_components_hashmin_jump", # r5c2: O(log n) pointer-jumping CC
    "agg_grouping_id_levels",        # r5c2: GROUPING bitmask surface
    "ps_api_groupby_twin",           # r5c2: pandas API on Spark, SQL-twin hash
    "events_rollup_two_level",       # r5c2 rotation out of the first 50 (green r4)
    "q2_min_cost_supplier",          # r5c2 rotation out of the first 50 (green r4)
    "cdc_scd2_history",              # r5c2 rotation out of the first 50 (green r4)
    # -- round-5 continuation-3 additions --
    "schema_evolution_merge",        # r5c3: mergeSchema evolution twin
    "events_retention_matrix",       # r5c3: cohort-week retention triangle
    "trend_ols_two_features",        # r5c3: 2-feature OLS, Cramer exact
    "stat_signflip_permutation",     # r5c3: xxh64-replayed permutation test
    "events_cross_correlation",      # r5c3: lagged daily cross-correlation
    # -- round-5 continuation-4 additions (first-50 rotations above:
    # stat_kruskal_wallis, join_null_aware_anti, recsys_item_item_cosine,
    # stream_bitmap_distinct, sql_scripting_topk_bisect,
    # graph_random_walk_xxh, agg_bitmap_distinct_rollup, orders_survival_km) --
    "text_phrase_search",            # r5c4: positional phrase retrieval
    "dq_functional_dependency",      # r5c4: FD discovery audit
    # -- round-7 additions (wave 38) --
    # -- round-7 additions (wave 39) --
    # -- round-8 additions (wave 41) --
    # -- round-8 additions (wave 42) --
    # -- round-8 additions (wave 43) --
    # -- round-8 additions (wave 44) --
    # -- round-8 additions (wave 45) --
    # (all 16 wave-41..45 names promoted into the first 50 above — r9)
    # -- round-9 additions (wave 46) --
    # -- round-9 additions (wave 47) --
    # -- round-9 additions (wave 48) --
    # -- round-9 additions (wave 49) --
    # -- round-9 additions (wave 50) --
    # -- round-9 additions (wave 51) --
    # -- round-10 additions (wave 52: inference stats) --
    "stat_jarque_bera",      # moment normality screen, exact power sums
    "stat_durbin_watson",    # residual autocorrelation of the OLS trend
    "stat_cox_stuart",       # O(n) sign trend test
    "stat_cliffs_delta",     # ordinal effect size via midrank identity
    # -- round-10 additions (wave 53: inference stats II) --
    "stat_jonckheere_terpstra",  # ordered k-sample trend, no pair join
    "stat_bartlett",             # variance homogeneity, quantized lns
    # -- round-10 additions (wave 54: Box-Jenkins identification) --
    "events_granger_lag1",       # lag-1 Granger F from exact moments
    # -- round-10 additions (wave 55: planner + exact inference) --
    # -- round-10 additions (wave 56: corpus coverage + streaming ops) --
    "text_good_turing",          # count-of-counts, Turing discounts, P0
    "text_kl_source_divergence", # per-source KL vs corpus, quantized logs
    "events_watermark_lateness", # two-pass prefix max, drop counts per delay
    # -- round-10 additions (wave 57: file skipping + motifs + Page) --
    # -- round-10 additions (wave 58: burstiness) --
]


def load_all() -> None:
    """Import every operator module, then apply the driver ordering."""
    from .operators import (  # noqa: F401
        relational,
        tpch_extra,
        tpch_final,
        relational2,
        relational3,
        scalars,
        signs_queries,
        dedup,
        similarity,
        text,
        multimodal,
        mllib_variants,
        graph,
        sketch_skew,
        training,
        io_queries,
        pipeline_ops,
        ops_audit,
        analytics,
        geo_ops,
        timeseries,
        relational4,
        sketches2,
        selection,
        robust_stats,
        arrow_ops,
        features,
        spark4_surface,
        sketches3,
        ml_basic,
        stats2,
        stats3,
        lakehouse,
    )
    from .streaming import queries as streaming_queries  # noqa: F401

    missing = [n for n in DRIVER_ORDER if n not in QUERIES]
    assert not missing, f"DRIVER_ORDER names not registered: {missing}"
    ordered = {n: QUERIES[n] for n in DRIVER_ORDER}
    # Anything registered but not explicitly ordered trails in registration
    # order — new queries are never silently dropped.
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)
