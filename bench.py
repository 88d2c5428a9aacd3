#!/usr/bin/env python
"""Benchmark: run the engine's headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized via the noop sink (full execution, no driver
collect cost). Streaming queries drive a memory sink; their result table is
counted.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (joins, aggs, windows, sorts,
# signs parity, streaming, dedup, similarity, text, multimodal).
HEADLINE = [
    "q1_pricing_summary",
    "q5_regional_revenue",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q18_large_volume_customer",
    "join_broadcast_brand_revenue",
    "agg_salted_skew",
    "join_asof_latest_order",
    "agg_rollup_priority",
    "agg_stat_moments",
    "window_topk_orders_per_cust",
    "sort_topk_orders",
    "sessionize_events_batch",
    "signs_rest_pipeline",
    "stream_tumbling_events",
    "dedup_exact_docs",
    "dedup_minhash_docs",
    "dedup_ngram_jaccard",
    "dedup_ppjoin_prefix",
    "dedup_components_ngram",
    "knn_exact_cosine",
    "knn_lsh_ann",
    "text_tfidf_top_term",
    "multimodal_decode_stub",
    # round-3 additions: skew join, outer-join distribution, corpus composition
    "join_salted_skew",
    "q13_customer_distribution",
    "select_token_budget",
    # round-4 additions: exact-substring dedup, weighted sampling
    "dedup_substring_spans",
    "sample_weighted_reservoir",
    # round-4b additions: TPC-H completion (deep tree + composite-key
    # partsupp join), snapshot reconciliation, windowless global numbering
    "q8_market_share",
    "q9_product_profit",
    "table_diff_audit",
    "global_row_number_two_pass",
    # round-4c additions: time-series windows, recursive closure, exact
    # selection, CMS sketch, rolling median
    "events_ewma_dyadic",
    "orders_interval_islands",
    "hierarchy_closure_doubling",
    "kth_statistic_iterative",
    "sketch_cms_heavy_hitters",
    "window_rolling_median",
    # round-5 continuation: exact-oracle sketch twins + tree induction —
    # the new flagship families get standing perf visibility
    "sketch_hll_exact_registers",
    "sketch_iblt_diff",
    "ml_decision_stump_gini",
    # round-5 continuation-4: bitmap distinct algebra, the recommender
    # pair join, hash-replayed walks, the KM fold, RAKE + phrase search
    # (token-explode-heavy), and the k-sample rank pivot
    "agg_bitmap_distinct_rollup",
    "recsys_item_item_cosine",
    "graph_random_walk_xxh",
    "orders_survival_km",
    "text_rake_keywords",
    "text_phrase_search",
    "stat_kruskal_wallis",
    # round-6 additions: the resampling estimator, the cogroup kernel,
    # the kNN vote, the W1 drift integral, temperature mixing, and the
    # changepoint scan — the compute-shaped flagships of waves 28-33
    # (the lakehouse/staging ops are IO-dominated and benchmark their
    # own staging, so they stay out of the wall-clock headline set)
    "stat_bootstrap_ci",
    "cogroup_asof_interp",
    "ml_knn_classifier_exact",
    "drift_wasserstein_exact",
    "mix_temperature_sampling",
    "events_changepoint_argmax",
    # round-7 additions: the LSH tuning sweep (three banded self-joins +
    # verify — the compute-heaviest new shape), the KMV sketch build, the
    # shuffle-free JL projection, and the TakeOrdered reservoir — the
    # wave-38/39 flagships with distinct plan shapes (the Friedman/
    # Levene/NB/DP/listagg/shard/clone ops are metadata- or IO-bound)
    "dedup_minhash_band_tuning",
    "sketch_kmv_distinct",
    "embedding_jl_projection",
    "sample_reservoir_hash",
    # round-8 additions: the inverted-index retrieval scorer, the
    # map-side bloom-pruned fact scan, and the blocked R/S windows —
    # the wave-41 flagships with distinct plan shapes (BH runs on the
    # KS reduction, Neyman on 5-row apportionment, VACUUM on staging IO)
    "text_bm25_topk",
    "join_bloom_pruned",
    "events_hurst_rs",
    # round-9 additions: the pair-shuffle collocation miner (the round's
    # honest-linear-cost flagship), the iterative density peel, and the
    # streaming sum-merge sketch — three distinct plan shapes again
    "text_pmi_cooccurrence",
    "graph_densest_subgraph_peel",
    "stream_cms_sketch",
]


def main() -> None:
    from etl_cotrip_signs_spark import registry
    from etl_cotrip_signs_spark.session import codegen_compile_count, get_spark

    registry.load_all()
    spark = get_spark("etl-cotrip-signs-bench")

    # Warm the JVM + parquet footers + Python UDF workers once so timings
    # measure the queries, not process spin-up.
    registry.QUERIES["q1_pricing_summary"](spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    from pyspark.sql import functions as F

    # no type hints on purpose: `pd` isn't resolvable in this scope for
    # string-annotation inference; hint-less pandas_udf defaults to SCALAR
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(1000).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()

    def run_once(name: str) -> float:
        fn = registry.QUERIES[name]
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        if df.isStreaming:  # pragma: no cover - streaming queries return batch
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # best-of-two per query: one local JVM shares GC/compilation with
    # whatever ran before, so a single sample is noisy. The same
    # session-state hygiene the probes get applies here (untimed):
    # earlier queries leave localCheckpoint RDD blocks whose release waits
    # on Python GC + the JVM ContextCleaner, and later heavy queries pay
    # for the dead blocks (observed: dedup_components_ngram 8.6-14.6 s
    # in-bench vs 4.0-4.4 s for its own 10x-density probe after hygiene).
    # Interleaved calibration (VERDICT r9 item 2): the host's throughput
    # swings 2-8x WITHIN one bench run (observed 0.147-0.771 across minutes
    # in round 9), so one pre-run sample manufactured a phantom 1.86x
    # cross-round "regression". Sample the constant-work calibration
    # before, at each third, and after the headline loop; normalize every
    # query by the NEAREST sample in time and report the median + spread.
    timings: dict[str, float] = {}
    # classes compiled by each query's second run: a warm run that still
    # compiles has outgrown the generated-code cache
    codegen_compiles: dict[str, int] = {}
    calibration_samples: list[dict] = []

    def sample_calibration(at: int) -> None:
        calibration_samples.append(
            {"at_query": at, "value": run_calibration(spark)}
        )

    thirds = {0, len(HEADLINE) // 3, 2 * len(HEADLINE) // 3}
    for i, name in enumerate(HEADLINE):
        if i in thirds:
            sample_calibration(i)
        _release_session_state(spark)
        first = run_once(name)
        compiled_before = codegen_compile_count(spark)
        second = run_once(name)
        codegen_compiles[name] = codegen_compile_count(spark) - compiled_before
        timings[name] = round(min(first, second), 3)
    sample_calibration(len(HEADLINE))
    queries_normalized = {
        name: round(
            timings[name]
            / nearest_calibration(i, calibration_samples),
            2,
        )
        for i, name in enumerate(HEADLINE)
    }

    # Probe phase runs in a FRESH session. Root cause pinned in round 5:
    # after the 39-query headline pass the components probe measured 10-24 s
    # vs 4-5.3 s in a fresh session — GC hygiene alone does not reclaim the
    # accumulated session state (dead localCheckpoint blocks, AQE/codegen
    # caches), and every headline query added to the bench inflated the
    # probes of everything after it (r3 probe 5.0 s → r4 15.2 s was exactly
    # this, not an algorithmic regression). A fresh session makes probe
    # numbers comparable across rounds regardless of headline-set size.
    spark.stop()
    spark = get_spark("etl-cotrip-signs-bench-probes")
    probes, probe_rows = run_density_probes(spark)
    calibration = run_calibration(spark)
    # Calibration-normalized probes (wall / calibration wall, dimensionless):
    # the sandbox's throughput drifts 1.5-3x between sessions, so raw probe
    # seconds are only comparable across rounds after dividing by the
    # constant-work calibration measured in the SAME session.
    probes_normalized = {
        n: round(v / calibration, 1) for n, v in probes.items()
    }

    detail_line, headline_line = emit_lines(
        timings,
        probes,
        probes_normalized,
        probe_rows,
        calibration,
        calibration_samples=calibration_samples,
        queries_normalized=queries_normalized,
        codegen_compiles=codegen_compiles,
    )
    # Detail (per-query / per-probe maps) goes to a repo file AND an
    # earlier stdout line; the compact headline prints LAST. The driver
    # records only the final ~2000 chars of stdout — round 5's single
    # 3000+-char JSON line was truncated from the FRONT, eating the
    # "metric"/"value" prefix and leaving BENCH_r05.json unparsed
    # (parsed: null). The headline line is pinned < 1500 chars by
    # tests/test_bench_emission.py so it always survives the tail window.
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as fh:
        fh.write(detail_line + "\n")
    print(detail_line)
    print(headline_line)
    spark.stop()


def nearest_calibration(query_index: int, samples: list[dict]) -> float:
    """The calibration sample taken closest (by headline position) to the
    query — per-query normalization uses the host-speed reading nearest in
    time, not one stale pre-run number."""
    best = min(samples, key=lambda s: abs(s["at_query"] - query_index))
    return best["value"]


def emit_lines(
    timings: dict[str, float],
    probes: dict[str, float],
    probes_normalized: dict[str, float],
    probe_rows: dict[str, int],
    calibration: float,
    calibration_samples: list[dict] | None = None,
    queries_normalized: dict[str, float] | None = None,
    codegen_compiles: dict[str, int] | None = None,
) -> tuple[str, str]:
    """Build the (detail, headline) JSON lines. Headline stays compact —
    scalar fields only, no unbounded per-query maps — so it parses intact
    from a bounded stdout tail regardless of how many queries the
    headline set grows to."""
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 3)
    sample_vals = sorted(s["value"] for s in (calibration_samples or []))
    cal_median = (
        round(
            (
                sample_vals[len(sample_vals) // 2]
                if len(sample_vals) % 2
                else (
                    sample_vals[len(sample_vals) // 2 - 1]
                    + sample_vals[len(sample_vals) // 2]
                )
                / 2
            ),
            3,
        )
        if sample_vals
        else None
    )
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "probes": probes,
        "probes_normalized": probes_normalized,
        "probe_rows": probe_rows,
        "calibration": calibration,
        "calibration_samples": calibration_samples or [],
        "calibration_median": cal_median,
        "queries_normalized": queries_normalized or {},
        "codegen_compiles": codegen_compiles or {},
        "sf": float(sf) if sf else None,
    }
    slowest = max(timings, key=timings.get) if timings else None
    headline = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf else None,
        "n_queries": len(timings),
        "calibration": calibration,
        # interleaved host-speed samples (VERDICT r9 item 2): a bounded
        # list of floats (one per third of the headline loop + the probe
        # session's reading stays in "calibration") — cross-round compares
        # normalize per-query by the nearest sample, never one stale read
        "calibration_samples": [s["value"] for s in calibration_samples]
        if calibration_samples
        else [],
        "calibration_median": cal_median,
        "slowest_query": slowest,
        "slowest_sec": timings.get(slowest) if slowest else None,
        "detail_file": "BENCH_DETAIL.json",
    }
    return json.dumps(detail), json.dumps(headline)


def run_calibration(spark) -> float:
    """Fixed, data-independent CPU reference: sum of xxhash64 over a
    constant range. The sandbox's throughput drifts ~1.5-3x between
    sessions (host steal on the shared VM); dividing any query's wall by
    this value gives a noise-normalized number that is comparable across
    rounds. Best-of-three because the drift operates at second granularity."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        spark.range(50_000_000, numPartitions=32).select(
            F.avg(F.xxhash64("id"))  # avg, not sum: 50M random longs overflow
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    return round(min(once() for _ in range(3)), 3)


# Queries whose pair/candidate spaces are density-sensitive: replicating
# every entity 10x multiplies within-key density 10x, so a quadratic
# candidate shape shows up as ~100x work. The probes run the SAME registered
# queries against the replicated tables and record wall time + output rows —
# a pair-blowup regression moves these numbers far more than the headline set.
PROBE_QUERIES = [
    "join_asof_latest_order",
    "dedup_minhash_docs",
    "dedup_ngram_jaccard",
    "dedup_components_ngram",  # 10x replicas → size-10+ clusters: CC rounds under density
    "similarity_threshold_pairs_lsh",
    "dedup_containment_ngram",  # 10 identical copies/doc → ~C(10,2) containment pairs per doc
    "dedup_ppjoin_prefix",  # planted dups: every copy-pair passes 0.8 → verify under density
]
_PROBE_REPLICAS = 10
_PROBE_BASE = "/root/testdata/sf0.001"


def build_probe_dir(spark) -> str:
    """Replicate sf0.001 tables 10x (ids offset per replica) into /tmp."""
    from pyspark.sql import functions as F

    probe_dir = "/tmp/spark_graft_probe_10x"
    reps = spark.range(_PROBE_REPLICAS).select(F.col("id").alias("__rep"))
    offset = 10_000_000
    id_cols = {
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
        "orders": ["o_orderkey"],
        "events": ["event_id"],
    }
    for table, ids in id_cols.items():
        df = spark.read.parquet(f"{_PROBE_BASE}/{table}.parquet").crossJoin(
            F.broadcast(reps)
        )
        for c in ids:
            df = df.withColumn(c, F.col(c) + F.col("__rep") * offset)
        df.drop("__rep").write.mode("overwrite").parquet(
            f"{probe_dir}/{table}.parquet"
        )
    return probe_dir


def _release_session_state(spark) -> None:
    """Measurement hygiene between phases: the headline set leaves dozens of
    localCheckpoint RDDs whose release waits on Python GC + the JVM
    ContextCleaner; under load the cleaner lags and later queries pay for
    the dead blocks (observed: the components probe at 50 s in-bench vs
    10 s isolated). Force both collectors before timing the probes."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    time.sleep(1.0)  # let the ContextCleaner drain its reference queue


def run_density_probes(spark):
    from etl_cotrip_signs_spark import registry

    probe_dir = build_probe_dir(spark)
    probes: dict[str, float] = {}
    probe_rows: dict[str, int] = {}
    for name in PROBE_QUERIES:
        _release_session_state(spark)
        t0 = time.perf_counter()
        probe_rows[name] = registry.QUERIES[name](spark, probe_dir).count()
        probes[name] = round(time.perf_counter() - t0, 3)
    return probes, probe_rows


if __name__ == "__main__":
    main()
