"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparrow_spark import registry
from sparrow_spark.session import get_spark

# Headline set: the relational spine + scale-path pipeline operators.
# Materiality threshold for --remeasure's burst adjudication: the
# fresh reading replaces the persisted full-run value only when the
# gap is at regression scale. Keep in sync with
# scripts/bench_compare.REGRESSION_X (that module is not importable
# from here without sys.path games; the r16 unit test pins equality).
_BURST_X = 1.5

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_join_left_outer",
    "q_window_topk_per_group",
    "q_count_distinct",
    "q_time_bucket_rollup",
    "q_sessionize",
    "q_asof_join",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_similarity_topk",
    "q_text_quality",
    "q9_product_profit",
    "q13_customer_distribution",
    "q21_suppliers_waiting",
    "q_langid_ngram",
    "q_multimodal_features",
    # r3 operator families (added r4 so BENCH_r*.json tracks them
    # round-over-round — a regression here was previously invisible):
    "q_dedup_clusters",
    "q_dedup_keeper",
    "q_group_ewma",
    "q_group_ewma_arrow",
    "q_range_join_banded",
    "q_perplexity_unigram",
    "q_contamination",
    # r5 additions:
    "q_kmeans_assign",
    "q_data_mixture",
    "q_semantic_dedup",
    "q_curation_funnel",
    "q_substring_dedup",
    "q_dsir_selection",
    # r6: the heaviest r5 batch operator (previously untracked) + the
    # new IVF-PQ and real-decode paths.
    "q_kmeans_iterate",
    "q_ivfpq_search",
    "q_multimodal_decode_real",
    # r6b: audit/pipeline operators (sketch-accuracy + quality gate +
    # seeding) — benched on arrival so no round-over-round blind spot.
    "q_minhash_jaccard_est",
    "q_int8_recall",
    "q_kmeanspp_init",
    "q_quality_gopher",
    "q_sequence_packing_masked",
    "q_hybrid_rrf",
    "q_bpe_merge_step",
    "q_dedup_edit_distance",
    "q_token_entropy",
    "q_cluster_balanced_sample",
    "q_salted_agg",
    "q_perplexity_bigram",
    # r6c: late-r6 additions — benched on arrival. q_cc_alternating is
    # the interesting one: its cost is the driver-looped star rounds
    # (localCheckpoint per round), so bench tracks convergence-round
    # drift as fixtures evolve.
    "q_setsim_join_prefix",
    "q_winnowing",
    "q_quality_classifier",
    "q_cc_alternating",
    "q_random_projection",
    "q_containment_join",
    "q_sorted_neighborhood",
    "q_curriculum_buckets",
    "q_pagerank",
    "q_incremental_agg",
    "q_golden_record",
    "q_winnowing_pairs",
    "q_systematic_sample",
    "q_hll_union",
    "q_bpe_train",
    "q_bpe_encode",
    "q_fk_integrity",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q_image_phash_dedup",
    "q_filter_eval_auc",
    "q_interval_overlap_join",
    "q_kmv_distinct",
    "q_negative_sampling",
    "q_zorder_layout",
    "q_cluster_purity",
    # r7 additions — benched on arrival. q_boilerplate_interdoc is the
    # heavy one (full 5-gram explode + df agg + join-back);
    # q_bootstrap_ci stresses the 20x replicate fan-out in one
    # shuffle; q_session_window_native tracks the native session
    # operator against the hand-built q_sessionize above.
    "q_mann_whitney",
    "q_bh_fdr",
    "q_bootstrap_ci",
    "q_cramers_v",
    "q_acf_daily",
    "q_cusum_changepoint",
    "q_collocation_pmi",
    "q_chi2_terms",
    "q_rag_chunking",
    "q_boilerplate_interdoc",
    "q_pps_systematic",
    "q_session_window_native",
    "q_rfm_segmentation",
    "q_event_streak",
    "q_gap_histogram",
    "q_lang_entropy_by_source",
    "q_skyline_pareto",
    "q_scd2_build",
    "q_apportion_largest_remainder",
    "q_grouped_split",
    "q_weighted_median",
    "q_mode_per_group",
    "q_growth_accounting",
    "q_stickiness_dau_mau",
    "q_watermark_lateness_audit",
    "q_topk_with_others",
    "q_equidepth_histogram",
    "q_winsorize",
    "q_power_analysis",
    "q_audience_overlap",
    "q_kaplan_meier",
    "q_order_fulfillment_lag",
    "q_benford_audit",
    "q_abc_analysis",
    "q_format_roundtrip",
    "q_holt_linear",
    "q_srm_check",
    "q_top_paths",
    "q_peak_concurrency",
    "q_wilson_ranking",
    "q_csv_malformed",
    "q_decimal_money",
    "q_null_semantics",
    "q_join_strategy_equivalence",
    "q_feature_hashing",
    "q_contribution_cap",
    "q_ab_cuped",
    "q_session_entry_exit",
    "q_partition_prune",
    "q_agg_pushdown",
    "q_schema_evolution",
    "q_percentile_disc_vs_cont",
    "q_corr_matrix",
    "q_variant_semistructured",
    "q_bfs_levels",
    "q_ratio_to_parent",
    "q_kmv_intersection",
    "q_decay_popularity",
    "q_wow_change",
    "q_heaps_law",
    "q_dow_hour_heatmap",
    "q_cluster_size_dist",
    "q_coverage_gaps",
    "q_all_tables_composite",
    "q_set_ops_all",
    "q_logreg_gradient_step",
    "q_bloom_fpr",
    "q_kfold_balance",
    "q_sliding_window_rollup",
    "q_value_at_risk",
    "q_forecast_baselines",
    "q_lsh_bucket_skew",
    "q_rolling_mau",
    "q_graph_assortativity",
    "q_decision_stump",
    "q_hhi_concentration",
    "q_diff_in_diff",
    "q_revenue_bridge",
    "q_mix_shift",
    "q_markov_entropy",
    "q_retention_halflife",
    "q_dedup_savings",
    "q_importance_ess",
    "q_filtered_aggs",
    "q_variance_decomposition",
    "q_price_elasticity",
    "q_control_chart",
    "q_matryoshka_eval",
    "q_pca_power_iteration",
    "q_label_propagation",
    "q_weighted_reservoir",
    "q_attribution_position",
    "q_funnel_windowed",
    "q_retrieval_ndcg",
    "q_holt_winters",
    "q_skew_join_salted",
    "q_dp_exponential_topk",
    "q_graph_modularity",
    "q_record_linkage_fs",
    "q_esd_outliers",
    "q_bleu_pairs",
    "q_hits_hubs_auth",
    "q_cohens_kappa",
    "q_theil_sen_mk",
    "q_association_rules",
    "q_compaction_planner",
    "q_mutual_knn",
    "q_mmr_rerank",
    "q_page_hinkley",
    "q_shapley_attribution",
    "q_simpson_paradox",
    "q_gmm_estep",
    "q_isotonic_calibration",
    "q_priority_sampling",
    "q_iptw_ate",
    "q_water_filling",
    "q_wilcoxon_signed_rank",
    "q_seasonality_strength",
    "q_uplift_deciles",
    "q_sprt_sequential",
    "q_gap_fill_interpolate",
    "q_link_prediction",
    "q_hmm_forward",
    "q_ucb_replay",
    "q_markov_attribution",
    "q_scd2_asof_join",
    "q_effect_size_suite",
    "q_attribution_window_sensitivity",
    "q_did_event_study",
    "q_brier_decomposition",
    "q_audio_features_stub",
    "q_knapsack_frontier",
    "q_energy_distance",
    "q_spearman_corr",
    "q_cramer_von_mises",
    "q_average_precision",
    "q_price_index",
    "q_newsvendor_quantile",
    "q_lorenz_curve",
    "q_jackknife_variance",
    "q_qq_compare",
    "q_silhouette_centroid",
    "q_capture_recapture",
    "q_gumbel_return_level",
    "q_overdispersion_nb",
    "q_multiple_regression",
    "q_exact_quantile_refine",
    "q_heavy_hitters_mg",
    "q_kcore",
    "q_target_encoding_cv",
    "q_ngram_novelty",
    "q_pinball_loss",
    "q_zonemap_skipping",
    "q_platt_scaling",
    "q_bucketed_join_colocated",
    "q_dbscan_grid",
    "q_neyman_allocation",
    "q_textrank_keywords",
    "q_tokenizer_fertility",
    "q_l_diversity",
    "q_grid_knn_join",
    "q_croston",
    "q_expectation_audit",
    "q_ivm_delta_agg",
    "q_conformal_interval",
    "q_als_step",
    "q_keyword_tagging",
    "q_sax_motifs",
    "q_binseg_changepoints",
    "q_ridge_cv_moments",
    "q_nn_descent",
    "q_vopt_histogram",
    "q_aho_phrase_tagging",
    "q_forecast_reconciliation",
    "q_louvain_move",
    "q_cascade_filter_ordering",
    "q_key_skew_audit",
    "q_join_order_rank",
    "q_rolling_origin_backtest",
    "q_emd_distribution_shift",
    "q_multimodal_pack_mix",
    "q_ipf_raking",
    "q_cms_width_sweep",
    "q_t_closeness",
    "q_consistent_hash_ring",
    "q_merkle_range_digest",
    "q_bitmap_index_intersection",
    "q_cube_materialization_greedy",
    "q_hilbert_curve_layout",
    "q_learned_index_error",
    # r11 additions — benched on arrival (throttled round; engine
    # exercises stay out per the module note).
    "q_dpp_runtime_prune",
    "q_aqe_skew_split",
    "q_aqe_coalesce_audit",
    # r12: track the converted two-phase vocab-coverage plan
    # round-over-round (q_negative_sampling, the other conversion, was
    # already benched).
    "q_vocab_coverage",
    # r13 additions — benched on arrival (throttled round).
    "q_colbert_maxsim",
    "q_knn_shapley",
    "q_unigram_lm_viterbi",
    "q_bradley_terry",
    "q_symspell_neighbors",
    "q_zipf_fit",
    "q_good_turing",
    "q_js_divergence_langs",
    "q_kneser_ney_bigram",
    "q_blocking_quality",
    "q_rank_centrality",
    "q_bbit_minhash",
    "q_multiprobe_lsh",
    "q_coreset_sensitivity",
    "q_countsketch_signed",
    # r15 additions — benched on arrival (throttled round).
    "q_dup_span_runs",
    "q_rake_keywords",
    "q_rbo_ranking_overlap",
    "q_ddsketch_quantiles",
    "q_nucleus_vocab_mass",
    "q_pass_at_k",
    "q_cdc_chunk_dedup",
    "q_geometric_median",
    "q_sinkhorn_ot",
    "q_greedy_maxcover",
    # r16 additions
    "q_dup_span_merge",
    "q_minhash_index_merge",
    "q_rerank_interaction_topk",
    "q_ppr_seeded",
    "q_lof_outliers",
    "q_doremi_weights",
    "q_fd_discovery",
]

# Tracked round-over-round but reported OUTSIDE the headline total:
# the streaming drain's wall time at bench scale is ~90% fixed
# microbatch machinery (3 availableNow cycles: plan + codegen +
# checkpoint commits + write barriers — ~12 s regardless of data
# volume; the actual hash/join work is <1 s). Folding that into
# "value" would swamp the headline signal with a constant. It is
# side-effecting, so it bypasses the prepared-plan cache (a cached
# DataFrame would just re-read old verdict parquet) and runs once —
# one drain IS its steady state.
AUX_QUERIES = [
    "q_stream_engine_upsert",
    "q_stream_tws_running_totals",
    "q_stream_incremental_dedup",
    "q_stream_drift_monitor",
    "q_stream_incremental_agg",
    "q_stream_outer_join",
]


def _calibrate(spark) -> float:
    """Machine-load sentinel: wall time of a FIXED CPU-bound 32-task
    run (32 partitions x 2M-row local sum, no shuffle, no I/O). Its
    query is constant across rounds, so between two bench artifacts
    whose driver JVMs ran with the same Java options a drift in
    calibration time measures co-tenant machine load, not this repo's
    code — the evidence the r11 forensics had to reconstruct from git
    archaeology (untouched streaming code timing 2.4x slower under a
    loaded driver run). Its time does depend on the driver JVM's JIT:
    at C1 only (get_spark) it runs about 12x slower than with C2, so
    the artifact records the driver's Java options and bench_compare
    reads the sentinel only across equal ones. Run first and last so
    the artifact also shows load CHANGE during the run."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(0, 32 * 2_000_000, 1, 32)
        .select(F.sum((F.col("id") % 1_000_003) * 2 + 1).alias("s"))
        .collect()
    )
    return round(time.time() - t0, 3)


from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402


class _DrainListener(StreamingQueryListener):
    """StreamingQueryListener accumulating per-drain batch count and
    busy time (sum of triggerExecution durations), so an aux-timing
    regression distinguishes availableNow trigger-wait from real
    state-store slowdown (the r11 2.44x aux inflation needed manual
    forensics to attribute)."""

    def __init__(self) -> None:
        self.batches = 0
        self.busy_ms = 0.0

    def reset(self) -> None:
        self.batches = 0
        self.busy_ms = 0.0

    def onQueryStarted(self, event) -> None:  # noqa: N802 (listener API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.batches += 1
        d = event.progress.durationMs or {}
        self.busy_ms += float(d.get("triggerExecution", 0))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _burst_replaces(old: float, fresh: float) -> bool:
    """Whether a fresh remeasure reading should replace the persisted
    full-run value: only when the gap is burst-scale (see _BURST_X)."""
    return fresh < old / _BURST_X


def _best_of_3(spark, fn, sf_dir: str) -> float:
    """Best wall time of three build + run + fetch passes of one query.
    The first run includes per-plan whole-stage-codegen compilation —
    a fixed cost that is pure noise at bench scale and fully amortized
    at production scale — and best-of-3 also damps co-tenant load
    spikes on the bench machine."""
    runs = []
    for _ in range(3):
        t0 = time.time()
        # Full execution + Arrow result fetch. toPandas(), not
        # count(): count() wraps the plan in a new QueryExecution
        # each call — re-running Catalyst analysis/optimization per
        # iteration and defeating the registry's prepared-plan
        # cache. And Arrow batches, not collect(): collect()
        # materializes per-row Python Row objects, which for the
        # 100k-row results (q_asof_join, q_rolling_window) costs
        # ~0.5 s of pure CPython deserialization on top of a
        # ~0.14 s query — measured 4.6x on q_asof_join. Arrow is
        # the engine's production result-delivery path (the same
        # columnar batches a JDBC/ADBC client would stream); the
        # full plan still executes every run.
        _ = len(fn(spark, sf_dir).toPandas())
        runs.append(time.time() - t0)
    return round(min(runs), 3)


def _drain(spark, listener: _DrainListener, name: str, sf_dir: str) -> dict:
    """One run of a streaming drain: total wall time, batch count and
    busy time."""
    listener.reset()
    t0 = time.time()
    _ = len(registry.RAW_QUERIES[name](spark, sf_dir).toPandas())
    total = round(time.time() - t0, 3)
    # Listener events arrive on a background thread; wait until the
    # batch count is stable (drains have already terminated, so
    # this is a flush, bounded at 3 s).
    seen, waited = -1, 0.0
    while listener.batches != seen and waited < 3.0:
        seen = listener.batches
        time.sleep(0.2)
        waited += 0.2
    return {
        "total_sec": total,
        "batches": listener.batches,
        "busy_sec": round(listener.busy_ms / 1000.0, 3),
    }


def _remeasure(names: list[str], sf_dir: str) -> None:
    """Re-time ONLY the named queries and record the fresh reading in a
    bench_detail.json side-channel, leaving the full-run values
    untouched unless the gap is burst-scale. A name in AUX_QUERIES is a
    streaming drain: side-effecting and its own steady state, so one
    fresh run is its reading and it goes into `remeasured_aux`. Any
    other name gets a fresh best-of-3 and goes into `remeasured`.

    Purpose: automated flag adjudication. The bench box is co-tenant;
    a load burst that spans one query's three runs inflates its
    best-of-3, and the two-point calibration sentinel cannot see a
    MID-run burst. When bench_compare flags regressions, gate.sh calls
    this to re-measure exactly the flagged set at a different moment —
    a genuine regression reproduces (code determines the floor), a
    burst artifact clears (min of two independent best-of-3s). This is
    the manual idle-box re-measurement loop from r12/r13, made
    machinery.

    Persistence policy (r15, after the r14 ADVICE ratchet fix grew a
    blind spot of its own): the side-channel records BOTH readings
    for audit, and the persisted `queries` / `aux_queries` value —
    which becomes the committed round baseline — takes the fresh
    reading ONLY when it is faster, i.e. when the adjudication proves
    the full-run number was burst-inflated. Keeping a known-burst value
    in the baseline would let next round's genuine regressions hide
    under it (anything below burst x 1.5 passes the gate). This is not
    the r14 ratchet: the comparison is within ONE round's readings
    (never min against a prior baseline), and bench_compare still
    consults `remeasured` for adjudication of older artifacts.

    Caveat (measured r14): the re-measured value is a COLD-SESSION
    floor. A query timed inside the full bench benefits from shared
    state the fresh session lacks (OS page cache on its tables,
    adjacent-query exchange reuse) — q_session_window_native reads
    0.14-0.20 s in four rounds of full runs but ~0.24 s cold across
    three independent remeasure sessions. So a residual post-remeasure
    flag within ~2x of baseline on byte-unchanged code is warm/cold
    gap, not regression; check the query's round history before
    treating it as real."""
    detail = json.load(open("bench_detail.json"))
    registry.load_all()
    spark = get_spark("sparrow-bench")
    registry.QUERIES["q6_forecast_revenue"](spark, sf_dir).collect()
    listener = _DrainListener()
    spark.streams.addListener(listener)
    updated: dict[str, dict] = {"remeasured": {}, "remeasured_aux": {}}
    for name in names:
        if name not in registry.QUERIES:
            print(f"remeasure: unknown query {name}", file=sys.stderr)
            continue
        if name in AUX_QUERIES:
            fresh = _drain(spark, listener, name, sf_dir)
            persisted, side = detail.setdefault("aux_queries", {}), "remeasured_aux"
            old = persisted.get(name, fresh)
            old_s, fresh_s = old["total_sec"], fresh["total_sec"]
        else:
            fresh = _best_of_3(spark, registry.QUERIES[name], sf_dir)
            persisted, side = detail["queries"], "remeasured"
            old = persisted.get(name, fresh)
            old_s, fresh_s = old, fresh
        detail.setdefault(side, {})[name] = {"full_run": old, "fresh": fresh}
        # When the fresh reading comes back faster by a BURST-SCALE
        # margin, the full-run number is adjudicated burst-inflated —
        # keeping it in the persisted detail (which becomes the
        # committed round baseline) would let next round's real
        # regressions hide under it (anything below burst x 1.5
        # passes the gate). The faster fresh reading replaces it; the
        # burst value stays on record in the side-channel above.
        # The margin gate (r16, closing the r15 ADVICE's one-way
        # ratchet residue): replacing on ANY fresh < old would let a
        # single anomalously fast reading permanently tighten the
        # committed baseline and raise false regression flags next
        # round — small jitter stays with the full-run reading; only
        # a gap at the same scale the flag machinery calls a
        # regression (>= _BURST_X, kept in sync with
        # scripts/bench_compare.REGRESSION_X) proves a burst.
        if _burst_replaces(old_s, fresh_s):
            persisted[name] = fresh
        updated[side][name] = {"was": old_s, "fresh": fresh_s}
    spark.streams.removeListener(listener)
    with open("bench_detail.json", "w") as f:
        json.dump(detail, f)
    print(json.dumps({k: v for k, v in updated.items() if v}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--remeasure" in sys.argv:
        idx = sys.argv.index("--remeasure")
        if idx + 1 >= len(sys.argv):
            print(
                "usage: bench.py --remeasure q1[,q2,...]", file=sys.stderr
            )
            raise SystemExit(2)
        arg = sys.argv[idx + 1]
        _remeasure([n for n in arg.split(",") if n], sf_dir)
        return
    registry.load_all()
    spark = get_spark("sparrow-bench")
    # Warm the JVM + parquet footers once so per-query numbers measure
    # the plan, not session startup.
    registry.QUERIES["q6_forecast_revenue"](spark, sf_dir).collect()
    _calibrate(spark)  # warm the calibration plan's codegen, untimed —
    # otherwise calib_first carries a one-time compile cost that the
    # closing calib_last never pays and the first/last delta lies.
    loadavg_before = [round(x, 2) for x in os.getloadavg()]
    calib_first = _calibrate(spark)

    timings = {
        name: _best_of_3(spark, registry.QUERIES[name], sf_dir)
        for name in BENCH_QUERIES
    }
    listener = _DrainListener()
    spark.streams.addListener(listener)
    aux = {name: _drain(spark, listener, name, sf_dir) for name in AUX_QUERIES}
    spark.streams.removeListener(listener)

    calib_last = _calibrate(spark)
    loadavg_after = [round(x, 2) for x in os.getloadavg()]
    sentinel = {
        "calib_first_sec": calib_first,
        "calib_last_sec": calib_last,
        "loadavg_before": loadavg_before,
        "loadavg_after": loadavg_after,
        "driver_java_options": spark.sparkContext.getConf().get(
            "spark.driver.defaultJavaOptions", ""
        ),
    }

    sf = sf_dir.rstrip("/").split("sf")[-1]
    detail = {
        "metric": "headline_query_wall_time_detail",
        "queries": timings,
        "aux_queries": aux,
        "load_sentinel": sentinel,
        "sf": sf,
    }
    # The driver captures only the LAST ~2000 chars of stdout and
    # json-parses the final line. With 150+ benched queries the
    # per-query dict alone exceeds that window (BENCH_r07/r08 recorded
    # `parsed: null`), so the contract is: full per-query detail on a
    # PRECEDING line (and a sidecar file for local tooling), and a
    # compact summary — guaranteed well under the tail window — as the
    # one final line.
    print(json.dumps(detail))
    with open("bench_detail.json", "w") as f:
        json.dump(detail, f)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "aux_total_sec": round(
                    sum(a["total_sec"] for a in aux.values()), 3
                ),
                "aux_busy_sec": round(
                    sum(a["busy_sec"] for a in aux.values()), 3
                ),
                "n_aux": len(aux),
                "load_sentinel": sentinel,
            }
        )
    )


if __name__ == "__main__":
    main()
