"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE compact (≤1 KB) JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...,
   "duckdb_total": ..., "sf1_total": ..., "sf1_duckdb": ..., "sf10_total": ...,
   "sf10_duckdb": ..., "detail": "BENCH_DETAIL.json"}
Full per-tier tables (cold/build/extended/per-query baselines) are written to
BENCH_DETAIL.json — the stdout line stays within the driver's tail capture.

Methodology: each query's DataFrame is built ONCE, executed once to warm
(JVM codegen, file-system cache, broadcast build paths), then the MINIMUM of
three timed re-executions is reported — steady-state throughput of a deployed
query, which is what scales to a long-running cluster. Plan construction
(Python DataFrame building + Catalyst analysis, measured 0.25-0.45 s/query)
is a one-time cost per deployed query, so it is reported separately
(`build_total_sec`) rather than smeared into every execution. Single-shot
cold numbers (`cold_total_sec` = first build+run) and the DuckDB baseline on
identical parquet (BASELINE.md's de-facto reference, measured the same
min-of-3 way on a warmed connection) are included so nothing is hidden.

sf1 tier: the fixed-vs-proportional argument in PERF.md predicts the
Spark/DuckDB ratio collapses as data grows. `bench.py` proves it by
generating a 10× key-offset replication of sf0.1 under .scratch/sf1
(FK-preserving: each copy shifts custkey/orderkey/suppkey/partkey blocks)
and re-running the headline set there — reported under the "sf1" key.
Disable with SPARK_GRAFT_SF1=0.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from sdg_data_catalog_spark.queries.registry import all_oracles, all_queries  # noqa: E402
from sdg_data_catalog_spark.session import get_spark  # noqa: E402

# Extended tier: one representative per non-relational operator family —
# steady-state times reported under "extended" (not part of "value", which
# stays comparable round-over-round on the relational headline).
EXTENDED = (
    "pipeline_curation",
    "dedup_jaccard_pairs",
    "dedup_minhash_pairs",
    "sim_cosine_neardup",
    "text_tfidf",
    "text_langid",
    "stream_tumbling",
    "udaf_norm",
    "join_gazetteer",
    "join_bucketed",
    "mm_resize",
    "dq_constraints",
    "scan_jdbc",
    # round-4 late additions (all ≤2 s at sf0.1, measured before inclusion)
    "lm_bigram_score",
    "etl_sessionize",
    "graph_triangle_count",
    "funnel_conversion",
    "sim_ann_pq_topk",
    # round-4 session-2 additions (all ≤2.8 s steady at sf0.1, measured)
    "fpm_frequent_pairs",
    "dedup_containment",
    "ts_ewma",
    "join_geo_radius",
    "mm_phash_neardup",
    "udf_ner_score",
    # round-5 additions (all sub-second steady at sf0.1, measured)
    "curation_dsir",
    "rank_rrf",
    "sim_ann_indexed_topk",
    # round-6 additions (all ≤1.3 s steady at sf0.1, measured; pareto is
    # the two-phase sweep, dq_constraints above is the single-pass form)
    "etl_scd2_merge",
    "join_interval_overlap",
    "fpm_assoc_rules",
    "agg_tokenizer_fertility",
    "curation_pareto_front",
    # round-7 additions (measured ≤2.3 s steady at sf0.1 before inclusion)
    "lm_kneser_ney_score",
    "agg_vocab_coverage",
    "curation_contamination_report",
    "curation_fasttext_quality",
    "graph_clustering_coeff",
    "curation_ppl_band_select",
    "join_scd2_pit",
    "join_geo_gridded",
    # round-7 batch-4/5 additions (all ≤2.4 s steady at sf0.1, measured;
    # graph_label_prop excluded — 3.7 s steady, tracked with the other
    # iterative graph ops outside the tier)
    "text_gopher_rules",
    "agg_avg_precision",
    "sketch_kmv_jaccard",
    "curation_domain_mix",
    "agg_winsorized_mean",
    "win_event_sequence",
    "agg_welch_ttest",
    "dq_benford_digits",
    # round-7 batch-6/7 additions (all ≤1.4 s steady at sf0.1, measured)
    "sketch_mg_heavy_hitters",
    "win_cumulative_distinct",
    "agg_mann_whitney",
    "agg_hdr_percentiles",
    "emb_triplet_mining",
    "ts_backtest_smape",
    "agg_chisq_independence",
    # round-7 batch-8/9 additions (≤1.7 s steady at sf0.1, measured)
    "agg_survival_km",
    "ml_split_stump",
    "agg_diff_in_diff",
    "join_point_in_polygon",
    "agg_cuped_adjust",
    "dq_srm_check",
    # round-8 batch 1-8 additions (all ≤2.0 s full-run at sf0.1, measured
    # before inclusion; max: dedup_minhash_est_vs_exact 1.9 s)
    "emb_diversity_by_label",
    "lm_jm_interpolated_score",
    "sample_pps_systematic",
    "emb_centroid_drift",
    "agg_bootstrap_ci",
    "join_asof_fwd_tolerance",
    "agg_permutation_test",
    "ts_holt_linear",
    "sketch_bloom_membership",
    "agg_jackknife_variance",
    "graph_modularity",
    "dq_xmr_control_chart",
    "curation_soft_dedup_weights",
    "sample_stratified_neyman",
    "agg_mutual_information",
    "rank_borda_fusion",
    "dq_qq_points",
    "agg_concentration_hhi",
    "agg_effective_sample_size",
    "dedup_minhash_est_vs_exact",
    "text_window_npmi",
    "rank_kendall_tau",
    "agg_spearman_rho",
    "agg_cohens_kappa",
    # round-8 batch 9-14 additions (all ≤1.3 s full-run at sf0.1, measured)
    "agg_kruskal_wallis",
    "agg_logrank_test",
    "agg_mcnemar_test",
    "rank_mrr",
    "agg_cliffs_delta",
    "agg_brier_ece",
    "graph_assortativity",
    "agg_cramers_v",
    "text_heaps_law",
    "ts_theil_sen",
    "agg_fleiss_kappa",
    "eval_ips_snips",
    "agg_nelson_aalen",
    "agg_tost_equivalence",
    "text_burstiness",
    "join_asof_nearest",
    "ml_stump_cv",
    "dq_outlier_iqr",
    # round-8 batch-15 additions (≤0.4 s full-run at sf0.1, measured)
    "dq_psi",
    "agg_lift_gains",
    "ts_seasonality_strength",
    # round-8 batch-16 additions (≤1.0 s full-run at sf0.1, measured)
    "emb_silhouette",
    "emb_davies_bouldin",
    "ts_backtest_mase",
    # round-8 batch-17 additions (≤0.8 s full-run at sf0.1, measured)
    "agg_mann_kendall",
    "win_peak_concurrency",
    "eval_doubly_robust",
    # round-8 batch-18 additions (≤0.3 s steady at sf0.1, measured)
    "graph_hits",
    "agg_bh_fdr",
    "sketch_hll_intersect",
    # round-8 batch-19 additions (≤1.1 s steady at sf0.1, measured)
    "agg_cochran_q",
    "agg_friedman_test",
    "text_mtld",
    # round-8 batch-20 additions (≤1.0 s steady at sf0.1, measured)
    "agg_cohens_d",
    "emb_calinski_harabasz",
    "agg_levene_bf",
    # round-8 batch-21 additions (≤1.0 s steady at sf0.1, measured)
    "agg_runs_test",
    "agg_durbin_watson",
    "curation_pii_risk_report",
    # round-8 batch-22 additions (≤0.6 s steady at sf0.1, measured)
    "win_rolling_corr",
    "agg_hodges_lehmann_shift",
    "feat_decay_score",
    # round-8 batch-23 additions (≤2.7 s steady at sf0.1, measured)
    "agg_price_elasticity",
    "curation_boilerplate_strip",
    "ml_feature_rank_gini",
    # round-8 batch-24 additions (≤0.5 s steady at sf0.1, measured)
    "agg_abc_analysis",
    "agg_new_returning_split",
    "curation_cluster_balance",
    # round-8 batch-25 additions (≤0.5 s steady at sf0.1, measured)
    "agg_ljung_box",
    "win_bollinger_bands",
    "agg_markov_entropy_rate",
    # round-8 batch-26 additions (≤0.4 s steady at sf0.1, measured)
    "split_temporal",
    "sim_reciprocal_nn",
    "curation_epoch_mix_schedule",
    # round-8 batch-27 additions (≤0.8 s steady at sf0.1, measured)
    "agg_wilcoxon_signed_rank",
    "agg_sprt_replay",
    # round-8 batch-28 additions (≤0.7 s steady at sf0.1, measured)
    "agg_kendall_w",
    "win_drawdown_max",
    "agg_cohort_half_life",
    # round-10 additions (≤3.0 s steady at sf0.1, measured;
    # dedup_substring_spans 3.7 s and mm_phash_candidates 3.5 s are
    # tracked outside the tier with the other heavy ladder ops)
    "plan_pack_sequences",
    "mm_wav_stats",
    "mm_wav_downsample",
    "agg_chao1_richness",
    "agg_good_turing",
    "sim_maxsim_late_interaction",
    "eval_bleu_pairs",
    "curation_submodular_facility",
    "rank_plackett_luce",
    "eval_elo_batched",
    "join_editdistance_blocked",
    "agg_zipf_fit",
    # round-10 batch-5/6 additions (≤1.7 s steady at sf0.1, measured)
    "agg_mcc",
    "eval_rouge_pairs",
    "dedup_lsh_band_sweep",
    "mm_audio_vad",
    "agg_simpson_diversity",
    "lm_lambda_sweep",
    "eval_krippendorff_alpha",
    "agg_hhi_concentration",
    # round-10 batch-7/8/9 additions (≤2.6 s steady at sf0.1, measured;
    # curation_lsh_recall_eval 5.1 s stays out — it runs BOTH full pair
    # pipelines by design and is tracked with the heavy ladder ops)
    "agg_log_odds_monroe",
    "ml_naive_bayes",
    "stream_hopping_topk",
    "eval_cohens_kappa",
    "etl_cdc_compact",
    "sample_neyman_allocation",
    "dq_freshness_sla",
    "sim_ann_recall_eval",
    "graph_adamic_adar",
    "win_sma_crossover",
    "mm_tile_contrast",
    # round-10 batch-10 additions (≤1.0 s steady at sf0.1, measured)
    "ts_granger_lite",
    "plan_partition_advisor",
    "emb_pq_distortion",
    "curation_filter_overlap",
    # round-10 batch-11 additions (≤1.6 s steady at sf0.1, measured)
    "text_keyword_rake",
    "agg_lorenz_curve",
    "ts_spectral_peak",
    "dq_quality_corr_matrix",
    # round-10 batch-12 additions (≤2.0 s steady at sf0.1, measured)
    "eval_auc_delong",
    "text_pmi_pairs",
    "join_range_band",
    # round-10 batch-13 additions (≤1.5 s steady at sf0.1, measured)
    "agg_weibull_fit",
    "ml_knn_label_eval",
    "eval_langid_confusion",
    "win_streak_census",
    # round-10 batch-14 additions (≤1.7 s steady at sf0.1, measured)
    "curation_loo_influence",
    "agg_power_analysis",
    "win_rfm_scores",
    # round-10 batch-15 additions (≤0.9 s steady at sf0.1, measured)
    "agg_negbin_overdispersion",
    "plan_backfill_batches",
    "mm_wav_silence_trim",
    "scan_csv_permissive",
    # round-10 batch-16 additions (≤1.4 s steady at sf0.1, measured)
    "dq_referential_orphans",
    "agg_cohort_ltv_curve",
    "stream_window_distinct",
    # round-10 batch-17 additions (≤1.2 s steady at sf0.1, measured)
    "dq_primary_key_audit",
    "agg_return_rate_by_brand",
    "win_ship_latency_percentiles",
    # round-10 batch-18 additions (≤0.8 s steady at sf0.1, measured)
    "agg_crosstab_residuals",
    "sample_balanced_downsample",
    # round-10 batch-19 additions (≤1.6 s steady at sf0.1, measured)
    "ts_week_over_week_growth",
    "curation_budget_by_utility",
    # round-10 batch-20 additions (≤0.8 s steady at sf0.1, measured)
    "agg_session_depth_histogram",
    "text_oov_rate_by_source",
)

# Curation-scale tier: LLM-pipeline operators measured at the 100×
# replica (500k docs / 200k embeddings / 10M events) next to their sf0.1
# times — the direct "would this hold at 1000×?" evidence for the
# non-relational families. Only ops whose cost is honestly data-linear
# belong here: replica documents are word-ROTATED per copy (identical
# unigram statistics, distinct shingles) and embeddings are
# dimension-ROTATED per copy (norm-preserving, distinct vectors — plain
# copies concentrated 100 identical vectors per LSH bucket and blew the
# bucket self-join up 10,000×, the r6 driver-bench timeout), so near-dup
# pair generation is excluded by construction (pair counts are a property
# of the data, not the engine). sim_ann_lsh_topk is deliberately NOT here:
# its all-pairs-within-bucket form is O(N²/2^planes) at the FIXED 8-plane
# oracle contract — honest scaling needs planes ∝ log N; the scale path
# this tier measures is the IVF-indexed variant.
CURATION_SCALE = (
    "curation_dsir",
    "lm_bigram_score",
    "text_langid",
    "agg_tokenizer_fertility",
    "filter_gopher_rules",
    "sketch_topk_vocab",
    "bpe_pair_counts",
    "dedup_exact",
    "sim_ann_ivfpq_topk",
    "etl_sessionize",
    "agg_rolling_active_users",
    # round-7 additions (sf10 steady measured before inclusion: KN 12.3 s,
    # fastText-style 22.7 s, contamination 13.3 s — all honest linear text
    # passes, well inside the 120 s per-op cap)
    "lm_kneser_ney_score",
    "curation_fasttext_quality",
    # round-7 session-2 additions (sf10 steady measured before inclusion:
    # gopher 0.7 s, MG heavy hitters 8.8 s — the MG pass is the
    # constant-memory raw-token mapInPandas path, ~6.5x for 100x data)
    "text_gopher_rules",
    "sketch_mg_heavy_hitters",
    "curation_contamination_report",
    # round-12 addition (measured before inclusion: 4.3 s steady at
    # sf0.1, 6.7 s at the 100x replica — mostly fixed multi-job cost:
    # eager flags checkpoint + shingle equi-join + the running-total
    # driver exchange; the certified end-to-end curation funnel)
    "pipeline_pretrain_manifest",
)

# Headline set: the heaviest representative per operator family.
# q18_bucketed (q18 over the orderkey-bucketed layout) is kept for
# round-over-round comparability of the headline total.
HEADLINE = (
    "q5_revenue_by_nation",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q18_bucketed",
    "join_fk",
    "win_rownum_topk",
    "agg_rollup",
    "topk_global",
)

SF1_DIR = os.path.join(_REPO, ".scratch", "sf1")
SF1_SRC = "/root/testdata/sf0.1"
SF1_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _execute(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# Hard wall-clock budget: the driver kills bench at its own timeout and then
# the round has NO bench record at all (r6: rc=124, parsed null — one op hung
# for 57 min). Better a record with skipped tiers than no record. Optional
# tiers check _remaining() before starting and every capped op runs under a
# job-group watchdog that cancels its Spark jobs at the cap.
_T0 = time.monotonic()
_BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "2100"))


def _remaining() -> float:
    return _BUDGET - (time.monotonic() - _T0)


def _progress(msg: str) -> None:
    print(f"[bench +{time.monotonic() - _T0:.0f}s] {msg}", file=sys.stderr, flush=True)


_CAPPED_SEQ = [0]


def _run_capped(spark, fn, cap_sec: float):
    """Run fn() (plan build + execute — builds can hide data-scanning
    collects) under a job group whose Spark jobs are cancelled after
    cap_sec. Returns (elapsed_or_None, error_or_None).

    The group id is unique per call and cleared in the finally block, and
    the watchdog is joined before returning: a shared id left set on the
    driver thread meant a watchdog firing in the instant fn completed
    could cancel whatever job ran NEXT (later tiers inherited the group),
    surfacing one op's timeout as a spurious failure on a later op."""
    import threading

    sc = spark.sparkContext
    _CAPPED_SEQ[0] += 1
    group = f"bench-capped-{_CAPPED_SEQ[0]}"
    done = threading.Event()

    def _watchdog():
        if not done.wait(cap_sec):
            try:
                sc.cancelJobGroup(group)
            except Exception:
                pass

    sc.setJobGroup(group, "capped bench op", interruptOnCancel=True)
    th = threading.Thread(target=_watchdog, daemon=True)
    th.start()
    t0 = time.perf_counter()
    try:
        fn()
        return round(time.perf_counter() - t0, 4), None
    except Exception as e:  # noqa: BLE001
        return None, f"cancelled/err after {time.perf_counter() - t0:.1f}s: " + str(
            e
        ).splitlines()[0][:120]
    finally:
        done.set()
        th.join(timeout=5)
        # drop the group from the driver thread so later jobs can't inherit it
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            try:
                sc.setLocalProperty(prop, None)
            except Exception:
                pass


def _gc_barrier(spark) -> None:
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _cache_state() -> dict:
    """Host page-cache snapshot (MB) from /proc/meminfo. sf10 reps have
    recorded a 2x cold-cache outlier (16.2 s vs 8.8 s steady) when the
    container's buff/cache was dropped mid-run — recording the cache state
    alongside each tier/rep labels such outliers as environmental data
    instead of leaving them mysteries."""
    out = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("Cached", "MemAvailable", "Buffers"):
                    out[k.lower() + "_mb"] = int(v.strip().split()[0]) // 1024
    except Exception:  # noqa: BLE001
        pass
    return out


def _timed_full_run(qs, name, spark, tier_dir, acc, reps: int = 2) -> None:
    """One warmup then `reps` timed FULL runs (plan rebuild + execute).

    Rebuilding the plan inside the timed region is the point: several
    extended/curation ops materialize corpus-sized intermediates at
    plan-build time (eager localCheckpoints — funnel_conversion,
    graph_triangle_count, MG heavy hitters' candidate pass). Timing only
    _execute on a prebuilt plan would exclude that work from the steady
    numbers while the DuckDB baseline does full work per run. The cache
    is cleared before each rep, untimed, so no rep reads what an earlier
    one persisted."""
    df = qs[name](spark, tier_dir)
    _execute(df)  # warm: codegen, shuffles, broadcasts
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = qs[name](spark, tier_dir)
        _execute(df)
        acc.append(time.perf_counter() - t0)


def _bench_spark(
    qs, names, spark, sf_dir, reps: int = 3, per_query_gc: bool = False, record_cache: bool = False
):
    """Per-query (cold_first_run, build_sec, steady_min, all_reps) on
    prebuilt plans. `per_query_gc` runs a full GC before each query's
    timed reps — used at the heaviest tier, where one query's transient
    heap spike (15M-group hash maps, broadcast builds) otherwise bleeds
    into the NEXT query's every rep (the r4 driver record's q18_bucketed
    11.18 s vs its 1.66 s rehearsal — all reps slow, so min-of-5 could
    not save it; a GC immediately before the reps restores comparable
    heap state per query)."""
    # Tier barrier: a long single-JVM session accumulates broadcasts and
    # old-gen garbage from the previous tiers, which inflates the next
    # tier's first queries and the session tail 3-10x (measured r2-r4).
    # A full GC here makes each tier start from comparable heap state —
    # on a real cluster every job starts in a fresh executor heap anyway.
    _gc_barrier(spark)
    cold, build, steady, allreps = {}, {}, {}, {}
    cache_probe: dict[str, dict] = {}
    for name in names:
        if record_cache:
            cache_probe[name] = _cache_state()
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        build[name] = round(time.perf_counter() - t0, 4)
        cold[name] = round(_execute(df), 4)  # warm: codegen + caches + bcasts
        if per_query_gc:
            _gc_barrier(spark)
        rep_times = [round(_execute(df), 4) for _ in range(reps)]
        allreps[name] = rep_times
        steady[name] = min(rep_times)
    if record_cache:
        allreps["_cache_state"] = cache_probe
    return cold, build, steady, allreps


def _session_evidence(spark) -> dict:
    """Record the session shape the bench actually ran under. getOrCreate
    silently inherits any pre-existing session (e.g. the driver's plain
    correctness-sweep session in the same JVM), and spark.driver.memory is
    fixed at JVM launch — if the heap is small, the heavy tiers GC-thrash
    and no plan change can help. This makes that visible in the record."""
    out = {}
    try:
        rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        out["jvm_max_heap_mb"] = int(rt.maxMemory() / (1024 * 1024))
        out["conf_driver_memory"] = spark.sparkContext.getConf().get(
            "spark.driver.memory", "(unset)"
        )
        out["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        out["aqe"] = spark.conf.get("spark.sql.adaptive.enabled")
    except Exception as e:  # noqa: BLE001
        out["error"] = str(e)
    return out


def _apply_runtime_confs(spark) -> None:
    """Re-assert the tuned spark.sql.* confs at runtime. All of them are
    runtime-settable, so even an inherited plain session runs the bench
    with the intended AQE/partitioning shape (only the JVM heap cannot be
    changed after launch — _session_evidence records that instead)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.shuffle.partitions": str(max(int(cpus), 32)),
        "spark.sql.files.minPartitionNum": cpus,
        "spark.sql.files.openCostInBytes": "262144",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def _duckdb_connection(sf_dir, tables):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    return con


def _duckdb_baseline(names, sf_dir, tables=None, reps: int = 3) -> dict[str, float]:
    """Time the DuckDB oracles on the same parquet (min-of-`reps`, warmed).

    reps=1 at the sf100 tier: the warm+3-timed default costs ~9 min there
    (win_rownum_topk's oracle fetches 45M rows per run), which would eat
    the whole tier budget; one warmed run matches the tier's reduced-rep
    spark side and is recorded as such. Caveat for readers of the sf100
    record: single-rep DuckDB readings at this tier are cache-state
    volatile — q18's baseline measured 14.6 / 35.0 / 67.9 s across three
    equal-code runs (PERF.md §Round-13 head-to-head), so per-query sf100
    ratios carry a 2-3x measurement band; Spark's walls were stable
    within ±25% across the same runs."""
    try:
        from sdg_data_catalog_spark.catalog import TABLES

        con = _duckdb_connection(sf_dir, tables or TABLES)
        oracles = all_oracles()
        out = {}
        for name in names:
            if name not in oracles:
                continue
            con.execute(oracles[name]).fetchall()  # warm
            ds = []
            for _ in range(reps):
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                ds.append(time.perf_counter() - t0)
            out[name] = round(min(ds), 4)
        return out
    except Exception:
        return {}


_FLOORS_PATH = os.path.join(_REPO, "BENCH_FLOORS.json")


def _floor_key(tier: str) -> str:
    """BENCH_FLOORS.json key: a floor holds for one tier on one core count
    (`nproc`) — a 32-core floor says nothing about a 4-core host."""
    return f"{tier}@c{len(os.sched_getaffinity(0))}"


def _load_floors() -> dict | None:
    """All recorded floors; {} when the file does not exist yet, None when
    it exists but cannot be read or parsed."""
    try:
        with open(_FLOORS_PATH) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}
    except (OSError, ValueError):
        return None


def _save_floor_key(key: str, value) -> None:
    """Best-effort write of one BENCH_FLOORS.json entry (floors are an
    optimization aid, never a gate on the record existing). An unreadable
    file is left as it is: rewriting it would drop every other entry."""
    floors = _load_floors()
    if floors is None or floors.get(key) == value:
        return
    floors[key] = value
    try:
        with open(_FLOORS_PATH, "w") as fh:
            json.dump(floors, fh, indent=1)
    except Exception:
        pass


def _host_health_probe(tier: str, sf_dir: str, tables=None) -> dict:
    """Detect a degraded host BEFORE timing a tier (r8 lesson: the official
    sf10 record was taken inside a window where DuckDB itself ran 44%
    slower than r7 on identical parquet — the harness can and should
    notice). Probe = DuckDB q1 on this tier's parquet, min-of-3 warmed
    (the same discipline as the baseline measurements), compared against
    the best q1 ever recorded for the tier in BENCH_FLOORS.json. If the
    probe exceeds 2× the floor, wait and retry (up to 3 attempts) so a
    transient (page-cache eviction storm, co-tenant burst) can pass;
    if it still exceeds the floor, the tier runs anyway but the record
    is stamped degraded=true so no round adopts it as an official
    number. Floors ratchet down monotonically on healthy runs."""
    key = _floor_key(tier)
    rec = (_load_floors() or {}).get(key)
    # Provenance (ADVICE r9): a bare number is a legacy multi-round floor
    # (confirmed); a first-run probe is stored unconfirmed so a degraded
    # host can't seed an inflated baseline that makes every later run on
    # the tier look healthy. An unconfirmed floor is confirmed only when a
    # SECOND independent run probes within 1.5x of it.
    if isinstance(rec, dict):
        floor, confirmed = rec.get("floor"), bool(rec.get("confirmed"))
    else:
        floor, confirmed = rec, rec is not None
    attempts = 0
    probe = None
    while attempts < 3:
        attempts += 1
        probe = _duckdb_baseline(["q1_pricing_summary"], sf_dir, tables=tables).get(
            "q1_pricing_summary"
        )
        over = floor is not None and probe is not None and probe > 2 * floor
        if not over or _remaining() < 180:
            break
        _progress(
            f"host probe {tier}: q1 {probe}s > 2x floor {floor}s — retry {attempts}"
        )
        time.sleep(20)
    health = {
        "probe_q1_sec": probe,
        "floor_q1_sec": floor,
        "floor_confirmed": confirmed,
        "attempts": attempts,
        # an unconfirmed floor can't certify health: stamp degraded=None
        # (unknown) unless a trusted floor says otherwise.
        "degraded": over if confirmed else None,
    }
    if probe is not None:
        new = rec
        if floor is None:
            new = {"floor": probe, "confirmed": False}
        elif not confirmed:
            if probe <= 1.5 * floor and floor <= 1.5 * probe:
                # two independent runs agree within 1.5x — trust the floor
                new = {"floor": min(floor, probe), "confirmed": True}
            elif probe < floor:
                # much faster than the seed: the seed was degraded — restart
                new = {"floor": probe, "confirmed": False}
        elif probe < floor:
            new = {"floor": probe, "confirmed": True}
        _save_floor_key(key, new)
    return health


def _ensure_replica(mult: int, out_dir: str) -> str | None:
    """Generate a `mult`× FK-preserving key-offset replica of sf0.1 once."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.isfile(marker):
        return out_dir
    if not os.path.isdir(SF1_SRC):
        return None
    try:
        import duckdb

        os.makedirs(out_dir, exist_ok=True)
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
        for t in SF1_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF1_SRC}/{t}.parquet')"
            )
        off = {
            k: con.execute(f"SELECT max({c}) + 1 FROM {t}").fetchone()[0]
            for k, (t, c) in {
                "ck": ("customer", "c_custkey"),
                "ok": ("orders", "o_orderkey"),
                "sk": ("supplier", "s_suppkey"),
                "pk": ("part", "p_partkey"),
            }.items()
        }
        rep = f"CROSS JOIN range({mult}) r(i)"
        jobs = {
            "region": "SELECT * FROM region",
            "nation": "SELECT * FROM nation",
            "customer": f"SELECT * REPLACE (c_custkey + i*{off['ck']} AS c_custkey) FROM customer {rep}",
            "supplier": f"SELECT * REPLACE (s_suppkey + i*{off['sk']} AS s_suppkey) FROM supplier {rep}",
            "part": f"SELECT * REPLACE (p_partkey + i*{off['pk']} AS p_partkey) FROM part {rep}",
            "orders": (
                f"SELECT * REPLACE (o_orderkey + i*{off['ok']} AS o_orderkey,"
                f" o_custkey + i*{off['ck']} AS o_custkey) FROM orders {rep}"
            ),
            "lineitem": (
                f"SELECT * REPLACE (l_orderkey + i*{off['ok']} AS l_orderkey,"
                f" l_suppkey + i*{off['sk']} AS l_suppkey,"
                f" l_partkey + i*{off['pk']} AS l_partkey) FROM lineitem {rep}"
            ),
        }
        for t, q in jobs.items():
            con.execute(f"COPY ({q}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
        with open(marker, "w") as fh:
            fh.write("ok")
        return out_dir
    except Exception:
        return None


EXTRA_TABLES = ("documents", "embeddings", "events")


def _ensure_replica_extra(mult: int, out_dir: str) -> bool:
    """Add documents/embeddings/events to an existing replica dir (own
    marker, so pre-existing TPC-H replicas upgrade in place). Documents
    are key-offset + word-ROTATED per copy: identical unigram/vocabulary
    statistics (so linear text ops scale honestly) but distinct shingle
    sets (so the tier cannot manufacture quadratic near-dup pair blowups
    that say nothing about the engine). Embeddings/events are plain
    key-offset copies (copy 0 preserves vec_ids 0-31 — the deterministic
    ANN codebook convention still holds)."""
    # v2: embeddings are dimension-rotated per copy. v1 wrote 100 IDENTICAL
    # copies of each vector, which concentrated LSH/IVF buckets 100-deep and
    # made bucket self-joins quadratic in the duplication factor — the r6
    # driver-bench hang. A stale v1 replica must regenerate.
    marker = os.path.join(out_dir, "_EXTRA_COMPLETE_v2")
    if os.path.isfile(marker):
        return True
    if not os.path.isdir(out_dir):
        return False
    try:
        import duckdb

        for stale in ("_EXTRA_COMPLETE", *(f"{t}.parquet" for t in EXTRA_TABLES)):
            p = os.path.join(out_dir, stale)
            if os.path.isfile(p):
                os.remove(p)

        con = duckdb.connect()
        con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
        for t in EXTRA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF1_SRC}/{t}.parquet')"
            )
        off = {
            "doc": con.execute("SELECT max(doc_id) + 1 FROM documents").fetchone()[0],
            "vec": con.execute("SELECT max(vec_id) + 1 FROM embeddings").fetchone()[0],
            "usr": con.execute("SELECT max(user_id) + 1 FROM events").fetchone()[0],
            "evt": con.execute("SELECT max(event_id) + 1 FROM events").fetchone()[0],
        }
        rep = f"CROSS JOIN range({mult}) r(i)"
        jobs = {
            "documents": (
                "SELECT doc_id + i*{od} AS doc_id, "
                " array_to_string(list_concat("
                "   list_slice(l, (i % greatest(len(l), 1)) + 1, len(l)),"
                "   list_slice(l, 1, i % greatest(len(l), 1))), ' ') AS text,"
                " lang, source, n_chars "
                "FROM (SELECT *, string_split(text, ' ') AS l FROM documents) {rep}"
            ).format(od=off["doc"], rep=rep),
            # dimension-rotate each copy's vectors (copy 0 = identity, so the
            # vec_id 0-31 codebook convention still holds): norm-preserving,
            # identical coordinate statistics, DISTINCT vectors per copy —
            # LSH/IVF bucket occupancy stays data-like instead of 100 deep.
            "embeddings": (
                f"SELECT vec_id + i*{off['vec']} AS vec_id,"
                " list_concat(list_slice(embedding, (i % 64) + 1, len(embedding)),"
                "             list_slice(embedding, 1, i % 64)) AS embedding,"
                f" label FROM embeddings {rep}"
            ),
            "events": (
                f"SELECT * REPLACE (event_id + i*{off['evt']} AS event_id,"
                f" user_id + i*{off['usr']} AS user_id) FROM events {rep}"
            ),
        }
        for t, q in jobs.items():
            con.execute(f"COPY ({q}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
        with open(marker, "w") as fh:
            fh.write("ok")
        return True
    except Exception:
        return False


def _ensure_sf1() -> str | None:
    """The sf1 tier (10× sf0.1) — on by default, SPARK_GRAFT_SF1=0 disables."""
    if os.environ.get("SPARK_GRAFT_SF1", "1") == "0":
        return None
    return _ensure_replica(10, SF1_DIR)


def _ensure_sf10() -> str | None:
    """The sf10 asymptote tier (100× sf0.1, 1.4 GB lineitem) — ON by
    default (SPARK_GRAFT_SF10=0 disables; ~1 min one-time generation,
    cached under .scratch/sf10, ~2 min of bench). This is the tier where
    proportional work dominates the per-query fixed cost: measured
    2026-08-13, Spark's headline total is 0.94× DuckDB's (PERF.md §sf10),
    so it stays in the default run as the scale-gate evidence."""
    if os.environ.get("SPARK_GRAFT_SF10", "1") == "0":
        return None
    return _ensure_replica(100, os.path.join(_REPO, ".scratch", "sf10"))


def _ensure_sf100() -> str | None:
    """The sf100 spot tier (1000× sf0.1: ~600 M lineitem rows, ~15 GB
    parquet) — GENERATION is opt-in (SPARK_GRAFT_SF100=1: minutes of CPU
    and tens of GB of disk the regular per-round bench must not pay), but
    once the replica exists on disk every bench run measures it (r9
    verdict #4: the tier was opt-in end-to-end, so no round ever recorded
    it and the 100× claims stayed extrapolations). Purpose: real numbers
    behind the 'survives 100×' story. The tier runs the FULL headline,
    whose q18_bucketed reads the bucketed layout copy built once next to
    the 15 GB replica; reduced reps keep the tier inside the bench
    budget."""
    out_dir = os.path.join(_REPO, ".scratch", "sf100")
    already = os.path.isfile(os.path.join(out_dir, "_COMPLETE"))
    if not already and os.environ.get("SPARK_GRAFT_SF100", "0") != "1":
        return None
    return _ensure_replica(1000, out_dir)


def _fresh_heap_session():
    """get_spark, but never on a starved inherited heap. getOrCreate joins
    any pre-existing session in this process (the driver runs its
    correctness sweep and then bench in ONE process); a plain session
    launches the JVM with the 1g default heap, which the sf10 tier
    GC-thrashes on — the leading explanation for r4's q18_bucketed
    11.18 s driver reading (all 5 reps slow; 1.66 s rehearsed in a fresh
    tuned JVM). Heap size is fixed at JVM launch, so the only fix is to
    stop the inherited context AND the py4j gateway, then launch a fresh
    JVM with the tuned conf. Evidence of what happened lands in the
    detail record either way."""
    from pyspark.sql import SparkSession

    evidence = {"inherited": False, "restarted": False}
    active = SparkSession.getActiveSession()
    if active is not None:
        evidence["inherited"] = True
        try:
            rt = active.sparkContext._jvm.java.lang.Runtime.getRuntime()
            heap_mb = int(rt.maxMemory() / (1024 * 1024))
        except Exception:
            heap_mb = -1
        evidence["inherited_heap_mb"] = heap_mb
        from sdg_data_catalog_spark.session import _default_driver_mem

        intended_mb = int(_default_driver_mem().rstrip("g")) * 1024
        if 0 <= heap_mb < intended_mb * 0.6:
            try:
                from pyspark import SparkContext

                active.stop()
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                evidence["restarted"] = True
            except Exception as e:  # noqa: BLE001
                evidence["restart_error"] = str(e)
    return get_spark("sdg-bench"), evidence


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark, session_origin = _fresh_heap_session()
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs] or sorted(qs)[:5]

    from sdg_data_catalog_spark.queries.scale_ops import (
        _ensure_bucketed_tables,
        bucketed_layout_on_disk,
    )

    _apply_runtime_confs(spark)

    def _layout(tier_dir: str) -> dict:
        """Build/register the bucketed layout OUTSIDE every timed window and
        record whether work happened (the r4 anomaly hypothesis list
        included a rebuild landing inside the timed region — this makes
        that impossible to miss in the record)."""
        pre = bucketed_layout_on_disk(tier_dir)
        t0 = time.perf_counter()
        _ensure_bucketed_tables(spark, tier_dir)
        info = {"existed_before": pre, "ensure_sec": round(time.perf_counter() - t0, 3)}
        assert bucketed_layout_on_disk(tier_dir), f"bucketed layout missing after ensure: {tier_dir}"
        return info

    layout_info = {"sf0": _layout(sf_dir)}
    # floor key = the actual tier directory name (sf0.1, sf0.001, …) so a
    # small-SF smoke run can never ratchet the sf0.1 floor down
    head_tier = os.path.basename(sf_dir.rstrip("/"))
    host_health = {head_tier: _host_health_probe(head_tier, sf_dir)}
    _progress("headline tier start")
    cold, build, timings, reps0 = _bench_spark(qs, names, spark, sf_dir, reps=3)
    _progress("headline tier done; extended tier start")

    extended: dict[str, float] = {}
    extended_err: dict[str, str] = {}
    for name in (n for n in EXTENDED if n in qs):
        if _remaining() < 360:
            extended_err[name] = "skipped: budget"
            continue
        steady: list[float] = []

        def _measure(nm=name, acc=steady):
            _timed_full_run(qs, nm, spark, sf_dir, acc, reps=2)

        _, err = _run_capped(spark, _measure, 150)
        if err is None and steady:
            extended[name] = round(min(steady), 4)
        else:
            extended_err[name] = err or "no measurements"

    result = {
        "metric": "headline_query_wall_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cold_total_sec": round(sum(cold.values()), 4),
        "build_total_sec": round(sum(build.values()), 4),
        "reps": reps0,
        "extended": extended,
        "baseline_duckdb": _duckdb_baseline(names, sf_dir),
        "session": {**_session_evidence(spark), **session_origin},
        "cache_state_headline": _cache_state(),
        "layout": layout_info,
        "host_health": host_health,
        "budget_sec": _BUDGET,
        "skipped": {},
    }
    if extended_err:
        result["extended_errors"] = extended_err

    # q18_bucketed builds the bucketed layout on first use; a freshly
    # (re)generated replica tier has none yet, so each tier's layout is
    # built before timing — its ingest-time cost never lands in a rep.
    _progress("extended done; sf1 tier start")
    sf1_dir = _ensure_sf1() if _remaining() > 300 else None
    if not sf1_dir:
        # record WHY the tier is absent either way — an ensure helper
        # failing for a non-budget reason must not vanish silently
        result["skipped"]["sf1"] = "budget" if _remaining() <= 300 else "unavailable"
    if sf1_dir:
        try:
            result["layout"]["sf1"] = _layout(sf1_dir)
            host_health["sf1"] = _host_health_probe("sf1", sf1_dir, tables=SF1_TABLES)
            result["cache_state_sf1"] = _cache_state()
            _, _, sf1_timings, sf1_reps = _bench_spark(qs, names, spark, sf1_dir, reps=3)
            sf1_base = _duckdb_baseline(names, sf1_dir, tables=SF1_TABLES)
            result["sf1"] = {
                "queries": sf1_timings,
                "value": round(sum(sf1_timings.values()), 4),
                "reps": sf1_reps,
                "baseline_duckdb": sf1_base,
                "baseline_total": round(sum(sf1_base.values()), 4),
            }
        except Exception as e:  # noqa: BLE001
            result["skipped"]["sf1"] = f"error: {str(e).splitlines()[0][:120]}"

    _progress("sf1 done; sf10 tier start")
    sf10_dir = _ensure_sf10() if _remaining() > 420 else None
    if not sf10_dir:
        result["skipped"]["sf10"] = "budget" if _remaining() <= 420 else "unavailable"
    if sf10_dir:
        # 5 reps at the asymptote tier: min-of-3 let one multi-second host
        # transient (page-cache/GC collision) survive into the record —
        # measured join_fk 7.7 s in one run vs 0.85 s in the next. Also:
        # drop any cached relations from earlier tiers and GC before EACH
        # query (per_query_gc) — the r4 driver record's q18_bucketed ran
        # 11.18 s on all five reps while the identical plan did 1.66 s in
        # rehearsal; a per-query barrier bounds how long one query's heap
        # spike can poison its successors.
        try:
            result["layout"]["sf10"] = _layout(sf10_dir)
            host_health["sf10"] = _host_health_probe("sf10", sf10_dir, tables=SF1_TABLES)
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
            _, _, sf10_timings, sf10_reps = _bench_spark(
                qs, names, spark, sf10_dir, reps=5, per_query_gc=True, record_cache=True
            )
            sf10_base = _duckdb_baseline(names, sf10_dir, tables=SF1_TABLES)
            result["sf10"] = {
                "queries": sf10_timings,
                "value": round(sum(sf10_timings.values()), 4),
                "reps": sf10_reps,
                "baseline_duckdb": sf10_base,
                "baseline_total": round(sum(sf10_base.values()), 4),
            }
        except Exception as e:  # noqa: BLE001
            result["skipped"]["sf10"] = f"error: {str(e).splitlines()[0][:120]}"

    # sf100 spot tier runs BEFORE the curation tail (r9: it sat last, so
    # the _remaining() gate never let it record — the whole reason no round
    # has an sf100 section). Once the replica exists, the spot costs only
    # the measurement (~3-5 min); generation still needs the bigger budget.
    _progress("sf10 done; sf100 spot tier start")
    sf100_ready = os.path.isfile(
        os.path.join(_REPO, ".scratch", "sf100", "_COMPLETE")
    )
    sf100_dir = _ensure_sf100() if _remaining() > (420 if sf100_ready else 900) else None
    if not sf100_dir:
        result["skipped"]["sf100"] = (
            "budget"
            if _remaining() <= (420 if sf100_ready else 900)
            else "replica absent (generation is opt-in: SPARK_GRAFT_SF100=1)"
        )
    if sf100_dir:
        # The bucketed layout q18_bucketed reads is built once and
        # persisted; a budget-starved run that finds it already on disk
        # pays only DDL registration. If it can't be built within budget,
        # fall back to the r10-style 3-query spot so the tier never
        # vanishes from the record.
        layouts_ready = bucketed_layout_on_disk(sf100_dir)
        host_health["sf100"] = _host_health_probe(
            "sf100", sf100_dir, tables=SF1_TABLES
        )
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        try:
            # Full headline ≈ 250 s spark + 270 s duck (measured 2026-08-16
            # dry run, layouts pre-built); with layouts absent add ~15 min
            # of one-time build. Below the gate, fall back to the r10-style
            # 3-query spot (~90 s) so the tier never vanishes.
            full_gate = 800 if layouts_ready else 1800
            if _remaining() > full_gate:
                result["layout"]["sf100"] = _layout(sf100_dir)
                spot = tuple(n for n in HEADLINE if n in qs)
                note = "full headline (bucketed layout on disk); duck reps=1"
            else:
                spot = ("q1_pricing_summary", "q5_revenue_by_nation", "q6_forecast_revenue")
                note = "3-query spot fallback: layout/full-set skipped (budget)"
            _, _, sf100_timings, sf100_reps = _bench_spark(
                qs, spot, spark, sf100_dir, reps=2, per_query_gc=True
            )
            # r15 (verdict item 2): per-QUERY floor gate for the reps=2
            # coin-flip tier — r14 run 2 recorded q18 at 47.5 s on a path
            # git-unchanged since r11. When a query reads > 2× its best
            # ever recorded sf100 time (BENCH_FLOORS.json "sf100_queries",
            # ratchet-down only), it gets 2 EXTRA reps (same prebuilt-plan
            # + GC-barrier methodology, min over ALL reps actually run —
            # more samples of the same estimator, never fewer); a query
            # still above 2× floor after re-repping is annotated in the
            # record as an outlier so the figure is never adopted blind.
            qkey = _floor_key("sf100_queries")
            qfloors = dict((_load_floors() or {}).get(qkey) or {})
            sf100_outliers, sf100_rerepped = {}, []
            for qn in list(sf100_timings):
                fl = qfloors.get(qn)
                if (
                    fl is not None
                    and sf100_timings[qn] > 2.0 * fl
                    and len(sf100_rerepped) < 4
                    and _remaining() > 420
                ):
                    _gc_barrier(spark)
                    df = qs[qn](spark, sf100_dir)
                    extra = [round(_execute(df), 4) for _ in range(2)]
                    sf100_reps[qn] = sf100_reps.get(qn, []) + extra
                    sf100_timings[qn] = min([sf100_timings[qn]] + extra)
                    sf100_rerepped.append(qn)
                if fl is not None and sf100_timings[qn] > 2.0 * fl:
                    sf100_outliers[qn] = {"floor": fl, "sec": sf100_timings[qn]}
                best = sf100_timings[qn]
                qfloors[qn] = round(best if fl is None else min(fl, best), 4)
            _save_floor_key(qkey, qfloors)
            sf100_base = _duckdb_baseline(
                spot, sf100_dir, tables=SF1_TABLES, reps=1
            )
            result["sf100"] = {
                "queries": sf100_timings,
                "value": round(sum(sf100_timings.values()), 4),
                "reps": sf100_reps,
                "baseline_duckdb": sf100_base,
                "baseline_total": round(sum(sf100_base.values()), 4),
                "note": note,
            }
            if sf100_rerepped:
                result["sf100"]["rerepped"] = sorted(sf100_rerepped)
            if sf100_outliers:
                result["sf100"]["outliers"] = sf100_outliers
        except Exception as e:  # noqa: BLE001
            result["skipped"]["sf100"] = f"error: {str(e).splitlines()[0][:120]}"

    _progress("sf100 done; curation-scale tier start")
    if sf10_dir and _remaining() < 300:
        result["skipped"]["curation_scale"] = "budget"
    elif sf10_dir and _ensure_replica_extra(100, sf10_dir):
        # Curation-scale tier: same op, 1× vs 100× text/embedding/event
        # data, steady min-of-2 with a GC barrier per side. The headline
        # number is the RATIO: data grew 100×, wall time should grow far
        # less on 32 cores (fixed overhead amortizes, scans parallelize).
        # Every measurement is deadline-gated and job-cancel capped: one
        # hung op here cost round 6 its entire bench record.
        cur = {}
        for name in (n for n in CURATION_SCALE if n in qs):
            row = {}
            for tier_key, tier_dir in (("sf0.1", sf_dir), ("sf10", sf10_dir)):
                if _remaining() < 150:
                    row["error"] = "skipped: budget"
                    break
                _gc_barrier(spark)
                reps_acc: list[float] = []

                def _measure(nm=name, td=tier_dir, acc=reps_acc):
                    _timed_full_run(qs, nm, spark, td, acc, reps=2)

                _, err = _run_capped(spark, _measure, 120)
                if err is None and reps_acc:
                    row[tier_key] = round(min(reps_acc), 4)
                else:
                    row[tier_key] = None
                    row["error"] = err or "no measurements"
            if row.get("sf0.1") and row.get("sf10"):
                row["ratio_100x"] = round(row["sf10"] / max(row["sf0.1"], 1e-9), 1)
            cur[name] = row
            _progress(f"curation {name}: {row}")
        result["curation_scale"] = {
            "docs": "500k rotated",
            "embeddings": "200k rotated",
            "events": "10M",
            "queries": cur,
        }

    # Full detail goes to a file; stdout gets ONE compact line (the driver's
    # tail capture is ~2 KB — r2/r3 records were truncated to `parsed: null`
    # when the detail tables lived on the stdout line).
    # r15 (verdict item 2): embed the core count and ALSO write a
    # per-cpus detail file — the driver's 8-core scaling run used to
    # clobber the 32-core record (BENCH_DETAIL.json is kept, unchanged,
    # as the latest-run pointer the compact line names; the _c<cpus>
    # twin makes every core count's detail survive side by side).
    result["cpus"] = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    detail_path = os.path.join(_REPO, "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(result, fh, indent=1)
    with open(
        os.path.join(_REPO, f"BENCH_DETAIL_c{result['cpus']}.json"), "w"
    ) as fh:
        json.dump(result, fh, indent=1)

    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "queries": {n: round(v, 3) for n, v in result["queries"].items()},
        "sf": result["sf"],
        "duckdb_total": round(sum(result["baseline_duckdb"].values()), 3),
        "detail": "BENCH_DETAIL.json",
    }
    for tier in ("sf1", "sf10", "sf100"):
        if tier in result:
            compact[f"{tier}_total"] = round(result[tier]["value"], 3)
            compact[f"{tier}_duckdb"] = round(result[tier]["baseline_total"], 3)
    if "curation_scale" in result:
        rows = result["curation_scale"]["queries"].values()
        ok = [r for r in rows if r.get("sf10") is not None]
        compact["cur100x_total"] = round(sum(r["sf10"] for r in ok), 3)
        ratios = sorted(r["ratio_100x"] for r in ok if "ratio_100x" in r)
        if ratios:
            compact["cur100x_med_ratio"] = ratios[len(ratios) // 2]
    if result["skipped"]:
        compact["skipped"] = sorted(result["skipped"])
    degraded_tiers = sorted(
        t for t, h in host_health.items() if h.get("degraded")
    )
    if degraded_tiers:
        # stamp the compact record so a degraded-host number can never be
        # adopted silently as the round's official figure (r8 lesson)
        compact["host_degraded"] = degraded_tiers
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1024, f"compact bench line {len(line)}B > 1KB budget"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
