"""Benchmark harness (driver contract): run the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output: a detail JSON line (with per-query timings, also written to
BENCH_DETAIL.json), followed by the FINAL short JSON line the driver parses:
  {"metric": "headline_queries_total_wall", "value": N, "unit": "sec",
   "sf": ..., "n_queries": K}
The final line is kept under 200 chars because the driver captures only a
bounded tail of stdout (round 3's 2.5 KB single line -> "parsed": null).

Each query is executed to completion via .collect() (results are small —
aggregations / bounded top-k / per-doc stats).

``python bench.py q1 q2 ...`` times only the named headline queries with
the same warm-up, passes and calibration, and leaves BENCH_DETAIL.json
alone — the fast loop for re-measuring a per-query change.
"""

from __future__ import annotations

import json
import os
import sys
import time

from nbi_oedi_etl_spark import get_spark, workload

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the reference workload + one per extension-operator family.
HEADLINE = [
    "flagship_hourly_resample",
    "ref_q1_count_distinct",
    "ref_q2_grouped_count_distinct",
    "ref_q3_topk_per_group",
    "pricing_summary",
    "shipping_priority",
    "regional_supplier_volume",
    "topk_orders",
    "rollup_revenue",
    "promo_revenue_by_month",
    "priority_shipping_counts",
    "customer_order_counts",
    "anti_join_reconciliation",
    "lineitem_dispersion_stats",
    "sliding_window_counts",
    "asof_last_purchase",
    "user_sessions",
    "json_props_stats",
    "doc_token_stats",
    "doc_quality",
    "exact_dedup_docs",
    "minhash_lsh_near_dup",
    "simhash_buckets",
    "embedding_topk_cosine",
    "embedding_lsh_topk",
    "embedding_ivf_topk",
    "large_order_customers",
    "nation_pair_volume",
    "late_shipment_priority_counts",
    "window_rank_suite",
    "rolling_revenue_90d",
    "embedding_norm_stats",
    "minhash_lsh_portable",
    "cascade_daily_rollup",
    "scd2_user_events",
    # TPC-H completion shapes (workload_tpch.py)
    "q6_forecast_revenue",
    "q9_profit_by_nation_year",
    "q10_returned_items",
    "q17_small_qty_revenue",
    "q21_waiting_suppliers",
    # round-2 continuation #2 (workload_ext3.py)
    "q11_important_parts",
    "q13_order_count_distribution",
    "shingle_novelty",
    "doc_word_repetition",
    # round-2 continuation #3 (workload_ext4.py)
    "doc_chunking",
    "doc_tfidf_top_terms",
    "events_hourly_gapfill",
    "part_name_fuzzy_pairs",
    "kmeans_assign_embeddings",
    "corpus_prep_pipeline",
    "variant_props_surface",
    # streaming family (availableNow micro-batch execution, r4 addition —
    # regressions in trigger/state handling must show up in wall-clock)
    "streaming_hourly_resample",
    "streaming_watermark_dedup",
    # round-3 additions
    "multimodal_bmp_roundtrip",
    "corpus_shard_assignment",
    "cross_source_contamination",
    "user_event_sequences",
    "weighted_mixture_sample",
    "label_centroid_quality",
    "multimodal_bmp_resize",
    "multimodal_wav_features",
    "cms_token_topk",
    "hll_distinct_tokens",
    "bloom_decontamination",
    "near_dup_keep_best",
    # round-4 additions
    "multimodal_image_features",
    "multimodal_jpeg_features",
    "near_dup_pipeline_portable",
    "doc_bm25_top_terms",
    "embedding_int8_quantization",
    "doc_unicode_normalize",
    # round-4 wave 2 (workload_ext8.py): curation / graph / maintenance
    "doc_boilerplate_ngrams",
    "char_bigram_lm_score",
    "nation_trade_pagerank",
    "scd1_merge_orders",
    "doc_containment_pairs",
    "event_funnel_conversion",
    # round-4 wave 3 (workload_ext9.py)
    "streaming_cms_token_topk",
    "incremental_dedup_new_docs",
    "bpe_merge_candidates",
    "data_quality_report",
    "embedding_ann_portable",
    "streaming_hll_distinct_tokens",
    "quantile_sketch_order_price",
    "hll_tokens_by_source",
    "session_window_stats",
    "weighted_reservoir_docs",
    "event_value_anomalies",
    "copurchase_triangles",
    "embedding_ivf_portable",
    "ann_recall_portable",
    "event_type_markov",
    "lang_confusion_matrix",
    "kmeans_lloyd_3iter",
    # round-4 wave 5 (workload_ext11.py)
    "supplier_busy_intervals",
    "copurchase_kcore",
    "kmv_source_overlap",
    "embedding_covariance",
    "doc_lexical_diversity",
    # round-4 wave 6 (workload_ext12.py)
    "doc_sparse_cosine_pairs",
    "winnowing_fingerprints",
    "semantic_dedup_cells",
    "token_pmi_bigrams",
    "dup_cluster_size_histogram",
    # round-4 wave 7 (workload_ext13.py)
    "rapid_reorder_pairs",
    "part_name_sorted_neighborhood",
    # round-6 addition: the composed ER pipeline (candidates -> window
    # contraction -> star closure -> survivorship) was the heaviest
    # query NOT in the headline set — measuring it closes a silent cap
    "part_golden_records",
    "event_value_mad_outliers",
    "minhash_estimator_audit",
    # round-4 wave 8 (workload_ext14.py)
    "doc_token_entropy",
    "user_interarrival_stats",
    "bm25_search_ranking",
    "daily_active_wau",
    # round-4 wave 9 (workload_ext15.py)
    "event_value_psi_drift",
    "table_content_digest",
    "session_event_trigrams",
    "near_dup_source_modularity",
    # round-4 wave 10 (workload_ext16.py)
    "resample_incremental_merge",
    # round-4 wave 11 (workload_ext17.py)
    "referential_integrity_matrix",
    "order_price_percentiles_cont",
    "orders_keyset_pagination",
    # round-4 wave 12 (workload_ext18.py)
    "bpe_apply_merges",
    "daily_volume_seasonal_residuals",
    "purchase_conversion_ab_test",
    # round-4 wave 13 (workload_ext19.py)
    "streaming_foreachbatch_upsert",
    "event_funnel_windowed",
    "revenue_pareto_analysis",
    # round-4 wave 14 (workload_ext20.py)
    "quality_classifier_inference",
    "classifier_calibration_bins",
    "lang_source_chi2",
    # round-4 wave 15 (workload_ext21.py)
    "brand_basket_rules",
    "classifier_roc_auc",
    "benford_first_digit",
    # round-4 wave 16 (workload_ext22.py)
    "doc_jaccard_prefix_join",
    "event_value_welch_ttest",
    "event_type_ewma_daily",
    # round-4 wave 17 (workload_ext23.py)
    "orders_column_profile",
    "cumulative_unique_users",
    "order_ols_price_vs_items",
    # round-4 wave 18 (workload_ext24.py)
    "hll_sliding_weekly_users",
    "scd2_user_state_history",
    "part_price_size_skyline",
    # round-4 wave 19 (workload_ext25.py)
    "copurchase_bfs_hops",
    "classifier_pr_curve",
    "user_state_snapshot_diff",
    # round-4 wave 20 (workload_ext26.py)
    "customer_k_anonymity_audit",
    "doc_readability_forcast",
    "phrase_search_positions",
    # round-4 wave 21 (workload_ext27.py)
    "customer_rfm_segmentation",
    "event_value_imputation",
    "purchase_attribution_first_last",
    # round-4 wave 22 (workload_ext28.py)
    "segment_bitmap_overlap",
    "order_rate_interpolation",
    "conversion_latency_histogram",
    # round-4 wave 23 (workload_ext29.py)
    "shard_slot_apportionment",
    "max_concurrent_sessions_daily",
    "event_value_twap_daily",
    # round-4 wave 24 (workload_ext30.py)
    "hash_uniformity_ks",
    "order_price_equidepth_histogram",
    "brand_price_quantity_ols",
    # round-4 wave 25 (workload_ext31.py)
    "median_ci_order_stats",
    "journey_similarity_matrix",
    "cohort_ltv_curve",
    # round-4 wave 26 (workload_ext32.py)
    "streaming_cumulative_unique_users",
    "greedy_coverage_selection",
    # round-4 wave 27 (workload_ext33.py)
    "weighted_median_price",
    "source_quantile_normalize",
    "streaming_ewma_daily",
    # round-6 addition, benched from round 7 (a registered+oracled spec
    # outside the headline set can hide a perf cliff — the JPEG twin
    # costs 1.67 s, so the WebP decode path gets measured too)
    "multimodal_webp_features",
    # round-9 additions, benched same-round per the freeze policy: the
    # two-pass-spine family (workload_spine.py / operators/skew.py),
    # keyed and global forms
    "spine_user_sessions",
    "spine_running_value_sum",
    "spine_event_rank",
    "spine_global_running_value_sum",
    "spine_global_event_rank",
    # round-10 additions, benched same-round per the freeze policy: the
    # at-rest banded-layout twin (write-once layout memoized per session,
    # so the steady-state number is the PROBE cost — the shape users pay
    # per CDC batch) and its streaming CDC loop (3 micro-batches of
    # probe+append, layout rebuilt per run — the full loop cost)
    "banded_layout_portable",
    "streaming_banded_cdc_dedup",
    # registered after the r10 window froze, benched same-round:
    # concat-and-cut training-sequence packing
    "corpus_pack_sequences",
    "corpus_pack_slices",
    "corpus_pack_sequences_global",
    "source_token_budget_cap",
    # round-11 (VERDICT r10 task 5): the xxhash64 production-family CDC
    # twin at the portable twin's banding geometry — the per-round
    # portable-vs-production hashing premium is the ratio of these two
    "streaming_banded_cdc_dedup_production",
    # round-11 (task 9): substring-level dedup — sorted shingle spine +
    # run-length grouping (the distributed Lee-et-al duplicate-span form)
    # + its repair half (cut non-canonical spans, emit cleaned corpus)
    "doc_duplicate_spans",
    "doc_cut_duplicate_spans",
    # round-11: packing-family companions (boundary-mask audit stats +
    # temperature mixture allocation) and packing as a CDC stream
    "pack_boundary_stats",
    "source_temperature_mixture",
    "streaming_pack_sequences",
    # round-11: the IVF layout's CDC loop as a stream (ANN sibling of
    # streaming_banded_cdc_dedup; rows-only) + span-level benchmark
    # decontamination (the cut-not-drop recipe)
    "streaming_ivf_cdc_ann",
    "benchmark_contamination_spans",
    # round-11 wave 2: product quantization (train/encode + ADC top-k),
    # the seeded deterministic epoch shuffle, and the CCNet perplexity
    # filter decision
    "embedding_pq_codes",
    "embedding_pq_adc_topk",
    "corpus_epoch_shuffle",
    "ccnet_perplexity_buckets",
    "pq_recall_audit",
    "ivf_pq_portable",
    # round-12 (VERDICT r11 task 9), benched same-round per the freeze
    # policy: tokenizer-true packing on BPE unit counts
    "corpus_pack_sequences_bpe",
    # round-12: the compressed-tier CDC stream (banded/IVF/IVF-PQ triple)
    "streaming_ivf_pq_cdc_ann",
    # round-13, benched same-round per the freeze policy: the two
    # quality/cost curves (IVFADC recall-vs-n_probe; LSH bands×rows
    # S-curve vs exact prefix-filter Jaccard truth)
    "ivf_pq_recall_curve",
    "lsh_banding_recall_curve",
    "ivf_recall_curve",
]


def _spin(n: int) -> int:
    s = 0
    for i in range(n):
        s += i
    return s


def _host_calibration_mt(nproc: int = 8) -> float:
    """MULTI-core speed token (r12, VERDICT r11 task 4): wall seconds
    for 8 concurrent 1e7-iteration loops in separate PROCESSES (the GIL
    serializes threads, so a thread pool would measure single-core speed
    twice). Quiet this runs ≈ the single-core token (8 loops on 32 cores
    in parallel, ~0.27-0.4 s incl. pool overhead); under co-tenant
    multi-core steal it inflates MORE than the single-core token — r11
    measured a ~1.9× degraded bench window whose single-core calib read
    only 1.3×, exactly the gap this probe exists to close. Min of two
    trials on a shared pool (steal inflates, never deflates)."""
    import concurrent.futures as cf
    import multiprocessing as mp

    best = float("inf")
    try:
        with cf.ProcessPoolExecutor(
            nproc, mp_context=mp.get_context("fork")
        ) as ex:
            # warm the pool so worker spawn isn't billed to trial 1
            list(ex.map(_spin, [1] * nproc))
            for _ in range(2):
                t0 = time.perf_counter()
                list(ex.map(_spin, [10**7] * nproc))
                best = min(best, time.perf_counter() - t0)
    except Exception:
        return -1.0  # sandboxed/fork-less host: guard falls back to 1-core
    return round(best, 3)


def _host_calibration() -> float:
    """Single-core speed token: seconds for a 1e7-iteration pure-Python
    sum loop (the methodology documented in VERIFICATION_r10 §17 —
    ~0.27 s on this VM's quiet state, 0.8-1.3 s under co-tenant CPU
    steal). Recorded beside the per-query medians so the regression
    guard can scale its budgets by how degraded the MEASURING host was
    relative to the host that recorded the reference — shared-host
    steal is invisible to loadavg, so wall-clock alone cannot tell a
    regression from a slow day. Min of two trials (steal inflates,
    never deflates)."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        s = 0
        for i in range(10**7):
            s += i
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    subset = sys.argv[1:]
    names = subset or HEADLINE
    unknown = sorted(set(names) - set(HEADLINE))
    if unknown:
        raise SystemExit(f"unknown headline queries: {unknown}")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    # No console progress bars: their \r-redraw fragments interleave with the
    # final JSON line in captured output and can defeat last-line parsing.
    spark = get_spark(
        app_name="nbi-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = workload.queries()
    # JVM/codegen/python-worker warmup on the smallest SF so per-query times
    # measure the query, not first-run initialization: one plain-SQL query
    # plus one pandas-UDF query (Arrow + python worker pool spinup is ~5-10 s
    # the first time and would otherwise be billed to the first UDF query).
    qs["ref_q1_count_distinct"](spark, "/root/testdata/sf0.001").collect()
    qs["embedding_ivf_topk"](spark, "/root/testdata/sf0.001").collect()

    # Median of three runs per query (round-7 change, r6 verdict task 7):
    # the host has intermittent external load spikes (VM steal / GC) that
    # can inflate a single run 5-30×. The per-query MIN is the classic
    # noise-robust estimator but biases the headline low run-to-run; the
    # median of 3 is robust to a single spike AND unbiased, so totals are
    # comparable across rounds. Min/max are kept as the spread.
    #
    # The three samples are INTERLEAVED (r8): full pass over all queries,
    # three times, instead of back-to-back triples. Back-to-back samples
    # share any multi-second steal burst, so one burst could poison all 3
    # samples of whichever query it landed on and the median passed it
    # through (observed: a 0.9 s query reported at 17 s). With ~minutes
    # between a query's samples, a burst hits at most one of them and the
    # median filters it. Total work is unchanged.
    sampled: dict[str, list[float]] = {name: [] for name in names}
    # One calibration sample per pass, reported as the MEDIAN: steal
    # varies WITHIN a run, and a single end-of-run sample can claim a
    # quiet host for a run that spent two passes degraded (observed:
    # calib 0.36 on a run whose total was 2× the quiet baseline). The
    # per-pass median represents the same host state the per-query
    # medians were measured under.
    calibs: list[float] = []
    calibs_mt: list[float] = []
    for _ in range(3):
        calibs.append(_host_calibration())
        calibs_mt.append(_host_calibration_mt())
        for name in names:
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).collect()
            sampled[name].append(time.perf_counter() - t0)
    calibs.sort()
    calibs_mt.sort()
    times: dict[str, float] = {}
    lo: dict[str, float] = {}
    hi: dict[str, float] = {}
    for name, samples in sampled.items():
        samples.sort()
        times[name] = round(samples[1], 3)
        lo[name] = round(samples[0], 3)
        hi[name] = round(samples[2], 3)

    total = round(sum(times.values()), 3)
    # Key ORDER is deliberate (r13 verdict process nit): the driver
    # records a bounded TAIL of stdout, so whatever dict prints last is
    # what a reader of BENCH_r{N}.json sees as "the per-query numbers".
    # With min/max first and the MEDIANS last, the tail shows the same
    # estimator as the parsed total — r13's tail ended in queries_max
    # (the worst pass's samples), which read as 4× regressions the
    # medians refuted.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "estimator": "median3",
        "spread": [round(sum(lo.values()), 3), round(sum(hi.values()), 3)],
        "sf": sf,
        "calib_s": calibs[1],
        "calib_samples": calibs,
        # multi-core token (r12): quiet ≈ calib_s + pool overhead; under
        # multi-core steal it inflates more than the 1-core token, so the
        # guard calibrates on the WORSE of the two ratios
        "calib_mt_s": calibs_mt[1],
        "calib_mt_samples": calibs_mt,
        "queries_min": lo,
        "queries_max": hi,
        # medians LAST so the driver's stdout tail shows them
        "queries": times,
    }
    # Per-query detail goes to a file + an early stdout line; the FINAL stdout
    # line is a short summary. Round 3's single ~2.5 KB JSON line
    # outgrew the driver's captured output tail -> BENCH_r03 "parsed": null.
    if not subset:
        with open(os.path.join(os.path.dirname(__file__), "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    # r15 (VERDICT r14 issue 1 / task 3): per-query medians in
    # driver-parsable form. (a) One small JSON line per query, before
    # the detail/summary lines, for any line-oriented reader of the full
    # stdout; (b) a size-bounded "queries" map on the FINAL line (below).
    for name in names:
        print(json.dumps({"query": name, "median_s": times[name]}))
    print(json.dumps(detail), flush=True)
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "estimator": "median3",
        # spread rounded to 1 decimal HERE ONLY (full precision
        # in BENCH_DETAIL.json): the summary must stay small
        # for the driver's bounded stdout tail (see below)
        "spread": [round(v, 1) for v in detail["spread"]],
        # median per-pass host-speed tokens (single-core quiet VM
        # ≈ 0.27 s/1e7; multi-core = 8×1e7 across processes):
        # lets a reader tell a regression from a degraded shared
        # host when comparing rounds
        "calib_s": detail["calib_s"],
        "calib_mt_s": detail["calib_mt_s"],
    }
    # The driver records a ~2000-char stdout TAIL and parses its last
    # line, so a final line longer than the tail head-truncates and
    # parses as null (observed round 3 at ~2.5 kB). The full 199-entry
    # median map is ~5 kB — it cannot ride the final line. Compromise:
    # carry the LARGEST queries' medians (the ones regression tracking
    # cares about) up to a hard line budget, count the rest in
    # "queries_elided", and keep the full map in BENCH_DETAIL.json and
    # the detail line above. Existing entries are never renamed; the
    # set may grow/shrink only at the budget boundary.
    _LINE_BUDGET = 1900
    summary["queries_elided"] = len(times)
    summary["queries"] = {}
    base_len = len(json.dumps(summary))
    for name in sorted(times, key=lambda n: -times[n]):
        # per-entry cost in the rendered line: key + ": " + value + ", "
        entry_len = len(json.dumps(name)) + len(json.dumps(times[name])) + 4
        if base_len + entry_len > _LINE_BUDGET:
            break
        summary["queries"][name] = times[name]
        summary["queries_elided"] -= 1
        base_len += entry_len
    print(json.dumps(summary), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
