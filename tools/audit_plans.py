"""Physical-plan audit over the whole query registry.

Builds every registered query at the given sf dir, inspects the
formatted plan, and writes PLANS.md: a per-query table of shuffle
count, broadcast count, codegen presence, scan pushdown, and red
flags (CartesianProduct, non-Arrow Python UDFs, InMemoryTableScan of
unexpected caches). The red-flag column must stay empty except for
the documented exceptions below.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from koalas_spark import get_spark
from koalas_spark.queries import all_queries

# queries whose plan legitimately contains the listed construct
EXPECTED = {
    # tiny probe/band/count sides joined without equi keys — build side
    # is bounded by construction, so a broadcast nested loop is the plan
    "ann_bruteforce_topk": {"BroadcastNestedLoopJoin"},
    # #477's exact-BF twin: the same 5-probe broadcast non-equi join
    # as ann_bruteforce_topk, bounded by construction
    "graph_search_recall_audit": {"BroadcastNestedLoopJoin"},
    "ann_int8_topk": {"BroadcastNestedLoopJoin"},
    # 16-row codebook / 5-row probe frames cross-joined by construction
    "ann_pq_topk": {"BroadcastNestedLoopJoin"},
    "ann_ivf_pq_topk": {"BroadcastNestedLoopJoin"},
    # 16-row centroid frame cross-joined for the cell assignment
    "neardup_embedding_cells": {"BroadcastNestedLoopJoin"},
    # real PNG encode/decode (stdlib zlib) runs in mapInPandas
    "multimodal_png_roundtrip": {"Python"},
    # real GIF87a LZW encode/decode runs in mapInPandas
    "multimodal_gif_roundtrip": {"Python"},
    # real baseline JPEG encode/decode runs in mapInPandas
    "multimodal_jpeg_roundtrip": {"Python"},
    # real WAV decode -> decimate -> re-encode runs in mapInPandas
    "multimodal_audio_resample": {"Python"},
    "ann_lsh_topk": {"BroadcastNestedLoopJoin"},
    "range_join_price_bands": {"BroadcastNestedLoopJoin"},
    "q19_discount_revenue": {"BroadcastNestedLoopJoin"},
    # scalar-subquery sides (1-row count/avg frames) joined without a
    # key — a broadcast nested loop over a single row is the plan
    "ann_ivf_topk": {"BroadcastNestedLoopJoin", "Python"},
    "q11_important_parts": {"BroadcastNestedLoopJoin"},
    "q22_prospects": {"BroadcastNestedLoopJoin"},
    "tfidf_top_terms": {"BroadcastNestedLoopJoin"},
    # 1-row supplier-count frame cross-joined onto the part scan to
    # derive partsupp (tpch_partsupp._partsupp); q11 also crosses the
    # 1-row grand-total frame back onto the per-part values
    "q2_min_cost_supplier_ps": {"BroadcastNestedLoopJoin"},
    "q11_important_parts_ps": {"BroadcastNestedLoopJoin"},
    "q16_supplier_part_cnt_ps": {"BroadcastNestedLoopJoin"},
    "q20_promo_suppliers_ps": {"BroadcastNestedLoopJoin"},
    # 1-row c_max frame cross-joined onto the 5-row language counts
    "lang_temperature_resample": {"BroadcastNestedLoopJoin"},
    # 1-row max-doc-id frame cross-joined onto the per-doc novelty rows
    "ngram_novelty_curve": {"BroadcastNestedLoopJoin"},
    # 1-row gauge-totals frame cross-joined onto the window counts
    "stream_rate_alert": {"BroadcastNestedLoopJoin"},
    # 1-row hour-span frame cross-joined onto the 5 type-moment rows
    "event_burstiness_fano": {"BroadcastNestedLoopJoin"},
    # 1-row digit-total frame cross-joined onto the 10 digit rows
    "last_digit_uniformity_audit": {"BroadcastNestedLoopJoin"},
    # 1-row stats frames cross-joined together (na/ndv, nb/ndv, exact)
    "join_cardinality_estimate_audit": {"BroadcastNestedLoopJoin"},
    # 1-row contingency-total frame + <=150-cell domain cross-join
    "quantity_return_mutual_info": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-totals frame cross-joined onto the 256-row model
    "dsir_importance_resample": {"BroadcastNestedLoopJoin"},
    # 1-row tie-correction frame cross-joined onto the 1-row pivot
    "kruskal_wallis_quantity": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # 15-row lag dimension cross-joined onto the bounded day table
    "cross_correlation_daily": {"BroadcastNestedLoopJoin"},
    # 1-row q=1 variance frame cross-joined onto the 3 q rows
    "variance_ratio_daily": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # 1-row moment/max frames cross-joined onto the day table
    "grubbs_outlier_daily": {"BroadcastNestedLoopJoin"},
    # parquet footer parse (pyarrow) runs in mapInPandas over the
    # FILE LIST — metadata-only by design, never touches data pages
    "footer_stats_integrity_audit": {"Python"},
    # 32-row replica dimension cross-joined after the scan projection
    "bootstrap_ci_mean": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # 12-candidate frames cross-joined for the bounded pair-sim matrix
    "mmr_diversified_topk": {"BroadcastNestedLoopJoin"},
    # 1-row day-count frame cross-joined onto the 1-row sign counts;
    # the days^2 pair sweep is a non-equi range join (d2 > d1) over
    # the bounded day domain — the theil_sen shape
    "kendall_tau_daily": {"BroadcastNestedLoopJoin"},
    # 1-row lag-moment pivot cross-joined onto the 1-row global frame
    "pacf_daily": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-total frame cross-joined onto the 15-cell table
    "theil_u_priority_status": {"BroadcastNestedLoopJoin"},
    # four 1-row per-w mean frames cross-joined into the slope pivot
    "hurst_rs_daily": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-token-total frame cross-joined onto the cells
    "source_token_hellinger": {"BroadcastNestedLoopJoin"},
    # 1-row moment frame cross-joined onto the bounded day table
    "sax_transition_daily": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # 30-row top-token frame cross-joined onto the 20 sources
    "burrows_delta_sources": {"BroadcastNestedLoopJoin"},
    # 1-row week-count frame cross-joined onto the 1-row dow pivot
    "friedman_dow_test": {"BroadcastNestedLoopJoin"},
    # 1-row x_ref frame cross-joined onto the 500 top rows
    "hill_tail_index": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # bounded day-domain pair join (j.idx <= t.idx) + 1-row moments
    "ewma_control_chart_daily": {"BroadcastNestedLoopJoin"},
    # 50-row depth-weight table range-joined onto the shared ranks
    "rbo_token_halves": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # four 1-row capture-count frames cross-joined into the estimate
    "capture_recapture_customers": {"BroadcastNestedLoopJoin"},
    # 20-row top-k frames: non-equi Kendall pair self-join + 1-row
    # churn-count frames cross-joined for the single summary row
    "topk_churn_halves": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # 190-row pair panel cross-joined with the bounded mask-count table
    "source_vocab_jaccard_matrix": {"BroadcastNestedLoopJoin"},
    # 1-row coin-totals frame cross-joined onto the 256 cell counts
    "hash_uniformity_audit": {"BroadcastNestedLoopJoin"},
    # inherits #42's bounded probe-side nested loop (5-probe frame)
    "ann_recall_audit": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-token-total frame cross-joined onto per-term rows
    "source_token_jsd": {"BroadcastNestedLoopJoin"},
    # 1-row lambda-moments frame cross-joined onto the <=10 count cells
    "lineitems_poisson_gof": {"BroadcastNestedLoopJoin"},
    # 1-row distinct-value-bytes frame cross-joined onto 1-row col stats
    "dict_encoding_advisor": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-stats frame (N docs, T tokens) cross-joined onto
    # the per-(term,doc) tf rows
    "bm25_topk": {"BroadcastNestedLoopJoin"},
    # 9-row query-token frame crossed onto the exploded token stream
    "maxsim_late_interaction": {"BroadcastNestedLoopJoin"},
    # largest-remainder apportionment windows over the one-row-per-
    # source rollup (bounded by the source domain, ~20 rows)
    "mixture_weight_solver": {"GlobalWindow"},
    # matrix-profile pair: day-squared non-equi self-join over the
    # ~2.4k-row daily artifact (theil_sen class) + bounded-domain
    # subsequence windows over the same artifact
    "daily_revenue_motif": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    "daily_revenue_discord": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # retrieval-eval ops inherit #148's 1-row corpus-stats cross join
    # (and precision adds a 2-row k-dimension cross)
    "ndcg_at_10_eval": {"BroadcastNestedLoopJoin"},
    "mrr_full_match": {"BroadcastNestedLoopJoin"},
    "precision_recall_at_k": {"BroadcastNestedLoopJoin"},
    "query_likelihood_dirichlet": {"BroadcastNestedLoopJoin"},
    # 1-row node-count frame cross-joined onto the 25-row nation frame
    "pagerank_nations": {"BroadcastNestedLoopJoin"},
    # 10-row centroid frames self-joined on label < label (non-equi
    # upper triangle) — k x k tiny by construction
    "centroid_similarity_matrix": {"BroadcastNestedLoopJoin"},
    # 1-row median-threshold frame cross-joined onto the RFM table
    "rfm_segmentation": {"BroadcastNestedLoopJoin"},
    # 16-row codebook frames cross-joined for the two encode passes
    # and the 256-row cross table — all bounded by construction
    "ann_rq_topk": {"BroadcastNestedLoopJoin"},
    # two 1-row frames (edge count × triangle count) cross-joined
    "triangle_count_parts": {"BroadcastNestedLoopJoin"},
    # same two-1-row-frames crossJoin as triangle_count_parts
    "triangle_count_doulion": {"BroadcastNestedLoopJoin"},
    # 1-row viewer-count frame cross-joined onto the 1-row stats frame
    "conversion_latency_stats": {"BroadcastNestedLoopJoin"},
    # 1-row total-token frame cross-joined onto the bigram aggregate
    "collocation_pmi_topk": {"BroadcastNestedLoopJoin"},
    # Arrow-vectorized Python stages (grouped-map / map-in-pandas)
    "grouped_demean_arrow": {"Python"},
    "multimodal_features": {"Python"},
    "multimodal_meta": {"Python"},
    "multimodal_resize": {"Python"},
    # real raster decode (pure-numpy netpbm/BMP) runs in mapInPandas
    "multimodal_decode_resize": {"Python"},
    # real raster decode + integer aHash runs in mapInPandas
    "multimodal_image_ahash": {"Python"},
    # real raster decode + integer dHash runs in mapInPandas
    "multimodal_image_dhash": {"Python"},
    # real TIFF encode/decode (pure struct/numpy) runs in mapInPandas
    "multimodal_tiff_roundtrip": {"Python"},
    # real QOI encode/decode (pure python/numpy) runs in mapInPandas
    "multimodal_qoi_roundtrip": {"Python"},
    # cogrouped Arrow applyInPandas — the grouped-Python API by design
    "cogroup_monthly_reconciliation": {"Python"},
    # Arrow-optimized scalar Python UDF (ArrowEvalPython) — the demo
    # of Spark 4's sanctioned UDF path, by design
    "arrow_python_udf_demo": {"Python"},
    # 1-row modal-journey frame cross-joined onto the per-user journeys
    "event_journey_edit_distance": {"BroadcastNestedLoopJoin"},
    # three 1-row frames (m, m_in, community stats) cross-joined
    "modularity_copurchase": {"BroadcastNestedLoopJoin"},
    # 1-row overall-sign frame cross-joined onto the 14-row strata
    "simpson_reversal_audit": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-total frame cross-joined onto the 25-cell domain
    "source_lang_enrichment": {"BroadcastNestedLoopJoin"},
    # 1-row English-baseline frame cross-joined onto the 5-lang domain
    "cross_lingual_length_ratio": {"BroadcastNestedLoopJoin"},
    # 3-row offset dims cross-joined for the bounded 3x3 cell fan-out;
    # three 1-row stats frames cross-joined for the summary row
    "spatial_grid_join": {"BroadcastNestedLoopJoin"},
    # 7-row lag frame fanned over the bounded day table + 1-row n frame
    # (the #254 acf shape)
    "ljung_box_daily": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # 1-row corpus-total frame cross-joined onto the 25-row group table
    "theil_between_nations": {"BroadcastNestedLoopJoin"},
    # real WAV parse + frame features run in mapInPandas
    "multimodal_audio_features": {"Python"},
    # real AVI container walk runs in mapInPandas
    "multimodal_video_frames": {"Python"},
    "kmeans_clusters": {"Python"},
    "stream_stateful_sessions": {"Python"},
    "dedup_minhash_lsh": {"Python"},
    "dedup_simhash": {"Python"},
    # #38's Arrow signature map feeding the estimator-error audit
    "minhash_estimate_audit": {"Python"},
    # mapInArrow partial-stats kernel (PythonMapInArrow)
    "int8_quant_error_scan": {"Python"},
    # bounded global windows: mom_pct_change lags over post-agg month rows
    # (≤ a few hundred ever); doc_pack_shards' level-3 prefix window holds
    # |corpus|/2^20 superblock rows (~1e5 at 1e11 docs)
    "mom_pct_change": {"GlobalWindow"},
    "doc_pack_shards": {"GlobalWindow"},
    # cumulative coverage over the ≤64-row log2-frequency bucket frame,
    # plus the 1-row total-mass frame cross-joined onto it
    "token_freq_spectrum": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # 2-row goals frame cross-joined onto the 2-row variant aggregate
    "ab_test_conversion_lift": {"BroadcastNestedLoopJoin"},
    # Arrow mapInPandas Gram kernel: one d x d int64 partial per batch
    "embedding_covariance": {"Python"},
    # prefix-min over the price_cents table — DOMAIN-bounded (~1.2e5
    # distinct cents values at any corpus size), same bounded shape as
    # doc_pack_shards' superblock window
    "pareto_skyline_parts": {"GlobalWindow"},
    # prefix sums over day-DOMAIN-bounded tables (~#days rows at any
    # corpus size) — same bounded shape as mom_pct_change
    "cumulative_distinct_users": {"GlobalWindow"},
    "orders_backlog_daily": {"GlobalWindow"},
    # rank window over the TakeOrdered top-500 token frame (bounded)
    "zipf_alpha_fit": {"GlobalWindow"},
    # built on the #42 brute-force baseline: probes broadcast onto the
    # corpus without an equi key
    "knn_label_vote": {"BroadcastNestedLoopJoin"},
    # prefix sum + row index over the day-domain daily table, plus two
    # 1-row frames (corpus stats, peak deviation) cross-joined back
    "event_cusum_deviation": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # rank windows over the bounded top-20 frames; BNLJ from the 1-row
    # corpus-stats frame (bm25 leg) and the single-probe broadcast
    # (dense leg)
    "rrf_fusion_retrieval": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # two 1-row stat frames cross-joined
    "skew_audit_orders": {"BroadcastNestedLoopJoin"},
    # the shared three-level prefix sum's superblock window
    # (|corpus|/2^20 rows — same bounded shape as doc_pack_shards)
    "stable_row_numbering": {"GlobalWindow"},
    # $100-bucket-domain prefix window; 1-row n / 1-row boundary-array
    # frames cross-joined back
    "decile_lift_table": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # 3-row hash-index frame + 1-row stat frames cross-joined
    "bloom_filter_membership": {"BroadcastNestedLoopJoin"},
    # 4-row depth frame cross-joined onto token counts / top-20 probes
    "cms_heavy_hitters": {"BroadcastNestedLoopJoin"},
    # $100-bucket-domain prefix window (same bounded shape as
    # decile_lift_table)
    "auc_mann_whitney": {"GlobalWindow"},
    # 1-row era-totals frame cross-joined onto the 10-band histogram
    "psi_price_drift": {"BroadcastNestedLoopJoin"},
    # centered 7-row moving sum over the day-DOMAIN daily table
    "seasonal_dow_decompose": {"GlobalWindow"},
    # 1-row total frame cross-joined onto the 9-digit histogram
    "benford_price_audit": {"BroadcastNestedLoopJoin"},
    # 5-row language frame and 1-row vocab-size/train-count frames
    # cross-joined to build the vocab x language model table
    "naive_bayes_langid": {"BroadcastNestedLoopJoin"},
    # 256-row sketch frames and 1-row theta/stat frames cross-joined
    "sketch_kmv_set_ops": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-stats frame cross-joined onto the per-token table
    "chi2_feature_selection": {"BroadcastNestedLoopJoin"},
    # 7-row lag frame cross-joined onto the day-domain daily table
    "acf_daily_revenue": {"BroadcastNestedLoopJoin"},
    # 1-row horizon frame cross-joined; suffix/prefix sums over the
    # ~2.4k-row lifetime-day DOMAIN (same bounded shape as
    # seasonal_dow_decompose)
    "km_survival_curve": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # prefix sum over the DISTINCT-slope table (bounded: pairs are
    # day-domain^2, never corpus^2) plus 1-row n_days/n_pairs/median
    # frames cross-joined back
    "theil_sen_daily_trend": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # 1-row basket-count frame cross-joined onto the scored pairs
    "basket_affinity_lift": {"BroadcastNestedLoopJoin"},
    # prefix sum over the price-cents DOMAIN histogram (bounded);
    # 1-row n/max/argmax frames cross-joined back
    "ks_test_price_eras": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # day-domain pair enumeration (db > da non-equi against the
    # broadcast ~2.4k-row daily table) + 1-row stat frames
    "mann_kendall_trend": {"BroadcastNestedLoopJoin"},
    # lag/lead + p90 prefix sum over the bounded day domain; 1-row
    # p90/total frames cross-joined back
    "daily_revenue_peaks": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # running max + argmin over the bounded day domain; 1-row
    # max-drawdown frame cross-joined back
    "max_drawdown_daily": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # rank window over the TakeOrdered top-5000 vocab frame (bounded,
    # zipf_alpha_fit's shape); 4-row k-table joined on rk<=k (range
    # predicate against a tiny literal side)
    "vocab_coverage_curve": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # prefix sum over the day-domain entropy histogram (bounded);
    # 1-row total/median frames cross-joined back
    "type_entropy_anomaly": {"GlobalWindow", "BroadcastNestedLoopJoin"},
    # 1-row global-revenue frame cross-joined onto the 25-row nation
    # domain
    "revenue_share_hierarchy": {"BroadcastNestedLoopJoin"},
    # range (overlap) predicate against a 4-row literal campaign dim —
    # broadcast nested-loop IS the right plan for interval joins with
    # tiny build sides (#56's argument)
    "interval_overlap_join": {"BroadcastNestedLoopJoin"},
    # deliberate Spark-4 UDTF demo: a LATERAL table function is
    # row-wise Python BY DEFINITION (one row fans out imperatively).
    # Gated to lang='en'; the in-code guidance points hot paths at
    # explode(split()) (#53). This is the ONLY allowed row-wise entry —
    # BatchEvalPython anywhere else still fails the audit.
    "udtf_term_counts": {"BatchEvalPython"},
    # ---- bounded global windows surfaced by the r11 per-NODE window
    # gate (the old plan-wide conjunction missed them); each is also
    # STRUCTURALLY verified bounded by _global_window_audit ----
    # value-domain bucket table (digit-count x leading-2-digits)
    "abc_classification": {"GlobalWindow"},
    # rank over the sketch's <=maxItemsTracked frequent-item rows
    "approx_top_k_brands": {"GlobalWindow"},
    # trailing-20-day band over the ~2.4k-row day-domain artifact
    "bollinger_breakout_days": {"GlobalWindow"},
    # prefix sums over the day-domain artifact (split-scan pricing)
    "changepoint_binseg_daily": {"GlobalWindow"},
    # lag-1 residual window over the day-domain artifact
    "durbin_watson_daily": {"GlobalWindow"},
    # NTILE over the <=customer-domain cents table (decile collapse);
    # bounded: deciles computed on the per-customer AGGREGATE
    "lorenz_curve_customer_deciles": {"GlobalWindow"},
    # lag-7 over the day-domain artifact
    "naive_forecast_backtest": {"GlobalWindow"},
    # running mean/min over the day-domain artifact
    "page_hinkley_daily_drift": {"GlobalWindow"},
    # prefix sum over the per-doc token-count AGGREGATE (1000-token
    # grid; window input is docs-domain, collapsed before the window)
    "pps_token_sample": {"GlobalWindow"},
    # run counting over the day-domain artifact
    "runs_test_daily_direction": {"GlobalWindow"},
    # tie-averaged ranks over the day-domain collapse
    "spearman_daily_rank_corr": {"GlobalWindow"},
    # variational-distance ranks over the bounded QI x band domain
    "t_closeness_audit": {"GlobalWindow"},
    # CDF gaps over the bounded quantity-value domain (1..50)
    "wasserstein_quantity_years": {"GlobalWindow"},
    # per-week KL over the bounded (week x type) domain
    "weekly_type_kl_drift": {"GlobalWindow"},
    # Wilson-bound rank over the 25-row brand aggregate
    "wilson_return_ranking": {"GlobalWindow"},
    # WOE/IV over the bounded 1..50 quantity-bin domain
    "woe_iv_quantity_bins": {"GlobalWindow"},
    # lag-12 over the bounded month domain
    "yoy_growth_monthly": {"GlobalWindow"},
    # ---- round-11 additions ----
    # 1-row (n, S) stats frame cross-joined onto the bounded day table
    "jackknife_variance_daily": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-token-total frame cross-joined onto the vocab model
    "text_perplexity_unigram": {"BroadcastNestedLoopJoin"},
    # real RLE TGA encode/decode runs in mapInPandas
    "multimodal_tga_roundtrip": {"Python"},
    # real WAV decode + integer-energy VAD runs in mapInPandas
    "multimodal_audio_vad": {"Python"},
    # real AVI walk + frame-diff SAD runs in mapInPandas
    "multimodal_video_motion": {"Python"},
    # prefix sums over the bounded 1..50 quantity-value domain
    "cramer_von_mises_quantity_years": {"GlobalWindow"},
    # 4-row threshold dim range-probed against two bounded histograms
    "rich_club_copurchase": {"BroadcastNestedLoopJoin"},
    # 1-row n_cal/q_hat/test frames crossed; prefix over the
    # residual-cents DOMAIN histogram
    "conformal_interval_order_value": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # 14-row power-of-2 checkpoint dim range-probed against the
    # first-doc and per-doc-count aggregates; 1-row max-doc frame
    "heaps_law_fit": {"BroadcastNestedLoopJoin"},
    # 5-probe frame broadcast onto the corpus without an equi key
    "hard_negative_mining_embeddings": {"BroadcastNestedLoopJoin"},
    # prefix sums over the bounded $100 score-bucket domain
    "pr_auc_priority_value": {"GlobalWindow"},
    # 1-row (n, ybar) frame crossed onto the 11-bin domain table
    "brier_decomposition_quality": {"BroadcastNestedLoopJoin"},
    # 1-row span frame crossed onto the bounded week x item matrix
    "cronbach_alpha_dow": {"BroadcastNestedLoopJoin"},
    # 1-row N / row-count frames crossed onto the 6-cell domain
    "g_test_flag_status": {"BroadcastNestedLoopJoin"},
    # 1-row horizon frame crossed onto the day-domain backlog prefix
    "littles_law_audit": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # 1-row n frame crossed onto the bounded lag-domain suffix sums
    "weibull_survival_fit": {"BroadcastNestedLoopJoin", "GlobalWindow"},
    # real WAV decode + integer autocorrelation runs in mapInPandas
    "multimodal_audio_pitch": {"Python"},
}

# streaming queries execute at construction; their returned frame is a
# memory-sink table, so plan inspection happens in their own tests
SKIP = {
    # These two EXECUTE AT CONSTRUCTION (ADVICE r11 medium): their
    # DataFrame-build path runs the whole multi-hop BFS — eager
    # localCheckpoints + bounded driver collects — and returns a
    # 9/15-row createDataFrame, so the plan this tool would audit is
    # a trivial local scan (vacuously clean) while merely BUILDING it
    # triggers full cluster jobs. Their per-hop expansion plan shape
    # is pinned instead in tests/test_graph.py::
    # test_bfs_layer_plan_shape.
    "khop_reach_copurchase",
    "harmonic_centrality_probes",
    "stream_tumbling_agg",
    "stream_static_join",
    "stream_dedup_agg",
    "stream_stream_join",
    "stream_left_outer_join",
    "stream_chained_window_agg",
    "stream_checkpoint_restart",
    "stream_session_agg",
    "stream_stateful_sessions",
    "stream_windowed_distinct_users",
    "stream_foreachbatch_sink",
    "stream_sliding_agg",
    "stream_locf_impute",
}


def _top_level_brackets(s: str) -> list[str]:
    """Top-level [...] groups of an Arguments line (nesting-aware)."""
    out, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                out.append(s[start + 1 : i])
                start = None
    return out


def _partitionless_window_ids(plan: str) -> set[int]:
    """Node ids of Window-family operators with an EMPTY partition
    spec. Covers the physical variants (ADVICE r11): `Window`,
    `WindowInPandas`/`ArrowWindowPython` (pandas-UDF windows — Spark
    4.1 prints the Arrow name; same one-task global funnel), and
    `WindowGroupLimit` (the rank-filter pushdown node; in Spark 4.1
    the GLOBAL rank filter compiles to Window-over-
    TakeOrderedAndProject instead, but the detector stays defensive).

    For Window/WindowInPandas the formatted detail block of a
    partitioned node ends `Arguments: [exprs], [partition spec],
    [order spec]`; a partition-less one omits the partition group
    entirely (`[exprs], [order spec]` — order entries carry ASC/DESC
    — or just `[exprs]` for a pure global frame). WindowGroupLimit's
    Arguments LEAD with the partition spec (`[partSpec], [orderSpec],
    fn, k, mode`), printed as an explicit empty `[]` group when
    partition-less."""
    import re

    ids = set()
    for m in re.finditer(
        r"^\((\d+)\) (Window(?:InPandas|GroupLimit)?|ArrowWindowPython)\s*\n"
        r"((?:.+\n)*?)(?=\n|\Z)",
        plan,
        re.M,
    ):
        nid, variant = int(m.group(1)), m.group(2)
        arg = re.search(r"^Arguments: (.*)$", m.group(3), re.M)
        if not arg:
            continue
        groups = _top_level_brackets(arg.group(1))
        if variant == "WindowGroupLimit":
            # Arguments LEAD with the partition spec: partitioned iff
            # two bracket groups with a non-empty first
            if len(groups) >= 2 and groups[0].strip():
                continue  # partitioned
            ids.add(nid)
            continue
        if len(groups) >= 3:
            continue  # partitioned
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[1]):
            continue  # [exprs], [partition spec] (unordered window)
        ids.add(nid)
    return ids


# node names that bound the row count flowing into a global window:
# an aggregate collapses to its group domain, a top-k/limit is k rows,
# a LocalTableScan is a literal driver-side frame
_BOUNDED_PRODUCERS = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "CollectLimit",
    "LocalTableScan",
)

# A `Scan ExistingRDD` leaf is a lineage-cut localCheckpoint — the
# aggregate that bounded it ran before the checkpoint and is invisible
# to this plan. The ONLY checkpointed artifacts a global window may
# sit on are listed here by exact output-column signature, each with
# its bound named AND scoped to the queries known to consume it
# (ADVICE r11: a signature alone — two one-letter column names —
# could be shadowed by a future corpus-scale checkpoint by name
# collision). The consumer set is derived from source, not
# hand-maintained, so it cannot drift.
def _daily_revenue_consumers() -> frozenset[str]:
    """Query names whose @query body calls daily_revenue_table —
    scanned from koalas_spark/queries/*.py source (same mechanical
    rule as tests/test_survey_sync.py's registry parse)."""
    import glob
    import re

    names = set()
    # Attribution is bounded to the DECORATED function body (ADVICE
    # r12): a top-level `def`/`class` consumes the pending @query name
    # (that def IS the decorated query) and any later top-level def
    # without its own decorator resets attribution — so a call inside
    # a non-query helper placed after a query can never falsely bless
    # that query. `def daily_revenue_table(` itself matches the
    # def-alternative first, so the definition site is never counted
    # as a call.
    pat = re.compile(
        r'^@query\(\s*\n?\s*"([^"]+)"'
        r"|^(?:def|class)\s+\w+"
        r"|daily_revenue_table\(",
        re.M,
    )
    for f in glob.glob(os.path.join(ROOT, "koalas_spark/queries/*.py")):
        src = open(f).read()
        if "daily_revenue_table" not in src:
            continue
        pending = cur = None
        for m in pat.finditer(src):
            if m.group(1):
                pending = m.group(1)
            elif m.group(0).startswith(("def ", "class ")):
                cur, pending = pending, None
            elif cur:
                names.add(cur)
    return frozenset(names)


_BOUNDED_ARTIFACT_SCANS = {
    # daily_revenue_table (queries/analytics.py:92): the day-domain
    # (d = days since 1995-01-01, x = cents) table — ~2.4k rows at
    # ANY corpus size; the groupBy(day) collapse runs before the
    # snapshot+checkpoint
    frozenset({"d", "x"}): (
        "daily_revenue day-domain table (~2.4k rows)",
        _daily_revenue_consumers(),
    ),
}


def _bounded_rdd_scan_ids(plan: str, name: str) -> set[int]:
    """Node ids of Scan ExistingRDD leaves whose output-column set
    matches a named bounded-artifact signature AND whose enclosing
    query is a known consumer of that artifact."""
    import re

    ids = set()
    for m in re.finditer(
        r"^\((\d+)\) Scan ExistingRDD[^\n]*\n((?:.+\n)*?)(?=\n|\Z)",
        plan,
        re.M,
    ):
        arg = re.search(r"^(?:Arguments|Output).*$", m.group(2), re.M)
        if not arg:
            continue
        cols = frozenset(
            c for c, _ in re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#(\d+)", arg.group(0))
        )
        entry = _BOUNDED_ARTIFACT_SCANS.get(cols)
        if entry is not None and name in entry[1]:
            ids.add(int(m.group(1)))
    return ids


def _global_window_audit(plan: str, name: str) -> tuple[int, int]:
    """(n partition-less Window nodes, n of those with NO bounded-
    domain producer on the path to every leaf of their subtree).

    Walks the formatted plan's tree section (indent = depth). A
    partition-less Window funnels its whole input through one task —
    legitimate ONLY above a bounded domain (VERDICT r10 #8); this is
    the machine check that every such window really does sit above an
    aggregate/limit/local-table on ALL input paths, so a corpus-scale
    global window cannot land behind an allowlist entry. Scope: the
    main plan tree (subquery trees hang off 1-row scalar frames)."""
    import re

    pl_ids = _partitionless_window_ids(plan)
    if not pl_ids:
        return (0, 0)
    bounded_rdd = _bounded_rdd_scan_ids(plan, name)
    # parse tree lines: (name-start position, node name, id)
    nodes = []
    for ln in plan.splitlines():
        if ln.startswith("== "):
            continue
        if not ln.strip():
            break
        m = re.search(r"([A-Za-z][\w .]*?)\s*\((\d+)\)\s*$", ln)
        if m:
            nodes.append((m.start(1), m.group(1).strip(), int(m.group(2))))
    n_unbounded = 0
    for i, (pos, nname, nid) in enumerate(nodes):
        if nid not in pl_ids:
            continue
        # subtree = following lines strictly deeper than the window
        j = i + 1
        sub = []
        while j < len(nodes) and nodes[j][0] > pos:
            sub.append(nodes[j])
            j += 1
        # every leaf path must cross a bounded producer. Walk leaves:
        # a leaf is a subtree node with no deeper node after it.
        ok = True
        prefix = []  # stack of (pos, is_marker)
        for k, (p2, name2, nid2) in enumerate(sub):
            while prefix and prefix[-1][0] >= p2:
                prefix.pop()
            is_marker = any(name2.startswith(b) for b in _BOUNDED_PRODUCERS)
            prefix.append((p2, is_marker))
            is_leaf = k + 1 >= len(sub) or sub[k + 1][0] <= p2
            if is_leaf:
                bounded = (
                    any(mk for _, mk in prefix)
                    or name2.startswith("LocalTableScan")
                    or nid2 in bounded_rdd
                )
                if not bounded:
                    ok = False
                    break
        if not ok or not sub:
            n_unbounded += 1
    return (len(pl_ids), n_unbounded)


def inspect_plan(plan: str, name: str) -> dict:
    """Extract the audited facts from one formatted plan string."""
    import re

    flags = []
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("BroadcastNestedLoopJoin")
    if "BatchEvalPython" in plan:
        flags.append("BatchEvalPython(row-wise!)")
    if "ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan or "PythonMapInArrow" in plan:
        flags.append("Python")
    # a partition-less Window funnels its whole input through ONE task
    # — the classic global-top-k scale trap. Detected per NODE (empty
    # partition spec in the detail block), and each instance is
    # structurally checked to sit above a bounded-domain producer on
    # every input path (VERDICT r10 #8). GlobalWindow is allowlistable
    # in EXPECTED (the comment names the bound); UnboundedGlobalWindow
    # never is — deliberately NOT a prefix of any EXPECTED entry.
    n_gw, n_gw_unbounded = _global_window_audit(plan, name)
    if n_gw:
        flags.append("GlobalWindow")
    if n_gw_unbounded:
        flags.append("UnboundedGlobalWindow!")
    unexpected = [
        f for f in flags if not any(f.startswith(e) for e in EXPECTED.get(name, set()))
    ]
    # row-wise Python is banned EXCEPT for queries that explicitly
    # allowlist BatchEvalPython above (today: only the UDTF demo,
    # whose operator shape is row-wise by definition)
    if (
        "BatchEvalPython(row-wise!)" in flags
        and "BatchEvalPython" not in EXPECTED.get(name, set())
    ):
        unexpected.append("row-wise-python")
    n_bc = plan.count("BroadcastExchange")
    return {
        "flags": flags,
        "unexpected": unexpected,
        "shuffles": plan.count("Exchange") - n_bc,
        "broadcasts": n_bc,
        "codegen": "codegen id" in plan,
        "pushdown": re.search(r"PushedFilters: \[[^\]]", plan) is not None,
    }


def collect(spark, sf_dir: str, frames: dict | None = None) -> dict[str, dict]:
    """name -> inspect_plan facts for every non-streaming query.
    ``frames`` (name -> DataFrame, already built at ``sf_dir``) skips
    the builds."""
    if frames is None:
        frames = {
            name: fn(spark, sf_dir)
            for name, fn in sorted(all_queries().items())
            if name not in SKIP
        }
    jvm = spark._jvm  # noqa: SLF001
    out = {}
    for name, df in frames.items():
        plan = jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"  # noqa: SLF001
        )
        out[name] = inspect_plan(plan, name)
    return out


def audit(sf_dir: str) -> int:
    import json

    spark = get_spark("plan_audit")
    facts = collect(spark, sf_dir)
    rows = []
    bad = 0
    for name, f in facts.items():
        rows.append(
            (
                name,
                f["shuffles"],
                f["broadcasts"],
                "y" if f["codegen"] else "-",
                "y" if f["pushdown"] else "-",
                ",".join(f["flags"]) or "-",
                "UNEXPECTED: " + ",".join(f["unexpected"]) if f["unexpected"] else "",
            )
        )
        if f["unexpected"]:
            bad += 1
    # checked-in expectations for the pytest gate (tests/test_plan_audit.py):
    # per-query flag set + whether the scan had pushed filters
    with open(os.path.join(ROOT, "PLAN_BASELINE.json"), "w") as f:
        json.dump(
            {
                n: {"flags": sorted(d["flags"]), "pushdown": d["pushdown"]}
                for n, d in facts.items()
            },
            f,
            indent=1,
            sort_keys=True,
        )
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit (auto-generated by "
            "tools/audit_plans.py)\n\n"
            f"sf_dir: {sf_dir}. Streaming queries excluded (execute at "
            "construction; covered in tests/test_streaming.py).\n\n"
            "| query | shuffles | broadcasts | codegen | pushdown | "
            "python/nlj | verdict |\n|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"{len(rows)} plans audited, {bad} with unexpected constructs")
    return 1 if bad else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.exit(audit(sf))
