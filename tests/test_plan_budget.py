"""Shuffle-budget regression tests: headline queries must keep their
physical plans within an explicit Exchange budget — a plan regression
(lost broadcast, extra shuffle, Python fallback) fails here before it
shows up as a bench regression. Counts mirror scripts/plan_audit_report.py."""

from __future__ import annotations

import re

import sqlserver2pgsql_spark.queries_r4  # noqa: F401 — fills the registry
import sqlserver2pgsql_spark.queries_r5  # noqa: F401 — fills the registry
import sqlserver2pgsql_spark.queries_r6  # noqa: F401 — fills the registry
from sqlserver2pgsql_spark.measure import plan_text
from sqlserver2pgsql_spark.queries import QUERIES
from tests.conftest import SF_DIR


def _counts(df) -> dict[str, int]:
    plan = plan_text(df)
    return {
        "shuffles": len(re.findall(r"Arguments: (?:hash|range)partitioning", plan)),
        "python": len(re.findall(r"\b(?:Batch|Arrow)EvalPython\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
    }


#: (query, max hash/range exchanges, python nodes allowed)
BUDGETS = [
    ("q01_pricing_summary", 2, 0),      # agg shuffle + orderBy range
    ("q02_segment_revenue", 3, 0),      # agg + orderBy + dim-side dist
    ("q06_incremental_diff", 3, 0),     # full-outer diff join + sort
    ("q17_dedup_exact", 2, 0),          # one groupBy + output sort
    ("q97_scd2_history", 2, 0),         # one window key shuffle + sort
    ("q98_cdc_apply", 2, 0),            # one window key shuffle + sort
    ("q106_price_histogram", 2, 0),     # one agg + sort
    ("q110_incremental_agg", 4, 0),     # two partials + combine + sort
    ("q113_novelty_score", 5, 0),       # postings agg + join + doc agg
    ("q121_hierarchical_share", 4, 0),  # agg + two windows + sort
    ("q125_grouped_regression", 2, 0),  # one moment agg + sort
    ("q127_burst_detection", 3, 0),     # window + agg + sort
    ("q130_cumulative_reach", 5, 0),    # firsts + adds + grid + window
    ("q138_heavy_hitters", 3, 2),       # MG sketch (2 Arrow nodes) + count + sort
    ("q139_pareto_frontier", 1, 0),     # bucket window; global window is 1-part
    ("q140_bpe_merges", 3, 0),          # 2 pair aggs + rank; merge is broadcast
    ("q141_quantile_normalize", 2, 0),  # group window + rank join
    ("q142_inverted_index", 3, 0),      # distinct + term window + agg
    ("q143_markov_transitions", 4, 0),  # seq window + pair agg + src window + sort
    ("q144_interval_coalesce", 2, 0),   # one user window (both frames) + agg
    ("q145_winsorized_stats", 3, 0),    # rank window + fences agg + final agg
    ("q146_kl_divergence", 4, 0),       # pinned (src,term) agg + marginals + sum
    ("q147_bm25_ranking", 2, 0),        # per-doc tf agg + stats; top-20 TOAP
    ("q148_triangle_count", 4, 0),      # wedge agg + semi-join + deferred 1-row counts now in-plan (was 1 when counts were driver actions)
    ("q149_seasonal_decompose", 3, 0),  # hourly agg + MA window + group agg
    ("q150_kaplan_meier", 1, 0),        # day agg; risk/survival on #days rows
    ("q151_join_view_maintenance", 5, 0),  # 4 broadcast partials + merge agg
    ("q152_welch_ttest", 2, 0),         # one moment agg + sort
    ("q154_ks_test", 3, 0),             # distinct-value agg + ECDF window + agg
    ("q155_cusum_changepoint", 3, 0),   # pinned cusum + 2 argmax + join
    ("q156_bootstrap_ci", 1, 0),        # chunk agg; spread+final are non-keyed
    ("q157_fd_discovery", 8, 0),        # 2-level agg per candidate FD (4x2)
    ("q158_benford_audit", 3, 0),       # digit agg + total + sort
    ("q159_hll_set_algebra", 5, 0),     # register agg + 3 sketch-sized aggs
    ("q160_subset_duplicates", 4, 0),   # postings + doc arrays + rarest join
    ("q161_mad_robust_zscore", 5, 0),   # 2 rank windows + medians joins
    ("q162_join_cardinality_estimate", 6, 0),  # 2 count aggs per join pair
    ("q163_rrf_hybrid_fusion", 2, 0),   # token agg + dot agg; k-sized fusion
    ("q164_expectations_audit", 1, 0),  # ONE orders scan agg; anti-join is broadcast
    ("q165_epoch_shard_plan", 2, 0),    # one manifest agg + sort
    ("q166_label_centroid_similarity", 4, 0),  # corpus agg; rest is k*dim-sized
    # r6: grouped_pairs posting generation + the CC loop's reduced checkpoint
    # cadence expose more of the (unchanged-exact) lineage to the static
    # explain — the runtime exchanges are fewer (36 vs 41 jobs/pass)
    ("q167_leakage_safe_split", 7, 0),  # pair-gen pinned; cc join + audit + agg
    ("q168_char_entropy", 1, 0),        # doc-local fold; output sort only
    ("q169_pointer_doubling", 1, 0),    # final sort; rounds checkpoint-pinned
    ("q170_last_touch_attribution", 2, 0),  # user window + agg
    ("q171_local_supplier_volume", 2, 0),   # lineitem agg + sort; dims broadcast
    ("q172_returned_item_ranking", 1, 0),   # one agg; top-20 TOAP
    ("q173_large_volume_customer", 3, 0),   # having agg + re-agg + sort
    ("q174_fifo_allocation", 5, 0),     # tape window + interval join + aggs
    ("q175_psi_drift", 3, 0),           # bin agg + totals agg + sort; all B-row
    ("q176_weighted_sample_es", 0, 0),  # pure exprs + TakeOrderedAndProject
    ("q177_sole_blame_supplier", 3, 0),  # pair agg + order window + blame agg
    ("q178_countmin_sketch", 3, 0),     # cell agg + exact agg + probe agg
    ("q179_business_day_latency", 2, 0),  # one join-side agg + sort
    ("q180_rbo_ranking_similarity", 2, 0),  # the two corpus aggs; rest k-sized
    ("q181_compaction_plan", 3, 0),     # source window + bin agg + sort
    ("q182_order_priority_check", 2, 0),    # semi join + agg (Q4 shape)
    ("q183_forecast_revenue_change", 0, 0),  # Q6: pure scan+pushdown+map agg
    ("q184_shipping_mode_priority", 2, 0),  # join + conditional-sum agg (Q12)
    ("q185_promo_revenue_share", 0, 0),     # Q14: broadcast part + map agg
    ("q186_supplier_part_counts", 3, 0),    # distinct agg (Q16); dims broadcast
    ("q187_global_sales_opportunity", 2, 0),  # Q22: scalar bcast + anti + agg
    ("q188_entity_resolution", 6, 0),   # block join + cc-pinned + cluster agg
    ("q189_chi_square_independence", 3, 0),  # contingency agg; cell-table math
    ("q190_mann_kendall_trend", 5, 0),  # rank window + capped pair join
    # (grouped_pairs' cap is a window count riding the pair join's own
    # left-side exchange — no extra shuffle vs the uncapped join)
    ("q191_wilson_interval", 2, 0),     # one groupBy; CI math on group table
    ("q192_geometric_harmonic_means", 2, 0),  # one hash agg + sort
    ("q193_negative_sampling", 5, 0),   # ring rank + band join + rank window
    ("q194_contrastive_triplets", 5, 0),  # band join + one min_by agg
    ("q195_dataset_card", 5, 0),        # base aggs + rank window; 1-row math
    ("q196_min_cost_supplier", 4, 0),   # pair agg + min agg + join-back + sort (Q2)
    ("q197_national_market_share", 2, 0),  # one big join shuffle + year agg (Q8)
    ("q198_product_type_profit", 2, 0),    # one big join shuffle + nation agg (Q9)
    ("q199_important_stock", 3, 0),     # part agg + scalar bcast + sort (Q11)
    ("q200_customer_order_distribution", 3, 0),  # cust join-agg + dist agg (Q13)
    ("q201_top_supplier", 3, 0),        # quarter agg + scalar max bcast (Q15)
    ("q202_small_quantity_revenue", 1, 0),  # stats agg; join-back + map agg (Q17)
    ("q203_disjunctive_revenue", 0, 0),  # Q19: bcast part + residual OR + map agg
    ("q204_part_promotion_suppliers", 3, 0),  # pair agg + distinct bcast semi (Q20)
    ("q205_ewma_smoothing", 2, 0),      # one user agg (sorted-list fold) + sort
    ("q206_merkle_manifest", 3, 0),     # shard agg + root agg + sort
    ("q207_clamped_running_balance", 2, 0),  # one user window + final agg
    ("q208_embedding_covariance", 2, 0),     # one cell agg (36/label) + sort
    ("q209_span_dedup", 7, 0),          # postings agg + join-back + islands window
    ("q210_orc_roundtrip", 0, 0),       # checkpointed aggregate (ORC sink+scan)
    ("q211_anova_oneway", 3, 0),        # moment agg + k-row terms + 1-row bcast
    ("q212_nested_roundtrip", 0, 0),    # checkpointed aggregate (nested parquet)
    ("q213_schema_evolution_merge", 0, 0),  # checkpointed aggregate (mergeSchema)
    ("q214_binned_quantile_sketch", 2, 0),  # bin agg + value agg; windows sketch-sized
    ("q215_silhouette_score", 5, 0),    # vfx agg + dist agg + ab agg + label agg
    ("q216_isotonic_calibration", 4, 0),    # rank window + pair join + suffix-min + fit
    ("q219_user_feature_matrix", 2, 0),     # one user window reused by the agg + sort
    ("q220_time_band_counts", 0, 0),        # TPC-DS Q88: one conditional-sum scan
    ("q221_cross_format_union", 0, 0),      # checkpointed (3-format federation)
    ("q222_blocked_isotonic", 24, 0),       # 3-stage blocked PAV: block/pool/global
    ("q223_pandas_udf_polynomial", 1, 2),   # the Arrow escape hatch, gated
    ("q224_session_paths", 2, 0),           # WindowGroupLimit + path agg
    ("q225_compaction_roundtrip", 0, 0),    # checkpointed (64->4 file rewrite)
    ("q226_fiscal_calendar_rollup", 3, 0),  # bounds agg + bcast dim + fact agg
    ("q227_checksum_repair_roundtrip", 0, 0),  # checkpointed (chunk repair)
    ("q228_target_encoding_loo", 2, 0),     # one group agg bcast + sort
    ("q229_month_spine_mom", 1, 0),         # month agg; spine bcast, global lag tiny
    ("q230_quantization_recall", 10, 0),    # rng agg + 2 dot aggs + 2 rank windows
    ("q231_span_corruption_pairs", 2, 0),   # one doc agg + sort
    ("q232_cluster_size_histogram", 5, 0),  # CC-pinned + corpus join + 2 aggs
    ("q233_sql_text_analytics", 3, 0),      # SQL front end: join agg + window + sort
    ("q234_equi_depth_histogram", 0, 0),    # global rank (1-part window) + bucket agg
    ("q235_late_arriving_dimension", 2, 0), # bcast dim joins; parked set tiny
    ("q236_csv_adversarial_roundtrip", 0, 0),  # checkpointed (CSV torture)
    ("q237_holt_linear", 3, 0),             # month agg + flag collect + sort
    ("q238_autocorrelation", 2, 0),         # day agg + lag agg; spine bcast
    ("q239_theil_sen", 2, 0),               # month agg + median window; pairs bcast
    ("q240_woe_iv_binning", 0, 0),          # global ntile = single-part exchanges
    ("q241_longest_streak", 3, 0),          # distinct + user window + final agg
    ("q242_kruskal_wallis", 1, 0),          # global rank single-part; one group agg
    ("q243_bom_subtree_rollup", 3, 0),      # per-level frontier + ancestor agg
    ("q244_logrank_test", 2, 0),            # user agg + risk-join agg
    ("q245_js_divergence_pairs", 2, 0),     # (source,tok) agg + pair agg; grid bcast
    ("q247_item_item_cf", 7, 0),            # pair window+join (2 on cust) + co agg
    # + rank window + output range + the item agg visible TWICE statically
    # (ia/ib — ReuseExchange dedupes at runtime). Was 5 when the co agg sat
    # behind a localCheckpoint LogicalRDD that hid the pair subtree from
    # explain; the r6 explode-symmetrization dropped that checkpoint.
    ("q248_sequence_support", 3, 0),        # span agg + self-join + pair agg
    ("q249_source_jaccard_matrix", 4, 0),   # distinct + sizes + inter agg
    ("q250_knn_loo_eval", 2, 0),            # rank window + vote agg; corpus never shuffles
    ("q251_bigram_lm_nll", 6, 0),           # bigram counts + marginal + doc agg
    # q252 dropped its edge-list checkpoints (cache thrash at bench scale), so
    # the STATIC explain shows the shared baskets/edge-distinct subtree once
    # per consumer (2x); at runtime AQE stage-reuse dedupes the identical
    # exchanges (measured: full run faster than the sum of its stages).
    ("q252_degree_assortativity", 15, 0),
    ("q253_bitemporal_asof", 2, 0),         # one user window + sort
    ("q254_greedy_set_cover", 1, 0),        # rounds pre-checkpointed; final sort
    ("q255_fano_burstiness", 3, 0),         # hour agg + series agg; spine bcast
    ("q256_returns_above_nation_avg", 2, 0),  # cust agg; nation avg bcast
    ("q257_forecast_backtest", 1, 0),       # month agg; calendar windows 1-part
    ("q258_mann_whitney_u", 1, 0),          # group agg; global rank single-part
    ("q259_rfm_segmentation", 1, 0),        # cust agg; ntiles single-part
    ("q260_late_arrival_audit", 3, 0),      # type x lag agg + window + sort
    ("q261_open_shipments_sweepline", 1, 0),  # delta agg; day window 1-part
    ("q262_position_attribution", 4, 0),    # journey window + join + agg
    ("q263_damerau_levenshtein_linkage", 3, 4),  # vocab agg + pair join; DL UDF
    ("q264_rolling_median_exact", 1, 0),    # daily agg; frame window 1-part
    ("q265_allen_interval_relations", 6, 0),  # iv agg + cust pair join + agg
    ("q266_critical_path", 3, 0),           # closure levels checkpointed; final max + sort
    ("q267_hodges_lehmann", 2, 0),          # per-order collect + sort; HOF pairs
    ("q268_rolling_regression", 1, 0),      # daily agg; frame window 1-part
    ("q269_reciprocal_best_match", 7, 0),   # matrix agg + 2 argmax + join
    ("q270_benjamini_hochberg", 5, 0),      # stratum ranks + aggs; BH 1-part
    ("q271_simpson_paradox_audit", 2, 0),   # stratum agg; overall bcast
    ("q272_longest_increasing_subsequence", 2, 0),  # collect agg; HOF fold
    ("q273_v_optimal_histogram", 7, 0),     # value agg + 3 bcast DP levels
    ("q274_quantile_migration", 6, 0),      # era agg + tiles + cust join
    ("q275_postings_compression_plan", 3, 0),  # distinct + term window + agg
    ("q276_revenue_recognition", 4, 0),     # iv agg + order window + month agg
    ("q277_sprt_sequential_test", 3, 0),    # arm window + agg + cross join
    ("q278_golden_record_survivorship", 5, 0),  # 3 rule branches + key joins
    ("q279_kfold_complement_cv", 4, 0),     # fold agg + flag rollup + join
    ("q280_zorder_locality", 4, 0),         # 2 bucket aggs + curve agg
    ("q281_bloom_fpr_audit", 6, 0),         # member/bits/probe aggs, bcast
    ("q282_summed_area_table", 5, 0),       # cell agg + 2 cum windows + rects
    ("q283_weighted_jaccard_sources", 8, 0),  # tf agg + term pair join + agg
    ("q284_hll_error_curve", 5, 0),         # register aggs + exact distinct
    ("q285_degenerate_text_runs", 1, 0),    # pure HOF folds + output sort
    ("q286_minhash_jaccard_calibration", 8, 0),  # postings aggs + grouped_pairs
    # (the r6 window-count cap rides the pair join's left-side exchange —
    # the hard bound no longer costs a group-size agg or anti-join)
    # r6: the eager sig checkpoint is gone (single consumer), so the sig agg's
    # upstream is visible to the static explain; runtime is 8.1 -> 1.6 s
    ("q287_lsh_band_planner", 4, 0),        # sig agg + bucket aggs, no chkpt
    ("q288_langid_confusion_eval", 5, 0),   # confusion agg + class rollups
    ("q289_conformal_interval", 5, 0),      # cal mean + rank window + cover
    ("q290_threshold_grid_sweep", 2, 0),    # one scan x broadcast grid
    ("q291_ohlc_bars", 2, 0),               # bar window + agg
    ("q292_gsp_auction", 3, 0),             # bid agg + term window + sort
    ("q293_event_study", 3, 0),             # daily agg + argmax bcast + agg
    ("q294_column_level_diff", 2, 0),       # one full-outer join, melted agg
    ("q295_slo_burn_rate", 1, 0),           # hourly agg; frame window 1-part
    ("q296_shard_rebalance_transport", 2, 0),  # shard agg; 16-row window
    ("q297_haar_wavelet", 1, 0),            # daily agg; level explode + agg
    ("q298_threshold_contagion", 0, 0),     # rounds checkpoint-pinned
    ("q299_duplicate_invoices", 1, 0),      # cust-keyed pair join + sort
    ("q301_token_bucket_replay", 2, 0),     # collect agg; integer fold
    ("q302_bitflag_rollup", 2, 0),          # bitmask exprs + one agg
    ("q303_rare_category_collapse", 3, 0),  # two tiny category aggs
    ("q304_range_frame_window", 3, 0),      # cust-day agg + RANGE window
    ("q305_materialized_paths", 1, 0),      # rounds checkpoint-pinned + sort
    ("q306_price_volume_mix", 3, 0),        # year agg + wide agg; part bcast
    ("q307_lru_miss_ratio_curve", 3, 0),    # seq windows + gap join + hist
    ("q308_dkw_ecdf_band", 1, 0),           # value agg; ECDF window 1-part
    ("q309_knee_detection", 2, 0),          # vocab agg + argmax window
    ("q310_wilcoxon_signed_rank", 1, 0),    # cust agg; rank 1-part
    ("q311_circular_stats", 3, 0),          # (type,hour) agg + vector agg
    ("q312_tiered_pricing", 3, 0),          # bracket fan-out + band agg
    ("q313_cuped_adjustment", 4, 0),        # unit agg + moment rollups
    ("q314_consistent_hash_ring", 4, 0),    # 2 ring assigns + key join
    ("q315_weiszfeld_geometric_median", 1, 0),  # iterations checkpoint-pinned
    ("q316_l_moments", 3, 0),               # group rank window + PWM agg
    ("q317_fixed_effects_regression", 1, 0),  # entity agg + 1-row rollup
    ("q318_mantel_haenszel", 1, 0),         # contingency agg + 1-row math
    ("q319_qini_curve", 1, 0),              # user agg; ntile/cum 1-part
    ("q320_grid_spatial_join", 2, 0),       # cell join (bcast) + box agg
    ("q321_promo_overlap_attribution", 3, 0),  # iv agg + promo fan-out
    ("q322_sax_symbolization", 2, 0),       # daily agg + PAA agg; stats bcast
    ("q323_difference_in_differences", 1, 0),  # one 2x2 agg + 1-row math
    ("q324_brier_decomposition", 2, 0),     # bin agg + decimal reduction
    ("q325_spc_control_chart", 0, 0),       # global seq window 1-part
    ("q326_monetary_unit_sampling", 0, 0),  # running-sum window 1-part
    ("q327_semiadditive_balance", 3, 0),    # user window + eom pick + agg
    ("q328_max_drawdown", 1, 0),            # one user window; top-50 TOAP
    ("q329_vwap_bars", 3, 0),               # bar agg + brand window + sort
    ("q330_mrr_waterfall", 5, 0),           # rev agg + grid + lag + month agg
    ("q331_cohens_kappa", 5, 0),            # 3x3 cells + marginal rollups
    ("q332_mcnemar_test", 0, 0),            # single scan-level agg
    ("q333_brown_forsythe", 5, 0),          # median window + moment agg
    ("q334_gini_lorenz", 2, 0),             # cust agg; rank window 1-part
    ("q335_hhi_concentration", 3, 0),       # firm agg + segment rollup
    ("q336_theil_index", 3, 0),             # cust agg + pinned reduction
    ("q337_kcore_peeling", 1, 0),           # rounds checkpoint-pinned
    ("q338_adamic_adar", 7, 0),             # blocked pair join + pair agg
    ("q339_powerlaw_degree_mle", 4, 0),     # distinct-degree agg + tail
    ("q340_lateral_topk", 3, 0),            # lateral -> ranked window rewrite
    ("q341_ind_discovery", 27, 0),          # 8 per-column distincts + value join
    ("q342_friedman_test", 13, 0),          # cell agg + block ranks + rollups
    ("q343_acf_ljungbox", 1, 0),            # hourly agg; 10-lag window 1-part
    ("q344_hurst_rs", 2, 0),                # hourly agg + block windows
    ("q345_zipf_slope", 1, 0),              # token agg; top-1k rank 1-part
    ("q346_keyness_g2", 9, 0),              # tf agg + marginals + rank window
    ("q347_cohort_ltv", 7, 0),              # first-order agg + offset rollup
    ("q348_page_hinkley", 0, 0),            # global seq window 1-part
    ("q349_beta_binomial_smoothing", 2, 0), # user agg + broadcast prior
    ("q350_ipf_raking", 9, 0),              # r6: single-row IPF fold — the
    # former per-round checkpoints hid the margin/target aggs behind RDD
    # scans; the full 8-exchange pipeline is now one plan, 106 -> 22 jobs.
    ("q351_ar_aging_dso", 2, 0),            # filtered agg + broadcast scalars
    ("q352_audio_silence_windows", 1, 2),   # synth UDF + decode mapInPandas
    ("q353_burrows_delta", 31, 0),          # tf agg + tiny broadcast chains
    ("q354_cochran_armitage", 3, 0),        # category agg + 1-row reduce
    ("q355_recursive_cte_native", 2, 0),    # native recursion + depth agg
    ("q356_video_scene_cuts", 1, 2),        # synth UDF + decode mapInPandas
    ("q357_mmr_diversification", 1, 0),     # greedy checkpoint-pinned
    ("q358_markov_attribution", 8, 0),      # r6: single-row HOF iteration —
    # the former checkpoint hid the upstream (journey windows + transition
    # aggs) behind an RDD scan; the whole 7-exchange pipeline is now one
    # visible plan with zero per-iteration barriers (61 -> 10 jobs).
    ("q359_histogram_equalization", 1, 2),  # synth UDF + decode mapInPandas
    ("q360_jonckheere_terpstra", 13, 0),    # hist agg + 10-pair merged axis
    ("q361_dft_diurnal_power", 1, 0),       # hourly agg; pinned reduction
    ("q362_fellegi_sunter_em", 1, 0),       # EM checkpoint-pinned; pair agg
    ("q363_shapley_attribution", 8, 0),     # journey window + mask agg
    ("q364_hits_hubs_authorities", 0, 0),   # iterations checkpoint-pinned
    ("q365_iptw_ate", 4, 0),                # stratum agg + 2-group reduce
    ("q366_feature_hash_collisions", 4, 0), # distinct agg + bucket rollup
    ("q367_safety_stock_reorder", 2, 0),    # daily agg + moment agg; TOAP
    ("q368_markov_entropy_rate", 8, 0),     # lead window + pair agg
    ("q369_overdispersion_test", 3, 0),     # two stacked aggs
    ("q370_var_cvar", 7, 0),                # daily agg + lag + rank windows
    ("q371_kendall_tau", 12, 0),            # cell agg reused 4x + flag joins
    ("q372_abc_classification", 2, 0),      # part agg; Pareto window 1-part
    ("q373_littles_law", 7, 0),             # order agg + sweep window + joins
    ("q374_watermark_lateness", 5, 0),      # user window + type agg + p95 rank
    ("q375_price_indexes", 6, 0),           # (brand,part,yr) agg + year self-join
    ("q376_perfect_order_rate", 3, 0),      # order agg + priority agg
    ("q377_tokenizer_fertility", 2, 0),     # one scan-level lang agg
    ("q378_rake_keywords", 4, 0),           # phrase agg + word agg + score agg
    ("q379_dbscan_grid", 14, 0),            # grid join + counts + CC assembly
    ("q380_newsvendor", 7, 0),              # daily agg + rank window + cost agg
    ("q381_huber_irls", 3, 0),              # moment agg; IRLS checkpoint-pinned
    ("q382_bullwhip_effect", 5, 0),         # two weekly aggs + brand join
    ("q383_groupby_all_parity", 2, 0),      # GROUP BY ALL agg + ORDER BY ALL
    ("q384_demand_classification", 6, 0),   # weekly agg + part agg + rollup
    ("q385_average_precision", 4, 0),       # centroid agg + rank window + agg
    ("q386_textrank_keywords", 6, 0),       # ≤4 PR iterations of lineage now visible (checkpoint every 4th, not per-iteration); TOAP tail
    ("q387_croston_forecast", 2, 0),        # weekly agg + fold agg; TOAP
    ("q388_abc_xyz_matrix", 4, 0),          # weekly+part aggs; Pareto 1-part
    ("q389_personalized_pagerank", 6, 0),   # ≤4 PPR iterations of lineage now visible (checkpoint every 4th, not per-iteration); TOAP tail
    ("q390_association_rules", 10, 0),      # basket distinct + pair/item aggs
    ("q391_bitmap_distinct", 3, 0),         # bucket bitmap agg + type rollup
    ("q392_variant_shred", 2, 0),           # variant shred + bucket agg
    ("q393_collation_parity", 3, 0),        # union + two-distinct agg
    ("q394_holdout_calibration", 3, 0),     # user split agg + bin rollup
    ("q395_image_dhash_dedup", 2, 4),       # synth UDF + decode mapInPandas x2
    ("q397_seasonal_strength", 5, 0),       # hourly agg + MA window + moments
    ("q398_price_stickiness", 4, 0),        # (part,month) agg + lag + rollups
    ("q399_quantile_treatment_effect", 5, 0),  # 2-group rank windows + joins
    ("q400_curation_funnel_audit", 7, 0),   # flags scan + keeper/shingle aggs
]


def test_headline_shuffle_budgets(spark):
    over = []
    for name, max_sh, max_py in BUDGETS:
        c = _counts(QUERIES[name](spark, SF_DIR))
        if c["shuffles"] > max_sh or c["python"] > max_py:
            over.append((name, c))
    assert not over, f"plan budget exceeded: {over}"


def test_dim_joins_stay_broadcast(spark):
    """Small-dim joins must not degrade to sort-merge."""
    for name in ("q02_segment_revenue", "q93_shipping_priority",
                 "q94_nation_pair_volume", "q104_funnel"):
        c = _counts(QUERIES[name](spark, SF_DIR))
        assert c["smj"] == 0, f"{name} fell back to SortMergeJoin"
