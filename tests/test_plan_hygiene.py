"""Scale-hygiene sweep over the whole query registry.

Builds every registry query's physical plan at sf0.001 and asserts the
plan-level invariants the 100 TB story depends on:

- no CartesianProduct / BroadcastNestedLoopJoin outside the explicit
  brute-force oracles (their cross joins are bounded by construction);
- no row-at-a-time Python (BatchEvalPython) anywhere — Python enters
  plans only as ArrowEvalPython (pandas UDFs) or MapInPandas;
- filters on scan columns reach the parquet reader (PushedFilters).

Building a plan is cheap; some operators (kNN expansion loop, compact
promotion rounds) legitimately run bounded driver actions while
constructing their DataFrame — sf0.001 keeps that in milliseconds.
"""

import pytest
from pyspark.sql.types import ArrayType, DataType, DecimalType, MapType, StructType

from gipspark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

# bounded-by-construction cross joins (brute-force oracles / straggler
# fallbacks / tiny dim×dim grids) — everything else must be
# hash/broadcast/sort-merge only
CROSS_OK = {
    "cosine_topk_bruteforce",
    "triplet_mining_embeddings",  # bounded anchor sample broadcast x corpus (exact-spec pattern)
    "embedding_neardup_pairs",
    "gapfill_daily_events",  # tiny calendar × type-dim cross, broadcast
    "tfidf_top_terms",  # 1-row corpus-count aggregate broadcast into scored
    "morans_i_tiles",  # two 1-row moment aggregates broadcast into the lattice
    "gearys_c_tiles",  # same 1-row moment broadcasts as morans
    "local_moran_hotspots",  # 1-row moment broadcast into the lattice
    "chisq_contrib_lang_source",  # 1-row grand-total broadcast into the table
    "join_count_stats",  # two 1-row moment broadcasts (morans sibling)
    "pmi_collocations_docs",  # 1-row corpus-total broadcast into scored
    "tfidf_cosine_pairs",  # 1-row doc-count broadcast into the weight table
    "benford_orders",  # 1-row grand-total broadcast into the 9-digit table
    "lagged_xcorr_events",  # 8-row lag dim × daily series (calendar-bounded)
    "kmeans_int_customers",  # K=5-row centroid broadcast per round (literal key folds to NL)
    "decayed_tile_heat",  # 1-row max-date anchor broadcast into the point table
    "hll_intersection_contract",  # six 1-row aggregates cross-combined
    "gi_star_hotspots",  # 1-row moment broadcast into the lattice (morans sibling)
    "knox_space_time",  # three 1-row aggregates cross-combined into the single stat row
    "ripleys_k_customers",  # 1-row point-count aggregate broadcast into the radius bands
    "ks_drift_sources",  # source-dim × distinct-length grid + 1-row total (literal key folds to NL)
    "mann_whitney_sources",  # 1-row corpus-total broadcast into the per-source stats
    "kappa_langid_docs",  # two 1-row aggregates (totals × chance) cross-combined
    "coverage_gaps_cells",  # 1-row global-span aggregate broadcast into the cell table
    "fk_integrity_audit",  # per-edge 1-row child-count × 1-row orphan-count combines
    "table_fingerprint_diff",  # two 1-row snapshot fingerprints cross-combined
    "bivariate_moran_cells",  # 1-row moment broadcasts into the lattice (morans sibling)
    "cross_k_events",  # 1-row count aggregates broadcast into the radius bands (ripleys sibling)
    "reciprocity_links",  # two 1-row count aggregates cross-combined (hll sibling)
    "modularity_by_source",  # 1-row edge-total broadcast into the source spine (chisq sibling)
    "ann_recall_contract",  # 1-row brute-denominator broadcast into per-method hit rows
    "pq_cosine_topk",  # bounded query-set broadcast ADC scan (cosine_topk_bruteforce sibling)
    "fill_rule_contract",  # 4-edge literal bowtie broadcast cross (pip oracle sibling)
    "heaps_law_docs",  # 1-row token-total scalar broadcast per checkpoint arm
    "token_budget_select",  # 1-row corpus-token-total broadcast into the rank cut
    "watermark_planning_census",  # 1-row event-total broadcast per candidate-horizon arm
    "ranker_agreement_contract",  # 1-row corpus-stats broadcast per term arm (bm25_topk sibling)
    "pip_prefilter_selectivity",  # 5-row bbox dim broadcast NL (range predicate, bounded by construction)
    "q15_top_supplier",  # 1-row max-revenue scalar broadcast back over the quarter agg
    "q11_important_stock",  # 1-row regional-total broadcast into the per-part values
    "q22_dormant_customers",  # 1-row positive-balance moment broadcast into customers
    "bm25_topk_docs",  # 1-row corpus-stats (N, Σdl, df) broadcast into per-doc scores
    "emerging_hotspots",  # 1-row (n_cells, grand) aggregate broadcast into the cell table
    "burrows_delta_sources",  # 20-row vocab dim × source spine (tfidf sibling)
    "weighted_systematic_sample",  # 1-row step scalar broadcast into the cumsum table
    "ht_total_contract",  # 1-row population-total scalar broadcast into the sampler
    "copurchase_lift_parts",  # 1-row order-count scalar broadcast into the pair table
    "kneser_ney_bigrams",  # 1-row bigram-total scalar broadcast into the prob table
    "mixture_temperature_weights",  # 1-row sorted-fold normalizer broadcast into groups
    "crawl_budget_apportion",  # 1-row corpus-total broadcast into the source dim
    "haar_energy_cells",  # 1-row global day-zero anchor broadcast into the point table
    "mst_customers",  # bounded complete-graph fixture on the capped key subset (kNN graph at scale)
    "bbox_union_area",  # three 1-row scalar aggregates cross-combined into the single stat row
    "nelson_aalen_users",  # 1-row corpus-end anchor broadcast into the lifetime table
    "chi2_terms_by_lang",  # 1-row grand-total broadcast (chisq_contrib sibling)
    "ffunction_cells",  # bounded literal reference grid broadcast (ripleys/gfunction sibling)
    "morph_cells",  # four 1-row scalar aggregates cross-combined into the single stat row
    "jackknife_mean_orders",  # 1-row grand-total broadcast into the 10-bucket table
    "vocab_topk_share_sources",  # 3-row k-dim broadcast into the ranked term table
    "four_clique_count",  # three 1-row motif-count aggregates cross-combined
    "huff_market_share",  # bounded store-dim broadcast (catchment/gravity sibling)
    "sax_symbols_cells",  # 1-row span anchor broadcast into the point table (haar sibling)
    "quantile_normalize_sources",  # 1-row truncation threshold broadcast
    "acf_cells",  # 3-row lag-dim broadcast into the cell-day table (lagged_xcorr sibling)
    "logrank_eventtypes",  # 1-row corpus-end anchor broadcast (nelson_aalen sibling)
    "bloom_fp_rate",  # two 1-row scalar aggregates cross-combined into the single stat row
    "consistent_ring_assign",  # bounded 128/144-vnode literal broadcast (hrw sibling)
    "st_scan_cells",  # 1-row grand-total broadcast (chisq/modularity sibling)
    "segregation_index_cells",  # 1-row marginal broadcast (chisq sibling)
    "ransac_trend_daily",  # 16 candidate lines × calendar-bounded day dim (lagged_xcorr sibling)
    "motif_discovery_daily",  # calendar-bounded window band-joins (days², never events²)
    "conductance_by_source",  # 1-row edge-total broadcast (modularity sibling)
    "greedy_knapsack_docs",  # 1-row budget scalar broadcast (weighted_systematic sibling)
    "sorted_neighborhood_pairs",  # rn-band self-join on the bounded ranked key table
    "k_anonymity_audit",  # 1-row total + 3-row k-dim broadcasts
    "dhondt_seats_sources",  # 20-row divisor dim × bounded source votes
    "join_card_estimate",  # two 1-row count aggregates cross-combined
    "rich_club_links",  # 3-row k-dim fan-out of the degree table
    "cuped_adjustment_users",  # 1-row day-zero anchor broadcast (decayed_tile_heat sibling)
    "kmv_distinct_contract",  # 1-row kth-minimum scalar broadcast into the exact count
    "ams_f2_contract",  # 9-row sketch dim fan-out + 1-row exact-F2 broadcast
    "rknn_influence_suppliers",  # 1-row total broadcast into the per-supplier counts
    "permutation_test_values",  # 64-row perm-dim fan-out + two 1-row anchors (jackknife sibling)
    "otsu_threshold_cells",  # 1-row vmax + 1-row total broadcasts into the 16-row histogram
    "banzhaf_power_sources",  # 64-coalition x 6-player literal power-set grid (constant size)
    "landscape_edge_metrics",  # two 1-row aggregates cross-combined (bbox_union sibling)
    "eigen_centrality_links",  # 1-row max-norm broadcast per unrolled round (x3)
    "poisson_bootstrap_ci",  # 32-rep fan-out + two 1-row rank anchors (permutation sibling)
    "bh_fdr_cells",  # 1-row total + 1-row k* summary broadcasts into the cell table
    "choropleth_classes_cells",  # 1-row stats/mean anchors broadcast into the cell table (x3 schemes)
    "densest_peel_links",  # 1-row (N,E) density anchor broadcast per peel round
    "rocchio_classify_embeddings",  # bounded K-centroid dim broadcast into the test split
    "marching_squares_cells",  # 4-row corner-offset literal broadcast into the fg mask
    "gale_shapley_match",  # knn straggler fallback branch (pref lists via knn_join)
    "lof_lite_customers",  # knn straggler fallback branch (self 1-NN via knn_join)
    "shapley_power_sources",  # 64-coalition x 6-player literal power-set grid (banzhaf sibling)
    "eb_shrunk_rates_cells",  # 1-row global-prior broadcast into the cell table
    "radiation_model_flows",  # bounded cell-dim^3 circle-sum kernel (gravity/od sibling)
    "dau_wau_sticky",  # calendar-bounded trailing-window band join (<=7x fan-out)
    "bowtie_structure_links",  # 1-row node-total broadcast into the class census
    "maxmin_fair_alloc",  # 1-row (rem, active) anchor broadcast per fill round
    "feature_hash_contract",  # 1-row term-count anchor cross-combined into the census
    "diff_in_diff_users",  # 1-row day-zero anchor broadcast (cuped sibling)
    "polylabel_fixture_polys",  # constant literal candidate-grid x edge dims (query-text geometry)
    "value_at_risk_daily",  # two 1-row (n, k) tail anchors into the day-dim ranking
    "cliffs_delta_sources",  # source-dim x source-dim (a<b) pair spine — bounded k^2 dims
    "condorcet_terms",  # source-dim x top-K candidate ballot spine (burrows sibling)
    "kruskal_wallis_chars",  # 1-row tie-sum anchor broadcast into the 1-row H stats
    "wilcoxon_signed_users",  # 1-row tie-sum anchor broadcast into the 1-row W stats
    "kaplan_meier_gaps",  # 1-row corpus-end anchor broadcast (nelson_aalen sibling)
    "markov_attribution_channels",  # 1-row base-absorption anchor x per-removal 1-row runs
    "roc_auc_docs",  # 1-row (n_pos, n_neg, u2) anchor broadcast into the 10 decile rows
    "wasserstein_sources",  # source-dim x global value spine + 1-row total (ks_drift sibling)
    "pip_buffer_join_customers",  # 5-row literal polygon bbox(+D) prefilter (polylabel sibling)
    "conformal_interval_contract",  # 1-row coefficient/quantile anchors broadcast into the scorer
    "good_turing_counts",  # two 1-row (total, N1) anchors broadcast into the <=6-row table
    "t_closeness_audit",  # group-dim x sensitive-bucket spine + 1-row total/span anchors
    "bpe_merge_training",  # 1-row best-merge rule broadcast into the word table per round
    "neyman_allocation_sources",  # 1-row weight-total anchor broadcast into the source dim
    "drawdown_revenue_daily",  # 1-row mean/extreme anchors cross-combined into the stat row
    "acf_pacf_daily",  # 1-row moment + 6-row lag-dim anchors (acf_cells/lagged_xcorr sibling)
    "rescaled_range_daily",  # 3-row scale-dim fan-out over the day series (lagged_xcorr sibling)
    "lsh_pr_contract",  # three 1-row count anchors cross-combined into the single stat row
    "dunn_posthoc_sources",  # source-dim x source-dim (a<b) pair spine (cliffs sibling)
    "knee_detection_terms",  # 1-row endpoint anchor broadcast into the ranked curve
    "energy_distance_types",  # three 1-row pair-sum anchors cross-combined into the stat row
    "voptimal_histogram_orders",  # bounded value-grid DP: j<i joins on the ~55-row prefix dim
    "influence_topk_docs",  # 1-row coefficient/SSE anchors broadcast into the scorer (conformal sibling)
    "records_test_daily",  # 1-row harmonic-expectation anchor into the 1-row stat
    "packing_gap_contract",  # alpha-dim x size-histogram sweep + 1-row bound anchors
    "hampel_filter_daily",  # calendar-bounded +/-3-day band self-joins (<=7x, dau_wau sibling)
    "lsh_band_sweep",  # 1-row truth/cand count anchors per band setting (lsh_pr sibling)
    "attack_tolerance_links",  # 5-row literal neighbor dim fan-out (triangle/pagerank sibling)
    "hll_trailing_contract",  # calendar-bounded <=7x day-band sketch join (dau_wau sibling)
    "overlap_duration_join",  # 5-row literal campaign-window dim broadcast over sessions
    "kendalls_w_terms",  # source-dim x top-K ballot spine + 1-row anchors (condorcet sibling)
    "gallagher_index_sources",  # source-dim x 60-divisor grid + 1-row total (dhondt sibling)
    "lorenz_curve_deciles",  # 1-row grand-total anchor broadcast into the 10 decile rows
    "simpsons_paradox_audit",  # 1-row global-association anchor x the 5-stratum dim
    "hoover_index_sources",  # 1-row grand-total anchor broadcast into the 20 source rows
    "ewma_smooth_daily",  # calendar-bounded trailing 8-day band self-join (hampel sibling)
    "cvm_drift_sources",  # source-dim x global-value-histogram spine + 1-row total anchor
    "durbin_watson_daily",  # 1-row OLS-coefficient anchor broadcast into the day series
    "friedman_dow_orders",  # 1-row k/n anchors into the 7 weekday rank sums
    "general_g_tiles",  # 4-row literal rook-offset dim fan-out + 1-row moment anchor
    "jonckheere_sources",  # per-group value-histogram inequality join, dim x dim bounded
    "mood_scale_sources",  # 1-row pooled-rank total anchor into the 20 source rows
    "mrr_first_relevant_sources",  # 1-row corpus-MRR anchor into the per-shard rows
    "pr_auc_docs",  # 1-row positives-total anchor + 1-row AP reduce over the PR curve
    "spatial_markov_cells",  # literal rook-offset + 1-row median anchors (general_g sibling)
    "tri_tpi_cells",  # 8-row literal queen-offset dim fan-out into the cell lattice
    "tvd_token_drift_sources",  # 1-row corpus-total anchor into the (source, token) spine
    "term_dispersion_sources",  # 1-row part-count anchor into the top-20 term rows
    "rand_index_clusterings",  # three 1-row pair-count folds cross-combined (bbox_union sibling)
    "anisotropy_ratio_cells",  # two 1-row directional folds cross-combined (bbox_union sibling)
    "ffl_motif_links",  # three 1-row motif-count folds cross-combined (four_clique sibling)
    "block_validity_embeddings",  # 20-row probe broadcast x corpus (cosine_topk_bruteforce sibling)
    "ring_profile_events",  # 1-row argmax-center anchor broadcast into the bounded cell table
    "int8_recall_embeddings",  # 20-row probe broadcast x corpus (cosine_topk_bruteforce sibling)
    "quadrant_segments_users",  # 1-row dual-median anchor broadcast into the user dim
    "props_numeral_benford",  # 1-row numeral-total anchor into the 9-digit table (benford sibling)
    "temporal_colocation_types",  # 1-row minute-total anchor into the 10 type-pair rows
    "friendship_paradox_links",  # two 1-row moment folds cross-combined (reciprocity sibling)
    "isotonic_daily",  # day-dim i<=k<=j band self-joins, O(days^2) rows (ewma sibling)
    "cem_att_users",  # 1-row day-zero anchor broadcast (cuped sibling)
    "shapley_attribution_channels",  # 8-row mask dim x <=8-row coalition counts (banzhaf sibling)
    "anonymization_ladder_audit",  # 6-row width-dim fan-out + 1-row total (k_anonymity sibling)
    "reserve_price_sweep_parts",  # 5-row literal reserve-dim fan-out over the part dim
    "error_burn_rate_windows",  # hour-dim trailing band self-joins + 1-row base anchor (ewma sibling)
    "jl_projection_contract",  # 20 probe pairs via offset equi-join; folds only (contract op)
    "waterfill_crawl_hosts",  # 1-row budget/waterline anchors into the 20-host dim
    "prefix_dim_recall_embeddings",  # 20-row probe broadcast x corpus (cosine_topk_bruteforce sibling)
    "euler_number_cells",  # 4-row quad-offset dim fan-out + 1-row cell-count anchor (tri_tpi sibling)
    "substitute_parts_pairs",  # 30x30 top-part literal pair spine + 1-row order-count anchor
    "point_quarter_customers",  # 20-row probe broadcast x corpus (cosine_topk_bruteforce sibling)
    "shard_balance_audit",  # 1-row key/morton-max anchor broadcast into the strategy sweep
    "facility_outage_impact",  # 10-row facility broadcast x customers + 1-row busiest anchor
    "behavior_drift_users",  # 1-row span-midpoint anchor broadcast (cuped sibling)
    "hotspot_persistence_cells",  # 3-row horizon dim fan-out over the per-week hot dim
    "conversion_window_sweep",  # 4-row window dim x per-user latency + 1-row viewer anchor
    "hilbert_stride_sample",  # 1-row occupied-cell anchor into the 2-method sample audit
    "partition_layout_audit",  # 1-row table-total anchor into the 3-scheme partition dim
    "session_gap_sweep",  # 4-row threshold dim x gap rows + 1-row base anchor
    "rolling_ols_daily",  # calendar-bounded trailing 14-day band self-join (ewma sibling)
    "qq_table_langs",  # 9-row decile dim broadcast into the rank spine (percentile sibling)
    "loso_token_influence_sources",  # 1-row corpus-total anchor into the 20 source rows
    "idw_loocv_probes",  # 20-row held-out broadcast x radius-gated scan (idw sibling)
    "filter_parity_audit",  # 1-row corpus pass-rate anchor into the 5 lang rows
    "dedup_weighted_stats",  # 1-row fold only (no joins; listed for the global window)
    "sn_scale_daily",  # day-dim pairwise-gap self-join + 1-row count anchor (isotonic sibling)
    "dim_variance_embeddings",  # 1-row mean-variance anchor into the 64 dim rows
    "corpus_growth_recall",  # 20-row probe broadcast x corpus, twice (cosine_topk sibling)
    "variance_ratio_daily",  # 3-row lag dim x day band joins + 1-row base-variance anchor
    "cross_gfunction_suppliers",  # bounded supplier-dim broadcast + 5-row radius sweep (huff sibling)
    "spatial_join_card_estimate",  # 5-row bbox literal dim broadcast over points (pip family)
    "turning_points_daily",  # day-dim calendar equi-joins only; listed for the 1-row fold shape
    "anomaly_ensemble_daily",  # trailing band self-join + 1-row median anchor (ewma sibling)
    "pseudonym_linkage_audit",  # 1-row span-midpoint anchor + 1-row population anchor
    "nation_consistency_audit",  # 25-row nation-center broadcast x customers (facility sibling)
}

CROSS_OK |= {
    "edge_percolation_links",  # component-label rounds on the bounded band-graph dim
    "suppression_loss_audit",  # 3-row k dim + 1-row total anchor (k_anonymity sibling)
    "knn_tie_fragility",  # 20-row probe broadcast x corpus (cosine_topk_bruteforce sibling)
    "zone_map_skipping_audit",  # 3-row literal predicate dim broadcast x zone maps
    "ols_influence_daily",  # 1-row OLS-moment anchor broadcast into the day series
    "hyperanf_links",  # 3-row hop dim broadcast over the exact-BFS witness side
    "spatial_zonemap_audit",  # 3-row literal bbox dim broadcast x file zone maps
    "st_prism_cells_users",  # 288-row literal cell-dim broadcast x fix pairs
    "l_diversity_audit",  # 3-row literal l-threshold dim x QI classes
    "tile_cache_working_set",  # 3-row k-dim + 1-row total anchor broadcasts
    "rtree_quality_audit",  # page-metadata self-join (pages^2, never points^2)
    "solar_daylength_cells",  # 12-row literal band dim x distinct days
    "mobility_motifs_users",  # 1-row census-total anchor broadcast
    "dasymetric_disaggregate_zones",  # 25-row nation-center broadcast x cells
    "price_endings_parts",  # 1-row total anchor into the 100-ending table
    "hypsometric_curve_cells",  # 11-row literal decile dim x ranked cell table
    "reach_frequency_curve_users",  # 5-row cap dim + 1-row total anchor broadcasts
    "group_kfold_assign",  # 1-row corpus-total anchor broadcast
    "fixed_effects_slope_users",  # two 1-row moment folds cross-combined
    "order_aging_buckets",  # 4-row literal snapshot dim x open orders
    "block_bootstrap_cells",  # 32-row rep dim x cell blocks (bounded fan-out)
    "grid_resolution_sweep",  # 4-row literal size dim x point table
    "spatial_cloaking_levels",  # 4-row literal level dim x fixes (pyramid fan-out)
    "topsis_suppliers",  # two 1-row anchor broadcasts (norms, ideal points)
    "shift_share_nations",  # 1-row national-total anchor broadcast
    "rollup_additivity_audit",  # two 1-row grand-total folds cross-combined
    "rhumb_vs_greatcircle_routes",  # 25-center dim self-join (a<b pair spine)
    "newsvendor_quantile_parts",  # 3-row ratio dim x ranked demand weeks
    "fleiss_kappa_langid",  # three 1-row stat folds cross-combined
    "tile_seam_audit_cells",  # grid-capped cell lattice self-join (<=1728 rows)
    "jump_size_spectrum_users",  # 1-row total anchor broadcast
    "bbit_minhash_contract",  # 32-row hash-index dim x bounded probe tokens
    "lbp_texture_cells",  # 8-row literal offset dim x occupied cells (focal)
    "stochastic_dominance_types",  # 1-row (na, nb) anchor broadcast into the CDF spine
    "dtw_banded_traj_pairs",  # 6-user trajectory-dim self-join (pair spine)
    "unicity_mobility_users",  # 3-row m-dim broadcast x per-user picks
    "german_tank_orders",  # two 1-row aggregates cross-combined
    "quantile_regression_daily",  # 21-row slope grid x bounded day series
    "winding_vs_evenodd_pip",  # 10-edge literal pentagram dim x points
    "rational_approx_rates",  # 1-row corpus-total scalar in the share spine
    "coordinate_precision_audit",  # 3-row literal decimal dim x points
    "equalized_odds_audit",  # 1-row extrema anchor broadcast into lang rows
    "birthday_collision_contract",  # 3-row bucket dim + 1-row total anchor
    "median_of_medians_contract",  # two 1-row median anchors broadcast
    "radix_quantile_contract",  # histogram/target anchors broadcast x value scan
    "prefix_trie_stats_urls",  # 3-row literal depth dim x url strings
    "bipartite_check_links",  # parity-frontier rounds + 1-row conflict anchor
    "id_gap_ranges_orders",  # 1-row gap census anchor cross-combined
    "day_boundary_sensitivity",  # 3-row literal offset dim x events
    "cadence_break_alerts",  # 1-row corpus-end anchor broadcast
    "cell_freshness_census",  # 1-row corpus-end anchor broadcast
    "pagerank_damping_sweep",  # per-round 1-row combine on the bounded node dim
    "quantile_method_contract",  # 9-row decile dim + 1-row n anchor broadcasts
    "rec_coverage_audit",  # 1-row catalog-size anchor broadcast
    "ratio_aggregation_contract",  # 1-row median anchor broadcast
    "edge_hygiene_census",  # three 1-row census folds cross-combined
}


_SCHEMAS: dict[str, StructType] = {}


def _plan(spark, name: str) -> str:
    fn, _ = REGISTRY[name]
    df = fn(spark, SF_DIR)
    _SCHEMAS[name] = df.schema
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_hygiene(spark, name):
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    if name not in CROSS_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"


def _has_decimal(t: DataType) -> bool:
    if isinstance(t, DecimalType):
        return True
    if isinstance(t, StructType):
        return any(_has_decimal(f.dataType) for f in t.fields)
    if isinstance(t, ArrayType):
        return _has_decimal(t.elementType)
    if isinstance(t, MapType):
        return _has_decimal(t.keyType) or _has_decimal(t.valueType)
    return False


def test_no_decimal_output_columns(spark):
    # Spark and DuckDB type DECIMAL results by different precision and
    # scale rules (a literal CASE is decimal(17,17) in Spark), so result
    # hashes only agree across the engines over BIGINT/DOUBLE outputs.
    # Schemas come from the sweep above when it ran in this session.
    for name in sorted(set(REGISTRY) - set(_SCHEMAS)):
        _SCHEMAS[name] = REGISTRY[name][0](spark, SF_DIR).schema
    bad = {n: s.simpleString() for n, s in sorted(_SCHEMAS.items()) if _has_decimal(s)}
    assert not bad, f"DECIMAL output columns in: {bad}"


@pytest.mark.parametrize("name", ["quality_cap_per_source", "tfidf_top_terms"])
def test_topk_windows_use_group_limit(spark, name):
    # row_number() <= k filters must plan the two-phase WindowGroupLimit
    # (map-side partial top-k before the shuffle, final after) — the
    # property that makes per-key caps skew-safe at scale. Rewriting the
    # filter in a way Catalyst can't see (e.g. filtering a derived
    # column) would silently lose it; this pins the plan shape.
    plan = _plan(spark, name)
    assert plan.count("WindowGroupLimit") >= 2, f"{name}: no two-phase window group limit"


def test_scan_pushdown_representative(spark):
    # a filter on a scan column must reach the parquet reader
    plan = _plan(spark, "simhash_signatures")  # filter(doc_id < 100)
    pushed = plan.split("PushedFilters: [", 1)
    assert len(pushed) == 2, "no PushedFilters section in scan"
    assert "doc_id" in pushed[1][:120], "doc_id filter not pushed to scan"
