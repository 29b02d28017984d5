from __future__ import annotations

import os
import sys
import warnings
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Two-tier suite (r14, VERDICT r13 item 1): the full suite outgrew the
# verify driver's pytest budget (~49 min at 1105 tests — the r13
# driver run truncated at ~60% with zero failures). The DEFAULT run is
# the fast correctness tier; SPARK_GRAFT_FULL_TESTS=1 runs everything
# (the builder's pre-seal gate). Three mechanisms, all env-keyed:
#   1. tests named below (the measured slow tail — integration
#      composites and hand-value pins re-covered by the oracle sweep
#      and the driver's own 50-key gate) skip in the default tier;
#   2. hypothesis property tests run a reduced example budget
#      (test_properties._ex);
#   3. the 373-key oracle sweep parametrizes a deterministic subset
#      (test_queries) — every bench-suite key plus every 5th registry
#      key.
FULL_TESTS = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"

# Measured ≥ ~9 s per call on an idle host (pytest --durations, r14).
_SLOW_TIER = {
    "test_row_id_invariants_random_sequences",
    "test_table_lifecycle_model",
    "test_cliffs_delta_matches_bruteforce",
    "test_ks_bounds_and_identity",
    "test_kruskal_wallis_matches_bruteforce",
    "test_spearman_bounds_and_monotone_invariance",
    "test_benjamini_hochberg_matches_bruteforce",
    "test_retention_compaction_v2_dv_composite",
    "test_benjamini_yekutieli_matches_bruteforce",
    "test_scd2_delta_stream_model",
    "test_holm_bonferroni_matches_bruteforce",
    "test_auc_matches_bruteforce",
    "test_rmst_matches_bruteforce",
    "test_mann_kendall_matches_bruteforce",
    "test_funnel_matches_bruteforce_model",
    "test_shard_export_partition_invariance",
    "test_compact_monitor_table_bounds_units",
    "test_breslow_day_matches_bruteforce",
    "test_winsorize_bounds_and_interior_identity",
    "test_no_oracle_is_vacuous_at_probe_scale",
    "test_cox_ph_matches_bruteforce",
    "test_quantile_normalize_matches_bruteforce",
    "test_jonckheere_matches_bruteforce",
    "test_stratified_logrank_hand_values",
    "test_mor_upsert_model_with_footer_bounds",
    "test_kendall_tau_matches_bruteforce",
    "test_triangle_count_matches_bruteforce",
    "test_pr_auc_matches_bruteforce",
    "test_logrank_matches_bruteforce",
    "test_cox_ph_hand_values",
    "test_jonckheere_hand_values",
    "test_gehan_wilcoxon_matches_bruteforce",
    "test_txn_watermarks_model",
    "test_vocab_js_divergence_hand_values",
    "test_ph_assumption_matches_bruteforce",
    "test_mantel_haenszel_matches_bruteforce",
    "test_cuped_matches_bruteforce",
    "test_brown_forsythe_matches_bruteforce",
    "test_stratified_logrank_matches_bruteforce",
    "test_bpe_train_matches_textbook_model",
    "test_stream_replicate_optimize_every_bounds_delete_sets",
    "test_brunner_munzel_matches_bruteforce",
    "test_replace_where_model",
    "test_txn_idempotent_writes",
    "test_garbage_after_verb_never_mutates_silently",
    "test_srm_check_hand_values",
    "test_column_defaults_insert_time_only",
    "test_incremental_mv_null_sum_and_midhistory_preimages",
    "test_wilcoxon_signed_matches_bruteforce",
    "test_fleming_harrington_matches_bruteforce",
    "test_merge_upsert_model",
    "test_bfs_matches_bruteforce",
    "test_mann_whitney_matches_bruteforce",
    "test_fisher_exact_hand_values",
    "test_overwrite_partitions_dynamic",
    "test_friedman_matches_bruteforce",
    "test_page_trend_matches_bruteforce",
    "test_concurrent_appenders_never_lose_commits",
    "test_cusum_changepoint_level_shift",
    "test_concordance_index_matches_bruteforce",
    "test_breslow_day_hand_values",
    "test_dunn_posthoc_matches_bruteforce",
    "test_stream_replicate_fresh_checkpoint_noop",
    "test_stream_scd2_fresh_checkpoint_noop",
    "test_concurrent_appends_race_all_land",
    "test_pca_top_components_deflation_against_numpy",
    "test_append_commits_accumulate",
    "test_ab_grid_fdr_hand_values",
    "test_auto_log_cleanup_on_checkpoint",
    "test_incremental_aggregate_handles_deletes",
    "test_replace_where_scoped_overwrite",
    "test_partitioned_table_skips_driver_tier",
    "test_gehan_wilcoxon_hand_values",
    "test_incremental_aggregate_group_migration",
    # second trim pass (the default tier still measured 1283 s): the
    # ≥ ~4.3 s names from the default-tier durations run
    "test_distributed_footer_pass_matches_driver_loop",
    "test_cdf_stream_snapshot_applies_mor_delete_sets",
    "test_managed_table_read_is_single_scan_after_appends",
    "test_hits_two_iterations_hand_graph",
    "test_read_changes_incremental",
    "test_cusum_constant_series_no_signal",
    "test_similarity_contracts_offset_ids_and_zero_vectors",
    "test_stream_anomaly_monitor_scores_and_replays",
    "test_cdf_stream_crosses_fully_pruned_dml",
    "test_convert_distributed_stats_end_to_end",
    "test_connected_components_deep_chain_converges",
    "test_cdf_streaming_source_drains_changes",
    "test_timeseries_and_skew_contracts",
    "test_driver_tier_keys_above_collect_bound",
    "test_count_unit_rows_distributed_matches",
    "test_stream_replicate_replace_where_ordering",
    "test_hamming_lsh_index_equals_adhoc",
    "test_connected_components_matches_union_find",
    "test_cdf_stream_respects_column_mapping_shadows",
    "test_spearman_hand_values",
    "test_triangle_count_small_graph",
    "test_vacuum_reclaims_expired_change_sets",
    "test_checkpoint_written_and_replayed",
    "test_triangle_count_triangle_free",
    "test_merge_on_read_upsert_rewrites_nothing",
    "test_zorder_prunes_every_listed_dimension",
    "test_benjamini_hochberg_hand_values",
    "test_check_constraints_enforced",
    "test_merge_on_read_delete_rewrites_nothing",
    "test_mor_commits_materialize_deletion_vectors",
    "test_stream_table_appends_partitioned_values",
    "test_pq_topk_missing_probe_raises_and_remainder_dims",
    "test_cdf_stream_starting_version_inclusive",
    "test_mann_whitney_ci_properties",
    "test_ivf_index_matches_adhoc_and_handles_edges",
    "test_quantile_normalize_step_mapping",
    "test_mcnemar_hand_values",
    "test_sync_metadata_restales_lost_dv_entry_and_keeps_txn",
    "test_pca_returned_plan_is_metadata_scale",
    "test_auc_roc_hand_values",
    "test_packed_hamming_equals_elementwise",
    "test_cohen_kappa_hand_values",
    "test_bradley_terry_broadcast_crossover",
    "test_binom_exact_hand_values",
    "test_gini_known_values",
    "test_bradley_terry_orders_and_symmetry",
    "test_pr_auc_hand_values",
    # third trim pass (default tier measured 1080 s; the per-test
    # variance on this host rotates which names poke above the bar,
    # so this pass catches the ≥ ~6 s names of the second run)
    "test_clustering_domain_metadata",
    "test_cusum_null_rows_excluded",
    "test_metadata_cleanup_retention",
    "test_external_row_id_reader_matches_engine",
    "test_column_mapping_dv_checkpoint_composite",
    "test_watermark_drops_late_data",
    "test_latest_metadata_checkpoint_bounded",
    "test_basket_lift_exact",
    "test_identity_generated_cdf_composite",
    "test_append_only_property_enforced",
    "test_cdf_stream_default_is_latest_snapshot",
    "test_external_read_partitioned_table",
    "test_dv_with_column_mapping_and_partitioning",
    "test_row_tracking_checkpoint_carries_domain_and_ids",
    "test_stateful_stream_equals_batch_sessionize",
    "test_basket_lift_topk_tiebreak",
    "test_external_cdf_matches_engine",
    "test_bfs_distances_path_graph",
}


def _check_slow_tier(items) -> None:
    """A _SLOW_TIER name that matches no collected test is stale: the
    test it named was renamed (and silently rejoined the fast tier) or
    deleted. Only a run that collected every test module can tell a
    stale name from an unselected one; such a run fails on one in the
    full tier and warns in the default tier."""
    modules = {Path(str(item.path)).name for item in items}
    if not {p.name for p in Path(__file__).parent.glob("test_*.py")} <= modules:
        return
    stale = sorted(
        _SLOW_TIER - {item.name.split("[", 1)[0] for item in items}
    )
    if not stale:
        return
    msg = f"_SLOW_TIER names that match no collected test: {stale}"
    if FULL_TESTS:
        raise pytest.UsageError(msg)
    warnings.warn(msg, pytest.PytestWarning)


def pytest_collection_modifyitems(config, items):
    _check_slow_tier(items)
    if FULL_TESTS:
        return
    skip = pytest.mark.skip(
        reason="slow tier — run with SPARK_GRAFT_FULL_TESTS=1"
    )
    for item in items:
        base = item.name.split("[", 1)[0]
        if base in _SLOW_TIER or "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from component_delta_lake_writer_spark import get_spark

    s = get_spark(threads=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle_con():
    from oracle import duckdb_conn

    return duckdb_conn(SF_SMALL)
