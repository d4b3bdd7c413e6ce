from __future__ import annotations

from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from airflow_spotify_etl_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session", autouse=True)
def _driver_without_archive(tmp_path_factory):
    """Start every test driver, in this process and in its children, the
    way it starts without the class-data archive (session.py): point
    ``XDG_CACHE_HOME`` at a per-session cache in which the engine's
    directory is a file. A test run then neither trains the archive that
    later runs on the host start from nor pays its dump at exit.
    ``tests/test_session.py`` trains and uses its own archives in
    ``tmp_path``."""
    cache = tmp_path_factory.mktemp("xdg-cache")
    (cache / "airflow_spotify_etl_spark").write_text("")
    mp = pytest.MonkeyPatch()
    mp.setenv("XDG_CACHE_HOME", str(cache))
    yield
    mp.undo()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


@pytest.fixture()
def stage_tasks(spark):
    """``count(group) -> (jobs, {stage id: tasks})`` over the stages that
    ran in a job group's jobs, read from the status store. A skipped
    stage (its shuffle output already written by an earlier stage) runs
    no task and is left out; once a long session passes
    ``spark.ui.retainedStages``, Spark evicts skipped stages' info first.
    A stage whose info is gone must be one of the job's skipped stages,
    or the count fails."""
    sc = spark.sparkContext
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()

    def count(group: str) -> tuple[int, dict[int, int]]:
        jobs = tracker.getJobIdsForGroup(group)
        tasks = {}
        for job in jobs:
            skipped, gone = store.job(job).numSkippedStages(), []
            for stage in tracker.getJobInfo(job).stageIds:
                try:
                    info = store.lastStageAttempt(stage)
                except Py4JJavaError:
                    gone.append(stage)
                    continue
                if info.status().toString() == "SKIPPED":
                    skipped -= 1
                else:
                    tasks[stage] = info.numTasks()
            if len(gone) != skipped:
                pytest.fail(
                    f"job {job}: the info of stages {gone} is gone and only "
                    f"{skipped} of its stages were skipped; their tasks "
                    "cannot be counted"
                )
        return len(jobs), tasks

    return count


# ---------------------------------------------------------------------------
# Slow-tier split (r12, VERDICT r11 item 2): the default `pytest tests/`
# run must finish well inside the external driver's budget — r11's
# 49-minute full suite was truncated at ~48% by the driver's gate and
# recorded tests_ok=false despite zero failures. Tests measured >= 2 s of
# call time in a full instrumented run (/tmp durations, 2026-08-18; the
# end-to-end oracle/bench-shaped and streaming-equality tests) carry the
# `slow` marker and are EXCLUDED BY DEFAULT via addopts = -m "not slow"
# (pyproject.toml). They are not deleted: run them with
#     python -m pytest tests/ -m slow
# and the full suite (both tiers) stays a release gate for every build
# round. Entries are file::testname with parametrizations collapsed, so a
# slow parametrized family is marked wholesale.
# ---------------------------------------------------------------------------
_SLOW_TESTS = {
    "test_corpus_pipeline.py::test_corpus_pipeline_end_to_end",
    "test_corpus_pipeline.py::test_corpus_pipeline_mix_rates_downsample",
    "test_corpus_pipeline.py::test_corpus_pipeline_weighted_sampling_stage",
    "test_corpus_pipeline.py::test_pipeline_with_classifier_pii_and_excision",
    "test_corpus_pipeline.py::test_quality_aware_keeper_beats_min_id",
    "test_corpus_pipeline.py::test_quality_filter_drops_junk",
    "test_dedup.py::test_band_bucket_cap_drops_boilerplate_buckets",
    "test_dedup.py::test_bloom_novelty_exact_even_when_bloom_saturated",
    "test_dedup.py::test_boilerplate_excision_removes_all_copies",
    "test_dedup.py::test_delta_probe_respects_band_bucket_cap",
    "test_dedup.py::test_minhash_lsh_recall_vs_exact",
    "test_dedup.py::test_span_excise_fixpoint_resolves_seam_duplicates",
    "test_empty_inputs.py::test_dedup_tiers_on_empty_corpus",
    "test_empty_inputs.py::test_delta_dedup_with_empty_delta_and_empty_corpus",
    "test_empty_inputs.py::test_dsir_empty_pools",
    "test_empty_inputs.py::test_incremental_ops_with_empty_delta",
    "test_empty_inputs.py::test_kmv_empty_and_single_group",
    "test_empty_inputs.py::test_merge_upsert_empty_sides",
    "test_empty_inputs.py::test_round4_ops_on_empty",
    "test_empty_inputs.py::test_round4b_ops_on_empty",
    "test_empty_inputs.py::test_round5_text_ops_on_empty_corpus",
    "test_empty_inputs.py::test_sampling_on_empty",
    "test_empty_inputs.py::test_zorder_empty_and_constant_dims",
    "test_graph.py::test_pagerank_cycle_is_uniform",
    "test_graph.py::test_pagerank_hub_matches_numpy",
    "test_graph.py::test_pagerank_smj_fallback_matches_broadcast",
    "test_graph.py::test_personalized_pagerank_mass_near_seeds",
    "test_graph.py::test_triangle_count_known_graphs",
    "test_incremental.py::test_cdc_apply_order_ties_are_deterministic",
    "test_incremental.py::test_scd2_apply_delta_planted_hot_key",
    "test_joins.py::test_incremental_anti_append_is_idempotent",
    "test_layout.py::test_zordered_files_prune_on_both_dims",
    "test_multimodal.py::test_binary_block_pairs_finds_appended_copies_only",
    "test_multimodal.py::test_cdc_pairs_survive_insertion_where_fixed_blocks_fail",
    "test_overflow_guards.py::test_q286_cuped_moments_survive_int64",
    "test_overflow_guards.py::test_q295_squared_cents_survive_int64",
    "test_pipelines.py::test_fetch_partitioned_handles_empty_partitions",
    "test_pipelines.py::test_permissive_malformed_doc_becomes_defaults",
    "test_pipelines.py::test_recently_played_analysis_end_to_end",
    "test_pipelines.py::test_recently_played_etl_is_idempotent",
    "test_pipelines.py::test_top_tracks_etl_end_to_end",
    "test_plan_quality.py::test_lsh_candidate_generation_is_capped_and_join_free",
    "test_plan_quality.py::test_minhash_verify_joins_only_candidates",
    "test_plan_quality.py::test_q100_ivf_pq_streams_codes_through_broadcast_probe",
    "test_plan_quality.py::test_q154_lone_late_supplier_semantics",
    "test_plan_quality.py::test_q182_chi_square_detects_planted_dependence",
    "test_plan_quality.py::test_q183_copy_rings_chain_and_isolate",
    "test_plan_quality.py::test_q184_spearman_planted_correlations",
    "test_plan_quality.py::test_q195_q11_membership_is_exact",
    "test_plan_quality.py::test_q199_hhi_known_values",
    "test_plan_quality.py::test_q200_theil_decomposition_identity",
    "test_plan_quality.py::test_q201_kendall_tau_planted",
    "test_plan_quality.py::test_q22_broadcasts_query_side_only",
    "test_plan_quality.py::test_q256_mmr_python_mirror",
    "test_plan_quality.py::test_q266_textrank_python_mirror",
    "test_plan_quality.py::test_q283_deletion_manifest_hand_computed",
    "test_plan_quality.py::test_q315_hubness_sample_is_fixed_k_bounded",
    "test_plan_quality.py::test_q317_scoreboard_bounds_and_tiers",
    "test_plan_quality.py::test_q318_sweep_monotone_and_exact_at_probe_all",
    "test_plan_quality.py::test_q320_bloom_fpr_planted_occupancy",
    "test_plan_quality.py::test_q327_codebook_members_have_zero_distortion",
    "test_plan_quality.py::test_q328_identical_docs_have_zero_signature_error",
    "test_plan_quality.py::test_q336_frontier_consistency_with_q318",
    "test_plan_quality.py::test_q339_dedup_scoreboard_tiers_and_invariants",
    "test_plan_quality.py::test_q348_drift_scoreboard_tiers_and_bounds",
    "test_plan_quality.py::test_q350_sketch_scoreboard_tiers_and_bounds",
    "test_plan_quality.py::test_q87_q88_deep_joins_broadcast_dims_and_push_filters",
    "test_plan_quality.py::test_q97_pq_adc_scores_compressed_rows_map_side",
    "test_properties.py::test_bloom_novelty_equals_plain_antijoin_on_random_corpora",
    "test_properties.py::test_canonical_dedup_accounting_invariants",
    "test_properties.py::test_chunk_dedup_invariants_on_random_corpora",
    "test_properties.py::test_epoch_shuffle_is_exact_md5_permutation",
    "test_properties.py::test_merge_upsert_partition_property",
    "test_properties.py::test_scd2_apply_delta_equals_rebuild_on_random_streams",
    "test_properties.py::test_span_excise_conservation_and_determinism",
    "test_properties.py::test_span_profile_invariants_on_random_corpora",
    "test_properties.py::test_sparse_cosine_equals_numpy_reference",
    "test_properties.py::test_token_budget_select_equals_serial_greedy",
    "test_property.py::test_duration_mmss_matches_python_divmod",
    "test_property.py::test_entropy_and_repetition_bounds",
    "test_property.py::test_flatten_defaults_match_reference_semantics",
    "test_property.py::test_incremental_merge_equals_full_for_any_split",
    "test_property.py::test_outlier_inequality_matches_exact_rational_zscore",
    "test_r10_suite.py::test_q396_identical_docs_zero_error",
    "test_r10_suite.py::test_q396_k64_row_equals_q328",
    "test_r8b_suite.py::test_lateness_monitor_equals_batch_q362",
    "test_r9_suite.py::test_delay_curve_monitor_equals_batch_q378",
    "test_r9_suite.py::test_q377_perfect_agreement",
    "test_r9_suite.py::test_q377_reversed_rankings",
    "test_session.py::test_first_run_trains_and_second_run_uses_the_archive",
    "test_session.py::test_garbage_archive_is_rejected_deleted_and_the_run_correct",
    "test_similarity.py::test_embedding_drift_identical_and_shifted_snapshots",
    "test_similarity.py::test_ivf_pq_probe_all_equals_plain_adc",
    "test_similarity.py::test_pq_adc_is_reconstruction_dot_and_beats_chance",
    "test_similarity.py::test_semantic_dedup_drops_planted_duplicate",
    "test_similarity.py::test_stored_ann_index_prunes_partitions_and_matches_inmemory",
    "test_sinks.py::test_append_jdbc_idempotent_end_to_end",
    "test_sketches.py::test_count_min_sketch_is_self_describing",
    "test_sketches.py::test_exact_heavy_hitters_guarantee_under_adversarial_partitioning",
    "test_sketches.py::test_exact_heavy_hitters_multibatch_truncation",
    "test_smoke.py::test_every_query_runs_and_has_stable_schema",
    "test_streaming.py::test_ann_index_maintenance_matches_batch_build",
    "test_streaming.py::test_ann_index_maintenance_retry_is_idempotent",
    "test_streaming.py::test_centroid_maintenance_equals_batch_drift",
    "test_streaming.py::test_cms_monitor_equals_batch_sketch",
    "test_streaming.py::test_composed_monitor_fleet_over_shared_stream",
    "test_streaming.py::test_datasheet_maintenance_equals_batch_q119",
    "test_streaming.py::test_dedup_across_micro_batches",
    "test_streaming.py::test_drift_monitor_equals_batch_tvd",
    "test_streaming.py::test_heavy_hitters_maintenance_guarantees",
    "test_streaming.py::test_hll_monitor_equals_batch_sketch",
    "test_streaming.py::test_keep_late_counts_and_keeps_late_rows",
    "test_streaming.py::test_kmv_maintenance_matches_batch_sketch",
    "test_streaming.py::test_novelty_ingest_admits_each_content_once",
    "test_streaming.py::test_novelty_ingest_retry_and_null_text",
    "test_streaming.py::test_rate_monitor_equals_batch_operator",
    "test_streaming.py::test_scd2_maintenance_corrupt_store_fails_instead_of_overwriting",
    "test_streaming.py::test_scd2_maintenance_stream_matches_full_rebuild",
    "test_streaming.py::test_sessionized_stream_gap_semantics",
    "test_streaming.py::test_sliding_windows_overlap",
    "test_streaming.py::test_stateful_running_totals_accumulate_across_batches",
    "test_streaming.py::test_store_swap_crash_recovery",
    "test_streaming.py::test_stream_stream_interval_join",
    "test_streaming.py::test_weighted_sample_maintenance_matches_batch_draw",
    "test_streaming.py::test_windowed_stream_matches_batch_semantics",
    "test_text.py::test_bpe_first_merges_match_sennrich_example",
    "test_text.py::test_dsir_weights_prefer_target_like_docs",
    "test_text.py::test_lang_id_beats_chance",
    "test_trend_suite.py::test_q308_kappa_mechanics",
    "test_trend_suite.py::test_q311_trim_and_winsorize_hand",
    "test_trend_suite.py::test_q314_truncation_changes_ranking",
    "test_trend_suite.py::test_q321_logrank_hand_value",
    "test_trend_suite.py::test_q322_friedman_hand_value",
    "test_trend_suite.py::test_q323_durbin_watson_hand_value",
    "test_trend_suite.py::test_q323_durbin_watson_perfect_fit_is_null",
    "test_trend_suite.py::test_q324_page_hinkley_hand_value",
    "test_trend_suite.py::test_q326_vocab_curve_tie_slice_hand_value",
    "test_trend_suite.py::test_q332_mood_hand_value",
    "test_trend_suite.py::test_q333_planner_zero_converters_is_null",
    "test_window_partition_gate.py::test_unpartitioned_windows_are_bounded",
}


def pytest_collection_modifyitems(config, items):
    matched, files = set(), set()
    for item in items:
        base = item.nodeid.split("[", 1)[0]
        parts = base.split("::")
        fname = parts[0].rpartition("/")[2]
        files.add(fname)
        key = fname + "::" + parts[-1]
        if key in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
            matched.add(key)
    # A stale entry (test renamed or deleted) would silently stop marking
    # anything; fail instead. Entries of collected files are checked only
    # when the file was collected whole, so a run of one file or one node
    # id still works; an entry whose file is gone from tests/ always fails.
    narrowed = {a.split("::", 1)[0].rpartition("/")[2] for a in config.args if "::" in a}
    here = Path(__file__).parent
    stale = sorted(
        e for e in _SLOW_TESTS - matched
        if e.split("::", 1)[0] in files - narrowed
        or not (here / e.split("::", 1)[0]).is_file()
    )
    if stale:
        raise pytest.UsageError(
            "_SLOW_TESTS entries match no collected test: " + ", ".join(stale)
        )
