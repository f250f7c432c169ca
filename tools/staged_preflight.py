"""Run every STAGED operator's DuckDB differential at an arbitrary
scale-factor directory — the registration-time preflight (both-SFs
rule, the r14 c4 lesson: a differential green at one SF can hide an
edge-case divergence the other exposes), runnable before the staged
name ever takes a head slot.

Usage:
  python tools/staged_preflight.py [sf_dir]   # default /root/testdata/sf0.01

The staging test modules hardcode sf0.001 (their pytest contract);
this tool re-points their SF constant and calls the differential test
functions directly, so the oracle SQL exercised here is byte-identical
to what registration will lift into the catalog."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datapipeline_spike_spark.session import get_session  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> int:
    import tests.test_r14_staging as w1
    import tests.test_r14_staging_wave2 as w2
    import tests.test_r17_staging as w3
    import tests.test_r18_staging as w4
    import tests.test_r19_staging as w5

    w1.SF = SF_DIR
    w2.SF = SF_DIR
    w3.SF = SF_DIR
    w4.SF = SF_DIR
    w5.SF = SF_DIR
    spark = get_session("staged-preflight", cpus=8, shuffle_partitions=8)
    cases = [
        # r15 cohort (staged r14 wave 1)
        w1.test_exact_substr_runs_match_duckdb,
        w1.test_cdc_chunk_dedup_matches_duckdb,
        w1.test_boilerplate_removal_matches_duckdb,
        w1.test_url_canonical_dedup_matches_duckdb,
        w1.test_audio_neardup_pairs_match_duckdb,
        w1.test_bradley_terry_matches_duckdb,
        w1.test_oov_rate_matches_duckdb,
        w1.test_char_entropy_matches_duckdb,
        # r16/r17 cohorts (waves 2-7)
        w2.test_pagerank_host_authority_matches_duckdb,
        w2.test_code_detect_profile_matches_duckdb,
        w2.test_license_detect_profile_matches_duckdb,
        w2.test_matryoshka_recall_matches_duckdb,
        w2.test_audio_vad_segments_match_duckdb,
        w2.test_curriculum_phase_plan_matches_duckdb,
        w2.test_video_scene_cuts_match_duckdb,
        w2.test_crawl_frontier_priority_matches_duckdb,
        w2.test_anchor_text_stats_match_duckdb,
        w2.test_span_corruption_plan_matches_duckdb,
        w2.test_label_propagation_matches_duckdb,
        w2.test_vocab_overlap_matches_duckdb,
        w2.test_minhash_band_tuning_matches_duckdb,
        w2.test_triangle_clustering_matches_duckdb,
        w2.test_hybrid_rrf_matches_duckdb,
        w2.test_chat_turn_stats_match_duckdb,
        w2.test_dpo_pair_plan_matches_duckdb,
        # r18 cohort (staged r17 wave 8)
        w3.test_hits_matches_duckdb,
        w3.test_knn_graph_matches_duckdb,
        w3.test_min_k_prob_matches_duckdb,
        # r19 cohort (staged r17 wave 9)
        w3.test_kcore_matches_duckdb,
        w3.test_distinct_ngram_diversity_matches_duckdb,
        w3.test_best_of_n_matches_duckdb,
        # r19/r20 cohort (staged r18 wave 10)
        w4.test_nn_descent_matches_duckdb,
        w4.test_char_runs_match_duckdb,
        w4.test_epoch_weights_match_duckdb,
        # r20+ cohort (staged r19 wave 11)
        w5.test_knn_prune_matches_duckdb,
        w5.test_membership_triage_matches_duckdb,
    ]
    failed = []
    for t in cases:
        try:
            t(spark)
            print(f"PASS  {t.__name__} ({SF_DIR})", flush=True)
        except Exception as exc:  # noqa: BLE001 — report-and-continue gate
            failed.append(t.__name__)
            print(f"FAIL  {t.__name__}: {exc}", flush=True)
    print(f"staged preflight: {len(failed)} failures / {len(cases)}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
