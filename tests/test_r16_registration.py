"""Contract tests for the queries promoted under ``staged-r14-wave2``:
registered-form sanity floors (the pagerank ranks must sum to 1 over the
host graph; the detector plants must surface every family/license; the
VAD corpus must produce real multi-segment clips; the curriculum
schedule must be phase-major). The cohort tests pin that cohort and run
each one's oracle differential (the shared ``oracle_check`` fixture,
also behind tests/test_entry.py::test_query_matches_oracle)."""

from __future__ import annotations

import pytest

from datapipeline_spike_spark.plans import REGISTRY, rotation_preflight


# the queries tagged staged-r14-wave2, in registration order
R16_MOVES = (
    "pagerank_host_authority",
    "code_detect_profile",
    "license_detect_profile",
    "matryoshka_recall_at_k",
    "audio_vad_segments",
    "curriculum_phase_plan",
)


def test_r16_moves_are_all_registered():
    """Exactly these six queries carry the ``staged-r14-wave2`` tag;
    their builders live in the domain catalogs."""
    assert len(R16_MOVES) == 6
    got = [name for name, q in REGISTRY.items() if "staged-r14-wave2" in q.tags]
    assert sorted(got) == sorted(R16_MOVES)


def test_r16_moves_remain_placed_by_the_rotation():
    """All six remain registered, so the computed order places
    them, and the order is sound."""
    assert set(R16_MOVES) <= set(REGISTRY)
    assert rotation_preflight() == []


@pytest.mark.parametrize("name", sorted(R16_MOVES))
def test_registered_query_matches_oracle(oracle_check, name):
    assert REGISTRY[name].oracle is not None  # all ship full-value oracles
    oracle_check(name)


def test_pagerank_registered_mass_is_conserved(spark, sf_dir):
    """PageRank over the registered host graph must conserve mass
    (sum = 1 at any sf) and concentrate authority: the quadratic-probe
    graph is skewed by construction, so max in-degree > min in-degree
    and the rank spread is real, not uniform."""
    rows = REGISTRY["pagerank_host_authority"].spark(spark, sf_dir).collect()
    assert rows
    total = sum(r["pagerank"] for r in rows)
    assert total == pytest.approx(1.0, abs=1e-3)  # 6dp rounding x |hosts|
    ind = [r["in_degree"] for r in rows]
    ranks = [r["pagerank"] for r in rows]
    assert max(ind) > min(ind)
    assert max(ranks) > min(ranks)


def test_detector_registered_plants_surface_all_classes(spark, sf_dir):
    """The code plant (doc_id % 7 == 2, family % 3) must surface all
    three families plus 'none'; the license plant (doc_id % 11 in
    (1,4,8), license % 5) must surface all five licenses plus 'none';
    n_code is bounded by n_docs everywhere."""
    code = REGISTRY["code_detect_profile"].spark(spark, sf_dir).collect()
    fams = {r["family"] for r in code}
    assert {"python", "js", "c", "none"} <= fams
    assert all(0 <= r["n_code"] <= r["n_docs"] for r in code)

    lic = REGISTRY["license_detect_profile"].spark(spark, sf_dir).collect()
    lics = {r["license"] for r in lic}
    assert {
        "mit", "apache-2.0", "gpl-3.0", "bsd-3-clause", "cc-by-4.0", "none"
    } <= lics
    # per-source shares sum to 1
    by_src: dict[str, float] = {}
    for r in lic:
        by_src[r["source"]] = by_src.get(r["source"], 0.0) + r["source_share"]
    for s, tot in by_src.items():
        assert tot == pytest.approx(1.0, abs=1e-4), s


def test_matryoshka_registered_recall_is_sane(spark, sf_dir):
    """10 rows (2 widths x 5 queries); n_exact = 5 everywhere; recall
    in [0, 1]; width 16 never does worse than width 8 ON AVERAGE (the
    MRL monotonicity the audit exists to confirm)."""
    rows = REGISTRY["matryoshka_recall_at_k"].spark(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["n_exact"] == 5 for r in rows)
    assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in rows)
    mean = {
        m: sum(r["recall_at_k"] for r in rows if r["m_dims"] == m) / 5
        for m in (8, 16)
    }
    assert mean[16] >= mean[8]


def test_vad_registered_corpus_segments_are_real(spark, sf_dir):
    """The gated-WAV corpus must produce segments for (nearly) every
    clip, with genuine silence gaps: at least one clip has >= 2
    segments, and every segment's mean energy clears the threshold."""
    rows = REGISTRY["audio_vad_segments"].spark(spark, sf_dir).collect()
    assert rows
    per_clip: dict[int, int] = {}
    for r in rows:
        per_clip[r["media_id"]] = per_clip.get(r["media_id"], 0) + 1
        assert r["mean_energy"] > 16384
        assert r["n_frames"] >= 1
    assert max(per_clip.values()) >= 2


def test_curriculum_registered_schedule_is_phase_major(spark, sf_dir):
    """schedule_pos is a 1..N permutation ordered phase-major,
    source-minor; per-source phases partition the source's docs."""
    rows = REGISTRY["curriculum_phase_plan"].spark(spark, sf_dir).collect()
    assert rows
    pos = sorted(r["schedule_pos"] for r in rows)
    assert pos == list(range(1, len(rows) + 1))
    ordered = sorted(rows, key=lambda r: r["schedule_pos"])
    keys = [(r["phase"], r["source"]) for r in ordered]
    assert keys == sorted(keys)
    for r in rows:
        assert 1 <= r["phase"] <= 4
        assert r["n_docs"] >= 1 and r["token_budget"] >= r["n_docs"]
