"""Contract tests for the queries promoted under ``staged-r14``:
registered-form sanity floors (the audio slice must produce real
same-family pairs; BT strengths must be normalized and rank-consistent
with the planted truth; the substr quote plant must surface long runs).
The cohort tests pin that cohort and run each one's oracle differential
(the shared ``oracle_check`` fixture, also behind
tests/test_entry.py::test_query_matches_oracle)."""

from __future__ import annotations

import pytest

from datapipeline_spike_spark.plans import REGISTRY, rotation_preflight


# the queries tagged staged-r14, in registration order
R15_MOVES = (
    "exact_substr_runs",
    "cdc_chunk_dedup",
    "boilerplate_line_removal",
    "url_canonical_dedup",
    "audio_fingerprint_neardup",
    "bradley_terry_strengths",
    "oov_rate_profile",
    "char_entropy_profile",
)


def test_r15_moves_are_all_registered():
    """Exactly these eight queries carry the ``staged-r14`` tag; their
    builders live in the domain catalogs."""
    assert len(R15_MOVES) == 8
    got = [name for name, q in REGISTRY.items() if "staged-r14" in q.tags]
    assert sorted(got) == sorted(R15_MOVES)


def test_r15_moves_remain_placed_by_the_rotation():
    """All eight remain registered, so the computed order places
    them, and the order is sound."""
    assert set(R15_MOVES) <= set(REGISTRY)
    assert rotation_preflight() == []


@pytest.mark.parametrize("name", sorted(R15_MOVES))
def test_registered_query_matches_oracle(oracle_check, name):
    assert REGISTRY[name].oracle is not None  # all ship full-value oracles
    oracle_check(name)


def test_audio_registered_slice_is_not_vacuous(spark, sf_dir):
    """The doc_id % 5 = 3 slice must still contain planted
    same-(family, jitter) byte-identical clips (hamming 0) — an empty
    registered result would pass the oracle compare trivially while
    verifying nothing."""
    rows = REGISTRY["audio_fingerprint_neardup"].spark(spark, sf_dir).collect()
    assert rows
    assert any(r["hamming"] == 0 for r in rows)
    for r in rows:  # the energy-contour plant never bridges families
        assert r["id_a"] % 16 == r["id_b"] % 16, r
        if (r["id_a"] // 16) % 4 == (r["id_b"] // 16) % 4:
            assert r["hamming"] == 0, r


def test_bradley_terry_registered_strengths_are_sane(spark, sf_dir):
    """Normalized to 1; rank order matches the planted truth (item i's
    true strength is proportional to i + 1, so m7 > m0 by a wide
    margin on any non-degenerate draw)."""
    rows = REGISTRY["bradley_terry_strengths"].spark(spark, sf_dir).collect()
    by_item = {r["item"]: r["strength"] for r in rows}
    assert len(by_item) == 8
    assert sum(by_item.values()) == pytest.approx(1.0, abs=1e-4)
    assert by_item["m7"] > by_item["m0"]


def test_substr_registered_plant_produces_quote_runs(spark, sf_dir):
    """The quoting plant (doc_id % 7 == 3 embeds its predecessor) must
    surface as long runs between consecutive doc ids."""
    rows = REGISTRY["exact_substr_runs"].spark(spark, sf_dir).collect()
    assert rows
    quote_runs = [
        r
        for r in rows
        if r["doc_id_b"] - r["doc_id_a"] == 1 and r["doc_id_b"] % 7 == 3
    ]
    assert quote_runs
    assert max(r["run_tokens"] for r in quote_runs) >= 10


def test_boilerplate_registered_plant_strips_everywhere(spark, sf_dir):
    """Every lined page carries the corpus banner + its 5-group promo
    line — both are over the df threshold at any sf, so every doc
    removes >= 2 lines."""
    rows = REGISTRY["boilerplate_line_removal"].spark(spark, sf_dir).collect()
    assert rows
    assert all(r["n_removed"] >= 2 for r in rows)


def test_url_registered_grid_collapses_variants(spark, sf_dir):
    rows = REGISTRY["url_canonical_dedup"].spark(spark, sf_dir).collect()
    assert rows
    assert any(r["group_size"] > 1 for r in rows)
    reps = sum(1 for r in rows if r["is_canonical"])
    groups = len({r["canonical_url"] for r in rows})
    assert reps == groups  # exactly one survivor per group
