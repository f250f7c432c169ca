"""Contract tests for the queries promoted under ``staged-r17-wave9``:
registered-form sanity floors for every entry. The cohort tests pin that
cohort and run each one's oracle differential (the shared
``oracle_check`` fixture, also behind
tests/test_entry.py::test_query_matches_oracle)."""

from __future__ import annotations

import pytest

from datapipeline_spike_spark.plans import REGISTRY, rotation_preflight


# the queries tagged staged-r17-wave9, in registration order
R19_MOVES = (
    "kcore_membership",
    "distinct_ngram_diversity",
    "best_of_n_selection",
)


def test_r19_moves_are_all_registered():
    """Exactly these three queries carry the ``staged-r17-wave9`` tag;
    their builders live in the domain catalogs."""
    assert len(R19_MOVES) == 3
    got = [name for name, q in REGISTRY.items() if "staged-r17-wave9" in q.tags]
    assert sorted(got) == sorted(R19_MOVES)


def test_r19_moves_remain_placed_by_the_rotation():
    """All three remain registered, so the computed order places
    them, and the order is sound."""
    assert set(R19_MOVES) <= set(REGISTRY)
    assert rotation_preflight() == []


@pytest.mark.parametrize("name", sorted(R19_MOVES))
def test_registered_query_matches_oracle(oracle_check, name):
    assert REGISTRY[name].oracle is not None  # all ship full-value oracles
    oracle_check(name)


# --- registered-form sanity floors ------------------------------------------------


def test_kcore_registered_form_floors(spark, sf_dir):
    rows = REGISTRY["kcore_membership"].spark(spark, sf_dir).collect()
    assert len(rows) == 64  # every host on the deterministic graph
    core = [r for r in rows if r["in_kcore"]]
    # k=4 is the registered grain BECAUSE it splits the graph (k=3 is
    # degenerate: all 64 in-core); both sides must be non-empty for
    # the differential to stay informative
    assert 0 < len(core) < 64
    # every core member keeps raw degree >= k (induced degree >= k
    # implies raw degree >= k; the converse peel is what the oracle
    # proves)
    assert all(r["degree"] >= 4 for r in core)


def test_diversity_registered_form_floors(spark, sf_dir):
    rows = REGISTRY["distinct_ngram_diversity"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_docs"] > 0
        assert 0 <= r["distinct_unigrams"] <= r["total_unigrams"]
        assert 0 <= r["distinct_bigrams"] <= r["total_bigrams"]
        if r["total_unigrams"] > 0:
            assert 0 < r["distinct_1"] <= 1.0
        if r["total_bigrams"] > 0:
            # bigram diversity never exceeds 1; type count bounds hold
            assert 0 < r["distinct_2"] <= 1.0


def test_best_of_n_registered_form_floors(spark, sf_dir):
    rows = REGISTRY["best_of_n_selection"].spark(spark, sf_dir).collect()
    assert len(rows) == 50  # doc_id % 50 prompts, documents >= 500 rows
    for r in rows:
        assert r["n_candidates"] >= 1
        assert r["best_score"] >= r["mean_score"] - 1e-9
        assert r["selection_gap"] == pytest.approx(
            round(r["best_score"] - r["mean_score"], 6), abs=1.5e-6
        )
        assert r["std_score"] >= 0.0
        # the winner's score is the pool max — the internally
        # consistent row the ADVICE r18 NULL guard protects
        assert r["best_id"] % 50 == r["prompt_id"]
