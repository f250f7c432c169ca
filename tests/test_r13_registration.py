"""Contract tests for the queries promoted under ``staged-r12``:
registered-form sanity floors (the dhash slice must produce real pairs;
doremi weights must be finite and normalized; the containment plant must
produce quote pairs). The cohort tests pin that cohort and run each
one's oracle differential (the shared ``oracle_check`` fixture, also
behind tests/test_entry.py::test_query_matches_oracle)."""

from __future__ import annotations

import math

import pytest

from datapipeline_spike_spark.plans import REGISTRY, rotation_preflight


# the queries tagged staged-r12, in registration order
R13_MOVES = (
    "watermark_greenlist_score",
    "quality_rank_normalize",
    "ngram_containment_pairs",
    "dhash_neardup_pairs",
    "sequence_packing_plan",
    "doremi_domain_weights",
)


def test_r13_moves_are_all_registered():
    """Exactly these six queries carry the ``staged-r12`` tag; their
    builders live in the domain catalogs."""
    assert len(R13_MOVES) == 6
    got = [name for name, q in REGISTRY.items() if "staged-r12" in q.tags]
    assert sorted(got) == sorted(R13_MOVES)


def test_r13_moves_remain_placed_by_the_rotation():
    """All six remain registered, so the computed order places
    them, and the order is sound."""
    assert set(R13_MOVES) <= set(REGISTRY)
    assert rotation_preflight() == []


@pytest.mark.parametrize("name", sorted(R13_MOVES))
def test_registered_query_matches_oracle(oracle_check, name):
    assert REGISTRY[name].oracle is not None  # all ship full-value oracles
    oracle_check(name)


def test_dhash_registered_slice_is_not_vacuous(spark, sf_dir):
    """The doc_id % 5 = 3 corpus slice must still contain planted
    exact-duplicate pairs (hamming 0) — an empty registered result
    would pass the oracle compare trivially while verifying nothing."""
    rows = REGISTRY["dhash_neardup_pairs"].spark(spark, sf_dir).collect()
    assert rows
    assert any(r["hamming"] == 0 for r in rows)
    for r in rows:  # the slice + plant never bridges families
        assert r["id_a"] % 16 == r["id_b"] % 16, r


def test_doremi_registered_weights_are_normalized(spark, sf_dir):
    rows = REGISTRY["doremi_domain_weights"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["weight"] is not None and not math.isnan(r["weight"])
    assert sum(r["weight"] for r in rows) == pytest.approx(1.0, abs=1e-4)


def test_containment_registered_plant_produces_quote_pairs(spark, sf_dir):
    """The quoting plant (doc_id % 7 == 3 embeds its predecessor) must
    surface as high-containment pairs in the registered form."""
    rows = REGISTRY["ngram_containment_pairs"].spark(spark, sf_dir).collect()
    assert rows
    quote_pairs = [
        r
        for r in rows
        if r["doc_id_b"] - r["doc_id_a"] == 1 and r["doc_id_b"] % 7 == 3
    ]
    assert quote_pairs
    assert all(r["max_containment"] >= 0.5 for r in quote_pairs)
