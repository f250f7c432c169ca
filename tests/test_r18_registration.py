"""Contract tests for the queries promoted under ``staged-r17-wave8``:
registered-form sanity floors for every entry. The cohort tests pin that
cohort and run each one's oracle differential (the shared
``oracle_check`` fixture, also behind
tests/test_entry.py::test_query_matches_oracle)."""

from __future__ import annotations

import math

import pytest

from datapipeline_spike_spark.plans import REGISTRY, rotation_preflight


# the queries tagged staged-r17-wave8, in registration order
R18_MOVES = (
    "hits_hub_authority",
    "knn_graph_edges",
    "min_k_prob_profile",
)


def test_r18_moves_are_all_registered():
    """Exactly these three queries carry the ``staged-r17-wave8`` tag;
    their builders live in the domain catalogs."""
    assert len(R18_MOVES) == 3
    got = [name for name, q in REGISTRY.items() if "staged-r17-wave8" in q.tags]
    assert sorted(got) == sorted(R18_MOVES)


def test_r18_moves_remain_placed_by_the_rotation():
    """All three remain registered, so the computed order places
    them, and the order is sound."""
    assert set(R18_MOVES) <= set(REGISTRY)
    assert rotation_preflight() == []


@pytest.mark.parametrize("name", sorted(R18_MOVES))
def test_registered_query_matches_oracle(oracle_check, name):
    assert REGISTRY[name].oracle is not None  # all ship full-value oracles
    oracle_check(name)


# --- registered-form sanity floors ------------------------------------------------


def test_hits_registered_form_floors(spark, sf_dir):
    rows = REGISTRY["hits_hub_authority"].spark(spark, sf_dir).collect()
    assert len(rows) == 64  # every host on the deterministic graph
    hub_mass = sum(r["hub"] for r in rows)
    auth_mass = sum(r["authority"] for r in rows)
    assert hub_mass == pytest.approx(1.0, abs=1e-4)
    assert auth_mass == pytest.approx(1.0, abs=1e-4)
    # the quadratic-probe graph concentrates in-degree: the top
    # authority must hold strictly more than the uniform 1/64 share
    assert max(r["authority"] for r in rows) > 1.5 / 64


def test_knn_graph_registered_form_floors(spark, sf_dir):
    rows = REGISTRY["knn_graph_edges"].spark(spark, sf_dir).collect()
    assert rows
    by_src: dict[int, list] = {}
    for r in rows:
        assert 1 <= r["rank"] <= 5
        by_src.setdefault(r["src_id"], []).append(r)
    # every src's ranks are contiguous from 1 and cosines non-increasing
    for rs in by_src.values():
        rs.sort(key=lambda r: r["rank"])
        assert [x["rank"] for x in rs] == list(range(1, len(rs) + 1))
        sims = [x["cos_sim"] for x in rs]
        assert sims == sorted(sims, reverse=True)
    # mutual edges exist (the graph is not pure hub spray)
    assert any(r["is_mutual"] for r in rows)


def test_min_k_registered_form_floors(spark, sf_dir):
    import math

    rows = REGISTRY["min_k_prob_profile"].spark(spark, sf_dir).collect()
    assert len(rows) == 500  # documents is 500 rows at sf0.001/sf0.01
    strict = 0
    for r in rows:
        assert r["k_tokens"] == max(1, math.ceil(0.2 * r["n_tokens"]))
        assert r["min_k_avg_logprob"] <= r["avg_logprob"] + 1e-9
        if r["min_k_avg_logprob"] < r["avg_logprob"] - 1e-9:
            strict += 1
    assert strict > 0
