"""r18 registration gate: the three r17-staged WAVE 8 operators are
now REGISTRY entries (plans/catalog_r18). This keeps running the SAME
differential comparison the pre-handoff gate uses
(tools/check_oracle.compare) — against the REGISTRY entries, so the
local evidence survives the move (the r9..r17 precedent) — plus
registered-form sanity floors for every new entry."""

from __future__ import annotations

import duckdb
import pytest
from check_oracle import compare

from datapipeline_spike_spark.plans import (  # noqa: F401  (imports catalog_r18)
    REGISTRY,
    rotation_preflight,
)
from datapipeline_spike_spark.plans.catalog_r18 import R18_REGISTERED
from datapipeline_spike_spark.plans.registry import TABLES


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_r18_moves_are_all_registered():
    assert len(R18_REGISTERED) == 3
    missing = [n for n in R18_REGISTERED if n not in REGISTRY]
    assert not missing, missing


def test_r18_moves_remain_placed_by_the_rotation():
    """All three remain registered, so the computed order places them,
    and the order is sound."""
    assert set(R18_REGISTERED) <= set(REGISTRY)
    assert rotation_preflight() == []


@pytest.mark.parametrize("name", sorted(R18_REGISTERED))
def test_registered_query_matches_oracle(spark, sf_dir, oracle_con, name):
    q = REGISTRY[name]
    sdf = q.spark(spark, sf_dir).toPandas()
    assert q.oracle is not None  # all three ship full-value oracles
    odf = oracle_con.execute(q.oracle).df()
    problems = compare(name, sdf, odf)
    assert not problems, problems


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
