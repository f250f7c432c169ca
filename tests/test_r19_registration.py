"""r19 registration gate: the three r17-staged WAVE 9 operators are
now REGISTRY entries (plans/catalog_r19). This keeps running the SAME
differential comparison the pre-handoff gate uses
(tools/check_oracle.compare) — against the REGISTRY entries, so the
local evidence survives the move (the r9..r18 precedent) — plus
registered-form sanity floors for every new entry."""

from __future__ import annotations

import duckdb
import pytest
from check_oracle import compare

from datapipeline_spike_spark.plans import (  # noqa: F401  (imports catalog_r19)
    REGISTRY,
    rotation_preflight,
)
from datapipeline_spike_spark.plans.catalog_r19 import R19_REGISTERED
from datapipeline_spike_spark.plans.registry import TABLES


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_r19_moves_are_all_registered():
    assert len(R19_REGISTERED) == 3
    missing = [n for n in R19_REGISTERED if n not in REGISTRY]
    assert not missing, missing


def test_r19_moves_remain_placed_by_the_rotation():
    """All three remain registered, so the computed order places them,
    and the order is sound."""
    assert set(R19_REGISTERED) <= set(REGISTRY)
    assert rotation_preflight() == []


@pytest.mark.parametrize("name", sorted(R19_REGISTERED))
def test_registered_query_matches_oracle(spark, sf_dir, oracle_con, name):
    q = REGISTRY[name]
    sdf = q.spark(spark, sf_dir).toPandas()
    assert q.oracle is not None  # all three ship full-value oracles
    odf = oracle_con.execute(q.oracle).df()
    problems = compare(name, sdf, odf)
    assert not problems, problems


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
