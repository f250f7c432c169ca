"""r14 registration gate: the six r12-staged operators are now REGISTRY
entries (plans/catalog_r13). This keeps running the SAME differential
comparison the pre-handoff gate uses (tools/check_oracle.compare) —
against the REGISTRY entries, so the local evidence survives the move
(the r9/r11/r12 precedent) — plus rotation/head invariants for the r14
rotation and the registered-form sanity floors (the dhash slice must
produce real pairs; doremi weights must be finite and normalized)."""

from __future__ import annotations

import math

import duckdb
import pytest
from check_oracle import compare

from datapipeline_spike_spark.plans import (  # noqa: F401  (imports catalog_r13)
    REGISTRY,
    rotation_preflight,
)
from datapipeline_spike_spark.plans.catalog_r13 import R13_REGISTERED
from datapipeline_spike_spark.plans.registry import TABLES


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_r13_moves_are_all_registered():
    assert len(R13_REGISTERED) == 6
    missing = [n for n in R13_REGISTERED if n not in REGISTRY]
    assert not missing, missing


def test_r13_moves_remain_placed_by_the_rotation():
    """The r14 'head leads with the six' pin retired with the r15
    rotation (the r12-gate precedent); what must stay true forever:
    all six remain registered, placed, and the rotation is sound."""
    placed = set(REGISTRY)
    assert set(R13_REGISTERED) <= placed
    assert rotation_preflight() == []


@pytest.mark.parametrize("name", sorted(R13_REGISTERED))
def test_registered_query_matches_oracle(spark, sf_dir, oracle_con, name):
    q = REGISTRY[name]
    sdf = q.spark(spark, sf_dir).toPandas()
    assert q.oracle is not None  # all six ship full-value oracles
    odf = oracle_con.execute(q.oracle).df()
    problems = compare(name, sdf, odf)
    assert not problems, problems


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
