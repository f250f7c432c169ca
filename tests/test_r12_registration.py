"""r12 registration gate: the six r11-staged operators are now REGISTRY
entries (plans/catalog_r12). This keeps running the SAME differential
comparison the pre-handoff gate uses (tools/check_oracle.compare) —
against the REGISTRY entries, so the local evidence survives the move
(the r9/r11 precedent) — plus the ADVICE r11 calibration-range contract
and the recall-audit sanity floor for the registered IVF-PQ form."""

from __future__ import annotations

import duckdb
import pytest
from check_oracle import compare
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans import REGISTRY  # noqa: F401  (imports catalog_r12)
from datapipeline_spike_spark.plans.catalog_r12 import R12_REGISTERED
from datapipeline_spike_spark.plans.registry import TABLES


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_r12_moves_are_all_registered():
    assert len(R12_REGISTERED) == 6
    missing = [n for n in R12_REGISTERED if n not in REGISTRY]
    assert not missing, missing


@pytest.mark.parametrize("name", sorted(R12_REGISTERED))
def test_registered_query_matches_oracle(spark, sf_dir, oracle_con, name):
    q = REGISTRY[name]
    sdf = q.spark(spark, sf_dir).toPandas()
    assert q.oracle is not None  # all six ship full-value oracles
    odf = oracle_con.execute(q.oracle).df()
    problems = compare(name, sdf, odf)
    assert not problems, problems


def test_calibration_excludes_out_of_range_scores(spark):
    """ADVICE r11 contract: scores outside [0,1] are abstentions (like
    NULLs), never negative/overflow bin ids."""
    from datapipeline_spike_spark.operators.quality import (
        reliability_calibration_bins,
    )

    rows = [(0.05, True)] * 4 + [(-0.3, True), (1.5, False), (None, True)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = reliability_calibration_bins(df).collect()
    assert [r["bin"] for r in out] == [0]
    assert out[0]["n"] == 4  # only the in-range rows counted
    assert out[0]["weight"] == 1.0  # the total excludes abstentions too
    # score exactly 1.0 is IN range and lands in the top bin
    edge = spark.createDataFrame([(1.0, True), (0.0, False)],
                                 "score double, label boolean")
    bins = {r["bin"] for r in reliability_calibration_bins(edge).collect()}
    assert bins == {0, 9}


def test_ivfpq_recall_audit_is_not_vacuous(spark, sf_dir):
    """The registered recall number must show the index finding real
    neighbors on the synthetic corpus (a 0.0-recall audit would mean
    the composite is broken even if the oracle agrees)."""
    out = REGISTRY["ivfpq_recall_at_k"].spark(spark, sf_dir).collect()
    assert len(out) == 5
    assert all(r["n_exact"] == 5 for r in out)
    assert sum(r["n_hits"] for r in out) > 0
