"""Differential verification of the r9-registered (ex-staged) catalog.

Round 8 staged these 12 queries; round 9 registered them via
``plans/catalog_r9.register_r9``. This test keeps running the SAME
comparison the pre-handoff gate uses (tools/check_oracle.compare: row
count + schema + order-insensitive exact values with near-miss
detection) against DuckDB at sf0.001 — now against the REGISTRY
entries, so the local differential evidence survives the move and any
regression in the shared operators re-fails here before the driver
sees it.
"""

from __future__ import annotations

import duckdb
import pytest
from check_oracle import compare

from datapipeline_spike_spark.plans import REGISTRY  # noqa: F401  (imports catalog_r9)
from datapipeline_spike_spark.plans.catalog_r9 import R9_REGISTERED
from datapipeline_spike_spark.plans.registry import TABLES


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_r9_moves_are_all_registered():
    assert len(R9_REGISTERED) == 12
    missing = [n for n in R9_REGISTERED if n not in REGISTRY]
    assert not missing, missing


@pytest.mark.parametrize("name", sorted(R9_REGISTERED))
def test_registered_query_matches_oracle(spark, sf_dir, oracle_con, name):
    q = REGISTRY[name]
    sdf = q.spark(spark, sf_dir).toPandas()
    if q.oracle is None:
        assert len(sdf) >= 0  # rows-only contract, driver-style
        return
    odf = oracle_con.execute(q.oracle).df()
    problems = compare(name, sdf, odf)
    assert not problems, problems
