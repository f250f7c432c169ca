from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

# the checkout this suite sits in, not an installed copy, and its tools/
# (the oracle compare and the plan-audit allowlists) as plain modules
ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

import duckdb
from check_oracle import compare

from datapipeline_spike_spark.cache import scoped_cache
from datapipeline_spike_spark.plans.registry import TABLES
from datapipeline_spike_spark.session import get_session

# The session's default driver heap (48g) lets one long test session's
# JVM grow past the physical memory of a smaller machine, where the
# kernel kills it and every later test fails. A bounded heap makes it
# collect instead; an explicit SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def oracle_check(spark, sf_dir):
    """The driver's check for one registered query, as
    tools/check_oracle.py runs it: row count, column names and
    order-insensitive exact values against the DuckDB oracle. The query
    is consumed inside ``scoped_cache`` so its pins are released before
    the next one. A rows-only query (no oracle) must run to completion.

    Each name is run and compared once per session; every test that
    names the same query asserts that one outcome."""
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    outcomes: dict[str, list | Exception] = {}

    def differential(name: str) -> list:
        with scoped_cache(spark):
            sdf = entrymod.queries()[name](spark, sf_dir).toPandas()
        oracle = entrymod.oracle_sql().get(name)
        if oracle is None:
            return [] if len(sdf.columns) > 0 else [f"{name}: no columns"]
        return compare(name, sdf, con.execute(oracle).df())

    def check(name: str) -> None:
        if name not in outcomes:
            try:
                outcomes[name] = differential(name)
            except Exception as exc:  # noqa: BLE001 — replayed to every caller
                outcomes[name] = exc
        got = outcomes[name]
        if isinstance(got, Exception):
            raise got
        assert not got, got

    yield check
    con.close()
