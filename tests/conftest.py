from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this suite sits in, not an installed copy, and its tools/
# (the oracle compare and the plan-audit allowlists) as plain modules
ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

from check_oracle import differential, oracle_connection
from pyspark.sql import SparkSession

from datapipeline_spike_spark.cache import unpersist_all
from datapipeline_spike_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module", autouse=True)
def _drain_pins_after_module():
    """Release every frame a test module left pinned before the next
    module starts, so pins neither pile up in the test JVM nor reach
    the pin-accounting tests of a later module. A module that never
    started the session leaves nothing to drain."""
    yield
    spark = SparkSession.getActiveSession()
    if spark is not None:
        unpersist_all(spark, blocking=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    """One DuckDB connection for the session, with a view per testdata
    table of sf_dir: the oracle side of every differential."""
    con = oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def oracle_check(spark, sf_dir, oracle_con):
    """The driver's check for one registered query, as
    tools/check_oracle.py runs it: row count, column names and
    order-insensitive exact values against the DuckDB oracle. The query
    is consumed inside ``scoped_cache`` so its pins are released before
    the next one. A rows-only query (no oracle) must run to completion.

    Each name is run and compared once per session; every test that
    names the same query asserts that one outcome."""
    outcomes: dict[str, list | Exception] = {}

    def check(name: str) -> None:
        if name not in outcomes:
            try:
                outcomes[name] = differential(spark, oracle_con, name, sf_dir)
            except Exception as exc:  # noqa: BLE001 — replayed to every caller
                outcomes[name] = exc
        got = outcomes[name]
        if isinstance(got, Exception):
            raise got
        assert not got, got

    return check
