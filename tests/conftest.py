from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this suite sits in, not an installed copy, and its tools/
# (the oracle compare and the plan-audit allowlists) as plain modules
ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

from datapipeline_spike_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
