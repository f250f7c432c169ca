"""Driver-facing query catalog: every implemented operator from
SURVEY.md §2 is registered here as (Spark callable, DuckDB oracle SQL).
``__spark_entry__`` at the repo root re-exports this registry."""

import json
import re
from pathlib import Path

from datapipeline_spike_spark.plans.registry import REGISTRY, EngineQuery, register  # noqa: F401
from datapipeline_spike_spark.plans import catalog  # noqa: F401  (populates REGISTRY)
from datapipeline_spike_spark.plans import catalog_relational  # noqa: F401
from datapipeline_spike_spark.plans import catalog_events  # noqa: F401
from datapipeline_spike_spark.plans import catalog_extensions  # noqa: F401
from datapipeline_spike_spark.plans import catalog_ml  # noqa: F401
from datapipeline_spike_spark.plans import catalog_curation  # noqa: F401
from datapipeline_spike_spark.plans import catalog_dedup  # noqa: F401
from datapipeline_spike_spark.plans import catalog_graph  # noqa: F401
from datapipeline_spike_spark.plans import catalog_text  # noqa: F401
from datapipeline_spike_spark.plans import catalog_training  # noqa: F401

# The driver's per-round correctness harness hash-matches the FIRST
# DRIVER_SAMPLE registry entries against DuckDB. The order is computed
# from the committed CORRECTNESS_rN.json files at the repo root:
# changed queries first, then every oracle-backed query least recently
# driver-green first, then the rows-only queries (no oracle, so a head
# slot would verify nothing). Names last green in the same round keep
# that round's sample order, then registration order.
DRIVER_SAMPLE = 50

# Registered queries whose plan changed since the last driver round.
# They lead the next sample so the driver re-hashes them; drop a name
# once a CORRECTNESS file shows it green again.
_CHANGED: tuple[str, ...] = ()

_ROOT = Path(__file__).resolve().parents[2]


def _last_green_rounds() -> dict[str, tuple[int, int]]:
    """Name -> (N, position) for the highest N of any CORRECTNESS_rN.json
    in which the query has ``hash_match: true``; position is its place
    in that file. Names never green are absent."""
    last: dict[str, tuple[int, int]] = {}
    for path in _ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for pos, (name, result) in enumerate(json.loads(path.read_text()).items()):
            if result.get("hash_match") is True:
                last[name] = max(last.get(name, (0, 0)), (rnd, pos))
    return last


def _reorder() -> None:
    last = _last_green_rounds()

    def key(n: str) -> tuple[int, tuple[int, int]]:
        group = 0 if n in _CHANGED else 1 if REGISTRY[n].oracle is not None else 2
        return (group, last.get(n, (0, 0)))

    # sorted() is stable, so full ties keep registration order
    snapshot = {n: REGISTRY[n] for n in sorted(REGISTRY, key=key)}
    REGISTRY.clear()
    REGISTRY.update(snapshot)


def rotation_preflight() -> list[str]:
    """Check what the computed order can still get wrong. Returns
    human-readable problems; empty == sound. Run by the test suite and
    by tools/rotation_preflight.py."""
    problems: list[str] = []
    unknown = [n for n in _CHANGED if n not in REGISTRY]
    if unknown:
        problems.append(f"_CHANGED names not in REGISTRY: {unknown}")
    rows_only = [n for n in _CHANGED if n in REGISTRY and REGISTRY[n].oracle is None]
    if rows_only:
        problems.append(f"_CHANGED names without an oracle: {rows_only}")
    if len(_CHANGED) > DRIVER_SAMPLE:
        problems.append(f"_CHANGED ({len(_CHANGED)}) exceeds the driver sample ({DRIVER_SAMPLE})")
    head = list(REGISTRY)[:DRIVER_SAMPLE]
    if len(set(head)) != DRIVER_SAMPLE:
        problems.append(f"head holds {len(set(head))} distinct names, driver samples {DRIVER_SAMPLE}")
    no_oracle = [n for n in head if REGISTRY[n].oracle is None]
    if no_oracle:
        problems.append(f"head names without an oracle: {no_oracle}")
    return problems


_reorder()
