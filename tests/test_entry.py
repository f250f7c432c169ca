"""Driver contract: entry() returns rows, every registered query
matches its DuckDB oracle at sf0.001, and the queries()/oracle_sql()
key sets are consistent."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 2


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_matches_oracle(oracle_check, name):
    """Every registered query matches its DuckDB oracle (or, rows-only,
    runs to completion); the check is the ``oracle_check`` fixture."""
    oracle_check(name)


def test_oracle_keys_subset():
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert os_ <= qs
    for name, sql in entrymod.oracle_sql().items():
        assert sql.strip(), name


def test_every_oracle_parses_in_duckdb():
    """Every registered oracle EXPLAINs in DuckDB against empty-typed
    views — a syntax/table-reference break surfaces in CI, not at the
    driver's compare (which only runs once per round). EXPLAIN plans
    without executing, so this is seconds for the whole registry."""
    import duckdb

    from datapipeline_spike_spark.plans.registry import TABLES

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet' LIMIT 0"
        )
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # noqa: BLE001 — collect all breaks
            bad.append((name, str(exc).splitlines()[0]))
    assert not bad, bad


def test_rotation_head_invariants():
    """The driver samples the FIRST ``DRIVER_SAMPLE`` registry entries.
    The order is computed from the committed CORRECTNESS_rN.json files:
    ``_CHANGED`` names lead, then oracle-backed names least recently
    driver-green first, then the rows-only names."""
    from datapipeline_spike_spark.plans import (
        _CHANGED,
        REGISTRY,
        _last_green_rounds,
        rotation_preflight,
    )

    assert rotation_preflight() == []
    names = list(REGISTRY)
    assert names[: len(_CHANGED)] == [n for n in names if n in _CHANGED]
    rest = names[len(_CHANGED):]
    groups = [0 if REGISTRY[n].oracle is not None else 1 for n in rest]
    assert groups == sorted(groups)  # rows-only names close the order
    last = _last_green_rounds()
    backed = [last.get(n, (0, 0)) for n, g in zip(rest, groups) if g == 0]
    assert backed == sorted(backed)  # least recently green first


def test_every_query_lives_in_one_domain_catalog():
    """Queries are organized by domain, never by the round that promoted
    them: every builder is defined in a ``plans.catalog*`` module whose
    name carries no round number. Every query ships a full-value oracle
    except the two rows-only ones, and the 61 promoted queries keep
    their ``staged-*`` tags, so none of them can drop out silently."""
    import re

    from datapipeline_spike_spark.plans import REGISTRY

    for name, q in REGISTRY.items():
        mod = q.spark.__module__
        assert re.fullmatch(
            r"datapipeline_spike_spark\.plans\.catalog(_[a-z]+)?", mod
        ), (name, mod)
    assert {n for n, q in REGISTRY.items() if q.oracle is None} == {"dominant_frequency", "pca_reduce"}
    staged = [n for n, q in REGISTRY.items() if any(t.startswith("staged-") for t in q.tags)]
    assert len(staged) == 61
