"""Tests for the tools themselves: every tool imports, the
tools/preflight.py type audit flags exactly the divergences the
result hash is sensitive to, and tools/scale_probe.py writes an
amplified directory the oracle agrees with."""

from __future__ import annotations

import importlib
from pathlib import Path

from check_oracle import differential, oracle_connection
import pyarrow as pa
import pyarrow.parquet as pq
from preflight import _canon_arrow_type, _canon_spark_type, type_audit
import pytest
import scale_probe

import __spark_entry__ as entrymod
from datapipeline_spike_spark.plans.registry import TABLES

TOOLS = sorted(p.stem for p in (Path(__file__).resolve().parents[1] / "tools").glob("*.py"))


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    """A tool's imports and module-level names resolve; its main() is
    not run, so no session starts."""
    assert callable(importlib.import_module(name).main)


def test_amplified_directory_is_oracle_consistent(spark, sf_dir, tmp_path):
    """``scale_probe.write`` doubles every table but the fixed
    dimensions, keeps each table's column types, keeps every foreign key
    resolving inside its copy, and registered queries still agree with
    their DuckDB oracle on the result."""
    out = str(tmp_path)
    scale_probe.write(spark, 2, out, sf_dir)
    with oracle_connection(sf_dir) as one, oracle_connection(out) as two:
        for t in TABLES:
            n1, n2 = (c.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for c in (one, two))
            assert n2 == (n1 if t in ("nation", "region") else 2 * n1), t
            assert two.execute(f"DESCRIBE {t}").fetchall() == one.execute(f"DESCRIBE {t}").fetchall(), t
            # DESCRIBE reads Spark's default INT96 timestamps as TIMESTAMP
            # too; the file must keep the source's timestamp[us]
            assert pq.read_schema(f"{out}/{t}.parquet").types == pq.read_schema(
                f"{sf_dir}/{t}.parquet"
            ).types, t

        audit = entrymod.oracle_sql()["referential_integrity_audit"]
        orphans = [
            [(relation, n) for relation, _, n in c.execute(audit).fetchall()] for c in (one, two)
        ]
        assert orphans[0] == orphans[1]

        for name in (
            "referential_integrity_audit",
            "market_share",
            "sessionization",
            "dedup_corpus_assignment",
            "embedding_topk_cosine",
        ):
            assert differential(spark, two, name, out) == [], name


def test_canonical_type_classes():
    assert _canon_spark_type("bigint") == _canon_spark_type("int") == "int"
    assert _canon_spark_type("double") == "float"
    assert _canon_spark_type("timestamp_ntz") == "ts" == _canon_spark_type("timestamp")
    assert _canon_arrow_type(pa.decimal128(38, 0)) == "decimal"
    assert _canon_arrow_type(pa.int64()) == "int"
    assert _canon_arrow_type(pa.large_string()) == _canon_arrow_type(pa.string()) == "str"
    assert _canon_arrow_type(pa.timestamp("us")) == "ts"


def test_type_audit_flags_hugeint_vs_bigint():
    """The round-3 hash-mismatch class: DuckDB sum() widening to
    HUGEINT (arrow decimal128) against a Spark bigint column must be
    flagged; matching columns must not."""
    spark_dtypes = [("n_tokens", "bigint"), ("ratio", "double"), ("doc_id", "bigint")]
    oracle_schema = pa.schema(
        [
            pa.field("n_tokens", pa.decimal128(38, 0)),  # HUGEINT
            pa.field("ratio", pa.float64()),
            pa.field("doc_id", pa.int64()),
        ]
    )
    risks = type_audit(spark_dtypes, oracle_schema)
    assert len(risks) == 1 and "n_tokens" in risks[0] and "decimal" in risks[0]


def test_type_audit_ignores_extra_oracle_columns():
    risks = type_audit([("a", "bigint")], pa.schema([pa.field("b", pa.int64())]))
    assert risks == []


def test_unpartitioned_window_detector():
    """The r8 audit rule: flag Window nodes with no partition spec; a
    partitioned-but-unordered window (aggregate over the whole frame
    per key) prints the same number of bracket groups and must NOT be
    flagged — the discriminator is ASC/DESC NULLS tokens in group 2."""
    from tools.plan_audit import _unpartitioned_windows

    part_ordered = (
        "Window [row_number() windowspecdefinition(a#1, b#2 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS r#3], [a#1], [b#2 ASC NULLS FIRST]"
    )
    part_unordered = (
        "Window [count(1) windowspecdefinition(a#1, specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS n#2L], [a#1]"
    )
    unpart_ordered = (
        "Window [row_number() windowspecdefinition(b#2 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS r#3], [b#2 ASC NULLS FIRST]"
    )
    assert _unpartitioned_windows(part_ordered) == 0
    assert _unpartitioned_windows(part_unordered) == 0
    assert _unpartitioned_windows(unpart_ordered) == 1
    assert _unpartitioned_windows("\n".join([part_ordered, unpart_ordered] * 2)) == 2
    # WindowGroupLimit lines must not confuse the node matcher
    assert _unpartitioned_windows(
        "WindowGroupLimit [a#1], [b#2 ASC NULLS FIRST], row_number(), 40, Final"
    ) == 0
