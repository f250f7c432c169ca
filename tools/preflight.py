"""Pre-flight correctness gate — run BEFORE handing a round to the driver.

Replicates the driver's per-query comparison (row count, column names,
order-insensitive values) and adds the two checks that would have caught
the round-3 regressions in-repo:

1. **Crash check**: every registry query is executed end-to-end on the
   given sf (default sf0.001, fast) — a load-boundary type drift (e.g.
   the TIMESTAMP_NTZ events.ts that broke sessionization) surfaces as a
   loud FAIL here instead of in the driver's CORRECTNESS file.
2. **Storage-type audit**: the oracle result is fetched as Arrow (NOT
   ``.df()``, which silently widens DuckDB HUGEINT to float64) and each
   column's physical type is compared with the Spark column type. A
   value-identical but type-divergent column (DuckDB ``sum(BIGINT)`` ->
   HUGEINT vs Spark bigint) is exactly the hash-mismatch the driver
   reports, so it is flagged as TYPE-RISK even when all values agree.

Usage:
    python tools/preflight.py [--sf-dir DIR] [--strict-types] [query ...]

Exit status: number of failing queries (0 = clean). TYPE-RISK is a
failure only under ``--strict-types`` (DuckDB widens every integer
aggregate, so risks are common and most are cast away in the oracle SQL;
the default mode reports them without failing the gate — fix any that
appear on an output column).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from check_oracle import compare, oracle_connection  # noqa: E402
from datapipeline_spike_spark.session import get_session  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


# -- storage-type canonicalization -------------------------------------------
# The driver's value hash is representation-sensitive: a DuckDB HUGEINT
# renders differently from a Spark bigint even when every value is equal.
# Map both engines' types to a canonical storage class and flag mismatches.

def _canon_spark_type(dt: str) -> str:
    dt = dt.lower()
    if dt in ("bigint", "long", "int", "integer", "smallint", "tinyint"):
        return "int"
    if dt in ("double", "float", "real"):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt in ("string", "varchar"):
        return "str"
    if dt in ("boolean", "bool"):
        return "bool"
    if dt.startswith("timestamp"):
        return "ts"
    if dt == "date":
        return "date"
    if dt.startswith("array") or dt.startswith("list"):
        return "list"
    return dt


def _canon_arrow_type(t) -> str:
    import pyarrow as pa

    if pa.types.is_decimal(t):
        return "decimal"  # DuckDB HUGEINT / widened integer aggregate
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    return str(t)


def type_audit(spark_dtypes: list[tuple[str, str]], arrow_schema) -> list[str]:
    """Columns whose canonical storage class differs between engines."""
    spark_map = {c: _canon_spark_type(t) for c, t in spark_dtypes}
    risks = []
    for field in arrow_schema:
        if field.name not in spark_map:
            continue
        o = _canon_arrow_type(field.type)
        s = spark_map[field.name]
        if o != s:
            risks.append(f"{field.name}: spark={s} oracle={o} ({field.type})")
    return risks


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--strict-types", action="store_true",
                    help="TYPE-RISK columns fail the gate (default: report only)")
    ap.add_argument("queries", nargs="*", help="subset of query names (default: all)")
    args = ap.parse_args()
    # check_oracle-style convenience (and foot-gun guard): a positional
    # arg containing '/' is an sf-dir, not a query name — previously it
    # silently became a never-matching name filter and the run reported
    # '0 failures' having checked NOTHING
    paths = [q for q in args.queries if "/" in q]
    if paths:
        args.sf_dir = paths[-1]
        args.queries = [q for q in args.queries if "/" not in q]

    spark = get_session("preflight")
    con = oracle_connection(args.sf_dir)

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    only = set(args.queries)
    n_fail = 0
    n_risk = 0
    t_start = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf_spark = fn(spark, args.sf_dir)
            spark_dtypes = sdf_spark.dtypes
            sdf = sdf_spark.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL      {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            continue
        try:
            reader = con.execute(oracles[name])
            otbl = reader.arrow()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL      {name}: oracle error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        risks = type_audit(spark_dtypes, otbl.schema)
        odf = otbl.to_pandas()
        problems = compare(name, sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL      {name}: " + "; ".join(problems))
        elif risks:
            n_risk += 1
            if args.strict_types:
                n_fail += 1
            print(f"TYPE-RISK {name}: " + "; ".join(risks))
        else:
            print(f"PASS      {name} ({len(sdf)} rows)")
    dt = time.time() - t_start
    print(f"\npreflight: {n_fail} failures, {n_risk} type-risks ({dt:.0f}s, {args.sf_dir})")
    return n_fail


if __name__ == "__main__":
    raise SystemExit(main())
