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

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datapipeline_spike_spark.plans.registry import TABLES  # noqa: E402
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


# -- value comparison (order-insensitive, mirrors the driver) ----------------

def _canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            # uniform null spelling before stringify (Spark None vs
            # DuckDB NaN in boolean-with-null columns — see check_oracle)
            col = df[c]
            df[c] = col.where(~col.isna(), other="NULL").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_values(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if s_cols != o_cols:
        problems.append(f"columns: spark={s_cols} oracle={o_cols}")
        return problems
    if problems:
        return problems
    s, o = _canon_frame(spark_df), _canon_frame(oracle_df)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            a = pd.to_numeric(sv, errors="coerce").to_numpy(dtype=float)
            b = pd.to_numeric(ov, errors="coerce").to_numpy(dtype=float)
            both_nan = np.isnan(a) & np.isnan(b)
            exact = (a == b) | both_nan
            if not exact.all():
                close = np.isclose(a, b, rtol=0, atol=1e-6, equal_nan=True)
                n_bad = int((~exact).sum())
                if close.all():
                    problems.append(f"col {c}: {n_bad} NEAR-MISS cells (<1e-6; hash would FAIL)")
                else:
                    worst = np.nanmax(np.abs(np.where(both_nan, 0, a - b)))
                    problems.append(f"col {c}: {n_bad} cells differ, worst |delta|={worst:g}")
        else:
            neq = (sv != ov) & ~(sv.isna() & ov.isna())
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())} cells differ, e.g. {sv[i]!r} vs {ov[i]!r}"
                )
    return problems


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
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

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
        problems = compare_values(sdf, odf)
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
