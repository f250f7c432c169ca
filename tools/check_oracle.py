"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet tables, then compare row-count, schema (column names), and
order-insensitive values (columns sorted by name, rows sorted by all
columns). Flags near-misses (differences below 1e-6) separately so
rounding hazards are visible before the driver sees them.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datapipeline_spike_spark.cache import scoped_cache  # noqa: E402
from datapipeline_spike_spark.plans.registry import TABLES  # noqa: E402
from datapipeline_spike_spark.session import get_session  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            # normalize null spellings FIRST: a Spark boolean-with-null
            # arrives as object{None}, the DuckDB twin as object{NaN} —
            # astype(str) alone would read 'None' vs 'nan' as a diff
            # the driver's hash (uniform null handling) never sees
            col = df[c]
            df[c] = col.where(~col.isna(), other="NULL").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if s_cols != o_cols:
        problems.append(f"columns: spark={s_cols} oracle={o_cols}")
        return problems
    if problems:
        return problems
    s, o = _canon(spark_df), _canon(oracle_df)
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
                    problems.append(f"col {c}: {n_bad} cells differ, worst |Δ|={worst:g}")
        else:
            neq = (sv != ov) & ~(sv.isna() & ov.isna())
            if neq.any():
                i = int(neq.idxmax())
                problems.append(f"col {c}: {int(neq.sum())} cells differ, e.g. {sv[i]!r} vs {ov[i]!r}")
    return problems


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def differential(spark, con, name: str, sf_dir: str) -> list[str]:
    """The differential check of one registered query: its problems against
    the DuckDB oracle on ``con``, or, for a rows-only query, that it runs
    to a frame with columns. The query is consumed inside
    ``scoped_cache``, so its pins (persist/checkpoint barriers and their
    shuffle-file fds) are released before the next one."""
    with scoped_cache(spark):
        sdf = entrymod.queries()[name](spark, sf_dir).toPandas()
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        return [] if len(sdf.columns) > 0 else ["no columns"]
    return compare(name, sdf, con.execute(oracle).df())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_session("oracle-check")
    con = oracle_connection(sf_dir)
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        try:
            problems = differential(spark, con, name, sf_dir)
        except Exception as e:  # noqa: BLE001
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            n_fail += 1
            print(f"FAIL  {name}: " + "; ".join(problems), flush=True)
        else:
            print(f"{'PASS ' if name in oracles else 'ROWS-ONLY'} {name}", flush=True)
    print(f"\n{n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
