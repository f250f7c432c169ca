"""Query registry backing the driver contract (__spark_entry__.py).

Each entry pairs a Spark DataFrame builder with the ANSI-SQL string a
DuckDB oracle runs on the same parquet tables. Column names are aliased
identically on both sides (the driver's comparator sorts columns by name
before hashing values). Float-valued computed columns are rounded to 6
decimals on BOTH sides so hash comparison is immune to floating-point
association-order differences between engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class EngineQuery:
    name: str
    spark: QueryFn
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, EngineQuery] = {}


def register(
    name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = EngineQuery(name=name, spark=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


# --- DuckDB oracle fragments shared across catalogs ---------------------------

# the engine's tokenizer (functions/text.tokens) over column {c}:
# lowercase, split on non-[a-z0-9'], drop empties
SQL_TOKS = (
    "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9'']+'),"
    " t -> t != '')"
)

# the engine's deterministic md5 [0,1) draw of key {k}
# (operators/sampling.hash_u01), and its per-document form
SQL_U01 = "(('0x' || substr(md5({k}), 1, 8))::BIGINT / 4294967296.0)"
SQL_U01_DOC = SQL_U01.format(k="CAST(doc_id AS VARCHAR)")

_SQL_SW_EN = "['the','and','of','to','in','is','that','it','for','on']"


def sql_quality6(toks: str, text: str) -> str:
    """functions.text.quality_score_from_tokens replay, rounded 6dp —
    the same expression text as the quality_classifier_score oracle."""
    return (
        f"round(0.4 * least(len({toks}) / 200.0, 1.0)"
        f" + 0.3 * least((len(list_filter({toks}, x -> list_contains("
        f"{_SQL_SW_EN}, x))) * 1.0 / len({toks})) / 0.10, 1.0)"
        f" + 0.3 * (1.0 - (length({text}) - length(regexp_replace({text},"
        f" '[\\.,;:!\\?]', '', 'g'))) * 1.0 / length({text})), 6)"
    )


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md), normalizing
    event-time types at the load boundary.

    The driver has regenerated testdata with different physical
    timestamp encodings across rounds — TIMESTAMP(NANOS) (arrives as a
    long of nanoseconds under ``spark.sql.legacy.parquet.nanosAsLong``)
    and plain ``timestamp[us]`` without a timezone (arrives as
    TIMESTAMP_NTZ, which ``withWatermark`` and long-casts reject). Every
    operator downstream assumes session-zoned TIMESTAMP, so ALL drift is
    coerced here, once:

    - long nanos  -> ``timestamp_micros(ns div 1000)`` (integer division;
      truncating exactly like DuckDB's ns->us coercion).
    - TIMESTAMP_NTZ -> ``cast(timestamp)``. With the session timezone
      pinned to UTC this is a wall-clock identity on collect (NTZ is
      interpreted in the session tz and converted back on read), so
      DuckDB oracle comparisons (UTC-naive) agree.

    Coercions are logged so schema drift is visible, not silent.
    """
    from pyspark.sql import functions as F  # local import: registry stays importable without a JVM
    from pyspark.sql import types as T

    # runtime-settable SQL confs; required even when the caller did not
    # use datapipeline_spike_spark.session.get_session (the driver's
    # harness builds its own vanilla SparkSession). UTC makes the
    # NTZ->TIMESTAMP cast deterministic regardless of host tz.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        _log_coercion(table, "ts", "bigint (nanos)", "timestamp")
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            _log_coercion(table, f.name, "timestamp_ntz", "timestamp")
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


_LOGGED_COERCIONS: set[tuple[str, str]] = set()


def _log_coercion(table: str, col: str, src: str, dst: str) -> None:
    """Warn once per (table, column) so testdata schema drift is loud."""
    key = (table, col)
    if key in _LOGGED_COERCIONS:
        return
    _LOGGED_COERCIONS.add(key)
    import logging

    logging.getLogger(__name__).warning(
        "testdata drift: %s.%s read as %s, coerced to %s at the load boundary",
        table, col, src, dst,
    )
