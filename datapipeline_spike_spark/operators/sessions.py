"""Sessionization and stream-dedup operators (SURVEY.md §2.9 ST8/ST9,
batch twins). The streaming forms (``F.session_window``,
``dropDuplicatesWithinWatermark``) live in streaming/pipeline.py and
share these column expressions; the batch forms here are what the
DuckDB oracle can replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_minutes: int = 30,
    tiebreak: str = "event_id",
) -> DataFrame:
    """Assign a session id per key: a new session starts when the gap
    from the previous event exceeds ``gap_minutes``. Classic lag +
    cumulative-sum — one shuffle on the key, sort within partition
    (same cost class at 100 TB as any keyed window)."""
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    gap_s = gap_minutes * 60
    prev = F.lag(ts).over(w)
    # fractional epoch seconds (microseconds / 1e6), the same DOUBLE
    # arithmetic as DuckDB's epoch(ts): a BIGINT cast truncates to whole
    # seconds and misses gaps such as 1800.9 s. Two-step cast:
    # TIMESTAMP_NTZ has no direct numeric cast, but NTZ->TIMESTAMP works
    # and is an identity for an already-zoned TIMESTAMP — tolerant of
    # either load-boundary type
    def _epoch_s(c):  # noqa: ANN001, ANN202
        return c.cast("timestamp").cast("double")

    new_session = (
        prev.isNull()
        | ((_epoch_s(F.col(ts)) - _epoch_s(prev)) > gap_s)
    ).cast("int")
    return df.withColumn("session_seq", F.sum(new_session).over(w))


def latest_per_key(
    df: DataFrame, keys: list[str], ts: str = "ts", tiebreak: str = "event_id"
) -> DataFrame:
    """Keep the latest row per key (ST9 dedup / Redis latest-state
    semantics, reference/README.md:280-289): row_number over desc
    (ts, tiebreak) == 1. Deterministic given a unique tiebreak."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts).desc(), F.col(tiebreak).desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def scd2_history(
    df: DataFrame,
    keys: list[str],
    state_col: str,
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change stream:
    per key, order events by (ts, tiebreak), collapse consecutive runs
    of the SAME state (only transitions open a new version), and emit
    one validity interval per version — ``valid_from`` (first event of
    the run), ``valid_to`` (start of the next version, NULL while
    current), ``version`` (1-based per key) and ``is_current``. This is
    the warehouse-history companion of :func:`latest_per_key`
    (latest-state = the is_current slice of this output).

    Shape: ONE keyed window (partition by key, sort by time) feeds the
    run-collapse lag, the version cumsum, and the valid_to lead — the
    sessionization shuffle class, linear at any stream size with no
    self-joins. Deterministic given a unique tiebreak.

    NULL states are real values: a NULL following a non-NULL (or vice
    versa) opens a new version (null-safe inequality — the SQL twin is
    ``IS DISTINCT FROM``), so a NULL-state event is never silently
    merged into the preceding run. The first event per key always opens
    version 1, NULL state included."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts), F.col(tiebreak))
    changed = (
        (F.row_number().over(w) == 1)
        | ~F.col(state_col).eqNullSafe(F.lag(state_col).over(w))
    ).cast("int")
    runs = df.select(
        *keys, F.col(state_col), F.col(ts), F.sum(changed).over(w).alias("version")
    )
    # state is constant within a run, so one aggregate collapses each
    # version to its opening + last-confirmed timestamps — same
    # partitioning as the window above, no second exchange.
    # last_event_ts is what makes the interval table MERGE-able: an
    # incremental upsert (warehouse.scd2_upsert) replays (valid_from,
    # last_event_ts) as change points, so appending in-order batches
    # reconstructs exactly (interior run events are collapsed away by
    # design — only the run boundary timestamps carry information).
    starts = runs.groupBy(*keys, "version", state_col).agg(
        F.min(ts).alias("valid_from"), F.max(ts).alias("last_event_ts")
    )
    lw = Window.partitionBy(*keys).orderBy("version")
    return starts.select(
        *keys,
        F.col(state_col),
        "valid_from",
        F.lead("valid_from").over(lw).alias("valid_to"),
        "last_event_ts",
        F.col("version").cast("int").alias("version"),
        F.lead("valid_from").over(lw).isNull().alias("is_current"),
    )
