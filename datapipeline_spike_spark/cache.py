"""Session-level cache release for the deliberate persist() pins
(VERDICT r17 item 4 / ADVICE r16-b, hardened per ADVICE r18).

Several operators deliberately ``persist()`` a shared frame so two
consumers read one materialization instead of recomputing an expensive
subtree per branch (the LSH edge frame in
``similarity.knn_graph_edges``, the posting frame in
``dedup.exact_substr_runs``, the graph edge frames in
``graph.pagerank`` / LPA / triangles, ...), and the iterative
operators ``localCheckpoint()`` loop state to truncate lineage (the r7
exponential-plan lesson). Both pin executor storage for the life of
the SparkSession: the right trade inside bench's
fresh-session-per-round cadence and for any bounded batch job, but a
LONG-LIVED session composing many operators accumulates pinned frames
with no release path — the documented cache-leak class.

This module is that release path, deliberately OUTSIDE the operators:

- the operators stay session-rebuild-simple (no unpersist bookkeeping
  threaded through every return value, no behavior change to any
  registered plan — the r18 design decision: a mechanism at the
  SESSION grain, not handles at the operator grain);
- :func:`unpersist_all` is the "between jobs" drain — it clears the
  SQL cache (every ``DataFrame.persist`` goes through the
  CacheManager, so ``spark.catalog.clearCache()`` both drops the
  InMemoryRelation entries and frees their storage) and then
  unpersists any REMAINING persistent RDDs, which is exactly the
  ``localCheckpoint`` population (checkpoint RDDs are pinned at the
  RDD layer and invisible to the SQL cache);
- :func:`scoped_cache` bounds ONE unit of work: frames pinned inside
  the ``with`` block are released at exit — BOTH their storage and
  their CacheManager registrations (ADVICE r18: releasing only the
  RDD storage leaves the entry registered, so a later query whose
  analyzed plan matches silently re-materializes the cache outside
  any scope, and dead entries accumulate as metadata); frames pinned
  before the block survive untouched, keeping their cache semantics.

Safety contract (corrected per ADVICE r18 — the earlier "worst case
is recomputation" claim was wrong for checkpoints): releasing a
plain ``persist()`` frame is always safe — the next action recomputes
from lineage instead of reading cache (Spark semantics), so the worst
case is recomputation cost, never wrong answers. A
``localCheckpoint()`` frame is DIFFERENT: the checkpoint truncates
lineage, so once its blocks are dropped there is nothing to recompute
FROM — a held DataFrame returned by an iterative operator (pagerank,
hits, kcore, scd2/incremental steady-state, ...) raises "Checkpoint
block rdd_N_M not found" on its next action after a drain. Two safe
usage shapes:

1. **Consume-then-drain** (the default, what ``check_oracle`` and the
   bench loop do): run the actions that consume the result INSIDE the
   scope (or before the drain), then release everything. Results
   already collected/written are plain data — always safe.
2. **Hold-across-drain**: pass ``keep_checkpoints=True`` so the drain
   skips every RDD whose checkpoint flag is set and releases only the
   recomputable population. Held DataFrames over checkpoints stay
   valid; the trade is that checkpoint storage is only reclaimed at
   session teardown (or a later full drain once the frames are no
   longer referenced).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession


def materialize_barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """Config-gated materialization barrier for shared-subtree and
    iterative frames (r20, VERDICT r19 item 3: the eager-localCheckpoint
    house pattern is a LOCAL-MODE assumption — lineage is truncated, so
    at cluster scale an executor loss after the barrier kills the job
    with no recompute path). Every operator barrier routes through
    here; the session conf ``spark.datapipeline.materialize`` picks the
    implementation:

    - ``localCheckpoint`` (default): executor-local checkpoint blocks —
      the cheapest barrier, right for ``local[*]`` runs and bounded
      batch jobs (bench.py's posture). NOT fault-tolerant: blocks are
      the only copy.
    - ``persist``: ``MEMORY_AND_DISK`` persist — cluster-safe (an
      executor loss recomputes from lineage), shares one
      materialization across consumers exactly like the checkpoint.
      Lineage is kept, so very deep iterative chains pay plan-size
      growth (the r7 lesson) — prefer ``checkpoint`` for those.
    - ``checkpoint``: reliable ``DataFrame.checkpoint`` — cluster-safe
      AND lineage-truncating; requires
      ``spark.sparkContext.setCheckpointDir`` (HDFS/object store) to
      have been called, the standard cluster deployment step.

    The default keeps local plans and bench numbers bit-identical to
    the pre-policy code (``transform(materialize_barrier)`` is exactly
    ``localCheckpoint(eager=True)``); a cluster deployment flips ONE
    conf instead of auditing ~40 call sites. Frames pinned by any mode
    are drained by :func:`unpersist_all` between jobs (checkpoint-mode
    files are reclaimed at checkpoint-dir cleanup)."""
    mode = df.sparkSession.conf.get(
        "spark.datapipeline.materialize", "localCheckpoint"
    )
    if mode == "persist":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            out.count()
        return out
    if mode == "checkpoint":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently pinned to storage (persist()ed
    DataFrames once materialized, localCheckpoint RDDs, raw persisted
    RDDs)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(jid) for jid in jmap.keySet().toArray()}


def _is_checkpoint_rdd(jrdd) -> bool:
    """True when the pinned RDD's blocks are a checkpoint (local or
    reliable) — i.e. dropping them removes the only copy, because the
    checkpoint already truncated the lineage that could rebuild
    them."""
    try:
        return bool(jrdd.isCheckpointed() or jrdd.isLocallyCheckpointed())
    except Exception:  # noqa: BLE001 — conservative: treat unknown as droppable
        return False


def _unpersist_rdd_ids(
    spark: SparkSession,
    ids: set[int],
    blocking: bool = False,
    keep_checkpoints: bool = False,
) -> int:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for jid in list(jmap.keySet().toArray()):
        if int(jid) not in ids:
            continue
        jrdd = jmap.get(jid).rdd()
        if keep_checkpoints and _is_checkpoint_rdd(jrdd):
            continue
        jrdd.unpersist(blocking)
        released += 1
    return released


def _cached_plans(spark: SparkSession) -> list:
    """The CacheManager's registered logical plans (JVM objects), one
    per cached entry. Used to diff which entries a scope added."""
    out = []
    it = (
        spark._jsparkSession.sharedState().cacheManager().cachedData().iterator()
    )
    while it.hasNext():
        out.append(it.next().plan())
    return out


def _uncache_plans(spark: SparkSession, plans, blocking: bool = False) -> int:
    """Drop specific CacheManager entries (registration AND storage)
    by logical plan, leaving every other entry untouched. cascade is
    False: a pre-existing entry built ON a dropped one keeps its own
    cache (it re-materializes from source on next use, which is the
    plain-persist safety contract)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    jss = spark._jsparkSession
    dropped = 0
    for plan in plans:
        try:
            cm.uncacheQuery(jss, plan, False, blocking)
            dropped += 1
        except Exception:  # noqa: BLE001 — entry already gone is fine
            pass
    return dropped


def unpersist_all(
    spark: SparkSession,
    blocking: bool = False,
    keep_checkpoints: bool = False,
) -> int:
    """Release EVERY pinned frame in the session: the SQL cache (all
    persist()ed DataFrames/tables, dropped from the CacheManager so
    plans stop compiling to InMemoryTableScan) and any remaining
    persistent RDDs (the localCheckpoint population). Returns the
    number of storage-pinned RDDs seen at entry.

    Call between jobs in a long-lived session, or at teardown.
    SAFETY (see module docstring): plain-persist results remain valid
    and recomputable afterward; a DataFrame over a localCheckpoint
    does NOT — consume results before draining, or pass
    ``keep_checkpoints=True`` to skip the checkpoint population and
    release only the recomputable storage."""
    before = _persistent_rdd_ids(spark)
    # clearCache() also drops cached frames whose plans sit ON
    # checkpoints — safe either way: those frames recompute from the
    # checkpoint blocks, and with keep_checkpoints=True the blocks
    # themselves (the only non-recomputable storage) are skipped below
    spark.catalog.clearCache()
    _unpersist_rdd_ids(
        spark,
        _persistent_rdd_ids(spark),
        blocking,
        keep_checkpoints=keep_checkpoints,
    )
    return len(before)


@contextmanager
def scoped_cache(
    spark: SparkSession,
    blocking: bool = False,
    keep_checkpoints: bool = False,
) -> Iterator[None]:
    """Bound one unit of work: any frame pinned DURING the block
    (operator persist(), localCheckpoint, manual cache()) is released
    at exit — CacheManager registration and storage both; frames
    pinned BEFORE the block survive untouched with their cache
    semantics intact (ADVICE r18 closed the warm-path half: the
    block's own cache ENTRIES are now dropped per-plan via
    ``CacheManager.uncacheQuery``, not just their RDD storage, so a
    later matching query cannot silently re-materialize a dead entry
    and no metadata accumulates).

    SAFETY (see module docstring): consume results inside the block
    (the check_oracle/bench shape), or pass ``keep_checkpoints=True``
    when holding an iterative operator's result DataFrame across the
    exit — its localCheckpoint blocks are then kept."""
    before_rdds = _persistent_rdd_ids(spark)
    before_plans = _cached_plans(spark)
    try:
        yield
    finally:
        after_plans = _cached_plans(spark)
        new_plans = [
            p
            for p in after_plans
            if not any(p.equals(b) for b in before_plans)
        ]
        _uncache_plans(spark, new_plans, blocking)
        # the non-SQL remainder the scope added (localCheckpoint
        # blocks, raw persisted RDDs)
        _unpersist_rdd_ids(
            spark,
            _persistent_rdd_ids(spark) - before_rdds,
            blocking,
            keep_checkpoints=keep_checkpoints,
        )
