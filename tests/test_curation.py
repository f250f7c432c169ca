"""End-to-end curation assembly (operators/curation.py)."""

from __future__ import annotations

from datapipeline_spike_spark.operators.curation import curate_corpus

BOILER = "Subscribe to our newsletter for offers and updates every week."
STORY_A = (
    "The parquet reader prunes row groups using footer statistics and "
    "the planner pushes filters down to the scan so that only the "
    "matching pages are ever read from the object store."
)
STORY_B = (
    "Shuffle partitions should be sized so that each task fits in "
    "memory because a spill to disk during the exchange is the most "
    "common cause of slow wide stages in practice."
)


def _corpus(spark):
    rows = [
        # near-dup family: 1 is the original, 2 a superset copy with
        # HIGHER quality (longer prose); kept boilerplate-free so the
        # paragraph stage cannot perturb their similarity
        (1, STORY_A),
        (2, f"{STORY_A} The reader also caches the decoded dictionary pages between the row groups."),
        # gibberish low-quality doc (scores ~0.27: no stopwords, tiny length)
        (3, "zzk qqv 9 xx!!"),
        # unique doc with PII, carrying the shared boilerplate paragraph
        (4, f"{STORY_B} Contact alice@example.com for details.\n{BOILER}"),
        # second carrier: its boilerplate copy must vanish (doc 4 is first)
        (5, f"{BOILER}\nThe optimizer folds constant expressions before the plan is cached for reuse by later queries in the same session."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus_end_to_end_stages(spark):
    out = {
        r["doc_id"]: r.asDict()
        for r in curate_corpus(
            _corpus(spark), min_quality=0.35, jaccard_threshold=0.5
        ).collect()
    }
    # gibberish doc failed the quality floor
    assert 3 not in out
    # near-dup family collapsed to the HIGHER-quality copy (doc 2,
    # despite doc 1 being first) — label != survivor
    assert 2 in out and 1 not in out
    # both unique docs survive; the boilerplate paragraph exists ONLY
    # at its first corpus occurrence (doc 4), not in doc 5
    assert 4 in out and 5 in out
    assert BOILER in out[4]["text"]
    assert BOILER not in out[5]["text"]
    # PII redacted
    assert "alice@example.com" not in out[4]["text"]
    assert "[EMAIL]" in out[4]["text"]
    # schema: quality + n_tokens carried through
    assert set(out[4]) == {"doc_id", "text", "quality", "n_tokens"}


def test_curate_corpus_html_front_door_and_tail_stages(spark):
    html_rows = [
        (
            i,
            "<html><head><title>t</title></head><body>"
            "<nav><a href='/'>Home</a> <a href='/b'>Blog</a></nav>"
            f"<p>{STORY_A} Variation token number {i} keeps the "
            f"documents distinct from one another.</p></body></html>",
        )
        for i in range(20)
    ]
    df = spark.createDataFrame(html_rows, "doc_id long, html string")
    out = curate_corpus(
        df,
        html_col="html",
        min_quality=0.0,
        jaccard_threshold=0.95,
        token_budget=400.0,
        n_shards=4,
        seed=1,
    ).collect()
    assert 0 < len(out) < 20  # budget genuinely cut the corpus
    for r in out:
        assert "Home" not in r["text"]  # nav boilerplate gone
        assert 0 <= r["shard"] < 4
        assert "shuffle_u" in r.asDict()
    # deterministic end to end: rerun and input-layout invariance
    again = curate_corpus(
        df.repartition(7),
        html_col="html",
        min_quality=0.0,
        jaccard_threshold=0.95,
        token_budget=400.0,
        n_shards=4,
        seed=1,
    ).collect()
    key = lambda rows: sorted((r["doc_id"], r["text"], r["shard"]) for r in rows)
    assert key(again) == key(out)


def test_scoped_cache_frees_exactly_curate_corpus_pins(spark):
    """Cache lifecycle: ``scoped_cache`` around a curate_corpus call
    releases every frame the pipeline pinned (persisted stage frames
    and dedup_corpus's checkpoint barriers) on exit WITHOUT touching
    other session caches."""
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.cache import (
        _cached_plans,
        _persistent_rdd_ids,
        scoped_cache,
        unpersist_all,
    )

    def entries():
        return sorted(p.toString() for p in _cached_plans(spark))

    # Earlier tests can leave pins nothing references; Spark's
    # ContextCleaner may release those at any moment, which would make
    # the before/after comparison depend on JVM GC timing. Start from a
    # drained session so the only pin outside the block is ``unrelated``.
    unpersist_all(spark, blocking=True)
    unrelated = spark.range(10).withColumn("v", F.col("id") * 2).persist()
    unrelated.count()
    rdds_before, entries_before = _persistent_rdd_ids(spark), entries()

    with scoped_cache(spark):
        out = curate_corpus(
            _corpus(spark), min_quality=0.35, jaccard_threshold=0.5
        ).collect()
        assert len(out) >= 3
        # the block really pinned frames of its own
        assert _persistent_rdd_ids(spark) - rdds_before
        assert len(entries()) > len(entries_before)

    assert _persistent_rdd_ids(spark) == rdds_before
    assert entries() == entries_before
    # the unrelated cache survived (clearCache would have nuked it)
    assert unrelated.storageLevel.useMemory
    unrelated.unpersist()


def test_curation_profile_funnel_is_monotone(spark):
    """The funnel can only shrink stage over stage, and the shard rows
    partition the budget stage exactly."""
    from datapipeline_spike_spark.operators.curation import curation_profile

    prof = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in curation_profile(
            _corpus(spark),
            min_quality=0.35,
            jaccard_threshold=0.5,
            token_budget=1e9,
            n_shards=2,
        ).collect()
    }
    order = ["00_input", "10_paragraph_dedup", "20_quality_floor",
             "30_neardup_best_copy"]
    docs = [prof[s][0] for s in order]
    assert docs == sorted(docs, reverse=True)
    assert prof["40_redacted"][0] == prof["30_neardup_best_copy"][0]
    # huge budget: selection keeps everything
    assert prof["50_budget"] == prof["40_redacted"]
    shard_docs = sum(v[0] for s, v in prof.items() if s.startswith("60_shard_"))
    assert shard_docs == prof["50_budget"][0]
