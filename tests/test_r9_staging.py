"""The queries promoted under ``staged-r9`` (staged in round 8,
registered in round 9): the cohort is pinned, and each query runs the
oracle differential the pre-handoff gate uses (the shared
``oracle_check`` fixture, also behind
tests/test_entry.py::test_query_matches_oracle)."""

from __future__ import annotations

import pytest

from datapipeline_spike_spark.plans import REGISTRY


# the queries tagged staged-r9, in registration order
R9_MOVES = (
    "shuffle_shard_plan",
    "weighted_doc_sample",
    "skipgram_pmi",
    "budget_selected_docs",
    "dedup_survivor_policy",
    "html_extract_profile",
    "bigram_fluency",
    "perplexity_bucket_profile",
    "encoding_quality_profile",
    "hard_negative_pairs",
    "hamming_recall_at_k",
    "random_projection_profile",
)


def test_r9_moves_are_all_registered():
    """Exactly these twelve queries carry the ``staged-r9`` tag; their
    builders live in the domain catalogs."""
    assert len(R9_MOVES) == 12
    got = [name for name, q in REGISTRY.items() if "staged-r9" in q.tags]
    assert sorted(got) == sorted(R9_MOVES)


@pytest.mark.parametrize("name", sorted(R9_MOVES))
def test_registered_query_matches_oracle(oracle_check, name):
    oracle_check(name)
