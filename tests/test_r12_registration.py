"""Contract tests for the queries promoted under ``staged-r11``: the
calibration-range contract and the recall-audit sanity floor for the
registered IVF-PQ form. The cohort tests pin that cohort and run each
one's oracle differential (the shared ``oracle_check`` fixture, also
behind tests/test_entry.py::test_query_matches_oracle)."""

from __future__ import annotations

import pytest

from datapipeline_spike_spark.operators.quality import reliability_calibration_bins
from datapipeline_spike_spark.plans import REGISTRY


# the queries tagged staged-r11, in registration order
R12_MOVES = (
    "reliability_calibration_bins",
    "token_distribution_drift",
    "rouge_ngram_eval",
    "embedding_centroid_drift",
    "hubness_profile",
    "ivfpq_recall_at_k",
)


def test_r12_moves_are_all_registered():
    """Exactly these six queries carry the ``staged-r11`` tag; their
    builders live in the domain catalogs."""
    assert len(R12_MOVES) == 6
    got = [name for name, q in REGISTRY.items() if "staged-r11" in q.tags]
    assert sorted(got) == sorted(R12_MOVES)


@pytest.mark.parametrize("name", sorted(R12_MOVES))
def test_registered_query_matches_oracle(oracle_check, name):
    assert REGISTRY[name].oracle is not None  # all ship full-value oracles
    oracle_check(name)


def test_calibration_excludes_out_of_range_scores(spark):
    """ADVICE r11 contract: scores outside [0,1] are abstentions (like
    NULLs), never negative/overflow bin ids."""
    from datapipeline_spike_spark.operators.quality import (
        reliability_calibration_bins,
    )

    rows = [(0.05, True)] * 4 + [(-0.3, True), (1.5, False), (None, True)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = reliability_calibration_bins(df).collect()
    assert [r["bin"] for r in out] == [0]
    assert out[0]["n"] == 4  # only the in-range rows counted
    assert out[0]["weight"] == 1.0  # the total excludes abstentions too
    # score exactly 1.0 is IN range and lands in the top bin
    edge = spark.createDataFrame([(1.0, True), (0.0, False)],
                                 "score double, label boolean")
    bins = {r["bin"] for r in reliability_calibration_bins(edge).collect()}
    assert bins == {0, 9}


def test_ivfpq_recall_audit_is_not_vacuous(spark, sf_dir):
    """The registered recall number must show the index finding real
    neighbors on the synthetic corpus (a 0.0-recall audit would mean
    the composite is broken even if the oracle agrees)."""
    out = REGISTRY["ivfpq_recall_at_k"].spark(spark, sf_dir).collect()
    assert len(out) == 5
    assert all(r["n_exact"] == 5 for r in out)
    assert sum(r["n_hits"] for r in out) > 0
