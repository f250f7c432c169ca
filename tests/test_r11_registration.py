"""Contract tests for the queries promoted under ``staged-r10``: the
verdict-matrix arity guard, the zero-token mixture-group contract and
the OCHK continuation-cycle guard. The cohort tests pin that cohort and
run each one's oracle differential (the shared ``oracle_check`` fixture,
also behind tests/test_entry.py::test_query_matches_oracle)."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans import REGISTRY


# the queries tagged staged-r10, in registration order
R11_MOVES = (
    "zipf_profile",
    "ngram_novelty_profile",
    "kneser_ney_bigram_score",
    "verdict_agreement_matrix",
    "dedup_span_removal",
    "temperature_mixture_plan",
)


def test_r11_moves_are_all_registered():
    """Exactly these six queries carry the ``staged-r10`` tag; their
    builders live in the domain catalogs."""
    assert len(R11_MOVES) == 6
    got = [name for name, q in REGISTRY.items() if "staged-r10" in q.tags]
    assert sorted(got) == sorted(R11_MOVES)


@pytest.mark.parametrize("name", sorted(R11_MOVES))
def test_registered_query_matches_oracle(oracle_check, name):
    assert REGISTRY[name].oracle is not None  # all ship full-value oracles
    oracle_check(name)


# --- ADVICE r10 contract fixes ------------------------------------------------


def test_verdict_matrix_rejects_single_column(spark):
    """ADVICE r10: fewer than 2 verdict columns used to crash with
    IndexError(rows[0]); now a typed contract error."""
    from datapipeline_spike_spark.operators.text_stats import (
        verdict_agreement_matrix,
    )

    df = spark.range(4).select((F.col("id") % 2 == 0).alias("a"))
    with pytest.raises(ValueError, match="at least 2 verdict columns"):
        verdict_agreement_matrix(df, ["a"])
    with pytest.raises(ValueError, match="at least 2 verdict columns"):
        verdict_agreement_matrix(df, [])


def test_temperature_mixture_zero_token_group_stays_visible(spark):
    """ADVICE r10: a group whose tokens sum to 0 used to go NULL
    (ln(0)) and silently vanish from the kept-count draw. Contract now:
    the group STAYS in the plan with p = 0, epochs = 0 (NOT max_epochs
    — Spark's least() skips NULLs), nothing sampled."""
    from datapipeline_spike_spark.operators.sampling import (
        temperature_mixture_plan,
    )

    rows = [(i, "real", 100) for i in range(10)] + [
        (100 + i, "empty", 0) for i in range(3)
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, tk long")
    out = {
        r["lang"]: r
        for r in temperature_mixture_plan(
            d, budget_frac=0.5, tau=0.5, max_epochs=4.0
        ).collect()
    }
    assert set(out) == {"real", "empty"}  # zero-token group visible
    e = out["empty"]
    assert e["n_docs"] == 3 and e["n_tokens"] == 0
    assert e["p"] == 0.0 and e["epochs"] == 0.0 and e["sampling_rate"] == 0.0
    assert e["n_kept_docs"] == 0 and e["kept_tokens"] == 0
    r = out["real"]
    assert r["p"] == 1.0  # the only weighted group takes the whole share
    assert r["epochs"] > 0


def test_ochk_continuation_cycle_fails_loud():
    """ADVICE r10: a crafted continuation chain that revisits a block
    must raise Hdf5FormatError, not loop unboundedly (lake payloads are
    untrusted input)."""
    from datapipeline_spike_spark.sources.hdf5_native import (
        UNDEF,
        Hdf5FormatError,
        lookup3,
        read_h5_datasets,
    )

    # v3 superblock + root OHDR whose only message is a continuation
    # pointing BACK at the root OHDR itself (the tightest cycle)
    ohdr_addr = 48
    body = struct.pack("<QQ", ohdr_addr, 24)  # caddr = own block
    root_msgs = struct.pack("<BHB", 0x10, len(body), 0) + body
    head = b"OHDR" + struct.pack("<BBI", 2, 0x02, len(root_msgs))
    oh = head + root_msgs
    oh += struct.pack("<I", lookup3(oh))
    sb = b"\x89HDF\r\n\x1a\n" + struct.pack("<BBBB", 3, 8, 8, 0)
    sb += struct.pack("<QQQQ", 0, UNDEF, ohdr_addr + len(oh), ohdr_addr)
    sb += struct.pack("<I", lookup3(sb))
    with pytest.raises(Hdf5FormatError, match="cycle"):
        read_h5_datasets(sb + oh)
