"""Planted-property, edge-case and contract tests for the corpus-statistics
operators staged in r10 (zipf_profile, ngram_novelty_profile,
kneser_ney_bigram_score, verdict_agreement_matrix, dedup_span_removal,
temperature_mixture_plan), plus the two DuckDB differentials whose SQL
differs from the registered oracle (the verdict matrix and the mixture
plan without the zero-token guard). Each registered query's oracle
differential is tests/test_entry.py::test_query_matches_oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.operators.text_stats import (
    kneser_ney_bigram_score,
    ngram_novelty_profile,
    zipf_profile,
)
from datapipeline_spike_spark.plans import REGISTRY
from datapipeline_spike_spark.plans.registry import SQL_TOKS, SQL_U01_DOC, load


def test_zipf_profile_planted_distribution(spark, sf_dir):
    """An exactly Zipfian corpus (count(rank r) = N//r) must fit slope
    ~ -1 with near-perfect r2."""
    rows = []
    for r in range(1, 51):
        rows.extend([(f"w{r:03d}",)] * (2000 // r))
    docs = spark.createDataFrame(rows, "text string").withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    prof = zipf_profile(docs, top_n=50).collect()[0]
    assert prof["slope"] == pytest.approx(-1.0, abs=0.05)
    assert prof["r2"] > 0.999
    # the driver's synthetic corpus is deliberately flat (slope ~ -0.18),
    # but its counts still decrease with rank and the fit is a valid
    # correlation
    got = REGISTRY["zipf_profile"].spark(spark, sf_dir).collect()[0]
    assert got["slope"] < 0
    assert 0.0 < got["r2"] <= 1.0


def test_ngram_novelty_planted_duplicate_pair(spark):
    """Two identical docs share every gram (novelty 0); a unique doc
    scores 1; a doc below the gram threshold yields the NULL row."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "completely different words entirely here"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty_profile(docs).collect()}
    assert out[1]["novelty"] == 0.0 and out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0
    assert out[4]["n_distinct_ngrams"] == 0 and out[4]["novelty"] is None


def test_kneser_ney_ranks_fluent_above_scrambled(spark):
    """The word-order property the smoothing must preserve: a document
    reusing the corpus's COMMON TRANSITIONS outscores one built from
    the same vocabulary with scrambled transitions."""
    base = "the quick brown fox jumps over the lazy dog"
    corpus = [(i, base) for i in range(20)]
    corpus.append((100, base))  # fluent: transitions seen 21x
    corpus.append((101, "dog the over fox brown lazy jumps quick the"))
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_logprob_kn"] for r in
           kneser_ney_bigram_score(docs).collect()}
    assert out[100] > out[101]


def test_verdict_agreement_matrix_matches_duckdb(spark, sf_dir, oracle_con):
    """Agreement matrix vs a DuckDB replay on planted verdicts over the
    documents table (filters: quality floor, length floor, digit-free),
    including a NULL-abstain column and the kappa formula."""
    from datapipeline_spike_spark.operators.text_stats import (
        verdict_agreement_matrix,
    )

    docs = load(spark, sf_dir, "documents")
    verdicts = docs.select(
        (F.length("text") >= 200).alias("len_ok"),
        (F.size(F.split(F.lower("text"), "[^a-z0-9']+")) >= 40).alias("tok_ok"),
        F.when(F.col("n_chars") % 7 != 0, F.col("n_chars") % 2 == 0).alias(
            "parity"  # abstains (NULL) on every 7th doc
        ),
    )
    got = {
        (r["filter_a"], r["filter_b"]): r.asDict()
        for r in verdict_agreement_matrix(
            verdicts, ["len_ok", "tok_ok", "parity"]
        ).collect()
    }
    assert set(got) == {("len_ok", "tok_ok"), ("len_ok", "parity"), ("tok_ok", "parity")}
    want = oracle_con.execute(
        """
        WITH v AS (
          SELECT length(text) >= 200 AS len_ok,
                 len(list_filter(regexp_split_to_array(lower(text),
                     '[^a-z0-9'']+'), t -> t != '')) >= 40 AS tok_ok,
                 CASE WHEN n_chars % 7 != 0 THEN n_chars % 2 = 0 END AS parity
          FROM documents
        )
        SELECT
          sum(CASE WHEN NOT len_ok AND NOT tok_ok THEN 1 ELSE 0 END) AS n_00,
          sum(CASE WHEN NOT len_ok AND tok_ok THEN 1 ELSE 0 END)     AS n_01,
          sum(CASE WHEN len_ok AND NOT tok_ok THEN 1 ELSE 0 END)     AS n_10,
          sum(CASE WHEN len_ok AND tok_ok THEN 1 ELSE 0 END)         AS n_11,
          sum(CASE WHEN parity IS NOT NULL AND NOT len_ok AND NOT parity
              THEN 1 ELSE 0 END) AS p_00,
          sum(CASE WHEN parity IS NOT NULL AND NOT len_ok AND parity
              THEN 1 ELSE 0 END) AS p_01,
          sum(CASE WHEN parity IS NOT NULL AND len_ok AND NOT parity
              THEN 1 ELSE 0 END) AS p_10,
          sum(CASE WHEN parity IS NOT NULL AND len_ok AND parity
              THEN 1 ELSE 0 END) AS p_11
        FROM v
        """
    ).df().iloc[0]
    lt = got[("len_ok", "tok_ok")]
    assert (lt["n_00"], lt["n_01"], lt["n_10"], lt["n_11"]) == (
        int(want["n_00"]), int(want["n_01"]), int(want["n_10"]), int(want["n_11"])
    )
    lp = got[("len_ok", "parity")]
    assert (lp["n_00"], lp["n_01"], lp["n_10"], lp["n_11"]) == (
        int(want["p_00"]), int(want["p_01"]), int(want["p_10"]), int(want["p_11"])
    )
    # kappa replay in python from the counts (same formula)
    for key in got:
        g = got[key]
        n00, n01, n10, n11 = g["n_00"], g["n_01"], g["n_10"], g["n_11"]
        n = n00 + n01 + n10 + n11
        po = (n00 + n11) / n
        pe = ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)) / (n * n)
        assert g["agreement"] == pytest.approx(po, abs=1e-6)
        if pe < 1.0:
            assert g["kappa"] == pytest.approx((po - pe) / (1 - pe), abs=1e-6)


def test_verdict_agreement_matrix_kappa_extremes(spark):
    """Planted extremes: identical verdicts -> kappa 1; independent
    50/50 verdicts -> kappa ~0; one constant filter -> kappa 0 (no
    agreement beyond chance, pe = 0.5); BOTH constant -> kappa NULL
    (pe = 1, the undefined case)."""
    from datapipeline_spike_spark.operators.text_stats import (
        verdict_agreement_matrix,
    )

    df = spark.range(400).select(
        (F.col("id") % 2 == 0).alias("a"),
        (F.col("id") % 2 == 0).alias("a_copy"),
        ((F.col("id") % 4) < 2).alias("b"),   # independent of a
        F.lit(True).alias("always"),
        F.lit(True).alias("always2"),
    )
    got = {
        (r["filter_a"], r["filter_b"]): r
        for r in verdict_agreement_matrix(
            df, ["a", "a_copy", "b", "always", "always2"]
        ).collect()
    }
    assert got[("a", "a_copy")]["kappa"] == 1.0
    assert abs(got[("a", "b")]["kappa"]) < 0.05
    assert got[("a", "always")]["kappa"] == 0.0  # one constant: pe = 0.5
    assert got[("always", "always2")]["kappa"] is None  # both constant: pe = 1
    assert got[("always", "always2")]["agreement"] == 1.0


def test_zipf_profile_degenerate_corpora(spark):
    """< 2 distinct tokens leaves the OLS undefined: NULL fit, real
    counts; an empty corpus yields the all-zero/NULL row instead of a
    crash."""
    one_word = spark.createDataFrame(
        [(1, "spam spam spam"), (2, "spam")], "doc_id long, text string"
    )
    r = zipf_profile(one_word).collect()[0]
    assert r["n_types"] == 1 and r["n_tokens"] == 4 and r["n_fit"] == 1
    assert r["slope"] is None and r["r2"] is None
    empty = spark.createDataFrame([], "doc_id long, text string")
    r = zipf_profile(empty).collect()[0]
    assert r["n_fit"] == 0 and r["slope"] is None


def test_dedup_span_removal_keep_first_policy(spark, sf_dir):
    """Planted semantics: doc 1 and doc 2 share an 8-token license
    block inside otherwise unique text; the block survives ONLY in the
    canonical (lower-id) doc, and a fully unique doc loses nothing."""
    from datapipeline_spike_spark.operators.dedup import dedup_span_removal

    block = "this standard license block text is identical everywhere"
    docs = spark.createDataFrame(
        [
            (1, f"alpha unique opening words {block} alpha closing run"),
            (2, f"beta different starting phrase {block} beta ending part"),
            (3, "gamma totally original content with no shared spans at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_span_removal(docs, k=8).collect()}
    assert out[1]["n_removed"] == 0        # canonical keeps its copy
    assert out[2]["n_removed"] > 0         # duplicate span scrubbed
    assert out[3]["n_removed"] == 0        # unique doc untouched
    assert out[2]["retained_ratio"] < 1.0 == out[1]["retained_ratio"]
    # the registered form's planted header/footer triggers cross-doc
    # removal in every document but the canonical one(s)
    rows = REGISTRY["dedup_span_removal"].spark(spark, sf_dir).collect()
    assert sum(r["n_removed"] > 0 for r in rows) >= len(rows) - 1


def test_temperature_mixture_matches_duckdb(spark, sf_dir, oracle_con):
    """Temperature mixture plan vs a full DuckDB replay on the
    documents table at tau=0.5, budget 30%, epoch cap 4."""
    from datapipeline_spike_spark.operators.sampling import (
        temperature_mixture_plan,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.array_remove(F.split(F.lower("text"), "[^a-z0-9']+"), "")).alias("tk"),
    )
    got = {
        r["lang"]: r.asDict()
        for r in temperature_mixture_plan(
            d, budget_frac=0.3, tau=0.5, max_epochs=4.0
        ).collect()
    }
    want = oracle_con.execute(
        f"""
        WITH d AS (
          SELECT doc_id, lang, len({SQL_TOKS.format(c="text")}) AS tk FROM documents
        ),
        by_g AS (
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(tk) AS BIGINT) AS n_tokens
          FROM d GROUP BY 1
        ),
        w AS (SELECT *, exp(0.5 * ln(CAST(n_tokens AS DOUBLE))) AS pw FROM by_g),
        tot AS (SELECT sum(pw) AS wsum,
                       CAST(sum(n_tokens) AS BIGINT) AS total FROM w),
        plan AS (
          SELECT lang, n_docs, n_tokens,
                 round(pw / wsum, 6) AS p,
                 round(0.3 * (pw / wsum) * total, 2) AS target_tokens,
                 round(least(4.0, (0.3 * (pw / wsum) * total) / n_tokens), 6)
                   AS epochs
          FROM w, tot
        ),
        kept AS (
          SELECT lang, count(*) AS n_kept_docs,
                 CAST(sum(tk) AS BIGINT) AS kept_tokens
          FROM d JOIN plan USING (lang)
          WHERE {SQL_U01_DOC} < least(1.0, epochs)
          GROUP BY 1
        )
        SELECT plan.lang, n_docs, n_tokens, p, target_tokens, epochs,
               round(least(1.0, epochs), 6) AS sampling_rate,
               coalesce(n_kept_docs, 0) AS n_kept_docs,
               coalesce(kept_tokens, 0) AS kept_tokens
        FROM plan LEFT JOIN kept USING (lang)
        """
    ).df()
    assert len(got) == len(want)
    for _, w in want.iterrows():
        g = got[w["lang"]]
        for c in ("n_docs", "n_tokens", "n_kept_docs", "kept_tokens"):
            assert g[c] == int(w[c]), (w["lang"], c)
        for c in ("p", "target_tokens", "epochs", "sampling_rate"):
            assert g[c] == pytest.approx(w[c], abs=2e-6), (w["lang"], c)


def test_temperature_mixture_tau_properties(spark):
    """Planted tau semantics on a skewed 2-group corpus (90/10 token
    split): tau=1 reproduces proportional shares; tau=0 splits the
    budget uniformly; tau=0.5 sits strictly between; the epoch cap
    binds when a tiny group's target exceeds cap x its size."""
    from datapipeline_spike_spark.operators.sampling import (
        temperature_mixture_plan,
    )

    rows = [(i, "big", 90) for i in range(100)] + [
        (1000 + i, "small", 10) for i in range(100)
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, tk long")

    def shares(tau, cap=100.0):
        out = {
            r["lang"]: r
            for r in temperature_mixture_plan(
                d, budget_frac=0.5, tau=tau, max_epochs=cap
            ).collect()
        }
        return out

    p1 = shares(1.0)
    assert p1["big"]["p"] == pytest.approx(0.9, abs=1e-6)
    p0 = shares(0.0)
    assert p0["big"]["p"] == pytest.approx(0.5, abs=1e-6)
    ph = shares(0.5)
    assert 0.5 < ph["big"]["p"] < 0.9
    # cap: small group's uncapped epochs at tau=0 would be
    # 0.5 * 0.5 * 10000 / 1000 = 2.5 -> a cap of 2 binds
    capped = shares(0.0, cap=2.0)
    assert capped["small"]["epochs"] == 2.0


# --- oracle differentials --------------------------------------------------------
# Each operator below is registered as the named query, whose oracle and
# sf0.001 Spark build are the ones this check compares, so the check is that
# query's differential (the shared ``oracle_check`` fixture).


def test_dedup_span_removal_matches_duckdb(oracle_check):
    oracle_check("dedup_span_removal")


def test_kneser_ney_matches_duckdb(oracle_check):
    oracle_check("kneser_ney_bigram_score")


def test_ngram_novelty_matches_duckdb(oracle_check):
    oracle_check("ngram_novelty_profile")


def test_zipf_profile_matches_duckdb(oracle_check):
    oracle_check("zipf_profile")
