"""Planted-property and contract tests for the operators staged in r11
(reliability_calibration_bins, token_distribution_drift,
rouge_ngram_eval, embedding_centroid_drift, hubness_profile,
ivfpq_topk), plus the two IVF-PQ DuckDB differentials the registry does
not cover (the raw top-k neighbors and the recall audit's staged column
set). Each registered query's oracle differential is
tests/test_entry.py::test_query_matches_oracle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.operators.quality import reliability_calibration_bins
from datapipeline_spike_spark.operators.similarity import embedding_centroid_drift
from datapipeline_spike_spark.operators.text_stats import (
    rouge_ngram_eval,
    token_distribution_drift,
)
from datapipeline_spike_spark.plans import REGISTRY
from datapipeline_spike_spark.plans.registry import load


# --- reliability_calibration_bins ---------------------------------------------


def test_calibration_planted_extremes(spark):
    """A perfectly calibrated synthetic (label true with probability =
    score, realized exactly within each bin) shows ~0 gap; inverted
    labels show gap ~ |1 - 2*score|; NULL scores/labels are excluded."""
    rows = []
    # bin b holds 20 rows at score b/10 + 0.05; exactly round(20*s) pass
    for b in range(10):
        s = b / 10 + 0.05
        n_pass = round(20 * s)
        rows += [(s, i < n_pass) for i in range(20)]
    rows += [(None, True), (0.5, None)]  # abstentions
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = {r["bin"]: r for r in reliability_calibration_bins(df).collect()}
    assert set(out) == set(range(10))
    assert sum(r["n"] for r in out.values()) == 200  # abstentions excluded
    for b, r in out.items():
        assert r["abs_gap"] <= 0.051, b  # calibrated within bin grain
        assert r["weight"] == pytest.approx(0.1, abs=1e-6)
    inverted = df.select("score", (~F.col("label")).alias("label"))
    inv = {r["bin"]: r for r in reliability_calibration_bins(inverted).collect()}
    assert inv[0]["abs_gap"] > 0.8 and inv[9]["abs_gap"] > 0.8


# --- token_distribution_drift --------------------------------------------------


def test_token_drift_planted_properties(spark, sf_dir):
    """Identical snapshots -> all divergences 0; disjoint vocabularies
    -> large and JS <= ln 2; an empty side -> NULL divergences with
    real counts."""
    same = spark.createDataFrame(
        [("a", "alpha beta gamma"), ("b", "alpha beta gamma")],
        "snap string, text string",
    )
    r = token_distribution_drift(same, "snap", "a", "b").collect()[0]
    assert r["kl_ab"] == 0.0 and r["kl_ba"] == 0.0 and r["js_divergence"] == 0.0
    assert r["vocab_union"] == 3 and r["n_tokens_a"] == 3
    # large enough that add-one smoothing doesn't dominate the signal
    disjoint = spark.createDataFrame(
        [("a", "alpha beta gamma delta " * 50), ("b", "epsilon zeta eta theta " * 50)],
        "snap string, text string",
    )
    r = token_distribution_drift(disjoint, "snap", "a", "b").collect()[0]
    assert r["js_divergence"] > 0.5  # near ln 2 for disjoint vocab
    import math

    assert r["js_divergence"] <= math.log(2) + 1e-9
    empty_side = spark.createDataFrame(
        [("a", "alpha beta"), ("c", "unrelated words")],
        "snap string, text string",
    )
    r = token_distribution_drift(empty_side, "snap", "a", "b").collect()[0]
    assert r["n_tokens_a"] == 2 and r["n_tokens_b"] == 0
    assert r["kl_ab"] is None and r["js_divergence"] is None
    # the registered en-vs-fr drift on the corpus is a real divergence
    r = REGISTRY["token_distribution_drift"].spark(spark, sf_dir).collect()[0]
    assert r["kl_ab"] > 0 and r["js_divergence"] > 0


# --- rouge_ngram_eval -----------------------------------------------------------


def test_rouge_planted_semantics(spark):
    """Identity pair -> P=R=F1=1; disjoint -> 0; clipping: a candidate
    repeating one reference bigram 5x gets credit once per reference
    occurrence, not 5x; a below-threshold side -> NULLs."""
    pairs = spark.createDataFrame(
        [
            (1, "the quick brown fox", "the quick brown fox"),
            (2, "alpha beta gamma", "delta epsilon zeta"),
            (3, "go go go go go go", "go go stop"),
            (4, "word", "a real reference text"),
        ],
        "pair_id long, candidate string, reference string",
    )
    out = {r["pair_id"]: r for r in rouge_ngram_eval(pairs).collect()}
    assert out[1]["precision"] == 1.0 == out[1]["recall"] == out[1]["f1"]
    assert out[2]["overlap"] == 0 and out[2]["f1"] == 0.0
    # candidate 'go go' x5, reference has ONE 'go go' -> clipped to 1
    assert out[3]["overlap"] == 1
    assert out[3]["precision"] == pytest.approx(1 / 5, abs=1e-6)
    assert out[4]["cand_grams"] == 0 and out[4]["precision"] is None
    assert out[4]["f1"] is None


# --- embedding_centroid_drift ----------------------------------------------------


def test_centroid_drift_planted_properties(spark):
    """Identical snapshots -> cosine 1, shift 0; an orthogonal planted
    pair -> cosine 0; a group on one side only -> NULL geometry with
    real counts."""
    rows = [
        ("g1", 0, [1.0, 0.0]), ("g1", 1, [1.0, 0.0]),      # identical
        ("g2", 0, [2.0, 0.0]), ("g2", 1, [0.0, 3.0]),      # orthogonal
        ("g3", 0, [1.0, 1.0]),                             # a-side only
    ]
    df = spark.createDataFrame(
        rows, "label string, snap int, embedding array<double>"
    )
    out = {
        r["label"]: r
        for r in embedding_centroid_drift(
            df, "snap", 0, 1, group_col="label"
        ).collect()
    }
    assert out["g1"]["centroid_cosine"] == 1.0
    assert out["g1"]["centroid_shift_l2"] == 0.0
    assert out["g2"]["centroid_cosine"] == 0.0
    assert out["g3"]["n_a"] == 1 and out["g3"]["n_b"] == 0
    assert out["g3"]["centroid_cosine"] is None


# --- hubness_profile -------------------------------------------------------------


def test_hubness_planted_hub(spark):
    """A planted hub dominates the k-occurrence distribution: vectors
    scattered near the first axis with ONE central vector everyone is
    closest to -> max_k_occ near n, heavy orphan tail, positive skew;
    a symmetric ring (everyone is someone's neighbor equally often)
    shows ~zero skew."""
    import math

    from datapipeline_spike_spark.operators.similarity import hubness_profile

    # hub construction in 64-D (n_planes=0 = exact all-pairs mode):
    # v_i = 0.9*hub + e_i on a distinct axis, so cos(v_i, hub) ~ 0.67
    # beats cos(v_i, v_j) ~ 0.45 — the hub is EVERY vector's nearest
    dim = 64
    hub = [1.0] + [0.0] * (dim - 1)
    rows = [(0, hub)]
    for i in range(1, 40):
        v = [0.9] + [0.0] * (dim - 1)
        v[i] = 1.0
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    prof = hubness_profile(df, dim=dim, k=1, n_planes=0).collect()[0]
    # with k=1 and every vector's nearest being a shared central point,
    # the hub's k-occurrence dwarfs the mean and skew is large positive
    assert prof["n_vectors"] == 40
    assert prof["max_k_occ"] == 39  # everyone's top-1 is the hub
    assert prof["skew_k_occ"] > 2.0
    assert prof["n_orphans"] >= 35

    # symmetric ring in 2-D: i-th at angle 2*pi*i/n — each vector's
    # top-2 are its ring adjacents, N_k is uniform 2 -> zero variance,
    # skew NULL (the degenerate-healthy case), no orphans
    n = 32
    ring = [
        (i, [math.cos(2 * math.pi * i / n), math.sin(2 * math.pi * i / n),
             0.0, 0.0])
        for i in range(n)
    ]
    rdf = spark.createDataFrame(ring, "vec_id long, embedding array<double>")
    rprof = hubness_profile(rdf, dim=4, k=2, n_planes=0).collect()[0]
    assert rprof["n_vectors"] == n
    assert rprof["n_orphans"] == 0
    assert rprof["mean_k_occ"] == 2.0
    assert rprof["skew_k_occ"] is None or abs(rprof["skew_k_occ"]) < 1.0


# --- ivfpq_topk ------------------------------------------------------------------


def _sql_ivfpq(m=4, k_cb=8, iters=2, width=16, scale=1 << 20,
               n_centroids=16, n_probe=2, k=5) -> str:
    """Full DuckDB replay of operators.similarity.ivfpq_topk: the ADC
    chain the registered ivfpq_recall_at_k oracle is built on
    (catalog_ml._sql_ivfpq_adc), ranked to the top k per query."""
    from datapipeline_spike_spark.plans.catalog_ml import _sql_ivfpq_adc

    adc = _sql_ivfpq_adc(m, k_cb, iters, width, scale, n_centroids, n_probe)
    return adc + f"""SELECT query_id, neighbor_id, adc_fp, CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adc_fp, neighbor_id) AS rnk FROM adc)
    WHERE rnk <= {k}
    """


def test_ivfpq_matches_duckdb(spark, sf_dir, oracle_con):
    from datapipeline_spike_spark.operators.similarity import ivfpq_topk

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["rank"]): r.asDict()
        for r in ivfpq_topk(e, queries, dim=64)
        .select("query_id", "neighbor_id", "adc_fp",
                F.col("rank").cast("int").alias("rank"))
        .collect()
    }
    want = oracle_con.execute(_sql_ivfpq()).df()
    assert len(got) == len(want)
    for _, w in want.iterrows():
        g = got[(w["query_id"], w["rank"])]
        assert g["neighbor_id"] == w["neighbor_id"], (w["query_id"], w["rank"])
        assert g["adc_fp"] == int(w["adc_fp"])


def test_ivfpq_planted_recovery(spark):
    """Planted semantics: two tight, well-separated clusters whose
    centroids are among the lowest-id vectors — every query's top
    neighbors come from its OWN cluster (the coarse prune + residual
    codes preserve cluster geometry), and rank 1 is its exact nearest
    in-cluster twin."""
    import random

    rng = random.Random(7)
    dim = 64

    def vec(center, jitter):
        return [center[i] + jitter * rng.uniform(-1, 1) for i in range(dim)]

    c_a = [5.0] * 32 + [0.0] * 32
    c_b = [0.0] * 32 + [-5.0] * 32
    rows = [(0, c_a), (1, c_b)]  # the coarse quantizer's seed vectors
    rows += [(10 + i, vec(c_a, 0.05)) for i in range(20)]
    rows += [(50 + i, vec(c_b, 0.05)) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from datapipeline_spike_spark.operators.similarity import ivfpq_topk

    queries = df.filter(F.col("vec_id").isin([10, 50]))
    out = ivfpq_topk(df, queries, dim=dim, n_centroids=2, n_probe=1, k=5)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # cluster A query: all neighbors in cluster A ids (0, 10..29)
    assert all(n == 0 or 10 <= n < 30 for n in by_q[10]), by_q[10]
    # cluster B query: all neighbors in cluster B ids (1, 50..69)
    assert all(n == 1 or 50 <= n < 70 for n in by_q[50]), by_q[50]
    assert len(by_q[10]) == 5 and len(by_q[50]) == 5


def test_ivfpq_recall_audit_matches_duckdb(spark, sf_dir, oracle_con):
    """The registered form ivfpq takes in r12 (the pq_adc_recall_at_k
    precedent): per-query recall@5 of the IVF-PQ probe scan against the
    exact full-vector L2 top-5 — quantifying what the coarse prune +
    residual compression together cost in neighbor fidelity. The DuckDB
    side reuses the full _sql_ivfpq chain as CTEs plus the exact-side
    replay over the ORIGINAL vectors (ce in the residual prelude)."""
    from datapipeline_spike_spark.functions.vectors import l2_sq
    from datapipeline_spike_spark.operators.similarity import ivfpq_topk
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    approx = ivfpq_topk(e, queries, dim=64).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("fv"),
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvv"),
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    exact = (
        cv.crossJoin(F.broadcast(qv))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(l2_sq(F.col("fv"), F.col("cvv")), 6).alias("dist"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id")
    )
    got = {
        r["query_id"]: r.asDict()
        for r in exact.join(
            approx.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
        )
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("int").alias("n_hits"),
            F.round(F.count("hit") / 5.0, 6).alias("recall"),
        )
        .collect()
    }
    # oracle: the ivfpq chain with the top-k select swapped for the
    # recall join against the exact full-vector side
    chain = _sql_ivfpq()
    head, _, _tail = chain.rpartition("SELECT query_id, neighbor_id, adc_fp,")
    l2full = ("list_aggregate(list_transform(range(1, len(q.fv) + 1), "
              "i -> (q.fv[i] - ce.cv[i]) * (q.fv[i] - ce.cv[i])), 'sum')")
    sql = head + f"""
    , approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_fp, neighbor_id) AS rnk FROM adc
      ) WHERE rnk <= 5
    ),
    qfull AS (SELECT cvid AS query_id, cv AS fv FROM ce WHERE cvid < 5),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, ce.cvid AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round({l2full}, 6), ce.cvid) AS rnk
        FROM qfull q JOIN ce ON ce.cvid != q.query_id
      ) WHERE rnk <= 5
    )
    SELECT exact.query_id,
           CAST(count(approx.neighbor_id) AS INT) AS n_hits,
           round(count(approx.neighbor_id) / 5.0, 6) AS recall
    FROM exact
    LEFT JOIN approx ON approx.query_id = exact.query_id
                    AND approx.neighbor_id = exact.neighbor_id
    GROUP BY 1
    """
    want = oracle_con.execute(sql).df()
    assert len(got) == len(want) == 5
    for _, wrow in want.iterrows():
        g = got[wrow["query_id"]]
        assert g["n_hits"] == int(wrow["n_hits"]), wrow["query_id"]
        assert g["recall"] == pytest.approx(wrow["recall"], abs=1e-6)
    # the audit must show the index actually finds neighbors on the
    # synthetic corpus (not a vacuous all-zero recall)
    assert sum(r["n_hits"] for r in got.values()) > 0


# --- oracle differentials --------------------------------------------------------
# Each operator below is registered as the named query, whose oracle and
# sf0.001 Spark build are the ones this check compares, so the check is that
# query's differential (the shared ``oracle_check`` fixture).


def test_calibration_bins_match_duckdb(oracle_check):
    oracle_check("reliability_calibration_bins")


def test_centroid_drift_matches_duckdb(oracle_check):
    oracle_check("embedding_centroid_drift")


def test_hubness_profile_matches_duckdb(oracle_check):
    oracle_check("hubness_profile")


def test_rouge_matches_duckdb(oracle_check):
    oracle_check("rouge_ngram_eval")


def test_token_drift_matches_duckdb(oracle_check):
    oracle_check("token_distribution_drift")
