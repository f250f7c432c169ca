"""Planted-property, edge-case and plan-shape tests for the operators
staged in r17 waves 8 and 9: hits_hub_authority (Kleinberg 1999 — the
hub/authority split PageRank conflates), knn_graph_edges (the
corpus-wide kNN-graph table), min_k_prob_profile (Shi 2023 Min-K% Prob
membership signal under the corpus unigram LM), kcore_membership
(Seidman 1983 peeling — the core-vs-periphery split),
distinct_ngram_diversity (Li 2016 distinct-n — the synthetic-data
mode-collapse detector) and best_of_n_selection (the rejection-sampling
prep table). Each registered query's oracle differential is
tests/test_entry.py::test_query_matches_oracle.

Registration notes (measured on these staged plans at sf0.001):
- hits_hub_authority: BNLJ x(2K+1) — the 1-row vertex-count cross +
  per-half-step L1-total crosses (the pagerank BNLJ_OK precedent) ->
  BNLJ_OK at registration; intermediate iterations ExistingRDD-
  barriered.
- knn_graph_edges: BNLJ x1 — the auto-plane 1-row corpus-count cross
  (hard_negative_pairs precedent) -> BNLJ_OK; rank window PARTITIONED.
- min_k_prob_profile: BNLJ x1 — the 1-row smoothing-totals cross
  (unigram_logprob_score precedent) -> BNLJ_OK; both windows
  PARTITIONED by document."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load
from tests.test_plans import _plan_of, _window_groups


# --- hits_hub_authority ---------------------------------------------------------


def test_hits_literal_graph_vs_reference(spark):
    """Pure-Python HITS replay (L1-normalized half-steps, 3
    iterations) on a hub-and-spokes graph: the pure hub holds ALL the
    hub mass and zero authority; the spokes split the authority; both
    scores L1-sum to 1."""
    from datapipeline_spike_spark.operators.graph import hits_hub_authority

    edges = [(0, 1), (0, 2), (0, 3), (4, 1)]  # 0 = hub, 1 = best authority
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["host"]: r for r in hits_hub_authority(df).collect()}

    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    h = {v: 1.0 / n for v in verts}
    a = {}
    for _ in range(3):
        raw_a = {v: 0.0 for v in verts}
        for u, v in edges:
            raw_a[v] += h[u]
        s = sum(raw_a.values())
        a = {v: (raw_a[v] / s if s > 0 else 0.0) for v in verts}
        raw_h = {v: 0.0 for v in verts}
        for u, v in edges:
            raw_h[u] += a[v]
        s = sum(raw_h.values())
        h = {v: (raw_h[v] / s if s > 0 else 0.0) for v in verts}

    assert set(got) == set(verts)
    for v in verts:
        assert got[v]["hub"] == pytest.approx(round(h[v], 6), abs=1.5e-6)
        assert got[v]["authority"] == pytest.approx(
            round(a[v], 6), abs=1.5e-6
        )
    # the structural split: node 0 never receives a link -> authority 0;
    # nodes 1-3 never emit one -> hub 0; node 1 out-authorities 2/3
    assert got[0]["authority"] == 0.0 and got[0]["hub"] > 0.5
    assert got[1]["hub"] == 0.0
    assert got[1]["authority"] > got[2]["authority"]
    assert sum(r["hub"] for r in got.values()) == pytest.approx(1.0, abs=1e-4)
    assert sum(r["authority"] for r in got.values()) == pytest.approx(
        1.0, abs=1e-4
    )


# --- knn_graph_edges -------------------------------------------------------------


def test_knn_graph_planted_clusters(spark):
    """Scaled copies of a vector share every hyperplane sign (same
    bucket) and cosine exactly 1.0 — each cluster member's top
    neighbors are its cluster-mates with is_mutual=True; ranks are
    contiguous from 1."""
    from datapipeline_spike_spark.operators.similarity import (
        knn_graph_edges,
    )

    base_a = [1.0 if d % 3 == 0 else -0.5 for d in range(64)]
    base_b = [-1.0 if d % 5 == 0 else 0.75 for d in range(64)]
    rows = []
    for i, scale in enumerate((1.0, 2.0, 3.0)):
        rows.append((i, [x * scale for x in base_a]))
        rows.append((10 + i, [x * scale for x in base_b]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = knn_graph_edges(df, dim=64, k=2).collect()
    by_src: dict[int, list] = {}
    for r in got:
        by_src.setdefault(r["src_id"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["rank"])
        assert [x["rank"] for x in rs] == list(range(1, len(rs) + 1))
        mates = {x["dst_id"] for x in rs if x["cos_sim"] == 1.0}
        want_mates = (
            {i for i in (0, 1, 2) if i != src}
            if src < 10
            else {i for i in (10, 11, 12) if i != src}
        )
        assert mates == want_mates, src
        assert all(x["is_mutual"] for x in rs if x["cos_sim"] == 1.0)


# --- min_k_prob_profile -----------------------------------------------------------


def test_min_k_prob_hand_corpus(spark):
    """Pure-Python replay on a literal corpus: the rare token drives
    the min-k tail; k clamps to 1 on short docs; the tail mean is
    never above the full mean."""
    import math

    from datapipeline_spike_spark.operators.text_stats import (
        min_k_prob_profile,
    )

    rows = [
        (1, "common common common rare"),
        (2, "common common"),
        (3, "common unique1 unique2 unique3 unique4 unique5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in min_k_prob_profile(df).collect()}

    counts = {"common": 6, "rare": 1, "unique1": 1, "unique2": 1,
              "unique3": 1, "unique4": 1, "unique5": 1}
    total, v = sum(counts.values()), len(counts)

    def lp(tok):
        return math.log((counts[tok] + 1.0) / (total + v))

    # doc 1: 4 tokens, k = ceil(0.8) -> 1; the single lowest is 'rare'
    assert got[1]["n_tokens"] == 4 and got[1]["k_tokens"] == 1
    assert got[1]["min_k_avg_logprob"] == pytest.approx(
        round(lp("rare"), 6), abs=1e-6
    )
    assert got[1]["avg_logprob"] == pytest.approx(
        round((3 * lp("common") + lp("rare")) / 4, 6), abs=1e-6
    )
    # doc 2: k = greatest(1, ceil(0.4)) = 1; all tokens identical ->
    # the tail mean equals the full mean
    assert got[2]["k_tokens"] == 1
    assert got[2]["min_k_avg_logprob"] == got[2]["avg_logprob"]
    # doc 3: 6 tokens, k = ceil(1.2) = 2; two singleton tokens tie on
    # count, the (count, tok, pos) order picks unique1 then unique2 —
    # but any two singletons share the same lp, so the mean is lp(u)
    assert got[3]["k_tokens"] == 2
    assert got[3]["min_k_avg_logprob"] == pytest.approx(
        round(lp("unique1"), 6), abs=1e-6
    )
    for g in got.values():
        assert g["min_k_avg_logprob"] <= g["avg_logprob"] + 1e-9


def test_min_k_prob_tail_vs_mean_on_corpus(spark, sf_dir):
    """On the real corpus: the bottom-k tail is strictly informative —
    min_k mean <= full mean everywhere, strictly below for docs with
    token-count diversity; k_tokens = ceil(0.2 * n) clamped to >= 1."""
    import math

    from datapipeline_spike_spark.operators.text_stats import (
        min_k_prob_profile,
    )

    rows = min_k_prob_profile(load(spark, sf_dir, "documents")).collect()
    assert rows
    strict = 0
    for r in rows:
        assert r["k_tokens"] == max(1, math.ceil(0.2 * r["n_tokens"]))
        assert r["min_k_avg_logprob"] <= r["avg_logprob"] + 1e-9
        if r["min_k_avg_logprob"] < r["avg_logprob"] - 1e-9:
            strict += 1
    assert strict > 0


# --- plan pins ---------------------------------------------------------------------


def test_wave8_plan_shapes(spark, sf_dir):
    """hits: keyed joins + 1-row broadcast crosses, ExistingRDD
    iteration barriers, no windows, no Python, no cartesian; knn:
    bucket equi-join + partitioned rank window + the auto-plane 1-row
    cross, no Python; min_k: one tokenize pass, partitioned windows
    only, the 1-row totals cross, no Python."""
    from datapipeline_spike_spark.operators.graph import (
        hits_hub_authority,
        host_link_graph,
    )
    from datapipeline_spike_spark.operators.similarity import (
        knn_graph_edges,
    )
    from datapipeline_spike_spark.operators.text_stats import (
        min_k_prob_profile,
    )

    docs = load(spark, sf_dir, "documents")

    hits = _plan_of(hits_hub_authority(host_link_graph(docs)))
    assert "CartesianProduct" not in hits
    assert "ExistingRDD" in hits  # the iteration barriers
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Window"):
        assert node not in hits, node

    knn = _plan_of(knn_graph_edges(load(spark, sf_dir, "embeddings"), dim=64))
    assert "CartesianProduct" not in knn
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in knn, node
    assert all(g >= 1 for g in _window_groups(knn))

    mk = _plan_of(min_k_prob_profile(docs))
    assert "CartesianProduct" not in mk
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in mk, node
    groups = _window_groups(mk)
    assert groups and all(g >= 1 for g in groups)


# ============================ WAVE 9 =============================
# kcore_membership, distinct_ngram_diversity, best_of_n_selection —
# same gauntlet (register r19; the r18 head takes wave 8 + the queue).
#
# Registration notes (measured on these staged plans at sf0.001):
# - kcore_membership: driver-side 1-row count per peel round (the
#   connected-components convergence-guard precedent, documented
#   bounded collect) + ExistingRDD iteration barriers; no BNLJ, no
#   windows, no Python -> clean audit.
# - distinct_ngram_diversity / best_of_n_selection: pure keyed
#   aggregates -> clean audit (no allowlist entries).


def test_kcore_planted_peel(spark):
    """A 4-clique with a path tail: the k=2 peel removes the leaf,
    then the exposed path vertex, and keeps exactly the clique (plus
    the clique-attached vertex 3 keeps its full degree); k above the
    max degree empties the core; a long path with a tiny round budget
    raises KCoreNotConverged instead of emitting a half-peeled core."""
    from datapipeline_spike_spark.operators.graph import (
        KCoreNotConverged,
        kcore_membership,
    )

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    tail = [(3, 4), (4, 5)]
    df = spark.createDataFrame(clique + tail, "src long, dst long")
    got = {r["host"]: r for r in kcore_membership(df, k=2).collect()}
    assert {h for h, r in got.items() if r["in_kcore"]} == {0, 1, 2, 3}
    assert got[5]["degree"] == 1 and not got[5]["in_kcore"]
    assert got[4]["degree"] == 2 and not got[4]["in_kcore"]  # exposed by the peel

    none = kcore_membership(df, k=10).collect()
    assert none and not any(r["in_kcore"] for r in none)

    path = [(i, i + 1) for i in range(12)]
    pdf = spark.createDataFrame(path, "src long, dst long")
    import pytest as _pt

    with _pt.raises(KCoreNotConverged):
        kcore_membership(pdf, k=2, max_rounds=2)
    # with budget the same path empties completely (a path has no 2-core)
    full = kcore_membership(pdf, k=2).collect()
    assert full and not any(r["in_kcore"] for r in full)


def test_distinct_ngram_diversity_planted(spark):
    """A looping source shows collapsed distinct-2 next to a diverse
    one: 'a b a b ...' has distinct_1 = 2/n but only 2 distinct
    bigrams; fully-unique text scores 1.0 on both."""
    from datapipeline_spike_spark.operators.text_stats import (
        distinct_ngram_diversity,
    )

    rows = [
        (1, "loopy", "a b " * 8),          # 16 tokens, 2 types, 2 bigram types
        (2, "fresh", "q w e r t y u i"),   # 8 tokens, all unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in distinct_ngram_diversity(df).collect()}
    lo = got["loopy"]
    assert (lo["total_unigrams"], lo["distinct_unigrams"]) == (16, 2)
    assert lo["distinct_1"] == pytest.approx(2 / 16, abs=1e-6)
    assert (lo["total_bigrams"], lo["distinct_bigrams"]) == (15, 2)
    hi = got["fresh"]
    assert hi["distinct_1"] == 1.0 and hi["distinct_2"] == 1.0
    assert lo["distinct_2"] < hi["distinct_2"]


def test_distinct_ngram_diversity_empty_source_is_null(spark):
    """ADVICE r17: a source whose docs all tokenize empty (or to a
    single token, for bigrams) emits NULL ratios, never NaN — the
    engine guard and the staging oracle's CASE WHEN agree."""
    from datapipeline_spike_spark.operators.text_stats import (
        distinct_ngram_diversity,
    )

    rows = [
        (1, "blank", "!!! ??? ..."),   # tokenizes to nothing
        (2, "mono", "solo"),           # 1 token -> no bigrams
        (3, "full", "a b c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in distinct_ngram_diversity(df).collect()}
    assert got["blank"]["total_unigrams"] == 0
    assert got["blank"]["distinct_1"] is None
    assert got["blank"]["distinct_2"] is None
    assert got["mono"]["distinct_1"] == 1.0
    assert got["mono"]["total_bigrams"] == 0
    assert got["mono"]["distinct_2"] is None
    assert got["full"]["distinct_2"] == 1.0


def test_best_of_n_planted(spark):
    """Ties pick the smallest id; single-candidate prompts are KEPT
    (gap 0, std 0) — the report needs them visible, unlike DPO."""
    from datapipeline_spike_spark.operators.sft import best_of_n_selection

    rows = [
        (1, 10, 0.9), (1, 11, 0.5), (1, 12, 0.1),
        (2, 20, 0.7), (2, 21, 0.7),          # tie -> id 20
        (3, 30, 0.4),                         # singleton kept
    ]
    df = spark.createDataFrame(
        rows, "prompt_id long, cand_id long, score double"
    )
    got = {r["prompt_id"]: r for r in best_of_n_selection(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["best_id"] == 10 and got[1]["n_candidates"] == 3
    assert got[1]["selection_gap"] == pytest.approx(0.9 - 0.5, abs=1e-6)
    assert got[2]["best_id"] == 20
    assert got[3]["n_candidates"] == 1
    assert got[3]["std_score"] == 0.0 and got[3]["selection_gap"] == 0.0


def test_best_of_n_string_ids(spark):
    """ADVICE r17: the tie-break negates the SCORE, not the id, so
    string candidate ids (the dpo_pair_plan contract) analyze fine —
    ties pick the lexicographically smallest id."""
    from datapipeline_spike_spark.operators.sft import best_of_n_selection

    rows = [
        (1, "cand-b", 0.7), (1, "cand-a", 0.7), (1, "cand-c", 0.2),
        (2, "only", 0.5),
    ]
    df = spark.createDataFrame(
        rows, "prompt_id long, cand_id string, score double"
    )
    got = {r["prompt_id"]: r for r in best_of_n_selection(df).collect()}
    assert got[1]["best_id"] == "cand-a"
    assert got[2]["best_id"] == "only"


def test_best_of_n_null_scores_never_win(spark):
    """ADVICE r18: a NULL-score candidate must not win best_id (the
    bare min_by(struct(-s6, id)) form let it — struct comparison
    sorts a NULL field first). With the -inf coalesce inside the
    ordering struct, a NULL loses to ANY scored candidate; an
    all-NULL prompt falls back to the smallest id with NULL
    best_score — the oracle's NULLS-LAST row_number on both counts."""
    from datapipeline_spike_spark.operators.sft import best_of_n_selection

    rows = [
        (1, 10, None), (1, 11, 0.2), (1, 12, 0.8),   # NULL must lose
        (2, 20, None), (2, 21, None),                # all-NULL prompt
    ]
    df = spark.createDataFrame(
        rows, "prompt_id long, cand_id long, score double"
    )
    got = {r["prompt_id"]: r for r in best_of_n_selection(df).collect()}
    assert got[1]["best_id"] == 12
    assert got[1]["best_score"] == pytest.approx(0.8, abs=1e-6)
    # best_id's score IS best_score — the internally-consistent row
    assert got[2]["best_id"] == 20
    assert got[2]["best_score"] is None and got[2]["mean_score"] is None
    assert got[2]["n_candidates"] == 2


def test_min_k_prob_rejects_bad_k_frac(spark):
    """ADVICE r17: k_frac outside (0, 1] raises instead of silently
    understating the tail mean (k > n) or clamping (k <= 0)."""
    from datapipeline_spike_spark.operators.text_stats import (
        min_k_prob_profile,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0.0, -0.2, 1.5):
        with pytest.raises(ValueError):
            min_k_prob_profile(df, k_frac=bad)
    # the boundary is inclusive: k_frac = 1 scores the whole doc
    full = min_k_prob_profile(df, k_frac=1.0).collect()[0]
    assert full["k_tokens"] == full["n_tokens"] == 3
    assert full["min_k_avg_logprob"] == full["avg_logprob"]


def test_wave9_plan_shapes(spark, sf_dir):
    """kcore: semi-joins + keyed aggregates + ExistingRDD barriers, no
    BNLJ/window/Python (the 1-row convergence counts are driver-side,
    documented); diversity and best-of-n: pure keyed aggregates."""
    from datapipeline_spike_spark.operators.graph import (
        host_link_graph,
        kcore_membership,
    )
    from datapipeline_spike_spark.operators.sft import best_of_n_selection
    from datapipeline_spike_spark.operators.text_stats import (
        distinct_ngram_diversity,
    )

    docs = load(spark, sf_dir, "documents")

    kc = _plan_of(kcore_membership(host_link_graph(docs), k=4))
    assert "ExistingRDD" in kc  # the peel barriers
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Window", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in kc, node

    dv = _plan_of(distinct_ngram_diversity(docs))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Window", "CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin"):
        assert node not in dv, node

    cand = docs.select(
        (F.col("doc_id") % 50).alias("prompt_id"),
        F.col("doc_id").alias("cand_id"),
        (((F.col("doc_id") * 37) % 1000) / F.lit(1000.0)).alias("score"),
    )
    bo = _plan_of(best_of_n_selection(cand))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Window", "CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin", "BroadcastHashJoin"):
        assert node not in bo, node


# --- oracle differentials --------------------------------------------------------
# Each operator below is registered as the named query, whose oracle and
# sf0.001 Spark build are the ones this check compares, so the check is that
# query's differential (the shared ``oracle_check`` fixture).


def test_best_of_n_matches_duckdb(oracle_check):
    oracle_check("best_of_n_selection")


def test_distinct_ngram_diversity_matches_duckdb(oracle_check):
    oracle_check("distinct_ngram_diversity")


def test_hits_matches_duckdb(oracle_check):
    oracle_check("hits_hub_authority")


def test_kcore_matches_duckdb(oracle_check):
    oracle_check("kcore_membership")


def test_knn_graph_matches_duckdb(oracle_check):
    oracle_check("knn_graph_edges")


def test_min_k_prob_matches_duckdb(oracle_check):
    oracle_check("min_k_prob_profile")
