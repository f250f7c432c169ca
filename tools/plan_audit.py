"""Repo-wide physical-plan linter: .explain() every registry query and
flag scale anti-patterns. tests/test_plans.py pins specific plan shapes
for chosen queries; this tool is the broad net — a refactor that slips a
cartesian product, a row-at-a-time Python UDF, or an unexpected
nested-loop join into ANY registry query fails the audit (the summary
line reports the count actually audited).

Rules (per executedPlan string):
- CartesianProduct: forbidden except documented allowlist.
- BroadcastNestedLoopJoin: forbidden except allowlist (broadcast
  brute-force baselines where the broadcast side is a handful of rows).
- BatchEvalPython (row-at-a-time Python UDF): forbidden everywhere —
  the engine's UDF tier discipline (SURVEY §2.10) allows only
  Arrow-batched forms.
- ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas: allowed only
  for queries that declare a pandas path (tag or allowlist) — a JVM-only
  query sprouting a Python stage is a perf regression.
- Unpartitioned Window (r8): a physical Window node with NO partition
  spec moves every input row to ONE task — the classic quiet
  scale-killer. Allowed only with a WINDOW_OK entry stating the
  cardinality argument (the input is provably bounded: a limit-k
  frame, an aggregate over a low-cardinality key, ...). Detected from
  the plan string: a partitioned Window prints
  ``Window [exprs], [partcols], [sortcols]`` (3 bracket groups), an
  unpartitioned one only 2.

Usage: python tools/plan_audit.py [query ...]   (default: all)
Exit status: number of violations.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datapipeline_spike_spark.plans import REGISTRY  # noqa: E402
from datapipeline_spike_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# query -> reason, reviewed deliberately; keep this list SHORT and justified
CARTESIAN_OK: dict[str, str] = {}
BNLJ_OK = {
    "embedding_topk_cosine": "documented brute-force baseline: broadcast 5-row query set",
    "ann_recall_at_k": "exact side of the recall audit: same broadcast 5-row baseline",
    "pq_adc_recall_at_k": "exact side of the ADC recall audit: broadcast 5-row full-vector baseline",
    "sq8_recall_at_k": "broadcast 1-row quantization grid + 5-row query codes + exact-baseline 5-row query set",
    "ivf_recall_at_k": "exact side of the IVF recall audit: same broadcast 5-row baseline",
    "corpus_mixture_plan": "broadcast 1-row corpus-total against the 5-row lang plan",
    "part_size_bands": "the SURVEY §2.3 theta/band-join row: broadcast tiny band table",
    "kmeans_centroids": "assignment joins the corpus to <=k broadcast centroid rows",
    "referential_integrity_audit": "1-row x 1-row cross of the count aggregates per relation",
    "unigram_logprob_score": "broadcast 1-row smoothing totals kept in-plan (no plan-build collect)",
    "tfidf_top_terms": "broadcast 1-row corpus doc-count kept in-plan (no plan-build collect)",
    "bm25_ranked_retrieval": "broadcast 1-row (N, avgdl) corpus stats kept in-plan (no plan-build collect)",
    "bpe_merge_training": "broadcast 1-row winning pair per merge round kept in-plan (no plan-build collect)",
    "bpe_encoded_corpus_stats": "same broadcast 1-row winning-pair crosses (shared training chain) feeding the encode join",
    "bpe_fertility_by_lang": "same broadcast 1-row winning-pair crosses (shared training chain), language-grain encode join",
    "bloom_filter_profile": "broadcast 1-row ref/bit-count digests crossed into the 1-row profile",
    "maintenance_window_overlap": "broadcast 1-row p95 bucket-width aggregate crossed into both join sides (auto-width interval join, no plan-build collect)",
    "dsir_importance_weights": "broadcast 1-row (target_total, raw_total) token-count aggregate crossed into the B=256 bucket scoring join (corpus_mixture_plan pattern, no plan-build collect)",
    "skipgram_pmi": "broadcast 1-row (n_tokens, n_pairs) corpus totals crossed into the vocab-bounded PMI join (no plan-build collect)",
    "bigram_fluency": "broadcast 1-row bigram-vocab size crossed into the add-one LM scoring join (no plan-build collect)",
    "hamming_recall_at_k": "exact side of the 1-bit recall audit: broadcast 5-row query-vector baseline (ann_recall_at_k pattern)",
    "budget_selected_docs": "broadcast 1-row histogram threshold (boundary bucket + keep rate) crossed into the map-only keep decision",
    "curation_stage_profile": "budget_select's broadcast 1-row histogram threshold cross inside the funnel (same pattern as budget_selected_docs)",
    "global_sales_opportunity": "TPC-H Q22 scalar AVG subquery: broadcast 1-row average kept in-plan (no plan-build collect)",
    "zipf_profile": "broadcast 1-row (n_types, n_tokens) totals crossed into the 1-row OLS fit",
    "hard_negative_pairs": "broadcast 1-row corpus count crossed into the bucket assignment (r11 auto-plane derivation, no plan-build collect)",
    "kneser_ney_bigram_score": "broadcast 1-row bigram-type count T crossed into the vocab-bounded scoring join (bigram_fluency pattern, no plan-build collect)",
    "temperature_mixture_plan": "broadcast 1-row (wsum, total_tokens) aggregate crossed into the group-grain plan (corpus_mixture_plan pattern, no plan-build collect)",
    "reliability_calibration_bins": "broadcast 1-row bin-total crossed into the n_bins-grain weight column (corpus_mixture_plan pattern)",
    "token_distribution_drift": "broadcast 1-row corpus totals crossed into the vocab-bounded divergence sums, then the two 1-row aggregates crossed into the 1-row report",
    "hubness_profile": "rides hard_negative_mining's broadcast 1-row corpus count cross (the hard_negative_pairs auto-plane argument)",
    "ivfpq_recall_at_k": "exact side of the IVF-PQ recall audit: broadcast 5-row full-vector baseline (ann_recall_at_k pattern); index side joins codes to <= m*k broadcast codebook rows",
    "ngram_containment_pairs": "scale-derived df cap: broadcast 1-row corpus count crossed into the document-frequency filter (the auto-plane pattern, no plan-build collect)",
    "boilerplate_line_removal": "scale-derived boilerplate threshold: broadcast 1-row corpus doc-count crossed into the line-df filter (the containment-cap pattern, no plan-build collect)",
    "bradley_terry_strengths": "broadcast 1-row item/pair array assembly crossed per MM iteration (the doremi one-assembled-row posture, no plan-build collect)",
    "pagerank_host_authority": "broadcast 1-row vertex-count and per-iteration dangling-mass aggregates crossed into the damped update (no plan-build collect; measured at r16 registration)",
    "matryoshka_recall_at_k": "exact side of the truncation recall audit: broadcast 5-row query-vector baseline per width (ann_recall_at_k pattern)",
    "crawl_frontier_priority": "pagerank's final-iteration broadcast 1-row N/dangling cross (earlier iterations sit inside the checkpoint barriers; measured at r16 staging)",
    "vocab_overlap_matrix": "bounded |sources| x |sources| pair cross of the per-source vocabulary-size aggregates (measured at r16 staging)",
    "minhash_band_tuning": "generated-grid cross (bands factorization x similarity grid) — no input table at all (measured at r16 staging)",
    "hybrid_rrf_retrieval": "both retriever branches broadcast the 5-row query set against the corpus scan (ann_recall_at_k pattern, x2; measured at r16 staging)",
    "exact_substr_runs": "scale-derived df cap: broadcast 1-row corpus count crossed into the posting-frequency filter (the ngram_containment_pairs pattern). Through r16 the localCheckpoint truncated this subtree out of the rendered plan; the r17 persist() conversion renders the cached child plan, surfacing the same allowlisted cross (re-measured r17)",
    "hits_hub_authority": "broadcast 1-row vertex-count + per-half-step L1-total crosses kept in-plan (the pagerank BNLJ_OK precedent; measured at r17 staging)",
    "knn_graph_edges": "broadcast 1-row corpus count crossed into the auto-plane bucket assignment (the hard_negative_pairs precedent; measured at r17 staging)",
    "min_k_prob_profile": "broadcast 1-row smoothing-totals cross kept in-plan (the unigram_logprob_score precedent; measured at r17 staging)",
    # top_supplier_revenue needs no entry: Catalyst rewrites its
    # equality-filtered 1-row max cross into a BroadcastHashJoin on the
    # normalized revenue key (pinned by test_q15_max_subquery_stays_in_plan)
}
# queries whose operators legitimately run Python (Arrow-batched only)
PANDAS_OK = {
    "spectral_energy": "FFT (numpy.rfft) — no JVM builtin",
    "dominant_frequency": "FFT argmax — no JVM builtin",
    "dominant_frequency_verified": "FFT over 32 bins — no JVM builtin (oracle replays by direct DFT)",
    "pca_reduce": "per-group SVD — no JVM builtin",
    "image_header_meta": "binary container parsing (struct) via mapInPandas",
    "video_header_meta": "binary container parsing (struct) via mapInPandas",
    "audio_header_meta": "binary container parsing (struct) via mapInPandas",
    "audio_pcm_features": "full binary decode (RIFF walk + int16 unpack) via mapInPandas",
    "image_pixel_features": "full binary decode (PNG walk + zlib inflate + unfilter) via mapInPandas",
    "image_jpeg_pixel_features": "full binary decode (baseline JPEG Huffman + IDCT) via mapInPandas",
    "video_frame_features": "full binary decode (MP4 sample-table walk + per-frame JPEG) via mapInPandas",
    "kmv_distinct_ngrams": "per-batch partial bottom-k sketch (documented wire shape)",
    "heavy_hitter_tokens": "per-batch pigeonhole candidate pass (Misra-Gries bound)",
    "dhash_neardup_pairs": "full binary decode (PNG walk + zlib inflate + unfilter + dHash sample grid) via mapInPandas (image_pixel_features precedent)",
    "audio_fingerprint_neardup": "full binary decode (RIFF walk + int16 unpack + frame energies) via mapInPandas (audio_pcm_features precedent) feeding the JVM-side banded join",
    "audio_vad_segments": "full binary decode (RIFF walk + int16 unpack + frame energies) via mapInPandas (audio_pcm_features precedent) feeding the JVM-side islands window",
    "video_scene_cuts": "full binary decode (MP4 sample-table walk + per-frame JPEG diffs) via mapInPandas (video_frame_features precedent) feeding the JVM-side running-cut window",
}

PANDAS_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")

# queries allowed an unpartitioned Window, each with its boundedness
# argument — "the input to this window is provably tiny", never "it is
# fast at sf0.1"
WINDOW_OK = {
    "bm25_ranked_retrieval": "final rank runs on the already-limit(10) retrieval frame",
    "monthly_revenue_growth": "lag window over the month-grain aggregate: |months| rows",
    "weighted_doc_sample": "phase-2 global rank runs on the salted per-partition bottom-k survivors only: <= n_salt_parts x k rows (k=200), never the corpus",
    "budget_selected_docs": "cumulative-mass window runs on the 4dp score-bucket histogram: <= 10^4+1 rows by the documented score-cardinality contract, never the corpus",
    "curation_stage_profile": "both unpartitioned windows are budget_select's cumulative-mass sweep over the 4dp score-bucket histogram (<= 10^4+1 rows), planned once per funnel branch (50_budget and the shard rows)",
    "zipf_profile": "rank window runs on the <= top_n (1000) post-limit frame — TakeOrderedAndProject bounds the input before the window",
    "sequence_packing_plan": "phase-2 cumulative window runs on the bucket-base frame only: <= n_buckets=256 rows by construction, never the corpus",
    "curriculum_phase_plan": "the schedule_pos window runs on the (sources x phases) plan grain AFTER the aggregate (<= |sources| x 4 rows by construction; the staging plan pin proves it sits above the HashAggregate)",
}


def _unpartitioned_windows(plan: str) -> int:
    """Count physical Window nodes with no partition spec. The node
    prints ``Window [exprs], [partcols], [sortcols]``; either optional
    group may be absent, so with 2 groups the discriminator is the
    second group's content: sort specs carry ASC/DESC NULLS tokens,
    partition columns never do."""
    import re

    n = 0
    for line in plan.splitlines():
        s = line.lstrip(" +-:|*(0123456789)")
        if not s.startswith("Window "):
            continue
        groups, buf, depth = [], [], 0
        for ch in s:
            if ch == "[":
                depth += 1
                if depth == 1:
                    buf = []
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                    continue
            if depth >= 1:
                buf.append(ch)
        if len(groups) >= 3:
            continue  # exprs + partition + sort
        if len(groups) == 2 and not re.search(r"(ASC|DESC) NULLS", groups[1]):
            continue  # exprs + partition (unordered window)
        n += 1
    return n


def main() -> int:
    spark = get_session("plan-audit")
    only = set(sys.argv[1:])
    violations = 0
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            plan = (
                q.spark(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: query failed to plan: {type(e).__name__}: {e}")
            violations += 1
            continue
        problems = []
        if "CartesianProduct" in plan and name not in CARTESIAN_OK:
            problems.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            problems.append("BroadcastNestedLoopJoin")
        if "BatchEvalPython" in plan:
            problems.append("BatchEvalPython (row-at-a-time UDF)")
        if any(n in plan for n in PANDAS_NODES) and name not in PANDAS_OK:
            problems.append("unexpected Python stage (Arrow) in a JVM-only query")
        nw = _unpartitioned_windows(plan)
        if nw and name not in WINDOW_OK:
            problems.append(
                f"{nw} unpartitioned Window node(s) — single-task sort "
                "of the whole input (add a WINDOW_OK boundedness entry "
                "or repartition the window)"
            )
        if problems:
            violations += 1
            print(f"VIOLATION {name}: " + "; ".join(problems))
        else:
            print(f"ok        {name}")
    print(f"\nplan audit: {violations} violations / {len(only) or len(REGISTRY)} queries")
    return violations


if __name__ == "__main__":
    raise SystemExit(main())
