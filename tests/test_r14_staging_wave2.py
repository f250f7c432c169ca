"""Planted-property, literal-graph and plan-shape tests for the operators
staged in r14 waves 2-7 (pagerank_host_authority, the code and license
detectors, matryoshka_recall_at_k, audio_vad_segments,
curriculum_phase_plan, video_scene_cuts, crawl_frontier_priority,
anchor_text_stats, span_corruption_plan, label propagation,
vocab_overlap_matrix, minhash_band_tuning, triangle_clustering,
hybrid_rrf_retrieval, chat_turn_stats, dpo_pair_plan). Each registered
query's oracle differential is
tests/test_entry.py::test_query_matches_oracle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans import REGISTRY
from datapipeline_spike_spark.plans.catalog_text import (
    SNIPPET_C,
    SNIPPET_JS,
    SNIPPET_PY,
    _code_planted,
    _lic_planted,
)
from datapipeline_spike_spark.plans.catalog_training import _chat_planted
from datapipeline_spike_spark.plans.registry import load
from tests.test_plans import _plan_of, _window_groups


# --- pagerank_host_authority --------------------------------------------------


def test_pagerank_literal_graph_vs_reference(spark):
    """4-node hand graph WITH a dangling node (3 has no out-edges) vs a
    pure-Python power iteration of the documented spec — proves the
    dangling-mass redistribution path the corpus graph may not
    exercise, and mass conservation."""
    from datapipeline_spike_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["host"]: r for r in pagerank(df, n_iter=3).collect()}

    n, d = 4, 0.85
    out_deg = {0: 2, 1: 2, 2: 1, 3: 0}
    rank = {h: 1.0 / n for h in range(4)}
    for _ in range(3):
        dang = sum(r for h, r in rank.items() if out_deg[h] == 0)
        contrib = {h: 0.0 for h in range(4)}
        for s, t in edges:
            contrib[t] += rank[s] / out_deg[s]
        rank = {
            h: (1 - d) / n + d * contrib[h] + d * dang / n for h in range(4)
        }
    assert sum(rank.values()) == pytest.approx(1.0)
    for h in range(4):
        assert got[h]["pagerank"] == pytest.approx(round(rank[h], 6))
    assert got[3]["out_degree"] == 0 and got[3]["in_degree"] == 2
    # the sink accumulated the most mass; the source the least
    assert got[3]["pagerank"] == max(r["pagerank"] for r in got.values())
    assert got[0]["pagerank"] == min(r["pagerank"] for r in got.values())


# --- code_detect_profile --------------------------------------------------------


def test_code_detect_planted_families(spark):
    """Each snippet classifies to its own family; keyword-rich but
    symbol-free prose detects the family but NOT is_code (the density
    gate); pure prose is 'none'."""
    from datapipeline_spike_spark.operators.detectors import (
        code_detect_profile,
    )

    rows = [
        (1, "s", "prose " + SNIPPET_PY),
        (2, "s", "prose " + SNIPPET_JS),
        (3, "s", "prose " + SNIPPET_C),
        (4, "s", "we def import class words with no symbols at all"),
        (5, "s", "plain prose about tables and joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["family"]: r for r in code_detect_profile(df).collect()}
    assert got["python"]["n_code"] == 1
    assert got["js"]["n_code"] == 1
    assert got["c"]["n_code"] == 1
    # density gate: def/import/class fire the battery but 0 symbols
    assert got["python"]["n_docs"] == 2  # snippet doc + symbol-free doc
    assert got["none"]["n_docs"] == 1 and got["none"]["n_code"] == 0


# --- license_detect_profile -----------------------------------------------------


def test_license_detect_priority_and_boundaries(spark):
    """Dual-mention texts classify to the FIRST (copyleft-first) match;
    'submit'/'limit' never fire the \\bmit\\b pattern."""
    from datapipeline_spike_spark.operators.detectors import (
        license_detect_profile,
    )

    rows = [
        (1, "s", "dual: mit license text under gnu general public license"),
        (2, "s", "please submit within the limit tomorrow"),
        (3, "s", "released under the mit license"),
        (4, "s", "see creative commons attribution"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["license"]: r["n_docs"] for r in license_detect_profile(df).collect()
    }
    assert got == {"gpl-3.0": 1, "none": 1, "mit": 1, "cc-by-4.0": 1}


# --- matryoshka_recall_at_k -----------------------------------------------------


def test_matryoshka_full_width_is_perfect(spark, sf_dir):
    """Truncating to the full embedding width must reproduce the exact
    top-k — recall 1.0 for every query (the audit's sanity anchor)."""
    from datapipeline_spike_spark.operators.similarity import (
        matryoshka_recall,
    )

    emb = load(spark, sf_dir, "embeddings")
    rows = matryoshka_recall(
        emb, emb.filter(F.col("vec_id") < 5), k=5, dims=(64,)
    ).collect()
    assert len(rows) == 5
    assert all(r["recall_at_k"] == 1.0 and r["n_exact"] == 5 for r in rows)


# --- audio_vad_segments ---------------------------------------------------------


def test_audio_vad_planted_properties(spark):
    """Segments replay a pure-Python reference of the documented spec;
    silence-gated frames (energy <= 8 * 32^2 = 8192 < threshold) are
    NEVER inside a segment; a truncated payload contributes no rows."""
    from datapipeline_spike_spark.sources.multimodal import (
        audio_vad_segments,
        synthetic_wav_vad,
    )

    seeds = [3, 10, 21]
    media = spark.createDataFrame(
        [(s, synthetic_wav_vad(s, 64 + s % 8 * 8), "audio") for s in seeds],
        "media_id long, payload binary, media_type string",
    )
    got = sorted(
        (r["media_id"], r["seg_start_frame"], r["n_frames"], r["total_energy"])
        for r in audio_vad_segments(media).collect()
    )

    want = []
    for s in seeds:
        n = 64 + s % 8 * 8
        xs = [
            ((s * 31 + i * 17) % 4001) - 2000
            if (s * 13 + (i // 8) * 7) % 3 != 0
            else ((s * 31 + i * 17) % 64) - 32
            for i in range(n)
        ]
        energies = [
            sum(x * x for x in xs[b * 8 : b * 8 + 8]) for b in range(n // 8)
        ]
        b = 0
        while b < len(energies):
            if energies[b] > 16384:
                start = b
                tot = 0
                while b < len(energies) and energies[b] > 16384:
                    tot += energies[b]
                    b += 1
                want.append((s, start, b - start, tot))
            else:
                # the gate guarantees silence blocks stay silent
                assert (s * 13 + b * 7) % 3 == 0
                b += 1
    assert got == sorted(want)

    truncated = spark.createDataFrame(
        [(99, synthetic_wav_vad(99, 64)[:40], "audio")],
        "media_id long, payload binary, media_type string",
    )
    assert audio_vad_segments(truncated).count() == 0


# --- curriculum_phase_plan ------------------------------------------------------


def test_curriculum_planted_phases(spark):
    """8 one-source docs with strictly increasing mean token length
    split 2/2/2/2 easy-to-hard; budgets are the exact token sums;
    schedule is phase-major."""
    from datapipeline_spike_spark.operators.curation import (
        curriculum_phase_plan,
    )

    rows = [
        (i, "a", " ".join(["x" * (i + 1)] * 3)) for i in range(8)
    ]  # doc i: 3 tokens of length i+1 -> difficulty i+1
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sorted(
        (r["phase"], r["n_docs"], r["token_budget"], r["mean_difficulty"])
        for r in curriculum_phase_plan(df).collect()
    )
    assert got == [
        (1, 2, 6, 1.5),
        (2, 2, 6, 3.5),
        (3, 2, 6, 5.5),
        (4, 2, 6, 7.5),
    ]
    two = curriculum_phase_plan(
        df.withColumn(
            "source",
            F.when(F.col("doc_id") < 4, F.lit("a")).otherwise(F.lit("b")),
        )
    ).collect()
    pos = {(r["phase"], r["source"]): r["schedule_pos"] for r in two}
    assert pos[(1, "a")] < pos[(1, "b")] < pos[(2, "a")]


# --- physical-plan shape pins (the registered-query plan-audit rules,
# applied at staging time so registration can't inherit a regression) ---


def test_pagerank_plan_shape(spark, sf_dir):
    """Per-iteration joins are keyed (hash/sort-merge), never a
    cartesian; the only nested-loop crosses are the documented 1-row
    count/dangling broadcasts; no Python, no windows."""
    from datapipeline_spike_spark.operators.graph import (
        host_link_graph,
        pagerank,
    )

    plan = _plan_of(pagerank(host_link_graph(load(spark, sf_dir, "documents"))))
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Window"):
        assert node not in plan, node


def test_detectors_plan_shape(spark, sf_dir):
    """code_detect is map-only to its rollup (no joins, no windows, no
    Python); license_detect adds only the broadcast per-source join."""
    from datapipeline_spike_spark.operators.detectors import (
        code_detect_profile,
        license_detect_profile,
    )

    code = _plan_of(code_detect_profile(_code_planted(spark, sf_dir)))
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct", "Window",
                 "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in code, node
    lic = _plan_of(license_detect_profile(_lic_planted(spark, sf_dir)))
    assert "BroadcastHashJoin" in lic
    for node in ("SortMergeJoin", "CartesianProduct", "Window",
                 "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in lic, node


def test_matryoshka_plan_shape(spark, sf_dir):
    """Every corpus-side scan joins the BROADCAST query set (the ANN
    audit contract) — no shuffled join anywhere, no Python; the top-k
    windows are partitioned by query."""
    from datapipeline_spike_spark.operators.similarity import (
        matryoshka_recall,
    )

    emb = load(spark, sf_dir, "embeddings")
    plan = _plan_of(
        matryoshka_recall(emb, emb.filter(F.col("vec_id") < 5), k=5,
                          dims=(8, 16))
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    assert all(g >= 3 for g in _window_groups(plan))


def test_vad_plan_shape(spark, sf_dir):
    """The decode is the one Arrow stage (MapInPandas); the islands
    window is PARTITIONED by clip; no joins."""
    from datapipeline_spike_spark.sources.multimodal import (
        audio_vad_segments,
        vad_media_from_documents,
    )

    plan = _plan_of(
        audio_vad_segments(
            vad_media_from_documents(load(spark, sf_dir, "documents"))
        )
    )
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan, node
    groups = _window_groups(plan)
    assert groups and all(g >= 3 for g in groups)


def test_curriculum_plan_windows(spark, sf_dir):
    """The doc-grain ntile window is PARTITIONED by source; exactly one
    unpartitioned window exists and it runs on the (sources x phases)
    plan grain AFTER the aggregate (bounded by construction)."""
    from datapipeline_spike_spark.operators.curation import (
        curriculum_phase_plan,
    )

    plan = _plan_of(curriculum_phase_plan(load(spark, sf_dir, "documents")))
    groups = _window_groups(plan)
    assert len(groups) == 2
    assert sorted(groups) == [2, 3]
    # the unpartitioned window must sit ABOVE the aggregate (plan grain)
    lines = plan.splitlines()
    win2 = next(
        i for i, line in enumerate(lines)
        if line.lstrip(" +-:|*(0123456789)").startswith("Window ")
        and len(__import__("re").findall(r"\[[^\]]*\]", line)) == 2
    )
    assert any("HashAggregate" in line for line in lines[win2:]), (
        "unpartitioned window not above the aggregate"
    )


# ============================ WAVE 3 =============================
# Staged later in r14 (register r16+): video_scene_cuts,
# crawl_frontier_priority, anchor_text_stats, span_corruption_plan —
# same gauntlet: full DuckDB differential + planted properties.


def test_video_scene_cuts_planted(spark, sf_dir):
    """3-frame scenes produce exactly n_frames/3 shots of 3 (when every
    boundary actually changes pixels — replayed in pure Python); a
    constant video is ONE shot; a truncated payload contributes no
    rows."""
    from datapipeline_spike_spark.sources.multimodal import (
        scene_media_from_documents,
        synthetic_scene_mp4,
        video_scene_cuts,
    )

    seeds = [4, 9]
    media = scene_media_from_documents(
        load(spark, sf_dir, "documents").filter(F.col("doc_id").isin(seeds))
    )
    got = sorted(
        (r["media_id"], r["shot_idx"], r["start_frame"], r["n_frames"])
        for r in video_scene_cuts(media).collect()
    )
    want = []
    for s in seeds:
        n = 6 + s % 2 * 3
        shots = 0
        for f in range(n):
            if f == 0 or (
                f % 3 == 0
                # boundary diff > 0 iff the two scene pattern values
                # differ in at least one block
                and any(
                    ((s * 131 + (f // 3) * 37) * 11 + b * 29) % 256
                    != ((s * 131 + (f // 3 - 1) * 37) * 11 + b * 29) % 256
                    for b in range(2)
                )
            ):
                shots += 1
                want.append((s, shots - 1, f, 3))
    assert got == sorted(want)

    one_shot = spark.createDataFrame(
        [(7, synthetic_scene_mp4(7, 6, scene_len=6), "video")],
        "media_id long, payload binary, media_type string",
    )
    rows = video_scene_cuts(one_shot).collect()
    assert len(rows) == 1 and rows[0]["n_frames"] == 6
    truncated = spark.createDataFrame(
        [(8, synthetic_scene_mp4(8, 6)[:64], "video")],
        "media_id long, payload binary, media_type string",
    )
    assert video_scene_cuts(truncated).count() == 0


# --- crawl_frontier_priority ----------------------------------------------------


def test_crawl_frontier_internal_consistency(spark, sf_dir):
    """priority recomputes from the row's own published columns; dup
    rate stays in [0, 1) (a host's first page is never a dup); depth
    in [1, 4]."""
    from datapipeline_spike_spark.operators.graph import (
        crawl_frontier_priority,
    )

    rows = crawl_frontier_priority(load(spark, sf_dir, "documents")).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["dup_rate"] < 1.0
        assert 1.0 <= r["mean_depth"] <= 4.0
        # Spark round() is HALF_UP; replay it explicitly (Python round
        # is banker's and flips exact .5e-6 boundaries)
        import math

        x = r["pagerank"] * (1 - r["dup_rate"]) / r["mean_depth"]
        assert r["priority"] == pytest.approx(
            math.floor(x * 1e6 + 0.5) / 1e6, abs=1e-9
        )


# --- anchor_text_stats ----------------------------------------------------------


def test_anchor_text_planted(spark):
    """Hand corpus: every link from doc 8 carries a known token; ranks
    are 1..k with the count-desc/anchor-asc total order."""
    from datapipeline_spike_spark.operators.graph import anchor_text_stats

    # doc 8: toks = [alpha, beta, gamma]; links j=0,1,2 -> anchors
    # toks[(8+j) % 3 + 1] = toks[2+1]=gamma, toks[0+1]=alpha, toks[1+1]=beta
    df = spark.createDataFrame(
        [(8, "alpha beta gamma")], "doc_id long, text string"
    )
    rows = sorted(
        (r["host"], r["anchor"], r["n_links"], r["rank"])
        for r in anchor_text_stats(df).collect()
    )
    hosts = [(8 * 8 + j * 13 + 1) % 64 for j in range(3)]
    assert rows == sorted(
        [
            (hosts[0], "gamma", 1, 1),
            (hosts[1], "alpha", 1, 1),
            (hosts[2], "beta", 1, 1),
        ]
    )


# --- span_corruption_plan -------------------------------------------------------


def test_span_corruption_hand_cases(spark):
    """The documented arithmetic on pinned cases, incl. both clamps:
    n=10 -> noise 2, spans 1, input 10, target 4; n=2 -> the noise
    floor clamps up to 1 and the span floor to 1 (input 3, target 3);
    a 1-token doc is dropped."""
    from datapipeline_spike_spark.operators.packing import (
        span_corruption_plan,
    )

    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),
            (2, "a b"),
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in span_corruption_plan(df).collect()}
    assert set(got) == {1, 2}
    r1 = got[1]
    assert (r1["noise_tokens"], r1["n_spans"], r1["input_len"],
            r1["target_len"]) == (2, 1, 10, 4)
    r2 = got[2]
    assert (r2["noise_tokens"], r2["n_spans"], r2["input_len"],
            r2["target_len"]) == (1, 1, 3, 3)


def test_wave3_plan_shapes(spark, sf_dir):
    """Wave-3 pins: scene cuts = one Arrow decode + a partitioned
    window, no joins; frontier = keyed joins only (no cartesian, no
    Python, no data-grain window); anchors = partitioned window on the
    aggregated grain, no Python; span plan = strictly map-only."""
    from datapipeline_spike_spark.operators.graph import (
        anchor_text_stats,
        crawl_frontier_priority,
    )
    from datapipeline_spike_spark.operators.packing import (
        span_corruption_plan,
    )
    from datapipeline_spike_spark.sources.multimodal import (
        scene_media_from_documents,
        video_scene_cuts,
    )

    docs = load(spark, sf_dir, "documents")

    scene = _plan_of(video_scene_cuts(scene_media_from_documents(docs)))
    assert "MapInPandas" in scene and "BatchEvalPython" not in scene
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in scene, node
    assert all(g >= 3 for g in _window_groups(scene))

    frontier = _plan_of(crawl_frontier_priority(docs))
    assert "CartesianProduct" not in frontier
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Window"):
        assert node not in frontier, node

    anchors = _plan_of(anchor_text_stats(docs))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in anchors, node
    groups = _window_groups(anchors)
    assert groups and all(g >= 3 for g in groups)

    span = _plan_of(span_corruption_plan(docs))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct", "Window"):
        assert node not in span, node


# ============================ WAVE 4 =============================
# label_propagation_communities, vocab_overlap_matrix,
# minhash_band_tuning — same gauntlet.


def test_label_propagation_planted_communities(spark, sf_dir):
    """Two disjoint triangles each collapse to their min vertex id; the
    synchronous rounds replay a pure-Python reference on a path
    graph (deterministic smallest-label ties)."""
    from datapipeline_spike_spark.operators.graph import (
        label_propagation_communities,
    )

    tri = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(tri, "src long, dst long")
    got = {
        r["host"]: r["community"]
        for r in label_propagation_communities(df).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}

    path = [(1, 2), (2, 3), (3, 4)]
    pdf = spark.createDataFrame(path, "src long, dst long")
    und = set()
    for a, b in path:
        und.add((a, b))
        und.add((b, a))
    labels = {v: v for v in {x for e in und for x in e}}
    for _ in range(3):
        counts: dict = {}
        for a, b in und:
            counts.setdefault(a, {})
            lab = labels[b]
            counts[a][lab] = counts[a].get(lab, 0) + 1
        labels = {
            a: min(
                (lab for lab in cs if cs[lab] == max(cs.values()))
            )
            for a, cs in counts.items()
        }
    got2 = {
        r["host"]: r["community"]
        for r in label_propagation_communities(pdf).collect()
    }
    assert got2 == labels
    # the registered form labels the host graph (a non-empty result)
    reg = REGISTRY["label_propagation_communities"].spark(spark, sf_dir)
    assert reg.count() > 0


def test_label_propagation_string_vertex_ids(spark):
    """r15 pre-registration review: the tie-break negated the LABEL,
    which crashes on non-numeric vertex ids. The min_by((-count,
    label)) form is type-generic — two string triangles collapse to
    their lexicographically smallest member exactly like the long
    graph."""
    from datapipeline_spike_spark.operators.graph import (
        label_propagation_communities,
    )

    tri = [
        ("a.com", "b.com"), ("b.com", "c.com"), ("c.com", "a.com"),
        ("x.org", "y.org"), ("y.org", "z.org"), ("z.org", "x.org"),
    ]
    df = spark.createDataFrame(tri, "src string, dst string")
    got = {
        r["host"]: r["community"]
        for r in label_propagation_communities(df).collect()
    }
    assert got == {
        "a.com": "a.com", "b.com": "a.com", "c.com": "a.com",
        "x.org": "x.org", "y.org": "x.org", "z.org": "x.org",
    }


# --- vocab_overlap_matrix -------------------------------------------------------


def test_vocab_overlap_planted(spark):
    """Hand corpus: sources sharing half their vocab score 1/3
    (2 common / 6 union); a disjoint pair still appears with 0."""
    from datapipeline_spike_spark.operators.text_stats import (
        vocab_overlap_matrix,
    )

    rows = [
        (1, "a1", "alpha beta gamma delta"),
        (2, "b2", "gamma delta epsilon zeta"),
        (3, "c3", "eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["source_a"], r["source_b"]): r
        for r in vocab_overlap_matrix(df, vocab_size=4).collect()
    }
    assert len(got) == 3
    ab = got[("a1", "b2")]
    assert (ab["n_common"], ab["jaccard"]) == (2, pytest.approx(1 / 3, abs=1e-6))
    assert got[("a1", "c3")]["n_common"] == 0
    assert got[("a1", "c3")]["jaccard"] == 0.0


# --- minhash_band_tuning --------------------------------------------------------


def test_minhash_band_tuning_analytic_properties(spark):
    """The S-curve sanity anchors: b=1 -> p = s^n; r=1 (b=n) ->
    p = 1-(1-s)^n; p monotone in s for every factorization; the
    registered LSH default's threshold lands where its docstring
    claims."""
    from datapipeline_spike_spark.operators.sketches import (
        minhash_band_tuning,
    )

    rows = minhash_band_tuning(spark, n_hashes=16).collect()
    by = {}
    for r in rows:
        by.setdefault(r["bands"], []).append(r)
    for b, rs in by.items():
        rs.sort(key=lambda r: r["s"])
        ps = [r["p_candidate"] for r in rs]
        assert ps == sorted(ps), f"p not monotone for bands={b}"
    one = {r["s"]: r["p_candidate"] for r in by[1]}
    assert one[0.5] == pytest.approx(round(0.5**16, 6), abs=1e-6)
    full = {r["s"]: r["p_candidate"] for r in by[16]}
    assert full[0.5] == pytest.approx(round(1 - 0.5**16, 6), abs=1e-6)


def test_wave4_plan_shapes(spark, sf_dir):
    """Wave-4 pins: LPA rounds are keyed joins + two-level aggregates
    (no windows, no cartesian, no Python); vocab overlap's rank window
    is PARTITIONED and its only cross is the bounded sources x sources
    pair frame; band tuning is a pure generated-grid projection."""
    from datapipeline_spike_spark.operators.graph import (
        host_link_graph,
        label_propagation_communities,
    )
    from datapipeline_spike_spark.operators.sketches import (
        minhash_band_tuning,
    )
    from datapipeline_spike_spark.operators.text_stats import (
        vocab_overlap_matrix,
    )

    docs = load(spark, sf_dir, "documents")

    lpa = _plan_of(label_propagation_communities(host_link_graph(docs)))
    assert "CartesianProduct" not in lpa
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Window"):
        assert node not in lpa, node

    vo = _plan_of(vocab_overlap_matrix(docs))
    assert "CartesianProduct" not in vo
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in vo, node
    assert all(g >= 3 for g in _window_groups(vo))

    bt = _plan_of(minhash_band_tuning(spark))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "SortMergeJoin", "Window", "CartesianProduct"):
        assert node not in bt, node


# ============================ WAVE 5 =============================
# triangle_clustering — same gauntlet.


def test_triangle_clustering_planted(spark):
    """A 4-clique gives every vertex 3 triangles and clustering 1.0; a
    path vertex has clustering 0; a degree-1 leaf is NULL; direction
    and duplicate edges collapse."""
    from datapipeline_spike_spark.operators.graph import (
        triangle_clustering,
    )

    clique = [
        (a, b) for a in range(4) for b in range(4) if a != b
    ]  # all ordered pairs: direction + dup collapse must handle
    extra = [(3, 4), (4, 5)]  # a tail: 4 is a path vertex, 5 a leaf
    df = spark.createDataFrame(clique + extra, "src long, dst long")
    got = {r["host"]: r for r in triangle_clustering(df).collect()}
    for v in range(3):
        assert got[v]["triangles"] == 3 and got[v]["clustering"] == 1.0
    assert got[3]["degree"] == 4 and got[3]["triangles"] == 3
    assert got[3]["clustering"] == pytest.approx(0.5)  # 2*3/(4*3)
    assert got[4]["triangles"] == 0 and got[4]["clustering"] == 0.0
    assert got[5]["degree"] == 1 and got[5]["clustering"] is None


def test_triangle_plan_shape(spark, sf_dir):
    """Both triangle joins are equi joins (never cartesian/BNLJ), no
    Python, no windows."""
    from datapipeline_spike_spark.operators.graph import (
        host_link_graph,
        triangle_clustering,
    )

    plan = _plan_of(
        triangle_clustering(host_link_graph(load(spark, sf_dir, "documents")))
    )
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Window"):
        assert node not in plan, node


# ============================ WAVE 6 =============================
# rrf_fuse / hybrid_rrf_retrieval — same gauntlet.


def test_rrf_fusion_properties(spark):
    """Consensus beats single-system: a doc both retrievers return at
    modest ranks outranks a doc one retriever returns at rank 1
    (1/61+1/62 > 1/61); fusing a system with itself preserves its
    order; ties break by neighbor id."""
    from datapipeline_spike_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(0, 100, 1), (0, 200, 2)],
        "query_id long, neighbor_id long, rank long",
    )
    b = spark.createDataFrame(
        [(0, 200, 1), (0, 300, 2)],
        "query_id long, neighbor_id long, rank long",
    )
    rows = {
        r["neighbor_id"]: r for r in rrf_fuse([a, b], k=3).collect()
    }
    # 200 appears in both (ranks 2 and 1) -> top fused
    assert rows[200]["fused_rank"] == 1 and rows[200]["n_systems"] == 2
    assert rows[100]["fused_rank"] == 2  # rank 1 in a, absent in b
    assert rows[300]["fused_rank"] == 3
    assert rows[200]["rrf_score"] == pytest.approx(
        round(1 / 62 + 1 / 61, 6), abs=1e-6
    )

    self_fused = rrf_fuse([a, a], k=2).collect()
    order = sorted(
        (r["fused_rank"], r["neighbor_id"]) for r in self_fused
    )
    assert order == [(1, 100), (2, 200)]


def test_rrf_plan_shape(spark, sf_dir):
    """Both retriever scans broadcast the query set; the fusion windows
    are partitioned; no shuffled joins, no Python."""
    from datapipeline_spike_spark.operators.similarity import (
        hybrid_rrf_retrieval,
    )

    emb = load(spark, sf_dir, "embeddings")
    plan = _plan_of(
        hybrid_rrf_retrieval(emb, emb.filter(F.col("vec_id") < 5))
    )
    for node in ("CartesianProduct", "SortMergeJoin", "BatchEvalPython",
                 "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    assert all(g >= 3 for g in _window_groups(plan))


# ============================ WAVE 7 =============================
# chat_turn_stats / dpo_pair_plan (operators/sft.py) — same gauntlet.


def test_chat_turn_stats_planted(spark):
    """Literal transcripts: a clean 4-turn dialogue validates; an
    assistant-first one fails starts_with_user; a double-user run
    breaks alternation; noise lines count but never break a pair."""
    from datapipeline_spike_spark.operators.sft import chat_turn_stats

    rows = [
        (1, "user: hi there\nassistant: hello friend\n"
            "user: more words\nassistant: final answer"),
        (2, "assistant: i speak first\nuser: too late"),
        (3, "user: one\nuser: two in a row\nassistant: three"),
        (4, "user: hi\n### system banner\nassistant: hello"),
        (5, "no turns at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in chat_turn_stats(df).collect()}
    assert 5 not in got  # zero turns -> dropped (the doc is all noise)
    assert got[1]["is_valid"] and got[1]["n_turns"] == 4
    # content-only tokens: every turn carries 2 -> share 4/8
    assert got[1]["turn_tokens"] == 8 and got[1]["assistant_tokens"] == 4
    assert got[1]["assistant_token_share"] == pytest.approx(0.5, abs=1e-6)
    assert not got[2]["starts_with_user"] and not got[2]["is_valid"]
    assert not got[3]["strict_alternation"]
    assert got[4]["n_noise_lines"] == 1 and got[4]["strict_alternation"]
    assert got[4]["is_valid"]


def test_chat_turn_stats_zero_token_transcript(spark):
    """The ADVICE r14 semantics, pinned before the wave-7 hash freezes:
    a structurally-perfect transcript whose every turn tokenizes empty
    (punctuation-only content) reports NULL assistant_token_share AND
    is_valid=False — turn_tokens >= 1 is a validity conjunct, so the
    NULL share can never ride on a transcript marked valid."""
    from datapipeline_spike_spark.operators.sft import chat_turn_stats

    rows = [
        (1, "user: ???\nassistant: !!!"),       # alternating, all noise content
        (2, "user: real words\nassistant: ..."),  # assistant side empty only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in chat_turn_stats(df).collect()}
    g1 = got[1]
    assert g1["starts_with_user"] and g1["strict_alternation"]
    assert g1["ends_with_assistant"] and g1["n_turns"] == 2
    assert g1["turn_tokens"] == 0
    assert g1["assistant_token_share"] is None
    assert not g1["is_valid"]
    # a zero-ASSISTANT share over nonzero turn tokens is 0.0, not NULL,
    # and stays valid: only the all-empty case abstains
    g2 = got[2]
    assert g2["turn_tokens"] == 2 and g2["assistant_tokens"] == 0
    assert g2["assistant_token_share"] == 0.0
    assert g2["is_valid"]


def test_dpo_pair_plan_planted(spark):
    """Top/bottom extremes with id tiebreaks; sub-floor margins and
    single-candidate prompts are dropped."""
    from datapipeline_spike_spark.operators.sft import dpo_pair_plan

    rows = [
        (1, 10, 0.9), (1, 11, 0.5), (1, 12, 0.2),   # clean pair 10 vs 12
        (2, 20, 0.55), (2, 21, 0.5),                 # margin 0.05 < floor
        (3, 30, 0.4),                                # single candidate
        (4, 40, 0.8), (4, 41, 0.8), (4, 42, 0.1),    # tie at top: id wins
    ]
    df = spark.createDataFrame(
        rows, "prompt_id long, cand_id long, score double"
    )
    got = {r["prompt_id"]: r for r in dpo_pair_plan(df).collect()}
    assert set(got) == {1, 4}
    assert (got[1]["chosen_id"], got[1]["rejected_id"]) == (10, 12)
    assert got[1]["margin"] == pytest.approx(0.7)
    assert (got[4]["chosen_id"], got[4]["rejected_id"]) == (40, 42)


def test_wave7_plan_shapes(spark, sf_dir):
    """chat stats: one doc-keyed aggregate + a transcript-partitioned
    window, no joins beyond the noise-count merge, no Python; dpo: ONE
    window pass (no candidate self-join), prompt-partitioned."""
    from datapipeline_spike_spark.operators.sft import (
        chat_turn_stats,
        dpo_pair_plan,
    )

    chat = _plan_of(chat_turn_stats(_chat_planted(spark, sf_dir)))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in chat, node
    assert all(g >= 3 for g in _window_groups(chat))

    cand = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 50).alias("prompt_id"),
        F.col("doc_id").alias("cand_id"),
        (((F.col("doc_id") * 37) % 1000) / F.lit(1000.0)).alias("score"),
    )
    dpo = _plan_of(dpo_pair_plan(cand))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin"):
        assert node not in dpo, node
    assert all(g >= 3 for g in _window_groups(dpo))


# --- oracle differentials --------------------------------------------------------
# Each operator below is registered as the named query, whose oracle and
# sf0.001 Spark build are the ones this check compares, so the check is that
# query's differential (the shared ``oracle_check`` fixture).


def test_anchor_text_stats_match_duckdb(oracle_check):
    oracle_check("anchor_text_stats")


def test_audio_vad_segments_match_duckdb(oracle_check):
    oracle_check("audio_vad_segments")


def test_chat_turn_stats_match_duckdb(oracle_check):
    oracle_check("chat_turn_stats")


def test_code_detect_profile_matches_duckdb(oracle_check):
    oracle_check("code_detect_profile")


def test_crawl_frontier_priority_matches_duckdb(oracle_check):
    oracle_check("crawl_frontier_priority")


def test_curriculum_phase_plan_matches_duckdb(oracle_check):
    oracle_check("curriculum_phase_plan")


def test_dpo_pair_plan_matches_duckdb(oracle_check):
    oracle_check("dpo_pair_plan")


def test_hybrid_rrf_matches_duckdb(oracle_check):
    oracle_check("hybrid_rrf_retrieval")


def test_label_propagation_matches_duckdb(oracle_check):
    oracle_check("label_propagation_communities")


def test_license_detect_profile_matches_duckdb(oracle_check):
    oracle_check("license_detect_profile")


def test_matryoshka_recall_matches_duckdb(oracle_check):
    oracle_check("matryoshka_recall_at_k")


def test_minhash_band_tuning_matches_duckdb(oracle_check):
    oracle_check("minhash_band_tuning")


def test_pagerank_host_authority_matches_duckdb(oracle_check):
    oracle_check("pagerank_host_authority")


def test_span_corruption_plan_matches_duckdb(oracle_check):
    oracle_check("span_corruption_plan")


def test_triangle_clustering_matches_duckdb(oracle_check):
    oracle_check("triangle_clustering")


def test_video_scene_cuts_match_duckdb(oracle_check):
    oracle_check("video_scene_cuts")


def test_vocab_overlap_matches_duckdb(oracle_check):
    oracle_check("vocab_overlap_matrix")
