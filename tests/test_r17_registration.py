"""Contract tests for the queries promoted in r14 waves 3-7 (the
``STAGED_TAGS`` below): the LPA tie-break regression pins (planted
path-graph, disjoint-triangle and string-vertex replays) and
registered-form sanity floors for every entry. The cohort tests pin that
cohort and run each one's oracle differential (the shared
``oracle_check`` fixture, also behind
tests/test_entry.py::test_query_matches_oracle)."""

from __future__ import annotations

import math

import pytest

from datapipeline_spike_spark.plans import REGISTRY, rotation_preflight


# the queries promoted in r14 waves 3-7, in registration order
R17_MOVES = (
    "video_scene_cuts",
    "crawl_frontier_priority",
    "anchor_text_stats",
    "span_corruption_plan",
    "label_propagation_communities",
    "vocab_overlap_matrix",
    "minhash_band_tuning",
    "triangle_clustering",
    "hybrid_rrf_retrieval",
    "chat_turn_stats",
    "dpo_pair_plan",
)


# the persist() conversions (exact_substr_runs kept frame, dhash hash
# frame — which audio_fingerprint_neardup reuses) must leave every
# value identical, so they re-verify beside the eleven
_PERSIST_CONVERTED = (
    "exact_substr_runs",
    "dhash_neardup_pairs",
    "audio_fingerprint_neardup",
)


# the promotion tags this cohort carries
STAGED_TAGS = {
    "staged-r14-wave3",
    "staged-r14-wave4",
    "staged-r14-wave5",
    "staged-r14-wave6",
    "staged-r14-wave7",
}


def test_r17_moves_are_all_registered():
    """Exactly these eleven queries carry one of the ``STAGED_TAGS``;
    their builders live in the domain catalogs."""
    assert len(R17_MOVES) == 11
    got = [name for name, q in REGISTRY.items() if STAGED_TAGS & set(q.tags)]
    assert sorted(got) == sorted(R17_MOVES)


def test_r17_moves_remain_placed_by_the_rotation():
    """All eleven and the three persist-converted queries remain
    registered, so the computed order places them, and the order is
    sound."""
    assert set(R17_MOVES) | set(_PERSIST_CONVERTED) <= set(REGISTRY)
    assert rotation_preflight() == []


@pytest.mark.parametrize(
    "name", sorted(set(R17_MOVES) | set(_PERSIST_CONVERTED))
)
def test_registered_query_matches_oracle(oracle_check, name):
    assert REGISTRY[name].oracle is not None  # all ship full-value oracles
    oracle_check(name)


# --- LPA tie-break regression pins (VERDICT r16 item 6) --------------------------


def test_lpa_disjoint_triangles_collapse_to_min_id(spark):
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


def test_lpa_path_graph_replays_pure_python(spark):
    """Synchronous rounds with the (most-frequent, then smallest)
    deterministic label rule, replayed in pure Python on a path."""
    from datapipeline_spike_spark.operators.graph import (
        label_propagation_communities,
    )

    path = [(1, 2), (2, 3), (3, 4)]
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
            a: min(lab for lab in cs if cs[lab] == max(cs.values()))
            for a, cs in counts.items()
        }
    pdf = spark.createDataFrame(path, "src long, dst long")
    got = {
        r["host"]: r["community"]
        for r in label_propagation_communities(pdf).collect()
    }
    assert got == labels


def test_lpa_string_vertex_ids_survive_the_tie_break(spark):
    """The min_by((-count, label)) form negates the COUNT, never the
    label — type-generic, so string host graphs work (the r15
    pre-registration fix this pin freezes into the registered hash)."""
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


# --- registered-form sanity floors ------------------------------------------------


def test_scene_cuts_registered_shots_partition_each_clip(spark, sf_dir):
    """Per clip: shot_idx is contiguous from 0, shot frame counts sum
    to the clip's generated frame count (6 + (doc_id % 2) * 3), and
    the 3-frame scene gating produces a multi-shot clip somewhere."""
    rows = REGISTRY["video_scene_cuts"].spark(spark, sf_dir).collect()
    assert rows
    by_clip: dict[int, list] = {}
    for r in rows:
        by_clip.setdefault(r["media_id"], []).append(r)
    assert any(len(v) >= 2 for v in by_clip.values())
    for mid, shots in by_clip.items():
        shots.sort(key=lambda r: r["shot_idx"])
        assert [s["shot_idx"] for s in shots] == list(range(len(shots)))
        assert sum(s["n_frames"] for s in shots) == 6 + (mid % 2) * 3
        assert shots[0]["start_frame"] == 0
        assert shots[0]["cut_energy"] is None  # shot 0 opens unforced


def test_frontier_registered_priority_recomputes(spark, sf_dir):
    """priority = pagerank * (1 - dup_rate) / mean_depth from the
    row's own published 6dp columns, HALF_UP; dup_rate in [0, 1) and
    depth in [1, 4] by the page-plant construction."""
    rows = REGISTRY["crawl_frontier_priority"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["dup_rate"] < 1.0
        assert 1.0 <= r["mean_depth"] <= 4.0
        x = r["pagerank"] * (1 - r["dup_rate"]) / r["mean_depth"]
        assert r["priority"] == pytest.approx(
            math.floor(x * 1e6 + 0.5) / 1e6, abs=1e-9
        )


def test_anchor_registered_ranks_are_contiguous_topk(spark, sf_dir):
    rows = REGISTRY["anchor_text_stats"].spark(spark, sf_dir).collect()
    assert rows
    by_host: dict[int, list] = {}
    for r in rows:
        assert r["n_links"] >= 1
        by_host.setdefault(r["host"], []).append(r)
    for host, rs in by_host.items():
        rs.sort(key=lambda r: r["rank"])
        assert [x["rank"] for x in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        counts = [x["n_links"] for x in rs]
        assert counts == sorted(counts, reverse=True)


def test_span_plan_registered_identities_hold(spark, sf_dir):
    rows = REGISTRY["span_corruption_plan"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["noise_tokens"] <= r["n_tokens"] - 1
        assert 1 <= r["n_spans"] <= r["noise_tokens"]
        assert (
            r["input_len"] + r["target_len"]
            == r["n_tokens"] + 2 * r["n_spans"] + 2
        )


def test_vocab_overlap_registered_matrix_is_complete(spark, sf_dir):
    """All C(|sources|, 2) ordered pairs appear (zero-overlap pairs
    included); jaccard in [0, 1] and consistent with the published
    counts."""
    rows = REGISTRY["vocab_overlap_matrix"].spark(spark, sf_dir).collect()
    assert rows
    sources = {r["source_a"] for r in rows} | {r["source_b"] for r in rows}
    n = len(sources)
    assert len(rows) == n * (n - 1) // 2
    for r in rows:
        assert r["source_a"] < r["source_b"]
        union = r["v_a"] + r["v_b"] - r["n_common"]
        assert r["jaccard"] == pytest.approx(
            round(r["n_common"] / union, 6), abs=1e-9
        )


def test_band_tuning_registered_grid_is_the_factorization_table(spark, sf_dir):
    """One row per (divisor of 128) x (19 similarity grid points);
    p_candidate in [0, 1] and monotone in s per banding."""
    rows = REGISTRY["minhash_band_tuning"].spark(spark, sf_dir).collect()
    divisors = [b for b in range(1, 129) if 128 % b == 0]
    assert len(rows) == len(divisors) * 19
    by_band: dict[int, list] = {}
    for r in rows:
        assert r["n_hashes"] == 128
        assert r["bands"] * r["rows_per_band"] == 128
        assert 0.0 <= r["p_candidate"] <= 1.0
        by_band.setdefault(r["bands"], []).append(r)
    for b, rs in by_band.items():
        rs.sort(key=lambda r: r["s"])
        ps = [r["p_candidate"] for r in rs]
        assert ps == sorted(ps), f"p not monotone for bands={b}"


def test_triangles_registered_coefficients_are_bounded(spark, sf_dir):
    rows = REGISTRY["triangle_clustering"].spark(spark, sf_dir).collect()
    assert rows
    assert any(r["triangles"] > 0 for r in rows)
    for r in rows:
        if r["degree"] < 2:
            assert r["clustering"] is None
        else:
            assert 0.0 <= r["clustering"] <= 1.0
            assert r["triangles"] <= r["degree"] * (r["degree"] - 1) // 2


def test_rrf_registered_fusion_is_a_topk_per_query(spark, sf_dir):
    """5 queries x fused top-5; fused_rank contiguous; rrf_score
    non-increasing within a query; a both-systems consensus hit
    carries n_systems = 2."""
    rows = REGISTRY["hybrid_rrf_retrieval"].spark(spark, sf_dir).collect()
    assert len(rows) == 25
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["n_systems"] in (1, 2)
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["fused_rank"])
        assert [x["fused_rank"] for x in rs] == [1, 2, 3, 4, 5]
        scores = [x["rrf_score"] for x in rs]
        assert scores == sorted(scores, reverse=True)
    assert any(r["n_systems"] == 2 for r in rows)


def test_chat_stats_registered_plant_mixes_valid_and_invalid(spark, sf_dir):
    """The transcript plant (assistant-first when doc_id % 5 == 0,
    noise footer when doc_id % 7 == 3) must produce both outcomes,
    and the zero-token NULL-share semantics can never ride on a valid
    row."""
    rows = REGISTRY["chat_turn_stats"].spark(spark, sf_dir).collect()
    assert rows
    valid = sum(1 for r in rows if r["is_valid"])
    assert 0 < valid < len(rows)
    for r in rows:
        assert r["n_turns"] == r["n_user"] + r["n_assistant"]
        if r["assistant_token_share"] is None:
            assert r["turn_tokens"] == 0 and not r["is_valid"]
        if r["is_valid"]:
            assert r["starts_with_user"] and r["ends_with_assistant"]
            assert r["turn_tokens"] >= 1


def test_dpo_registered_pairs_clear_the_margin_floor(spark, sf_dir):
    rows = REGISTRY["dpo_pair_plan"].spark(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["prompt_id"] not in seen  # one pair per prompt
        seen.add(r["prompt_id"])
        assert r["chosen_id"] != r["rejected_id"]
        assert r["chosen_score"] >= r["rejected_score"]
        assert r["margin"] >= 0.1
        assert r["margin"] == pytest.approx(
            round(r["chosen_score"] - r["rejected_score"], 6), abs=1e-9
        )
