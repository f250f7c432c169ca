"""R17 catalog: the round-14 staged WAVE 3-7 operators, REGISTERED
(the r12->r13->r14->r15->r16 staging pattern; checklist at
plans/__init__.py, r16/r17 registration sections).

These eleven entries were staged in round 14 (waves 3-7) and burned
down against the DuckDB oracle locally via
``tests/test_r14_staging_wave2.py`` (full differential comparison at
sf0.001 AND sf0.01: row count + schema +
order-insensitive exact values, plus planted-property checks and
physical-plan shape pins applied at staging time — re-verified 0
failures / 25 in r16). Round 17 performs the documented mechanical
move: the oracle SQL below is the staging tests' SQL (aliases
identical on both sides), the module is imported by
``plans/__init__``, the eleven names take r17 head slots, and the
plan-audit allowlist entries MEASURED at r16 staging land in
tools/plan_audit.py (PANDAS_OK video_scene_cuts decode; BNLJ_OK
crawl_frontier_priority, vocab_overlap_matrix, minhash_band_tuning,
hybrid_rrf_retrieval x2; anchor/span/LPA/triangles/chat/dpo clean).

Registered corpora reuse the staging plants so every operator has
planted positives to find at any scale factor:

- ``video_scene_cuts`` runs over scene-gated MJPEG clips synthesized
  from documents (scene pattern (doc_id*131 + scene*37) — 3-frame
  scenes, 6 + (doc_id % 2) * 3 frames per clip).
- ``crawl_frontier_priority`` / ``label_propagation_communities`` /
  ``triangle_clustering`` run over the deterministic skewed host graph
  (``host_link_graph``: host doc_id % 64, quadratic-probe out-links).
- ``anchor_text_stats`` derives link anchors from the documents' own
  tokens (toks[(doc_id + j) % n_tokens]).
- ``span_corruption_plan`` / ``vocab_overlap_matrix`` run over
  documents as-is (natural token-count / vocabulary spread).
- ``minhash_band_tuning`` is a pure analytic table (generated grid; the
  callable takes sf_dir and ignores it — the documented precedent for
  input-free design tables).
- ``hybrid_rrf_retrieval`` fuses the 8-dim Matryoshka prefix retriever
  with the exact full-width path over the vec_id < 5 query set.
- ``chat_turn_stats`` runs over transcripts assembled from documents
  (2 + doc_id % 4 turns, assistant-first when doc_id % 5 == 0, a
  noise footer when doc_id % 7 == 3).
- ``dpo_pair_plan`` runs over scored candidates derived from documents
  (prompt doc_id % 50, score ((doc_id * 37) % 1000) / 1000).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load, register

# single source for the shared SQL fragments (the ADVICE r15
# divergence rule): the PR-graph WITH chain and the tokenizer SQL live
# in catalog_r16 — the registered pagerank oracle and these entries
# must describe the same graph/tokens forever.
from datapipeline_spike_spark.plans.catalog_r16 import (  # noqa: F401
    _SQL_PR_GRAPH,
    _SQL_TOKS,
    _sql_pr_iter,
)


# --- video scene cuts (wave 3) ---------------------------------------------------


@register(
    "video_scene_cuts",
    oracle="""
    WITH fb AS (
      SELECT doc_id, f, b,
             ((doc_id * 131 + (f // 3) * 37) * 11 + b * 29) % 256 AS v
      FROM (SELECT doc_id, unnest(range(0, 6 + (doc_id % 2) * 3)) AS f
            FROM documents),
           (SELECT unnest(range(0, 2)) AS b)
    ),
    d AS (
      SELECT a.doc_id, a.f, sum(64 * abs(a.v - p.v)) AS diff
      FROM fb a JOIN fb p
        ON p.doc_id = a.doc_id AND p.f = a.f - 1 AND p.b = a.b
      GROUP BY 1, 2
    ),
    fr AS (
      SELECT fb.doc_id, fb.f, d.diff
      FROM (SELECT DISTINCT doc_id, f FROM fb) fb
      LEFT JOIN d ON d.doc_id = fb.doc_id AND d.f = fb.f
    ),
    m AS (
      SELECT doc_id, f, diff,
             (f = 0 OR diff > 0) AS is_cut,
             sum(CASE WHEN f = 0 OR diff > 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY f) AS shot
      FROM fr
    )
    SELECT doc_id AS media_id,
           CAST(shot - 1 AS BIGINT) AS shot_idx,
           CAST(min(f) AS BIGINT) AS start_frame,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(max(CASE WHEN is_cut THEN diff END) AS BIGINT)
             AS cut_energy
    FROM m GROUP BY doc_id, shot
    """,
    doc="""sources/multimodal.video_scene_cuts over
    scene_media_from_documents (staged r14 wave 3, registered r17):
    shot segmentation — the pass a video corpus runs before per-shot
    frame sampling (one keyframe per shot, not per fixed stride). A
    REAL MP4 sample-table walk + baseline JPEG decode (shared
    _mp4_from_jpeg_frames assembler with the motion-energy synth)
    yields per-frame pixel-diff rows; a cut opens at frame 0 and at
    every frame whose |diff| exceeds the threshold; the shot id is the
    running cut count; shots roll up by (clip, shot). The oracle
    replays the FULL decode from the generative (seed, scene, block)
    pixel formula (never the container); truncated payloads contribute
    no rows. Scale shape: ONE Arrow decode stage (mapInPandas,
    PANDAS_OK — video_frame_features precedent), the running-cut
    window PARTITIONED by clip, no joins anywhere.""",
    tags=("multimodal", "video", "scene-cut", "pandas", "staged-r14-wave3"),
)
def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.scale import fan_out
    from datapipeline_spike_spark.sources.multimodal import (
        scene_media_from_documents,
        video_scene_cuts,
    )

    # fan_out before the Python decode stage: the testdata single-split
    # scan otherwise serializes the whole JPEG decode on ONE task (the
    # r1 lesson; video_frame_features precedent). Measured at r17
    # registration: 21.8 s -> ~2 s extras floor at sf0.1. Row-order
    # only — the driver hash is order-insensitive.
    return video_scene_cuts(
        scene_media_from_documents(fan_out(load(spark, sf_dir, "documents")))
    )


# --- crawl frontier priority (wave 3) ---------------------------------------------


@register(
    "crawl_frontier_priority",
    oracle=f"""
    WITH {_SQL_PR_GRAPH},
    {_sql_pr_iter(3)},
    pr AS (SELECT b.host, round(r3.rank, 6) AS pagerank
           FROM b JOIN r3 USING (host)),
    pages AS (SELECT doc_id % 64 AS host, doc_id % 40 AS path,
                     doc_id AS id, CAST(1 + doc_id % 4 AS DOUBLE) AS depth
              FROM documents),
    fs AS (SELECT host, path, min(id) AS first FROM pages GROUP BY 1, 2),
    fl AS (SELECT p.host, p.depth,
                  CASE WHEN p.id != fs.first THEN 1 ELSE 0 END AS dup
           FROM pages p JOIN fs USING (host, path)),
    sig AS (SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
                   round(sum(dup) * 1.0 / count(*), 6) AS dup_rate,
                   round(avg(depth), 6) AS mean_depth
            FROM fl GROUP BY 1)
    SELECT pr.host, pr.pagerank, sig.n_pages, sig.dup_rate,
           sig.mean_depth,
           round(pr.pagerank * (1 - sig.dup_rate) / sig.mean_depth, 6)
             AS priority
    FROM pr JOIN sig USING (host)
    """,
    doc="""operators/graph.crawl_frontier_priority (staged r14 wave 3,
    registered r17): the recrawl schedule table a web-corpus frontier
    keeps — per host, PageRank authority x (1 - URL-duplicate rate) /
    mean crawl depth, the classic quality-over-cost prioritization
    (authoritative hosts first, discounted by how much of them is
    duplicate and how deep their pages sit). First-seen URL collisions
    resolve via a min-id-per-path broadcast join (NO data-grain
    window); priority recomputes from the row's own published 6dp
    columns (HALF_UP replay, pinned by the staging consistency test).
    Scale shape: keyed joins + host-grain aggregates only; the single
    BNLJ is pagerank's final-iteration 1-row N/dangling cross (the
    earlier iterations' crosses sit inside the checkpoint barriers) —
    BNLJ_OK, measured at r16 staging.""",
    tags=("graph", "web", "crawl", "staged-r14-wave3"),
)
def q_crawl_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.graph import (
        crawl_frontier_priority,
    )

    return crawl_frontier_priority(load(spark, sf_dir, "documents"))


# --- anchor text stats (wave 3) ----------------------------------------------------


@register(
    "anchor_text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS.format(c='text')} AS toks
               FROM documents),
    b AS (SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) > 0),
    l AS (
      SELECT ((doc_id % 64) * (doc_id % 64) + j * 13 + 1) % 64 AS host,
             toks[CAST((doc_id + j) % nt AS INT) + 1] AS anchor
      FROM b, (SELECT unnest(range(0, 3)) AS j)
    ),
    c AS (SELECT host, anchor, CAST(count(*) AS BIGINT) AS n_links
          FROM l GROUP BY 1, 2)
    SELECT host, anchor, n_links, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY host
              ORDER BY n_links DESC, anchor) AS rank FROM c)
    WHERE rank <= 3
    """,
    doc="""operators/graph.anchor_text_stats (staged r14 wave 3,
    registered r17): inbound anchor-text aggregation per target host —
    the classic web-retrieval relevance signal (anchor text describes
    the TARGET better than the target's own text; every search-engine
    and web-corpus quality stack aggregates it). One tokenize pass
    derives each out-link's anchor from the linking page's own tokens,
    counts roll up to the vocabulary-bounded (host, anchor) grain, and
    a PARTITIONED top-k window ranks anchors within each host
    (count desc, anchor asc — fully tie-broken). Scale shape: one
    count shuffle on the bounded grain + one partitioned window on the
    aggregate — no joins, no Python, clean audit (measured at r16
    staging).""",
    tags=("graph", "web", "anchors", "staged-r14-wave3"),
)
def q_anchor_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.graph import anchor_text_stats

    return anchor_text_stats(load(spark, sf_dir, "documents"))


# --- span corruption plan (wave 3) --------------------------------------------------


@register(
    "span_corruption_plan",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      CAST(len({_SQL_TOKS.format(c='text')}) AS BIGINT)
                        AS n_tokens
               FROM documents),
    b AS (SELECT doc_id, n_tokens FROM t WHERE n_tokens >= 2),
    p1 AS (SELECT doc_id, n_tokens,
                  CAST(greatest(1, least(
                      floor(n_tokens * 0.15 + 0.5), n_tokens - 1))
                    AS BIGINT) AS noise_tokens
           FROM b),
    p2 AS (SELECT *, CAST(greatest(1,
                  floor(noise_tokens / 3.0 + 0.5)) AS BIGINT) AS n_spans
           FROM p1)
    SELECT doc_id, n_tokens, noise_tokens, n_spans,
           CAST(n_tokens - noise_tokens + n_spans + 1 AS BIGINT)
             AS input_len,
           CAST(noise_tokens + n_spans + 1 AS BIGINT) AS target_len
    FROM p2
    """,
    doc="""operators/packing.span_corruption_plan (staged r14 wave 3,
    registered r17; Raffel 2020 T5 span corruption): the
    length-arithmetic table a denoising-objective data pipeline
    computes per document — noise token count (density 0.15, clamped
    to [1, n-1]), span count (mean span length 3, floor-half-up,
    >= 1), and the exact encoder/decoder sequence lengths
    (input + target = n + 2*spans + 2 — each span costs one sentinel
    each side plus the two EOS). Rounding is explicit floor(x + 0.5)
    HALF-UP on BOTH engines (Python round is banker's — the one rule
    that replays); both clamps pinned by staging hand cases and a
    100k-token Hypothesis battery. Scale shape: strictly MAP-ONLY
    (tokenize + arithmetic, no shuffle at all) — runs at scan speed
    on any corpus; clean audit.""",
    tags=("packing", "t5", "training-prep", "staged-r14-wave3"),
)
def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.packing import (
        span_corruption_plan,
    )

    return span_corruption_plan(load(spark, sf_dir, "documents"))


# --- label propagation communities (wave 4) ----------------------------------------


def _sql_lpa(k: int) -> str:
    """l0 -> l{k} WITH-chain layers replaying synchronous LPA with the
    deterministic smallest-label tie rule (count desc, label asc)."""
    parts = [
        """u AS (SELECT src AS a, dst AS b FROM e
                 UNION SELECT dst, src FROM e),
           l0 AS (SELECT DISTINCT a AS host, a AS label FROM u)"""
    ]
    for i in range(1, k + 1):
        p = i - 1
        parts.append(
            f"""n{i} AS (SELECT u.a, l.label, count(*) AS c
                 FROM u JOIN l{p} l ON u.b = l.host GROUP BY 1, 2),
               l{i} AS (SELECT a AS host, label FROM
                 (SELECT a, label, row_number() OVER (PARTITION BY a
                    ORDER BY c DESC, label ASC) AS rn FROM n{i})
                 WHERE rn = 1)"""
        )
    return ",\n".join(parts)


@register(
    "label_propagation_communities",
    oracle=f"""
    WITH {_SQL_PR_GRAPH},
    {_sql_lpa(3)}
    SELECT host, label AS community FROM l3
    """,
    doc="""operators/graph.label_propagation_communities over
    host_link_graph (staged r14 wave 4, registered r17; Raghavan 2007,
    the synchronous GraphX variant): every vertex starts as its own
    label; each round adopts the most frequent neighbor label with the
    DETERMINISTIC smallest-label tie rule that makes the algorithm
    engine-replayable — the argmax is min_by over the struct
    (-count, label): the COUNT is negated, never the label, so the tie
    rule survives non-numeric vertex ids (string-graph staging test).
    The link-farm / community detector next to PageRank in the
    web-corpus family. Scale shape: per round ONE keyed join
    (undirected edges x labels) + a two-level aggregate — NO window,
    no cartesian; the persisted undirected edge frame feeds every
    round from one corpus scan, and the labels chain is
    single-reference per round (linear plan growth — no barrier
    needed at K=3; deep-iteration callers checkpoint like the BPE
    loop). Clean audit (measured at r16 staging).""",
    tags=("graph", "web", "communities", "staged-r14-wave4"),
)
def q_label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from datapipeline_spike_spark.operators.graph import (
        host_link_graph,
        label_propagation_communities,
    )

    return label_propagation_communities(
        host_link_graph(load(spark, sf_dir, "documents"))
    )


# --- vocab overlap matrix (wave 4) -------------------------------------------------


@register(
    "vocab_overlap_matrix",
    oracle=f"""
    WITH c AS (
      SELECT source, t, count(*) AS c
      FROM (SELECT source, unnest({_SQL_TOKS.format(c='text')}) AS t
            FROM documents)
      GROUP BY 1, 2
    ),
    v AS (SELECT source, t FROM
            (SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY c DESC, t ASC) AS r FROM c)
          WHERE r <= 256),
    sz AS (SELECT source, count(*) AS v FROM v GROUP BY 1),
    i AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n
          FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
          GROUP BY 1, 2)
    SELECT sa.source AS source_a, sb.source AS source_b,
           CAST(sa.v AS BIGINT) AS v_a, CAST(sb.v AS BIGINT) AS v_b,
           CAST(coalesce(i.n, 0) AS BIGINT) AS n_common,
           round(coalesce(i.n, 0) * 1.0
                 / (sa.v + sb.v - coalesce(i.n, 0)), 6) AS jaccard
    FROM sz sa CROSS JOIN sz sb
    LEFT JOIN i ON i.sa = sa.source AND i.sb = sb.source
    WHERE sa.source < sb.source
    """,
    doc="""operators/text_stats.vocab_overlap_matrix (staged r14
    wave 4, registered r17): pairwise source top-V vocabulary Jaccard
    — the shared-LANGUAGE mixture signal next to
    source_overlap_matrix's shared-DOCUMENTS signal (two sources can
    share no documents yet write in the same register; a mixture
    designer wants both axes). Per-source top-256 vocabularies via a
    PARTITIONED rank window on the vocabulary-bounded (source, token)
    grain (count desc, token asc — deterministic boundary); the
    all-pairs frame is the bounded |sources| x |sources| cross
    (BNLJ_OK, measured at r16 staging) LEFT-joined to the
    intersection counts so zero-overlap pairs stay visible. Scale
    shape: the only data-grain shuffle is the token count; everything
    after is vocabulary- or source-grain.""",
    tags=("text", "vocabulary", "mixture", "staged-r14-wave4"),
)
def q_vocab_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import (
        vocab_overlap_matrix,
    )

    return vocab_overlap_matrix(load(spark, sf_dir, "documents"))


# --- minhash band tuning (wave 4) ---------------------------------------------------


@register(
    "minhash_band_tuning",
    oracle="""
    SELECT CAST(128 AS BIGINT) AS n_hashes,
           CAST(b.bands AS BIGINT) AS bands,
           CAST(128 // b.bands AS BIGINT) AS rows_per_band,
           round(CAST(i * 0.05 AS DOUBLE), 6) AS s,
           round(1 - power(1 - power(i * 0.05, 128 // b.bands), b.bands), 6)
             AS p_candidate,
           round(power(1.0 / b.bands, 1.0 / (128 // b.bands)), 6)
             AS approx_threshold
    FROM (SELECT unnest(range(1, 129)) AS bands) b,
         (SELECT unnest(range(1, 20)) AS i)
    WHERE 128 % b.bands = 0
    """,
    doc="""operators/sketches.minhash_band_tuning (staged r14 wave 4,
    registered r17; Leskovec/Rajaraman/Ullman ch.3 S-curve analysis):
    the LSH banding design table — candidate probability
    1 - (1 - s^r)^b on a 0.05 similarity grid for EVERY (bands, rows)
    factorization of n_hashes=128, plus the (1/b)^(1/r) threshold
    approximation — the measure-don't-guess companion the registered
    MinHash operators cite when picking bands. Monotonicity and both
    degenerate-banding anchors (b=1 -> s^n, r=1 -> 1-(1-s)^n) are
    pinned by staging tests. A pure generated-grid projection (no
    input table; the callable takes sf_dir and ignores it — the
    documented precedent for analytic design tables). The grid cross
    is generator x generator (BNLJ_OK, measured at r16 staging);
    bounded rows by construction.""",
    tags=("sketch", "lsh", "design-table", "staged-r14-wave4"),
)
def q_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sketches import (
        minhash_band_tuning,
    )

    return minhash_band_tuning(spark, n_hashes=128)


# --- triangle clustering (wave 5) ---------------------------------------------------


@register(
    "triangle_clustering",
    oracle=f"""
    WITH {_SQL_PR_GRAPH},
    u AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
    deg AS (SELECT a AS host, count(*) AS degree FROM u GROUP BY 1),
    lt AS (SELECT a, b FROM u WHERE a < b),
    tri AS (
      SELECT ab.a, ab.b, bc.b AS c
      FROM lt ab JOIN lt bc ON bc.a = ab.b
      JOIN lt ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    cr AS (
      SELECT host, count(*) AS triangles FROM (
        SELECT a AS host FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY 1
    )
    SELECT deg.host, CAST(deg.degree AS BIGINT) AS degree,
           CAST(coalesce(cr.triangles, 0) AS BIGINT) AS triangles,
           CASE WHEN deg.degree >= 2 THEN
             round(2.0 * coalesce(cr.triangles, 0)
                   / (deg.degree * (deg.degree - 1)), 6)
           END AS clustering
    FROM deg LEFT JOIN cr USING (host)
    """,
    doc="""operators/graph.triangle_clustering over host_link_graph
    (staged r14 wave 5, registered r17): per-vertex triangle count +
    local clustering coefficient via the oriented a < b < c
    enumeration — each triangle found exactly once (two equi
    self-joins of the oriented edge list, NEVER a nested loop) and
    credited to all three corners; clustering = 2T / (d(d-1)), NULL
    for degree-1 vertices (staging: 4-clique = 1.0, path vertex = 0,
    leaf = NULL; direction and duplicate edges collapse). The
    link-farm-density signal completing the web-graph family
    (authority / communities / clustering). Scale shape: the oriented
    edge list halves the join inputs; both joins are keyed equi joins
    that AQE can skew-split; no windows, no Python — clean audit
    (measured at r16 staging).""",
    tags=("graph", "web", "triangles", "staged-r14-wave5"),
)
def q_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.graph import (
        host_link_graph,
        triangle_clustering,
    )

    return triangle_clustering(
        host_link_graph(load(spark, sf_dir, "documents"))
    )


# --- hybrid RRF retrieval (wave 6) --------------------------------------------------


@register(
    "hybrid_rrf_retrieval",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          FROM embeddings),
    full_r AS (
      SELECT query_id, neighbor_id, rnk AS rank
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                              neighbor_id) AS rnk
            FROM c, q WHERE neighbor_id != query_id)
      WHERE rnk <= 10
    ),
    tr AS (
      SELECT query_id, neighbor_id, rnk AS rank
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(list_cosine_similarity(
                         list_slice(qv, 1, 8), list_slice(cv, 1, 8)), 6)
                       DESC, neighbor_id) AS rnk
            FROM c, q WHERE neighbor_id != query_id)
      WHERE rnk <= 10
    ),
    u AS (SELECT * FROM full_r UNION ALL SELECT * FROM tr),
    fused AS (
      SELECT query_id, neighbor_id,
             CAST(count(*) AS BIGINT) AS n_systems,
             round(sum(1.0 / (60 + rank)), 6) AS rrf_score
      FROM u GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, n_systems, rrf_score,
           CAST(fr AS BIGINT) AS fused_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rrf_score DESC, neighbor_id) AS fr FROM fused)
    WHERE fr <= 5
    """,
    doc="""operators/similarity.hybrid_rrf_retrieval (staged r14
    wave 6, registered r17; Cormack 2009 reciprocal-rank fusion): the
    fuser hybrid retrieval stacks actually ship — per-system top-k
    lists (here the cheap 8-dim Matryoshka prefix retriever fused with
    the exact full-width path, both reusing brute_force_topk) merge by
    sum(1 / (60 + rank)), consensus-beats-single-system by
    construction (staging property: 1/61 + 1/62 > 1/61). Scale shape:
    rrf_fuse runs on BOUNDED per-system top-k frames — one unionAll,
    one keyed aggregate, one PARTITIONED rank window; the retriever
    scans broadcast the vec_id < 5 query set (house ANN-audit
    contract, two BNLJ_OK baselines measured at r16 staging); no
    shuffled joins anywhere.""",
    tags=("similarity", "ann", "rrf", "hybrid", "staged-r14-wave6"),
)
def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import (
        hybrid_rrf_retrieval,
    )

    emb = load(spark, sf_dir, "embeddings")
    return hybrid_rrf_retrieval(emb, emb.filter(F.col("vec_id") < 5))


# --- chat turn stats (wave 7) -------------------------------------------------------

_SQL_CHAT_PLANT = """
    chats AS (
      SELECT doc_id,
             array_to_string(list_transform(range(0, 2 + doc_id % 4),
               i -> CASE WHEN (i + CASE WHEN doc_id % 5 = 0 THEN 1
                                   ELSE 0 END) % 2 = 0
                         THEN 'user: ' ELSE 'assistant: ' END
                    || substr(text, 1 + i * 7, 40)), chr(10))
             || CASE WHEN doc_id % 7 = 3
                     THEN chr(10) || '### footer ad'
                     ELSE '' END AS text
      FROM documents
    )
"""


def _chat_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    turns = F.transform(
        F.sequence(F.lit(0), (F.col("doc_id") % 4 + 1).cast("int")),
        lambda i: F.concat(
            F.when(
                (
                    i
                    + F.when(F.col("doc_id") % 5 == 0, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                )
                % 2
                == 0,
                F.lit("user: "),
            ).otherwise(F.lit("assistant: ")),
            F.col("text").substr(i * 7 + 1, F.lit(40)),
        ),
    )
    return d.select(
        "doc_id",
        F.concat(
            F.array_join(turns, "\n"),
            F.when(
                F.col("doc_id") % 7 == 3, F.lit("\n### footer ad")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@register(
    "chat_turn_stats",
    oracle=f"""
    WITH {_SQL_CHAT_PLANT},
    lines AS (
      SELECT doc_id, u.pos AS pos, u.line AS line
      FROM (SELECT doc_id, unnest(list_transform(
              list_filter(list_transform(
                regexp_split_to_array(text, chr(10)), l -> trim(l)),
                l -> l != ''),
              (l, i) -> {{'pos': i - 1, 'line': l}})) AS u
            FROM chats)
    ),
    cls AS (
      SELECT doc_id, pos,
             CASE WHEN lower(line) LIKE 'user: %' THEN 'user'
                  WHEN lower(line) LIKE 'assistant: %' THEN 'assistant'
                  ELSE 'noise' END AS role,
             len(list_filter(regexp_split_to_array(lower(
                 CASE WHEN lower(line) LIKE 'user: %' THEN substr(line, 7)
                      WHEN lower(line) LIKE 'assistant: %'
                        THEN substr(line, 12)
                      ELSE line END),
                 '[^a-z0-9'']+'), t -> t != '')) AS ntok
      FROM lines
    ),
    seq AS (
      SELECT doc_id, pos, role, ntok,
             lag(role) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS tn
      FROM cls WHERE role != 'noise'
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_turns,
             CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_user,
             CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_assistant,
             bool_and(CASE WHEN tn = 1 THEN role = 'user' END)
               AS starts_with_user,
             bool_and(CASE WHEN prev IS NOT NULL THEN role != prev
                           ELSE true END) AS strict_alternation,
             max_by(role, pos) AS last_role,
             CAST(sum(ntok) AS BIGINT) AS turn_tokens,
             CAST(sum(CASE WHEN role = 'assistant' THEN ntok ELSE 0 END)
               AS BIGINT) AS assistant_tokens
      FROM seq GROUP BY 1
    ),
    noise AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_noise_lines
      FROM cls WHERE role = 'noise' GROUP BY 1
    )
    SELECT a.doc_id, n_turns, n_user, n_assistant,
           coalesce(noise.n_noise_lines, 0) AS n_noise_lines,
           starts_with_user, strict_alternation,
           last_role = 'assistant' AS ends_with_assistant,
           turn_tokens, assistant_tokens,
           CASE WHEN turn_tokens > 0
                THEN round(assistant_tokens * 1.0 / turn_tokens, 6)
           END AS assistant_token_share,
           starts_with_user AND strict_alternation
             AND last_role = 'assistant' AND n_turns >= 2
             AND turn_tokens >= 1 AS is_valid
    FROM agg a LEFT JOIN noise USING (doc_id)
    """,
    doc="""operators/sft.chat_turn_stats (staged r14 wave 7,
    registered r17): per-transcript structural validation for SFT
    corpora — the three gates a loss-masking dataloader checks before
    a dialogue enters training (starts with user, strictly alternates,
    ends with assistant) plus content-only token budgets (role
    prefixes stripped) and noise-line accounting (noise counts but
    never breaks a role pair). assistant_token_share is NULL when
    turn_tokens = 0 and is_valid requires turn_tokens >= 1 (ADVICE r14
    zero-token semantics, pinned by a staging test before this hash
    froze). Registered over transcripts assembled from documents
    (assistant-first when doc_id % 5 == 0, footer noise when
    doc_id % 7 == 3 — the plant mixes valid and invalid). Scale shape:
    one transcript-partitioned lag/row_number window + one doc-keyed
    aggregate + the noise-count merge; no Python, no cartesian —
    clean audit (measured at r16 staging).""",
    tags=("sft", "chat", "training-prep", "staged-r14-wave7"),
)
def q_chat_turn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sft import chat_turn_stats

    return chat_turn_stats(_chat_planted(spark, sf_dir))


# --- DPO pair plan (wave 7) ---------------------------------------------------------


@register(
    "dpo_pair_plan",
    oracle="""
    WITH cand AS (
      SELECT doc_id % 50 AS prompt_id, doc_id AS cand_id,
             round(((doc_id * 37) % 1000) / 1000.0, 6) AS s
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY prompt_id
                 ORDER BY s DESC, cand_id ASC) AS top,
             row_number() OVER (PARTITION BY prompt_id
                 ORDER BY s ASC, cand_id DESC) AS bot
      FROM cand
    )
    SELECT t.prompt_id, t.cand_id AS chosen_id, b.cand_id AS rejected_id,
           t.s AS chosen_score, b.s AS rejected_score,
           round(t.s - b.s, 6) AS margin
    FROM (SELECT * FROM ranked WHERE top = 1) t
    JOIN (SELECT * FROM ranked WHERE bot = 1) b
      USING (prompt_id)
    WHERE t.cand_id != b.cand_id AND round(t.s - b.s, 6) >= 0.1
    """,
    doc="""operators/sft.dpo_pair_plan (staged r14 wave 7, registered
    r17; Rafailov 2023 DPO): preference-pair construction from scored
    candidate pools — per prompt, chosen = highest-scored candidate
    (id-asc tie-break), rejected = lowest (id-desc — the OPPOSITE
    orientation, so a two-way tie picks distinct ids), pairs kept only
    when the 6dp-rounded margin clears the 0.1 floor; single-candidate
    prompts drop via the identity filter. ONE prompt-partitioned
    window pass computes BOTH extremes (row_number twice over the same
    partition — one shuffle, no candidate self-join; the extremes join
    is prompt-grain). Registered over candidates derived from
    documents (prompt doc_id % 50, score (doc_id*37 % 1000)/1000).
    Scale shape: one data-grain window shuffle + two prompt-grain
    frames; no Python, no cartesian — clean audit (measured at r16
    staging).""",
    tags=("sft", "dpo", "preference", "training-prep", "staged-r14-wave7"),
)
def q_dpo_pair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sft import dpo_pair_plan

    cand = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 50).alias("prompt_id"),
        F.col("doc_id").alias("cand_id"),
        (((F.col("doc_id") * 37) % 1000) / F.lit(1000.0)).alias("score"),
    )
    return dpo_pair_plan(cand)
