"""R18 catalog: the round-17 staged WAVE 8 operators, REGISTERED
(the r12->...->r17 staging pattern; checklist at plans/__init__.py,
r17/r18 registration sections).

These three entries were staged in round 17 and burned down against
the DuckDB oracle locally via ``tests/test_r17_staging.py`` (full
differential comparison at sf0.001 AND sf0.01: row count + schema +
order-insensitive exact values, plus planted-property checks and
physical-plan shape pins applied at staging time — 0 failures / 31
re-verified this round after the ADVICE r17 edge-case hardening).
Round 18 performs the documented mechanical move: the oracle SQL below
is the staging tests' SQL (aliases identical on both sides; the
staging module now imports it from HERE so registration and staging
can never drift), the module is imported by ``plans/__init__``, the
three names take r18 head slots, and the plan-audit allowlist entries
MEASURED at r17 staging land in tools/plan_audit.py (BNLJ_OK all
three: hits' per-half-step 1-row L1-total crosses, knn's auto-plane
1-row corpus count, min_k's 1-row smoothing totals; knn/min_k windows
PARTITIONED, hits windowless).

Registered corpora reuse the staging plants:

- ``hits_hub_authority`` runs over the deterministic skewed host
  graph (``host_link_graph``, the registered pagerank's graph —
  quadratic-probe out-links concentrate in-degree on a few hosts, so
  the hub/authority split is non-degenerate at any scale factor).
- ``knn_graph_edges`` runs over the embeddings table as-is (dim=64,
  k=5 — the auto-plane LSH bucketing keeps in-bucket candidate work
  ~n * target_bucket at any corpus size).
- ``min_k_prob_profile`` runs over documents as-is (the corpus's own
  add-one unigram LM; natural token-frequency spread gives every doc
  a real bottom-k tail).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datapipeline_spike_spark.plans.registry import load, register

# single source for the shared SQL fragments (the ADVICE r15
# divergence rule): the PR-graph WITH chain and the tokenizer SQL live
# in catalog_r16 — the registered pagerank/hits oracles must describe
# the same graph forever; the auto-plane LSH constants live in
# catalog_r9 — the registered ANN family and the kNN graph must derive
# the same plane count forever.
from datapipeline_spike_spark.plans.catalog_r16 import (  # noqa: F401
    _SQL_PR_GRAPH,
    _SQL_TOKS,
)
from datapipeline_spike_spark.plans.catalog_r9 import (  # noqa: F401
    _AUTO_MAX_PLANES,
    _AUTO_MIN_PLANES,
    _AUTO_TARGET_BUCKET,
    _SQL_BUCKET16,
)


# --- HITS hubs & authorities (wave 8) --------------------------------------------


def _sql_hits_iter(k: int) -> str:
    """h0 -> h{k}/a{k} WITH-chain layers replaying
    operators.graph.hits_hub_authority: per iteration one in-edge
    aggregate + L1 normalization (authority), then one out-edge
    aggregate + L1 normalization (hub)."""
    parts = ["h0 AS (SELECT host, 1.0 / nn.n AS h FROM b, nn)"]
    for i in range(1, k + 1):
        p = i - 1
        parts.append(
            f"ar{i} AS (SELECT e.dst AS host, sum(h.h) AS x "
            f"FROM e JOIN h{p} h ON e.src = h.host GROUP BY 1)"
        )
        parts.append(
            f"as{i} AS (SELECT coalesce(sum(x), 0) AS s FROM ar{i})"
        )
        parts.append(
            f"a{i} AS (SELECT b.host, CASE WHEN s.s > 0 "
            f"THEN coalesce(ar.x, 0) / s.s ELSE 0 END AS a "
            f"FROM b LEFT JOIN ar{i} ar USING (host), as{i} s)"
        )
        parts.append(
            f"hr{i} AS (SELECT e.src AS host, sum(a.a) AS x "
            f"FROM e JOIN a{i} a ON e.dst = a.host GROUP BY 1)"
        )
        parts.append(
            f"hs{i} AS (SELECT coalesce(sum(x), 0) AS s FROM hr{i})"
        )
        parts.append(
            f"h{i} AS (SELECT b.host, CASE WHEN s.s > 0 "
            f"THEN coalesce(hr.x, 0) / s.s ELSE 0 END AS h "
            f"FROM b LEFT JOIN hr{i} hr USING (host), hs{i} s)"
        )
    return ",\n".join(parts)


SQL_HITS = f"""
    WITH {_SQL_PR_GRAPH},
    {_sql_hits_iter(3)}
    SELECT b.host, round(h3.h, 6) AS hub, round(a3.a, 6) AS authority,
           CAST(b.outd AS BIGINT) AS out_degree,
           CAST(b.ind AS BIGINT) AS in_degree
    FROM b JOIN h3 USING (host) JOIN a3 USING (host)
"""


@register(
    "hits_hub_authority",
    oracle=SQL_HITS,
    doc="""operators/graph.hits_hub_authority over
    operators/graph.host_link_graph (staged r17 wave 8, registered
    r18; Kleinberg 1999 HITS with L1-normalized half-steps, K=3): the
    hub/authority SPLIT the registered pagerank conflates — a page
    that links to every good page (hub) vs a page every good hub
    links to (authority); crawl scheduling reads both columns next to
    pagerank. Per iteration: one in-edge keyed aggregate + 1-row L1
    total + normalize (authority), then the mirrored out-edge pass
    (hub) — the 1-row crosses ride the pagerank BNLJ_OK precedent;
    intermediate iterations are localCheckpoint-barriered (ExistingRDD
    in-plan) per the r7 exponential-plan lesson. Scores 6dp-rounded on
    both engines; the oracle's unrolled 6-layer-per-iteration WITH
    chain replays the exact half-step order. Scale shape: edges
    shuffle once per half-step on the aggregate key — one-shuffle-per-
    round like pagerank; the vertex frame is host-grain (bounded).""",
    tags=("graph", "web", "hits", "staged-r17-wave8"),
)
def q_hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.graph import (
        hits_hub_authority,
        host_link_graph,
    )

    return hits_hub_authority(host_link_graph(load(spark, sf_dir, "documents")))


# --- corpus-wide kNN graph (wave 8) ----------------------------------------------

SQL_KNN_GRAPH = f"""
    WITH np AS (
      SELECT least({_AUTO_MAX_PLANES}, greatest({_AUTO_MIN_PLANES},
             CAST(ceil(log2(count(*) / {float(_AUTO_TARGET_BUCKET)}))
                  AS INT))) AS n
      FROM embeddings
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             ({_SQL_BUCKET16}) & ((1 << n) - 1) AS bucket
      FROM embeddings, np
    ),
    scored AS (
      SELECT a.vec_id AS src_id, c.vec_id AS dst_id,
             round(list_cosine_similarity(a.ev, c.ev), 6) AS cos_sim
      FROM v a JOIN v c USING (bucket)
      WHERE a.vec_id != c.vec_id
    ),
    edges AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                     ORDER BY cos_sim DESC, dst_id) AS rank FROM scored)
      WHERE rank <= 5
    )
    SELECT e.src_id, e.dst_id, e.cos_sim, CAST(e.rank AS INT) AS rank,
           (r.src_id IS NOT NULL) AS is_mutual
    FROM edges e LEFT JOIN edges r
      ON r.src_id = e.dst_id AND r.dst_id = e.src_id
"""


@register(
    "knn_graph_edges",
    oracle=SQL_KNN_GRAPH,
    doc="""operators/similarity.knn_graph_edges over embeddings
    (staged r17 wave 8, registered r18; Dong 2011 NN-Descent / Abbas
    2023 SemDeDup substrate): EVERY corpus vector's k=5 most-similar
    same-LSH-bucket candidates by 6dp cosine with id tie-break, plus
    is_mutual (whether the reverse edge made the neighbor's own top-k
    — the edge set graph clustering actually keeps; one-directional
    edges are the hubness symptom). Scale shape: auto-plane sign-LSH
    bucket equi-join (expected bucket ~64 rows at any corpus size, so
    in-bucket work stays ~n*64, never n²); norms precomputed at ROW
    grain (the r10 3x lesson); the rank window is PARTITIONED by
    src_id (WindowGroupLimit bounds the shuffle to k rows per src);
    mutuality is ONE self-equi-join of the persisted k*n edge frame on
    the reversed key. The 1-row corpus-count cross rides the
    hard_negative_pairs BNLJ_OK precedent.""",
    tags=("similarity", "ann", "graph", "staged-r17-wave8"),
)
def q_knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import knn_graph_edges

    return knn_graph_edges(load(spark, sf_dir, "embeddings"), dim=64, k=5)


# --- Min-K% Prob membership signal (wave 8) --------------------------------------

SQL_MIN_K = f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS.format(c='text')} AS toks
               FROM documents),
    ex AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok
      FROM (SELECT doc_id, unnest(list_transform(toks,
              (x, i) -> {{'pos': i - 1, 'tok': x}})) AS u FROM t)
    ),
    vocab AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1),
    tot AS (SELECT sum(c) AS total, count(*) AS v FROM vocab),
    scored AS (
      SELECT ex.doc_id, ex.pos, ex.tok, vocab.c,
             ln((vocab.c + 1.0) / (tot.total + tot.v)) AS lp
      FROM ex JOIN vocab USING (tok) CROSS JOIN tot
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY c ASC, tok ASC, pos ASC) AS rnk,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM scored
    ),
    kk AS (SELECT *, greatest(1, CAST(ceil(0.2 * n) AS INT)) AS k
           FROM ranked)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(max(k) AS BIGINT) AS k_tokens,
           round(avg(lp), 6) AS avg_logprob,
           round(sum(CASE WHEN rnk <= k THEN lp END) / max(k), 6)
             AS min_k_avg_logprob
    FROM kk GROUP BY 1
"""


@register(
    "min_k_prob_profile",
    oracle=SQL_MIN_K,
    doc="""operators/text_stats.min_k_prob_profile over documents
    (staged r17 wave 8, registered r18; Shi 2023 Min-K% Prob): per
    document, the mean logprob of its 20% lowest-probability tokens
    under the corpus's own add-one unigram LM — the tail-vs-mean gap
    curation reads for membership/contamination triage (thin tail =
    near-duplicate-of-corpus, heavy tail = template/spam). Determinism
    contract: the bottom-k SET ranks on INTEGER (count, token,
    position) — logprob is monotone in count, so no float enters the
    ORDER BY; k = greatest(1, ceil(0.2 * n)) with the same double
    multiply both engines; logprobs 6dp. Scale shape: one
    tokenize+posexplode pass, vocabulary-bounded count shuffle,
    hint-free token->count probe join, document-PARTITIONED windows;
    the 1-row smoothing-totals cross rides the unigram_logprob_score
    BNLJ_OK precedent.""",
    tags=("text", "contamination", "membership", "staged-r17-wave8"),
)
def q_min_k_prob_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import min_k_prob_profile

    return min_k_prob_profile(load(spark, sf_dir, "documents"))
