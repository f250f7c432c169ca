"""Web-graph queries over the deterministic host link graph
(``operators/graph.host_link_graph``: host = doc_id % 64, three
quadratic-probe out-links per document, which concentrate in-degree on a
few hosts): PageRank authority, crawl-frontier priority, inbound anchor
text, label-propagation communities, triangle clustering, HITS hubs and
authorities, and k-core membership. Every graph oracle unrolls its
iterations over the one ``_SQL_PR_GRAPH`` WITH chain below, so all of
them describe the same graph the engine builds."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datapipeline_spike_spark.plans.registry import SQL_TOKS, load, register


# --- pagerank host authority -------------------------------------------------

# the deterministic host link graph (operators/graph.host_link_graph)
# in DuckDB terms: host = doc_id % 64, three out-links per doc via the
# quadratic probe (host^2 + 13j + 1) % 64, self-loops dropped, DISTINCT
# edges (the graph is a set, not a multiset)
_SQL_PR_GRAPH = """
    e AS (
      SELECT DISTINCT doc_id % 64 AS src,
             ((doc_id % 64) * (doc_id % 64) + j * 13 + 1) % 64 AS dst
      FROM documents, (SELECT unnest(range(0, 3)) AS j)
      WHERE doc_id % 64
            != ((doc_id % 64) * (doc_id % 64) + j * 13 + 1) % 64
    ),
    v AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
    od AS (SELECT src AS host, count(*) AS outd FROM e GROUP BY 1),
    ig AS (SELECT dst AS host, count(*) AS ind FROM e GROUP BY 1),
    b AS (SELECT v.host, coalesce(od.outd, 0) AS outd,
                 coalesce(ig.ind, 0) AS ind
          FROM v LEFT JOIN od USING (host) LEFT JOIN ig USING (host)),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM b)
"""


def _sql_pr_iter(k: int) -> str:
    """r0 -> r{k} WITH-chain layers replaying operators.graph.pagerank:
    per iteration one dangling 1-row aggregate, one contribution
    aggregate over in-edges, one damped update."""
    parts = ["r0 AS (SELECT host, outd, 1.0 / nn.n AS rank FROM b, nn)"]
    for i in range(1, k + 1):
        p = i - 1
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(rank), 0) AS dang FROM r{p} "
            f"WHERE outd = 0)"
        )
        parts.append(
            f"c{i} AS (SELECT e.dst AS host, sum(r.rank / r.outd) AS m "
            f"FROM e JOIN r{p} r ON e.src = r.host GROUP BY 1)"
        )
        parts.append(
            f"r{i} AS (SELECT b.host, b.outd, "
            f"(1 - 0.85) / nn.n + 0.85 * coalesce(c{i}.m, 0) "
            f"+ 0.85 * d{i}.dang / nn.n AS rank "
            f"FROM b LEFT JOIN c{i} USING (host), nn, d{i})"
        )
    return ",\n".join(parts)


@register(
    "pagerank_host_authority",
    oracle=f"""
    WITH {_SQL_PR_GRAPH},
    {_sql_pr_iter(3)}
    SELECT b.host, round(r3.rank, 6) AS pagerank,
           CAST(b.outd AS BIGINT) AS out_degree,
           CAST(b.ind AS BIGINT) AS in_degree
    FROM b JOIN r3 USING (host)
    """,
    doc="""operators/graph.pagerank over operators/graph.host_link_graph
    (staged r14 wave 2, registered r16; Page 1999 / the GraphX damped
    power iteration with dangling-mass redistribution): K=3 iterations
    at damping 0.85 over the deterministic skewed host graph. Per
    iteration: ONE keyed join (contributions over in-edges, rank/outd
    grouped by dst) + two 1-row broadcast crosses (vertex count N,
    dangling mass) — BNLJ_OK, measured at registration. Mass is
    conserved (the literal-graph staging test proves the dangling
    path against a pure-Python power iteration); ranks 6dp-rounded on
    both engines so the oracle's unrolled 3-layer WITH chain matches
    bit-for-bit. Scale shape: edges shuffle once per iteration on dst
    — the canonical one-shuffle-per-round PageRank; the vertex frame
    is host-grain (bounded) and broadcastable at any corpus size.""",
    tags=("graph", "web", "pagerank", "staged-r14-wave2"),
)
def q_pagerank_host_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.graph import (
        host_link_graph,
        pagerank,
    )

    return pagerank(host_link_graph(load(spark, sf_dir, "documents")))


# --- crawl frontier priority -------------------------------------------------


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


# --- anchor text stats -------------------------------------------------------

# link anchors come from the documents' own tokens
# (toks[(doc_id + j) % n_tokens])


@register(
    "anchor_text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks
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


# --- label propagation communities -------------------------------------------


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


# --- triangle clustering -----------------------------------------------------


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


# --- HITS hubs & authorities -------------------------------------------------

# the registered pagerank's graph: its quadratic-probe out-links
# concentrate in-degree on a few hosts, so the hub/authority split is
# non-degenerate at any scale factor


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


# --- k-core membership -------------------------------------------------------


def _sql_kcore_iter(k: int, rounds: int) -> str:
    """s0 -> s{rounds} peel layers replaying
    operators.graph.kcore_membership: s_i = vertices of s_{i-1} with
    >= k neighbors inside s_{i-1} (induced degree). The differential
    asserting engine == s{rounds} PROVES the peel converges within
    `rounds` on the tested corpus (the engine iterates to a stable
    fixpoint; a corpus needing more rounds fails the equality
    loudly)."""
    parts = [
        """u AS (SELECT src AS a, dst AS b FROM e
                 UNION SELECT dst, src FROM e),
           d0 AS (SELECT a, count(*) AS deg FROM u GROUP BY 1)""",
        f"s0 AS (SELECT a AS host FROM d0 WHERE deg >= {k})",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""s{i} AS (SELECT u.a AS host FROM u
                 JOIN s{p} x ON u.a = x.host
                 JOIN s{p} y ON u.b = y.host
                 GROUP BY 1 HAVING count(*) >= {k})"""
        )
    return ",\n".join(parts)


SQL_KCORE = f"""
    WITH {_SQL_PR_GRAPH},
    {_sql_kcore_iter(4, 8)}
    SELECT d0.a AS host, CAST(d0.deg AS BIGINT) AS degree,
           (s8.host IS NOT NULL) AS in_kcore
    FROM d0 LEFT JOIN s8 ON d0.a = s8.host
"""


@register(
    "kcore_membership",
    oracle=SQL_KCORE,
    doc="""operators/graph.kcore_membership at k=4 over
    operators/graph.host_link_graph (staged r17 wave 9, registered
    r19; Seidman 1983 k-core via Batagelj-Zaversnik peeling as Spark
    rounds): the maximal subgraph where every vertex keeps induced
    degree >= k — the core-vs-periphery split web-graph curation
    reads next to pagerank/HITS/LPA (raw-degree spam peels out; dense
    link farms and true hub clusters survive). k=4 is the registered
    grain because it splits the deterministic host graph 21/64 with
    fixpoint in 4 rounds (k=3 keeps all 64 — degenerate); the
    oracle's 8-round unrolled WITH chain PROVES convergence within
    the unroll. Integer-only arithmetic. Scale shape: per round two
    vertex-grain semi-joins (AQE-broadcastable build sides) + one
    keyed degree aggregate; survivor frames are eager-localCheckpoint
    barriered (ITERATIVE lineage — the r7 exponential-plan lesson)
    and convergence is a documented 1-row driver-side count per round
    (the connected-components precedent). Audit: clean — no BNLJ, no
    windows, no Python.""",
    tags=("graph", "web", "kcore", "staged-r17-wave9"),
)
def q_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.graph import (
        host_link_graph,
        kcore_membership,
    )

    return kcore_membership(host_link_graph(load(spark, sf_dir, "documents")), k=4)
