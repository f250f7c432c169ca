"""R16 catalog: the round-14 staged WAVE-2 operators, REGISTERED (the
r12->r13->r14->r15 staging pattern; checklist at plans/__init__.py,
r16 registration section).

These six entries were staged in round 14 (wave 2) and burned down
against the DuckDB oracle locally via
``tests/test_r14_staging_wave2.py`` (full differential comparison at
sf0.001 AND sf0.01: row count + schema +
order-insensitive exact values, plus planted-property checks and
physical-plan shape pins applied at staging time). Round 16 performs
the documented mechanical move: the oracle SQL below is the staging
tests' SQL (aliases identical on both sides), the module is imported
by ``plans/__init__``, the six names take r16 head slots, and the
pre-measured plan-audit allowlist entries land in tools/plan_audit.py
(BNLJ_OK for pagerank_host_authority's 1-row count/dangling crosses
and matryoshka_recall_at_k's broadcast query-set baseline, PANDAS_OK
for audio_vad_segments' mapInPandas decode, WINDOW_OK for
curriculum_phase_plan's plan-grain schedule window).

Registered corpora reuse the staging plants so every operator has
planted positives to find at any scale factor:

- ``pagerank_host_authority`` runs over the deterministic skewed host
  graph (``host_link_graph``: host doc_id % 64, three quadratic-probe
  out-links per doc — host^2 + 13j + 1 mod 64 concentrates in-degree
  on a few hosts, the authority signal).
- ``code_detect_profile`` plants one of three code snippets
  (python/js/c by doc_id % 3) on every doc_id % 7 == 2 page — NOT
  % 9, which is 0 mod 3 and would starve two families.
- ``license_detect_profile`` plants an SPDX header (license by
  doc_id % 5) on every doc_id % 11 in (1, 4, 8) page.
- ``matryoshka_recall_at_k`` audits truncation widths (8, 16) for the
  vec_id < 5 query set against the full-width exact top-5.
- ``audio_vad_segments`` runs over gated WAVs (silence gate
  (doc_id*13 + block*7) % 3 == 0 scales the waveform into the
  sub-threshold band) — every clip has real speech/silence islands.
- ``curriculum_phase_plan`` runs over documents as-is (difficulty =
  mean token length; no plant needed — the corpus has natural spread).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load, register


# the engine's tokenizer (functions/text.tokens) in DuckDB terms:
# lowercase, split on non-[a-z0-9'], drop empties (shared constant with
# catalog_r15; redefined so this module reads standalone)
_SQL_TOKS = (
    "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9'']+'),"
    " t -> t != '')"
)


# --- pagerank host authority ----------------------------------------------------

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


# --- code detection profile -----------------------------------------------------

_SNIPPET_PY = (
    "def load(x): y = (x + 1) ; z = {\"k\": [1, 2]} ; return (y, z) ; "
    "import os ; class App(object): pass ; lambda q: (q * 2) >= 0"
)
_SNIPPET_JS = (
    "function go(a) { var b = (a + 1); const c = { k: 1 }; "
    "let d = [2]; return b + c.k + d[0]; } "
    "function stop() { var e = 0; }"
)
_SNIPPET_C = (
    "#include <stdio.h> int main(void) { int x = (1 + 2); "
    "printf(\"%d\", x); return (x == 3); }"
)

_SQL_CODE_PLANT = f"""
    planted AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 2 THEN text || ' ' ||
                  CASE doc_id % 3
                    WHEN 0 THEN '{_SNIPPET_PY}'
                    WHEN 1 THEN '{_SNIPPET_JS}'
                    ELSE '{_SNIPPET_C}' END
                  ELSE text END AS text
      FROM documents
    )
"""


def _code_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 2,
            F.concat(
                "text",
                F.lit(" "),
                F.when(F.col("doc_id") % 3 == 0, F.lit(_SNIPPET_PY))
                .when(F.col("doc_id") % 3 == 1, F.lit(_SNIPPET_JS))
                .otherwise(F.lit(_SNIPPET_C)),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


@register(
    "code_detect_profile",
    oracle=f"""
    WITH {_SQL_CODE_PLANT},
    per_doc AS (
      SELECT source,
             length(text) AS nc,
             length(text) - length(translate(text, '{{}};=<>#()', '')) AS sym,
             len(regexp_extract_all(lower(text),
                 '\\b(def|import|class|lambda|elif)\\b')) AS kpy,
             len(regexp_extract_all(lower(text),
                 '\\b(function|var|const|let)\\b')) AS kjs,
             len(regexp_extract_all(lower(text),
                 '(#include|\\bprintf\\b|\\bvoid\\b|\\bint main\\b)')) AS kc
      FROM planted
    ),
    fam AS (
      SELECT source, nc, sym,
             CASE WHEN kpy >= kjs AND kpy >= kc AND kpy >= 2 THEN 'python'
                  WHEN kjs >= kc AND kjs >= 2 THEN 'js'
                  WHEN kc >= 2 THEN 'c'
                  ELSE 'none' END AS family,
             kpy + kjs + kc AS kw
      FROM per_doc WHERE nc > 0
    )
    SELECT source, family,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN family != 'none' AND sym * 50 > nc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
           round(avg(sym * 1.0 / nc), 6) AS mean_symbol_ratio,
           CAST(sum(kw) AS BIGINT) AS total_kw_hits
    FROM fam GROUP BY 1, 2
    """,
    doc="""operators/detectors.code_detect_profile (staged r14 wave 2,
    registered r16): per-(source, language family) code-detection
    rollup — the first split a mixed web corpus makes (The Stack /
    StarCoder lineage: code routes to a code-specific cleaning stack,
    prose to the CCNet stack). Family = keyword-battery argmax with a
    fixed py > js > c tie priority and a >= 2 keyword floor; is_code
    additionally requires symbol density > 2% via the integer
    cross-multiply sym * 50 > n_chars (no float comparison anywhere).
    MAP-ONLY regex/translate battery over built-in JVM expressions to
    a (source x family)-grain rollup — at 100 TB it runs at scan speed
    with only the tiny rollup shuffling (plan pin: no joins, no
    windows, no Python — tests/test_r14_staging_wave2.py). Registered
    over the snippet plant (doc_id % 7 == 2, family doc_id % 3).""",
    tags=("text", "code", "routing", "staged-r14-wave2"),
)
def q_code_detect_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.detectors import (
        code_detect_profile,
    )

    return code_detect_profile(_code_planted(spark, sf_dir))


# --- license detection profile --------------------------------------------------

_SQL_LIC_PLANT = """
    planted AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 11 IN (1, 4, 8)
                  THEN 'spdx-license-identifier: ' ||
                       CASE doc_id % 5
                         WHEN 0 THEN 'mit'
                         WHEN 1 THEN 'apache-2.0'
                         WHEN 2 THEN 'gpl-3.0-only'
                         WHEN 3 THEN 'bsd-3-clause'
                         ELSE 'cc-by-4.0' END || ' | ' || text
                  ELSE text END AS text
      FROM documents
    )
"""


def _lic_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    lic = F.element_at(
        F.array(
            F.lit("mit"),
            F.lit("apache-2.0"),
            F.lit("gpl-3.0-only"),
            F.lit("bsd-3-clause"),
            F.lit("cc-by-4.0"),
        ),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    return d.select(
        "doc_id",
        "source",
        F.when(
            (F.col("doc_id") % 11).isin(1, 4, 8),
            F.concat(
                F.lit("spdx-license-identifier: "),
                lic,
                F.lit(" | "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


@register(
    "license_detect_profile",
    oracle=f"""
    WITH {_SQL_LIC_PLANT},
    det AS (
      SELECT source,
             CASE
               WHEN regexp_matches(lower(text),
                    'gpl-3\\.0|gnu general public license') THEN 'gpl-3.0'
               WHEN regexp_matches(lower(text),
                    'apache-2\\.0|apache license') THEN 'apache-2.0'
               WHEN regexp_matches(lower(text),
                    'bsd-3-clause|bsd license') THEN 'bsd-3-clause'
               WHEN regexp_matches(lower(text),
                    'cc-by-4\\.0|creative commons') THEN 'cc-by-4.0'
               WHEN regexp_matches(lower(text), '\\bmit\\b') THEN 'mit'
               ELSE 'none' END AS license
      FROM planted
    ),
    lab AS (
      SELECT source, license,
             license IN ('apache-2.0', 'bsd-3-clause', 'cc-by-4.0', 'mit')
               AS perm
      FROM det
    ),
    per_src AS (SELECT source, count(*) AS sd FROM lab GROUP BY 1)
    SELECT l.source, l.license,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN perm THEN 1 ELSE 0 END) AS BIGINT)
             AS n_permissive,
           round(count(*) * 1.0 / any_value(sd), 6) AS source_share
    FROM lab l JOIN per_src USING (source)
    GROUP BY 1, 2
    """,
    doc="""operators/detectors.license_detect_profile (staged r14
    wave 2, registered r16): per-(source, license) detection rollup —
    the compliance gate a code corpus runs before admission
    (permissive-only filtering). Priority-ordered battery with
    copyleft FIRST so dual-mention texts classify conservatively
    (gpl-3.0 > apache-2.0 > bsd-3-clause > cc-by-4.0 > mit); the mit
    pattern is \\b-anchored so 'submit'/'limit' never fire (planted
    boundary test). Map-only detection + ONE broadcast per-source
    total join for source_share — plan pin: BroadcastHashJoin only,
    no windows, no Python. Registered over the SPDX plant
    (doc_id % 11 in (1, 4, 8), license doc_id % 5).""",
    tags=("text", "license", "compliance", "staged-r14-wave2"),
)
def q_license_detect_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.detectors import (
        license_detect_profile,
    )

    return license_detect_profile(_lic_planted(spark, sf_dir))


# --- matryoshka truncation recall ------------------------------------------------


@register(
    "matryoshka_recall_at_k",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          FROM embeddings),
    bf AS (
      SELECT query_id, neighbor_id
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                              neighbor_id) AS rnk
            FROM c, q WHERE neighbor_id != query_id)
      WHERE rnk <= 5
    ),
    ms AS (SELECT CAST(unnest([8, 16]) AS INTEGER) AS m),
    tr AS (
      SELECT m, query_id, neighbor_id
      FROM (SELECT ms.m, query_id, neighbor_id,
                   row_number() OVER (PARTITION BY ms.m, query_id
                     ORDER BY round(list_cosine_similarity(
                         list_slice(qv, 1, ms.m),
                         list_slice(cv, 1, ms.m)), 6) DESC,
                              neighbor_id) AS rnk
            FROM c, q, ms WHERE neighbor_id != query_id)
      WHERE rnk <= 5
    )
    SELECT ms.m AS m_dims, bf.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS recall_at_k
    FROM bf CROSS JOIN ms
    LEFT JOIN tr ON tr.m = ms.m AND tr.query_id = bf.query_id
                AND tr.neighbor_id = bf.neighbor_id
    GROUP BY 1, 2
    """,
    doc="""operators/similarity.matryoshka_recall (staged r14 wave 2,
    registered r16; Kusupati 2022 MRL): recall@5 of exact cosine
    search over PREFIX-truncated embeddings (widths 8 and 16) vs the
    full-width exact top-5 — the truncated-index-tier audit, the
    dimension-axis sibling of ann_recall_at_k. Truncation is a JVM
    slice() (no UDF); both sides reuse brute_force_topk's
    rounded-score + id tie-break ranking. Scale shape: the vec_id < 5
    query set is the bounded broadcast side on every corpus scan
    (house ANN-audit contract, BNLJ_OK); the full-width top-k frame is
    LAZY-localCheckpointed (k x |queries| rows) and serves every
    per-width branch; the recall join is top-k x top-k. Plan pin: no
    SortMergeJoin, no cartesian, partitioned windows only.""",
    tags=("similarity", "ann", "matryoshka", "staged-r14-wave2"),
)
def q_matryoshka_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import (
        matryoshka_recall,
    )

    emb = load(spark, sf_dir, "embeddings")
    return matryoshka_recall(
        emb, emb.filter(F.col("vec_id") < 5), k=5, dims=(8, 16)
    )


# --- audio VAD segments ---------------------------------------------------------


@register(
    "audio_vad_segments",
    oracle="""
    WITH xs AS (
      SELECT doc_id, i, i // 8 AS b,
             CASE WHEN (doc_id * 13 + (i // 8) * 7) % 3 != 0
                  THEN ((doc_id * 31 + i * 17) % 4001) - 2000
                  ELSE ((doc_id * 31 + i * 17) % 64) - 32 END AS x
      FROM (SELECT doc_id, unnest(range(0, 64 + (doc_id % 8) * 8)) AS i
            FROM documents)
    ),
    fe AS (SELECT doc_id, b, sum(x * x) AS energy FROM xs GROUP BY 1, 2),
    act AS (
      SELECT doc_id, b, energy,
             b - row_number() OVER (PARTITION BY doc_id ORDER BY b) AS grp
      FROM fe WHERE energy > 16384
    )
    SELECT doc_id AS media_id,
           CAST(min(b) AS BIGINT) AS seg_start_frame,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(energy) AS BIGINT) AS total_energy,
           round(sum(energy) * 1.0 / count(*), 6) AS mean_energy
    FROM act GROUP BY doc_id, grp
    """,
    doc="""sources/multimodal.audio_vad_segments over
    vad_media_from_documents (staged r14 wave 2, registered r16):
    energy-threshold voice-activity detection — synthesized gated WAV,
    REAL RIFF decode (chunk walk -> int16 PCM -> exact integer 8-sample
    frame energies), then gaps-and-islands segmentation (activity runs
    via the row_number offset trick) and per-segment rollup. This is
    the pre-transcription segmentation pass an audio corpus pipeline
    runs before ASR — process speech islands, skip silence. The oracle
    replays the FULL decode from the generative waveform formula
    (never the container); truncated/corrupt payloads contribute no
    rows (planted test). Scale shape: the decode is the single Arrow
    stage (mapInPandas, PANDAS_OK — audio_pcm_features precedent); the
    islands window is PARTITIONED by clip; no joins anywhere.""",
    tags=("multimodal", "audio", "vad", "pandas", "staged-r14-wave2"),
)
def q_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.sources.multimodal import (
        audio_vad_segments,
        vad_media_from_documents,
    )

    return audio_vad_segments(
        vad_media_from_documents(load(spark, sf_dir, "documents"))
    )


# --- curriculum phase plan ------------------------------------------------------


@register(
    "curriculum_phase_plan",
    oracle=f"""
    WITH t AS (SELECT source, doc_id,
                      {_SQL_TOKS.format(c="text")} AS toks FROM documents),
    s AS (SELECT source, doc_id, len(toks) AS nt,
                 list_sum(list_transform(toks, x -> length(x))) AS sumlen
          FROM t WHERE len(toks) > 0),
    d AS (SELECT source, doc_id, nt,
                 round(sumlen * 1.0 / nt, 6) AS diff FROM s),
    p AS (SELECT *, ntile(4) OVER (PARTITION BY source
                  ORDER BY diff ASC, doc_id ASC) AS phase FROM d),
    plan AS (
      SELECT source, phase,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS token_budget,
             round(avg(diff), 6) AS mean_difficulty
      FROM p GROUP BY 1, 2
    )
    SELECT source, CAST(phase AS BIGINT) AS phase, n_docs, token_budget,
           mean_difficulty,
           CAST(row_number() OVER (ORDER BY phase, source) AS BIGINT)
             AS schedule_pos
    FROM plan
    """,
    doc="""operators/curation.curriculum_phase_plan (staged r14 wave 2,
    registered r16; Bengio 2009 curriculum learning applied to LM data
    ordering): split each source's documents into 4 difficulty phases
    (difficulty = mean token length, 6dp from an exact integer sum
    over the house tokenizer) and emit the per-(source, phase) plan —
    n_docs, exact token budgets, mean difficulty, and a deterministic
    phase-major global schedule_pos. The ntile window is PARTITIONED
    BY SOURCE with a fully-tie-broken ORDER BY (difficulty asc, doc_id
    asc) — deterministic and engine-portable (both engines give the
    first n % k tiles one extra row); no global data-grain sort at any
    scale. The final interleave window orders the (sources x phases)
    plan grain AFTER the aggregate — bounded by construction
    (WINDOW_OK; plan pin proves it sits above the HashAggregate).""",
    tags=("curation", "curriculum", "sampling", "staged-r14-wave2"),
)
def q_curriculum_phase_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.curation import (
        curriculum_phase_plan,
    )

    return curriculum_phase_plan(load(spark, sf_dir, "documents"))
