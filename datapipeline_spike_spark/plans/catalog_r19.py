"""R19 catalog: the round-17 staged WAVE 9 operators, REGISTERED
(the r12->...->r18 staging pattern; checklist at plans/__init__.py,
r18/r19 registration sections).

These three entries were staged in round 17 and burned down against
the DuckDB oracle locally via ``tests/test_r17_staging.py`` (full
differential comparison at sf0.001 AND sf0.01: row count + schema +
order-insensitive exact values, plus planted-property checks and
physical-plan shape pins applied at staging time). Wave 9's
tie-break/NULL-guard hardening landed BEFORE this hash freeze, per the
rule: the ADVICE r17 string-id fix in r18 and the ADVICE r18
NULL-score -inf coalesce in r19 itself (tests/test_r17_staging.py::
test_best_of_n_null_scores_never_win). Round 19 performs the
documented mechanical move: the oracle SQL below is the staging tests'
SQL (aliases identical on both sides; the staging module now imports
it from HERE so registration and staging can never drift), the module
is imported by ``plans/__init__``, the three names take r19 head
slots, and the plan-audit notes MEASURED at r17 staging land: kcore is
allowlist-CLEAN (ExistingRDD peel barriers + documented driver-side
1-row convergence counts — no BNLJ, no windows, no Python); diversity
and best-of-n are pure keyed aggregates (clean).

Registered corpora reuse the staging plants:

- ``kcore_membership`` runs at k=4 on the deterministic skewed host
  graph (``host_link_graph``, the registered pagerank/HITS graph) —
  k=3 keeps all 64 hosts (degenerate), k=4 splits the graph 21/64
  with the peel reaching fixpoint in 4 rounds (measured); the oracle
  unrolls 8 rounds and the differential equality PROVES convergence
  within the unroll.
- ``distinct_ngram_diversity`` runs over documents grouped by source
  (the corpus's own license/provenance grain — the mixture report
  row).
- ``best_of_n_selection`` runs over a deterministic candidate pool
  derived from documents (doc_id % 50 prompts x ~10 candidates, the
  affine-mod score spread) — the same derivation on both engines, so
  the argmax/gap/stddev columns hash-check exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load, register

# single source for the shared SQL fragments (the ADVICE r15
# divergence rule): the PR-graph WITH chain and the tokenizer SQL live
# in catalog_r16 — the registered pagerank/hits/kcore oracles must
# describe the same graph forever, and the diversity oracle must
# tokenize exactly like every other registered text oracle.
from datapipeline_spike_spark.plans.catalog_r16 import (  # noqa: F401
    _SQL_PR_GRAPH,
    _SQL_TOKS,
)


# --- k-core membership (wave 9) --------------------------------------------------


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


# --- distinct-n lexical diversity (wave 9) ---------------------------------------

SQL_DIVERSITY = f"""
    WITH t AS (SELECT source, {_SQL_TOKS.format(c='text')} AS toks
               FROM documents),
    us AS (
      SELECT source, CAST(count(*) AS BIGINT) AS total_unigrams,
             CAST(count(DISTINCT g) AS BIGINT) AS distinct_unigrams
      FROM (SELECT source, unnest(toks) AS g FROM t) GROUP BY 1
    ),
    bis AS (
      SELECT source, CAST(count(*) AS BIGINT) AS total_bigrams,
             CAST(count(DISTINCT g) AS BIGINT) AS distinct_bigrams
      FROM (SELECT source,
                   unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])) AS g
            FROM t) GROUP BY 1
    ),
    nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1)
    SELECT nd.source, nd.n_docs,
           coalesce(us.total_unigrams, 0) AS total_unigrams,
           coalesce(us.distinct_unigrams, 0) AS distinct_unigrams,
           round(CASE WHEN coalesce(us.total_unigrams, 0) > 0
                 THEN coalesce(us.distinct_unigrams, 0) * 1.0
                      / us.total_unigrams END, 6) AS distinct_1,
           coalesce(bis.total_bigrams, 0) AS total_bigrams,
           coalesce(bis.distinct_bigrams, 0) AS distinct_bigrams,
           round(CASE WHEN coalesce(bis.total_bigrams, 0) > 0
                 THEN coalesce(bis.distinct_bigrams, 0) * 1.0
                      / bis.total_bigrams END, 6) AS distinct_2
    FROM nd LEFT JOIN us USING (source) LEFT JOIN bis USING (source)
"""


@register(
    "distinct_ngram_diversity",
    oracle=SQL_DIVERSITY,
    doc="""operators/text_stats.distinct_ngram_diversity over
    documents by source (staged r17 wave 9, registered r19; Li 2016
    distinct-1/distinct-2): distinct unigram/bigram types over total
    occurrences per source — the standard mode-collapse detector for
    SYNTHETIC corpora (a generated source that loops stock phrases
    shows normal unigram stats but collapsed distinct-2); read next
    to the Zipf profile (natural-text prior) and the per-doc
    repetition profile, this is the CORPUS-grain counterpart. Exact
    integer counts both engines; the two ratios are the only floats
    (6dp); empty/mono-token sources emit NULL ratios, never NaN
    (ADVICE r17 guard). Scale shape (re-shaped single-pass at this
    registration, pre-freeze): ONE tokenize+explode pass emits
    grain-tagged grams, ONE two-level aggregate — (source, grain,
    gram) counts then conditional source-grain sums — so the text is
    scanned and tokenized exactly once (the staged two-aggregate form
    re-tokenized per grain, 2x the dominant cost); no window, no join
    wider than the bounded source-grain assembly. Audit: clean.""",
    tags=("text", "diversity", "synthetic-data", "staged-r17-wave9"),
)
def q_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import (
        distinct_ngram_diversity,
    )

    return distinct_ngram_diversity(load(spark, sf_dir, "documents"))


# --- best-of-n (rejection sampling) selection (wave 9) ---------------------------

SQL_BEST_OF_N = """
    WITH cand AS (
      SELECT doc_id % 50 AS prompt_id, doc_id AS cand_id,
             round(((doc_id * 37) % 1000) / 1000.0, 6) AS s
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY prompt_id
                 ORDER BY s DESC, cand_id ASC) AS rn FROM cand
    ),
    agg AS (
      SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_candidates,
             max(s) AS best_score, round(avg(s), 6) AS mean_score,
             round(coalesce(stddev_pop(s), 0), 6) AS std_score
      FROM cand GROUP BY 1
    )
    SELECT a.prompt_id, a.n_candidates, r.cand_id AS best_id,
           a.best_score, a.mean_score, a.std_score,
           round(a.best_score - a.mean_score, 6) AS selection_gap
    FROM agg a JOIN ranked r ON r.prompt_id = a.prompt_id AND r.rn = 1
"""


@register(
    "best_of_n_selection",
    oracle=SQL_BEST_OF_N,
    doc="""operators/sft.best_of_n_selection over a deterministic
    candidate pool derived from documents (staged r17 wave 9,
    registered r19; the WebGPT / Llama-2 rejection-sampling data-prep
    step): per prompt, the reward argmax candidate plus the pool
    stats the sampling report publishes (count, best/mean/stddev_pop,
    selection gap = best - mean, the draw-more-candidates signal).
    The DPO sibling keeps extreme PAIRS; this keeps only the winner —
    the SFT-on-best construction; singletons are KEPT (gap 0, std 0).
    Determinism: argmax = min_by over (negated 6dp score coalesced to
    -inf on NULL, cand_id) — highest score, smallest id on ties, and
    a NULL-score candidate can never win (ADVICE r18); matches the
    oracle's NULLS-LAST row_number exactly. Scale shape: ONE
    prompt-keyed aggregate — no window, no join, no Python; map-side
    partial aggregation makes it a single shuffle of prompt-grain
    rows. Audit: clean.""",
    tags=("sft", "rlhf", "rejection-sampling", "staged-r17-wave9"),
)
def q_best_of_n_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sft import best_of_n_selection

    cand = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 50).alias("prompt_id"),
        F.col("doc_id").alias("cand_id"),
        (((F.col("doc_id") * 37) % 1000) / F.lit(1000.0)).alias("score"),
    )
    return best_of_n_selection(cand)
