"""R11 catalog: the round-10 staged corpus-statistics / curation
operators, REGISTERED (the r8->r9 staging precedent).

These six entries were staged in round 10 under the rotation contract
(the r10 head was exactly full) and burned down against the DuckDB
oracle locally via ``tests/test_r10_staging.py`` (full differential
comparison at sf0.001: row count + schema + order-insensitive exact
values, plus planted-property checks). Round 11 performs the documented
mechanical move (plans/__init__.py:101-112's checklist): the oracle SQL
below is the staging tests' SQL verbatim (aliases identical on both
sides), the module is imported by ``plans/__init__``, the six names take
r11 head slots, ``zipf_profile`` gets its promised plan-audit WINDOW_OK
entry (the unpartitioned rank window runs on the <= top_n post-limit
frame), and ``verdict_agreement_matrix`` needs no allowlists (one
map-only pass + a 1-row aggregate)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load, register


# the engine's tokenizer (functions/text.tokens) in DuckDB terms:
# lowercase, split on non-[a-z0-9'], drop empties
_SQL_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),"
    " t -> t != '')"
)

# the engine's deterministic md5 [0,1) draw (operators/sampling.hash_u01)
_SQL_U01_DOC = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " / 4294967296.0)"
)


# --- Zipf rank-frequency profile ---------------------------------------------


@register(
    "zipf_profile",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    totals AS (
      SELECT count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens
      FROM counts
    ),
    top AS (
      SELECT ln(rank) AS x, ln(c) AS y FROM (
        SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank
        FROM counts ORDER BY c DESC, tok LIMIT 1000
      )
    ),
    fit AS (
      SELECT count(*) AS n_fit, sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM top
    )
    SELECT n_types, n_tokens, n_fit,
           round((n_fit*sxy - sx*sy) / (n_fit*sxx - sx*sx), 6) AS slope,
           round((sy - ((n_fit*sxy - sx*sy) / (n_fit*sxx - sx*sx)) * sx)
                 / n_fit, 6) AS intercept,
           round(((n_fit*sxy - sx*sy) * (n_fit*sxy - sx*sy))
                 / ((n_fit*sxx - sx*sx) * (n_fit*syy - sy*sy)), 6) AS r2
    FROM fit CROSS JOIN totals
    """,
    doc="operators/text_stats.zipf_profile staged r10, registered r11: "
    "OLS of ln(count) on ln(rank) over the top-1000 corpus tokens — the "
    "one-row distribution-health check (natural language sits near "
    "slope -1; the driver's synthetic corpus is deliberately flat). "
    "Counts are one map-side-combined token shuffle; the rank is a "
    "TakeOrderedAndProject top-n, never a global sort; the "
    "unpartitioned rank window runs on the <= top_n post-limit frame "
    "(plan_audit WINDOW_OK).",
    tags=("text", "corpus-stats", "staged-r10"),
)
def q_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import zipf_profile

    return zipf_profile(load(spark, sf_dir, "documents"))


# --- leave-one-out n-gram novelty --------------------------------------------


@register(
    "ngram_novelty_profile",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks WHERE len(t) >= 3
      )
    ),
    dfc AS (SELECT g, count(*) AS df FROM grams GROUP BY g),
    per_doc AS (
      SELECT doc_id, count(*) AS n_distinct_ngrams,
             CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM grams JOIN dfc USING (g) GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_distinct_ngrams, 0) AS n_distinct_ngrams,
           coalesce(p.n_novel, 0) AS n_novel,
           round(p.n_novel * 1.0 / p.n_distinct_ngrams, 6) AS novelty
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
    doc="operators/text_stats.ngram_novelty_profile staged r10, "
    "registered r11: per-doc share of distinct word trigrams with "
    "corpus document-frequency 1 — the templated-content complement of "
    "pairwise dedup. One gram-keyed DF shuffle + join back; no windows, "
    "no self-joins.",
    tags=("text", "corpus-stats", "dedup-adjacent", "staged-r10"),
)
def q_ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import (
        ngram_novelty_profile,
    )

    return ngram_novelty_profile(load(spark, sf_dir, "documents"))


# --- interpolated Kneser-Ney bigram scoring ----------------------------------


@register(
    "kneser_ney_bigram_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS s
      FROM toks WHERE len(t) >= 2
    ),
    doc_bg AS (
      SELECT doc_id, s.w1 AS w1, s.w2 AS w2, count(*) AS n
      FROM bg GROUP BY 1, 2, 3
    ),
    corpus_bg AS (SELECT w1, w2, sum(n) AS c FROM doc_bg GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c) AS ctx, count(*) AS fanout
            FROM corpus_bg GROUP BY 1),
    cont AS (SELECT w2, count(*) AS cont FROM corpus_bg GROUP BY 1),
    types AS (SELECT count(*) AS T FROM corpus_bg)
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(sum(n * ln(
             greatest(c - 0.75, 0.0) / ctx
             + ((0.75 * fanout) / ctx) * (cont * 1.0 / T)
           )) / sum(n), 6) AS avg_logprob_kn
    FROM doc_bg
    JOIN corpus_bg USING (w1, w2)
    JOIN ctx USING (w1)
    JOIN cont USING (w2)
    CROSS JOIN types
    GROUP BY doc_id
    """,
    doc="operators/text_stats.kneser_ney_bigram_score staged r10, "
    "registered r11: interpolated KN bigram fluency (the smoothing "
    "KenLM-style quality filters use). All counts integer-exact on both "
    "engines; P(w2|w1) is one fixed left-associated expression; "
    "vocabulary-bounded shuffles, only the 1-row T broadcast-crossed.",
    tags=("text", "lm", "quality", "staged-r10"),
)
def q_kneser_ney_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import (
        kneser_ney_bigram_score,
    )

    return kneser_ney_bigram_score(load(spark, sf_dir, "documents"))


# --- filter-verdict agreement matrix (Cohen's kappa) -------------------------

# planted verdicts over documents (the staging test's construction):
# a length floor, a token floor, and a parity filter that ABSTAINS
# (NULL) on every 7th doc — exercising the per-pair NULL exclusion
_SQL_VERDICTS = f"""
      SELECT length(text) >= 200 AS len_ok,
             len({_SQL_TOKS}) >= 40 AS tok_ok,
             CASE WHEN n_chars % 7 != 0 THEN n_chars % 2 = 0 END AS parity
      FROM documents
"""


def _sql_pair(a: str, b: str, p: str) -> str:
    """One pair's SELECT from the 1-row count CTE ``c`` — arithmetic
    mirrors operators/text_stats.verdict_agreement_matrix exactly
    (integer counts; po/pe double ratios; kappa NULL when pe = 1)."""
    n = f"({p}_00 + {p}_01 + {p}_10 + {p}_11)"
    po = f"(({p}_00 + {p}_11) * 1.0 / {n})"
    pe = (
        f"((({p}_00 + {p}_01) * ({p}_00 + {p}_10)"
        f" + ({p}_10 + {p}_11) * ({p}_01 + {p}_11)) * 1.0 / ({n} * 1.0 * {n}))"
    )
    return f"""
    SELECT '{a}' AS filter_a, '{b}' AS filter_b,
           {p}_00 AS n_00, {p}_01 AS n_01, {p}_10 AS n_10, {p}_11 AS n_11,
           round({po}, 6) AS agreement,
           CASE WHEN {pe} < 1.0
                THEN round(({po} - {pe}) / (1.0 - {pe}), 6) END AS kappa
    FROM c"""


def _sql_cells(a: str, b: str, p: str) -> str:
    both = f"{a} IS NOT NULL AND {b} IS NOT NULL"
    cells = []
    for va, sa in ((0, f"NOT {a}"), (1, a)):
        for vb, sb in ((0, f"NOT {b}"), (1, b)):
            cells.append(
                # CAST: DuckDB sum() yields HUGEINT, which Arrow fetch
                # surfaces as object — the driver hash needs BIGINT
                f"CAST(sum(CASE WHEN {both} AND {sa} AND {sb}"
                f" THEN 1 ELSE 0 END) AS BIGINT) AS {p}_{va}{vb}"
            )
    return ",\n           ".join(cells)


_SQL_AGREEMENT = f"""
    WITH v AS ({_SQL_VERDICTS}),
    c AS (
      SELECT {_sql_cells("len_ok", "tok_ok", "lt")},
           {_sql_cells("len_ok", "parity", "lp")},
           {_sql_cells("tok_ok", "parity", "tp")}
      FROM v
    )
    {_sql_pair("len_ok", "tok_ok", "lt")}
    UNION ALL {_sql_pair("len_ok", "parity", "lp")}
    UNION ALL {_sql_pair("tok_ok", "parity", "tp")}
    """


@register(
    "verdict_agreement_matrix",
    oracle=_SQL_AGREEMENT,
    doc="operators/text_stats.verdict_agreement_matrix staged r10, "
    "registered r11: pairwise 2x2 contingency + Cohen's kappa between "
    "quality-filter verdicts (redundant vs complementary filters), "
    "NULL-abstain rows excluded per pair. ONE map-only pass + ONE 1-row "
    "aggregate computes all pairs' counts; everything downstream is "
    "k^2-bounded. Verdicts planted on documents: length floor, token "
    "floor, and a parity filter abstaining on every 7th doc.",
    tags=("text", "quality", "calibration", "staged-r10"),
)
def q_verdict_agreement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import tokens
    from datapipeline_spike_spark.operators.text_stats import (
        verdict_agreement_matrix,
    )

    docs = load(spark, sf_dir, "documents")
    verdicts = docs.select(
        (F.length("text") >= 200).alias("len_ok"),
        (F.size(tokens("text")) >= 40).alias("tok_ok"),
        F.when(F.col("n_chars") % 7 != 0, F.col("n_chars") % 2 == 0).alias(
            "parity"
        ),
    )
    return verdict_agreement_matrix(verdicts, ["len_ok", "tok_ok", "parity"])


# --- corpus-internal duplicate-span scrubbing --------------------------------

_SPAN_K = 6


@register(
    "dedup_span_removal",
    oracle=f"""
    WITH pages AS (
      SELECT doc_id,
             'shared preamble sentence for every document here now '
             || text || ' closing notice for language ' || lang
             || ' end of record marker words' AS text
      FROM documents
    ),
    t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM pages),
    pos0 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
             i -> {{'pos': i - 1,
                    'ng': array_to_string(toks[i:i+{_SPAN_K - 1}], ' ')}})) AS s
      FROM t WHERE len(toks) >= {_SPAN_K}
    ),
    stats AS (
      SELECT s.ng AS ng, count(DISTINCT doc_id) AS df,
             min(doc_id) AS canon
      FROM pos0 GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT doc_id, s.pos AS pos
      FROM pos0 JOIN stats ON s.ng = stats.ng
      WHERE doc_id != stats.canon
    ),
    cov AS (
      SELECT DISTINCT doc_id, c.cp AS cp
      FROM (SELECT doc_id,
                   unnest(list_transform(range(0, {_SPAN_K}), d -> pos + d)) AS cp
            FROM hits) AS c(doc_id, cp)
    ),
    agg AS (
      SELECT cov.doc_id, count(*) AS n_removed,
             (SELECT count(DISTINCT pos) FROM hits h
              WHERE h.doc_id = cov.doc_id) AS n_flagged
      FROM cov GROUP BY 1
    )
    SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(agg.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(agg.n_flagged, 0) AS BIGINT) AS n_flagged_ngrams,
           CASE WHEN len(toks) = 0 THEN 1.0
                ELSE round((len(toks) - coalesce(agg.n_removed, 0)) * 1.0
                           / len(toks), 6) END AS retained_ratio
    FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
    """,
    doc="operators/dedup.dedup_span_removal staged r10, registered r11: "
    "ExactSubstr-style span scrubbing (Lee et al. 2022) — duplicated "
    "k-token spans survive only in the canonical (min-id) document; "
    "keep-first policy, token-position coverage union. Run on a PLANTED "
    "paged corpus (shared header on every doc, shared footer per lang) "
    "so the cross-doc span machinery does real work on the synthetic "
    "testdata. SCALE_PROBE_r10: 1x/10x 1,018 -> 2,732 docs/s rising.",
    tags=("dedup", "span", "staged-r10"),
)
def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import dedup_span_removal

    d = load(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("shared preamble sentence for every document here now "),
            F.col("text"),
            F.lit(" closing notice for language "),
            F.col("lang"),
            F.lit(" end of record marker words"),
        ).alias("text"),
    )
    return dedup_span_removal(pages, k=_SPAN_K)


# --- temperature-based mixture planning --------------------------------------


@register(
    "temperature_mixture_plan",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, len({_SQL_TOKS}) AS tk FROM documents
    ),
    by_g AS (
      SELECT lang, count(*) AS n_docs,
             CAST(sum(tk) AS BIGINT) AS n_tokens
      FROM d GROUP BY 1
    ),
    w AS (SELECT *, CASE WHEN n_tokens > 0
                         THEN exp(0.5 * ln(CAST(n_tokens AS DOUBLE)))
                         ELSE 0.0 END AS pw FROM by_g),
    tot AS (SELECT sum(pw) AS wsum,
                   CAST(sum(n_tokens) AS BIGINT) AS total FROM w),
    plan AS (
      SELECT lang, n_docs, n_tokens,
             round(CASE WHEN pw > 0 THEN pw / wsum ELSE 0.0 END, 6) AS p,
             round(0.3 * (CASE WHEN pw > 0 THEN pw / wsum ELSE 0.0 END)
                   * total, 2) AS target_tokens,
             round(CASE WHEN n_tokens > 0
                        THEN least(4.0,
                             (0.3 * (CASE WHEN pw > 0 THEN pw / wsum
                                          ELSE 0.0 END) * total) / n_tokens)
                        ELSE 0.0 END, 6) AS epochs
      FROM w, tot
    ),
    kept AS (
      SELECT lang, count(*) AS n_kept_docs,
             CAST(sum(tk) AS BIGINT) AS kept_tokens
      FROM d JOIN plan USING (lang)
      WHERE {_SQL_U01_DOC} < least(1.0, epochs)
      GROUP BY 1
    )
    SELECT plan.lang, n_docs, n_tokens, p, target_tokens, epochs,
           round(least(1.0, epochs), 6) AS sampling_rate,
           CAST(coalesce(n_kept_docs, 0) AS BIGINT) AS n_kept_docs,
           CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens
    FROM plan LEFT JOIN kept USING (lang)
    """,
    doc="operators/sampling.temperature_mixture_plan staged r10, "
    "registered r11: mT5/UNIMAX temperature mixture (p ~ n^tau, tau=0.5, "
    "30% token budget, 4-epoch cap) derived FROM the data, with the "
    "achieved kept counts from the deterministic md5 draw reported next "
    "to the plan. Zero-token groups stay in the plan at p=0 (ADVICE r10 "
    "contract). One group aggregate + 1-row total cross + one group-"
    "keyed draw join — linear, no windows.",
    tags=("sampling", "mixture", "staged-r10"),
)
def q_temperature_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import tokens
    from datapipeline_spike_spark.operators.sampling import (
        temperature_mixture_plan,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(tokens("text")).alias("tk")
    )
    return temperature_mixture_plan(d, budget_frac=0.3, tau=0.5, max_epochs=4.0)
