"""Corpus-statistics and text-quality queries over ``documents``:
co-occurrence and n-gram language-model scores, distribution profiles
(Zipf, drift, entropy, OOV, lexical diversity), encoding and HTML
extraction hygiene, filter-verdict agreement and calibration, watermark
and membership signals, boilerplate stripping, and the code and license
detectors. Synthetic plants (HTML pages, corrupted encodings, code
snippets, license headers, lined pages) are built identically on both
engines wherever the testdata text lacks the property under test."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.operators.html import _BLOCK_TAGS as _BT
from datapipeline_spike_spark.plans.registry import (
    SQL_TOKS,
    SQL_U01_DOC,
    load,
    register,
)
from datapipeline_spike_spark.scale import fan_out


# --- skip-gram co-occurrence + PMI -------------------------------------------


@register(
    "skipgram_pmi",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS.format(c="text")} AS t FROM documents),
    pairs AS (
      SELECT unnest(flatten(list_transform(range(1, len(t)),
               i -> list_transform(range(i + 1, least(i + 3, len(t)) + 1),
                     j -> [t[i], t[j]])))) AS p
      FROM toks
    ),
    pc AS (
      SELECT p[1] AS w1, p[2] AS w2, count(*) AS pair_count
      FROM pairs GROUP BY 1, 2
    ),
    uc AS (
      SELECT w, count(*) AS w_count
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
    ),
    nt AS (SELECT CAST(sum(w_count) AS DOUBLE) AS n_tokens FROM uc),
    np AS (
      SELECT sum(CASE WHEN len(t) > 3 THEN 3 * (len(t) - 3) + 3 * (3 - 1) / 2
                      ELSE len(t) * (len(t) - 1) / 2 END) AS n_pairs
      FROM toks
    )
    SELECT pc.w1, pc.w2, pc.pair_count,
           u1.w_count AS w1_count, u2.w_count AS w2_count,
           round(ln((pair_count / n_pairs)
                    / ((u1.w_count / n_tokens) * (u2.w_count / n_tokens))),
                 6) AS pmi
    FROM pc
    JOIN uc u1 ON pc.w1 = u1.w
    JOIN uc u2 ON pc.w2 = u2.w, np, nt
    WHERE pc.pair_count >= 5
    """,
    doc="operators/cooccurrence.pmi_scores staged for r9 (window=3, "
    "min_pair_count=5): ordered in-window pairs via nested list "
    "transforms on BOTH engines (DuckDB range() lists mirror Spark "
    "sequence()); N_pairs from the identical per-doc closed form; the "
    "PMI ratio is computed from exactly equal operands in the same "
    "parse shape, so only the final ln carries sub-ulp risk under the "
    "6dp round.",
    tags=("text", "cooccurrence", "staged-r9"),
)
def q_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.cooccurrence import pmi_scores

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_scores(d, window=3, min_pair_count=5)


# --- HTML -> text extraction -------------------------------------------------

# the synthetic page both engines build per document (testdata has no
# raw-HTML column; same precedent as the synthesized PNG/WAV tiers)
_SQL_PAGE = (
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; friends'"
    " || '</title><style>p{color:red}</style></head><body>'"
    " || '<nav><a href=\"/\">Home</a> <a href=\"/b\">Blog</a>"
    " <a href=\"/c\">More</a></nav><p>'"
    " || regexp_replace(text, '\\. ', '.</p><p>', 'g')"
    " || '</p><!-- c --><footer><a href=\"/t\">Terms</a></footer>"
    "</body></html>'"
)
_SQL_EXTRACT = (
    "array_to_string(list_transform(list_filter(list_transform("
    "string_split_regex(__X__, '\\n+'),"
    " b -> struct_pack(txt := trim(regexp_replace(replace(b, chr(1), ' '),"
    " '\\s+', ' ', 'g')),"
    " links := length(b) - length(replace(b, chr(1), '')))),"
    " s -> length(s.txt) > 0 AND CAST(s.links AS DOUBLE)"
    " <= 0.5 * len(string_split_regex(s.txt, '\\s+'))),"
    " s -> s.txt), chr(10))"
)


def _sql_html_chain(page_expr: str) -> str:
    x = f"regexp_replace({page_expr}, '[\\r\\n\\t]+', ' ', 'g')"
    for pat in (
        "(?is)<head\\b[^>]*>.*?</head>",
        "(?is)<title\\b[^>]*>.*?</title>",
        "(?is)<script\\b[^>]*>.*?</script>",
        "(?is)<style\\b[^>]*>.*?</style>",
        "(?s)<!--.*?-->",
    ):
        x = f"regexp_replace({x}, '{pat}', ' ', 'g')"
    x = f"regexp_replace({x}, '(?i)<a\\b[^>]*>', chr(1), 'g')"
    x = f"regexp_replace({x}, '(?i)</?({_BT})\\b[^>]*/?>', chr(10), 'g')"
    x = f"regexp_replace({x}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "''"),
        ("&apos;", "''"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        x = f"regexp_replace({x}, '{ent}', '{rep}', 'g')"
    return _SQL_EXTRACT.replace("__X__", x)


@register(
    "html_extract_profile",
    oracle=f"""
    WITH pages AS (SELECT doc_id, {_SQL_PAGE} AS page FROM documents),
    ext AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(regexp_extract(page,
                 '(?is)<title[^>]*>([^<]*)', 1), '&amp;', '&', 'g'),
               '\\s+', ' ', 'g')) AS title,
             {_sql_html_chain("page")} AS text
      FROM pages
    )
    SELECT doc_id, title, text,
           CAST(len(string_split_regex(text, chr(10) || '+')) AS INTEGER)
             AS n_blocks
    FROM ext
    """,
    doc="operators/html.html_to_text + html_title staged for r9: each "
    "document wrapped in a deterministic synthetic page (nav + split "
    "paragraphs + footer + entity-bearing title — the synthesized "
    "PNG/WAV tier precedent) and extracted on BOTH engines with the "
    "identical RE2-compatible regex chain, sentinel-based link-density "
    "gate included; title decodes only &amp; because the synth title "
    "carries no other entity. n_blocks counts newline-joined surviving "
    "blocks.",
    tags=("html", "text", "staged-r9"),
)
def q_html_extract_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.html import html_title, html_to_text

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    page = F.concat(
        F.lit('<html><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit(' &amp; friends</title><style>p{color:red}</style></head><body>'
              '<nav><a href="/">Home</a> <a href="/b">Blog</a>'
              ' <a href="/c">More</a></nav><p>'),
        F.regexp_replace("text", r"\. ", ".</p><p>"),
        F.lit('</p><!-- c --><footer><a href="/t">Terms</a></footer>'
              '</body></html>'),
    )
    p = d.select("doc_id", page.alias("page"))
    return p.select(
        "doc_id",
        html_title("page").alias("title"),
        html_to_text("page").alias("text"),
    ).withColumn(
        "n_blocks", F.size(F.split("text", r"\n+")).cast("int")
    )


# --- bigram LM fluency scoring -----------------------------------------------


@register(
    "bigram_fluency",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKS.format(c="text")} AS t FROM documents
    ), tt AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
    bg AS (
      SELECT doc_id, p[1] AS w1, p[2] AS w2
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                          i -> [t[i], t[i + 1]])) AS p
            FROM tt)
    ),
    doc_bg AS (
      SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3
    ),
    corpus_bg AS (SELECT w1, w2, sum(n) AS c FROM doc_bg GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c) AS cx FROM corpus_bg GROUP BY 1),
    vocab AS (
      SELECT count(DISTINCT w) AS v
      FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg)
    )
    SELECT d.doc_id,
           CAST(sum(d.n) AS BIGINT) AS n_bigrams,
           round(sum(d.n * ln((cb.c + 1.0) / (ctx.cx + vocab.v)))
                 / sum(d.n), 6) AS avg_logprob
    FROM doc_bg d
    JOIN corpus_bg cb ON d.w1 = cb.w1 AND d.w2 = cb.w2
    JOIN ctx ON d.w1 = ctx.w1, vocab
    GROUP BY 1
    """,
    doc="operators/quality.bigram_logprob_score staged for r9: "
    "corpus-fit add-one bigram LM, adjacent pairs via range-indexed "
    "list transforms mirroring the Spark slice/zip_with; every count "
    "integer-exact, the 6dp round absorbs summation order (the "
    "unigram_logprob_score precedent).",
    tags=("text", "quality", "lm", "staged-r9"),
)
def q_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.quality import bigram_logprob_score

    return bigram_logprob_score(load(spark, sf_dir, "documents"))


# --- CCNet perplexity bucketing ----------------------------------------------


@register(
    "perplexity_bucket_profile",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({SQL_TOKS.format(c="text")}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, lang, tok, count(*) AS n FROM toks GROUP BY 1, 2, 3),
    vocab AS (SELECT lang, tok, sum(n) AS c FROM tf GROUP BY 1, 2),
    totals AS (SELECT lang, sum(c) AS total, count(*) AS v FROM vocab GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.lang,
             CAST(sum(tf.n) AS BIGINT) AS n_tokens,
             round(sum(tf.n * ln((vocab.c + 1.0) / (totals.total + totals.v)))
                   / sum(tf.n), 6) AS avg_logprob
      FROM tf
      JOIN vocab ON tf.lang = vocab.lang AND tf.tok = vocab.tok
      JOIN totals ON tf.lang = totals.lang
      GROUP BY 1, 2
    ),
    thr AS (
      SELECT lang, quantile_disc(avg_logprob, [1.0/3, 2.0/3]) AS t
      FROM scored GROUP BY 1
    )
    SELECT s.doc_id, s.lang, s.n_tokens, s.avg_logprob,
           CAST(1 + len(list_filter(thr.t, x -> x <= s.avg_logprob))
                AS INTEGER) AS bucket,
           (['tail', 'middle', 'head'])
             [1 + len(list_filter(thr.t, x -> x <= s.avg_logprob))]
             AS bucket_label
    FROM scored s JOIN thr ON s.lang = thr.lang
    """,
    doc="operators/quality.perplexity_buckets staged for r9 (CCNet "
    "head/middle/tail): the add-one unigram LM replays integer-exactly "
    "(6dp round on the mean); the quantile thresholds replay because "
    "at driver scale every language group is smaller than the sketch "
    "accuracy (10k), where Spark's percentile_approx exact path and "
    "DuckDB's quantile_disc pick the identical order statistic "
    "(verified empirically at n=9/10/2000, including the off-by-one "
    "conventions). Tie-at-threshold falls to the higher band on both "
    "sides (t <= v).",
    tags=("text", "quality", "lm", "staged-r9"),
)
def q_perplexity_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.quality import perplexity_buckets

    return perplexity_buckets(load(spark, sf_dir, "documents"))


# --- encoding / mojibake hygiene profile -------------------------------------

# deterministic synthetic corruption (testdata text is clean — same
# precedent as the synthesized HTML pages / PNG / WAV tiers): each
# residue class planted on a doc_id stripe, mirrored verbatim in SQL
_SQL_CORRUPT = (
    "CASE CAST(doc_id % 5 AS INTEGER)"
    " WHEN 0 THEN text || ' ' || chr(65533) || 'x' || chr(65533)"
    " WHEN 1 THEN 'caf' || chr(195) || chr(169) || ' ' || chr(8203) || text"
    " WHEN 2 THEN chr(7) || text || chr(31)"
    " WHEN 3 THEN text || ' &amp; &#8212; &mdash;'"
    " ELSE text END"
)
_SQL_ENC_COUNT = "CAST(len(regexp_extract_all({t}, '{p}')) AS BIGINT)"
_ENC_PATTERNS = {
    "n_replacement": "�",
    "n_control": r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]",
    "n_zero_width": "[​‌‍﻿]",
    "n_entity": "&(#[0-9]{1,6}|#[xX][0-9a-fA-F]{1,6}|[a-zA-Z][a-zA-Z0-9]{1,30});",
    "n_mojibake": "Ã|Â|â€",
}


@register(
    "encoding_quality_profile",
    oracle=f"""
    WITH c AS (SELECT doc_id, {_SQL_CORRUPT} AS text FROM documents),
    m AS (
      SELECT doc_id, length(text) AS n_chars_enc,
             {", ".join(_SQL_ENC_COUNT.format(t="text", p=p) + " AS " + n
                        for n, p in _ENC_PATTERNS.items())}
      FROM c
    )
    SELECT doc_id, n_chars_enc, n_replacement, n_control, n_zero_width,
           n_entity, n_mojibake,
           round(CASE WHEN n_chars_enc > 0
                 THEN (n_replacement + n_control + n_zero_width)
                      * 1.0 / n_chars_enc ELSE 0.0 END, 6) AS bad_char_ratio,
           (n_replacement = 0 AND n_control = 0 AND n_mojibake = 0
            AND round(CASE WHEN n_chars_enc > 0
                  THEN (n_replacement + n_control + n_zero_width)
                       * 1.0 / n_chars_enc ELSE 0.0 END, 6) <= 0.001)
             AS encoding_ok
    FROM m
    """,
    doc="operators/quality.encoding_quality_columns staged for r9: the "
    "web-crawl encoding-hygiene gate (replacement chars, stray C0 "
    "controls, zero-width chars, undecoded HTML entities, "
    "UTF-8-as-Latin-1 mojibake markers). Each residue class is planted "
    "on a doc_id%5 stripe with identical chr() codepoints on both "
    "engines; counts are integer-exact, the ratio divides identical "
    "integers, and the ok-verdict compares the 6dp-ROUNDED ratio so "
    "the boolean is engine-portable. Map-only regexp_count columns — "
    "a pure scan stage at any scale.",
    tags=("text", "quality", "encoding", "staged-r9"),
)
def q_encoding_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.quality import (
        encoding_quality_columns,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corrupted = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat("text", F.lit(" �x�")))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("cafÃ© ​"), F.col("text")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("\x07"), F.col("text"), F.lit("\x1f")))
        .when(F.col("doc_id") % 5 == 3,
              F.concat("text", F.lit(" &amp; &#8212; &mdash;")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return encoding_quality_columns(corrupted).select(
        "doc_id", "n_chars_enc", "n_replacement", "n_control",
        "n_zero_width", "n_entity", "n_mojibake", "bad_char_ratio",
        "encoding_ok",
    )


# --- Zipf rank-frequency profile ---------------------------------------------


@register(
    "zipf_profile",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKS.format(c="text")}) AS tok FROM documents
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
    WITH toks AS (SELECT doc_id, {SQL_TOKS.format(c="text")} AS t FROM documents),
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
      SELECT doc_id, {SQL_TOKS.format(c="text")} AS t FROM documents
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
             len({SQL_TOKS.format(c="text")}) >= 40 AS tok_ok,
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


# --- classifier reliability / calibration bins -------------------------------


@register(
    "reliability_calibration_bins",
    oracle=f"""
    WITH v AS (
      SELECT {SQL_U01_DOC} AS s, length(text) >= 200 AS l
      FROM documents
    ),
    b AS (
      SELECT least(9, CAST(floor(s * 10) AS INT)) AS bin,
             count(*) AS n, sum(s) AS sum_s,
             CAST(sum(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM v GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM b)
    SELECT bin, CAST(n AS BIGINT) AS n,
           round(sum_s / n, 6) AS mean_score,
           round(n_pass * 1.0 / n, 6) AS pass_rate,
           round(abs(n_pass * 1.0 / n - sum_s / n), 6) AS abs_gap,
           round(n * 1.0 / total, 6) AS weight
    FROM b, t
    """,
    doc="operators/quality.reliability_calibration_bins staged r11, "
    "registered r12: the reliability-diagram table (Guo et al. 2017) — "
    "equal-width score bins vs observed pass rate, ECE = "
    "sum(weight*abs_gap) downstream. Scores planted from the portable "
    "md5 [0,1) draw, labels from a length rule, so the oracle replays "
    "the whole binning arithmetic. Out-of-range scores are excluded "
    "with the NULL abstains (ADVICE r11). One map-only bin assign + one "
    "n_bins-grain aggregate + a 1-row total broadcast-cross (BNLJ_OK, "
    "corpus_mixture_plan pattern) — linear, no windows.",
    tags=("quality", "calibration", "staged-r11"),
)
def q_reliability_calibration_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from datapipeline_spike_spark.operators.quality import (
        reliability_calibration_bins,
    )
    from datapipeline_spike_spark.operators.sampling import hash_u01

    docs = load(spark, sf_dir, "documents").select(
        hash_u01("doc_id").alias("score"),
        (F.length("text") >= 200).alias("label"),
    )
    return reliability_calibration_bins(docs)


# --- unigram-distribution drift between snapshots ----------------------------


@register(
    "token_distribution_drift",
    oracle=f"""
    WITH toks AS (
      SELECT (lang = 'en') AS ia, unnest({SQL_TOKS.format(c="text")}) AS tok
      FROM documents WHERE lang IN ('en', 'fr')
    ),
    c AS (
      SELECT tok,
             CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN ia THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM toks GROUP BY 1
    ),
    t AS (
      SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) AS na,
             CAST(coalesce(sum(cb), 0) AS BIGINT) AS nb,
             count(*) AS v,
             CAST(coalesce(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS va,
             CAST(coalesce(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS vb
      FROM c
    ),
    k AS (
      SELECT
        sum(((ca + 1.0) / (na + v))
            * ln(((ca + 1.0) / (na + v)) / ((cb + 1.0) / (nb + v))))
          AS kl_ab,
        sum(((cb + 1.0) / (nb + v))
            * ln(((cb + 1.0) / (nb + v)) / ((ca + 1.0) / (na + v))))
          AS kl_ba,
        sum(((ca + 1.0) / (na + v))
            * ln(((ca + 1.0) / (na + v))
                 / ((((ca + 1.0) / (na + v)) + ((cb + 1.0) / (nb + v))) / 2.0)))
          AS kl_am,
        sum(((cb + 1.0) / (nb + v))
            * ln(((cb + 1.0) / (nb + v))
                 / ((((ca + 1.0) / (na + v)) + ((cb + 1.0) / (nb + v))) / 2.0)))
          AS kl_bm
      FROM c, t
    )
    SELECT na AS n_tokens_a, nb AS n_tokens_b, va AS vocab_a,
           vb AS vocab_b, v AS vocab_union,
           round(kl_ab, 6) AS kl_ab, round(kl_ba, 6) AS kl_ba,
           round(0.5 * kl_am + 0.5 * kl_bm, 6) AS js_divergence
    FROM t, k
    """,
    doc="operators/text_stats.token_distribution_drift staged r11, "
    "registered r12: add-one-smoothed unigram KL(a||b)/KL(b||a)/JS "
    "between two corpus snapshots (en vs fr slices of documents) — the "
    "number a pipeline publishes when a crawl snapshot or upstream "
    "source changes. ONE vocabulary-bounded map-side-combined token "
    "aggregate + a 1-row totals broadcast-cross (BNLJ_OK) + one 1-row "
    "reduce; no data-scale joins, no windows.",
    tags=("text", "corpus-stats", "drift", "staged-r11"),
)
def q_token_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import (
        token_distribution_drift,
    )

    return token_distribution_drift(
        load(spark, sf_dir, "documents"), "lang", "en", "fr"
    )


# --- ROUGE-N clipped n-gram overlap ------------------------------------------


@register(
    "rouge_ngram_eval",
    oracle=f"""
    WITH pairs AS (
      SELECT doc_id AS pair_id, text AS candidate,
             CASE WHEN doc_id % 3 = 0 THEN text
                  WHEN doc_id % 3 = 1
                    THEN text || ' extra appended trailer words'
                  ELSE array_to_string(
                         list_reverse({SQL_TOKS.format(c="text")}), ' ')
             END AS reference
      FROM documents
    ),
    cg AS (
      SELECT pair_id, g, count(*) AS cc FROM (
        SELECT pair_id, unnest(list_transform(range(1, len(t)),
               i -> array_to_string(t[i:i+1], ' '))) AS g
        FROM (SELECT pair_id, {SQL_TOKS.format(c="candidate")} AS t FROM pairs)
        WHERE len(t) >= 2
      ) GROUP BY 1, 2
    ),
    rg AS (
      SELECT pair_id, g, count(*) AS cr FROM (
        SELECT pair_id, unnest(list_transform(range(1, len(t)),
               i -> array_to_string(t[i:i+1], ' '))) AS g
        FROM (SELECT pair_id, {SQL_TOKS.format(c="reference")} AS t FROM pairs)
        WHERE len(t) >= 2
      ) GROUP BY 1, 2
    ),
    j AS (
      SELECT pair_id,
             CAST(sum(coalesce(cc, 0)) AS BIGINT) AS cand_grams,
             CAST(sum(coalesce(cr, 0)) AS BIGINT) AS ref_grams,
             CAST(sum(least(coalesce(cc, 0), coalesce(cr, 0))) AS BIGINT)
               AS overlap
      FROM cg FULL JOIN rg USING (pair_id, g) GROUP BY 1
    )
    SELECT p.pair_id,
           coalesce(cand_grams, 0) AS cand_grams,
           coalesce(ref_grams, 0) AS ref_grams,
           coalesce(overlap, 0) AS overlap,
           round(overlap * 1.0 / cand_grams, 6) AS precision,
           round(overlap * 1.0 / ref_grams, 6) AS recall,
           round(CASE WHEN (overlap * 1.0 / cand_grams)
                           + (overlap * 1.0 / ref_grams) > 0
                      THEN 2.0 * (overlap * 1.0 / cand_grams)
                           * (overlap * 1.0 / ref_grams)
                           / ((overlap * 1.0 / cand_grams)
                              + (overlap * 1.0 / ref_grams))
                      ELSE 0.0 END, 6) AS f1
    FROM pairs p LEFT JOIN j ON p.pair_id = j.pair_id
    """,
    doc="operators/text_stats.rouge_ngram_eval staged r11, registered "
    "r12 (Lin 2004): clipped word-bigram ROUGE-N precision/recall/F1 "
    "over (candidate, reference) pairs — generation-eval and "
    "decontamination signal. Pairs planted over documents (identical / "
    "appended-trailer / word-reversed references by doc_id mod 3) so "
    "identity, partial-overlap, and bag-equality cases all occur. Two "
    "gram-count aggregates -> one full outer join on (pair, gram) -> "
    "per-pair reduce -> spine join-back; clipping is least() on integer "
    "counts. No windows, no broadcast-scale risk.",
    tags=("text", "eval", "staged-r11"),
)
def q_rouge_ngram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import tokens
    from datapipeline_spike_spark.operators.text_stats import rouge_ngram_eval

    d = load(spark, sf_dir, "documents")
    pairs = d.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("candidate"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat("text", F.lit(" extra appended trailer words")),
        )
        .otherwise(F.concat_ws(" ", F.reverse(tokens("text"))))
        .alias("reference"),
    )
    return rouge_ngram_eval(pairs)


# --- synthetic-text watermark detection --------------------------------------


@register(
    "watermark_greenlist_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS.format(c="text")} AS t FROM documents),
    g AS (
      SELECT doc_id, len(t) AS n_tokens,
             CASE WHEN len(t) >= 2 THEN
               list_sum(list_transform(range(1, len(t)), i ->
                 CASE WHEN substr(md5(t[i] || '#' || t[i+1]), 8, 1)
                      IN ('0','2','4','6','8','a','c','e')
                      THEN 1 ELSE 0 END))
             ELSE 0 END AS n_green
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(greatest(n_tokens - 1, 0) AS BIGINT) AS n_scored,
           CAST(n_green AS BIGINT) AS n_green,
           CASE WHEN n_tokens >= 2
                THEN round(n_green * 1.0 / (n_tokens - 1), 6) END
             AS green_rate,
           CASE WHEN n_tokens >= 2
                THEN round((n_green - 0.5 * (n_tokens - 1))
                           / sqrt((n_tokens - 1) * 0.25), 6) END
             AS z_score
    FROM g
    """,
    doc="""operators/text_stats.watermark_greenlist_score (staged r12,
    registered r14; Kirchenbauer et al. 2023): green-list watermark
    detection as a corpus-curation filter — token i is green iff the
    8th hex digit of md5(prev # tok) is even (an exactly-gamma=0.5
    partition both engines compute identically); per doc the green
    rate and binomial z-statistic flag suspected model-generated text.
    Map-only (one tokenize + one HOF fold per row, lambda-bound once),
    no shuffle at any corpus size; < 2 tokens abstains with NULLs.""",
    tags=("text", "quality", "watermark", "staged-r12"),
)
def q_watermark_greenlist_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import (
        watermark_greenlist_score,
    )

    return watermark_greenlist_score(
        fan_out(load(spark, sf_dir, "documents"))
    )


# --- per-source quantile (rank) normalization --------------------------------


@register(
    "quality_rank_normalize",
    oracle=f"""
    WITH v AS (
      SELECT doc_id, source, {SQL_U01_DOC} AS score,
             round({SQL_U01_DOC}, 4) AS b
      FROM documents
    ),
    h AS (SELECT source, b, count(*) AS n FROM v GROUP BY 1, 2),
    sw AS (
      SELECT source, b, n,
             sum(n) OVER (PARTITION BY source ORDER BY b) - n AS below,
             sum(n) OVER (PARTITION BY source) AS total
      FROM h
    )
    SELECT v.doc_id, v.source, v.score,
           CAST(total AS BIGINT) AS n_group,
           round((below + 0.5 * n) / total, 6) AS rank_pct
    FROM v JOIN sw ON v.source = sw.source AND v.b = sw.b
    """,
    doc="""operators/quality.quality_rank_normalize (staged r12,
    registered r14): per-source mid-rank quantile transform of a
    classifier score — the "threshold on rank, not value" calibration
    fix reliability_calibration_bins recommends when scores are
    miscalibrated across sources. Scale shape: scores quantize to 4dp
    buckets, a (source, bucket)-grain aggregate, a cumulative sweep
    over each source's bounded histogram (<= 10^4+1 rows per source —
    never a per-group window over the corpus), then a map-side join
    back to rows. NULL scores and NULL groups are excluded
    explicitly.""",
    tags=("quality", "calibration", "staged-r12"),
)
def q_quality_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.quality import (
        quality_rank_normalize,
    )
    from datapipeline_spike_spark.operators.sampling import hash_u01

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", hash_u01("doc_id").alias("score")
    )
    return quality_rank_normalize(d, "score", "source")


# --- corpus-frequency boilerplate line stripping -----------------------------

# lined pages: a corpus-wide banner line and a 5-group promo line
# prefixed to every document
_SQL_LINED = """
    pages AS (
      SELECT doc_id,
             'common banner line' || chr(10) || 'section ' ||
             CAST(doc_id % 5 AS VARCHAR) || ' promo' || chr(10) || text
               AS text
      FROM documents
    )
"""


def _lined_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("common banner line\n"),
            F.lit("section "),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(" promo\n"),
            F.col("text"),
        ).alias("text"),
    )


@register(
    "boilerplate_line_removal",
    oracle=f"""
    WITH {_SQL_LINED},
    l0 AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                         x -> trim(x)), x -> x != '') AS ls
      FROM pages
    ),
    lines AS (
      SELECT doc_id, u.pos AS pos, u.line AS line,
             md5(u.line) AS fp
      FROM (
        SELECT doc_id, unnest(list_transform(
          range(1, len(ls) + 1),
          i -> {{'pos': i - 1, 'line': ls[i]}})) AS u
        FROM l0 WHERE len(ls) > 0
      )
    ),
    dfreq AS (
      SELECT fp, count(*) AS df
      FROM (SELECT DISTINCT doc_id, fp FROM lines) GROUP BY 1
    ),
    nd AS (SELECT count(*) AS n FROM pages),
    marked AS (
      SELECT fp, df >= greatest(2, CAST(ceil(0.05 * n) AS BIGINT)) AS bp
      FROM dfreq, nd
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           round(sum(CASE WHEN bp THEN 1 ELSE 0 END) * 1.0 / count(*),
                 6) AS removed_fraction,
           md5(coalesce(string_agg(CASE WHEN NOT bp THEN line END,
                                   chr(10) ORDER BY pos), ''))
             AS kept_fp
    FROM lines JOIN marked USING (fp)
    GROUP BY 1
    """,
    doc="""operators/quality.boilerplate_line_removal (staged r14,
    registered r15; the CCNet/RefinedWeb line-dedup pass): a trimmed
    non-empty line is boilerplate iff it occurs in >= max(2,
    ceil(0.05 * n_docs)) DISTINCT documents (nav bars, cookie banners
    — locally well-formed lines c4_line_filters cannot catch); every
    occurrence is removed and the survivors fingerprint in original
    order. Threshold scale-derived from a 1-row broadcast corpus
    count (BNLJ_OK — the containment-cap posture). One posexplode,
    one distinct-per-doc line-df aggregate, one fp-keyed join back,
    one doc regroup — keyed shuffles only, no windows, no self-joins.
    Registered over the banner+promo lined plant.""",
    tags=("quality", "boilerplate", "staged-r14"),
)
def q_boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.quality import (
        boilerplate_line_removal,
    )

    return boilerplate_line_removal(_lined_pages(spark, sf_dir))


# --- out-of-vocabulary rate profile ------------------------------------------


@register(
    "oov_rate_profile",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS.format(c="text")}) AS t
      FROM documents
    ),
    occ AS (SELECT doc_id, t, count(*) AS n FROM tok GROUP BY 1, 2),
    vocab AS (
      SELECT t FROM (
        SELECT t, sum(n) AS c FROM occ GROUP BY 1
        ORDER BY c DESC, t ASC LIMIT 256
      )
    ),
    fl AS (
      SELECT occ.doc_id, occ.n,
             vocab.t IS NOT NULL AS in_v
      FROM occ LEFT JOIN vocab ON occ.t = vocab.t
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN in_v THEN 0 ELSE n END) AS BIGINT)
             AS oov_tokens,
           round(sum(CASE WHEN in_v THEN 0 ELSE n END) * 1.0 / sum(n),
                 6) AS oov_rate,
           CAST(sum(CASE WHEN in_v THEN 0 ELSE 1 END) AS BIGINT)
             AS distinct_oov
    FROM fl GROUP BY 1
    """,
    doc="""operators/text_stats.oov_rate_profile (staged r14,
    registered r15): per-document out-of-vocabulary rate against the
    corpus's own top-256 token vocabulary — the tokenizer-coverage
    diagnostic run before committing a vocab (rare-domain language vs
    encoding garbage, split by OOV mass). Vocabulary boundary has a
    TOTAL deterministic order (count desc, token asc) so the tie
    never differs between engines. Scale shape: token-keyed count
    aggregate -> global top-V via orderBy+limit
    (TakeOrderedAndProject: per-partition partial top-k, never a
    global sort) -> V-row vocab broadcast LEFT-joined to the per-doc
    occurrence frame -> doc rollup.""",
    tags=("text", "vocab", "staged-r14"),
)
def q_oov_rate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import oov_rate_profile

    return oov_rate_profile(load(spark, sf_dir, "documents"), vocab_size=256)


# --- character-bigram entropy profile ----------------------------------------


@register(
    "char_entropy_profile",
    oracle="""
    WITH g AS (
      SELECT doc_id, unnest(list_transform(
               range(1, length(text)),
               i -> substr(text, CAST(i AS INT), 2))) AS bg
      FROM documents WHERE length(text) >= 2
    ),
    cnt AS (SELECT doc_id, bg, count(*) AS n FROM g GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS distinct_bigrams,
           round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy,
           CASE WHEN count(*) > 1 THEN
             round((ln(sum(n)) - sum(n * ln(n)) / sum(n))
                   / ln(count(*)), 6) END AS entropy_norm
    FROM cnt GROUP BY 1
    """,
    doc="""operators/text_stats.char_entropy_profile (staged r14,
    registered r15): per-document character-bigram Shannon entropy —
    the cheap garbage detector run before any model-based scoring
    (natural language sits in a narrow band; base64/compressed blobs
    score near the uniform maximum, degenerate repetition near zero;
    both tails are drop candidates). H = ln(N) - (sum n ln n)/N in
    the single-pass algebraic form both engines compute identically;
    entropy_norm = H / ln(distinct) abstains (NULL) on single-bigram
    docs. Map-only until a (doc, bigram) count aggregate + doc
    rollup — two keyed shuffles, vocabulary-bounded.""",
    tags=("text", "quality", "entropy", "staged-r14"),
)
def q_char_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.text_stats import (
        char_entropy_profile,
    )

    return char_entropy_profile(load(spark, sf_dir, "documents"))


# --- code detection profile --------------------------------------------------

# one of three code snippets (python/js/c by doc_id % 3) is planted on
# every doc_id % 7 == 2 page; NOT % 9, which is 0 mod 3 and would starve
# two families
SNIPPET_PY = (
    "def load(x): y = (x + 1) ; z = {\"k\": [1, 2]} ; return (y, z) ; "
    "import os ; class App(object): pass ; lambda q: (q * 2) >= 0"
)
SNIPPET_JS = (
    "function go(a) { var b = (a + 1); const c = { k: 1 }; "
    "let d = [2]; return b + c.k + d[0]; } "
    "function stop() { var e = 0; }"
)
SNIPPET_C = (
    "#include <stdio.h> int main(void) { int x = (1 + 2); "
    "printf(\"%d\", x); return (x == 3); }"
)

_SQL_CODE_PLANT = f"""
    planted AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 2 THEN text || ' ' ||
                  CASE doc_id % 3
                    WHEN 0 THEN '{SNIPPET_PY}'
                    WHEN 1 THEN '{SNIPPET_JS}'
                    ELSE '{SNIPPET_C}' END
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
                F.when(F.col("doc_id") % 3 == 0, F.lit(SNIPPET_PY))
                .when(F.col("doc_id") % 3 == 1, F.lit(SNIPPET_JS))
                .otherwise(F.lit(SNIPPET_C)),
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


# --- license detection profile -----------------------------------------------

# an SPDX header (license by doc_id % 5) is planted on every
# doc_id % 11 in (1, 4, 8) page
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


# --- vocab overlap matrix ----------------------------------------------------


@register(
    "vocab_overlap_matrix",
    oracle=f"""
    WITH c AS (
      SELECT source, t, count(*) AS c
      FROM (SELECT source, unnest({SQL_TOKS.format(c='text')}) AS t
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


# --- Min-K% Prob membership signal -------------------------------------------

SQL_MIN_K = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks
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


# --- distinct-n lexical diversity --------------------------------------------

SQL_DIVERSITY = f"""
    WITH t AS (SELECT source, {SQL_TOKS.format(c='text')} AS toks
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
