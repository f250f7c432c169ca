"""R9 catalog: the round-8 library operators, REGISTERED (r9 step).

These 12 entries were staged in round 8 and burned down against the
DuckDB oracle locally (full check_oracle comparison at sf0.001: row
count + schema + order-insensitive exact values), then registered in
round 9 with the two promised plan-audit allowlist entries in
tools/plan_audit.py (1-row totals crosses in skipgram_pmi /
bigram_fluency; the bounded phase-2 windows in weighted_doc_sample /
budget_selected_docs). Every registered query is compared with its
oracle by ``tests/test_entry.py::test_query_matches_oracle``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load, register


# --- deterministic training-shard shuffle -----------------------------------

_SQL_U01 = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT"
    " / 4294967296.0)"
)


@register(
    "shuffle_shard_plan",
    oracle=f"""
    SELECT doc_id, lang, source,
           round({_SQL_U01}, 6) AS shuffle_u,
           CAST(floor({_SQL_U01} * 16) AS INTEGER) AS shard
    FROM documents
    """,
    doc="operators/sampling.deterministic_shuffle staged for r9: the "
    "content-hash (key, seed)->(shard, order) assignment is exact in "
    "both engines (u = md5-prefix/2^32 is a dyadic rational; u*16 and "
    "the int truncation are exact double ops). shuffle_u rounded to 6dp "
    "for the hash only — the shard comes from the UNROUNDED u on both "
    "sides.",
    tags=("sampling", "shuffle", "staged-r9"),
)
def q_shuffle_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sampling import deterministic_shuffle

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = deterministic_shuffle(d, "doc_id", 16, seed=0)
    return out.select(
        "doc_id", "lang", "source",
        F.round("shuffle_u", 6).alias("shuffle_u"), "shard",
    )


# --- Efraimidis-Spirakis weighted sampling ----------------------------------

_SQL_U01_RAW = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " / 4294967296.0)"
)


@register(
    "weighted_doc_sample",
    oracle=f"""
    WITH es AS (
      SELECT doc_id, lang, source, n_chars,
             round(-ln(1 - {_SQL_U01_RAW}) / CAST(n_chars AS DOUBLE), 10) AS s
      FROM documents WHERE n_chars > 0
    ), ranked AS (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (ORDER BY s, doc_id) AS rnk
      FROM es
    )
    SELECT doc_id, lang, source, n_chars, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 200
    """,
    doc="operators/sampling.weighted_sample staged for r9: 200 docs "
    "drawn proportional to n_chars without replacement "
    "(Efraimidis-Spirakis bottom-k of -ln(1-u)/w). Ranked on the "
    "10dp-ROUNDED key (score_round=10) because ln is the one step "
    "where JVM and libm can differ in the final ulp; the doc_id "
    "tie-break makes the rounded ranking identical in both engines.",
    tags=("sampling", "weighted", "staged-r9"),
)
def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sampling import weighted_sample

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = weighted_sample(
        d, F.col("n_chars").cast("double"), 200, "doc_id",
        keep_score=True, score_round=10,
    )
    return out.select(
        "doc_id", "lang", "source", "n_chars", F.col("rnk").cast("int").alias("rnk")
    )


# --- skip-gram co-occurrence + PMI ------------------------------------------

_SQL_TOKS_R9 = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),"
    " t -> t != '')"
)


@register(
    "skipgram_pmi",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS_R9} AS t FROM documents),
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


# --- token-budget corpus selection ------------------------------------------

_SQL_SW_EN = (
    "['the','and','of','to','in','is','that','it','for','on']"
)
_SQL_QUALITY6 = (
    "round(0.4 * least(len(toks) / 200.0, 1.0)"
    " + 0.3 * least((len(list_filter(toks, x -> list_contains("
    + _SQL_SW_EN
    + ", x))) * 1.0 / len(toks)) / 0.10, 1.0)"
    " + 0.3 * (1.0 - (length(text) - length(regexp_replace(text,"
    " '[\\.,;:!\\?]', '', 'g'))) * 1.0 / length(text)), 6)"
)


@register(
    "budget_selected_docs",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS_R9} AS toks FROM documents),
    q AS (
      SELECT doc_id, len(toks) AS n_tokens, {_SQL_QUALITY6} AS quality
      FROM t WHERE len(toks) > 0
    ),
    b AS (SELECT doc_id, n_tokens, quality, round(quality, 4) AS bkt FROM q),
    hist AS (
      SELECT bkt, sum(CAST(n_tokens AS DOUBLE)) AS mass FROM b GROUP BY 1
    ),
    cum AS (
      SELECT bkt, mass,
             coalesce(sum(mass) OVER (ORDER BY bkt DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS mass_above
      FROM hist
    ),
    thr AS (
      SELECT bkt AS b0,
             least((60000.0 - mass_above)
                   / CASE WHEN mass > 0 THEN mass ELSE 1.0 END, 1.0) AS rate
      FROM cum WHERE mass_above < 60000.0 ORDER BY bkt LIMIT 1
    )
    SELECT b.doc_id, b.quality, b.n_tokens
    FROM b, thr
    WHERE b.bkt > thr.b0
       OR (b.bkt = thr.b0 AND {_SQL_U01_RAW} < thr.rate)
    """,
    doc="operators/sampling.budget_select staged for r9: keep the "
    "highest-quality documents until ~60k tokens. The oracle replays "
    "the full two-pass threshold — 4dp score-bucket token-mass "
    "histogram, strictly-above cumulative window (DESC, rows to 1 "
    "preceding), boundary rate, deterministic md5 boundary draw. All "
    "masses are integer-valued doubles and the rate divides identical "
    "operands, so every comparison is exact in both engines.",
    tags=("sampling", "curation", "staged-r9"),
)
def q_budget_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import (
        quality_score_from_tokens,
        tokens,
    )
    from datapipeline_spike_spark.operators.sampling import budget_select

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens("text").alias("toks")
    ).filter(F.size("toks") > 0)
    scored = d.select(
        "doc_id",
        F.round(quality_score_from_tokens(F.col("toks"), "text"), 6).alias(
            "quality"
        ),
        F.size("toks").alias("n_tokens"),
    )
    return budget_select(scored, "quality", "n_tokens", 60000.0, "doc_id")


# --- keep-best-copy dedup survivor policy -----------------------------------


@register(
    "dedup_survivor_policy",
    oracle="""
    WITH canon AS (
      SELECT doc_id, n_chars,
             min(doc_id) OVER (PARTITION BY (doc_id // 5)) AS canonical_id
      FROM documents
    ),
    best AS (
      SELECT canonical_id, doc_id AS keep_id,
             row_number() OVER (PARTITION BY canonical_id
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM canon
    )
    SELECT c.doc_id, b.keep_id
    FROM canon c JOIN best b
      ON c.canonical_id = b.canonical_id AND b.rn = 1
    """,
    doc="operators/dedup.select_canonical staged for r9: five-doc "
    "synthetic duplicate families (doc_id div 5 — the snapshot_delta "
    "keying precedent, testdata has no planted exact dups) resolved to "
    "the highest-n_chars member with min-id tie-break. The Spark side "
    "is the single mergeable max(struct(score,-id)) aggregate; the "
    "oracle replays it as a per-cluster rank — identical argmax "
    "semantics including ties.",
    tags=("dedup", "curation", "staged-r9"),
)
def q_dedup_survivor_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from datapipeline_spike_spark.operators.dedup import select_canonical

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assignments = d.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.expr("doc_id div 5")))
        .alias("canonical_id"),
    )
    return select_canonical(assignments, d, score_col="n_chars")


# --- HTML -> text extraction ------------------------------------------------

from datapipeline_spike_spark.operators.html import _BLOCK_TAGS as _BT  # noqa: E402

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


# --- bigram LM fluency scoring ----------------------------------------------


@register(
    "bigram_fluency",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS_R9} AS t FROM documents
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


# --- CCNet perplexity bucketing ---------------------------------------------


@register(
    "perplexity_bucket_profile",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_SQL_TOKS_R9}) AS tok FROM documents
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


# --- contrastive hard-negative mining ----------------------------------------

from datapipeline_spike_spark.plans.catalog_ml import _sql_plane_literal  # noqa: E402

# r11 (VERDICT r10 item 4): the registered path now exercises the
# DATA-DERIVED plane count — n_planes = clamp(ceil(log2(count/64)), 4,
# 16), computed in-plan from the corpus count. The oracle replays the
# same derivation: the full 16-bit splitmix-hyperplane signature masked
# to the low n bits (bit p = sign(v . plane_{p+1}), so the mask-limited
# bucket is bit-identical to assigning with n planes directly).
_AUTO_MIN_PLANES = 4
_AUTO_MAX_PLANES = 16
_AUTO_TARGET_BUCKET = 64

_SQL_BUCKET16 = " + ".join(
    f"(CASE WHEN list_inner_product(embedding::DOUBLE[], "
    f"{_sql_plane_literal(p + 1)}) >= 0 THEN {1 << p} ELSE 0 END)"
    for p in range(_AUTO_MAX_PLANES)
)

_SQL_HARD_NEG = f"""
    WITH np AS (
      SELECT least({_AUTO_MAX_PLANES}, greatest({_AUTO_MIN_PLANES},
             CAST(ceil(log2(count(*) / {float(_AUTO_TARGET_BUCKET)}))
                  AS INT))) AS n
      FROM embeddings
    ),
    v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev,
             ({_SQL_BUCKET16}) & ((1 << n) - 1) AS bucket
      FROM embeddings, np
    ),
    scored AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
             round(list_cosine_similarity(a.ev, c.ev), 6) AS cos_sim
      FROM v a JOIN v c USING (bucket)
      WHERE a.vec_id != c.vec_id AND a.label != c.label
    )
    SELECT anchor_id, negative_id, cos_sim, CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                    ORDER BY cos_sim DESC, negative_id) AS rnk
          FROM scored WHERE cos_sim < 0.95)
    WHERE rnk <= 3
    """


@register(
    "hard_negative_pairs",
    oracle=_SQL_HARD_NEG,
    doc="operators/similarity.hard_negative_mining staged for r9, "
    "re-registered r11 on the AUTO-plane path: for every anchor vector, "
    "the 3 hardest same-LSH-bucket negatives — most-similar candidates "
    "below the cos<0.95 unlabeled-positive ceiling with a DIFFERENT "
    "label. n_planes is derived in-plan from the corpus count "
    "(clamp(ceil(log2(n/64)), 4, 16) via a 1-row broadcast cross) so "
    "expected bucket size stays ~64 at any scale; the oracle replays "
    "the derivation, the 16-plane masked bucket assignment, the "
    "label-mismatch filter, and the rounded-cosine ranking exactly.",
    tags=("ml", "ann", "contrastive", "staged-r9"),
)
def q_hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import (
        hard_negative_mining,
    )

    e = load(spark, sf_dir, "embeddings")
    return hard_negative_mining(
        e, dim=64, k=3, hi=0.95, label_col="label",
        target_bucket=_AUTO_TARGET_BUCKET,
    ).select(
        "anchor_id", "negative_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


# --- binary (1-bit) Hamming ANN recall audit ----------------------------------

from datapipeline_spike_spark.operators.similarity import _plane as _r9_plane  # noqa: E402

_HAM_BITS = 62
_HAM_WORD = 31
_HAM_M = 50


def _sql_sign_word(bit_seeds: list[int]) -> str:
    terms = []
    for j, seed in enumerate(bit_seeds):
        arr = "[" + ", ".join(repr(float(x)) for x in _r9_plane(64, seed)) + "]"
        terms.append(
            f"(CASE WHEN list_inner_product(ev, {arr}) >= 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS INT)"


_SQL_HAM_WORDS = ", ".join(
    _sql_sign_word([301 + b for b in range(w, min(w + _HAM_WORD, _HAM_BITS))])
    + f" AS w{i}"
    for i, w in enumerate(range(0, _HAM_BITS, _HAM_WORD))
)


@register(
    "hamming_recall_at_k",
    oracle=f"""
    WITH codes AS (
      SELECT vec_id, ev, {_SQL_HAM_WORDS}
      FROM (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)
    ),
    ham AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.ev AS cv,
             q.ev AS qv,
             CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1))
                  AS INT) AS hamming
      FROM codes q JOIN codes c ON q.vec_id < 5 AND c.vec_id != q.vec_id
    ),
    cand AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id, qv, cv, hamming,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS hrank
        FROM ham
      ) WHERE hrank <= {_HAM_M}
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                          neighbor_id) AS rnk
        FROM cand
      ) WHERE rnk <= 5
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.ev, c.ev), 6) DESC,
                          c.vec_id) AS rnk
        FROM (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
              WHERE vec_id < 5) q
        JOIN (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings) c
          ON c.vec_id != q.vec_id
      ) WHERE rnk <= 5
    )
    SELECT exact.query_id,
           CAST(count(approx.neighbor_id) AS INT) AS n_hits,
           round(count(approx.neighbor_id) / 5.0, 6) AS recall
    FROM exact
    LEFT JOIN approx ON approx.query_id = exact.query_id
                    AND approx.neighbor_id = exact.neighbor_id
    GROUP BY 1
    """,
    doc="operators/similarity.sign_codes + hamming_topk staged for r9: "
    "recall@5 of the 62-bit 1-bit sign sketch (32x compression, the "
    "tier below SQ8 — completes the binary end of the quantization "
    "family audit set) against the exact cosine top-5. The coarse "
    "Hamming ranking is integer-exact cross-engine (packed 31-bit "
    "words, bit_count(xor)); the plane literals are inlined in both "
    "engines; float enters only the 6dp-rounded reranks. Rerank depth "
    "m=50 is the recall/cost knob; on these near-random synthetic "
    "embeddings the sketch measures ~0.5 recall@5 — the audit exists "
    "precisely to surface that number before anyone trusts the tier.",
    tags=("ml", "ann", "quantization", "staged-r9"),
)
def q_hamming_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from datapipeline_spike_spark.functions.vectors import cosine
    from datapipeline_spike_spark.operators.similarity import hamming_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = hamming_topk(emb, queries, dim=64, k=5, m=_HAM_M, n_bits=_HAM_BITS)

    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("fv"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    exact = (
        cv.crossJoin(F.broadcast(qv))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("fv"), F.col("cv")), 6).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id")
    )
    hits = exact.join(
        approx.select("query_id", "neighbor_id", F.lit(1).alias("hit")),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count("hit").cast("int").alias("n_hits"),
        F.round(F.count("hit") / 5.0, 6).alias("recall"),
    )


# --- Johnson-Lindenstrauss random projection ----------------------------------

_JL_K = 8


def _sql_jl_comp(j: int) -> str:
    signs = "[" + ", ".join(
        "1.0" if x >= 0 else "-1.0" for x in _r9_plane(64, 401 + j)
    ) + "]"
    return (f"round(list_inner_product(ev, {signs})"
            f" / sqrt(CAST({_JL_K} AS DOUBLE)), 6)")


@register(
    "random_projection_profile",
    oracle=f"""
    WITH p AS (
      SELECT vec_id, ev,
             {", ".join(_sql_jl_comp(j) + f" AS y{j}" for j in range(_JL_K))}
      FROM (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)
    )
    SELECT vec_id, {", ".join(f"y{j}" for j in range(_JL_K))},
           round(sqrt({" + ".join(f"y{j} * y{j}" for j in range(_JL_K))})
                 / sqrt(list_inner_product(ev, ev)), 6) AS norm_ratio
    FROM p
    """,
    doc="operators/similarity.random_projection staged for r9: "
    "64->8-dim Johnson-Lindenstrauss reduction with a deterministic "
    "Achlioptas +-1 sign matrix regenerated from (dim, k, seed) in "
    "both engines — the training-free embedding shrink in front of "
    "clustering/ANN (map-only, no fit pass, unlike PCA). Components "
    "round at 6dp (in-order fold = list_inner_product order); "
    "norm_ratio (||y||/||v||, the per-row JL distortion witness) is "
    "DERIVED from the rounded components on both sides, per the "
    "derive-from-quantized rule.",
    tags=("ml", "embedding", "staged-r9"),
)
def q_random_projection_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import random_projection

    e = load(spark, sf_dir, "embeddings")
    out = random_projection(e, dim=64, k=_JL_K)
    return out.select(
        "vec_id",
        *[F.element_at("proj", j + 1).alias(f"y{j}") for j in range(_JL_K)],
        "norm_ratio",
    )
