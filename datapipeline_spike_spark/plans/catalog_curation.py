"""Curation-assembly queries (r9): the end-to-end ``curate_corpus``
funnel profile and the paragraph-grain dedup profile, each with a full
stage-replayed DuckDB oracle.

The documents testdata has no newlines, so both queries plant
deterministic paragraph structure (the synthesized PNG/WAV/HTML-page
precedent): every document becomes

    'common header boilerplate' \\n <text> \\n 'footer for lang <lang>'

— a corpus-wide duplicate header (one winner: doc 0 pos 0), a unique
body, and a per-language duplicate footer (one winner per language).
The same concatenation is expressed verbatim in SQL on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.catalog_extensions import (
    _sql_dedup_assign_ctes,
)
from datapipeline_spike_spark.plans.registry import (
    SQL_TOKS,
    SQL_U01,
    load,
    register,
    sql_quality6,
)

# --- shared SQL fragments -----------------------------------------------------


def _sql_redact(text: str) -> str:
    """operators.redaction.redact replay (pattern order preserved)."""
    from datapipeline_spike_spark.operators.redaction import PII_PATTERNS

    red = text
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return red


# the synthetic paged corpus, identical text on both engines
_SQL_PAGES = (
    "SELECT doc_id, 'common header boilerplate' || chr(10) || text"
    " || chr(10) || 'footer for lang ' || lang AS text FROM documents"
)

# paragraph_dedup replay on the pages relation: split -> first-occurrence
# winner by (doc_id, pos) -> in-order reassembly (docs whose every
# paragraph lost stay as empty text, matching the operator's left join)
_SQL_PARA_CTES = f"""
    pages AS ({_SQL_PAGES}),
    parts0 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(p) + 1),
             i -> struct_pack(pos := i - 1, para := p[i]))) AS s
      FROM (SELECT doc_id, string_split(text, chr(10)) AS p FROM pages)
    ),
    parts AS (
      SELECT doc_id, s.pos AS pos, s.para AS para FROM parts0
      WHERE trim(s.para) != ''
    ),
    fps AS (
      SELECT doc_id, pos, para, md5(trim(lower(para))) AS f FROM parts
    ),
    keepp AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY f ORDER BY doc_id, pos) = 1
               AS keep
      FROM fps
    ),
    cleaned AS (
      SELECT doc_id,
             coalesce(string_agg(para, chr(10) ORDER BY pos)
                      FILTER (WHERE keep), '') AS text,
             CAST(count(*) AS INT) AS n_paragraphs,
             CAST(count(*) FILTER (WHERE keep) AS INT) AS n_kept
      FROM keepp GROUP BY doc_id
    )
"""


@register(
    "paragraph_dedup_profile",
    oracle=f"""
    WITH {_SQL_PARA_CTES}
    SELECT p.doc_id,
           coalesce(c.text, '') AS text,
           coalesce(c.n_paragraphs, 0) AS n_paragraphs,
           coalesce(c.n_kept, 0) AS n_kept
    FROM pages p LEFT JOIN cleaned c ON p.doc_id = c.doc_id
    """,
    doc="""operators/dedup.paragraph_dedup registered (the last r8
    library operator without a registry row): MassiveText/Gopher
    paragraph-grain boilerplate removal — posexplode, min-struct
    first-occurrence winner per normalized-paragraph fingerprint,
    fingerprint join, ordered reassembly. The planted header is a
    500-way corpus duplicate (kept once, by doc 0) and each footer an
    ~SF*100-way per-language duplicate, so the removal path does real
    cross-document work; bodies survive untouched. Scale shape: no
    windows over the corpus, no self-join — the mega-duplicated header
    is a single aggregate key (AQE-splittable), and the oracle replays
    winner selection as an equivalent rank.""",
    tags=("dedup", "curation", "text"),
)
def q_paragraph_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import paragraph_dedup

    d = load(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("common header boilerplate\n"),
            F.col("text"),
            F.lit("\nfooter for lang "),
            F.col("lang"),
        ).alias("text"),
    )
    return paragraph_dedup(pages, text_col="text", id_col="doc_id", sep="\n")


# --- end-to-end curation funnel -----------------------------------------------

_MIN_QUALITY = 0.45
_TOKEN_BUDGET = 8000.0
_N_SHARDS = 4

_T = SQL_TOKS.format(c="text")

_SQL_CURATION = f"""
    WITH RECURSIVE {_SQL_PARA_CTES},
    cne AS (
      SELECT doc_id, text FROM cleaned WHERE length(text) > 0
    ),
    scored AS (
      SELECT doc_id, text, quality, len(toks) AS n_tokens
      FROM (SELECT doc_id, text, toks,
                   {sql_quality6("toks", "text")} AS quality
            FROM (SELECT doc_id, text, {_T} AS toks FROM cne))
      WHERE quality >= {_MIN_QUALITY}
    ),
    {_sql_dedup_assign_ctes("scored")},
    ranked AS (
      SELECT a.canonical_id, a.doc_id,
             row_number() OVER (PARTITION BY a.canonical_id
                                ORDER BY s.quality DESC, a.doc_id) AS rn
      FROM assignment a JOIN scored s ON a.doc_id = s.doc_id
    ),
    survivors AS (
      SELECT s.* FROM scored s
      JOIN ranked r ON s.doc_id = r.doc_id AND r.rn = 1
    ),
    red AS (
      SELECT doc_id, {_sql_redact("text")} AS text, quality, n_tokens
      FROM survivors
    ),
    hist AS (
      SELECT round(quality, 4) AS bkt, sum(CAST(n_tokens AS DOUBLE)) AS mass
      FROM red GROUP BY 1
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
             least(({_TOKEN_BUDGET} - mass_above)
                   / CASE WHEN mass > 0 THEN mass ELSE 1.0 END, 1.0) AS rate
      FROM cum WHERE mass_above < {_TOKEN_BUDGET} ORDER BY bkt LIMIT 1
    ),
    sel AS (
      SELECT r.* FROM red r, thr
      WHERE round(r.quality, 4) > thr.b0
         OR (round(r.quality, 4) = thr.b0
             AND {SQL_U01.format(k="CAST(r.doc_id AS VARCHAR)")} < thr.rate)
    ),
    sharded AS (
      SELECT doc_id, text,
             CAST(floor({SQL_U01.format(k="CAST(doc_id AS VARCHAR) || '#0'")}
                        * {_N_SHARDS}) AS INT) AS shard
      FROM sel
    ),
    funnel AS (
      SELECT '00_input' AS stage, count(*) AS n_docs,
             coalesce(sum(len({_T})), 0) AS n_tokens FROM pages
      UNION ALL
      SELECT '10_paragraph_dedup', count(*), coalesce(sum(len({_T})), 0)
      FROM cne
      UNION ALL
      SELECT '20_quality_floor', count(*), coalesce(sum(len({_T})), 0)
      FROM scored
      UNION ALL
      SELECT '30_neardup_best_copy', count(*), coalesce(sum(len({_T})), 0)
      FROM survivors
      UNION ALL
      SELECT '40_redacted', count(*), coalesce(sum(len({_T})), 0) FROM red
      UNION ALL
      SELECT '50_budget', count(*), coalesce(sum(len({_T})), 0) FROM sel
      UNION ALL
      SELECT '60_shard_' || CAST(shard AS VARCHAR), count(*),
             coalesce(sum(len({_T})), 0)
      FROM sharded GROUP BY shard
    )
    SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM funnel
"""


@register(
    "curation_stage_profile",
    oracle=_SQL_CURATION,
    doc="""The flagship §2.11 deliverable as ONE oracle-checked query:
    operators/curation.curate_corpus run end to end on the paged
    corpus — paragraph boilerplate dedup, quality floor (0.45), LSH
    near-dup collapse with keep-best-copy survivors, PII redaction,
    token-budget selection (8k), deterministic 4-shard split — reported
    as its acceptance funnel: (stage, n_docs, n_tokens) per stage plus
    one row per training shard. The oracle replays EVERY stage in SQL:
    the paragraph CTEs, the quality expression, the shared
    exact-collapse -> LSH -> Jaccard -> transitive-closure dedup chain
    (parameterized over the mid-pipeline 'scored' relation), the argmax
    survivor rank, the redaction regex chain, the histogram-threshold
    budget cut, and the md5 shard draw — so the driver hash certifies
    the COMPOSITION, not just the stages in isolation. Tokens are
    recomputed from each stage's current text (the funnel downstream
    actually trains on). Scale: the profile adds one bounded aggregate
    per stage on top of the pipeline's own guarded-LSH cost. The
    returned DataFrame is lazy and reads the funnel's persisted
    frames, so they outlive this call: wrap the call and its
    consumption in ``cache.scoped_cache`` to release them (as
    tools/check_oracle does), or drain the session between jobs with
    ``cache.unpersist_all`` (as bench.py does).""",
    tags=("curation", "pipeline", "dedup", "quality", "sampling"),
)
def q_curation_stage_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.curation import curation_profile

    d = load(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("common header boilerplate\n"),
            F.col("text"),
            F.lit("\nfooter for lang "),
            F.col("lang"),
        ).alias("text"),
    )
    return curation_profile(
        pages,
        min_quality=_MIN_QUALITY,
        jaccard_threshold=0.8,
        token_budget=_TOKEN_BUDGET,
        n_shards=_N_SHARDS,
    )


# --- Gopher heuristic quality gate ---------------------------------------------

_W = "list_filter(string_split_regex(text, '\\s+'), w -> w != '')"
_SQL_GOPHER_STOP = "['the','be','to','of','and','that','have','with']"
_LN = ("list_filter(list_transform(string_split(text, chr(10)),"
       " l -> trim(l)), l -> l != '')")


@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, text, {_W} AS words, {_LN} AS lines FROM documents
    ),
    m AS (
      SELECT doc_id,
        CAST(len(words) AS BIGINT) AS n_words,
        CASE WHEN len(words) > 0 THEN
          round(list_aggregate(list_transform(words, x -> length(x)), 'sum')
                * 1.0 / len(words), 6) END AS mean_word_len,
        CASE WHEN len(words) > 0 THEN
          round((len(regexp_extract_all(text, '#'))
                 + len(regexp_extract_all(text, '\\.\\.\\.'))
                 + len(regexp_extract_all(text, '…')))
                * 1.0 / len(words), 6) END AS symbol_word_ratio,
        CASE WHEN len(words) > 0 THEN
          round(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
                * 1.0 / len(words), 6) END AS alpha_word_ratio,
        CAST((
          {" + ".join(
            f"CASE WHEN list_contains(list_transform(words, x -> lower(x)), "
            f"'{sw}') THEN 1 ELSE 0 END"
            for sw in ("the", "be", "to", "of", "and", "that", "have", "with")
          )}
        ) AS INT) AS n_gopher_stopwords,
        CASE WHEN len(lines) > 0 THEN
          round(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
                * 1.0 / len(lines), 6) END AS bullet_line_ratio,
        CASE WHEN len(lines) > 0 THEN
          round(len(list_filter(lines,
                    l -> regexp_matches(l, '(\\.\\.\\.|…)$')))
                * 1.0 / len(lines), 6) END AS ellipsis_line_ratio
      FROM w
    ),
    r AS (
      SELECT *,
        coalesce(n_words >= 50 AND n_words <= 100000, FALSE) AS ok_word_count,
        coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, FALSE)
          AS ok_mean_word_len,
        coalesce(symbol_word_ratio <= 0.1, FALSE) AS ok_symbol_ratio,
        coalesce(bullet_line_ratio <= 0.9, FALSE) AS ok_bullet_lines,
        coalesce(ellipsis_line_ratio <= 0.3, FALSE) AS ok_ellipsis_lines,
        coalesce(alpha_word_ratio >= 0.8, FALSE) AS ok_alpha_words,
        coalesce(n_gopher_stopwords >= 2, FALSE) AS ok_stopwords
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           alpha_word_ratio, n_gopher_stopwords, bullet_line_ratio,
           ellipsis_line_ratio, ok_word_count, ok_mean_word_len,
           ok_symbol_ratio, ok_bullet_lines, ok_ellipsis_lines,
           ok_alpha_words, ok_stopwords,
           (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
            AND ok_bullet_lines AND ok_ellipsis_lines AND ok_alpha_words
            AND ok_stopwords) AS gopher_pass
    FROM r
    """,
    doc="""operators/quality.gopher_quality_columns (Rae et al. 2021
    Appendix A1.1): the canonical MassiveText heuristic gate — word
    count 50..100k, mean word length 3..10, symbol-to-word <= 0.1,
    bullet-line <= 0.9 / ellipsis-line <= 0.3, alphabetic-word >= 0.8,
    >= 2 canonical stop-words — every measured column, every per-rule
    boolean, and the conjunction hash-verified. Map-only scan stage
    (whitespace split + array HOFs + regexp counts), no shuffle at any
    corpus size.""",
    tags=("text", "quality", "curation"),
)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.quality import (
        gopher_quality_columns,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality_columns(d).drop("text")


# --- C4 line/page cleaning -----------------------------------------------------

_SQL_C4_PAGES = f"""
    t AS (SELECT doc_id, {_T} AS toks FROM documents),
    lines0 AS (
      SELECT doc_id,
        list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
          i -> array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ')
               || CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END)
          AS la
      FROM t WHERE len(toks) > 0
    ),
    pages AS (
      SELECT doc_id,
        array_to_string(la, chr(10))
        || CASE WHEN doc_id % 7 = 0
             THEN chr(10) || 'visit the javascript alert page now today.'
             ELSE '' END
        || CASE WHEN doc_id % 11 = 0
             THEN chr(10) || 'lorem ipsum dolor sit amet consectetur text.'
             ELSE '' END
        || CASE WHEN doc_id % 13 = 0
             THEN chr(10) || 'config block {{ nested value }} here done.'
             ELSE '' END AS text
      FROM lines0
    )
"""


@register(
    "c4_line_filters",
    oracle=f"""
    WITH {_SQL_C4_PAGES.replace("{{", "{").replace("}}", "}")},
    l AS (
      SELECT doc_id, text,
        list_filter(list_transform(string_split(text, chr(10)),
                    x -> trim(x)), x -> x != '') AS alllines,
        list_filter(list_transform(string_split(text, chr(10)),
                    x -> trim(x)),
          x -> regexp_matches(x, '[.!?]$')
               AND len(list_filter(string_split_regex(x, '\\s+'),
                                   w -> w != '')) >= 5
               AND NOT contains(lower(x), 'javascript')) AS keptl
      FROM pages
    )
    SELECT doc_id,
           CAST(len(alllines) AS BIGINT) AS n_lines,
           CAST(len(keptl) AS BIGINT) AS n_kept,
           -- coalesce: DuckDB array_to_string([]) is NULL, Spark
           -- array_join([]) is '' — a zero-kept-lines page must
           -- fingerprint as md5('') on both engines (preflight r14)
           md5(coalesce(array_to_string(keptl, chr(10)), '')) AS kept_fp,
           CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
                WHEN contains(text, '{{') THEN 'curly_brace'
                WHEN len(keptl) < 3 THEN 'too_few_sentences'
                ELSE 'ok' END AS drop_reason,
           (CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
                 WHEN contains(text, '{{') THEN 'curly_brace'
                 WHEN len(keptl) < 3 THEN 'too_few_sentences'
                 ELSE 'ok' END) = 'ok' AS page_keep
    FROM l
    """.replace("{{", "{").replace("}}", "}"),
    doc="""operators/quality.c4_line_filters (Raffel et al. 2020 §2.2):
    terminal-punctuation / min-5-words / no-javascript line rules plus
    the lorem-ipsum / curly-brace / min-3-sentences page rules. The
    corpus has no line structure, so each document is deterministically
    paginated (8-token lines, punctuation on a (doc_id+i)%3 stripe) and
    three corruption stripes plant one violation each — the same SQL
    text builds the page on both engines, and the kept-text md5 proves
    the surviving lines match byte for byte. Map-only scan stage.""",
    tags=("text", "quality", "curation"),
)
def q_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import tokens
    from datapipeline_spike_spark.operators.quality import c4_line_filters

    d = load(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    ).filter(F.size("toks") > 0)
    i8 = lambda i: i * 8  # noqa: E731
    lines_arr = F.transform(
        F.sequence(
            F.lit(0), (F.ceil(F.size("toks") / F.lit(8.0)) - 1).cast("int")
        ),
        lambda i: F.concat(
            F.array_join(F.slice(F.col("toks"), i * 8 + 1, 8), " "),
            F.when((F.col("doc_id") + i) % 3 != 0, F.lit(".")).otherwise(
                F.lit("")
            ),
        ),
    )
    page = F.concat(
        F.array_join(lines_arr, "\n"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\nvisit the javascript alert page now today."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("\nlorem ipsum dolor sit amet consectetur text."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.lit("\nconfig block { nested value } here done."),
        ).otherwise(F.lit("")),
    )
    paged = d.select("doc_id", page.alias("text"))
    return c4_line_filters(paged).select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5("kept_text").alias("kept_fp"),
        "drop_reason",
        "page_keep",
    )


# --- per-domain frequency cap ---------------------------------------------------


@register(
    "domain_cap_sample",
    oracle="""
    WITH u AS (
      SELECT doc_id, source, lang,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#cap'), 1, 8))
              ::BIGINT / 4294967296.0) AS uu
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, lang, uu,
             row_number() OVER (PARTITION BY source
               ORDER BY uu, CAST(doc_id AS VARCHAR) || '#cap') AS rnk
      FROM u
    )
    SELECT doc_id, source, lang, round(uu, 6) AS cap_u,
           CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 15
    """,
    doc="""operators/sampling.domain_cap: the C4/RefinedWeb per-domain
    frequency cap — at most 15 documents per source, selected as the
    deterministic bottom-15 of a content hash (layout/rerun-invariant,
    unbiased within the domain) rather than first-k-seen. Runs through
    the salted two-phase bottom_k_per_group, so a mega-domain never
    funnels through a single reducer; the hash key is a dyadic
    rational, exact in both engines, and the oracle replays the
    selection as the equivalent rank (cap_u displayed at 6dp, ranked
    unrounded).""",
    tags=("sampling", "curation", "dedup"),
)
def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sampling import domain_cap

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    out = domain_cap(
        d,
        "source",
        15,
        F.concat(F.col("doc_id").cast("string"), F.lit("#cap")),
        keep_rank=True,
    )
    return out.select(
        "doc_id",
        "source",
        "lang",
        F.round("cap_u", 6).alias("cap_u"),
        F.col("rnk").cast("int").alias("rnk"),
    )
