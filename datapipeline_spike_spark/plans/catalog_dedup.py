"""Dedup queries: survivor policy, span scrubbing, shingle containment,
exact shared-substring runs, content-defined chunking, URL
canonicalization, MinHash band tuning, and perceptual-hash near-dup
pairs over decoded images and audio.

Each query runs over a deterministic plant so it has duplicates to find
at any scale factor (testdata has no planted exact duplicates). The two
perceptual-hash pair queries (``dhash_neardup_pairs``,
``audio_fingerprint_neardup``) run over the ``doc_id % 5 = 3`` corpus
slice: same-(family, jitter) media are byte-identical by construction,
so their pair OUTPUT is quadratic in family size, and the slice keeps
the registered grain driver-hashable while still scaling with the scale
factor. The operators themselves are unbounded."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import SQL_TOKS, load, register
from datapipeline_spike_spark.scale import fan_out


# --- keep-best-copy dedup survivor policy ------------------------------------


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
    t AS (SELECT doc_id, {SQL_TOKS.format(c="text")} AS toks FROM pages),
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


# --- shingle containment near-dup pairs --------------------------------------

# the quoting plant of ngram_containment_pairs and exact_substr_runs:
# every doc_id % 7 == 3 page embeds its predecessor's full text
SQL_PAGES_QUOTE = """
    pages AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 7 = 3 AND q.text IS NOT NULL
                  THEN d.text || ' ' || q.text
                  ELSE d.text END AS text
      FROM documents d LEFT JOIN documents q ON q.doc_id = d.doc_id - 1
    )
"""


def _quote_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    q = d.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("_q")
    )
    return d.join(q, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 7 == 3) & F.col("_q").isNotNull(),
            F.concat("text", F.lit(" "), "_q"),
        ).otherwise(F.col("text")).alias("text"),
    )


@register(
    "ngram_containment_pairs",
    oracle=f"""
    WITH {SQL_PAGES_QUOTE},
    t AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [] END AS sh
      FROM (SELECT doc_id, {SQL_TOKS.format(c="text")} AS toks FROM pages)
    ),
    ex AS (SELECT doc_id, md5(unnest(sh)) AS h FROM t),
    freq AS (SELECT h, count(*) AS df FROM ex GROUP BY 1),
    cap AS (SELECT greatest(16, least(
                CAST(ceil(0.02 * count(*)) AS BIGINT), 65536))
              AS c FROM pages),
    kept AS (SELECT doc_id, ex.h FROM ex JOIN freq USING (h), cap
             WHERE df <= cap.c),
    sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             count(*) AS n_common
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT doc_id_a, doc_id_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
           round(n_common * 1.0 / sa.sz, 6) AS containment_a,
           round(n_common * 1.0 / sb.sz, 6) AS containment_b,
           round(greatest(n_common * 1.0 / sa.sz,
                          n_common * 1.0 / sb.sz), 6) AS max_containment
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_id_a
    JOIN sizes sb ON sb.doc_id = doc_id_b
    WHERE greatest(n_common * 1.0 / sa.sz, n_common * 1.0 / sb.sz) >= 0.5
    """,
    doc="""operators/dedup.ngram_containment_pairs (staged r12,
    registered r14; Broder 1997's containment measure): asymmetric
    shingle-overlap pairs catching PARTIAL INCLUSION (quoted excerpts,
    embedded pages, pasted benchmark questions) that symmetric
    Jaccard/LSH systematically under-scores. The registered corpus
    plants quoting pages (every doc_id % 7 == 3 page embeds its
    predecessor's full text — high containment, low Jaccard).
    Inverted-index equi-join candidates, document-frequency cap
    SCALE-DERIVED from a 1-row broadcast corpus count (BNLJ_OK — the
    auto-plane pattern) and bounded above by df_cap_max so per-shingle
    pair fan-out never exceeds the documented quadratic ceiling;
    floor<=max validated at the contract boundary (r14). No doc
    self-join, no windows.""",
    tags=("dedup", "containment", "staged-r12"),
)
def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    return ngram_containment_pairs(_quote_pages(spark, sf_dir))


# --- perceptual-hash (dHash) image near-dup pairs ----------------------------


def _sql_dhash_words(docs: str = "documents WHERE doc_id % 5 = 3") -> str:
    """Per-doc (w0, w1) dHash words replayed from the planted family
    pattern (sources/multimodal.image_family_media_from_documents +
    dhash_bits_from_pixels) over the ``docs`` relation (default: the
    registered slice) — 64 unrolled CASE terms, pixel k
    regenerated as (k*k*(2*fam+3) + 5*k + jit*(k%7==0)) % 256 at the
    nearest-neighbor sample grid positions. The oracle replays the
    FULL decode: PNG build -> inflate -> unfilter -> sample grid is
    proven equal to this regeneration by
    tests/test_r12_staging.py::test_dhash_decode_matches_python_replay."""

    def px(k: str) -> str:
        return (
            f"((({k}) * ({k}) * (2 * fam + 3) + 5 * ({k})"
            f" + CASE WHEN ({k}) % 7 = 0 THEN jit ELSE 0 END) % 256)"
        )

    def word(lo: int) -> str:
        terms = []
        for bi in range(lo, lo + 32):
            r, c = bi // 8, bi % 8
            ka = f"(({r} * h) // 8) * w + (({c} * w) // 9)"
            kb = f"(({r} * h) // 8) * w + (({c + 1} * w) // 9)"
            terms.append(
                f"CASE WHEN {px(ka)} < {px(kb)}"
                f" THEN {1 << (bi - lo)}::BIGINT ELSE 0 END"
            )
        return " + ".join(terms)

    return f"""
    m AS (
      SELECT doc_id, CAST(doc_id % 16 AS BIGINT) AS fam,
             CAST((doc_id // 16) % 4 AS BIGINT) AS jit
      FROM {docs}
    ),
    dims AS (
      SELECT doc_id, fam, jit, 9 + fam % 8 AS w, 8 + fam % 5 AS h FROM m
    ),
    hx AS (
      SELECT doc_id, {word(0)} AS w0, {word(32)} AS w1 FROM dims
    )"""


@register(
    "dhash_neardup_pairs",
    oracle=f"""
    WITH {_sql_dhash_words()},
    bands AS (
      -- 8x8-bit bands, the implementation's r13 complete-recall
      -- layout (band i: word i//4, shift 8*(i%4))
      SELECT doc_id, w0, w1, 0 AS band_idx, w0 & 255 AS band_val FROM hx
      UNION ALL SELECT doc_id, w0, w1, 1, (w0 >> 8) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 2, (w0 >> 16) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 3, (w0 >> 24) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 4, w1 & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 5, (w1 >> 8) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 6, (w1 >> 16) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 7, (w1 >> 24) & 255 FROM hx
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.w0, b.w0))
                  + bit_count(xor(a.w1, b.w1)) AS INT) AS hamming
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 6
    """,
    doc="""operators/dedup.dhash_neardup_pairs over
    sources/multimodal.decode_image_dhash (staged r12, registered r14):
    perceptual-hash image near-dup pairs — real PNG decode (chunk walk,
    zlib inflate, unfilter) to a 64-bit difference hash, then an 8-band
    Hamming pigeonhole over 8-bit bands (complete recall for every
    max_hamming <= 7; > 7 rejected loudly) with exact XOR-popcount
    verification on candidates only. mapInPandas decode (PANDAS_OK —
    the image_pixel_features precedent); AQE splits hot band-value
    buckets. Registered over the deterministic doc_id % 5 = 3 corpus
    slice: the planted family corpus makes pair OUTPUT quadratic in
    family size by construction, and the slice keeps the registered
    grain driver-hashable while scaling with sf (module docstring).""",
    tags=("dedup", "multimodal", "image", "pandas", "staged-r12"),
)
def q_dhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import dhash_neardup_pairs
    from datapipeline_spike_spark.sources.multimodal import (
        decode_image_dhash,
        image_family_media_from_documents,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 3)
    hashes = decode_image_dhash(image_family_media_from_documents(fan_out(d)))
    return dhash_neardup_pairs(hashes)


# --- exact shared-substring runs (Lee 2022 ExactSubstr, relationalized) ------


@register(
    "exact_substr_runs",
    oracle=f"""
    WITH {SQL_PAGES_QUOTE},
    t AS (SELECT doc_id, {SQL_TOKS.format(c="text")} AS toks FROM pages),
    g AS (
      SELECT doc_id, u.pos AS pos, u.h AS h
      FROM (
        SELECT doc_id, unnest(list_transform(
          range(1, len(toks) - 1),
          i -> {{'pos': i - 1,
                'h': md5(array_to_string(toks[i:i+2], ' '))}})) AS u
        FROM t WHERE len(toks) >= 3
      )
    ),
    freq AS (SELECT h, count(*) AS df FROM
              (SELECT DISTINCT doc_id, h FROM g) GROUP BY 1),
    cap AS (SELECT greatest(16, least(
                CAST(ceil(0.02 * count(*)) AS BIGINT), 65536))
              AS c FROM pages),
    kept AS (SELECT doc_id, pos, g.h FROM g JOIN freq USING (h), cap
             WHERE df <= cap.c),
    m AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT *, pa - row_number() OVER (
               PARTITION BY doc_id_a, doc_id_b, diag ORDER BY pa)
             AS grp
      FROM m
    )
    SELECT doc_id_a, doc_id_b,
           CAST(min(pa) AS BIGINT) AS run_start_a,
           CAST(min(pb) AS BIGINT) AS run_start_b,
           CAST(count(*) AS BIGINT) AS run_grams,
           CAST(count(*) + 2 AS BIGINT) AS run_tokens
    FROM isl
    GROUP BY doc_id_a, doc_id_b, diag, grp
    HAVING count(*) >= 2
    """,
    doc="""operators/dedup.exact_substr_runs (staged r14, registered
    r15; the suffix-array-free ExactSubstr of Lee et al. 2022): every
    maximal run of >= 2 consecutive shared trigrams between two
    documents — the verbatim-copied SPANS themselves, not a doc-grain
    score. Positional k-gram postings, DISTINCT-doc document-frequency
    cap (scale-derived from a 1-row broadcast corpus count), inverted-
    index equi-join, then the gaps-and-islands diagonal trick: matched
    (pa, pb) with pa - pb constant and consecutive pa ARE the maximal
    runs. Every shuffle keyed (gram hash, then pair+diagonal); the
    only window partitions by (pair, diagonal) — bounded by the
    df-capped match count, never corpus-grain. Registered over the
    quoting plant shared with ngram_containment_pairs.""",
    tags=("dedup", "substr", "staged-r14"),
)
def q_exact_substr_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import exact_substr_runs

    return exact_substr_runs(_quote_pages(spark, sf_dir))


# --- content-defined-chunking dedup profile ----------------------------------


@register(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS.format(c="text")} AS toks
               FROM documents),
    tok AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok
      FROM (
        SELECT doc_id, unnest(list_transform(
          range(1, len(toks) + 1),
          i -> {{'pos': i - 1, 'tok': toks[i]}})) AS u
        FROM t WHERE len(toks) > 0
      )
    ),
    fl AS (
      SELECT *, CASE WHEN substr(md5(tok), 1, 1) IN ('0', '1')
                     THEN 1 ELSE 0 END AS f
      FROM tok
    ),
    c AS (
      SELECT *, sum(f) OVER (PARTITION BY doc_id ORDER BY pos) - f
             AS chunk
      FROM fl
    ),
    ch AS (
      SELECT doc_id, chunk, count(*) AS ctoks,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
      FROM c GROUP BY 1, 2
    ),
    occ AS (SELECT fp, count(*) AS occ FROM ch GROUP BY 1)
    SELECT doc_id,
           CAST(sum(ctoks) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(sum(CASE WHEN occ >= 2 THEN ctoks ELSE 0 END) AS BIGINT)
             AS dup_tokens,
           round(sum(CASE WHEN occ >= 2 THEN ctoks ELSE 0 END) * 1.0
                 / sum(ctoks), 6) AS dup_token_fraction
    FROM ch JOIN occ USING (fp)
    GROUP BY 1
    """,
    doc="""operators/dedup.cdc_chunk_dedup (staged r14, registered
    r15; FastCDC/LBFS content-defined chunking at token grain): chunk
    boundaries fall after tokens whose md5 starts with a boundary hex
    digit (2/16 -> ~8-token mean chunks), so an insertion near a doc's
    head shifts offsets but leaves downstream chunk fingerprints
    intact — the shift-resistance fixed-size blocking lacks. Per doc:
    how much token mass lives in chunks occurring >= 2 times corpus-
    wide. One posexplode + one per-doc PARTITIONED prefix-sum window
    (linear, keyed by doc), (doc, chunk) aggregate, fingerprint df
    aggregate, doc rollup — no self-joins, no unpartitioned
    windows.""",
    tags=("dedup", "cdc", "staged-r14"),
)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import cdc_chunk_dedup

    return cdc_chunk_dedup(load(spark, sf_dir, "documents"))


# --- URL canonicalization dedup groups ---------------------------------------

# deterministic URL variants: case/www/default-port/trailing-slash/
# tracking-param/fragment noise over a doc_id-derived (site, path,
# params) grid
_SQL_URLS = """
    urls AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
        (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
        'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM' ||
        (CASE WHEN doc_id % 4 = 0 THEN
               (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE ':80' END)
              WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) ||
        '/Path/' || CAST(doc_id % 5 AS VARCHAR) ||
        (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
        '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR) ||
        '&a=' || CAST(doc_id % 2 AS VARCHAR) ||
        (CASE WHEN doc_id % 8 = 0 THEN '&fbclid=xyz' ELSE '' END) ||
        (CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END) AS url
      FROM documents
    )
"""

_SQL_CANON = """
    parsed AS (
      SELECT doc_id, url,
        lower(regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$',
          1)) AS scheme,
        regexp_replace(lower(regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$',
          2)), '^www\\.', '') AS host1,
        regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$',
          3) AS path0,
        regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$',
          4) AS qs
      FROM urls
    ),
    canon AS (
      SELECT doc_id, url,
        scheme || '://' ||
        (CASE WHEN scheme = 'http' AND host1 LIKE '%:80'
              THEN regexp_replace(host1, ':80$', '')
              WHEN scheme = 'https' AND host1 LIKE '%:443'
              THEN regexp_replace(host1, ':443$', '')
              ELSE host1 END) ||
        (CASE WHEN path0 = '' THEN '/'
              WHEN len(path0) > 1 AND path0 LIKE '%/'
              THEN regexp_replace(path0, '/$', '')
              ELSE path0 END) ||
        (CASE WHEN len(list_filter(string_split(
                    regexp_replace(qs, '^\\?', ''), '&'),
                p -> p != '' AND NOT regexp_matches(p,
                    '(?i)^(utm_[a-z]+|fbclid|gclid|ref)(=|$)'))) > 0
              THEN '?' || array_to_string(list_sort(list_filter(
                    string_split(regexp_replace(qs, '^\\?', ''), '&'),
                    p -> p != '' AND NOT regexp_matches(p,
                        '(?i)^(utm_[a-z]+|fbclid|gclid|ref)(=|$)'))), '&')
              ELSE '' END) AS canonical_url
      FROM parsed
      WHERE scheme != ''
    )
"""


def _url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    scheme = F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS")).otherwise(
        F.lit("http")
    )
    www = F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    port = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(
                F.lit(":80")
            ),
        )
        .when(F.col("doc_id") % 5 == 0, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    trail = F.when(F.col("doc_id") % 6 == 0, F.lit("/")).otherwise(F.lit(""))
    fb = F.when(F.col("doc_id") % 8 == 0, F.lit("&fbclid=xyz")).otherwise(
        F.lit("")
    )
    frag = F.when(F.col("doc_id") % 9 == 0, F.lit("#frag")).otherwise(
        F.lit("")
    )
    url = F.concat(
        scheme,
        F.lit("://"),
        www,
        F.lit("Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM"),
        port,
        F.lit("/Path/"),
        (F.col("doc_id") % 5).cast("string"),
        trail,
        F.lit("?utm_source=feed&b="),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("&a="),
        (F.col("doc_id") % 2).cast("string"),
        fb,
        frag,
    )
    return d.select("doc_id", url.alias("url"))


@register(
    "url_canonical_dedup",
    oracle=f"""
    WITH {_SQL_URLS},
    {_SQL_CANON},
    g AS (
      SELECT canonical_url, count(*) AS group_size,
             min(doc_id) AS rep
      FROM canon GROUP BY 1
    )
    SELECT c.doc_id, c.url, c.canonical_url,
           CAST(g.group_size AS BIGINT) AS group_size,
           c.doc_id = g.rep AS is_canonical
    FROM canon c JOIN g USING (canonical_url)
    """,
    doc="""operators/html.url_canonical_dedup over
    operators/html.canonical_url (staged r14, registered r15;
    RFC-3986-flavored normalization): lowercase scheme/host, strip
    www. and default ports, collapse trailing slash, drop fragments
    and tracking params (utm_*, fbclid, gclid, ref — case-insensitive,
    full-name anchored so 'reference' survives), sort surviving query
    params — then dedup groups with the lowest-id survivor rule
    shared with dedup_corpus. Unparseable URLs are excluded (no
    group). Map-only canonicalization + ONE canonical-keyed aggregate
    joined back — keyed shuffles only. Registered over a
    deterministic doc_id-derived variant grid that plants every
    collapse rule.""",
    tags=("dedup", "url", "web", "staged-r14"),
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.html import url_canonical_dedup

    return url_canonical_dedup(_url_docs(spark, sf_dir))


# --- audio fingerprint near-dup pairs ----------------------------------------


def _sql_audio_words(docs: str = "documents WHERE doc_id % 5 = 3") -> str:
    """Per-doc (w0, w1) fingerprint words replayed from the planted
    waveform over the ``docs`` relation (default: the registered
    doc_id % 5 = 3 slice): frame energies
    are exact integer sums of |sample| over 64-sample frames, bit f =
    e[f+1] > e[f]. The oracle replays the FULL decode:
    tests/test_r14_staging.py::test_audio_fingerprint_decode_matches_python_replay
    proves WAV build -> RIFF walk -> int16 unpack -> frame
    energies equals this regeneration for every doc."""
    sample = (
        "abs((((i * i * (2 * fam + 3) + 5 * i"
        " + CASE WHEN i % 7 = 0 THEN jit ELSE 0 END) % 4001) - 2000))"
    )
    return f"""
    m AS (
      SELECT doc_id, CAST(doc_id % 16 AS BIGINT) AS fam,
             CAST((doc_id // 16) % 4 AS BIGINT) AS jit
      FROM {docs}
    ),
    es AS (
      SELECT doc_id,
             list_transform(range(0, 65), f ->
               list_sum(list_transform(range(f * 64, (f + 1) * 64),
                 i -> {sample}))) AS e
      FROM m
    ),
    hx AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 32), f ->
               CASE WHEN e[f + 2] > e[f + 1]
                    THEN (1::BIGINT << f) ELSE 0 END)) AS w0,
             list_sum(list_transform(range(32, 64), f ->
               CASE WHEN e[f + 2] > e[f + 1]
                    THEN (1::BIGINT << (f - 32)) ELSE 0 END)) AS w1
      FROM es
    )"""


@register(
    "audio_fingerprint_neardup",
    oracle=f"""
    WITH {_sql_audio_words()},
    -- candidate generation is layout-irrelevant to the RESULT: both
    -- the engine's multi-probe join and this 8x8 band replay are
    -- complete for hamming <= 7, so the output is exactly the pair
    -- set within hamming 6 (kept verbatim from the staging test)
    bands AS (
      SELECT doc_id, w0, w1, 0 AS band_idx, w0 & 255 AS band_val FROM hx
      UNION ALL SELECT doc_id, w0, w1, 1, (w0 >> 8) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 2, (w0 >> 16) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 3, (w0 >> 24) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 4, w1 & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 5, (w1 >> 8) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 6, (w1 >> 16) & 255 FROM hx
      UNION ALL SELECT doc_id, w0, w1, 7, (w1 >> 24) & 255 FROM hx
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.w0, b.w0))
                  + bit_count(xor(a.w1, b.w1)) AS INT) AS hamming
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 6
    """,
    doc="""sources/multimodal.decode_audio_fingerprint +
    operators/dedup.dhash_neardup_pairs reused GENERICALLY on
    fingerprint words (staged r14, registered r15): real WAV decode
    (RIFF chunk walk -> int16 PCM -> exact integer frame energies ->
    64-bit energy-contour fingerprint, the audio analogue of the image
    dHash) feeding the shared 16-bit multi-probe banded-Hamming join —
    complete recall at hamming <= 6, exact XOR-popcount verification
    on candidates only, and since r15 the ~n^2/964 multi-probe
    candidate posture (DHASH_PROBE_r15.json) instead of the old
    ~n^2/32 8-bit-band fan-out. mapInPandas decode (PANDAS_OK).
    Registered over the planted WAV families on the doc_id % 5 = 3
    slice (module docstring: pair output is quadratic in family size
    by construction; the slice keeps the grain driver-hashable).
    Corrupt/short/non-PCM payloads yield NULL words and are excluded
    by the join's null filter (120-mutant fuzz contract in
    tests/test_r14_staging.py).""",
    tags=("dedup", "multimodal", "audio", "pandas", "staged-r14"),
)
def q_audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import dhash_neardup_pairs
    from datapipeline_spike_spark.sources.multimodal import (
        audio_family_media_from_documents,
        decode_audio_fingerprint,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 3)
    fp = decode_audio_fingerprint(audio_family_media_from_documents(fan_out(d)))
    return dhash_neardup_pairs(fp, w0_col="fp_w0", w1_col="fp_w1")


# --- minhash band tuning -----------------------------------------------------


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
