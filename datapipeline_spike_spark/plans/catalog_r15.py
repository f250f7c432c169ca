"""R15 catalog: the round-14 staged operators, REGISTERED (the
r12->r13->r14 staging pattern; checklist at plans/__init__.py, r15
registration section).

These eight entries were staged in round 14 and burned down against
the DuckDB oracle locally via ``tests/test_r14_staging.py`` (full
differential comparison at sf0.001 AND sf0.01: row count + schema +
order-insensitive exact values, plus planted-property checks and — for the audio path —
a 120-mutant fuzz contract). Round 15 performs the documented
mechanical move: the oracle SQL below is the staging tests' SQL
(aliases identical on both sides), the module is imported by
``plans/__init__``, the eight names take r15 head slots, and the
pre-measured plan-audit allowlist entries land in tools/plan_audit.py
(BNLJ_OK for boilerplate_line_removal's and bradley_terry_strengths'
1-row broadcast crosses, PANDAS_OK for audio_fingerprint_neardup's
mapInPandas decode; exact_substr_runs' cap cross re-measured at the
registered corpus per the r14 note).

Registered corpora reuse the staging plants so every operator has
planted positives to find at any scale factor:

- ``exact_substr_runs`` runs over QUOTE PAGES (every doc_id % 7 == 3
  page embeds its predecessor's full text — long verbatim runs).
- ``boilerplate_line_removal`` runs over LINED PAGES (a corpus-wide
  banner line + a 5-group promo line prefixed to every doc).
- ``url_canonical_dedup`` runs over deterministic URL variants
  (case/www/default-port/trailing-slash/tracking-param/fragment
  noise over a doc_id-derived (site, path, params) grid).
- ``audio_fingerprint_neardup`` runs over the planted WAV families on
  the deterministic ``doc_id % 5 = 3`` corpus slice — same bounding
  rationale as ``dhash_neardup_pairs``: same-(family, jitter) clips
  are byte-identical by construction, so PAIR OUTPUT is quadratic in
  family size and the slice keeps the registered grain
  driver-hashable while still scaling with sf.
- ``bradley_terry_strengths`` runs over a BT-consistent synthetic
  match log (true strength of item i proportional to i + 1; the
  deterministic md5 draw decides each match on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load, register
from datapipeline_spike_spark.scale import fan_out


# the engine's tokenizer (functions/text.tokens) in DuckDB terms:
# lowercase, split on non-[a-z0-9'], drop empties
_SQL_TOKS = (
    "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9'']+'),"
    " t -> t != '')"
)

# the engine's deterministic md5 [0,1) draw (operators/sampling.hash_u01)
_SQL_U01_DOC = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " / 4294967296.0)"
)

# the quoting plant shared with ngram_containment_pairs: every
# doc_id % 7 == 3 page embeds its predecessor's full text
_SQL_PAGES_QUOTE = """
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


# --- exact shared-substring runs (Lee 2022 ExactSubstr, relationalized) --------


@register(
    "exact_substr_runs",
    oracle=f"""
    WITH {_SQL_PAGES_QUOTE},
    t AS (SELECT doc_id, {_SQL_TOKS.format(c="text")} AS toks FROM pages),
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


# --- content-defined-chunking dedup profile ------------------------------------


@register(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS.format(c="text")} AS toks
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


# --- corpus-frequency boilerplate line stripping -------------------------------

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


# --- URL canonicalization dedup groups -----------------------------------------

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


# --- audio fingerprint near-dup pairs ------------------------------------------


def _sql_audio_words() -> str:
    """Per-doc (w0, w1) fingerprint words replayed from the planted
    waveform on the registered doc_id % 5 = 3 slice: frame energies
    are exact integer sums of |sample| over 64-sample frames, bit f =
    e[f+1] > e[f]. The oracle replays the FULL decode: the staging
    decode test proves WAV build -> RIFF walk -> int16 unpack -> frame
    energies equals this regeneration for every doc."""
    sample = (
        "abs((((i * i * (2 * fam + 3) + 5 * i"
        " + CASE WHEN i % 7 = 0 THEN jit ELSE 0 END) % 4001) - 2000))"
    )
    return f"""
    m AS (
      SELECT doc_id, CAST(doc_id % 16 AS BIGINT) AS fam,
             CAST((doc_id // 16) % 4 AS BIGINT) AS jit
      FROM documents WHERE doc_id % 5 = 3
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


# --- Bradley-Terry pairwise strengths ------------------------------------------

_SQL_MATCHES = f"""
    matches AS (
      SELECT 'm' || CAST(doc_id % 8 AS VARCHAR) AS item_a,
             'm' || CAST((doc_id // 8) % 8 AS VARCHAR) AS item_b,
             CASE WHEN {_SQL_U01_DOC} <
                  (doc_id % 8 + 1) * 1.0
                  / (doc_id % 8 + (doc_id // 8) % 8 + 2)
                  THEN 1 ELSE 0 END AS wins_a,
             CASE WHEN {_SQL_U01_DOC} <
                  (doc_id % 8 + 1) * 1.0
                  / (doc_id % 8 + (doc_id // 8) % 8 + 2)
                  THEN 0 ELSE 1 END AS wins_b
      FROM documents WHERE doc_id % 8 != (doc_id // 8) % 8
    )
"""


def _sql_bt(iters: int = 20) -> str:
    """The staging test's oracle chain: Hunter 2004's MM update
    unrolled per iteration over ONE row of item-sorted arrays,
    6dp-requantized each step exactly like the engine."""
    chain = f"""
    WITH {_SQL_MATCHES},
    pr AS (
      SELECT least(item_a, item_b) AS lo, greatest(item_a, item_b) AS hi,
             sum(CASE WHEN item_a <= item_b THEN wins_a ELSE wins_b END)
               AS wlo,
             sum(CASE WHEN item_a <= item_b THEN wins_b ELSE wins_a END)
               AS whi
      FROM matches WHERE item_a != item_b GROUP BY 1, 2
      HAVING sum(wins_a) + sum(wins_b) > 0
    ),
    per AS (
      SELECT item, sum(n) AS games, sum(w) AS wins FROM (
        SELECT lo AS item, wlo + whi AS n, wlo AS w FROM pr
        UNION ALL SELECT hi, wlo + whi, whi FROM pr
      ) GROUP BY 1
    ),
    base AS (
      SELECT list(item ORDER BY item) AS its,
             list(CAST(wins AS DOUBLE) ORDER BY item) AS ws,
             list({{'g': games, 'w': wins}} ORDER BY item) AS meta
      FROM per
    ),
    plist AS (
      SELECT list({{'ia': list_position(its, lo),
                   'ib': list_position(its, hi),
                   'n': CAST(wlo + whi AS DOUBLE)}}) AS pl
      FROM pr, base GROUP BY its
    ),
    s0 AS (
      SELECT its, ws, meta, pl,
             list_transform(its, x -> round(1.0 / len(its), 6)) AS a
      FROM base, plist
    )"""
    for t in range(iters):
        chain += f""",
    s{t}d AS (
      SELECT *, list_transform(range(1, len(its) + 1), i ->
        list_sum(list_transform(pl, p ->
          CASE WHEN p.ia = i OR p.ib = i
               THEN p.n / (a[p.ia] + a[p.ib]) ELSE 0.0 END))) AS d
      FROM s{t}
    ),
    s{t}u AS (
      SELECT *, list_transform(range(1, len(its) + 1), i ->
        CASE WHEN d[i] > 0 THEN ws[i] / d[i] ELSE 0.0 END) AS u
      FROM s{t}d
    ),
    s{t}z AS (SELECT *, list_sum(u) AS z FROM s{t}u),
    s{t + 1} AS (
      SELECT its, ws, meta, pl,
             list_transform(u, x -> round(x / z, 6)) AS a
      FROM s{t}z
    )"""
    return chain + f"""
    SELECT unnest(its) AS item,
           CAST(unnest(list_transform(meta, m2 -> m2.g)) AS BIGINT)
             AS n_games,
           CAST(unnest(list_transform(meta, m2 -> m2.w)) AS BIGINT)
             AS n_wins,
           unnest(a) AS strength
    FROM s{iters}
    """


@register(
    "bradley_terry_strengths",
    oracle=_sql_bt(),
    doc="""operators/preference.bradley_terry_strengths (staged r14,
    registered r15; Hunter 2004's MM algorithm): fit Bradley-Terry
    item strengths from a pairwise match log — the preference-model
    backbone under RLHF reward data and arena-style eval rankings.
    Both orientations of a pair fold in the first aggregate; per
    iteration the MM update runs over ONE assembled row of item-
    sorted arrays (the doremi posture: no joins, no windows, no
    driver collect inside the loop), 6dp-requantized each step so
    both engines walk identical trajectories; the pair-list cross is
    a 1-row broadcast (BNLJ_OK). Zero-win items converge to strength
    0; empty/self-only logs return an empty frame. Registered over a
    BT-consistent synthetic match log (true strength of item i
    proportional to i + 1, matches decided by the deterministic md5
    draw).""",
    tags=("preference", "ranking", "staged-r14"),
)
def q_bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.preference import (
        bradley_terry_strengths,
    )
    from datapipeline_spike_spark.operators.sampling import hash_u01

    d = load(spark, sf_dir, "documents").select("doc_id")
    ia = F.col("doc_id") % 8
    ib = (F.col("doc_id") / 8).cast("long") % 8
    u = hash_u01("doc_id")
    p = (ia + 1) / (ia + ib + 2)  # BT-consistent: s_i = i + 1
    matches = d.filter(ia != ib).select(
        F.concat(F.lit("m"), ia.cast("string")).alias("item_a"),
        F.concat(F.lit("m"), ib.cast("string")).alias("item_b"),
        (u < p).cast("long").alias("wins_a"),
        (u >= p).cast("long").alias("wins_b"),
    )
    return bradley_terry_strengths(matches)


# --- out-of-vocabulary rate profile --------------------------------------------


@register(
    "oov_rate_profile",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS.format(c="text")}) AS t
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


# --- character-bigram entropy profile ------------------------------------------


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
