"""R13 catalog: the round-12 staged operators, REGISTERED (the
r11->r12 staging precedent, checklist at plans/__init__.py:120-154).

These six entries were staged in round 12 and burned down against the
DuckDB oracle locally via ``tests/test_r12_staging.py`` (full
differential comparison at sf0.001: row count + schema +
order-insensitive exact values, plus planted-property checks), then
hardened in rounds 13-14 (dhash 8x8-bit complete-recall bands with a
ported oracle twin + scattered-bit recall proof; containment
df_cap_max quadratic-fan-out bound + floor<=max validation; doremi
log-sum-exp shifted update closing the exp-overflow). Round 14
performs the documented mechanical move: the oracle SQL below is the
staging tests' SQL (aliases identical on both sides), the module is
imported by ``plans/__init__``, the six names take r14 head slots, and
the promised plan-audit allowlist entries land in tools/plan_audit.py
(WINDOW_OK for sequence_packing_plan's bounded bucket-base sweep,
BNLJ_OK for ngram_containment_pairs' 1-row corpus-count cross,
PANDAS_OK for dhash's mapInPandas decode).

``dhash_neardup_pairs`` registers over a deterministic 20 % corpus
slice (doc_id % 5 = 3): the planted family corpus makes the PAIR
OUTPUT quadratic in family size by construction (the SCALE_PROBE_r12
amplify-documents caveat), so the slice keeps the registered result at
a driver-hashable grain while still scaling with the scale factor —
the operator itself is unbounded and its full-corpus behavior is
pinned by the staging differential + planted-family tests."""

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


# --- synthetic-text watermark detection ----------------------------------------


@register(
    "watermark_greenlist_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS.format(c="text")} AS t FROM documents),
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


# --- per-source quantile (rank) normalization ----------------------------------


@register(
    "quality_rank_normalize",
    oracle=f"""
    WITH v AS (
      SELECT doc_id, source, {_SQL_U01_DOC} AS score,
             round({_SQL_U01_DOC}, 4) AS b
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


# --- shingle containment near-dup pairs ----------------------------------------

_SQL_PAGES_QUOTE = """
    pages AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 7 = 3 AND q.text IS NOT NULL
                  THEN d.text || ' ' || q.text
                  ELSE d.text END AS text
      FROM documents d LEFT JOIN documents q ON q.doc_id = d.doc_id - 1
    )
"""


@register(
    "ngram_containment_pairs",
    oracle=f"""
    WITH {_SQL_PAGES_QUOTE},
    t AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [] END AS sh
      FROM (SELECT doc_id, {_SQL_TOKS.format(c="text")} AS toks FROM pages)
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

    d = load(spark, sf_dir, "documents")
    q = d.select((F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("_q"))
    pages = d.join(q, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 7 == 3) & F.col("_q").isNotNull(),
            F.concat("text", F.lit(" "), "_q"),
        ).otherwise(F.col("text")).alias("text"),
    )
    return ngram_containment_pairs(pages)


# --- perceptual-hash (dHash) image near-dup pairs ------------------------------


def _sql_dhash_words() -> str:
    """Per-doc (w0, w1) dHash words replayed from the planted family
    pattern (sources/multimodal.image_family_media_from_documents +
    dhash_bits_from_pixels) — 64 unrolled CASE terms, pixel k
    regenerated as (k*k*(2*fam+3) + 5*k + jit*(k%7==0)) % 256 at the
    nearest-neighbor sample grid positions. The oracle replays the
    FULL decode: PNG build -> inflate -> unfilter -> sample grid is
    proven equal to this regeneration by the staging decode test."""

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
      FROM documents WHERE doc_id % 5 = 3
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


# --- two-phase-cumsum sequence packing -----------------------------------------


@register(
    "sequence_packing_plan",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len({_SQL_TOKS.format(c="text")}) AS tk,
             {_SQL_U01_DOC} AS u
      FROM documents
    ),
    o AS (
      SELECT doc_id, tk,
             sum(tk) OVER (ORDER BY u, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tk
               AS off
      FROM d
    )
    SELECT doc_id, CAST(tk AS BIGINT) AS n_tokens,
           CAST(off AS BIGINT) AS pack_offset,
           CAST(off // 2048 AS BIGINT) AS first_seq,
           CAST(CASE WHEN tk > 0
                     THEN (off + tk - 1) // 2048 - off // 2048 + 1
                     ELSE 0 END AS BIGINT) AS n_seqs_spanned
    FROM o
    """,
    doc="""operators/sampling.sequence_packing_plan (staged r12,
    registered r14): the concat-and-chunk training-data layout — every
    document gets its exact global token offset in the shuffled packed
    stream and the seq_len=2048 sequences it spans. The offset is a
    TWO-PHASE bucketed cumsum (per-bucket partial sums, one bounded
    cumulative sweep over <= 256 bucket bases — WINDOW_OK — then a
    map-side bucket-base join), never a global running-sum window over
    the corpus; the registered differential proves it equals the naive
    global running sum exactly. Shuffle order is the deterministic md5
    [0,1) draw so both engines pack identically.""",
    tags=("sampling", "packing", "staged-r12"),
)
def q_sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import tokens
    from datapipeline_spike_spark.operators.sampling import (
        sequence_packing_plan,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).alias("tk")
    )
    return sequence_packing_plan(d, "tk")


# --- DoReMi multiplicative-weights domain mixture ------------------------------


def _sql_doremi(eta: float = 0.1, iters: int = 8) -> str:
    """The staging test's oracle chain (shifted log-sum-exp form —
    exponent <= 0, overflow-free, algebraically identical after each
    step's renormalization)."""
    chain = f"""
    WITH per AS (
      SELECT source AS d, CAST(count(*) AS BIGINT) AS n,
             round(avg(CAST(length(text) AS DOUBLE)), 6) AS loss
      FROM documents GROUP BY 1
    ),
    base AS (
      SELECT list(d ORDER BY d) AS ds, list(n ORDER BY d) AS ns,
             list(loss ORDER BY d) AS ls
      FROM per
    ),
    s0 AS (
      SELECT ds, ns, ls, list_max(ls) AS lm,
             list_transform(ls, x -> round(1.0 / len(ls), 6)) AS a
      FROM base
    )"""
    for t in range(iters):
        chain += f""",
    s{t}u AS (
      SELECT *, list_transform(range(1, len(a) + 1),
                 i -> a[i] * exp({eta} * (ls[i] - lm))) AS u
      FROM s{t}
    ),
    s{t}s AS (SELECT *, list_sum(u) AS s FROM s{t}u),
    s{t + 1} AS (
      SELECT ds, ns, ls, lm, list_transform(u, x -> round(x / s, 6)) AS a
      FROM s{t}s
    )"""
    return chain + f"""
    SELECT unnest(ds) AS source, unnest(ns) AS n_docs,
           unnest(ls) AS mean_loss, unnest(a) AS weight
    FROM s{iters}
    """


@register(
    "doremi_domain_weights",
    oracle=_sql_doremi(),
    doc="""operators/sampling.doremi_domain_weights (staged r12,
    registered r14; Xie et al. 2023, simplified to fixed per-domain
    proxy losses): Group-DRO multiplicative-weights domain reweighting
    — per step every domain's mixture weight multiplies by
    exp(eta * excess-loss) and renormalizes, concentrating on
    hard/underfit domains. Computed in the log-sum-exp SHIFTED form
    exp(eta * (loss - max_loss)) (exponent <= 0 — ADVICE r12's
    overflow class closed before this hash froze) on ONE assembled row
    of domain-sorted arrays via per-step column projections: no joins,
    no windows, no driver collect; weights re-quantized to 6dp each
    step so both engines walk identical trajectories.""",
    tags=("sampling", "mixture", "staged-r12"),
)
def q_doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sampling import (
        doremi_domain_weights,
    )

    d = load(spark, sf_dir, "documents").select(
        "source", F.length("text").alias("loss")
    )
    return doremi_domain_weights(d, "source", "loss")
