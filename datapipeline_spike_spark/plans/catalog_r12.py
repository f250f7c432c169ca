"""R12 catalog: the round-11 staged operators, REGISTERED (the
r10->r11 staging precedent, checklist at plans/__init__.py).

These six entries were staged in round 11 and burned down against the
DuckDB oracle locally via ``tests/test_r11_staging.py`` (full
differential comparison at sf0.001: row count + schema +
order-insensitive exact values, plus planted-property checks). Round 12
performs the documented mechanical move: the oracle SQL below is the
staging tests' SQL (aliases identical on both sides), the module is
imported by ``plans/__init__``, the six names take r12 head slots, and
the four promised plan-audit allowlist entries land in
tools/plan_audit.py (reliability_calibration_bins /
token_distribution_drift 1-row totals crosses, hubness_profile's
auto-plane count cross, ivfpq_recall_at_k's bounded-baseline cross).

``ivfpq_topk`` registers in its RECALL-AUDIT form (``ivfpq_recall_at_k``
— the pq_adc/ivf/sq8/hamming recall_at_k precedent, and the form the
r11 staging suite declared for r12): per-query recall@5 of the IVF-PQ
probe scan against the exact full-vector L2 top-5, so the registered
number quantifies what the coarse prune + residual compression cost in
neighbor fidelity — the index is only worth running when that number is
known (VERDICT r11 item 4b)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load, register


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


# --- classifier reliability / calibration bins ---------------------------------


@register(
    "reliability_calibration_bins",
    oracle=f"""
    WITH v AS (
      SELECT {_SQL_U01_DOC} AS s, length(text) >= 200 AS l
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


# --- unigram-distribution drift between snapshots ------------------------------


@register(
    "token_distribution_drift",
    oracle=f"""
    WITH toks AS (
      SELECT (lang = 'en') AS ia, unnest({_SQL_TOKS.format(c="text")}) AS tok
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


# --- ROUGE-N clipped n-gram overlap ---------------------------------------------


@register(
    "rouge_ngram_eval",
    oracle=f"""
    WITH pairs AS (
      SELECT doc_id AS pair_id, text AS candidate,
             CASE WHEN doc_id % 3 = 0 THEN text
                  WHEN doc_id % 3 = 1
                    THEN text || ' extra appended trailer words'
                  ELSE array_to_string(
                         list_reverse({_SQL_TOKS.format(c="text")}), ' ')
             END AS reference
      FROM documents
    ),
    cg AS (
      SELECT pair_id, g, count(*) AS cc FROM (
        SELECT pair_id, unnest(list_transform(range(1, len(t)),
               i -> array_to_string(t[i:i+1], ' '))) AS g
        FROM (SELECT pair_id, {_SQL_TOKS.format(c="candidate")} AS t FROM pairs)
        WHERE len(t) >= 2
      ) GROUP BY 1, 2
    ),
    rg AS (
      SELECT pair_id, g, count(*) AS cr FROM (
        SELECT pair_id, unnest(list_transform(range(1, len(t)),
               i -> array_to_string(t[i:i+1], ' '))) AS g
        FROM (SELECT pair_id, {_SQL_TOKS.format(c="reference")} AS t FROM pairs)
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


# --- embedding centroid drift between snapshots ---------------------------------


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH e AS (
      SELECT label, (vec_id % 2 = 0) AS ia, embedding::DOUBLE[] AS ev
      FROM embeddings
    ),
    d AS (
      SELECT label, ia, s.dim AS dim, s.val AS val FROM (
        SELECT label, ia,
               unnest(list_transform(range(1, len(ev) + 1),
                      i -> {'dim': i - 1, 'val': ev[i]})) AS s
        FROM e
      )
    ),
    pd AS (
      SELECT label, dim,
             round(sum(CASE WHEN ia THEN val END)
                   / sum(CASE WHEN ia THEN 1 ELSE 0 END), 6) AS ma,
             round(sum(CASE WHEN NOT ia THEN val END)
                   / sum(CASE WHEN NOT ia THEN 1 ELSE 0 END), 6) AS mb,
             sum(CASE WHEN ia THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN NOT ia THEN 1 ELSE 0 END) AS nb
      FROM d GROUP BY 1, 2
    ),
    ag AS (
      SELECT label,
             list(ma ORDER BY dim) AS ca, list(mb ORDER BY dim) AS cb,
             CAST(max(na) AS BIGINT) AS n_a,
             CAST(max(nb) AS BIGINT) AS n_b
      FROM pd GROUP BY 1
    )
    SELECT label, n_a, n_b,
           round(list_cosine_similarity(ca, cb), 6) AS centroid_cosine,
           round(sqrt(list_sum(list_transform(range(1, len(ca) + 1),
                 i -> (ca[i] - cb[i]) * (ca[i] - cb[i])))), 6)
             AS centroid_shift_l2
    FROM ag
    """,
    doc="operators/similarity.embedding_centroid_drift staged r11, "
    "registered r12: per-label centroid cosine + L2 shift between two "
    "snapshots (vec_id parity split) — the re-index/re-train trigger "
    "for 'did the embedding model or the content move under this "
    "label'. Per-dimension means quantized to 6dp FIRST, geometry "
    "derived from the quantized centroids (the quantize-then-derive "
    "convention). One posexplode -> (label, dim)-grain aggregate "
    "(bounded by |labels| x dim) -> sort-free struct-array reassembly; "
    "no windows, no collects.",
    tags=("similarity", "embedding", "drift", "staged-r11"),
)
def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import (
        embedding_centroid_drift,
    )

    e = load(spark, sf_dir, "embeddings").withColumn(
        "snap", (F.col("vec_id") % 2).cast("int")
    )
    return embedding_centroid_drift(
        e, snapshot_col="snap", snapshot_a=0, snapshot_b=1
    )


# --- k-occurrence hubness profile -----------------------------------------------


def _sql_hubness() -> str:
    from datapipeline_spike_spark.plans.catalog_r9 import (
        _AUTO_MAX_PLANES,
        _AUTO_MIN_PLANES,
        _AUTO_TARGET_BUCKET,
        _SQL_BUCKET16,
    )

    return f"""
    WITH np AS (
      SELECT least({_AUTO_MAX_PLANES}, greatest({_AUTO_MIN_PLANES},
             CAST(ceil(log2(count(*) / {float(_AUTO_TARGET_BUCKET)}))
                  AS INT))) AS n
      FROM embeddings
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             ({_SQL_BUCKET16}) & ((1 << n) - 1) AS bucket
      FROM embeddings, np
    ),
    scored AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(a.ev, c.ev), 6) AS cos_sim
      FROM v a JOIN v c USING (bucket)
      WHERE a.vec_id != c.vec_id
    ),
    topk AS (
      SELECT neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ),
    occ AS (
      SELECT CAST(coalesce(cnt, 0) AS BIGINT) AS nk
      FROM embeddings e LEFT JOIN (
        SELECT neighbor_id, count(*) AS cnt FROM topk GROUP BY 1
      ) t ON e.vec_id = t.neighbor_id
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(nk) AS BIGINT) AS s1,
             CAST(sum(nk * nk) AS BIGINT) AS s2,
             CAST(sum(nk * nk * nk) AS BIGINT) AS s3,
             CAST(max(nk) AS BIGINT) AS max_k_occ,
             CAST(sum(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans
      FROM occ
    )
    SELECT n AS n_vectors, n_orphans, max_k_occ,
           round(s1 * 1.0 / n, 6) AS mean_k_occ,
           CASE WHEN (s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)) > 0
                THEN round(
                  (s3 * 1.0 / n
                   - 3.0 * (s1 * 1.0 / n) * (s2 * 1.0 / n)
                   + 2.0 * (s1 * 1.0 / n) * (s1 * 1.0 / n) * (s1 * 1.0 / n))
                  / ((s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                     * sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n))),
                  6)
           END AS skew_k_occ
    FROM m
    """


@register(
    "hubness_profile",
    oracle=_sql_hubness(),
    doc="operators/similarity.hubness_profile staged r11, registered "
    "r12 (Radovanovic et al. 2010): the k-occurrence moment profile "
    "(mean/max/orphans/skew of N_k) over approximate top-5 neighbor "
    "lists from the auto-plane LSH bucket join — the health number a "
    "curation run reads before trusting neighbor-based ops (hubs "
    "degrade ANN recall, kNN, SemDeDup). Skew from exact integer raw "
    "moments S1/S2/S3 with one final double division. Rides "
    "hard_negative_mining's auto-plane 1-row count cross (BNLJ_OK, "
    "hard_negative_pairs argument); the profile itself is a |vectors|-"
    "row count aggregate + a 1-row reduce.",
    tags=("similarity", "embedding", "diagnostics", "staged-r11"),
)
def q_hubness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import hubness_profile

    return hubness_profile(load(spark, sf_dir, "embeddings"), dim=64, k=5)


# --- IVF-PQ recall audit ----------------------------------------------------------

_IVFPQ_K = 5


def _sql_ivfpq_adc(m=4, k_cb=8, iters=2, width=16, scale=1 << 20,
                   n_centroids=16, n_probe=2) -> str:
    """DuckDB replay of operators.similarity.ivfpq_topk up to the
    per-(query, neighbor) ADC distance CTE ``adc``: coarse lowest-id
    centroids -> rounded-L2 argmin assignment -> residuals -> the
    SHARED fixed-point PQ Lloyd's chain (catalog_ml._sql_pq_ctes
    trained on the residual prelude) -> min_by encode -> probed ADC.
    The staging test (tests/test_r11_staging.py) pins the top-k form;
    the registered oracle composes the recall tail onto this chain."""
    from datapipeline_spike_spark.plans.catalog_ml import _sql_pq_ctes

    l2 = ("list_aggregate(list_transform(range(1, len({a}) + 1), "
          "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')")
    prelude = f"""cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
      WHERE vec_id < {n_centroids}
    ),
    ce AS (SELECT vec_id AS cvid, embedding::DOUBLE[] AS cv FROM embeddings),
    asg AS (
      SELECT cvid, cid AS list_id, cvec, cv FROM (
        SELECT ce.cvid, c.cid, c.cvec, ce.cv,
               row_number() OVER (PARTITION BY cvid
                 ORDER BY round({l2.format(a="ce.cv", b="c.cvec")}, 6), c.cid)
                 AS rnk
        FROM ce, cents c
      ) WHERE rnk = 1
    ),
    resid AS (
      SELECT cvid AS vid, list_id,
             list_transform(range(1, len(cv) + 1), i -> cv[i] - cvec[i]) AS v
      FROM asg
    ),
    """
    sql, cb = _sql_pq_ctes(
        m, k_cb, iters, width, scale,
        prelude=prelude, source="SELECT vid, v FROM resid",
    )
    enc_l2 = ("list_aggregate(list_transform(range(1, len(a.v) + 1), "
              "i -> (a.v[i] - c.cvec[i]) * (a.v[i] - c.cvec[i])), 'sum')")
    qslices = ", ".join(
        f"qrv[{s * width + 1}:{(s + 1) * width}]" for s in range(m)
    )
    subspaces = ", ".join(str(s) for s in range(m))
    return sql + f"""
    , codes AS (
      SELECT vid, s, cent_id FROM (
        SELECT a.vid, a.s, c.cent_id,
               row_number() OVER (PARTITION BY a.s, a.vid
                 ORDER BY round({enc_l2}, 6), c.cent_id) AS rnk
        FROM sub a JOIN {cb} c USING (s)
      ) WHERE rnk = 1
    ),
    codesl AS (
      SELECT codes.*, r.list_id
      FROM codes JOIN (SELECT DISTINCT vid, list_id FROM resid) r USING (vid)
    ),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 5),
    probes AS (
      SELECT query_id, cid AS list_id,
             list_transform(range(1, len(qv) + 1), i -> qv[i] - cvec[i]) AS qrv
      FROM (
        SELECT q.query_id, c.cid, c.cvec, q.qv,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round({l2.format(a="q.qv", b="c.cvec")}, 6), c.cid)
                 AS rnk
        FROM q, cents c
      ) WHERE rnk <= {n_probe}
    ),
    qsub AS (
      SELECT query_id, list_id,
             unnest([{subspaces}]) AS s, unnest([{qslices}]) AS qsv
      FROM probes
    ),
    pair AS (
      SELECT qsub.query_id, codesl.vid AS neighbor_id,
             CAST(round(round({l2.format(a="qsub.qsv", b="cb.cvec")}, 6)
                        * 1000000) AS BIGINT) AS fp
      FROM codesl
      JOIN {cb} cb ON codesl.s = cb.s AND codesl.cent_id = cb.cent_id
      JOIN qsub ON codesl.list_id = qsub.list_id AND codesl.s = qsub.s
    ),
    adc AS (
      SELECT query_id, neighbor_id, CAST(sum(fp) AS BIGINT) AS adc_fp
      FROM pair WHERE neighbor_id != query_id GROUP BY 1, 2
    )
    """


def _sql_ivfpq_recall(k: int = _IVFPQ_K) -> str:
    l2full = ("list_aggregate(list_transform(range(1, len(q.fv) + 1), "
              "i -> (q.fv[i] - ce.cv[i]) * (q.fv[i] - ce.cv[i])), 'sum')")
    return _sql_ivfpq_adc() + f"""
    , approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_fp, neighbor_id) AS rnk FROM adc
      ) WHERE rnk <= {k}
    ),
    qfull AS (SELECT cvid AS query_id, cv AS fv FROM ce WHERE cvid < 5),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, ce.cvid AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round({l2full}, 6), ce.cvid) AS rnk
        FROM qfull q JOIN ce ON ce.cvid != q.query_id
      ) WHERE rnk <= {k}
    )
    SELECT exact.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(approx.neighbor_id) AS BIGINT) AS n_hits,
           round(count(approx.neighbor_id) * 1.0 / count(*), 6)
             AS recall_at_k
    FROM exact
    LEFT JOIN approx ON approx.query_id = exact.query_id
                    AND approx.neighbor_id = exact.neighbor_id
    GROUP BY 1
    """


@register(
    "ivfpq_recall_at_k",
    oracle=_sql_ivfpq_recall(),
    doc="operators/similarity.ivfpq_topk staged r11, registered r12 in "
    "its recall-audit form (the pq_adc/ivf/sq8/hamming recall_at_k "
    "precedent; Jegou et al. 2011 — faiss's billion-scale IVFx,PQy "
    "composite): per-query recall@5 of the coarse-pruned residual-PQ "
    "ADC scan against the exact full-vector L2 top-5, quantifying what "
    "the prune + compression cost in neighbor fidelity. The exact side "
    "is the documented bounded baseline (broadcast 5-row query set, one "
    "corpus scan — BNLJ_OK); the index side scans codes pruned to "
    "probed lists, never |corpus| x |queries| raw-vector math; the "
    "comparison join is (5 x k)-row. Oracle replays the full chain: "
    "lowest-id coarse centroids, rounded-L2 argmin, residual Lloyd's "
    "fixed-point codebooks, min_by encode, int64 fixed-point ADC.",
    tags=("similarity", "embedding", "ivf", "pq", "quality", "staged-r11"),
)
def q_ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.vectors import l2_sq
    from datapipeline_spike_spark.operators.similarity import ivfpq_topk

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    approx = (
        ivfpq_topk(e, queries, dim=64, k=_IVFPQ_K)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_fv"),
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("_cv"),
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    exact = (
        cv.crossJoin(F.broadcast(qv))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(l2_sq(F.col("_fv"), F.col("_cv")), 6).alias("dist"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _IVFPQ_K)
        .select("query_id", "neighbor_id")
    )
    return (
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("recall_at_k"),
        )
    )
