"""North-star extension queries (SURVEY.md §2.11; BASELINE.json):
text analysis, dedup families, similarity search, multimodal metadata —
over ``documents``/``embeddings``.

Oracle portability techniques:
- all hashing is md5/sha256 (identical lowercase hex in both engines);
  numeric hashes = first 8 md5 hex chars as base-16 (< 2^32, exact);
- MinHash values are lexicographic minima of hex STRINGS (portable
  compare, no modular arithmetic drift);
- similarity ranks are computed on ROUNDED scores with id tiebreaks;
- the documents corpus plants real near-duplicate clusters (top
  candidate-pair 3-shingle Jaccard ~0.99, including transitive chains),
  so the LSH/Jaccard/component queries exercise true merges; planted
  edge-case recall is additionally proven in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipeline_spike_spark.cache import materialize_barrier
from datapipeline_spike_spark.functions import text as Tx
from datapipeline_spike_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
)
from datapipeline_spike_spark.operators.similarity import brute_force_topk
from datapipeline_spike_spark.plans.registry import SQL_TOKS, load, register
from datapipeline_spike_spark.scale import fan_out

R = 6

# DuckDB token expression mirroring functions.text.tokens()
_SQL_TOKS = SQL_TOKS.format(c="text")
# DuckDB 3-shingle expression mirroring functions.text.shingles(k=3)
_SQL_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform("
    "range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) "
    "ELSE [] END"
)


def _sql_stopword_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in Tx.STOPWORDS[lang]) + "]"


@register(
    "doc_fingerprint_dedup",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup: hash-groupBy on the normalized-text md5 "
    "fingerprint — one shuffle, the 100 TB-safe exact form.",
    tags=("dedup", "text"),
)
def q_doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load(spark, sf_dir, "documents"))


@register(
    "text_quality_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                 / len(toks), {R}) AS avg_token_len,
           round((length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')))
                 * 1.0 / length(text), {R}) AS punct_ratio,
           round(len(list_filter(toks, x -> list_contains({_sql_stopword_list("en")}, x)))
                 * 1.0 / len(toks), {R}) AS stopword_ratio,
           round(0.4 * least(len(toks) / 200.0, 1.0)
               + 0.3 * least((len(list_filter(toks, x -> list_contains({_sql_stopword_list("en")}, x)))
                              * 1.0 / len(toks)) / 0.10, 1.0)
               + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')))
                              * 1.0 / length(text)), {R}) AS quality_score
    FROM t WHERE len(toks) > 0
    """,
    doc="Text quality scoring (token counting, punctuation/stopword "
    "ratios, composite score) — all JVM-side expressions; the "
    "training-data filtering stage of an LLM pipeline.",
    tags=("text",),
)
def q_text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize ONCE into a named column; the metric expressions read the
    # array. (Measured ~neutral at sf0.1 — whole-stage codegen's
    # subexpression elimination already deduped the identical splits —
    # but the named column makes the single-tokenize property a plan
    # guarantee rather than an optimizer courtesy.)
    d = (
        fan_out(load(spark, sf_dir, "documents"))
        .select("doc_id", "text", Tx.tokens("text").alias("toks"))
        .filter(F.size("toks") > 0)
    )
    t = F.col("toks")
    return d.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.round(Tx.avg_token_len_from_tokens(t), R).alias("avg_token_len"),
        F.round(Tx.punct_ratio("text"), R).alias("punct_ratio"),
        F.round(Tx.stopword_ratio_from_tokens(t), R).alias("stopword_ratio"),
        F.round(Tx.quality_score_from_tokens(t, "text"), R).alias("quality_score"),
    )


@register(
    "language_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
    hits AS (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains({_sql_stopword_list("en")}, x))) AS en_hits,
             len(list_filter(toks, x -> list_contains({_sql_stopword_list("de")}, x))) AS de_hits,
             len(list_filter(toks, x -> list_contains({_sql_stopword_list("fr")}, x))) AS fr_hits
      FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                WHEN de_hits >= fr_hits THEN 'de' ELSE 'fr' END AS pred_lang,
           en_hits, de_hits, fr_hits
    FROM hits
    """,
    doc="Language ID via stopword-hit argmax (n-gram heuristic family); "
    "deterministic tie order en > de > fr on both sides.",
    tags=("text", "langid"),
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    toks = Tx.tokens("text")

    def hits(lang: str):
        sw = F.array(*[F.lit(w) for w in Tx.STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    d = d.select(
        "doc_id",
        "lang",
        hits("en").alias("en_hits"),
        hits("de").alias("de_hits"),
        hits("fr").alias("fr_hits"),
    )
    pred = (
        F.when(
            (F.col("en_hits") >= F.col("de_hits")) & (F.col("en_hits") >= F.col("fr_hits")),
            F.lit("en"),
        )
        .when(F.col("de_hits") >= F.col("fr_hits"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return d.select("doc_id", "lang", pred.alias("pred_lang"), "en_hits", "de_hits", "fr_hits")


# MinHash-band candidate pairs, shared by the minhash_lsh_candidates
# oracle and the ngram_jaccard_pairs verifier oracle (the production
# topology runs the verifier ONLY on LSH candidates)
_SQL_LSH_CANDS = f"""
    t AS (
      SELECT doc_id, {_SQL_SHINGLES} AS sh
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ), ex AS (
      SELECT doc_id, unnest(sh) AS s FROM t
    ), hx AS (
      SELECT doc_id, md5(s) AS h1, md5('x|' || s) AS h2 FROM ex
    ), sig AS (
      SELECT doc_id,
             {", ".join(f"min(substr(h1, {1 + 8 * i}, 8)) AS mh{i}" for i in range(4))},
             {", ".join(f"min(substr(h2, {1 + 8 * i}, 8)) AS mh{i + 4}" for i in range(4))}
      FROM hx GROUP BY doc_id
    ), bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws('|', mh{2*b}, mh{2*b+1})) AS band_val FROM sig"
        for b in range(4)
      )}
    ), cand AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             count(*) AS n_shared_bands
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SQL_LSH_CANDS}
    SELECT doc_id_a, doc_id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(a.sh || b.sh)), {R}) AS jaccard
    FROM cand
    JOIN t a ON a.doc_id = cand.doc_id_a
    JOIN t b ON b.doc_id = cand.doc_id_b
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(a.sh || b.sh)) >= 0.5
    """,
    doc="""Exact 3-shingle Jaccard verification over the MinHash-LSH
    candidate pairs — the PRODUCTION verifier topology (dedup_corpus
    stages 2-3): no blocked self-join, no bounded demo id range; the
    only pairs scored are the ones the banded LSH emits, so the
    verifier's cost is O(candidates), not O(n^2). Threshold 0.5 keeps
    true near-dups and drops band collisions.""",
    tags=("dedup", "text", "lsh"),
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import shingles
    from datapipeline_spike_spark.operators.dedup import (
        minhash_signature_from_shingles,
    )

    d = fan_out(load(spark, sf_dir, "documents"))
    # ONE shingling pass (r19): the LSH signature and BOTH verify join
    # sides read the same materialized shingle frame — previously the
    # tokenize+shingle HOF ran three times (inside minhash_signature
    # and once per join side). Eager localCheckpoint = lineage-free
    # blocks drained by cache.unpersist_all (the dedup_corpus shape).
    sh = (
        d.select(F.col("doc_id").alias("sid"), shingles("text", k=3).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .transform(materialize_barrier)
    )
    sig = minhash_signature_from_shingles(sh, "sid", "sh").withColumnRenamed(
        "sid", "doc_id"
    )
    cand = lsh_candidate_pairs(d, sig=sig)
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    # shingle sets are distinct: |A u B| = |A| + |B| - |A n B| (integer
    # arithmetic, no union array per candidate pair)
    union = F.col("an") + F.col("bn") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(
            sh.select(
                F.col("sid").alias("aid"), F.col("sh").alias("a_sh"),
                F.col("n_sh").alias("an"),
            ),
            cand["doc_id_a"] == F.col("aid"),
        )
        .join(
            sh.select(
                F.col("sid").alias("bid"), F.col("sh").alias("b_sh"),
                F.col("n_sh").alias("bn"),
            ),
            cand["doc_id_b"] == F.col("bid"),
        )
        .filter(jac >= 0.5)
        .select("doc_id_a", "doc_id_b", F.round(jac, R).alias("jaccard"))
    )


@register(
    "minhash_lsh_candidates",
    oracle=f"""
    WITH {_SQL_LSH_CANDS}
    SELECT doc_id_a, doc_id_b, n_shared_bands FROM cand
    """,
    doc="MinHash-LSH candidate generation WITHOUT a cross join or "
    "self-join: 8 minhashes (the 32-bit hex words of two md5 digests "
    "per shingle, min-aggregated) -> 4 bands of 2 -> shuffle on band "
    "value -> i<j pairs emitted inside each bucket array. "
    "P(candidate) ~= 1-(1-J^2)^4. The scale path for near-dup dedup "
    "at 100 TB.",
    tags=("dedup", "lsh"),
)
def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(load(spark, sf_dir, "documents"))


@register(
    "token_frequencies",
    oracle=f"""
    SELECT t AS token, count(*) AS n
    FROM (SELECT unnest({_SQL_TOKS}) AS t FROM documents)
    GROUP BY 1
    ORDER BY n DESC, token
    LIMIT 50
    """,
    doc="""Corpus token counting (SURVEY §2.11 text analysis): explode
    the whitespace/punct tokenizer, count, global top-50 with a
    deterministic (count desc, token) tie-break. The shuffle carries
    (token, partial-count) pairs — map-side combine keeps it bounded by
    vocabulary size, not corpus size.""",
    tags=("text", "aggregate"),
)
def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(Tx.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


@register(
    "token_counting_methods",
    oracle=f"""
    SELECT doc_id,
           len({_SQL_TOKS}) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{Tx.BPEISH_PATTERN}')) AS n_bpeish_tokens
    FROM documents
    """,
    doc="""Token counting both ways (SURVEY §2.11: 'whitespace + a
    BPE-ish regex'): the whitespace/punct word tokenizer vs the
    finer-grained letter-run/digit-run/punctuation-mark tokenizer that
    approximates subword splitting. Map-only; identical RE2-safe
    pattern on both engines.""",
    tags=("text", "tokens"),
)
def q_token_counting_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size(Tx.tokens("text")).alias("n_ws_tokens"),
        F.size(Tx.bpeish_tokens("text")).alias("n_bpeish_tokens"),
    )


ROLLING_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne), keeps h*31+v in exact int64


@register(
    "doc_rolling_hash",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CASE WHEN len(toks) > 0 THEN
             list_reduce(
               list_transform(toks, tk -> CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT)),
               (a, b) -> (a * 31 + b) % {ROLLING_MOD}
             ) % {ROLLING_MOD}
           END AS rolling_hash
    FROM t
    """,
    doc="""Document fingerprinting via polynomial rolling hash (SURVEY
    §2.11 text analysis): h = (h*31 + hash(token)) mod 2^31-1 folded
    left over the token stream — order-sensitive (reordered docs get
    different prints, unlike the bag-of-shingles MinHash). Token hashes
    are the first 8 md5 hex chars as uint32; all arithmetic stays exact
    in int64 on both engines. Map-only, no shuffle.""",
    tags=("text", "fingerprint"),
)
def q_doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    toks = Tx.tokens("text")
    h = F.aggregate(
        F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % ROLLING_MOD,
    )
    return d.select(
        "doc_id",
        F.when(F.size(toks) > 0, h).otherwise(F.lit(None).cast("long")).alias("rolling_hash"),
    )


# Shared by dedup_corpus_assignment, near_dup_cluster_stats, and the
# curation_stage_profile stage replay: the exact-collapse -> LSH ->
# Jaccard-verify -> transitive-closure chain, parameterized over the
# source relation (any CTE/table exposing doc_id + text) so the same
# replay runs on raw documents or a mid-pipeline cleaned frame.
def _sql_dedup_assign_ctes(src: str = "documents") -> str:
    """CTE definitions (no WITH keyword) ending in ``assignment``
    (doc_id, canonical_id); embed as ``WITH RECURSIVE {ctes} SELECT``.
    Replays operators/dedup.dedup_corpus at jaccard_threshold=0.8."""
    return f"""fp AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM {src}
    ), rep AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS exact_rep FROM fp
    ), reps AS (
      SELECT d.doc_id, d.text FROM {src} d
      JOIN rep r ON d.doc_id = r.doc_id AND r.doc_id = r.exact_rep
    ), t AS (
      SELECT doc_id, {_SQL_SHINGLES} AS sh
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM reps)
    ), ex AS (
      SELECT doc_id, unnest(sh) AS s FROM t
    ), hx AS (
      SELECT doc_id, md5(s) AS h1, md5('x|' || s) AS h2 FROM ex
    ), sig AS (
      SELECT doc_id,
             {", ".join(f"min(substr(h1, {1 + 8 * i}, 8)) AS mh{i}" for i in range(4))},
             {", ".join(f"min(substr(h2, {1 + 8 * i}, 8)) AS mh{i + 4}" for i in range(4))}
      FROM hx GROUP BY doc_id
    ), bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws('|', mh{2*b}, mh{2*b+1})) AS band_val FROM sig"
        for b in range(4)
      )}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ), edges AS (
      SELECT c.ida, c.idb FROM cand c
      JOIN t ta ON ta.doc_id = c.ida
      JOIN t tb ON tb.doc_id = c.idb
      WHERE len(list_intersect(ta.sh, tb.sh)) * 1.0
            / len(list_distinct(ta.sh || tb.sh)) >= 0.8
    ), esym AS (
      SELECT ida AS s, idb AS d FROM edges
      UNION ALL SELECT idb, ida FROM edges
    ), closure AS (
      SELECT doc_id AS a, doc_id AS b FROM reps
      UNION
      SELECT c.a, e.d FROM closure c JOIN esym e ON c.b = e.s
    ), comp AS (
      SELECT a AS id, min(b) AS comp FROM closure GROUP BY a
    ), assignment AS (
      SELECT r.doc_id AS doc_id, c.comp AS canonical_id
      FROM rep r JOIN comp c ON r.exact_rep = c.id
    )"""


_SQL_DEDUP_ASSIGN_CTES = "WITH RECURSIVE " + _sql_dedup_assign_ctes("documents")


@register(
    "dedup_corpus_assignment",
    oracle=f"""
    {_SQL_DEDUP_ASSIGN_CTES}
    SELECT doc_id, canonical_id FROM assignment
    """,
    doc="""END-TO-END dedup pipeline as one oracle-checked query: exact
    fingerprint collapse -> MinHash-LSH candidates among representatives
    -> 3-shingle Jaccard >= 0.8 verification -> connected components
    (min-label propagation on Spark; recursive-CTE transitive closure in
    the DuckDB replay) -> every document assigned its canonical id.
    Transitive merges (A~B~C with A!~C) are exercised by the corpus's
    planted chains. The Spark loop shuffles once per round, truncates
    lineage via localCheckpoint, and collects only a 1-row convergence
    probe.""",
    tags=("dedup", "lsh", "components", "pipeline"),
)
def q_dedup_corpus_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import dedup_corpus

    return dedup_corpus(load(spark, sf_dir, "documents"), jaccard_threshold=0.8)


# 64-bit SimHash replay (operators.dedup.simhash64): the four 32-bit hex
# words of md5(token) feed four 16-bit signature chunks; bit r of chunk c
# is a majority vote over (word_c >> r) & 1.
_SQL_SIMHASH_WORDS = ", ".join(
    f"CAST(('0x' || substr(h, {1 + 8 * c}, 8)) AS BIGINT) AS w{c}" for c in range(4)
)
_SQL_SIMHASH_ONES = ", ".join(
    f"sum((w{c} >> {r}) & 1) AS o_{c}_{r}" for c in range(4) for r in range(16)
)
_SQL_SIMHASH_CHUNKS = ", ".join(
    "CAST("
    + " + ".join(f"(CASE WHEN o_{c}_{r} * 2 >= n THEN {1 << r} ELSE 0 END)" for r in range(16))
    + f" AS INT) AS c{c}"
    for c in range(4)
)
_SQL_SIMHASH_CTES = f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, md5(unnest(toks)) AS h FROM t),
    w AS (SELECT doc_id, {_SQL_SIMHASH_WORDS} FROM ex),
    o AS (SELECT doc_id, count(*) AS n, {_SQL_SIMHASH_ONES} FROM w GROUP BY doc_id),
    sig AS (SELECT doc_id, {_SQL_SIMHASH_CHUNKS} FROM o)
"""


@register(
    "simhash_signatures",
    oracle=f"""
    {_SQL_SIMHASH_CTES}
    SELECT doc_id, printf('%04x%04x%04x%04x', c3, c2, c1, c0) AS simhash_hex
    FROM sig
    """,
    doc="""64-bit SimHash per document (4 x 16-bit chunks; near-dups
    share signatures / small Hamming distance). Token hash bits are the
    four 32-bit md5 hex words — portable to the oracle, which replays
    the majority vote bit-for-bit. Explode + 64 conditional-sum
    aggregates: map-side partial agg shrinks the shuffle to ~1 row/doc,
    whole-stage codegen throughout (no interpreted HOF).""",
    tags=("dedup", "simhash"),
)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import simhash64

    d = load(spark, sf_dir, "documents").filter(Tx.token_count("text") > 0)
    return simhash64(d).select("doc_id", "simhash_hex")


_SQL_SIMHASH_HAMMING = " + ".join(
    f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(4)
)


@register(
    "simhash_neardup_pairs",
    oracle=f"""
    {_SQL_SIMHASH_CTES}
    , chunks AS (
      SELECT doc_id, c0, c1, c2, c3,
             unnest([0, 1, 2, 3]) AS ci, unnest([c0, c1, c2, c3]) AS cv
      FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST({_SQL_SIMHASH_HAMMING} AS INT) AS hamming
    FROM chunks a JOIN chunks b
      ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
    WHERE {_SQL_SIMHASH_HAMMING} <= 3
    """,
    doc="""SimHash near-dup pairing via chunk banding: four 16-bit
    chunks of the 64-bit signature — pigeonhole guarantees Hamming<=3
    pairs share a chunk — bucket-join on (chunk_idx, chunk_value),
    exact 64-bit Hamming verification. The SimHash counterpart of
    MinHash band buckets; never a cross join, and 16-bit chunk buckets
    hold ~n/65536 docs (vs ~n/256 for the old 16-bit signature's 8-bit
    chunks — the difference between banded and quadratic at corpus
    scale).""",
    tags=("dedup", "simhash"),
)
def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(load(spark, sf_dir, "documents"), max_hamming=3)


@register(
    "embedding_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_cosine_similarity(q.qv, c.cv), {R}) AS cos_sim
      FROM c, q WHERE c.neighbor_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
    doc="Brute-force cosine top-k (ANN baseline): broadcast query set, "
    "single corpus scan, JVM-side zip_with/aggregate dot products, "
    "ranking on rounded scores. LSH-bucketed variant = "
    "operators.similarity.lsh_bucket_topk (tested for recall).",
    tags=("similarity", "embedding"),
)
def q_embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)
    return out.select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


@register(
    "embedding_label_stats",
    oracle=f"""
    SELECT label,
           count(*) AS n,
           round(avg(sqrt(list_aggregate(
               list_transform(embedding::DOUBLE[], x -> x * x), 'sum'))), {R}) AS avg_norm,
           round(avg(list_aggregate(embedding::DOUBLE[], 'sum')
               / len(embedding)), {R}) AS avg_component_mean
    FROM embeddings
    GROUP BY 1
    """,
    doc="Per-label embedding statistics via array HOFs (A1-family math "
    "on float vectors; FIXTURES.md §B).",
    tags=("embedding", "aggregate"),
)
def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.vectors import l2_norm

    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    comp_mean = F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size(v)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(l2_norm(v)), R).alias("avg_norm"),
        F.round(F.avg(comp_mean), R).alias("avg_component_mean"),
    )


@register(
    "multimodal_shard_meta",
    oracle="""
    SELECT substr(sha256(text), 1, 2) AS shard,
           count(*) AS n_blobs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY 1
    """,
    doc="Multimodal-column plumbing (binary payload + typed metadata, "
    "SURVEY §2.11): documents' text stands in for an opaque blob; "
    "content-hash sharding + size accounting is exactly the layout "
    "pass an image/audio lake write uses. Decode stubs live in "
    "sources/multimodal.py (mapInPandas, tested).",
    tags=("multimodal",),
)
def q_multimodal_shard_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.groupBy(F.substring(F.sha2("text", 256), 1, 2).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum(F.octet_length(payload)).cast("bigint").alias("total_bytes"),
        F.max(F.octet_length(payload)).cast("bigint").alias("max_bytes"),
    )


@register(
    "image_header_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
             AS media_format,
           CAST(16 + doc_id % 64 AS INT)        AS width,
           CAST(16 + (doc_id // 3) % 48 AS INT) AS height
    FROM documents
    """,
    doc="""Multimodal decode, metadata tier, END TO END on real bytes
    (SURVEY §2.11): per document a complete synthetic PNG (IHDR + zlib
    IDAT) / JPEG (SOF0) / GIF container is built whose dimensions are a
    function of doc_id, then sources.multimodal.parse_image_header
    recovers (format, width, height) from the BINARY PAYLOAD ALONE with
    pure stdlib struct — no imaging library. The oracle recomputes the
    expected values from doc_id, so a hash match proves the
    encode -> header-parse round-trip, not just plumbing. Only the
    full-pixel tier (resampling, color) remains environment-stubbed.""",
    tags=("multimodal", "pandas_udf"),
)
def q_image_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.sources.multimodal import (
        decode_media,
        image_media_from_documents,
    )

    media = image_media_from_documents(fan_out(load(spark, sf_dir, "documents")))
    return decode_media(media).select("media_id", "media_format", "width", "height")


@register(
    "video_header_meta",
    oracle="""
    SELECT doc_id AS media_id,
           'mp4' AS media_format,
           CAST(64 + doc_id % 128 AS INT)        AS width,
           CAST(48 + (doc_id // 2) % 96 AS INT)  AS height,
           CAST(500 + (doc_id % 100) * 40 AS BIGINT) AS duration_ms,
           CAST(greatest(1, (500 + (doc_id % 100) * 40) * 25 // 1000) AS INT)
             AS n_frames
    FROM documents
    """,
    doc="""Multimodal VIDEO decode, metadata tier, END TO END on real
    bytes (SURVEY §2.11): per document a complete synthetic MP4
    (ftyp + moov[mvhd + trak[tkhd]], spec-layout v0 boxes) is built
    whose dimensions/duration are a function of doc_id, then
    sources.multimodal.parse_video_header walks the BINARY BOX
    STRUCTURE with pure stdlib struct — mvhd timescale/duration, tkhd
    16.16 fixed-point dimensions. n_frames is the documented
    25-fps-nominal estimate (sample tables are the full-decode tier).
    The oracle recomputes everything from doc_id, so a hash match
    proves the encode -> box-walk round-trip.""",
    tags=("multimodal", "video", "pandas_udf"),
)
def q_video_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.sources.multimodal import (
        decode_media,
        video_media_from_documents,
    )

    media = video_media_from_documents(fan_out(load(spark, sf_dir, "documents")))
    return decode_media(media).select(
        "media_id", "media_format", "width", "height", "duration_ms", "n_frames"
    )


@register(
    "audio_header_meta",
    oracle="""
    SELECT doc_id AS media_id,
           'wav' AS media_format,
           CAST(1 + doc_id % 2 AS INT) AS n_channels,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
           CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END
                AS INT) AS bits_per_sample,
           CAST(8 + doc_id % 50 AS BIGINT) AS n_samples,
           CAST((8 + doc_id % 50) * 1000
                // CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                   WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS duration_ms
    FROM documents
    """,
    doc="""Multimodal AUDIO decode, metadata tier, END TO END on real
    bytes (SURVEY §2.11, completing the image/video/audio triple): per
    document a complete PCM WAV (RIFF + fmt + data) is built whose
    channels/rate/bits/samples derive from doc_id, then
    sources.multimodal.parse_audio_meta walks the RIFF CHUNKS with pure
    stdlib struct — fmt fields plus the data-chunk sample count;
    duration_ms = samples * 1000 // rate in integer math. The oracle
    recomputes everything from doc_id, so a hash match proves the
    encode -> chunk-walk round-trip. Waveform decode (resample, loudness)
    is the env-stubbed tier, same contract as image pixels.""",
    tags=("multimodal", "audio", "pandas_udf"),
)
def q_audio_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.sources.multimodal import (
        audio_media_from_documents,
        decode_audio,
    )

    media = audio_media_from_documents(fan_out(load(spark, sf_dir, "documents")))
    return decode_audio(media).select(
        "media_id",
        "media_format",
        "n_channels",
        "sample_rate",
        "bits_per_sample",
        "n_samples",
        "duration_ms",
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    n_docs AS (SELECT count(*) AS n FROM t WHERE len(toks) > 0),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      GROUP BY 1, 2
    ), df AS (
      SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM tf) GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * (ln((n_docs.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n_docs
    )
    SELECT doc_id, tok AS term, tfidf, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, tok) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
    doc="""TF-IDF keyword extraction (SURVEY §2.11 text analysis) as
    relational algebra — no ML-lib fitting step: tf = per-(doc, token)
    counts, idf = smoothed ln((N+1)/(df+1)) + 1 (the standard
    smooth-idf), top-3 terms per doc ranked on the ROUNDED score with a
    term tiebreak. Two vocabulary-bounded shuffles (token counts,
    document frequencies) + one broadcastable join — corpus-scale-safe,
    and every number replays exactly in SQL.""",
    tags=("text", "tfidf", "aggregate"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(Tx.tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # N (docs with >=1 token) == distinct doc_id in tf: deriving it from
    # the SAME aggregate keeps it in-plan (no job fires at plan-build)
    # and lets ReuseExchange serve every branch from ONE tokenize+explode
    # shuffle instead of re-scanning the corpus for a scalar count.
    n_docs = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        # no broadcast hint on df_: per-token document frequencies are
        # VOCABULARY-scale (data-dependent, Heap's-law unbounded) — the
        # customer-table rule; AQE broadcasts while small. The 1-row
        # n_docs cross stays hinted.
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", F.col("tok").alias("term"), "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "unigram_logprob_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    vocab AS (
      SELECT tok, count(*) AS c FROM ex GROUP BY 1
    ), tot AS (SELECT sum(c) AS total, count(*) AS v FROM vocab),
    scored AS (
      SELECT ex.doc_id,
             ln((vocab.c + 1.0) / (tot.total + tot.v)) AS lp
      FROM ex JOIN vocab USING (tok) CROSS JOIN tot
    )
    SELECT doc_id,
           count(*)               AS n_tokens,
           round(avg(lp), 6)      AS avg_logprob
    FROM scored
    GROUP BY 1
    """,
    doc="""Corpus-LM quality scoring (SURVEY §2.11 text analysis — the
    perplexity-style filter an LLM data pipeline runs): an add-one
    smoothed unigram model fit on the corpus itself scores each doc by
    mean token log-probability; gibberish and vocabulary-outlier docs
    rank low. Vocabulary-bounded shuffles only; the token->prob join is
    hint-free (vocabulary is data-dependent — AQE broadcasts while it
    is small). avg over per-token ln values is order-sensitive at
    the 1e-15 level; 6dp rounding absorbs it (same bound every other
    float aggregate in the catalog uses).""",
    tags=("text", "quality", "lm"),
)
def q_unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Everything derives from ONE (doc_id, tok) count aggregate: vocab
    # and the smoothing totals are re-aggregations of `tf`, and the
    # 1-row totals frame stays IN-PLAN via a broadcast cross join (the
    # corpus_mixture_plan pattern) instead of a plan-build collect()
    # that both blocked the driver and paid the tokenize+explode scan
    # twice. ReuseExchange serves the probe side and the vocab build
    # from the same shuffle, so the corpus is tokenized exactly once.
    d = fan_out(load(spark, sf_dir, "documents"))
    ex = d.select("doc_id", F.explode(Tx.tokens("text")).alias("tok"))
    tf = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = tf.groupBy("tok").agg(F.sum("n").alias("c"))
    totals = vocab.agg(F.sum("c").alias("total"), F.count(F.lit(1)).alias("v"))
    scored = (
        # vocab is VOCABULARY-scale (unbounded at 100 TB web text): no
        # forced broadcast — AQE decides; the 1-row totals stay hinted
        tf.join(vocab, "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "n",
            (F.col("n") * F.log((F.col("c") + 1.0) / (F.col("total") + F.col("v")))).alias("nlp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.round(F.sum("nlp") / F.sum("n"), 6).alias("avg_logprob"),
    )


@register(
    "leakage_safe_split",
    oracle="""
    WITH fp AS (
      SELECT doc_id, min(doc_id) OVER (
        PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      ) AS exact_rep
      FROM documents
    )
    SELECT doc_id, exact_rep,
           CASE WHEN CAST(('0x' || substr(md5(CAST(exact_rep AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8
                THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(exact_rep AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 8
                THEN 'val' ELSE 'test' END AS split
    FROM fp
    """,
    doc="""Leakage-safe train/val/test assignment (SURVEY §2.11 — the
    split stage of a training-data pipeline): the split is a
    deterministic hash of the document's CANONICAL (exact-dup group)
    id, not its own id, so copies of the same text can never straddle
    train and test — the contamination a naive random split introduces.
    Hash-based (not RNG sampleBy) on purpose: reruns, backfills, and
    the SQL oracle all reproduce the identical assignment. 80/10/10 via
    md5-word mod 10; map-only over the fingerprint window (one
    shuffle).""",
    tags=("text", "split", "dedup"),
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import leakage_safe_split

    return leakage_safe_split(fan_out(load(spark, sf_dir, "documents")))


# --- KMV distinct-count synopsis ----------------------------------------------

_KMV_K = 64
# DuckDB twin of operators.sketches.hash_u01_expr
_SQL_KMV_U = "CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) / 4294967296.0"


@register(
    "kmv_distinct_ngrams",
    oracle=f"""
    WITH t AS (SELECT {_SQL_TOKS} AS toks FROM documents),
    g AS (SELECT DISTINCT unnest({_SQL_SHINGLES}) AS s FROM t),
    bot AS (
      SELECT DISTINCT {_SQL_KMV_U} AS u FROM g ORDER BY u LIMIT {_KMV_K}
    ),
    agg AS (
      SELECT count(*) AS n_syn, max(u) AS uk FROM bot
    ),
    exact AS (SELECT count(*) AS exact_distinct FROM g)
    SELECT {_KMV_K} AS k,
           exact_distinct,
           round(CASE WHEN n_syn < {_KMV_K} THEN n_syn * 1.0
                      ELSE (n_syn - 1.0) / uk END, {R}) AS kmv_estimate,
           round(abs((CASE WHEN n_syn < {_KMV_K} THEN n_syn * 1.0
                           ELSE (n_syn - 1.0) / uk END) - exact_distinct)
                 / exact_distinct, {R}) AS rel_error
    FROM agg CROSS JOIN exact
    """,
    doc="""KMV (k-minimum-values) distinct-count synopsis vs the exact
    count, over the corpus 3-gram vocabulary (SURVEY §2.11 sketch
    family, next to the HLL++ tolerance test): bottom-64 md5 draws,
    estimate (k-1)/u_(k), exact in the under-full regime. Unlike HLL
    the synopsis is DETERMINISTIC — the DuckDB oracle replays the
    estimate to the last bit, and the same bottom-k set doubles as a
    uniform distinct-value sample. Scale shape: per-Arrow-batch partial
    bottom-k caps the wire at k x batches rows (plan: one LIMIT over
    k-bounded survivors, never a full sort of the vocabulary).""",
    tags=("text", "sketch", "aggregate"),
)
def q_kmv_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sketches import kmv_distinct_estimate

    d = fan_out(load(spark, sf_dir, "documents"))
    grams = d.select(F.explode(Tx.shingles("text", k=3)).alias("s"))
    exact = grams.distinct().count()  # 1-row scalar fetch, same as tfidf's n_docs
    est = kmv_distinct_estimate(grams, "s", k=_KMV_K)
    return est.select(
        F.lit(_KMV_K).cast("int").alias("k"),
        F.lit(exact).cast("bigint").alias("exact_distinct"),
        F.round("kmv_estimate", R).alias("kmv_estimate"),
        F.round(
            F.abs(F.col("kmv_estimate") - F.lit(float(exact))) / F.lit(float(exact)), R
        ).alias("rel_error"),
    )


_CHUNK = 64
_STRIDE = 48


@register(
    "document_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    st AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1, {_STRIDE})) AS s
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST((s - 1) // {_STRIDE} AS INT) AS chunk_idx,
           array_to_string(toks[s:s+{_CHUNK - 1}], ' ') AS chunk_text,
           CAST(least(len(toks) - s + 1, {_CHUNK}) AS INT) AS chunk_tokens
    FROM st
    """,
    doc=f"""Document chunking (SURVEY §2.11 — the context-window prep
    stage of a training pipeline): overlapping {_CHUNK}-token windows at
    stride {_STRIDE} ({_CHUNK - _STRIDE} tokens of overlap so no span
    loses its context at a boundary), the last window short. Map-only:
    tokenize once (lambda-bound, no re-split per chunk), build the
    window structs per row, explode — output rows are bounded by
    ceil(n_tokens/stride) per doc, a constant factor of the input, not
    a blowup. The 1-to-many shape every downstream tokenizer-sharding
    stage consumes.""",
    tags=("text", "chunking"),
)
def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents")).filter(Tx.token_count("text") > 0)
    ch = d.select(
        "doc_id", F.explode(Tx.token_chunks("text", _CHUNK, _STRIDE)).alias("c")
    )
    return ch.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.chunk_tokens").alias("chunk_tokens"),
    )


_HH_K = 40


@register(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH ex AS (SELECT unnest({_SQL_TOKS}) AS tok FROM documents),
    tot AS (SELECT count(*) AS n FROM ex)
    SELECT tok, CAST(count(*) AS BIGINT) AS freq
    FROM ex CROSS JOIN tot
    GROUP BY tok, tot.n
    HAVING count(*) > tot.n / {_HH_K}.0
    """,
    doc=f"""Frequent-items detection with sketch-bounded memory and
    EXACT output (SURVEY §2.4 sketch family): every token with corpus
    frequency > n/{_HH_K}. Pass 1 keeps per-Arrow-batch values above
    the batch-local n_b/{_HH_K} threshold (< {_HH_K} candidate rows per
    batch by pigeonhole — the Misra-Gries memory bound — and provably
    no true heavy hitter missed); pass 2 recounts the tiny broadcast
    candidate set exactly. Output is partition-invariant even though
    the intermediate candidate set is not — the determinism one-pass MG
    can't offer, which is what makes it hash-checkable.""",
    tags=("text", "sketch", "aggregate"),
)
def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sketches import heavy_hitters

    d = fan_out(load(spark, sf_dir, "documents"))
    ex = d.select(F.explode(Tx.tokens("text")).alias("tok"))
    return heavy_hitters(ex, "tok", k=_HH_K)


# --- benchmark contamination -------------------------------------------------

_CONTAM_K = 5  # n-gram width; 13 in production English pipelines, 5 here
# because the synthetic 31-word vocabulary makes >=6-grams unique per doc
_CONTAM_MOD = 7  # benchmark set = doc_id % 7 == 0 (deterministic stand-in)

# DuckDB k-shingle expression for _CONTAM_K (same shape as _SQL_SHINGLES)
_SQL_SHINGLES_K = (
    f"CASE WHEN len(toks) >= {_CONTAM_K} THEN list_distinct(list_transform("
    f"range(1, len(toks) - {_CONTAM_K - 2}), i -> array_to_string(toks[i:i+{_CONTAM_K - 1}], ' '))) "
    "ELSE [] END"
)


@register(
    "benchmark_contamination",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES_K} AS ngs FROM t),
    bench AS (
      SELECT DISTINCT unnest(ngs) AS ng FROM sh WHERE doc_id % {_CONTAM_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, len(ngs) AS n_ngrams, unnest(ngs) AS ng
      FROM sh WHERE doc_id % {_CONTAM_MOD} != 0
    )
    SELECT corpus.doc_id,
           n_ngrams,
           count(*) AS n_contaminated,
           round(count(*) * 1.0 / n_ngrams, {R}) AS contamination_ratio
    FROM corpus JOIN bench USING (ng)
    GROUP BY corpus.doc_id, n_ngrams
    """,
    doc=f"""Benchmark-contamination detection (SURVEY §2.11 — the
    decontamination stage of an LLM data pipeline): flag corpus
    documents sharing any {_CONTAM_K}-gram with a held-out benchmark
    set, the n-gram-collision method used to scrub eval sets from
    training corpora. The benchmark here is the deterministic
    doc_id % {_CONTAM_MOD} == 0 subset (no external eval files in the
    sandbox); its distinct n-gram set is BROADCAST — benchmark n-gram
    cardinality is eval-suite-sized, never corpus-sized, so the join
    stays map-side at 100 TB and the only shuffle is the per-doc count
    aggregation. One scan of the corpus: per-doc n-gram totals are
    computed map-side (size before explode), not via a second pass.""",
    tags=("text", "dedup", "contamination"),
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    sh = d.select("doc_id", Tx.shingles("text", k=_CONTAM_K).alias("ngs"))
    bench = (
        sh.filter(F.col("doc_id") % _CONTAM_MOD == 0)
        .select(F.explode("ngs").alias("ng"))
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") % _CONTAM_MOD != 0).select(
        "doc_id", F.size("ngs").alias("n_ngrams"), F.explode("ngs").alias("ng")
    )
    return (
        corpus.join(F.broadcast(bench), "ng")
        .groupBy("doc_id", "n_ngrams")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated"),
            F.round(F.count(F.lit(1)) / F.col("n_ngrams"), R).alias("contamination_ratio"),
        )
        .select("doc_id", "n_ngrams", "n_contaminated", "contamination_ratio")
    )


# --- repetition / diversity profile ------------------------------------------

# DuckDB non-distinct bigram expression mirroring functions.text.ngrams(k=2)
_SQL_BIGRAMS = (
    "CASE WHEN len(toks) >= 2 THEN list_transform("
    "range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) "
    "ELSE [] END"
)


@register(
    "repetition_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
    tstats AS (
      -- CAST: DuckDB sum(BIGINT) widens to HUGEINT; Spark emits bigint.
      -- Values are identical but the driver's hash is type-sensitive.
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_types, max(c) AS top_tok
      FROM tc GROUP BY 1
    ),
    bx AS (SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bg FROM t),
    bc AS (SELECT doc_id, bg, count(*) AS c FROM bx GROUP BY 1, 2),
    bstats AS (
      SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bg FROM bc GROUP BY 1
    )
    SELECT tstats.doc_id,
           n_tokens,
           round(n_types * 1.0 / n_tokens, {R}) AS type_token_ratio,
           round(top_tok * 1.0 / n_tokens, {R}) AS top_token_frac,
           round(top_bg * 1.0 / n_bigrams, {R}) AS top_bigram_frac,
           (round(top_tok * 1.0 / n_tokens, {R}) > 0.30
            OR round(top_bg * 1.0 / n_bigrams, {R}) > 0.18) AS repetitive
    FROM tstats JOIN bstats ON tstats.doc_id = bstats.doc_id
    WHERE n_tokens > 0 AND n_bigrams > 0
    """,
    doc="""Repetition / diversity profiling (SURVEY §2.11 — the
    Gopher-style repetition filters of an LLM data pipeline, after the
    published "fraction of characters in most-common n-gram" family):
    per-doc type-token ratio, most-common-token fraction, and
    most-common-bigram fraction, with a repetitive flag at the
    published-style thresholds (0.30 top-token, 0.18 top-bigram —
    compared on the ROUNDED values so the flag is engine-portable).
    Two explode->count aggregations (token grain and bigram grain)
    joined on doc_id; both shuffles are (doc, term)-keyed — bounded by
    corpus token count, no global state, scale-linear. The bigram
    stream uses the non-distinct ngrams() generator: a doc repeating
    one bigram 50 times must count it 50 times, which the MinHash
    shingle set (distinct) deliberately hides.""",
    tags=("text", "quality"),
)
def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(Tx.tokens("text")).alias("tok"))
    tstats = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.max("c").alias("top_tok"),
        )
    )
    bigr = d.select("doc_id", F.explode(Tx.ngrams("text", k=2)).alias("bg"))
    bstats = (
        bigr.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bg"))
    )
    ttf = F.round(F.col("top_tok") / F.col("n_tokens"), R)
    tbf = F.round(F.col("top_bg") / F.col("n_bigrams"), R)
    return (
        tstats.join(bstats, "doc_id")
        .filter((F.col("n_tokens") > 0) & (F.col("n_bigrams") > 0))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("n_types") / F.col("n_tokens"), R).alias("type_token_ratio"),
            ttf.alias("top_token_frac"),
            tbf.alias("top_bigram_frac"),
            ((ttf > 0.30) | (tbf > 0.18)).alias("repetitive"),
        )
    )


# --- deterministic stratified sampling (corpus mixing) ------------------------

# Target mixture: upsample non-English, downsample odd-numbered sources.
# Arbitrary but fixed weights — the query demonstrates the mechanism; the
# operator takes any per-row rate expression.
_SQL_RATE = (
    "(CASE WHEN lang = 'en' THEN 0.45 ELSE 0.95 END) * "
    "(CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 1.0 ELSE 0.6 END)"
)
_SQL_U01 = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0"
)


@register(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source,
           CAST(round({_SQL_RATE}, {R}) AS DOUBLE) AS target_rate,
           round({_SQL_U01}, {R})  AS sample_u,
           ({_SQL_U01}) < ({_SQL_RATE}) AS kept
    FROM documents
    """,
    doc="""Deterministic stratified sampling (SURVEY §2.11 — the data
    mixing stage of a training pipeline): every row gets a uniform
    [0,1) draw from md5(doc_id) and a per-stratum target rate (CASE
    over lang x source), kept iff u < rate. Content-hash draws, not
    RNG: reruns, backfills, and the DuckDB oracle reproduce the exact
    decision per row independent of partitioning — df.sample() can
    guarantee neither. Map-only (zero shuffles, zero state); the
    unrounded u and rate are compared (u = k/2^32 is exact in binary
    floating point, so the comparison is engine-portable).""",
    tags=("text", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sampling import hash_u01, stratified_sample

    d = fan_out(load(spark, sf_dir, "documents"))
    rate = F.when(F.col("lang") == "en", 0.45).otherwise(0.95) * F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, 1.0
    ).otherwise(0.6)
    tagged = stratified_sample(d, "doc_id", rate, keep_all=True)
    return tagged.select(
        "doc_id",
        "lang",
        "source",
        F.round(rate, R).alias("target_rate"),
        F.round(hash_u01("doc_id"), R).alias("sample_u"),
        "kept",
    )


# --- PII redaction ------------------------------------------------------------

# The synthetic corpus carries no organic PII, so the query plants it
# with a deterministic, SQL-portable augmentation (same expression
# string evaluated by Spark SQL and DuckDB — both support || and CASE),
# keyed on doc_id so density varies across the corpus. The redaction
# itself is exercised for real: counts, the clean flag, and the md5 of
# the fully-redacted text are all hash-compared.
_SQL_PII_AUG = (
    "text"
    " || CASE WHEN doc_id % 7 = 0 THEN ' reach me at dev.lead+ops@corp-data.example.com today' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 3 THEN ' cc qa_bot@eval.example.org' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' origin host 10.42.7.13 peer 192.168.0.254' ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN ' taxpayer 123-45-6789 on file' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' hotline 555-867-5309 ext 12' ELSE '' END"
)


def _pii_oracle() -> str:
    from datapipeline_spike_spark.operators.redaction import PII_PATTERNS

    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    red = "text"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    total = " + ".join(f"n_{kind}" for kind, _, _ in PII_PATTERNS)
    return f"""
    WITH aug AS (SELECT doc_id, {_SQL_PII_AUG} AS text FROM documents),
    c AS (
      SELECT doc_id, text,
           {counts},
           md5({red}) AS redacted_fp
      FROM aug
    )
    SELECT doc_id, n_email, n_ipv4, n_ssn, n_phone,
           {total} AS n_pii,
           ({total}) = 0 AS clean,
           redacted_fp
    FROM c
    """


@register(
    "pii_redaction",
    oracle=_pii_oracle(),
    doc="""PII detection + redaction (SURVEY §2.11 — the scrubbing
    stage of a training-data pipeline): per-doc counts of email / IPv4
    / SSN-shaped / phone-shaped matches, a clean flag, and the md5 of
    the text after all four redaction passes. Patterns restricted to
    the Java-regex / RE2 common subset so every decision is replayable
    by the oracle. Map-only whole-stage-codegen expressions — zero
    Python, zero shuffle; at 100 TB this is scan-speed work. The
    corpus has no organic PII, so a deterministic doc_id-keyed
    augmentation (same SQL string on both engines) plants it.""",
    tags=("text", "quality", "redaction"),
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.redaction import redact_pii

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id", F.expr(_SQL_PII_AUG).alias("text")
    )
    return redact_pii(d).select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_ssn",
        "n_phone",
        "n_pii",
        "clean",
        F.md5("redacted_text").alias("redacted_fp"),
    )


# --- sub-document segment dedup ----------------------------------------------

_SEG = 8  # tokens per non-overlapping segment ("line" stand-in)
_BOILER_DF = 3  # doc-frequency threshold for the boilerplate flag


@register(
    "segment_dedup_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    st AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1, {_SEG})) AS s
      FROM t WHERE len(toks) > 0
    ),
    seg AS (
      SELECT doc_id, md5(array_to_string(toks[s:s+{_SEG - 1}], ' ')) AS seg_hash
      FROM st
    ),
    freq AS (SELECT seg_hash, count(DISTINCT doc_id) AS seg_df FROM seg GROUP BY 1)
    SELECT seg.doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN seg_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(sum(CASE WHEN seg_df >= {_BOILER_DF} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           round(sum(CASE WHEN seg_df > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), {R})
             AS shared_ratio
    FROM seg JOIN freq USING (seg_hash)
    GROUP BY seg.doc_id
    """,
    doc=f"""Sub-document duplication profile (SURVEY §2.11 — the CCNet /
    RefinedWeb line-dedup stage; the corpus has no newlines so the
    "line" is a non-overlapping {_SEG}-token segment): per doc, how
    many segments appear verbatim in other documents (doc frequency >
    1) and how many are boilerplate (df >= {_BOILER_DF}). Catches the
    shared headers/footers/templates whole-doc dedup can't see — the
    planted near-duplicate clusters light up n_shared. Explode to
    segment grain -> md5 -> count-distinct docs per segment hash ->
    join back: two linear shuffles, no self-join, scale-safe.""",
    tags=("text", "dedup"),
)
def q_segment_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import segment_dedup_profile

    return segment_dedup_profile(
        load(spark, sf_dir, "documents"), seg_tokens=_SEG, boilerplate_df=_BOILER_DF
    )


# --- token-budget sequence packing -------------------------------------------

_PACK_BUDGET = 256
_PACK_SHARDS = 16


@register(
    "context_pack_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    st AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1, {_CHUNK})) AS s
      FROM t WHERE len(toks) > 0
    ),
    ch AS (
      SELECT doc_id,
             CAST((s - 1) // {_CHUNK} AS INT) AS chunk_idx,
             CAST(least(len(toks) - s + 1, {_CHUNK}) AS INT) AS chunk_tokens,
             CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard
      FROM st
    ),
    p AS (
      SELECT shard, doc_id, chunk_tokens,
             sum(chunk_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - chunk_tokens AS strt
      FROM ch
    )
    SELECT shard,
           CAST(strt // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           count(*) AS n_chunks,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(chunk_tokens) AS BIGINT) AS started_tokens,
           CAST(sum(CASE WHEN strt + chunk_tokens - 1
                          >= (strt // {_PACK_BUDGET} + 1) * {_PACK_BUDGET}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
    FROM p
    GROUP BY shard, CAST(strt // {_PACK_BUDGET} AS BIGINT)
    """,
    doc=f"""Token-budget sequence packing (SURVEY §2.11 — concat-and-
    chop, the packing rule GPT-style pretraining uses): non-overlapping
    {_CHUNK}-token chunks laid end-to-end within each of
    {_PACK_SHARDS} doc_id-hash shards, chopped every {_PACK_BUDGET}
    tokens; per (shard, sequence): chunks started, distinct docs,
    tokens started, and chunks straddling a chop point. One window
    cumulative sum PARTITIONED BY shard — per-task state is a single
    running total per shard, no global order, no driver state; shards
    are the parallelism knob at 100 TB. (No-split first-fit is
    inherently sequential per bin and CANNOT distribute this way —
    that's why production packers accept straddle.)""",
    tags=("text", "chunking", "packing"),
)
def q_context_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.packing import pack_sequences

    d = fan_out(load(spark, sf_dir, "documents")).filter(Tx.token_count("text") > 0)
    ch = (
        d.select("doc_id", F.explode(Tx.token_chunks("text", _CHUNK, _CHUNK)).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_tokens").alias("chunk_tokens"),
        )
        .withColumn("shard", (F.col("doc_id") % _PACK_SHARDS).cast("int"))
    )
    packed = pack_sequences(ch, budget=_PACK_BUDGET)
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("chunk_tokens").cast("long").alias("started_tokens"),
        F.sum(F.when(F.col("straddle"), 1).otherwise(0)).cast("long").alias("n_straddle"),
    )


# --- incremental-ingest dedup -------------------------------------------------

_SQL_FP = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


# Shared by the cold-start and steady-state incremental-dedup queries:
# classification is definitionally identical whether the index frames
# are derived inline or round-tripped through parquet storage — that
# equivalence is exactly what the steady-state query verifies.
_SQL_INC_DEDUP = f"""
    WITH {_SQL_LSH_CANDS},
    fp AS (SELECT doc_id, {_SQL_FP} AS f FROM documents),
    ex_fp AS (
      SELECT f, min(doc_id) AS exact_match FROM fp WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    inc AS (SELECT doc_id, f FROM fp WHERE doc_id % 2 = 1),
    exact AS (
      SELECT inc.doc_id, ex_fp.exact_match FROM inc LEFT JOIN ex_fp USING (f)
    ),
    candx AS (
      SELECT DISTINCT bi.doc_id AS inc_id, be.doc_id AS ex_id
      FROM bands bi JOIN bands be
        ON bi.band_idx = be.band_idx AND bi.band_val = be.band_val
      WHERE bi.doc_id % 2 = 1 AND be.doc_id % 2 = 0
    ),
    near AS (
      SELECT inc_id, min(ex_id) AS near_match
      FROM candx
      JOIN t a ON a.doc_id = candx.inc_id
      JOIN t b ON b.doc_id = candx.ex_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(a.sh || b.sh)) >= 0.5
      GROUP BY 1
    )
    SELECT exact.doc_id,
           CASE WHEN exact_match IS NOT NULL THEN 'exact_dup'
                WHEN near_match IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS status,
           coalesce(exact_match, near_match) AS match_id
    FROM exact LEFT JOIN near ON exact.doc_id = near.inc_id
"""


@register(
    "incremental_ingest_dedup",
    oracle=_SQL_INC_DEDUP,
    doc="""Incremental-ingest dedup (SURVEY §2.11 — the daily-crawl-vs-
    lake topology): classify each INCOMING doc (odd doc_id here) against
    the EXISTING corpus (even doc_id) as exact_dup / near_dup / new with
    the minimum matching existing id. Asymmetric by construction
    (operators/dedup.incremental_dedup): incoming fingerprints and band
    values equi-join the existing indexes — candidates are (incoming x
    existing) collisions only, never either side against itself, so
    admitting a batch costs a batch-sized join against bucketed indexes
    instead of a corpus-wide re-dedup. A doc's MinHash signature depends
    only on its own shingles, so the oracle replays the split from the
    corpus-wide signature CTE filtered by parity — bitwise the same
    bands the per-side Spark operator computes.""",
    tags=("dedup", "lsh", "streaming"),
)
def q_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import incremental_dedup

    d = fan_out(load(spark, sf_dir, "documents"))
    return incremental_dedup(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


@register(
    "incremental_dedup_steady_state",
    oracle=_SQL_INC_DEDUP,
    doc="""Steady-state incremental dedup (the path production actually
    runs): the existing corpus's (fp, bands, shingles) index frames are
    MATERIALIZED to parquet (what ``streaming.pipeline.ingest_with_dedup``
    appends per admitted batch) and the incoming half classifies through
    the STORED index via ``incremental_dedup(index=...)`` — no scan,
    tokenize, or hash of the existing corpus happens in the returned
    plan; its only inputs are the index files and the batch. The oracle
    is byte-identical to the cold-start query's, which is the point: a
    hash match proves index build -> parquet round-trip -> index-join
    classification loses nothing vs deriving the index inline. Closes
    COVERAGE limitation #1 (stored-index path had tests but no driver
    oracle row). The index write happens at call time by design — it IS
    the admission side effect being simulated.""",
    tags=("dedup", "lsh", "streaming", "storage"),
)
def q_incremental_dedup_steady_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from datapipeline_spike_spark.operators.dedup import incremental_dedup

    d = fan_out(load(spark, sf_dir, "documents"))
    existing = d.filter(F.col("doc_id") % 2 == 0)
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    # Keyed on sf_dir AND pid: two concurrent sessions on the same
    # sf_dir (overlapping bench + driver run) must not overwrite each
    # other's index parquet while a built-but-unexecuted plan in the
    # other process still references the files.
    root = os.path.join(
        tempfile.gettempdir(),
        "dps_steady_idx_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        + f"_{os.getpid()}",
    )
    # staged build: fingerprint scan, then ONE tokenize+shingle scan
    # whose stored output feeds the band derivation — the corpus is
    # never shingled twice (the naive three-frame build scans it per
    # frame; measured 2x on the index-build cost at sf0.1)
    from datapipeline_spike_spark.functions.text import fingerprint_md5, shingles
    from datapipeline_spike_spark.operators.dedup import (
        band_values,
        minhash_signature_from_shingles,
    )

    existing.select(fingerprint_md5("text").alias("f"), "doc_id").write.mode(
        "overwrite"
    ).parquet(f"{root}/fp")
    existing.select(
        F.col("doc_id").alias("ex_id"), shingles("text", k=3).alias("ex_sh")
    ).write.mode("overwrite").parquet(f"{root}/shingles")
    stored_sh = spark.read.parquet(f"{root}/shingles")
    band_values(
        minhash_signature_from_shingles(stored_sh, "ex_id", "ex_sh"), "ex_id"
    ).write.mode("overwrite").parquet(f"{root}/bands")
    stored = (
        spark.read.parquet(f"{root}/fp"),
        spark.read.parquet(f"{root}/bands"),
        spark.read.parquet(f"{root}/shingles"),
    )
    return incremental_dedup(None, incoming, index=stored)


# --- MinHash signature fidelity ----------------------------------------------

_MH_EQ = " + ".join(
    f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(8)
)


@register(
    "minhash_jaccard_estimate",
    oracle=f"""
    WITH {_SQL_LSH_CANDS}
    SELECT cand.doc_id_a, cand.doc_id_b,
           CAST({_MH_EQ} AS INT) AS n_agree,
           round(({_MH_EQ}) / 8.0, {R}) AS est_jaccard,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(a.sh || b.sh)), {R}) AS exact_jaccard,
           round(abs(({_MH_EQ}) / 8.0
                     - len(list_intersect(a.sh, b.sh)) * 1.0
                       / len(list_distinct(a.sh || b.sh))), {R}) AS abs_err
    FROM cand
    JOIN sig sa ON sa.doc_id = cand.doc_id_a
    JOIN sig sb ON sb.doc_id = cand.doc_id_b
    JOIN t a ON a.doc_id = cand.doc_id_a
    JOIN t b ON b.doc_id = cand.doc_id_b
    """,
    doc="""MinHash signature fidelity audit (SURVEY §2.11 dedup QA — the
    'measure, don't guess' check for the LSH stack): for every LSH
    candidate pair, the signature-agreement Jaccard ESTIMATE
    (matching minhash slots / 8 — the unbiased MinHash estimator) next
    to the EXACT 3-shingle Jaccard and the absolute error. This is how
    an operator owner validates that 8 hashes and 4x2 banding are
    adequate before trusting the candidate feed at 100 TB — scored on
    candidate pairs only (O(candidates), never all-pairs); signatures
    and shingle sets both come from one scan each, joined by doc id.""",
    tags=("dedup", "lsh", "quality"),
)
def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import shingles
    from datapipeline_spike_spark.operators.dedup import (
        minhash_signature_from_shingles,
    )

    d = fan_out(load(spark, sf_dir, "documents"))
    # ONE tokenize+shingle pass (r19): the materialized shingle frame
    # (1 row/doc, the distinct shingle arrays every consumer reads)
    # feeds the signature derivation AND both exact-Jaccard join sides
    # — previously the corpus was shingled three times (once inside
    # minhash_signature, once per Jaccard side). The signature frame is
    # checkpointed too: it feeds the banding and both agreement joins,
    # and Catalyst compiles each consumer's subtree independently (no
    # ReusedExchange).
    sh = d.select(
        F.col("doc_id").alias("sid"), shingles("text", k=3).alias("sh")
    ).withColumn("n_sh", F.size("sh")).transform(materialize_barrier)
    sig = (
        minhash_signature_from_shingles(sh, "sid", "sh")
        .withColumnRenamed("sid", "doc_id")
        .transform(materialize_barrier)
    )
    cand = lsh_candidate_pairs(d, sig=sig).select("doc_id_a", "doc_id_b")
    agree = sum(
        (F.col(f"a_mh{i}") == F.col(f"b_mh{i}")).cast("int") for i in range(8)
    )
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    # distinct shingle sets: |A u B| = |A| + |B| - |A n B| (integer
    # arithmetic instead of a union array per candidate pair)
    union = F.col("an") + F.col("bn") - inter
    exact = inter.cast("double") / union
    est = agree / F.lit(8.0)
    return (
        cand.join(
            sig.select(
                F.col("doc_id").alias("aid"),
                *[F.col(f"minhash_{i}").alias(f"a_mh{i}") for i in range(8)],
            ),
            cand["doc_id_a"] == F.col("aid"),
        )
        .join(
            sig.select(
                F.col("doc_id").alias("bid"),
                *[F.col(f"minhash_{i}").alias(f"b_mh{i}") for i in range(8)],
            ),
            cand["doc_id_b"] == F.col("bid"),
        )
        .join(
            sh.select(
                F.col("sid").alias("said"), F.col("sh").alias("a_sh"),
                F.col("n_sh").alias("an"),
            ),
            cand["doc_id_a"] == F.col("said"),
        )
        .join(
            sh.select(
                F.col("sid").alias("sbid"), F.col("sh").alias("b_sh"),
                F.col("n_sh").alias("bn"),
            ),
            cand["doc_id_b"] == F.col("sbid"),
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            agree.cast("int").alias("n_agree"),
            F.round(est, R).alias("est_jaccard"),
            F.round(exact, R).alias("exact_jaccard"),
            F.round(F.abs(est - exact), R).alias("abs_err"),
        )
    )


# --- token-budget corpus mixing ----------------------------------------------

# Target language mixture for the training-corpus plan: zh deliberately
# over-weighted past its corpus share so the rate cap (and the resulting
# token deficit) is exercised, not just dead code.
_MIX_WEIGHTS = {"en": 0.2, "es": 0.2, "zh": 0.4}  # de/fr default 0.1
_MIX_BUDGET_FRAC = 0.6  # total token budget as a fraction of corpus tokens

_SQL_MIX_W = (
    "CAST(CASE lang WHEN 'en' THEN 0.2 WHEN 'es' THEN 0.2 "
    "WHEN 'zh' THEN 0.4 ELSE 0.1 END AS DOUBLE)"
)


@register(
    "corpus_mixture_plan",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, len({_SQL_TOKS}) AS tk FROM documents
    ), bl AS (
      SELECT lang, count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS n_tokens
      FROM d GROUP BY 1
    ), tot AS (
      -- total from the 5-row lang aggregate, NOT a second corpus scan
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM bl
    ), plan AS (
      SELECT lang, n_docs, n_tokens, {_SQL_MIX_W.replace("lang", "bl.lang")} AS weight,
             least(CAST(1.0 AS DOUBLE),
                   CAST({_MIX_BUDGET_FRAC} AS DOUBLE)
                   * {_SQL_MIX_W.replace("lang", "bl.lang")}
                   * total_tokens / n_tokens) AS rate
      FROM bl, tot
    ), kept AS (
      SELECT lang, count(*) AS n_kept_docs, CAST(sum(tk) AS BIGINT) AS kept_tokens
      FROM d JOIN plan USING (lang)
      WHERE {_SQL_U01} < rate
      GROUP BY 1
    )
    SELECT plan.lang, n_docs, n_tokens, weight,
           round(rate, {R}) AS sampling_rate,
           coalesce(n_kept_docs, 0) AS n_kept_docs,
           coalesce(kept_tokens, 0) AS kept_tokens
    FROM plan LEFT JOIN kept ON plan.lang = kept.lang
    """,
    doc=f"""Token-budget corpus mixing (SURVEY §2.11 — the data-mixing
    stage of LLM pretraining, after the published domain-weight
    recipes): given target language weights {_MIX_WEIGHTS} (others 0.1)
    and a total budget of {_MIX_BUDGET_FRAC:.0%} of corpus tokens,
    derive each language's sampling rate (capped at 1.0 — zh is
    over-weighted past its share, so its rate caps and the plan shows
    the token deficit), then apply the deterministic md5-hash draw
    per document and report ACHIEVED kept docs/tokens next to the
    plan. Two lang-grain aggregations plus a 5-row broadcast join back
    to the corpus — linear, rerun-stable, no RNG state; the rate math
    is forced to DOUBLE on both engines (DuckDB decimal literals would
    otherwise diverge bitwise from Spark doubles).""",
    tags=("text", "sampling", "mixing"),
)
def q_corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sampling import hash_u01

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", Tx.token_count("text").alias("tk")
    )
    by_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tk").cast("long").alias("n_tokens")
    )
    # grand total from the 5-row lang aggregate — deriving it with a
    # second d.agg() would re-scan and re-tokenize the whole corpus
    total = by_lang.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    weight = (
        F.when(F.col("lang") == "en", 0.2)
        .when(F.col("lang") == "es", 0.2)
        .when(F.col("lang") == "zh", 0.4)
        .otherwise(0.1)
        .cast("double")
    )
    plan = by_lang.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_docs",
        "n_tokens",
        weight.alias("weight"),
        F.least(
            F.lit(1.0),
            F.lit(_MIX_BUDGET_FRAC) * weight * F.col("total_tokens") / F.col("n_tokens"),
        ).alias("rate"),
    )
    kept = (
        d.join(F.broadcast(plan.select("lang", "rate")), "lang")
        .filter(hash_u01("doc_id") < F.col("rate"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept_docs"),
            F.sum("tk").cast("long").alias("kept_tokens"),
        )
    )
    return plan.join(kept, "lang", "left").select(
        "lang",
        "n_docs",
        "n_tokens",
        "weight",
        F.round("rate", R).alias("sampling_rate"),
        F.coalesce("n_kept_docs", F.lit(0)).alias("n_kept_docs"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
    )


# --- composite quality filter -------------------------------------------------

# C4/Gopher-class rule thresholds (documented engine constants; the
# published pipelines use the same rule SHAPES with corpus-tuned values)
_QF_MIN_TOKENS = 15
_QF_MEAN_LEN_LO, _QF_MEAN_LEN_HI = 2.0, 12.0
_QF_MAX_SYMBOL_RATIO = 0.10
_QF_MIN_DISTINCT_RATIO = 0.30

_SQL_QF_SYMS = "len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))"


@register(
    "quality_filter_decision",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, text, {_SQL_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, lang,
             len(toks) AS n_tokens,
             CASE WHEN len(toks) > 0 THEN
               round(list_aggregate(list_transform(toks, tk -> len(tk)), 'sum')
                     * 1.0 / len(toks), {R}) END AS mean_token_len,
             CASE WHEN len(text) > 0 THEN
               round({_SQL_QF_SYMS} * 1.0 / len(text), {R}) END AS symbol_ratio,
             CASE WHEN len(toks) > 0 THEN
               round(len(list_distinct(toks)) * 1.0 / len(toks), {R}) END
               AS distinct_ratio,
             CASE WHEN lang = 'en' THEN len(list_intersect(toks, {_sql_stopword_list("en")})) > 0
                  WHEN lang = 'de' THEN len(list_intersect(toks, {_sql_stopword_list("de")})) > 0
                  WHEN lang = 'fr' THEN len(list_intersect(toks, {_sql_stopword_list("fr")})) > 0
             END AS has_stopword
      FROM t
    )
    SELECT doc_id, lang, n_tokens, mean_token_len, symbol_ratio, distinct_ratio,
           has_stopword,
           CASE WHEN n_tokens < {_QF_MIN_TOKENS} THEN 'too_short'
                WHEN mean_token_len < {_QF_MEAN_LEN_LO}
                  OR mean_token_len > {_QF_MEAN_LEN_HI} THEN 'word_length'
                WHEN symbol_ratio > {_QF_MAX_SYMBOL_RATIO} THEN 'symbol_heavy'
                WHEN distinct_ratio < {_QF_MIN_DISTINCT_RATIO} THEN 'repetitive'
                WHEN has_stopword = false THEN 'no_stopwords'
           END AS reject_reason,
           (CASE WHEN n_tokens < {_QF_MIN_TOKENS} THEN 'too_short'
                WHEN mean_token_len < {_QF_MEAN_LEN_LO}
                  OR mean_token_len > {_QF_MEAN_LEN_HI} THEN 'word_length'
                WHEN symbol_ratio > {_QF_MAX_SYMBOL_RATIO} THEN 'symbol_heavy'
                WHEN distinct_ratio < {_QF_MIN_DISTINCT_RATIO} THEN 'repetitive'
                WHEN has_stopword = false THEN 'no_stopwords'
           END) IS NULL AS keep
    FROM m
    """,
    doc=f"""Composite quality filter decision (SURVEY §2.11 — the
    C4/Gopher-class rule stage every pretraining pipeline runs before
    dedup): per document the rule inputs (token count, mean token
    length, symbol ratio, distinct-token ratio, stopword presence for
    languages with a list) plus the FIRST failing rule as reject_reason
    and the keep verdict. Thresholds are documented engine constants
    (min {_QF_MIN_TOKENS} tokens, mean length
    [{_QF_MEAN_LEN_LO}, {_QF_MEAN_LEN_HI}], symbol ratio <=
    {_QF_MAX_SYMBOL_RATIO}, distinct ratio >= {_QF_MIN_DISTINCT_RATIO}).
    Entirely MAP-ONLY — one corpus scan, zero shuffles (the distinct
    ratio uses array_distinct on the doc's own tokens, not a corpus
    aggregate), so at 100 TB this is scan-bound and embarrassingly
    parallel; the flags it emits are the standard pre-dedup routing
    columns. Rules are evaluated on 6dp-rounded ratios so the decision
    replays identically in SQL.""",
    tags=("text", "quality", "filter"),
)
def q_quality_filter_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    # project toks once as a flat alias: multiply-referenced non-trivial
    # aliases survive CollapseProject, so the tokenizer runs once per row
    base = d.select("doc_id", "lang", "text", Tx.tokens("text").alias("toks"))
    n_tokens = F.size("toks")
    tok_len_sum = F.aggregate(
        F.transform("toks", F.length), F.lit(0), lambda a, x: a + x
    )
    mean_len = F.when(
        n_tokens > 0, F.round(tok_len_sum * F.lit(1.0) / n_tokens, R)
    )
    n_chars = F.length("text")
    syms = F.length(F.regexp_replace(F.lower("text"), r"[a-z0-9\s]", ""))
    symbol_ratio = F.when(n_chars > 0, F.round(syms * F.lit(1.0) / n_chars, R))
    distinct_ratio = F.when(
        n_tokens > 0,
        F.round(F.size(F.array_distinct("toks")) * F.lit(1.0) / n_tokens, R),
    )
    sw = {
        lang: F.arrays_overlap(
            "toks", F.array(*[F.lit(w) for w in Tx.STOPWORDS[lang]])
        )
        for lang in ("en", "de", "fr")
    }
    has_stopword = (
        F.when(F.col("lang") == "en", sw["en"])
        .when(F.col("lang") == "de", sw["de"])
        .when(F.col("lang") == "fr", sw["fr"])
    )
    m = base.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        symbol_ratio.alias("symbol_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        has_stopword.alias("has_stopword"),
    )
    reason = (
        F.when(F.col("n_tokens") < _QF_MIN_TOKENS, "too_short")
        .when(
            (F.col("mean_token_len") < _QF_MEAN_LEN_LO)
            | (F.col("mean_token_len") > _QF_MEAN_LEN_HI),
            "word_length",
        )
        .when(F.col("symbol_ratio") > _QF_MAX_SYMBOL_RATIO, "symbol_heavy")
        .when(F.col("distinct_ratio") < _QF_MIN_DISTINCT_RATIO, "repetitive")
        .when(F.col("has_stopword") == False, "no_stopwords")  # noqa: E712
    )
    return m.select(
        "*", reason.alias("reject_reason"), reason.isNull().alias("keep")
    )


_RESERVOIR_R = 40  # docs per stratum


@register(
    "fixed_size_sample",
    oracle=f"""
    SELECT lang, doc_id, sample_u, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT lang, doc_id,
             round({_SQL_U01}, {R}) AS sample_u,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_SQL_U01}, doc_id
             ) AS rnk
      FROM documents
    ) WHERE rnk <= {_RESERVOIR_R}
    """,
    doc=f"""Fixed-SIZE deterministic stratified sampling (SURVEY §2.11 —
    eval/holdout-set construction, the companion of the rate-based
    stratified_sample): exactly min({_RESERVOIR_R}, n) documents per
    language, selected as the lowest md5-hash draws — a deterministic
    reservoir. Hash-ordered selection means the sample is STABLE under
    corpus growth in expectation-preserving fashion (a new doc displaces
    at most one member, the classic bottom-k property KMV relies on) and
    identical across reruns/backfills, which RNG reservoir sampling is
    not. Scale shape (r8): NOT one window over the stratum key — lang
    has a handful of values, so Window.partitionBy(lang) would funnel
    the whole corpus through |languages| reducers at 100 TB. The salted
    two-phase bottom-k (operators.sampling.bottom_k_per_group) ranks
    within (lang, salt) first and re-ranks only the bounded survivors,
    identical result row for row.""",
    tags=("text", "sampling"),
)
def q_fixed_size_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sampling import (
        bottom_k_per_group,
        hash_u01,
    )

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "lang", "doc_id", hash_u01("doc_id").alias("_u")
    )
    out = bottom_k_per_group(d, ["lang"], ["_u", "doc_id"], _RESERVOIR_R)
    return out.select(
        "lang",
        "doc_id",
        F.round("_u", R).alias("sample_u"),
        F.col("rnk").cast("int").alias("rnk"),
    )


@register(
    "source_quality_rollup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_SQL_TOKS} AS toks,
             {_SQL_FP} AS f
      FROM documents
    ), flags AS (
      SELECT doc_id, source, len(toks) AS n_tokens, f,
             (len(toks) >= {_QF_MIN_TOKENS}
              AND len(list_distinct(toks)) * 1.0
                  / greatest(len(toks), 1) >= {_QF_MIN_DISTINCT_RATIO}) AS keeps
      FROM t
    ), dups AS (
      SELECT doc_id, source, n_tokens, keeps,
             (min(doc_id) OVER (PARTITION BY f)) < doc_id AS is_dup
      FROM flags
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(avg(n_tokens), {R}) AS mean_tokens,
           round(sum(CASE WHEN keeps THEN 1 ELSE 0 END) * 1.0 / count(*), {R})
             AS keep_rate,
           round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1.0 / count(*), {R})
             AS dup_rate
    FROM dups
    GROUP BY 1
    """,
    doc=f"""Per-source corpus health rollup (SURVEY §2.11 — the report a
    data team reads before adjusting crawl/mixture decisions): for every
    source, document and token counts, the keep rate under the core
    quality rules (min {_QF_MIN_TOKENS} tokens, distinct-token ratio >=
    {_QF_MIN_DISTINCT_RATIO}), and the exact-duplicate rate (non-minimal
    member of a fingerprint group). Composes the filter and dedup
    signals at the SOURCE grain: one scan + one fingerprint window + one
    source-grain aggregation — two linear shuffles, no joins, no
    corpus-squared anything.""",
    tags=("text", "quality", "dedup"),
)
def q_source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from datapipeline_spike_spark.functions.text import fingerprint_md5

    d = fan_out(load(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        "source",
        Tx.tokens("text").alias("toks"),
        fingerprint_md5("text").alias("f"),
    )
    n_tokens = F.size("toks")
    keeps = (n_tokens >= _QF_MIN_TOKENS) & (
        F.size(F.array_distinct("toks")) * F.lit(1.0)
        / F.greatest(n_tokens, F.lit(1))
        >= _QF_MIN_DISTINCT_RATIO
    )
    flags = base.select(
        "doc_id", "source", n_tokens.alias("n_tokens"), "f", keeps.alias("keeps")
    )
    is_dup = F.min("doc_id").over(Window.partitionBy("f")) < F.col("doc_id")
    dups = flags.select("source", "n_tokens", "keeps", is_dup.alias("is_dup"))
    return dups.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.avg("n_tokens"), R).alias("mean_tokens"),
        F.round(
            F.sum(F.when(F.col("keeps"), 1).otherwise(0)) * F.lit(1.0)
            / F.count(F.lit(1)),
            R,
        ).alias("keep_rate"),
        F.round(
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)) * F.lit(1.0)
            / F.count(F.lit(1)),
            R,
        ).alias("dup_rate"),
    )


_EDIT_PREFIX = 64  # chars of normalized prefix compared per candidate pair


@register(
    "candidate_edit_distance",
    oracle=f"""
    WITH {_SQL_LSH_CANDS},
    norm AS (
      SELECT doc_id,
             substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                    1, {_EDIT_PREFIX}) AS p
      FROM documents
    )
    SELECT cand.doc_id_a, cand.doc_id_b,
           CAST(levenshtein(a.p, b.p) AS INT) AS prefix_edit_dist,
           round(1.0 - levenshtein(a.p, b.p) * 1.0
                 / greatest(len(a.p), len(b.p), 1), {R}) AS prefix_similarity
    FROM cand
    JOIN norm a ON a.doc_id = cand.doc_id_a
    JOIN norm b ON b.doc_id = cand.doc_id_b
    """,
    doc=f"""Edit-distance verifier over LSH candidate pairs (SURVEY §2.8
    string family + §2.11 dedup QA): Levenshtein distance and normalized
    similarity of the {_EDIT_PREFIX}-char normalized prefixes — the
    third independent verifier signal next to shingle Jaccard and
    MinHash agreement (character-level edits catch near-dups that
    token-level measures smear, e.g. hyphenation or diacritic drift).
    Bounded by construction twice over: O(candidates) pairs only, and
    the O(len^2) DP runs on fixed {_EDIT_PREFIX}-char prefixes, never
    whole documents — full-text Levenshtein at corpus scale is
    quadratic-per-pair and deliberately NOT offered.""",
    tags=("dedup", "text", "string"),
)
def q_candidate_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import normalize_text

    d = fan_out(load(spark, sf_dir, "documents"))
    cand = lsh_candidate_pairs(d).select("doc_id_a", "doc_id_b")
    norm = d.select(
        F.col("doc_id").alias("nid"),
        F.substring(normalize_text("text"), 1, _EDIT_PREFIX).alias("p"),
    )
    dist = F.levenshtein(F.col("a_p"), F.col("b_p"))
    sim = F.lit(1.0) - dist * F.lit(1.0) / F.greatest(
        F.length("a_p"), F.length("b_p"), F.lit(1)
    )
    return (
        cand.join(
            norm.select(F.col("nid").alias("aid"), F.col("p").alias("a_p")),
            cand["doc_id_a"] == F.col("aid"),
        )
        .join(
            norm.select(F.col("nid").alias("bid"), F.col("p").alias("b_p")),
            cand["doc_id_b"] == F.col("bid"),
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            dist.cast("int").alias("prefix_edit_dist"),
            F.round(sim, R).alias("prefix_similarity"),
        )
    )


# --- URL canonicalization dedup ----------------------------------------------

# documents carries no URL column, so a deterministic messy URL is
# synthesized per doc (scheme/www/case/query-string variants) and the
# operator under test is the CANONICALIZATION + dedup, replayed
# identically in SQL. Same move as the parity-split incremental dedup.
_SQL_MESSY_URL = (
    "concat(CASE doc_id % 3 WHEN 0 THEN 'https://' WHEN 1 THEN 'http://www.' "
    "ELSE 'HTTPS://WWW.' END, source, '.example.com/Page/', "
    "CAST(doc_id % 40 AS VARCHAR), "
    "CASE doc_id % 2 WHEN 0 THEN '?utm_source=feed&ref=rss' ELSE '/' END)"
)


@register(
    "url_host_dedup",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_SQL_MESSY_URL} AS url FROM documents),
    c AS (
      SELECT doc_id, url,
             regexp_replace(regexp_replace(regexp_replace(lower(url),
               '^https?://(www\\.)?', ''), '\\?.*$', ''), '/+$', '')
               AS canonical_url
      FROM u
    )
    SELECT doc_id, url, canonical_url,
           min(doc_id) OVER (PARTITION BY canonical_url) AS url_rep,
           doc_id != min(doc_id) OVER (PARTITION BY canonical_url) AS is_url_dup
    FROM c
    """,
    doc="""URL-level dedup (SURVEY §2.11 — the first dedup tier of a web
    crawl pipeline, before any content hashing): canonicalize (lowercase,
    strip scheme + www + query string + trailing slash) and keep the
    minimum doc per canonical URL. One window over the canonical key —
    a single hash shuffle at any corpus size; canonicalization itself is
    map-only codegen (three regexp_replace). The messy URL is
    synthesized deterministically per doc (scheme/www/case/query
    variants) since the testdata has no URL column; the operator under
    test is canonicalize+dedup, replayed bit-identically in the
    oracle.""",
    tags=("dedup", "url", "text"),
)
def q_url_host_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    from pyspark.sql import Window

    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("https://"))
        .when(F.col("doc_id") % 3 == 1, F.lit("http://www."))
        .otherwise(F.lit("HTTPS://WWW.")),
        F.col("source"),
        F.lit(".example.com/Page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed&ref=rss")).otherwise(
            F.lit("/")
        ),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("url")), r"^https?://(www\.)?", ""),
            r"\?.*$",
            "",
        ),
        "/+$",
        "",
    )
    w = Window.partitionBy("canonical_url")
    return (
        d.select("doc_id", url.alias("url"))
        .select("doc_id", "url", canon.alias("canonical_url"))
        .select(
            "doc_id",
            "url",
            "canonical_url",
            F.min("doc_id").over(w).alias("url_rep"),
            (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_url_dup"),
        )
    )


# --- decontamination span removal --------------------------------------------


@register(
    "decontamination_span_removal",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    sh AS (SELECT doc_id, {_SQL_SHINGLES_K} AS ngs FROM t),
    bench AS (
      SELECT DISTINCT unnest(ngs) AS ng FROM sh WHERE doc_id % {_CONTAM_MOD} = 0
    ),
    pos0 AS (
      SELECT doc_id, len(toks) AS n_tokens,
             unnest(list_transform(range(1, len(toks) - {_CONTAM_K} + 2),
               i -> {{'pos': i - 1,
                      'ng': array_to_string(toks[i:i+{_CONTAM_K - 1}], ' ')}})) AS s
      FROM t WHERE len(toks) >= {_CONTAM_K} AND doc_id % {_CONTAM_MOD} != 0
    ),
    hits AS (
      SELECT doc_id, n_tokens, s.pos AS pos
      FROM pos0 JOIN bench ON s.ng = bench.ng
    ),
    cov AS (
      SELECT DISTINCT doc_id, n_tokens, s2.cp AS cp
      FROM (SELECT doc_id, n_tokens,
                   unnest(list_transform(range(0, {_CONTAM_K}), d -> pos + d)) AS cp
            FROM hits) AS s2(doc_id, n_tokens, cp)
    ),
    agg AS (
      SELECT cov.doc_id, count(*) AS n_removed,
             (SELECT count(DISTINCT pos) FROM hits h
              WHERE h.doc_id = cov.doc_id) AS n_flagged_ngrams
      FROM cov GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(agg.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(agg.n_flagged_ngrams, 0) AS BIGINT) AS n_flagged_ngrams,
           CASE WHEN len(toks) = 0 THEN 1.0
                ELSE round((len(toks) - coalesce(agg.n_removed, 0)) * 1.0
                           / len(toks), {R}) END AS retained_ratio
    FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
    WHERE t.doc_id % {_CONTAM_MOD} != 0
    """,
    doc=f"""Decontamination SPAN REMOVAL (the action step after
    benchmark_contamination's detection): every corpus token covered by
    a {_CONTAM_K}-gram that collides with the benchmark set is marked
    for removal, and the query reports per-doc removed-token counts and
    the retained ratio — what a scrubbing pass would keep. Overlapping
    contaminated spans are merged by counting DISTINCT covered
    positions. The benchmark n-gram set is broadcast (eval-suite-sized,
    never corpus-sized); per-doc marking is one positional explode +
    equi-join + two bounded aggregations — linear in corpus tokens,
    no self-joins.""",
    tags=("text", "contamination", "dedup"),
)
def q_decontamination_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id",
        Tx.token_count("text").cast("long").alias("n_tokens"),
        Tx.ngrams("text", k=_CONTAM_K).alias("ngs"),
    )
    corpus = t.filter(F.col("doc_id") % _CONTAM_MOD != 0)
    bench = (
        d.filter(F.col("doc_id") % _CONTAM_MOD == 0)
        .select(F.explode(Tx.shingles("text", k=_CONTAM_K)).alias("ng"))
        .distinct()
    )
    # materialize the matched (doc_id, pos) pairs ONCE (r20, the r19
    # shared-pass class): the frame is tiny (contaminated positions
    # only) but its producer — tokenize + positional explode + the
    # broadcast bench join over the whole corpus — was re-rendered by
    # BOTH consumers (the covered-position count and the flagged-ngram
    # count; Catalyst does no CSE across aggregate branches). Eager
    # localCheckpoint = lineage-free blocks drained by
    # cache.unpersist_all (the LSH shingle-frame convention).
    hits = (
        corpus.select("doc_id", F.posexplode("ngs").alias("pos", "ng"))
        .join(F.broadcast(bench), "ng")
        .select("doc_id", "pos")
        .transform(materialize_barrier)
    )
    # ONE aggregate replaces explode(sequence)+distinct+count, the
    # separate count_distinct aggregate, and the join between them
    # (r20, guide §2.3/§2.4): over the sorted DISTINCT hit positions
    # p_1 < ... < p_m, the union of the covered intervals
    # [p_i, p_i+K-1] has exactly sum_i min(p_{i+1}-p_i, K) + K
    # positions — each hit contributes the positions before the next
    # interval starts (capped at K), the last contributes K. Integer
    # arithmetic, identical to counting the exploded distinct cover
    # positions (the oracle still counts them explicitly).
    _ps = F.col("_ps")
    covered = (
        F.aggregate(
            F.zip_with(
                F.slice(_ps, 1, F.size(_ps) - 1),
                F.slice(_ps, 2, F.size(_ps) - 1),
                lambda a, b: F.least(b - a, F.lit(_CONTAM_K)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        + F.lit(_CONTAM_K)
    )
    agg = (
        hits.groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("_ps"))
        .select(
            "doc_id",
            covered.alias("n_removed"),
            F.size("_ps").alias("n_flagged_ngrams"),
        )
    )
    return (
        corpus.select("doc_id", "n_tokens")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("n_flagged_ngrams", F.lit(0)).cast("long").alias("n_flagged_ngrams"),
            F.when(F.col("n_tokens") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    (F.col("n_tokens") - F.coalesce("n_removed", F.lit(0)))
                    * F.lit(1.0)
                    / F.col("n_tokens"),
                    R,
                )
            )
            .alias("retained_ratio"),
        )
    )


# --- winnowing fingerprints ---------------------------------------------------

_WINNOW_K = 4  # k-gram width
_WINNOW_W = 4  # window of consecutive k-gram hashes per fingerprint


@register(
    "winnowing_fingerprints",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    kg0 AS (
      SELECT doc_id, len(toks) - {_WINNOW_K - 1} AS n_kgrams,
             unnest(list_transform(range(1, len(toks) - {_WINNOW_K} + 2),
               i -> {{'pos': i - 1,
                      'h': CAST(('0x' || substr(md5(
                             array_to_string(toks[i:i+{_WINNOW_K - 1}], ' ')
                           ), 1, 8)) AS BIGINT)}})) AS s
      FROM t WHERE len(toks) >= {_WINNOW_K}
    ),
    kg AS (SELECT doc_id, n_kgrams, s.pos AS pos, s.h AS h FROM kg0),
    win AS (
      SELECT doc_id, n_kgrams, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp
      FROM kg
    ),
    sel AS (
      SELECT doc_id, n_kgrams, fp FROM win WHERE pos <= n_kgrams - {_WINNOW_W}
    )
    SELECT doc_id,
           CAST(n_kgrams AS BIGINT) AS n_kgrams,
           count(DISTINCT fp) AS n_fingerprints,
           md5(array_to_string(list_sort(list(DISTINCT fp)), ',')) AS fp_digest
    FROM sel GROUP BY 1, 2
    """,
    doc=f"""Winnowing document fingerprints (the MOSS scheme — the
    robust-fingerprinting alternative to a single rolling hash, SURVEY
    §2.11 document fingerprinting): hash every {_WINNOW_K}-gram (first 8
    md5 hex chars as a 32-bit int), slide a window of {_WINNOW_W}
    consecutive hashes, keep each window's minimum — guaranteeing any
    shared substring of length >= k + w - 1 between two docs shares a
    fingerprint, which position-sensitive rolling hashes cannot. Per-doc
    digest of the sorted distinct fingerprint set makes overlap checks a
    set intersection. One positional explode + one window min over
    (doc, pos) + one aggregation: a single hash shuffle, windows stream
    sorted — linear at any corpus size.""",
    tags=("text", "fingerprint", "dedup"),
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = fan_out(load(spark, sf_dir, "documents"))
    kg = (
        d.select("doc_id", Tx.ngrams("text", k=_WINNOW_K).alias("ngs"))
        .filter(F.size("ngs") >= 1)
        .select(
            "doc_id",
            F.size("ngs").cast("long").alias("n_kgrams"),
            F.posexplode("ngs").alias("pos", "ng"),
        )
        .select(
            "doc_id",
            "n_kgrams",
            "pos",
            F.conv(F.substring(F.md5("ng"), 1, 8), 16, 10).cast("long").alias("h"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WINNOW_W - 1)
    sel = kg.select(
        "doc_id", "n_kgrams", "pos", F.min("h").over(w).alias("fp")
    ).filter(F.col("pos") <= F.col("n_kgrams") - _WINNOW_W)
    # ONE collect_set aggregate feeds both outputs (r20): the previous
    # count_distinct + collect_set pair planned the 4-level distinct-
    # aggregate stack (partial/final x merge-distinct) — deriving the
    # count as size() of the already-needed sorted distinct set halves
    # the aggregate passes; values identical (count(DISTINCT fp) ==
    # size(collect_set(fp)) by definition). The aggregate reuses the
    # window's hashpartitioning(doc_id) — no extra exchange.
    return (
        sel.groupBy("doc_id", "n_kgrams")
        .agg(F.array_sort(F.collect_set("fp")).alias("_fps"))
        .select(
            "doc_id",
            "n_kgrams",
            F.size("_fps").cast("long").alias("n_fingerprints"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(F.col("_fps"), lambda x: x.cast("string")),
                )
            ).alias("fp_digest"),
        )
    )


# --- near-dup cluster statistics ---------------------------------------------


@register(
    "near_dup_cluster_stats",
    oracle=f"""
    {_SQL_DEDUP_ASSIGN_CTES}
    , sizes AS (
      SELECT canonical_id, count(*) AS cluster_size FROM assignment GROUP BY 1
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           count(*) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1
    """,
    doc="""Duplicate-cluster size distribution — the corpus-health
    rollup an operator reads after a dedup run (how much of the corpus
    is singletons vs large duplicate families, i.e. the volume the
    canonical-only view will drop). Derived from the SAME end-to-end
    pipeline as dedup_corpus_assignment (exact collapse -> LSH ->
    Jaccard verify -> components) with two tiny aggregations on top;
    the oracle extends the shared recursive-CTE replay. Cluster counts
    are cluster-cardinality-sized — negligible shuffles after the
    assignment itself.""",
    tags=("dedup", "components", "profile"),
)
def q_near_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import dedup_corpus

    assign = dedup_corpus(load(spark, sf_dir, "documents"), jaccard_threshold=0.8)
    sizes = assign.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


# --- cross-document repeated substrings --------------------------------------


@register(
    "repeated_substring_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    pos0 AS (
      SELECT doc_id, len(toks) AS n_tokens,
             unnest(list_transform(range(1, len(toks) - {_CONTAM_K} + 2),
               i -> {{'pos': i - 1,
                      'ng': array_to_string(toks[i:i+{_CONTAM_K - 1}], ' ')}})) AS s
      FROM t WHERE len(toks) >= {_CONTAM_K}
    ),
    p AS (SELECT doc_id, n_tokens, s.pos AS pos, s.ng AS ng FROM pos0),
    rep AS (
      SELECT ng FROM p GROUP BY ng HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT p.doc_id, p.n_tokens, p.pos FROM p JOIN rep USING (ng)),
    cov AS (
      SELECT DISTINCT doc_id, c.cp AS cp
      FROM (SELECT doc_id,
                   unnest(list_transform(range(0, {_CONTAM_K}), d -> pos + d)) AS cp
            FROM hits) AS c(doc_id, cp)
    ),
    agg AS (
      SELECT cov.doc_id, count(*) AS n_rep,
             (SELECT count(DISTINCT pos) FROM hits h
              WHERE h.doc_id = cov.doc_id) AS n_rep_ngrams
      FROM cov GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(agg.n_rep, 0) AS BIGINT) AS n_repeated_tokens,
           CAST(coalesce(agg.n_rep_ngrams, 0) AS BIGINT) AS n_repeated_ngrams,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE round(coalesce(agg.n_rep, 0) * 1.0 / len(toks), {R})
           END AS repeated_fraction
    FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
    """,
    doc=f"""Cross-document repeated-substring profile — the
    exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), in its k-gram-anchored
    bounded form: a token is 'repeated' when it sits inside a
    {_CONTAM_K}-token window that occurs VERBATIM in at least one other
    document; the per-doc repeated fraction is what a substring-dedup
    scrub would cut (the suffix-array formulation finds arbitrary-length
    repeats; anchoring at k tokens is the distributed-join-friendly
    bound — any repeat of length >= k is caught). Linear end-to-end:
    positional explode, one n-gram-keyed count-distinct shuffle, one
    n-gram-keyed hit join, distinct covered positions — never a doc x
    doc comparison.""",
    tags=("text", "dedup", "substring"),
)
def q_repeated_substring_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repeated_substring_profile(fan_out(load(spark, sf_dir, "documents")))


def repeated_substring_profile(d: DataFrame) -> DataFrame:
    """DataFrame-level core of ``repeated_substring_profile`` — split out
    so the scale probe measures exactly the production plan."""
    t = d.select(
        "doc_id",
        Tx.token_count("text").cast("long").alias("n_tokens"),
        Tx.ngrams("text", k=_CONTAM_K).alias("ngs"),
    )
    # shuffle the 16-byte md5 digest of each gram, not the ~45-byte
    # k=8 gram string (r20 — the r19 dedup_span_removal narrowing,
    # guide §2.3): the count-distinct aggregate and the hit join only
    # need gram IDENTITY, so both gram-keyed shuffles move ~3x fewer
    # bytes; 128-bit digests are collision-safe at any corpus gram
    # count (the fingerprint_md5 convention and its documented
    # adversarial caveat).
    p = t.select(
        "doc_id", "n_tokens", F.posexplode("ngs").alias("pos", "ng")
    ).select("doc_id", "n_tokens", "pos", F.unhex(F.md5("ng")).alias("_h"))
    rep = (
        p.groupBy("_h")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("_h")
    )
    hits = p.join(rep, "_h").select("doc_id", "pos")
    # Covered-token counting WITHOUT the 5x explode + distinct shuffle
    # (r5 verdict item 6): each hit covers the interval
    # [pos, pos + k - 1]; over hits sorted per doc, a hit's NEW coverage
    # is min(k, gap to the previous hit) — the classic merge-intervals
    # identity for fixed-length intervals. (doc_id, pos) is unique by
    # construction (posexplode positions are distinct and rep carries
    # one row per n-gram), so one doc-keyed window + an aggregate on the
    # SAME key (no second exchange) replaces exploding k rows per hit
    # and distinct-ing them — the shuffle carries hit-volume rows, not
    # 5x, which matters on a duplicate-dense 100 TB corpus.
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    contrib = F.least(
        F.lit(_CONTAM_K), F.col("pos") - F.lag("pos").over(w_doc)
    )
    agg = (
        hits.select("doc_id", F.coalesce(contrib, F.lit(_CONTAM_K)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_repeated_tokens"),
            F.count(F.lit(1)).alias("n_repeated_ngrams"),
        )
    )
    return (
        t.select("doc_id", "n_tokens")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_repeated_tokens", F.lit(0)).cast("long").alias("n_repeated_tokens"),
            F.coalesce("n_repeated_ngrams", F.lit(0)).cast("long").alias("n_repeated_ngrams"),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_repeated_tokens", F.lit(0)) * F.lit(1.0) / F.col("n_tokens"),
                    R,
                )
            )
            .alias("repeated_fraction"),
        )
    )


# --- Bloom-filter membership sketch ------------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_K = 3     # probes per element (Kirsch-Mitzenmacher double hashing)

# DuckDB twin of the position derivation: g1/g2 = first/second 8 md5 hex
# chars as uint32; position_i = (g1 + i*g2) mod m
_SQL_BLOOM_POS = (
    f"list_transform(range(0, {_BLOOM_K}), i -> "
    f"CAST((CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) "
    f" + i * CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT)) % {_BLOOM_M} AS INT))"
)


@register(
    "bloom_filter_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    ref AS (
      SELECT DISTINCT unnest(toks) AS tok FROM t WHERE doc_id % 2 = 0
    ),
    probe AS (
      SELECT DISTINCT unnest(toks) AS tok FROM t WHERE doc_id % 2 = 1
    ),
    bits AS (
      SELECT DISTINCT p.b AS b
      FROM (SELECT unnest({_SQL_BLOOM_POS}) AS b FROM ref) p(b)
    ),
    probe_pos AS (
      SELECT tok, p.b AS b
      FROM (SELECT tok, unnest({_SQL_BLOOM_POS}) AS b FROM probe) p(tok, b)
    ),
    hits AS (
      SELECT probe_pos.tok, count(*) AS n_hit
      FROM probe_pos JOIN bits USING (b)
      GROUP BY 1
    ),
    probe_hits AS (
      SELECT probe.tok, coalesce(hits.n_hit, 0) AS n_hit,
             CASE WHEN ref.tok IS NOT NULL THEN 1 ELSE 0 END AS is_member
      FROM probe
      LEFT JOIN hits ON probe.tok = hits.tok
      LEFT JOIN ref  ON probe.tok = ref.tok
    )
    SELECT (SELECT count(*) FROM ref)  AS n_ref_tokens,
           (SELECT count(*) FROM bits) AS n_bits_set,
           round((SELECT count(*) FROM bits) * 1.0 / {_BLOOM_M}, {R}) AS fill_ratio,
           count(*)                     AS n_probe_tokens,
           CAST(sum(CASE WHEN n_hit = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
           CAST(sum(is_member) AS BIGINT) AS n_true_members,
           CAST(sum(CASE WHEN n_hit = {_BLOOM_K} AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           round(sum(CASE WHEN n_hit = {_BLOOM_K} AND is_member = 0 THEN 1 ELSE 0 END)
                 * 1.0 / greatest(count(*) - sum(is_member), 1), {R}) AS measured_fpr
    FROM probe_hits
    """,
    doc=f"""Bloom-filter membership sketch (the A+ sketch family next to
    KMV and Misra-Gries): an {_BLOOM_M}-bit / {_BLOOM_K}-probe filter is
    built over the even-docs vocabulary via Kirsch-Mitzenmacher double
    hashing of portable md5 words, then the odd-docs vocabulary probes
    it — reporting fill ratio, maybe-count, and the MEASURED false-
    positive rate next to the ground truth (what an engine uses to size
    join pre-filters and dedup pre-checks). Everything is relational:
    bit positions are rows, 'all {_BLOOM_K} bits set' is a count over a
    semi-join — so the filter's exact bit-level behavior replays in
    SQL, not just its summary. Shuffles are vocabulary-bounded; the
    probe join keys on bit position (<= {_BLOOM_M} distinct values,
    broadcast-sized).""",
    tags=("sketch", "bloom", "text"),
)
def q_bloom_filter_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(Tx.tokens("text")).alias("tok"))
    ref = toks.filter(F.col("doc_id") % 2 == 0).select("tok").distinct()
    probe = toks.filter(F.col("doc_id") % 2 == 1).select("tok").distinct()

    def positions(col: str):
        g1 = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        g2 = F.conv(F.substring(F.md5(col), 9, 8), 16, 10).cast("long")
        return F.array(
            *[((g1 + i * g2) % _BLOOM_M).cast("int") for i in range(_BLOOM_K)]
        )

    bits = ref.select(F.explode(positions("tok")).alias("b")).distinct()
    probe_pos = probe.select("tok", F.explode(positions("tok")).alias("b"))
    hits = (
        probe_pos.join(F.broadcast(bits), "b")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    member = probe.join(
        ref.withColumn("is_member", F.lit(1)), "tok", "left"
    ).select("tok", F.coalesce("is_member", F.lit(0)).alias("is_member"))
    per_tok = member.join(hits, "tok", "left").select(
        "tok",
        "is_member",
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
    )
    n_ref = ref.agg(F.count(F.lit(1)).alias("n_ref_tokens"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    return (
        per_tok.agg(
            F.count(F.lit(1)).alias("n_probe_tokens"),
            F.sum(F.when(F.col("n_hit") == _BLOOM_K, 1).otherwise(0))
            .cast("long")
            .alias("n_maybe"),
            F.sum("is_member").cast("long").alias("n_true_members"),
            F.sum(
                F.when((F.col("n_hit") == _BLOOM_K) & (F.col("is_member") == 0), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_false_positives"),
        )
        .crossJoin(F.broadcast(n_ref))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_ref_tokens",
            "n_bits_set",
            F.round(F.col("n_bits_set") * F.lit(1.0) / _BLOOM_M, R).alias("fill_ratio"),
            "n_probe_tokens",
            "n_maybe",
            "n_true_members",
            F.col("n_false_positives"),
            F.round(
                F.col("n_false_positives")
                * F.lit(1.0)
                / F.greatest(F.col("n_probe_tokens") - F.col("n_true_members"), F.lit(1)),
                R,
            ).alias("measured_fpr"),
        )
    )


# --- prefix-filtering set-similarity join ------------------------------------

# Jaccard threshold 0.8 as an exact fraction: prefix length
# p = n - ceil(0.8 n) + 1 computed in INTEGER arithmetic ((4n+4) div 5)
# so both engines agree without IEEE ceil(0.8*n) edge cases.


# One degenerate prefix shingle (boilerplate shared by ~all docs that
# still lands in prefixes) must not quadratic-bomb a single task: above
# this bucket size the HOF pair generator (which builds the whole
# m*(m-1)/2 pair array inside ONE row) hands off to a chunked
# distributed self-join. 10^4 ids ~= 5*10^7 in-bucket pairs, the top of
# what one task should own.
_PREFIX_BUCKET_CAP = 10_000


def _prefix_bucket_pairs(
    prefix: DataFrame, cap: int = _PREFIX_BUCKET_CAP, n_chunks: int = 32
) -> DataFrame:
    """Complete candidate pairs from prefix buckets, exactly (no pair
    dropped — the guard changes the execution shape, never the result):

    * buckets with <= ``cap`` ids: in-bucket HOF pair generation with
      the PPJoin length filter applied INSIDE the generator — Jaccard
      >= 4/5 forces 5*min(|a|,|b|) >= 4*max(|a|,|b|), so size-
      incompatible pairs never leave the bucket;
    * HOT buckets (> ``cap`` ids): the same pair set via a chunked
      self-join — each id hashes to one of ``n_chunks`` chunks, the
      right side is replicated once per target chunk <= its own, and
      the join key is (shingle, chunk), so a bucket of m ids fans its
      m^2/2 pair volume across ~n_chunks tasks instead of building one
      m^2-element array in a single row (which is both a straggler and
      an OOM at 100 TB, where a boilerplate shingle can collect millions
      of ids). Work is still quadratic in m — that is what AllPairs
      completeness on that shingle MEANS — but it spills and scales out.

    ``prefix`` columns: doc_id, n (set size), g (prefix shingle)."""
    from pyspark.sql import Window

    wg = Window.partitionBy("g")
    # the small/hot branch split consumes pm twice; materialize it so
    # the upstream prefix pipeline (df-count join + rank window) runs
    # once, not once per branch (r19). Prefix rows are ~n/5 of the
    # exploded shingles — a bounded frame.
    pm = (
        prefix.withColumn("m", F.count(F.lit(1)).over(wg))
        .filter(F.col("m") > 1)
        .transform(materialize_barrier)
    )

    ids = F.col("ids")
    small_pairs = (
        pm.filter(F.col("m") <= cap)
        .groupBy("g")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ids"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        ids,
                        lambda x, i: F.filter(
                            F.transform(
                                F.slice(ids, i + F.lit(2), F.size(ids)),
                                lambda y: F.struct(
                                    x["doc_id"].alias("a"), y["doc_id"].alias("b"),
                                    x["n"].alias("an"), y["n"].alias("bn"),
                                ),
                            ),
                            lambda p: 5 * F.least(p["an"], p["bn"])
                            >= 4 * F.greatest(p["an"], p["bn"]),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_id_a"), F.col("p.b").alias("doc_id_b"))
    )

    hot = pm.filter(F.col("m") > cap).withColumn(
        "c", F.pmod(F.hash("doc_id"), F.lit(n_chunks))
    )
    left = hot.select("g", "doc_id", "n", "c")
    # each right-side id serves every chunk index <= its own, so the
    # unordered pair (x in chunk i, y in chunk j, i <= j) is generated
    # exactly once under join key (g, x.c == y.tc)
    right = hot.select(
        F.col("g").alias("g_r"),
        F.col("doc_id").alias("doc_id_r"),
        F.col("n").alias("n_r"),
        F.col("c").alias("c_r"),
        F.explode(F.sequence(F.lit(0), F.col("c"))).alias("tc"),
    )
    hot_pairs = (
        left.join(
            right,
            on=[F.col("g") == F.col("g_r"), F.col("c") == F.col("tc")],
        )
        .filter(
            (
                (F.col("c") < F.col("c_r"))
                | ((F.col("c") == F.col("c_r")) & (F.col("doc_id") < F.col("doc_id_r")))
            )
            & (
                5 * F.least("n", "n_r") >= 4 * F.greatest("n", "n_r")
            )
        )
        .select(
            F.least("doc_id", "doc_id_r").alias("doc_id_a"),
            F.greatest("doc_id", "doc_id_r").alias("doc_id_b"),
        )
    )
    return small_pairs.unionByName(hot_pairs).distinct()


@register(
    "prefix_filter_jaccard_join",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, sh, len(sh) AS n
      FROM (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM t)
      WHERE len(sh) > 0
    ),
    ex AS (SELECT doc_id, n, unnest(sh) AS g FROM s),
    freq AS (SELECT g, count(*) AS df FROM ex GROUP BY 1),
    ranked AS (
      SELECT ex.doc_id, ex.n, ex.g,
             row_number() OVER (PARTITION BY ex.doc_id
                                ORDER BY freq.df, ex.g) AS rnk
      FROM ex JOIN freq USING (g)
    ),
    prefix AS (
      SELECT doc_id, n, g FROM ranked WHERE rnk <= n - (4 * n + 4) // 5 + 1
    ),
    cand AS (
      -- PPJoin length filter: Jaccard >= 4/5 forces 5*min(|a|,|b|) >=
      -- 4*max(|a|,|b|) — integer math, prunes before any array work
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM prefix a JOIN prefix b
        ON a.g = b.g AND a.doc_id < b.doc_id
       AND 5 * least(a.n, b.n) >= 4 * greatest(a.n, b.n)
    )
    SELECT cand.doc_id_a, cand.doc_id_b,
           round(len(list_intersect(sa.sh, sb.sh)) * 1.0
                 / (sa.n + sb.n - len(list_intersect(sa.sh, sb.sh))), {R})
             AS jaccard
    FROM cand
    JOIN s sa ON sa.doc_id = cand.doc_id_a
    JOIN s sb ON sb.doc_id = cand.doc_id_b
    WHERE 5 * len(list_intersect(sa.sh, sb.sh))
          >= 4 * (sa.n + sb.n - len(list_intersect(sa.sh, sb.sh)))
    """,
    doc="""EXACT set-similarity self-join by prefix filtering (AllPairs
    / PPJoin family, Bayardo et al. 2007 — the deterministic companion
    to MinHash-LSH): shingles are globally ordered rarest-first
    (document frequency, then lexicographic), each doc exposes only its
    first n - ceil(0.8 n) + 1 shingles as its prefix, and two sets with
    Jaccard >= 0.8 PROVABLY share a prefix shingle — so bucketing on
    prefix shingles generates a complete candidate set (zero false
    negatives, unlike LSH's probabilistic recall) while the rarest-first
    order keeps buckets small. Candidates verify with exact Jaccard.
    Shuffles: one df count, one rank window, one bucket groupBy, the
    verify joins — all linear; no self cross-join anywhere. Integer
    prefix arithmetic ((4n+4) div 5) keeps both engines bit-identical.""",
    tags=("dedup", "similarity", "prefix-filter"),
)
def q_prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_filter_join(fan_out(load(spark, sf_dir, "documents")))


def prefix_filter_join(d: DataFrame) -> DataFrame:
    """DataFrame-level core of ``prefix_filter_jaccard_join`` — split
    out so the scale probe measures exactly the production plan
    (including the hot-bucket guard in ``_prefix_bucket_pairs``)."""
    from pyspark.sql import Window

    # materialize the shingle frame ONCE (r19): three consumers — the
    # prefix pipeline below and both verify join sides — would each
    # re-run the tokenize+shingle HOF over the corpus. Eager
    # localCheckpoint = lineage-free blocks drained by
    # cache.unpersist_all (the dedup_corpus / LSH bucket-frame shape).
    s = (
        d.select("doc_id", Tx.shingles("text", k=3).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", "sh", F.size("sh").alias("n"))
        .transform(materialize_barrier)
    )
    ex = s.select("doc_id", "n", F.explode("sh").alias("g"))
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = ex.join(freq, "g").select(
        "doc_id",
        "n",
        "g",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "g"))
        .alias("rnk"),
    )
    prefix = ranked.filter(
        F.col("rnk") <= F.expr("n - (4 * n + 4) DIV 5 + 1")
    ).select("doc_id", "n", "g")
    cand = _prefix_bucket_pairs(prefix)
    sa = s.select(F.col("doc_id").alias("aid"), F.col("sh").alias("a_sh"), F.col("n").alias("an"))
    sb = s.select(F.col("doc_id").alias("bid"), F.col("sh").alias("b_sh"), F.col("n").alias("bn"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    # |A u B| = |A| + |B| - |A n B| (shingle sets are distinct): integer
    # arithmetic instead of materializing a union array per candidate
    union = F.col("an") + F.col("bn") - inter
    return (
        cand.join(sa, cand["doc_id_a"] == F.col("aid"))
        .join(sb, cand["doc_id_b"] == F.col("bid"))
        .filter(5 * inter >= 4 * union)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(inter.cast("double") / union, R).alias("jaccard"),
        )
    )


# --- BM25 ranked retrieval ---------------------------------------------------

_BM25_TERMS = ("window", "stream", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75
_SQL_BM25_TERMS = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "bm25_ranked_retrieval",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM t WHERE len(toks) > 0),
    stats AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      WHERE tok IN ({_SQL_BM25_TERMS})
      GROUP BY 1, 2
    ),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    w AS (
      SELECT tf.doc_id,
             CAST(round(1000000 * (
               ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / stats.avgdl))
             )) AS BIGINT) AS w_fp
      FROM tf
      JOIN df USING (tok)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id, round(sum(w_fp) / 1000000.0, 6) AS bm25
      FROM w GROUP BY 1
    )
    SELECT doc_id, bm25, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= 10
    """,
    doc=f"""BM25 ranked retrieval over the corpus (Robertson-Sparck
    Jones probabilistic IDF, k1={_BM25_K1}, b={_BM25_B}) for a fixed
    query {_BM25_TERMS} — the query-based corpus-curation primitive
    (pull the documents most relevant to a topic for targeted
    inspection, decontamination, or mixture boosting). Shape: ONE
    tokenize+explode pass restricted to the query vocabulary feeds term
    frequencies; document frequencies aggregate from those (query-term-
    bounded — tiny); N and avgdl derive in-plan from a 1-row aggregate
    over the (doc_id, dl, tf_*) base frame, which IS eagerly
    materialized via localCheckpoint at plan build (one tokenize-scan
    job, same trade the minhash index path makes) so the two consumers
    — corpus stats and scoring — tokenize once, not twice; top-10
    global rank moves only the scored-doc rows. Cross-term summation is ORDER-INSENSITIVE by
    construction: each term weight is fixed-pointed to int64
    micro-units before the sum, so Spark's and the oracle's aggregation
    orders cannot diverge in the last float ulp (the r2 determinism
    toolkit). At 100 TB: the only corpus-wide shuffles are the doc-
    length aggregate and the (doc, query-term) counts — both linear,
    both map-side combined.""",
    tags=("text", "retrieval", "bm25"),
)
def q_bm25_ranked_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_ranked_retrieval(fan_out(load(spark, sf_dir, "documents")))


def bm25_ranked_retrieval(d: DataFrame) -> DataFrame:
    """DataFrame-level core of ``bm25_ranked_retrieval`` — split out so
    the scale probe measures exactly the production plan.

    Single-pass shape (r6 probe-driven rewrite): the original form
    tokenized the corpus TWICE (doc-length branch + explode branch) and
    shuffled the full exploded token stream through a (doc, term)
    groupBy; for a fixed query vocabulary the per-term counts are
    map-only array scans (``F.filter`` over the token array per term),
    so ONE tokenize pass yields (dl, tf per term) flat columns, the
    corpus stats reduce to a broadcast 1-row aggregate, scoring is a
    map-only projection, and global top-10 is TakeOrderedAndProject
    (per-partition partial top-k, driver merge — never a single-task
    rank over every scored doc). 10x-amplified probe: 20.9 -> ~7 s.
    Numerically identical to the exploded form: per-term int64
    micro-unit weights (absent term => tf 0 => weight 0) summed in any
    order; docs with no query term are excluded exactly as before."""
    toks = d.select("doc_id", Tx.tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    def term_count(term: str):
        # one-arg lambda: a two-arg form (e.g. a default-arg closure)
        # would make F.filter bind the second parameter to the ELEMENT
        # INDEX, silently comparing tokens against integers
        return F.size(F.filter("toks", lambda t: t == F.lit(term)))

    tf_cols = [
        term_count(term).alias(f"tf_{i}") for i, term in enumerate(_BM25_TERMS)
    ]
    # two consumers (corpus stats, scoring) — materialize the tiny
    # (doc_id, dl, tf_*) frame once so the tokenize + term-count scan
    # runs once, not per branch
    base = toks.select(
        "doc_id", F.size("toks").alias("dl"), *tf_cols
    ).transform(materialize_barrier)
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    matched = base.filter(
        sum((F.col(f"tf_{i}") > 0).cast("int") for i in range(len(_BM25_TERMS)))
        > 0
    )

    def w_fp(i: int):
        tf = F.col(f"tf_{i}").cast("long")
        idf = F.log(
            F.lit(1.0) + (F.col("n") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        norm = tf + _BM25_K1 * (
            1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        # absent term: tf=0 -> weight 0 -> adds nothing to the int sum,
        # exactly like the exploded form's missing (doc, term) row
        return F.round(
            1_000_000 * (idf * (tf * (_BM25_K1 + 1.0)) / norm)
        ).cast("bigint")

    total_fp = w_fp(0)
    for i in range(1, len(_BM25_TERMS)):
        total_fp = total_fp + w_fp(i)
    scored = matched.crossJoin(F.broadcast(stats)).select(
        "doc_id", F.round(total_fp / 1_000_000.0, R).alias("bm25")
    )
    top = scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(10)
    # bounded unpartitioned window: ranks the already-limit(10) frame
    # (the global top-k itself is TakeOrderedAndProject) — plan_audit
    # WINDOW_OK entry
    w_rank = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return (
        top.withColumn("rnk", F.row_number().over(w_rank))
        .select("doc_id", "bm25", F.col("rnk").cast("int").alias("rnk"))
    )


# --- cross-source overlap matrix ---------------------------------------------


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH t AS (
      SELECT source, {_SQL_TOKS} AS toks FROM documents
    ),
    sg AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(toks) - {_CONTAM_K} + 2),
               i -> array_to_string(toks[i:i+{_CONTAM_K - 1}], ' '))) AS ng
      FROM t WHERE len(toks) >= {_CONTAM_K}
    ),
    totals AS (SELECT source, count(*) AS n_ngrams FROM sg GROUP BY 1),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_ngrams
      FROM sg a JOIN sg b ON a.ng = b.ng AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(shared_ngrams AS BIGINT) AS shared_ngrams,
           CAST(ta.n_ngrams AS BIGINT) AS n_ngrams_a,
           CAST(tb.n_ngrams AS BIGINT) AS n_ngrams_b,
           round(shared_ngrams * 1.0
                 / (ta.n_ngrams + tb.n_ngrams - shared_ngrams), {R}) AS jaccard,
           round(shared_ngrams * 1.0
                 / least(ta.n_ngrams, tb.n_ngrams), {R}) AS containment
    FROM shared
    JOIN totals ta ON ta.source = source_a
    JOIN totals tb ON tb.source = source_b
    """,
    doc=f"""Cross-source overlap matrix — the corpus-mixing diligence
    step before training: for every source pair, the distinct shared
    {_CONTAM_K}-gram count, each side's n-gram vocabulary size, Jaccard,
    and max-containment (shared / smaller side — catches a source that
    is a wholesale subset of another, which Jaccard dilutes). Shape: one
    tokenize pass -> per-source DISTINCT n-gram sets (source-keyed
    map-side-combined aggregate) -> n-gram-keyed self-join whose fan-out
    per n-gram is bounded by the SOURCE count (structurally small — tens
    to hundreds), never by docs; totals broadcast back. Linear in
    distinct n-grams x source-pairs at any corpus size. 100 TB posture:
    this is exactly the shape of production contamination matrices
    (each n-gram row meets only source-count-bounded partners).""",
    tags=("text", "dedup", "corpus", "analytics"),
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_overlap_matrix(fan_out(load(spark, sf_dir, "documents")))


def source_overlap_matrix(d: DataFrame) -> DataFrame:
    """DataFrame-level core of ``source_overlap_matrix`` — split out so
    the scale probe measures exactly the production plan."""
    # Examined r20, deliberately NOT materialized: the tokenize +
    # explode + distinct subtree has three consumers (totals + both
    # self-join sides), which makes it LOOK like the r19 shared-pass
    # class — but an eager checkpoint of the set frame (with md5-digest
    # keys) MEASURED 2.83 -> 3.96 s at sf0.1 in the same load window:
    # the three consumers' subtrees are identical up to the distinct
    # (AQE can reuse the exchange at runtime) and the post-distinct set
    # is the expensive thing to write/read as checkpoint blocks, so
    # materialization only added a build job plus block I/O. Recompute
    # stays the right call here; re-probe if the consumers' subtrees
    # ever diverge before the distinct.
    sg = (
        d.select("source", Tx.ngrams("text", k=_CONTAM_K).alias("ngs"))
        .filter(F.size("ngs") > 0)
        .select("source", F.explode("ngs").alias("ng"))
        .distinct()
    )
    totals = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_ngrams"))
    a = sg.select(F.col("source").alias("source_a"), "ng")
    b = sg.select(F.col("source").alias("source_b"), "ng")
    shared = (
        a.join(b, "ng")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    ta = totals.select(F.col("source").alias("source_a"), F.col("n_ngrams").alias("n_ngrams_a"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("n_ngrams").alias("n_ngrams_b"))
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared_ngrams").cast("bigint").alias("shared_ngrams"),
            F.col("n_ngrams_a").cast("bigint").alias("n_ngrams_a"),
            F.col("n_ngrams_b").cast("bigint").alias("n_ngrams_b"),
            F.round(
                F.col("shared_ngrams")
                / (F.col("n_ngrams_a") + F.col("n_ngrams_b") - F.col("shared_ngrams")),
                R,
            ).alias("jaccard"),
            F.round(
                F.col("shared_ngrams") / F.least("n_ngrams_a", "n_ngrams_b"), R
            ).alias("containment"),
        )
    )


# --- full-decode audio features ----------------------------------------------


@register(
    "audio_pcm_features",
    oracle="""
    WITH xs AS (
      SELECT doc_id,
             unnest(list_transform(range(0, 8 + doc_id % 50),
               i -> ((doc_id * 31 + i * 17) % 4001) - 2000)) AS x
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           round(sqrt(sum(x * x) * 1.0 / count(*)), 6) AS rms,
           CAST(max(abs(x)) AS BIGINT) AS peak,
           round(sum(x) * 1.0 / count(*), 6) AS mean_amplitude
    FROM xs GROUP BY 1
    """,
    doc="""FULL-decode multimodal audio tier (closing the loop from
    opaque binary column to signal features): per document a complete
    mono 16-bit PCM WAV with a deterministic integer waveform is built,
    the decoder walks the RIFF container to the raw frames, unpacks the
    int16 samples, and computes rms / peak / mean amplitude — with
    integer-exact accumulation (sum, sum-of-squares, max over int16) so
    the oracle replays every number from the REGENERATED waveform, not
    from headers. Arrow-batched mapInPandas end to end; unsupported
    shapes (non-PCM, non-16-bit) yield NULL features instead of failing
    the scan. The header-tier twin is audio_header_meta; this is the
    tier a real corpus pipeline runs feature extraction at — at 100 TB
    the binary payloads stream through executors once, Arrow-batched,
    with only the tiny feature rows shuffling.""",
    tags=("multimodal", "audio", "decode", "pandas"),
)
def q_audio_pcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.sources.multimodal import (
        audio_pattern_media_from_documents,
        decode_audio_pcm_features,
    )

    media = audio_pattern_media_from_documents(
        fan_out(load(spark, sf_dir, "documents"))
    )
    return decode_audio_pcm_features(media)


@register(
    "image_pixel_features",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, (4 + doc_id % 13) * (3 + doc_id % 7)),
               k -> (doc_id * 7 + k * 13) % 256)) AS p
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_pixels,
           round(sum(p) * 1.0 / count(*), 6) AS mean_px,
           CAST(min(p) AS BIGINT) AS min_px,
           CAST(max(p) AS BIGINT) AS max_px
    FROM px GROUP BY 1
    """,
    doc="""FULL-decode multimodal image tier (the PNG counterpart of
    audio_pcm_features): per document a complete 8-bit grayscale PNG
    with a deterministic pixel pattern, decoded for real — chunk walk,
    zlib inflate of IDAT, scanline unfiltering — then per-image pixel
    statistics with integer-exact accumulation, so the oracle replays
    every number from the REGENERATED pixel stream (proving inflate +
    unfilter + stats, not just header parsing). Arrow-batched
    mapInPandas; non-conforming payloads yield NULL features.""",
    tags=("multimodal", "image", "decode", "pandas"),
)
def q_image_pixel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.sources.multimodal import (
        decode_image_pixel_features,
        image_pattern_media_from_documents,
    )

    media = image_pattern_media_from_documents(
        fan_out(load(spark, sf_dir, "documents"))
    )
    return decode_image_pixel_features(media)


# --- BPE merge training ------------------------------------------------------


def _sql_bpe_chain(n_merges: int) -> str:
    """The WITH-chain replaying operators.bpe._train: per round,
    weighted adjacent-pair counts, count-desc/lexicographic argmax, and
    the same greedy left-to-right merge fold via list_reduce (DuckDB
    list slices are 1-indexed and inclusive — acc[:len(acc)-1] drops
    the last element; acc[:-1] would NOT). Ends with s{n_merges}
    (w, f, s) — the trained vocabulary — so both the training query
    (argmax rows) and the encode query (per-doc application) build on
    the same chain."""
    sql = f"""
    WITH vocab AS (
      SELECT w, count(*) AS f
      FROM (SELECT unnest({_SQL_TOKS}) AS w FROM documents)
      GROUP BY 1
    ),
    s0 AS (
      SELECT w, f, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS s
      FROM vocab
    )"""
    for k in range(1, n_merges + 1):
        sql += f"""
    , pc{k} AS (
      SELECT p.p1 AS p1, p.p2 AS p2, sum(f) AS pair_count
      FROM (
        SELECT f,
               unnest(list_transform(range(1, len(s)),
                 i -> {{'p1': s[i], 'p2': s[i + 1]}})) AS p
        FROM s{k - 1}
      )
      GROUP BY 1, 2
    ), top{k} AS (
      SELECT p1, p2, pair_count FROM (
        SELECT *, row_number() OVER (ORDER BY pair_count DESC, p1, p2) AS rn
        FROM pc{k}
      ) WHERE rn = 1
    ), s{k} AS (
      SELECT w, f,
             list_reduce(list_transform(s, x -> [x]), (acc, x) ->
               CASE WHEN len(acc) > 0 AND acc[-1] = t.p1 AND x[1] = t.p2
                    THEN acc[:len(acc) - 1] || [t.p1 || t.p2]
                    ELSE acc || x END) AS s
      FROM s{k - 1}, top{k} t
    )"""
    return sql


def _sql_bpe(n_merges: int) -> str:
    """DuckDB replay of operators.bpe.bpe_merges (the training rows)."""
    unions = "\n    UNION ALL\n".join(
        f"    SELECT {k} AS step, p1, p2, CAST(pair_count AS BIGINT) AS pair_count, "
        f"p1 || p2 AS merged FROM top{k}"
        for k in range(1, n_merges + 1)
    )
    return _sql_bpe_chain(n_merges) + "\n" + unions


def _sql_bpe_encode(n_merges: int) -> str:
    """DuckDB replay of operators.bpe.bpe_encode_stats: the same
    training chain, then every document's words join the trained
    vocabulary and aggregate to subword statistics."""
    return _sql_bpe_chain(n_merges) + f"""
    , dtoks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(v.s)) AS BIGINT) AS n_units,
           round(sum(len(v.s)) * 1.0 / count(*), 6) AS units_per_word,
           round(sum(length(dtoks.w)) * 1.0 / sum(len(v.s)), 6) AS chars_per_unit
    FROM dtoks JOIN s{n_merges} v ON dtoks.w = v.w
    GROUP BY 1
    """


@register(
    "bpe_merge_training",
    oracle=_sql_bpe(3),
    doc="""BPE tokenizer merge training on-engine (Sennrich et al.
    2016 — the subword-vocabulary step of an LLM data pipeline): three
    merge rounds over the corpus, each counting adjacent symbol pairs
    weighted by word frequency, taking the deterministic argmax
    (count desc, then lexicographic), and rewriting every vocabulary
    word with the exact greedy left-to-right merge fold. The corpus
    collapses to a (word, freq) VOCABULARY first, so every round's
    shuffle is vocabulary-bounded regardless of corpus size — the same
    reason production BPE trainers stream word counts; the winning pair
    stays in-plan (broadcast 1-row cross join feeding the fold lambda),
    so no job fires at plan build. The oracle replays all three rounds
    including the fold (list_reduce).""",
    tags=("text", "tokenizer", "bpe", "iterative"),
)
def q_bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.bpe import bpe_merges

    return bpe_merges(fan_out(load(spark, sf_dir, "documents")), n_merges=3)


@register(
    "image_jpeg_pixel_features",
    oracle="""
    WITH bl AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, (2 + doc_id % 3) * (1 + doc_id % 2)),
               b -> (doc_id * 11 + b * 29) % 256)) AS v
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(count(*) * 64 AS BIGINT) AS n_pixels,
           round(sum(v) * 1.0 / count(*), 6) AS mean_px,
           CAST(min(v) AS BIGINT) AS min_px,
           CAST(max(v) AS BIGINT) AS max_px
    FROM bl GROUP BY 1
    """,
    doc="""FULL-decode multimodal JPEG tier (r7 — completing the
    full-decode story next to PNG and WAV-PCM): per document a REAL
    baseline JPEG is built — ITU-T T.81 Annex K Huffman tables, DPCM
    DC + run-length AC entropy coding, byte stuffing — and decoded for
    real: marker walk, canonical Huffman decode, dequantization,
    de-zigzag, separable float IDCT, level shift. The pattern uses
    CONSTANT 8x8 blocks with an all-ones quant table, so the DCT is
    exactly [8*(v-128), 0...] and decode-round recovers the source
    pixels EXACTLY — the oracle regenerates the decoded pixel stream
    per block from (doc_id, b) and replays every feature (each
    constant block contributes 64 identical pixels, so the per-pixel
    mean equals the per-block mean and n_pixels = 64 * n_blocks). The
    decoder's general AC/ZRL/EOB + IDCT path is differential-tested
    against an independent direct 2D IDCT. Arrow-batched mapInPandas;
    non-baseline/malformed payloads yield NULL features. At 100 TB the
    payloads stream through executors once; only tiny feature rows
    shuffle.""",
    tags=("multimodal", "image", "jpeg", "decode", "pandas"),
)
def q_image_jpeg_pixel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.sources.multimodal import (
        decode_jpeg_pixel_features,
        jpeg_pattern_media_from_documents,
    )

    media = jpeg_pattern_media_from_documents(
        fan_out(load(spark, sf_dir, "documents"))
    )
    return decode_jpeg_pixel_features(media)


# Linear quality classifier: fixed (planted) per-token weights in
# integer micro-units — the stand-in for a trained fastText-style
# model's coefficients, exactly like the envelope's fixed PCA loadings
# stand in for a fitted basis. Inference math is what matters here.
_QC_WEIGHTS = {
    "the": 40_000, "data": 35_000, "query": 30_000, "join": 25_000,
    "table": 20_000, "stream": 15_000,
    "slow": -45_000, "batch": -30_000, "big": -20_000, "small": -15_000,
    "hash": -10_000,
}
_QC_BIAS = -1_500  # micro-units per token


def _qc_sql_terms() -> str:
    return " + ".join(
        f"({w} * len(list_filter(toks, x -> x = '{t}')))"
        for t, w in _QC_WEIGHTS.items()
    )


@register(
    "quality_classifier_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    base AS (
      SELECT doc_id, len(toks) AS n,
             {_QC_BIAS} * len(toks) + {_qc_sql_terms()} AS z
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(n AS INT) AS n_tokens,
           CAST(z AS BIGINT) AS z_micro,
           round(1.0 / (1.0 + exp(-(z * 1.0) / (1000000.0 * n))), 6)
             AS quality_score,
           (z > 0) AS keep
    FROM base
    """,
    doc=f"""On-engine LINEAR quality-classifier inference (r7) — the
    standard LLM-pipeline quality-filter step beyond hand rules: a
    fastText-style linear model scores each document as
    sigmoid(bias + sum_t w_t * count_t / n). Weights are fixed integer
    micro-units ({len(_QC_WEIGHTS)} vocabulary terms + bias), the
    planted stand-in for trained coefficients. The keep/drop DECISION
    is integer-exact in both engines: the rate inequality is
    cross-multiplied by n, so z_micro = bias*n + sum w_t*count_t is an
    int64 and keep = z_micro > 0 involves no float anywhere — only the
    reported sigmoid score is float (6dp-rounded). Shape: ONE tokenize
    pass, per-term array counts map-side (no explode, no shuffle
    beyond the scan — the dot product of a sparse model against token
    counts is a Column expression). At 100 TB: map-only, embarrassingly
    parallel, zero exchanges; swapping in real trained weights is a
    literal-map change.""",
    tags=("text", "quality", "classifier", "map-only"),
)
def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_classifier_score(load(spark, sf_dir, "documents"))


def quality_classifier_columns(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Column-preserving classifier inference: ADDS n_tokens / z_micro /
    quality_score / keep to ``d`` without dropping any input column —
    the form a gating composition needs (the gate must hand the full
    record, text included, to the next stage). Zero-token docs get
    keep=false and a NULL score (there is nothing to rate). Map-only:
    every added column is a Column expression over one tokenize."""

    def term_count(term: str):
        # one-arg lambda from a closure factory: a two-arg lambda would
        # bind the ELEMENT INDEX as the second parameter
        return F.size(F.filter("_qc_toks", lambda t: t == F.lit(term)))

    z = F.lit(_QC_BIAS) * F.size("_qc_toks")
    for t, w in _QC_WEIGHTS.items():
        z = z + F.lit(w) * term_count(t)
    return (
        d.withColumn("_qc_toks", Tx.tokens(text_col))
        .withColumn("n_tokens", F.size("_qc_toks").cast("int"))
        .withColumn("z_micro", z.cast("bigint"))
        .withColumn(
            "quality_score",
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.lit(1.0)
                    / (
                        F.lit(1.0)
                        + F.exp(
                            -(F.col("z_micro").cast("double"))
                            / (F.lit(1_000_000.0) * F.col("n_tokens"))
                        )
                    ),
                    6,
                ),
            ),
        )
        .withColumn(
            "keep", (F.col("n_tokens") > 0) & (F.col("z_micro") > 0)
        )
        .drop("_qc_toks")
    )


def quality_classifier_score(d: DataFrame) -> DataFrame:
    """DataFrame-level core of ``quality_classifier_score`` (split out
    for the planted-label test and the scale probe): the narrow scoring
    projection over :func:`quality_classifier_columns`, zero-token docs
    excluded (matching the registered oracle)."""
    return quality_classifier_columns(d).filter(F.col("n_tokens") > 0).select(
        "doc_id", "n_tokens", "z_micro", "quality_score", "keep"
    )


@register(
    "bpe_encoded_corpus_stats",
    oracle=_sql_bpe_encode(3),
    doc="""BPE tokenizer ENCODE step (r7 — closing the train->apply
    loop next to bpe_merge_training): the trained 3-merge vocabulary is
    applied to every document and per-doc subword statistics come back
    (word count, subword-unit count, units/word, chars/unit — the
    compression-ratio signal a tokenizer-aware data pipeline tracks).
    Shape: BPE encoding is a WORD-level function (words segment
    independently — Sennrich et al. 2016), so applying the tokenizer
    is one corpus explode to (doc, word) rows equi-joined against the
    vocabulary-bounded trained frame; per-doc sums are map-side
    combined. The oracle replays training AND application in one CTE
    chain (shared with the bpe_merge_training oracle). At 100 TB the
    vocabulary broadcast-joins and encoding is embarrassingly
    parallel.""",
    tags=("text", "tokenizer", "bpe"),
)
def q_bpe_encoded_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.bpe import bpe_encode_stats

    return bpe_encode_stats(fan_out(load(spark, sf_dir, "documents")))


@register(
    "video_frame_features",
    oracle="""
    WITH fb AS (
      SELECT doc_id, f, b,
             ((doc_id * 131 + f * 17) * 11 + b * 29) % 256 AS v
      FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 4)) AS f FROM documents),
           (SELECT unnest(range(0, 2)) AS b)
    ),
    ag AS (
      SELECT doc_id, count(*) AS ncells, sum(v) AS sv,
             min(v) AS mnv, max(v) AS mxv
      FROM fb GROUP BY 1
    ),
    mo AS (
      SELECT a.doc_id, sum(64 * abs(a.v - n.v)) AS motion
      FROM fb a JOIN fb n
        ON a.doc_id = n.doc_id AND n.f = a.f + 1 AND a.b = n.b
      GROUP BY 1
    )
    SELECT ag.doc_id AS media_id,
           CAST(2 + ag.doc_id % 4 AS INT) AS n_frames,
           CAST(ncells * 64 AS BIGINT) AS n_pixels,
           round(sv * 1.0 / ncells, 6) AS mean_px,
           CAST(mnv AS BIGINT) AS min_px,
           CAST(mxv AS BIGINT) AS max_px,
           CAST(mo.motion AS BIGINT) AS motion_energy,
           round(mo.motion * 1.0 / ((1 + ag.doc_id % 4) * 128), 6)
             AS mean_abs_frame_diff
    FROM ag JOIN mo USING (doc_id)
    """,
    doc="""FULL-decode multimodal VIDEO tier (r7 — the last modality's
    decode loop closed, next to PNG/JPEG pixels and WAV PCM): per
    document a REAL Motion-JPEG MP4 is built — complete ISO-BMFF
    sample table (stsd/stts/stsz/stsc/stco) indexing one baseline JPEG
    per frame in mdat — and decoded for real: the sample-table walk
    slices every frame by stsz/stco and the r7 baseline JPEG decoder
    (Annex K Huffman + IDCT) decodes each one. Per-video features use
    integer-exact accumulation: pixel sum/min/max across frames and
    MOTION ENERGY (summed |pixel diff| between consecutive frames —
    the temporal-sampling signal); means are single 6dp divisions. The
    oracle regenerates every frame's decoded pixels from the (doc_id,
    frame, block) formula and replays all features including the
    frame-to-frame differences. Arrow-batched mapInPandas; malformed
    containers or any undecodable frame degrade to NULL rows. At
    100 TB the sample-table walk is what makes per-frame work
    parallelizable without transcoding.""",
    tags=("multimodal", "video", "mjpeg", "decode", "pandas"),
)
def q_video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.sources.multimodal import (
        decode_video_frame_features,
        video_pattern_media_from_documents,
    )

    media = video_pattern_media_from_documents(
        fan_out(load(spark, sf_dir, "documents"))
    )
    return decode_video_frame_features(media)


# --- audio VAD segments ------------------------------------------------------

# gated WAVs: the silence gate (doc_id*13 + block*7) % 3 == 0 scales the
# waveform into the sub-threshold band, so every clip has real
# speech/silence islands


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


# --- video scene cuts --------------------------------------------------------

# scene-gated MJPEG clips synthesized from documents: scene pattern
# (doc_id*131 + scene*37), 3-frame scenes, 6 + (doc_id % 2) * 3 frames
# per clip


@register(
    "video_scene_cuts",
    oracle="""
    WITH fb AS (
      SELECT doc_id, f, b,
             ((doc_id * 131 + (f // 3) * 37) * 11 + b * 29) % 256 AS v
      FROM (SELECT doc_id, unnest(range(0, 6 + (doc_id % 2) * 3)) AS f
            FROM documents),
           (SELECT unnest(range(0, 2)) AS b)
    ),
    d AS (
      SELECT a.doc_id, a.f, sum(64 * abs(a.v - p.v)) AS diff
      FROM fb a JOIN fb p
        ON p.doc_id = a.doc_id AND p.f = a.f - 1 AND p.b = a.b
      GROUP BY 1, 2
    ),
    fr AS (
      SELECT fb.doc_id, fb.f, d.diff
      FROM (SELECT DISTINCT doc_id, f FROM fb) fb
      LEFT JOIN d ON d.doc_id = fb.doc_id AND d.f = fb.f
    ),
    m AS (
      SELECT doc_id, f, diff,
             (f = 0 OR diff > 0) AS is_cut,
             sum(CASE WHEN f = 0 OR diff > 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY f) AS shot
      FROM fr
    )
    SELECT doc_id AS media_id,
           CAST(shot - 1 AS BIGINT) AS shot_idx,
           CAST(min(f) AS BIGINT) AS start_frame,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(max(CASE WHEN is_cut THEN diff END) AS BIGINT)
             AS cut_energy
    FROM m GROUP BY doc_id, shot
    """,
    doc="""sources/multimodal.video_scene_cuts over
    scene_media_from_documents (staged r14 wave 3, registered r17):
    shot segmentation — the pass a video corpus runs before per-shot
    frame sampling (one keyframe per shot, not per fixed stride). A
    REAL MP4 sample-table walk + baseline JPEG decode (shared
    _mp4_from_jpeg_frames assembler with the motion-energy synth)
    yields per-frame pixel-diff rows; a cut opens at frame 0 and at
    every frame whose |diff| exceeds the threshold; the shot id is the
    running cut count; shots roll up by (clip, shot). The oracle
    replays the FULL decode from the generative (seed, scene, block)
    pixel formula (never the container); truncated payloads contribute
    no rows. Scale shape: ONE Arrow decode stage (mapInPandas,
    PANDAS_OK — video_frame_features precedent), the running-cut
    window PARTITIONED by clip, no joins anywhere.""",
    tags=("multimodal", "video", "scene-cut", "pandas", "staged-r14-wave3"),
)
def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.sources.multimodal import (
        scene_media_from_documents,
        video_scene_cuts,
    )

    # fan_out before the Python decode stage: the testdata single-split
    # scan otherwise serializes the whole JPEG decode on ONE task (the
    # r1 lesson; video_frame_features precedent). Measured at r17
    # registration: 21.8 s -> ~2 s extras floor at sf0.1. Row-order
    # only — the driver hash is order-insensitive.
    return video_scene_cuts(
        scene_media_from_documents(fan_out(load(spark, sf_dir, "documents")))
    )


@register(
    "bpe_fertility_by_lang",
    oracle=_sql_bpe_chain(3) + f"""
    , dtoks AS (
      SELECT doc_id, lang, unnest({_SQL_TOKS}) AS w FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(v.s)) AS BIGINT) AS n_units,
           round(sum(len(v.s)) * 1.0 / count(*), 6) AS fertility,
           round(sum(length(dtoks.w)) * 1.0 / sum(len(v.s)), 6)
             AS chars_per_unit
    FROM dtoks JOIN s3 v ON dtoks.w = v.w
    GROUP BY 1
    """,
    doc="""Tokenizer FERTILITY by language (r7 — the standard
    multilingual-tokenizer health metric: subword units emitted per
    word; a language with outsized fertility is under-served by the
    vocabulary and pays more sequence length per sentence): the same
    trained-vocabulary encode join as bpe_encoded_corpus_stats,
    aggregated at language grain. |languages| output rows; shuffles
    stay vocabulary- and language-bounded. The oracle replays training
    + application + the grain change in the shared CTE chain.""",
    tags=("text", "tokenizer", "bpe", "multilingual"),
)
def q_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.bpe import bpe_vocabulary

    docs = fan_out(load(spark, sf_dir, "documents"))
    vocab_units = bpe_vocabulary(docs, "text", 3).select(
        "w", F.size("s").alias("units_w"), F.length("w").alias("chars_w")
    )
    dtoks = docs.select("doc_id", "lang", F.explode(Tx.tokens("text")).alias("w"))
    return (
        dtoks.join(vocab_units, "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("units_w").cast("bigint").alias("n_units"),
            F.round(F.sum("units_w") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "fertility"
            ),
            F.round(F.sum("chars_w") * F.lit(1.0) / F.sum("units_w"), 6).alias(
                "chars_per_unit"
            ),
        )
    )


@register(
    "fuzzy_contamination",
    oracle=f"""
    WITH {_SQL_LSH_CANDS}
    , fc AS (
      SELECT c.doc_id AS doc_id, bm.doc_id AS benchmark_id,
             count(*) AS n_shared_bands
      FROM bands c JOIN bands bm
        ON c.band_idx = bm.band_idx AND c.band_val = bm.band_val
       AND c.doc_id % 7 != 0 AND bm.doc_id % 7 = 0
      GROUP BY 1, 2
    )
    SELECT fc.doc_id, fc.benchmark_id,
           CAST(fc.n_shared_bands AS BIGINT) AS n_shared_bands,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(a.sh || b.sh)), {R}) AS jaccard
    FROM fc
    JOIN t a ON a.doc_id = fc.doc_id
    JOIN t b ON b.doc_id = fc.benchmark_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(a.sh || b.sh)) >= 0.5
    """,
    doc="""FUZZY benchmark contamination (r7 — the near-dup tier of
    decontamination, next to the exact-5-gram `benchmark_contamination`):
    exact n-gram matching misses paraphrased or lightly-edited
    benchmark copies, so the corpus MinHash-bands against the benchmark
    set (here the deterministic doc_id % 7 == 0 subset standing in for
    a held-out eval suite) with an ASYMMETRIC band equi-join — corpus
    side never self-joins, benchmark side is tiny — and band collisions
    verify with exact shingle Jaccard >= 0.5. One signature pass serves
    both sides (the banding frame is eagerly materialized once, the
    lsh_candidate_pairs trade). At 100 TB: benchmark bands are a
    broadcast-sized build side; corpus-side cost is the one signature
    scan.""",
    tags=("dedup", "contamination", "lsh", "text"),
)
def q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.dedup import (
        band_values,
        minhash_signature_from_shingles,
    )

    d = fan_out(load(spark, sf_dir, "documents"))
    # ONE tokenize+shingle pass (r19): the materialized shingle frame
    # feeds the band derivation AND both verify join sides —
    # previously the corpus was shingled three times.
    sh = d.select(
        F.col("doc_id").alias("sid"), Tx.shingles("text", k=3).alias("sh")
    ).withColumn("n_sh", F.size("sh")).transform(materialize_barrier)
    bands = band_values(
        minhash_signature_from_shingles(sh, "sid", "sh").withColumnRenamed(
            "sid", "doc_id"
        )
    ).transform(materialize_barrier)
    corpus_b = bands.filter(F.col("doc_id") % 7 != 0)
    bench_b = (
        bands.filter(F.col("doc_id") % 7 == 0)
        .select(
            F.col("doc_id").alias("benchmark_id"),
            F.col("band_idx").alias("bi"),
            F.col("band_val").alias("bv"),
        )
    )
    cand = (
        corpus_b.join(
            F.broadcast(bench_b),
            (F.col("band_idx") == F.col("bi")) & (F.col("band_val") == F.col("bv")),
        )
        .groupBy("doc_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    a = sh.select(
        F.col("sid").alias("aid"), F.col("sh").alias("a_sh"),
        F.col("n_sh").alias("an"),
    )
    b = sh.select(
        F.col("sid").alias("bid"), F.col("sh").alias("b_sh"),
        F.col("n_sh").alias("bn"),
    )
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    # distinct shingle sets: |A u B| = |A| + |B| - |A n B|
    union = F.col("an") + F.col("bn") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(a, cand["doc_id"] == F.col("aid"))
        .join(F.broadcast(b), cand["benchmark_id"] == F.col("bid"))
        .filter(jac >= 0.5)
        .select(
            "doc_id",
            "benchmark_id",
            "n_shared_bands",
            F.round(jac, R).alias("jaccard"),
        )
    )


@register(
    "snapshot_delta",
    oracle="""
    WITH a AS (
      SELECT doc_id // 2 AS k,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 2 = 0
    ),
    b AS (
      SELECT doc_id // 2 AS k,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT coalesce(a.k, b.k) AS k,
           CASE WHEN a.k IS NULL THEN 'added'
                WHEN b.k IS NULL THEN 'removed'
                WHEN a.fp = b.fp  THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
    doc="""Crawl-snapshot delta (r7 — the recurring-ingest diff step:
    which documents appeared, vanished, or changed between two crawl
    snapshots): snapshots key on the stable doc key (floor(doc_id/2);
    even rows = snapshot A, odd = snapshot B — deterministic synthetic
    split), FULL OUTER join on the key, and per-key status from the
    null pattern + normalized-fingerprint equality. This is also the
    registry's explicit full-outer-join exercise (J2's left-outer
    sibling). One hash-partitioned join on the key, map-only
    fingerprinting; at 100 TB snapshot diffs are exactly this shape
    (keyed by URL) and drive incremental re-processing.""",
    tags=("join", "outer", "dedup", "snapshot"),
)
def q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.text import fingerprint_md5

    d = load(spark, sf_dir, "documents").select(
        # arithmetic shift right == floor(doc_id / 2) for ALL int64,
        # matching the oracle's DuckDB `//` (double division + cast
        # would truncate toward zero for negatives and lose precision
        # above 2^53)
        F.shiftright(F.col("doc_id"), 1).alias("k"),
        (F.col("doc_id") % 2).alias("side"),
        fingerprint_md5("text").alias("fp"),
    )
    a = d.filter(F.col("side") == 0).select(F.col("k").alias("ak"), F.col("fp").alias("afp"))
    b = d.filter(F.col("side") == 1).select(F.col("k").alias("bk"), F.col("fp").alias("bfp"))
    status = (
        F.when(F.col("ak").isNull(), F.lit("added"))
        .when(F.col("bk").isNull(), F.lit("removed"))
        .when(F.col("afp") == F.col("bfp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return a.join(b, F.col("ak") == F.col("bk"), "full_outer").select(
        F.coalesce(F.col("ak"), F.col("bk")).alias("k"), status.alias("status")
    )


# --- DSIR importance weights (r7) -------------------------------------------

_DSIR_B = 256  # hashed-feature buckets (the paper hashes n-grams into 10k
# buckets at web scale; 256 keeps the sf0.01 bucket table readable while the
# shape — explode -> bucket agg -> broadcast join — is B-independent)


def dsir_importance_weights(
    d: DataFrame, n_buckets: int = _DSIR_B, target_lang: str = "en"
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit two bag-of-hashed-
    unigram models — target (docs matching ``target_lang``) vs raw
    (everything else) — and score every document with its log importance
    weight sum(count_b * (ln p_target(b) - ln p_raw(b))), add-one
    smoothed. High-weight raw docs are the ones importance resampling
    would keep to match the target distribution.

    Shape: ONE tokenize+explode pass feeds both the bucket statistics
    (B-bounded aggregate) and the per-doc bucket counts; the per-bucket
    log-ratio table is B rows — broadcast-joined at any corpus size —
    and the totals stay in-plan as a 1-row broadcast (the
    corpus_mixture_plan pattern, no plan-build job). Hashing is the
    repo-standard md5-first-8-hex word, identical in both engines, so
    the oracle replays bucketing, smoothing, and the weight exactly
    (6dp-rounded float enters only at the final per-doc sum)."""
    ex = d.select(
        "doc_id",
        F.coalesce(F.col("lang") == target_lang, F.lit(False)).alias("is_target"),
        F.explode(Tx.tokens("text")).alias("tok"),
    ).select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("bucket"),
    )
    docb = ex.groupBy("doc_id", "bucket", "is_target").agg(
        F.count(F.lit(1)).alias("n")
    )
    # bucket stats re-aggregate the SAME (doc, bucket) frame so
    # ReuseExchange serves both branches from one tokenize shuffle
    bstats = docb.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("is_target"), F.col("n")).otherwise(0)).alias("cr"),
    )
    tot = bstats.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    bf = float(n_buckets)
    scored = (
        docb.join(F.broadcast(bstats), "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n",
            (
                F.col("n")
                * (
                    F.log((F.col("ct") + 1.0) / (F.col("tt") + bf))
                    - F.log((F.col("cr") + 1.0) / (F.col("tr") + bf))
                )
            ).alias("nl"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.round(F.sum("nl"), 6).alias("log_weight"),
    )


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, coalesce(lang = 'en', false) AS is_target,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {_DSIR_B} AS bucket
      FROM (SELECT doc_id, lang, unnest({_SQL_TOKS}) AS tok FROM documents)
    ), docb AS (
      SELECT doc_id, bucket, is_target, count(*) AS n FROM ex GROUP BY 1, 2, 3
    ), bstats AS (
      SELECT bucket,
             sum(CASE WHEN is_target THEN n ELSE 0 END) AS ct,
             sum(CASE WHEN NOT is_target THEN n ELSE 0 END) AS cr
      FROM docb GROUP BY 1
    ), tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM bstats),
    scored AS (
      SELECT doc_id, n,
             n * (ln((ct + 1.0) / (tt + {_DSIR_B}.0))
                - ln((cr + 1.0) / (tr + {_DSIR_B}.0))) AS nl
      FROM docb JOIN bstats USING (bucket) CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
           round(sum(nl), 6) AS log_weight
    FROM scored GROUP BY 1
    """,
    doc="""DSIR data selection (r7 — Xie et al. 2023, the
    importance-resampling selection step an LLM pipeline runs to tilt
    a raw crawl toward a target domain): hashed-unigram bag models fit
    on target (lang='en') vs raw in ONE tokenize pass, per-doc log
    importance weight = sum over hashed buckets of count * smoothed
    log-probability ratio. The B=256 bucket table broadcast-joins at
    any corpus size, totals stay in-plan as a 1-row broadcast, and the
    md5 bucketing + add-one smoothing replay exactly in SQL. At 100 TB
    the only corpus-sized shuffles are the (doc, bucket) aggregates —
    map-side combined, output bounded by docs x min(B, doc vocab).""",
    tags=("text", "dsir", "sampling", "lm"),
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_importance_weights(fan_out(load(spark, sf_dir, "documents")))
