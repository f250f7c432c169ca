"""Training-data preparation queries: deterministic shard shuffles,
weighted and token-budget sampling, temperature and DoReMi domain
mixtures, sequence packing, curriculum phases, span corruption, and the
preference/SFT stage (Bradley-Terry strengths, chat-turn statistics,
DPO pairs, best-of-n selection). Every random draw is the md5 [0,1)
draw of ``registry.SQL_U01``, so both engines sample identically; the
preference and SFT queries run over match logs, transcripts and
candidate pools derived deterministically from ``documents``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import (
    SQL_TOKS,
    SQL_U01,
    SQL_U01_DOC,
    load,
    register,
    sql_quality6,
)


# --- deterministic training-shard shuffle ------------------------------------

# deterministic_shuffle's seed-0 draw: the md5 key is doc_id || '#0'
_SQL_U01_SEED0 = SQL_U01.format(k="CAST(doc_id AS VARCHAR) || '#0'")


@register(
    "shuffle_shard_plan",
    oracle=f"""
    SELECT doc_id, lang, source,
           round({_SQL_U01_SEED0}, 6) AS shuffle_u,
           CAST(floor({_SQL_U01_SEED0} * 16) AS INTEGER) AS shard
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


# --- Efraimidis-Spirakis weighted sampling -----------------------------------


@register(
    "weighted_doc_sample",
    oracle=f"""
    WITH es AS (
      SELECT doc_id, lang, source, n_chars,
             round(-ln(1 - {SQL_U01_DOC}) / CAST(n_chars AS DOUBLE), 10) AS s
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


# --- token-budget corpus selection -------------------------------------------


@register(
    "budget_selected_docs",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {SQL_TOKS.format(c="text")} AS toks FROM documents),
    q AS (
      SELECT doc_id, len(toks) AS n_tokens, {sql_quality6("toks", "text")} AS quality
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
       OR (b.bkt = thr.b0 AND {SQL_U01_DOC} < thr.rate)
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


# --- temperature-based mixture planning --------------------------------------


@register(
    "temperature_mixture_plan",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, len({SQL_TOKS.format(c="text")}) AS tk FROM documents
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
      WHERE {SQL_U01_DOC} < least(1.0, epochs)
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


# --- two-phase-cumsum sequence packing ---------------------------------------


@register(
    "sequence_packing_plan",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len({SQL_TOKS.format(c="text")}) AS tk,
             {SQL_U01_DOC} AS u
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


# --- DoReMi multiplicative-weights domain mixture ----------------------------


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


# --- Bradley-Terry pairwise strengths ----------------------------------------

# a BT-consistent synthetic match log: the true strength of item i is
# proportional to i + 1, and the deterministic md5 draw decides each
# match on both engines
_SQL_MATCHES = f"""
    matches AS (
      SELECT 'm' || CAST(doc_id % 8 AS VARCHAR) AS item_a,
             'm' || CAST((doc_id // 8) % 8 AS VARCHAR) AS item_b,
             CASE WHEN {SQL_U01_DOC} <
                  (doc_id % 8 + 1) * 1.0
                  / (doc_id % 8 + (doc_id // 8) % 8 + 2)
                  THEN 1 ELSE 0 END AS wins_a,
             CASE WHEN {SQL_U01_DOC} <
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


# --- curriculum phase plan ---------------------------------------------------


@register(
    "curriculum_phase_plan",
    oracle=f"""
    WITH t AS (SELECT source, doc_id,
                      {SQL_TOKS.format(c="text")} AS toks FROM documents),
    s AS (SELECT source, doc_id, len(toks) AS nt,
                 list_sum(list_transform(toks, x -> length(x))) AS sumlen
          FROM t WHERE len(toks) > 0),
    d AS (SELECT source, doc_id, nt,
                 round(sumlen * 1.0 / nt, 6) AS diff FROM s),
    p AS (SELECT *, ntile(4) OVER (PARTITION BY source
                  ORDER BY diff ASC, doc_id ASC) AS phase FROM d),
    plan AS (
      SELECT source, phase,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS token_budget,
             round(avg(diff), 6) AS mean_difficulty
      FROM p GROUP BY 1, 2
    )
    SELECT source, CAST(phase AS BIGINT) AS phase, n_docs, token_budget,
           mean_difficulty,
           CAST(row_number() OVER (ORDER BY phase, source) AS BIGINT)
             AS schedule_pos
    FROM plan
    """,
    doc="""operators/curation.curriculum_phase_plan (staged r14 wave 2,
    registered r16; Bengio 2009 curriculum learning applied to LM data
    ordering): split each source's documents into 4 difficulty phases
    (difficulty = mean token length, 6dp from an exact integer sum
    over the house tokenizer) and emit the per-(source, phase) plan —
    n_docs, exact token budgets, mean difficulty, and a deterministic
    phase-major global schedule_pos. The ntile window is PARTITIONED
    BY SOURCE with a fully-tie-broken ORDER BY (difficulty asc, doc_id
    asc) — deterministic and engine-portable (both engines give the
    first n % k tiles one extra row); no global data-grain sort at any
    scale. The final interleave window orders the (sources x phases)
    plan grain AFTER the aggregate — bounded by construction
    (WINDOW_OK; plan pin proves it sits above the HashAggregate).""",
    tags=("curation", "curriculum", "sampling", "staged-r14-wave2"),
)
def q_curriculum_phase_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.curation import (
        curriculum_phase_plan,
    )

    return curriculum_phase_plan(load(spark, sf_dir, "documents"))


# --- span corruption plan ----------------------------------------------------


@register(
    "span_corruption_plan",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      CAST(len({SQL_TOKS.format(c='text')}) AS BIGINT)
                        AS n_tokens
               FROM documents),
    b AS (SELECT doc_id, n_tokens FROM t WHERE n_tokens >= 2),
    p1 AS (SELECT doc_id, n_tokens,
                  CAST(greatest(1, least(
                      floor(n_tokens * 0.15 + 0.5), n_tokens - 1))
                    AS BIGINT) AS noise_tokens
           FROM b),
    p2 AS (SELECT *, CAST(greatest(1,
                  floor(noise_tokens / 3.0 + 0.5)) AS BIGINT) AS n_spans
           FROM p1)
    SELECT doc_id, n_tokens, noise_tokens, n_spans,
           CAST(n_tokens - noise_tokens + n_spans + 1 AS BIGINT)
             AS input_len,
           CAST(noise_tokens + n_spans + 1 AS BIGINT) AS target_len
    FROM p2
    """,
    doc="""operators/packing.span_corruption_plan (staged r14 wave 3,
    registered r17; Raffel 2020 T5 span corruption): the
    length-arithmetic table a denoising-objective data pipeline
    computes per document — noise token count (density 0.15, clamped
    to [1, n-1]), span count (mean span length 3, floor-half-up,
    >= 1), and the exact encoder/decoder sequence lengths
    (input + target = n + 2*spans + 2 — each span costs one sentinel
    each side plus the two EOS). Rounding is explicit floor(x + 0.5)
    HALF-UP on BOTH engines (Python round is banker's — the one rule
    that replays); both clamps pinned by staging hand cases and a
    100k-token Hypothesis battery. Scale shape: strictly MAP-ONLY
    (tokenize + arithmetic, no shuffle at all) — runs at scan speed
    on any corpus; clean audit.""",
    tags=("packing", "t5", "training-prep", "staged-r14-wave3"),
)
def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.packing import (
        span_corruption_plan,
    )

    return span_corruption_plan(load(spark, sf_dir, "documents"))


# --- chat turn stats ---------------------------------------------------------

# transcripts assembled from documents: 2 + doc_id % 4 turns,
# assistant-first when doc_id % 5 == 0, a noise footer when
# doc_id % 7 == 3
_SQL_CHAT_PLANT = """
    chats AS (
      SELECT doc_id,
             array_to_string(list_transform(range(0, 2 + doc_id % 4),
               i -> CASE WHEN (i + CASE WHEN doc_id % 5 = 0 THEN 1
                                   ELSE 0 END) % 2 = 0
                         THEN 'user: ' ELSE 'assistant: ' END
                    || substr(text, 1 + i * 7, 40)), chr(10))
             || CASE WHEN doc_id % 7 = 3
                     THEN chr(10) || '### footer ad'
                     ELSE '' END AS text
      FROM documents
    )
"""


def _chat_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    turns = F.transform(
        F.sequence(F.lit(0), (F.col("doc_id") % 4 + 1).cast("int")),
        lambda i: F.concat(
            F.when(
                (
                    i
                    + F.when(F.col("doc_id") % 5 == 0, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                )
                % 2
                == 0,
                F.lit("user: "),
            ).otherwise(F.lit("assistant: ")),
            F.col("text").substr(i * 7 + 1, F.lit(40)),
        ),
    )
    return d.select(
        "doc_id",
        F.concat(
            F.array_join(turns, "\n"),
            F.when(
                F.col("doc_id") % 7 == 3, F.lit("\n### footer ad")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@register(
    "chat_turn_stats",
    oracle=f"""
    WITH {_SQL_CHAT_PLANT},
    lines AS (
      SELECT doc_id, u.pos AS pos, u.line AS line
      FROM (SELECT doc_id, unnest(list_transform(
              list_filter(list_transform(
                regexp_split_to_array(text, chr(10)), l -> trim(l)),
                l -> l != ''),
              (l, i) -> {{'pos': i - 1, 'line': l}})) AS u
            FROM chats)
    ),
    cls AS (
      SELECT doc_id, pos,
             CASE WHEN lower(line) LIKE 'user: %' THEN 'user'
                  WHEN lower(line) LIKE 'assistant: %' THEN 'assistant'
                  ELSE 'noise' END AS role,
             len(list_filter(regexp_split_to_array(lower(
                 CASE WHEN lower(line) LIKE 'user: %' THEN substr(line, 7)
                      WHEN lower(line) LIKE 'assistant: %'
                        THEN substr(line, 12)
                      ELSE line END),
                 '[^a-z0-9'']+'), t -> t != '')) AS ntok
      FROM lines
    ),
    seq AS (
      SELECT doc_id, pos, role, ntok,
             lag(role) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS tn
      FROM cls WHERE role != 'noise'
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_turns,
             CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_user,
             CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_assistant,
             bool_and(CASE WHEN tn = 1 THEN role = 'user' END)
               AS starts_with_user,
             bool_and(CASE WHEN prev IS NOT NULL THEN role != prev
                           ELSE true END) AS strict_alternation,
             max_by(role, pos) AS last_role,
             CAST(sum(ntok) AS BIGINT) AS turn_tokens,
             CAST(sum(CASE WHEN role = 'assistant' THEN ntok ELSE 0 END)
               AS BIGINT) AS assistant_tokens
      FROM seq GROUP BY 1
    ),
    noise AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_noise_lines
      FROM cls WHERE role = 'noise' GROUP BY 1
    )
    SELECT a.doc_id, n_turns, n_user, n_assistant,
           coalesce(noise.n_noise_lines, 0) AS n_noise_lines,
           starts_with_user, strict_alternation,
           last_role = 'assistant' AS ends_with_assistant,
           turn_tokens, assistant_tokens,
           CASE WHEN turn_tokens > 0
                THEN round(assistant_tokens * 1.0 / turn_tokens, 6)
           END AS assistant_token_share,
           starts_with_user AND strict_alternation
             AND last_role = 'assistant' AND n_turns >= 2
             AND turn_tokens >= 1 AS is_valid
    FROM agg a LEFT JOIN noise USING (doc_id)
    """,
    doc="""operators/sft.chat_turn_stats (staged r14 wave 7,
    registered r17): per-transcript structural validation for SFT
    corpora — the three gates a loss-masking dataloader checks before
    a dialogue enters training (starts with user, strictly alternates,
    ends with assistant) plus content-only token budgets (role
    prefixes stripped) and noise-line accounting (noise counts but
    never breaks a role pair). assistant_token_share is NULL when
    turn_tokens = 0 and is_valid requires turn_tokens >= 1 (ADVICE r14
    zero-token semantics, pinned by a staging test before this hash
    froze). Registered over transcripts assembled from documents
    (assistant-first when doc_id % 5 == 0, footer noise when
    doc_id % 7 == 3 — the plant mixes valid and invalid). Scale shape:
    one transcript-partitioned lag/row_number window + one doc-keyed
    aggregate + the noise-count merge; no Python, no cartesian —
    clean audit (measured at r16 staging).""",
    tags=("sft", "chat", "training-prep", "staged-r14-wave7"),
)
def q_chat_turn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sft import chat_turn_stats

    return chat_turn_stats(_chat_planted(spark, sf_dir))


# --- DPO pair plan -----------------------------------------------------------

# scored candidates derived from documents: prompt doc_id % 50, score
# ((doc_id * 37) % 1000) / 1000


@register(
    "dpo_pair_plan",
    oracle="""
    WITH cand AS (
      SELECT doc_id % 50 AS prompt_id, doc_id AS cand_id,
             round(((doc_id * 37) % 1000) / 1000.0, 6) AS s
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY prompt_id
                 ORDER BY s DESC, cand_id ASC) AS top,
             row_number() OVER (PARTITION BY prompt_id
                 ORDER BY s ASC, cand_id DESC) AS bot
      FROM cand
    )
    SELECT t.prompt_id, t.cand_id AS chosen_id, b.cand_id AS rejected_id,
           t.s AS chosen_score, b.s AS rejected_score,
           round(t.s - b.s, 6) AS margin
    FROM (SELECT * FROM ranked WHERE top = 1) t
    JOIN (SELECT * FROM ranked WHERE bot = 1) b
      USING (prompt_id)
    WHERE t.cand_id != b.cand_id AND round(t.s - b.s, 6) >= 0.1
    """,
    doc="""operators/sft.dpo_pair_plan (staged r14 wave 7, registered
    r17; Rafailov 2023 DPO): preference-pair construction from scored
    candidate pools — per prompt, chosen = highest-scored candidate
    (id-asc tie-break), rejected = lowest (id-desc — the OPPOSITE
    orientation, so a two-way tie picks distinct ids), pairs kept only
    when the 6dp-rounded margin clears the 0.1 floor; single-candidate
    prompts drop via the identity filter. ONE prompt-partitioned
    window pass computes BOTH extremes (row_number twice over the same
    partition — one shuffle, no candidate self-join; the extremes join
    is prompt-grain). Registered over candidates derived from
    documents (prompt doc_id % 50, score (doc_id*37 % 1000)/1000).
    Scale shape: one data-grain window shuffle + two prompt-grain
    frames; no Python, no cartesian — clean audit (measured at r16
    staging).""",
    tags=("sft", "dpo", "preference", "training-prep", "staged-r14-wave7"),
)
def q_dpo_pair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.sft import dpo_pair_plan

    cand = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 50).alias("prompt_id"),
        F.col("doc_id").alias("cand_id"),
        (((F.col("doc_id") * 37) % 1000) / F.lit(1000.0)).alias("score"),
    )
    return dpo_pair_plan(cand)


# --- best-of-n (rejection sampling) selection --------------------------------

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
