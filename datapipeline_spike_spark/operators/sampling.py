"""Deterministic corpus sampling / data mixing.

The sampling stage of a training-data pipeline re-weights strata
(language, source, domain) to hit a target mixture. Two properties
matter at 100 TB and neither is provided by ``df.sample()``:

- **Determinism**: reruns, backfills, and downstream audits must make
  the identical keep/drop decision per row. RNG-based sampling ties the
  outcome to partition layout and seed plumbing; a content hash ties it
  to the data alone.
- **Obliviousness**: the decision is a map-only expression — no
  shuffle, no state, trivially pushes through any scan.

``hash_u01`` maps a key column to a uniform [0, 1) double via the first
8 hex chars of md5 (exact in both Spark and the DuckDB oracle — same
technique as the leakage-safe split, operators/dedup.py). A row is kept
when ``u < rate`` where ``rate`` is any per-row expression, so callers
express per-stratum target rates declaratively.

Reference scope: the reference spike (README.md:434-490) samples and
routes records only by quality; mixture control is part of the §2.11
LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TWO_32 = 4294967296.0  # 2^32; md5 prefix is 8 hex chars = 32 bits


def hash_u01(key: Column | str) -> Column:
    """Uniform [0, 1) double derived from md5(key) — deterministic,
    portable (identical in DuckDB: ``('0x' || substr(md5(k),1,8))::BIGINT
    / 4294967296.0``), and independent of partitioning."""
    key = F.col(key) if isinstance(key, str) else key
    bucket = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
    return bucket / F.lit(_TWO_32)


def stratified_sample(
    df: DataFrame, key: Column | str, rate: Column, *, keep_all: bool = False
) -> DataFrame:
    """Tag (or filter) rows by a deterministic per-stratum sampling
    decision: keep iff hash_u01(key) < rate.

    ``rate`` is a per-row Column (typically a CASE over stratum columns
    with the target mixture weights). With ``keep_all=True`` the frame
    is returned untouched with ``sample_u``/``kept`` columns appended —
    the auditable form; default drops rejected rows."""
    u = hash_u01(key)
    tagged = df.withColumn("sample_u", u).withColumn("kept", u < rate)
    return tagged if keep_all else tagged.filter("kept").drop("sample_u", "kept")


def bottom_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    k: int,
    *,
    rank_col: str = "rnk",
    salt_key: Column | str | None = None,
    n_salts: int = 32,
) -> DataFrame:
    """Per-group deterministic bottom-k WITHOUT a per-group global
    window: a single ``Window.partitionBy(group)`` funnels the whole
    corpus through |groups| reducers — for a low-cardinality stratum
    key (language, cluster id) that is the classic 1000x bottleneck.
    Two-phase instead: phase 1 ranks within (group, salt) — |groups| *
    ``n_salts`` well-sized partitions — and keeps each salt's bottom k;
    phase 2 ranks only the |groups| * n_salts * k survivors (tiny) for
    the true per-group bottom-k. Bottom-k of per-salt bottom-ks equals
    the global bottom-k exactly, so the result is identical to the
    naive window row for row (including ``rank_col``).

    ``order_cols`` must be a TOTAL order within each group (append a
    unique id as tie-break) or ranks are nondeterministic — same
    contract as the naive window. ``salt_key`` defaults to the last
    order column (the tie-break id); any column that spreads rows
    roughly uniformly works, correctness never depends on it."""
    from pyspark.sql import Window

    if salt_key is None:
        salt_key = order_cols[-1]
    salt_key = F.col(salt_key) if isinstance(salt_key, str) else salt_key
    salt = F.pmod(F.hash(salt_key), F.lit(n_salts))
    w1 = Window.partitionBy(*group_cols, salt).orderBy(*order_cols)
    pre = df.withColumn("_bk_r1", F.row_number().over(w1)).filter(
        F.col("_bk_r1") <= k
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        pre.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
        .drop("_bk_r1")
    )


def budget_select(
    df: DataFrame,
    score: Column | str,
    token_col: Column | str,
    budget: float,
    key: Column | str,
    *,
    precision: int = 4,
    keep_audit: bool = False,
) -> DataFrame:
    """Token-budget corpus selection: keep the highest-``score``
    documents until ~``budget`` total tokens — "give me the best N
    billion tokens", the curation cut every pretraining data pipeline
    makes after scoring.

    The exact answer is a global sort by score + running token sum —
    a single-reducer funnel at corpus scale. Instead, the classic
    two-pass threshold:

    1. **Histogram pass** (one shuffle, bounded output): token mass per
       score bucket, bucket = round(score, precision). The cumulative
       sweep that finds the threshold runs over the BUCKETS — an
       unpartitioned window whose row count is the score's rounded
       cardinality (for a [0,1] quality score at 4dp: <= 10^4 + 1 rows;
       callers must pass a bounded-range score — that is the
       boundedness argument for the window-audit rule).
    2. **Selection pass** (map-only): buckets strictly above the
       threshold are kept whole; the boundary bucket is thinned by a
       deterministic ``hash_u01(key) < rate`` draw with rate sized to
       the remaining budget, so the expected total hits ``budget``
       exactly and the decision stays layout-invariant and rerunnable.
       (Within-bucket scores are ties at ``precision``, so thinning by
       hash rather than rank loses nothing.)

    The threshold frame is a 1-row broadcast cross (the allowlisted
    totals pattern). Overshoot is the boundary-draw variance, O(sqrt)
    of the boundary mass — at billion-token budgets that is parts per
    million; tighten ``precision`` to shrink the boundary bucket.

    With ``keep_audit=True`` the kept rows carry ``score_bucket`` and
    ``boundary`` (True = survived the boundary draw, not a full-bucket
    keep)."""
    if budget <= 0:
        raise ValueError(f"budget={budget}: need a positive token budget")
    from pyspark.sql import Window

    score = F.col(score) if isinstance(score, str) else score
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    bucket = F.round(score, precision)
    # NULL scores are unrankable and excluded up front (the same
    # contract as weighted_sample's NULL weights). Without this their
    # bucket would also ride the boundary pick's nulls-first ascending
    # sort and could become b0, silently emptying the selection.
    df = df.filter(bucket.isNotNull())

    hist = df.groupBy(bucket.alias("b")).agg(
        F.sum(tok.cast("double")).alias("mass")
    )
    # cumulative mass of STRICTLY higher buckets; window rows = rounded
    # score cardinality (bounded by caller contract, see docstring)
    above = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, -1)
    thr = (
        hist.withColumn("mass_above", F.coalesce(F.sum("mass").over(above), F.lit(0.0)))
        .filter(F.col("mass_above") < budget)
        .orderBy("b")
        .limit(1)  # the boundary bucket: last one any budget remains for
        .select(
            F.col("b").alias("b0"),
            F.least(
                (F.lit(float(budget)) - F.col("mass_above"))
                / F.when(F.col("mass") > 0, F.col("mass")).otherwise(F.lit(1.0)),
                F.lit(1.0),
            ).alias("boundary_rate"),
        )
    )
    out = (
        df.withColumn("score_bucket", bucket)
        .crossJoin(F.broadcast(thr))  # 1 row (allowlisted totals pattern)
        .withColumn(
            "boundary",
            (F.col("score_bucket") == F.col("b0"))
            & (hash_u01(key) < F.col("boundary_rate")),
        )
        .filter((F.col("score_bucket") > F.col("b0")) | F.col("boundary"))
        .drop("b0", "boundary_rate")
    )
    return out if keep_audit else out.drop("score_bucket", "boundary")


def weighted_sample(
    df: DataFrame,
    weight: Column | str,
    k: int,
    key: Column | str,
    group_cols: list[str] | None = None,
    *,
    score_col: str = "es_score",
    rank_col: str = "rnk",
    keep_score: bool = False,
    score_round: int | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (k items, probability
    proportional to weight) — Efraimidis & Spirakis 2006: each row gets
    key u^(1/w), the sample is the top-k; we use the equivalent
    bottom-k of ``-ln(1-u)/w`` (exponential race: the exponent is an
    Exp(w) variate, smallest wins). One pass, no per-item state, and
    because ``u`` comes from ``hash_u01`` the sample is DETERMINISTIC
    and partition-invariant — reruns and backfills select the identical
    rows, and "new sample per epoch" is just a salt in ``key``.

    This is the scale answer to "take k docs favoring high quality
    score / low perplexity" — df.sample() cannot weight per-row, and
    an orderBy(weight).limit(k) is a deterministic cutoff, not a
    sample. With ``group_cols`` the draw runs independently per stratum
    (k per group) through the salted two-phase ``bottom_k_per_group``,
    so no per-group global window funnel; globally (group_cols=None)
    phase 2 ranks only the n_salts*k phase-1 survivors — bounded, the
    documented exception to the unpartitioned-Window rule.

    Rows with NULL or non-positive weight are excluded (they have zero
    selection probability; -ln(1-u)/w would flip sign). ``key`` must be
    unique per row (it is the tie-break and the salt).

    ``score_round``: round the ES key to this many decimals before
    ranking. ``ln`` is the one non-exact step (JVM Math.log and C libm
    can disagree in the final ulp), so an oracle-replayed registration
    ranks on a rounded key — 10dp keeps ~7 significant digits at
    typical key magnitudes, far below any real selection-probability
    distortion, while the doc-id tie-break resolves rounding ties
    identically in both engines. Default None preserves full
    precision."""
    if k < 1:
        raise ValueError(f"k={k}: need at least 1")
    w = F.col(weight) if isinstance(weight, str) else weight
    key = F.col(key) if isinstance(key, str) else key
    es = -F.log(F.lit(1.0) - hash_u01(key)) / w
    if score_round is not None:
        es = F.round(es, score_round)
    tagged = df.filter(w > 0).withColumn(score_col, es)
    out = bottom_k_per_group(
        tagged,
        list(group_cols or []),
        [F.col(score_col), key],
        k,
        rank_col=rank_col,
        salt_key=key,
    )
    return out if keep_score else out.drop(score_col, rank_col)


def deterministic_shuffle(
    df: DataFrame,
    key: Column | str,
    n_shards: int,
    seed: int = 0,
    shard_col: str = "shard",
    order_col: str = "shuffle_u",
) -> DataFrame:
    """Deterministic global shuffle for training-data writers: every row
    gets a shard in [0, n_shards) and a within-shard order key, both
    pure functions of (key, seed) — so the shard files a downstream
    ``write.partitionBy(shard)`` (or repartition+sortWithinPartitions)
    produces are BYTE-IDENTICAL across reruns, backfills, cluster
    sizes, and input partitionings. RNG-based ``orderBy(rand())``
    shuffling ties the epoch order to the cluster layout; a content
    hash ties it to the data, which also makes the "different seed per
    epoch" recipe trivial (seed = epoch). Map-only: the shuffle itself
    happens in the writer's repartition, this operator only computes
    where each row goes."""
    if n_shards < 1:
        raise ValueError(f"n_shards={n_shards}: need at least 1 shard")
    key = F.col(key) if isinstance(key, str) else key
    u = hash_u01(F.concat(key.cast("string"), F.lit(f"#{seed}")))
    return df.withColumn(order_col, u).withColumn(
        shard_col, (F.col(order_col) * n_shards).cast("int")
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    k: int,
    key: Column | str,
    *,
    rank_col: str = "rnk",
    keep_rank: bool = False,
) -> DataFrame:
    """Per-domain frequency cap — the crawl-curation rule (C4 /
    RefinedWeb style) that stops a handful of giant hosts from
    dominating the training mixture: keep at most ``k`` documents per
    ``domain_col``, chosen as a deterministic pseudo-random subset
    (bottom-k of ``hash_u01(key)``) rather than "first k seen", so the
    kept set is layout- and rerun-invariant and unbiased within the
    domain.

    Scale shape: the ranking runs through the salted two-phase
    ``bottom_k_per_group`` — a mega-domain (the exact case this
    operator exists for) never funnels through one reducer; phase 1
    ranks within (domain, salt) and phase 2 touches only n_salts*k
    survivors per domain. The hash order key is a dyadic rational
    (md5-prefix / 2^32), exact in both engines, so an oracle replays
    the selection identically."""
    if k < 1:
        raise ValueError(f"k={k}: need at least 1 per domain")
    key = F.col(key) if isinstance(key, str) else key
    tagged = df.withColumn("_dc_u", hash_u01(key))
    out = bottom_k_per_group(
        tagged,
        [domain_col],
        [F.col("_dc_u"), key],
        k,
        rank_col=rank_col,
        salt_key=key,
    )
    out = out.withColumnRenamed("_dc_u", "cap_u")
    return out if keep_rank else out.drop(rank_col)


def temperature_mixture_plan(
    docs: DataFrame,
    group_col: str = "lang",
    token_count_col: str = "tk",
    budget_frac: float = 0.3,
    tau: float = 0.5,
    max_epochs: float = 4.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture planning (staged r10, register r11;
    the mT5/UNIMAX family: Xue et al. 2021 sample languages with
    p_i ~ n_i^tau, Chung et al. 2023 cap per-language epochs): unlike
    ``corpus_mixture_plan``'s FIXED recipe weights, the mixture here is
    DERIVED from the data — tau < 1 upweights low-resource groups
    (tau=1 is proportional sampling, tau=0 uniform across groups), and
    ``max_epochs`` caps how many times a tiny group may repeat before
    the plan reports a deficit instead of over-repeating it (the
    UNIMAX degeneracy guard).

    Input needs (id, group, token count) rows; returns one row per
    group: (group, n_docs, n_tokens, p, target_tokens, epochs,
    sampling_rate, n_kept_docs, kept_tokens) where epochs =
    min(target/n, max_epochs); groups with epochs > 1 repeat
    (sampling_rate 1.0, the writer replays them); groups under 1 apply
    the deterministic md5 draw and the ACHIEVED kept counts are
    reported next to the plan.

    Parity: n^tau = exp(tau * ln n) written identically on both
    engines; every ratio rounds 6dp. Scale shape: one group-grain
    aggregate, a 1-row total cross (bounded broadcast), and one
    group-keyed join back for the draw — linear, no windows."""
    by_g = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col).cast("long").alias("n_tokens"),
    )
    # zero-token groups: ln(0) is NULL in Spark, which would NULL the
    # group's weight/p/epochs and silently drop its rows from the draw
    # (NULL comparisons filter). Contract instead: the group STAYS in
    # the plan with weight 0 -> p = 0, epochs = 0, nothing sampled —
    # visible, not vanished.
    pw = F.when(
        F.col("n_tokens") > 0,
        F.exp(F.lit(float(tau)) * F.log(F.col("n_tokens").cast("double"))),
    ).otherwise(F.lit(0.0))
    weighted = by_g.select(group_col, "n_docs", "n_tokens", pw.alias("_w"))
    totals = weighted.agg(
        F.sum("_w").alias("_wsum"),
        F.sum("n_tokens").cast("long").alias("_total_tokens"),
    )
    # share: guard the all-zero-corpus edge (_wsum = 0 -> 0/0 NULL);
    # a zero-weight group's share is 0 by the documented contract
    share = F.when(F.col("_w") > 0, F.col("_w") / F.col("_wsum")).otherwise(
        F.lit(0.0)
    )
    plan = weighted.crossJoin(F.broadcast(totals)).select(
        group_col,
        "n_docs",
        "n_tokens",
        share.alias("_p"),
        (F.lit(float(budget_frac)) * share * F.col("_total_tokens")).alias(
            "_target"
        ),
    )
    plan = plan.select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round("_p", 6).alias("p"),
        F.round("_target", 2).alias("target_tokens"),
        # n_tokens = 0 makes _target/n_tokens NULL, and Spark's least()
        # SKIPS nulls (epochs would come back as max_epochs) — pin the
        # zero-token group to epochs 0 explicitly
        F.when(F.col("n_tokens") > 0,
               F.round(
                   F.least(
                       F.lit(float(max_epochs)),
                       F.col("_target") / F.col("n_tokens"),
                   ),
                   6,
               ))
        .otherwise(F.lit(0.0))
        .alias("epochs"),
    )
    rate = F.least(F.lit(1.0), F.col("epochs"))
    kept = (
        docs.join(
            F.broadcast(plan.select(group_col, rate.alias("_rate"))), group_col
        )
        .filter(hash_u01(id_col) < F.col("_rate"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept_docs"),
            F.sum(token_count_col).cast("long").alias("kept_tokens"),
        )
    )
    return (
        plan.join(kept, group_col, "left")
        .select(
            plan[group_col].alias(group_col),
            "n_docs",
            "n_tokens",
            "p",
            "target_tokens",
            "epochs",
            F.round(rate, 6).alias("sampling_rate"),
            F.coalesce("n_kept_docs", F.lit(0)).cast("long").alias("n_kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        )
    )


def sequence_packing_plan(
    df: DataFrame,
    token_col: str,
    id_col: str = "doc_id",
    seq_len: int = 2048,
    n_buckets: int = 256,
) -> DataFrame:
    """Concat-and-chunk sequence packing plan (staged r12, registered
    r14): the trainer-side layout every pretraining run performs —
    documents are concatenated in a deterministic shuffled order and
    the token stream is split into fixed ``seq_len`` sequences. The
    plan reports, per document, WHERE it lands: its global token
    offset, its first training sequence, and how many sequences it
    spans (a doc crossing a boundary is split across samples — the
    fraction of split docs is the packing-quality number attention-mask
    and BestFit-style packers optimize).

    Order = (hash_u01(id), id) — content-derived, rerun- and
    layout-invariant (the shuffle-shard convention). The global running
    offset is computed WITHOUT a corpus-wide window: docs hash into
    ``n_buckets`` ordered buckets, per-bucket token totals (bounded:
    n_buckets rows) get a cumulative base via one bounded window, and
    the within-bucket cumsum runs partitioned by bucket — the two-phase
    cumsum, exact because bucket boundaries follow the same total
    order. Returns (id, n_tokens, pack_offset, first_seq,
    n_seqs_spanned); integer-exact throughout."""
    from pyspark.sql import Window

    u = hash_u01(id_col)
    rows = df.select(
        F.col(id_col),
        F.col(token_col).cast("long").alias("_tk"),
        u.alias("_u"),
        F.floor(u * n_buckets).cast("int").alias("_bkt"),
    )
    totals = rows.groupBy("_bkt").agg(F.sum("_tk").alias("_btot"))
    wb = Window.orderBy("_bkt")  # bounded: <= n_buckets rows (WINDOW_OK)
    base = totals.select(
        "_bkt", (F.sum("_btot").over(wb) - F.col("_btot")).alias("_base")
    )
    wi = Window.partitionBy("_bkt").orderBy("_u", id_col)
    packed = (
        rows.join(F.broadcast(base), "_bkt")
        .withColumn("_cum", F.sum("_tk").over(wi))
        .select(
            id_col,
            F.col("_tk").alias("n_tokens"),
            (F.col("_base") + F.col("_cum") - F.col("_tk")).alias("pack_offset"),
        )
    )
    first = F.floor(F.col("pack_offset") / seq_len).cast("long")
    last = F.floor(
        (F.col("pack_offset") + F.greatest(F.col("n_tokens") - 1, F.lit(0)))
        / seq_len
    ).cast("long")
    spanned = F.when(F.col("n_tokens") > 0, last - first + 1).otherwise(
        F.lit(0)
    )
    return packed.select(
        id_col,
        "n_tokens",
        "pack_offset",
        first.alias("first_seq"),
        spanned.cast("long").alias("n_seqs_spanned"),
    )


def doremi_domain_weights(
    df: DataFrame,
    domain_col: str,
    loss_col: str,
    eta: float = 0.1,
    iters: int = 8,
) -> DataFrame:
    """DoReMi-style domain reweighting (staged r12, registered r14; Xie
    et al. 2023, simplified to fixed per-domain losses): Group-DRO
    multiplicative weights over domains — each step the mixture weight
    of every domain multiplies by ``exp(eta * excess)`` where excess is
    the domain's loss over the current weighted-average baseline, then
    renormalizes. Domains whose proxy loss exceeds the mixture average
    (hard/underfit domains) gain weight; the fixed-point concentrates
    on the max-loss domain as iters grows, and small ``iters``/``eta``
    yield the tempered mixtures DoReMi actually ships.

    Engine-parity design: per-domain mean losses are 6dp-quantized
    FIRST, every iteration renormalizes and re-quantizes the weight
    vector to 6dp (quantize-then-derive — exp() is only
    within-1-ulp cross-engine, so weights are re-pinned each step), and
    the iteration runs on ONE assembled row of domain-sorted arrays via
    per-step column projections (no joins, no driver collect; the
    aggregate-per-element HOF cost is |domains|^2-bounded). Returns one
    row per domain: (domain, n_docs, mean_loss, weight).

    Numerical stability (ADVICE r12): the update is computed in the
    log-sum-exp SHIFTED form ``a * exp(eta * (loss - max_loss))`` —
    shifting the exponent by any per-step constant (the weighted
    baseline included) cancels under the renormalization that follows,
    so this is algebraically the same multiplicative-weights step, but
    the exponent is now <= 0: unbounded proxy losses (e.g. raw document
    lengths) can no longer overflow exp() to inf and poison every
    weight with inf/inf = NaN. Far-below-max domains underflow to +0.0
    (weight -> 0), which is the correct limit."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    per = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.round(F.avg(F.col(loss_col).cast("double")), 6).alias("_loss"),
    )
    one = per.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(domain_col).alias("d"), "_n", "_loss"))
        ).alias("_rows")
    ).select(
        "_rows",
        F.transform("_rows", lambda r: r["_loss"]).alias("_l"),
        F.transform(
            "_rows", lambda r: F.round(F.lit(1.0) / F.size("_rows"), 6)
        ).alias("a0"),
    )
    one = one.select("*", F.array_max("_l").alias("_lmax"))
    cur = "a0"
    for t in range(iters):
        # shifted unnormalized update in one stage, normalize in the
        # next — each stage references the previous stage's ATTRIBUTES,
        # keeping the expression tree linear in iters
        one = one.select(
            "*",
            F.zip_with(
                cur,
                "_l",
                lambda a, l: a * F.exp(eta * (l - F.col("_lmax"))),
            ).alias(f"_u{t}"),
        )
        one = one.select(
            "*",
            F.aggregate(
                f"_u{t}", F.lit(0.0), lambda acc, x: acc + x
            ).alias(f"_s{t}"),
        )
        one = one.select(
            "*",
            F.transform(
                f"_u{t}", lambda x: F.round(x / F.col(f"_s{t}"), 6)
            ).alias(f"a{t + 1}"),
        )
        cur = f"a{t + 1}"
    out = one.select(
        F.explode(
            F.zip_with(
                "_rows", cur, lambda r, w: F.struct(r.alias("r"), w.alias("w"))
            )
        ).alias("x")
    )
    return out.select(
        F.col("x.r.d").alias(domain_col),
        F.col("x.r._n").cast("long").alias("n_docs"),
        F.col("x.r._loss").alias("mean_loss"),
        F.col("x.w").alias("weight"),
    )
