"""ML-adjacent catalog queries: frequency-domain features (SURVEY.md
§2.4 A6/A7), per-group PCA dimensionality reduction (§4 "reduced
features", reference/README.md:472-483), the LSH-bucketed ANN scale
path for similarity search (§2.11), and the embedding-quality audits
around it: recall@k of the Hamming, IVF-PQ, Matryoshka and hybrid-RRF
retrievers against the exact top-k, hard-negative mining, hubness,
centroid drift, random projection and the corpus kNN graph.

Oracle notes:
- ``spectral_energy`` is the engine's one FFT-vs-SQL differential test:
  Spark computes mean signal power through a full FFT (sum|X|^2 / n^2,
  Parseval) in an Arrow pandas UDF, while the DuckDB oracle computes the
  time-domain avg(value^2) — agreement to 4 decimals proves the
  frequency-domain convention is calibrated.
- ``dominant_frequency`` and ``pca_reduce`` have NO oracle (argmax of an
  FFT magnitude and an SVD are not SQL-expressible) — the driver records
  the weaker rows-only check, per the contract.
- ``ann_lsh_bucket`` IS fully oracle-checked: the deterministic
  splitmix-generated hyperplanes are inlined into the SQL as literals,
  so DuckDB replays bucket assignment, multi-probe, and ranking exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipeline_spike_spark.functions.spectral import (
    dominant_frequency_bin,
    pca_reduce_groups,
    spectral_energy_fft,
)
from datapipeline_spike_spark.operators.similarity import (
    _plane,
    cosine_neardup_pairs,
    ivf_topk,
    lsh_bucket_topk,
)
from datapipeline_spike_spark.plans.catalog import q_vibration_features
from datapipeline_spike_spark.plans.registry import load, register

R = 6
EMB_DIM = 64
N_PLANES = 4


SPECTRAL_MAX_SAMPLES = 4096  # hard cap on samples fed to the FFT per window


def _windowed_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (day, status) sample batches: values sorted by (ts, value) so
    order-sensitive frequency-domain features are deterministic. This is
    the batch stand-in for the reference's 60-sample collection window
    (reference/TechSpikeDataPipeline.md:55-65).

    Group payload is O(SPECTRAL_MAX_SAMPLES), NOT O(scale factor): rows
    are ranked within the window (sort-based window function — streams,
    never materializes the group) and only the first cap survive to
    ``collect_list``, so the aggregation buffer feeding the FFT UDF is
    bounded even when the testdata's day-wide stand-in windows grow
    linearly with data volume (the reference's real 60-sample windows
    never hit the cap). Truncation is flagged: ``n_raw_samples`` carries
    the pre-cap group size for consumers to compare with ``n_samples``.
    The row_number and the groupBy share partition keys, so Catalyst
    plans ONE exchange for both."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    from pyspark.sql import Window

    # project the day key FIRST so the window and the groupBy key on the
    # same attribute — partitioning carries through and Catalyst plans a
    # single exchange (partitioning by the raw date_trunc expression
    # inside partitionBy creates an internal projection the aggregate
    # can't reuse)
    base = ev.select(F.date_trunc("day", "ts").alias("d"), "event_type", "ts", "value")
    w = Window.partitionBy("d", "event_type")
    ranked = base.select(
        "d",
        "event_type",
        "ts",
        "value",
        F.row_number().over(w.orderBy("ts", "value")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_raw"),
    ).filter(F.col("rn") <= SPECTRAL_MAX_SAMPLES)
    return (
        ranked.groupBy("d", "event_type")
        .agg(
            F.array_sort(F.collect_list(F.struct("ts", "value"))).alias("samples"),
            F.max("n_raw").alias("n_raw_samples"),
        )
        .select(
            F.col("d").alias("window_start"),
            F.col("event_type").alias("status_code"),
            F.transform("samples", lambda s: s["value"]).alias("vals"),
            F.col("n_raw_samples").cast("long").alias("n_raw_samples"),
        )
        # Right-size the downstream Arrow/pandas-UDF stage by DATA VOLUME,
        # not upstream shuffle width: without this, the FFT UDF inherits
        # every post-window partition (32 here, thousands on a cluster)
        # for one tiny row per window, and each task forks/claims a
        # Python worker — measured at +0.8s steady-state with cold
        # workers (spark.python.worker.reuse=false), the r4 driver-bench
        # anomaly. A keyed repartition is AQE-coalescible: ~5 MB of
        # window payloads collapse to one partition, while a true
        # cluster-scale window count still fans out by size.
        .repartition("window_start", "status_code")
    )


# DuckDB replay of _windowed_samples' cap: rank rows inside each (day,
# status) window by (ts, value), keep the first SPECTRAL_MAX_SAMPLES,
# carry the pre-cap size
_SQL_CAPPED_WINDOW = f"""
    WITH r AS (
      SELECT date_trunc('day', ts) AS d, event_type, value,
             row_number() OVER (PARTITION BY date_trunc('day', ts), event_type
                                ORDER BY ts, value) AS rn,
             count(*)   OVER (PARTITION BY date_trunc('day', ts), event_type) AS n_raw
      FROM events
      WHERE value IS NOT NULL
    )
"""


@register(
    "spectral_energy",
    oracle=f"""
    {_SQL_CAPPED_WINDOW}
    SELECT CAST(d AS TIMESTAMP)         AS window_start,
           event_type                   AS status_code,
           count(*)                     AS n_samples,
           CAST(max(n_raw) AS BIGINT)   AS n_raw_samples,
           round(avg(value * value), 2) AS mean_power
    FROM r
    WHERE rn <= {SPECTRAL_MAX_SAMPLES}
    GROUP BY 1, 2
    """,
    doc="""A7 calculateSpectralEnergy (reference/README.md:465) as a
    differential test: Spark runs the FULL FFT per window batch
    (pandas UDF, Arrow) and reports mean power sum|X|^2/n^2; the oracle
    computes time-domain avg(v^2) over the SAME capped sample slice.
    Parseval says they're equal — a hash match calibrates the engine's
    FFT conventions against a non-FFT reference implementation.
    n_samples (used) vs n_raw_samples (pre-cap) flags truncation.""",
    tags=("spectral", "pandas_udf", "window"),
)
def q_spectral_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _windowed_samples(spark, sf_dir)
    return w.select(
        "window_start",
        "status_code",
        F.size("vals").cast("long").alias("n_samples"),
        "n_raw_samples",
        # 2dp: FFT round-trip error (~1e-9 relative) flips 4dp rounding
        # boundaries on small windows; 2dp keeps ~6 significant figures
        F.round(spectral_energy_fft("vals") / F.size("vals"), 2).alias("mean_power"),
    )


@register(
    "dominant_frequency",
    oracle=None,  # argmax|rfft| is not SQL-expressible -> rows-only check
    doc="""A6 calculateDominantFrequency (reference/README.md:464):
    bin of max |rfft| magnitude, DC excluded, per (day, status) window
    batch; multiply by fs/n for Hz. Arrow pandas UDF over the sorted,
    size-capped sample array (SURVEY.md §7.4 item 3 pins the
    conventions). The FFT bin itself is rows-only, but the output
    carries SQL-checkable companions (n_samples, n_raw_samples, the
    time-domain spectral energy twin) whose values the spectral_energy
    oracle covers on the identical slice; the exact expected bin is
    asserted by the planted-tone tests in tests/test_spectral.py.""",
    tags=("spectral", "pandas_udf", "window", "rows-only"),
)
def q_dominant_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.features import arr_energy

    w = _windowed_samples(spark, sf_dir)
    return w.select(
        "window_start",
        "status_code",
        F.size("vals").cast("long").alias("n_samples"),
        "n_raw_samples",
        dominant_frequency_bin("vals").alias("dominant_bin"),
        F.round(arr_energy("vals") / F.size("vals"), 2).alias("mean_power_td"),
    )


@register(
    "pca_reduce",
    oracle=None,  # SVD is not SQL-expressible -> rows-only check
    doc="""Dimensionality reduction (reference/README.md:472-483
    reduced_features, 'PCA to 3 components' per README.md:529):
    per-status PCA over the 5 windowed vibration features, projecting
    each window onto the top-3 principal axes. applyInPandas group-map;
    deterministic sign normalization (functions/spectral.py). Input
    features are the oracle-checked vibration_features output, so only
    the SVD itself is uncheckable; the envelope's fixed-axis projection
    twin (envelope_reduced_features) IS fully oracle-checked.""",
    tags=("ml", "pca", "rows-only"),
)
def q_pca_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = q_vibration_features(spark, sf_dir).na.drop(
        subset=["rms", "peak", "peak_to_peak", "crest_factor", "kurtosis"]
    )
    return pca_reduce_groups(
        feats,
        group_cols=["status_code"],
        feature_cols=["rms", "peak", "peak_to_peak", "crest_factor", "kurtosis"],
        k=3,
        carry_cols=["window_start"],
    )


# --- PCA variance profile (r8): the oracle-checked companion of the
# rows-only pca_reduce. Three FIXED orthonormal axes in the 5-dim
# vibration-feature space (Gram-Schmidt over deterministic splitmix
# planes, Python-float exact, inlined as literals in both engines) give
# a fully SQL-replayable variance-explained profile; the PCA optimality
# pytest then pins pca_reduce's SVD against it (top-3 principal axes
# must capture at least as much variance as ANY fixed orthonormal
# triple — tests/test_spectral.py).
_VIB_FEATS = ["rms", "peak", "peak_to_peak", "crest_factor", "kurtosis"]


def _orthonormal_axes(dim: int, n: int, seed0: int) -> list[list[float]]:
    """Deterministic orthonormal axes: splitmix planes through classic
    Gram-Schmidt in Python floats (no numpy — repr() literals replay
    bit-for-bit in SQL)."""
    import math

    axes: list[list[float]] = []
    s = seed0
    while len(axes) < n:
        v = _plane(dim, s)
        s += 1
        for a in axes:
            dot = sum(x * y for x, y in zip(v, a))
            v = [x - dot * y for x, y in zip(v, a)]
        nrm = math.sqrt(sum(x * x for x in v))
        if nrm < 1e-6:
            continue
        axes.append([x / nrm for x in v])
    return axes


_PCA_PROFILE_AXES = _orthonormal_axes(len(_VIB_FEATS), 3, 211)


def _fold_sum(terms):
    """Left-associated sum — written identically in the SQL text so the
    float association order matches bit-for-bit."""
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _sql_fold(terms: list[str]) -> str:
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} + {t})"
    return out


def _pca_profile_sql() -> str:
    from datapipeline_spike_spark.plans.registry import REGISTRY

    vib = REGISTRY["vibration_features"].oracle
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in _VIB_FEATS)
    mu_cols = ", ".join(
        f"avg({c}) AS mu_{c}" for c in _VIB_FEATS
    )
    d_cols = ", ".join(f"({c} - mu_{c}) AS d_{c}" for c in _VIB_FEATS)
    p_cols = ", ".join(
        _sql_fold([f"({a!r} * d_{c})" for a, c in zip(axis, _VIB_FEATS)])
        + f" AS p{i + 1}"
        for i, axis in enumerate(_PCA_PROFILE_AXES)
    )
    tot = _sql_fold([f"(d_{c} * d_{c})" for c in _VIB_FEATS])
    ve_cols = ", ".join(
        f"round(avg(p{i + 1} * p{i + 1}), {R}) AS ve_axis{i + 1}"
        for i in range(len(_PCA_PROFILE_AXES))
    )
    ratio_cols = ", ".join(
        f"round(ve_axis{i + 1} / total_var, {R}) AS ve_ratio{i + 1}"
        for i in range(len(_PCA_PROFILE_AXES))
    )
    return f"""
    WITH f AS ({vib}),
    g AS (SELECT * FROM f WHERE {not_null}),
    mu AS (SELECT status_code, {mu_cols} FROM g GROUP BY 1),
    d AS (SELECT g.status_code, {d_cols} FROM g JOIN mu USING (status_code)),
    p AS (SELECT status_code, {tot} AS sqd, {p_cols} FROM d),
    a AS (SELECT status_code, count(*) AS n_windows,
                 round(avg(sqd), {R}) AS total_var, {ve_cols}
          FROM p GROUP BY 1)
    SELECT status_code, n_windows, total_var,
           ve_axis1, ve_axis2, ve_axis3, {ratio_cols}
    FROM a
    """


@register(
    "pca_variance_profile",
    oracle=_pca_profile_sql(),
    doc="""PCA variance-explained profile on FIXED axes (r8 — the
    oracle-checked differential twin that narrows pca_reduce's
    rows-only gap): per status_code over the 5 oracle-checked
    vibration features, the total centered variance (trace of the
    covariance) and the variance explained by each of 3 deterministic
    orthonormal axes (splitmix planes + Gram-Schmidt, literal-inlined
    in both engines), plus explained-variance ratios. Everything the
    SVD cannot replay in SQL is pinned instead by the optimality
    pytest: pca_reduce's top-3 components must capture >= the variance
    of this (or any) fixed orthonormal triple. Shape: two aggregations
    over the windowed feature frame (days x statuses rows — bounded),
    the group means broadcast back; at 100 TB the only corpus-scale
    work is the upstream vibration_features aggregate itself.""",
    tags=("ml", "pca", "aggregate"),
)
def q_pca_variance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = q_vibration_features(spark, sf_dir).na.drop(subset=_VIB_FEATS)
    mu = f.groupBy("status_code").agg(
        *[F.avg(c).alias(f"mu_{c}") for c in _VIB_FEATS]
    )
    j = f.join(F.broadcast(mu), "status_code")
    dev = {c: F.col(c) - F.col(f"mu_{c}") for c in _VIB_FEATS}
    tot = _fold_sum([dev[c] * dev[c] for c in _VIB_FEATS])
    projs = [
        _fold_sum([F.lit(a) * dev[c] for a, c in zip(axis, _VIB_FEATS)])
        for axis in _PCA_PROFILE_AXES
    ]
    agg = j.groupBy("status_code").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.round(F.avg(tot), R).alias("total_var"),
        *[
            F.round(F.avg(p * p), R).alias(f"ve_axis{i + 1}")
            for i, p in enumerate(projs)
        ],
    )
    return agg.select(
        "status_code",
        "n_windows",
        "total_var",
        "ve_axis1",
        "ve_axis2",
        "ve_axis3",
        *[
            F.round(F.col(f"ve_axis{i + 1}") / F.col("total_var"), R).alias(
                f"ve_ratio{i + 1}"
            )
            for i in range(3)
        ],
    )


def _sql_plane_literal(seed: int) -> str:
    return "[" + ", ".join(repr(x) for x in _plane(EMB_DIM, seed)) + "]"


def _sql_bucket(vec_expr: str) -> str:
    return " + ".join(
        f"(CASE WHEN list_inner_product({vec_expr}, {_sql_plane_literal(p + 1)}) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )


@register(
    "ann_lsh_bucket",
    oracle=f"""
    WITH cb AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
             {_sql_bucket("embedding::DOUBLE[]")} AS bucket
      FROM embeddings
    ), q0 AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             {_sql_bucket("embedding::DOUBLE[]")} AS bucket
      FROM embeddings WHERE vec_id < 5
    ), qb AS (
      SELECT query_id, qv,
             unnest([bucket, {", ".join(f"xor(bucket, {1 << p})" for p in range(N_PLANES))}]) AS bucket
      FROM q0
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), {R}) AS cos_sim
      FROM cb JOIN qb USING (bucket)
      WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
    doc="""ANN scale path (SURVEY.md §2.11): random-hyperplane LSH
    buckets + Hamming-1 multi-probe replace the brute-force cross join —
    candidates come from a bucket equi-join, a ~2^planes fan-in
    reduction. Hyperplanes are splitmix-hash generated (no RNG state),
    inlined into the oracle SQL as literals so DuckDB replays the exact
    bucketing; brute-force recall is proven in tests.""",
    tags=("similarity", "embedding", "lsh"),
)
def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(
        emb, emb.filter(F.col("vec_id") < 5), dim=EMB_DIM, k=5, n_planes=N_PLANES
    )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


_IVF_RANKED = """
    SELECT vec_id, v, cent_id,
           row_number() OVER (PARTITION BY vec_id
               ORDER BY round(list_cosine_similarity(v, cvec), 6) DESC, cent_id) AS rnk
    FROM e CROSS JOIN c
"""


@register(
    "ann_ivf_flat",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 16
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), assign AS (
      SELECT vec_id AS neighbor_id, v AS cv, cent_id
      FROM ({_IVF_RANKED}) WHERE rnk = 1
    ), probes AS (
      SELECT vec_id AS query_id, v AS qv, cent_id
      FROM ({_IVF_RANKED.replace("FROM e CROSS JOIN c", "FROM (SELECT * FROM e WHERE vec_id < 5) e CROSS JOIN c")})
      WHERE rnk <= 2
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), {R}) AS cos_sim
      FROM assign JOIN probes USING (cent_id)
      WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
    doc="""ANN scale path #2 (SURVEY §2.11): IVF-flat — inverted lists
    under a deterministic coarse quantizer (the 16 lowest-id vectors;
    production trains k-means and persists the index). Corpus
    assignment is map-only against inlined centroid literals (no
    shuffle); queries probe their 2 nearest lists. Fully oracle-checked:
    DuckDB recomputes the quantizer, the assignment argmax, multiprobe,
    and ranking with identical rounded-cosine tie-breaks.""",
    tags=("similarity", "embedding", "ivf"),
)
def q_ann_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_centroids=16, n_probe=2
    )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


def _sql_kmeans_ctes(k: int, iters: int, scale: int) -> tuple[str, str]:
    """DuckDB replay of operators.similarity.kmeans_quantizer: the same
    lowest-id init, rounded-cosine assignment, and fixed-point centroid
    update, unrolled over the iterations as a CTE chain. Returns
    (cte_sql, final_centroid_cte_name)."""
    sql = f"""
    WITH e AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vid AS cent_id, v AS cvec FROM e WHERE vid < {k})"""
    prev = "c0"
    for t in range(iters):
        sql += f"""
    , sc{t} AS (
      SELECT e.vid, e.v, c.cent_id,
             round(list_cosine_similarity(e.v, c.cvec), 6) AS cos
      FROM e CROSS JOIN {prev} c
    ), a{t} AS (
      SELECT vid, v, cent_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cent_id) AS rnk
        FROM sc{t}
      ) WHERE rnk = 1
    ), s{t} AS (
      SELECT cent_id, pos, sum(q) AS s, count(*) AS n
      FROM (
        SELECT cent_id,
               unnest(range(0, len(v))) AS pos,
               unnest(list_transform(v, x -> CAST(round(x * {scale}) AS BIGINT))) AS q
        FROM a{t}
      )
      GROUP BY 1, 2
    ), c{t + 1} AS (
      SELECT cent_id,
             array_agg(s / (n * {scale}.0) ORDER BY pos) AS cvec,
             max(n) AS n_assigned
      FROM s{t} GROUP BY 1
    )"""
        prev = f"c{t + 1}"
    return sql, prev


def _sql_kmeans(k: int, iters: int, scale: int) -> str:
    ctes, prev = _sql_kmeans_ctes(k, iters, scale)
    return ctes + f"""
    SELECT cent_id, CAST(pos AS INT) AS pos, round(comp, 6) AS component,
           CAST(n_assigned AS BIGINT) AS n_assigned
    FROM (SELECT cent_id, n_assigned,
                 unnest(range(0, len(cvec))) AS pos,
                 unnest(cvec) AS comp
          FROM {prev})
    """


@register(
    "kmeans_centroids",
    oracle=_sql_kmeans(k=16, iters=2, scale=1 << 20),
    doc="""Distributed Lloyd's k-means over the embedding corpus — the
    PRODUCTION coarse quantizer for IVF (ann_ivf_flat's lowest-id
    quantizer is the index-bootstrap placeholder). Fully oracle-checked
    end-to-end across 2 assign+update rounds, which iterative ML
    almost never is: init is RNG-free (k lowest-id vectors), assignment
    ranks 6dp-rounded cosines with id tiebreaks, and the centroid
    update sums components in FIXED-POINT int64 (order-insensitive —
    float sums differ per reduction order and would eventually flip a
    rounding boundary). Assignment is a broadcast join (no corpus
    shuffle); the update's map-side combine caps shuffle volume at
    k x dim rows per partition regardless of corpus size.""",
    tags=("ml", "kmeans", "embedding", "iterative"),
)
def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import kmeans_quantizer

    cents = kmeans_quantizer(load(spark, sf_dir, "embeddings"), k=16, iters=2)
    return cents.select(
        "cent_id",
        F.posexplode("cvec").alias("pos", "comp"),
        F.col("n_assigned").cast("bigint").alias("n_assigned"),
    ).select(
        "cent_id", "pos", F.round("comp", 6).alias("component"), "n_assigned"
    )


def _sql_ann_ivf_kmeans() -> str:
    """Trained-quantizer IVF replay: the kmeans CTE chain feeds the same
    assign/probe/score/rank pipeline ann_ivf_flat uses."""
    ctes, cfin = _sql_kmeans_ctes(k=16, iters=2, scale=1 << 20)
    ranked = f"""
      SELECT vid, v, cent_id,
             row_number() OVER (PARTITION BY vid
                 ORDER BY round(list_cosine_similarity(v, cvec), {R}) DESC, cent_id) AS rnk
      FROM e CROSS JOIN {cfin}
    """
    probes_ranked = ranked.replace(
        f"FROM e CROSS JOIN {cfin}",
        f"FROM (SELECT * FROM e WHERE vid < 5) e CROSS JOIN {cfin}",
    )
    return ctes + f"""
    , assign AS (
      SELECT vid AS neighbor_id, v AS cv, cent_id FROM ({ranked}) WHERE rnk = 1
    ), probes AS (
      SELECT vid AS query_id, v AS qv, cent_id FROM ({probes_ranked}) WHERE rnk <= 2
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), {R}) AS cos_sim
      FROM assign JOIN probes USING (cent_id)
      WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """


@register(
    "ann_ivf_kmeans",
    oracle=_sql_ann_ivf_kmeans(),
    doc="""IVF ANN under the TRAINED k-means quantizer — the production
    index shape end-to-end: Lloyd's training (2 rounds, fixed-point
    updates), map-only corpus assignment against the trained centroid
    literals (16-row bounded collect, same pattern as ann_ivf_flat),
    2-list multiprobe, rounded-cosine ranking. The oracle replays
    EVERYTHING — quantizer training included — in one CTE chain, so the
    whole index lifecycle is hash-checked, not just the search.""",
    tags=("similarity", "embedding", "ivf", "kmeans"),
)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import kmeans_quantizer

    emb = load(spark, sf_dir, "embeddings")
    cents = kmeans_quantizer(emb, k=16, iters=2)
    out = ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=2,
        centroids=cents.select("cent_id", "cvec"),
    )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


NEARDUP_THRESHOLD = 0.4  # synthetic corpus has no true dups; 0.4 keeps the tail


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_sql_bucket("embedding::DOUBLE[]")} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_cosine_similarity(a.v, c.v), {R}) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round(list_cosine_similarity(a.v, c.v), {R}) >= {NEARDUP_THRESHOLD}
    """,
    doc="""Embedding-cosine near-dup detection (SURVEY.md §2.11 dedup
    family): LSH bucket equi self-join generates candidate pairs (never
    a cross join), exact cosine verifies. Same inlined-hyperplane oracle
    replay as ann_lsh_bucket. Threshold 0.4 because the synthetic corpus
    plants no true duplicates (max same-bucket cosine ~0.49); planted
    near-dup recall is proven in tests/test_spectral.py.""",
    tags=("dedup", "embedding", "lsh"),
)
def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(
        emb, dim=EMB_DIM, threshold=NEARDUP_THRESHOLD, n_planes=N_PLANES
    )


@register(
    "embedding_dedup_assignment",
    oracle=f"""
    WITH RECURSIVE b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_sql_bucket("embedding::DOUBLE[]")} AS bucket
      FROM embeddings
    ), edges AS (
      SELECT a.vec_id AS s, c.vec_id AS d
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE round(list_cosine_similarity(a.v, c.v), {R}) >= {NEARDUP_THRESHOLD}
    ), esym AS (
      SELECT s, d FROM edges UNION ALL SELECT d, s FROM edges
    ), closure AS (
      SELECT vec_id AS a, vec_id AS b FROM embeddings
      UNION
      SELECT c.a, e.d FROM closure c JOIN esym e ON c.b = e.s
    )
    SELECT a AS vec_id, min(b) AS canonical_id FROM closure GROUP BY a
    """,
    doc="""Semantic dedup end-to-end (SURVEY §2.11 dedup family — the
    embedding-space sibling of dedup_corpus_assignment): LSH-bucket
    cosine edges -> connected components -> canonical id per vector,
    transitive merges included (paraphrase chains a~b~c where a!~c —
    invisible to textual MinHash when wording fully diverges). The
    DuckDB replay is a recursive-CTE transitive closure over the same
    inlined-hyperplane bucket edges, so the whole pipeline is
    hash-checked. Component rounds iterate over edge endpoints only;
    auto min-label/star fallback as in dedup_corpus.""",
    tags=("dedup", "embedding", "lsh", "components", "pipeline"),
)
def q_embedding_dedup_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import embedding_dedup

    emb = load(spark, sf_dir, "embeddings")
    return embedding_dedup(
        emb, dim=EMB_DIM, threshold=NEARDUP_THRESHOLD, n_planes=N_PLANES
    )


# --- ANN quality audit --------------------------------------------------------

_SQL_BF_TOP5 = f"""
    bfq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 5),
    bfc AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    bf_scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), {R}) AS cos_sim
      FROM bfc, bfq WHERE neighbor_id != query_id
    ),
    bf AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS rnk
            FROM bf_scored)
      WHERE rnk <= 5
    )
"""


@register(
    "ann_recall_at_k",
    oracle=f"""
    WITH {_SQL_BF_TOP5},
    cb AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
             {_sql_bucket("embedding::DOUBLE[]")} AS bucket
      FROM embeddings
    ), q0 AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             {_sql_bucket("embedding::DOUBLE[]")} AS bucket
      FROM embeddings WHERE vec_id < 5
    ), qb AS (
      SELECT query_id, qv,
             unnest([bucket, {", ".join(f"xor(bucket, {1 << p})" for p in range(N_PLANES))}]) AS bucket
      FROM q0
    ), lsh_scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), {R}) AS cos_sim
      FROM cb JOIN qb USING (bucket)
      WHERE neighbor_id != query_id
    ), lsh AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS rnk
            FROM lsh_scored)
      WHERE rnk <= 5
    )
    SELECT bf.query_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), {R}) AS recall_at_k
    FROM bf LEFT JOIN lsh
      ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
    GROUP BY 1
    """,
    doc="""ANN recall@k audit (SURVEY §2.11 similarity QA — 'measure,
    don't guess' for the approximate path): per query, how many of the
    exact brute-force cosine top-5 the LSH-bucket+multiprobe variant
    recovers. This is the number an operator owner watches when tuning
    n_planes/multiprobe before trusting LSH at 100 TB; the exact side
    is the documented bounded baseline (broadcast query set, one corpus
    scan), the approximate side is the production bucket equi-join, and
    the comparison itself is a tiny (5 x k)-row join. Both sides reuse
    the registered operators — deterministic hyperplanes inlined into
    the oracle so DuckDB replays bucketing, multiprobe, ranking, and
    the recall arithmetic exactly.""",
    tags=("similarity", "embedding", "lsh", "quality"),
)
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, qs, k=5).select("query_id", "neighbor_id")
    approx = (
        lsh_bucket_topk(emb, qs, dim=EMB_DIM, k=5, n_planes=N_PLANES)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        # approx side is k x |queries| rows — broadcast it so the recall
        # join never shuffles (an SMJ on two tiny top-k frames)
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) * F.lit(1.0) / F.count(F.lit(1)),
                R,
            ).alias("recall_at_k"),
        )
    )


@register(
    "dominant_frequency_verified",
    oracle=f"""
    {_SQL_CAPPED_WINDOW}, sz AS (
      SELECT d, event_type, count(*) AS N
      FROM r WHERE rn <= {SPECTRAL_MAX_SAMPLES}
      GROUP BY 1, 2
      HAVING count(*) > 2
    ), m AS (
      SELECT r.d, r.event_type, sz.N, k.k,
             sqrt(pow(sum(value * cos(2 * pi() * k.k * (rn - 1) / sz.N)), 2)
                + pow(sum(value * sin(2 * pi() * k.k * (rn - 1) / sz.N)), 2))
               AS mag
      FROM r
      JOIN sz ON sz.d = r.d AND sz.event_type = r.event_type
      CROSS JOIN (SELECT unnest(range(1, 33)) AS k) k
      WHERE rn <= {SPECTRAL_MAX_SAMPLES} AND k.k <= least(32, (sz.N - 1) // 2)
      GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(d AS TIMESTAMP) AS window_start,
           event_type           AS status_code,
           CAST(N AS BIGINT)    AS n_samples,
           CAST(k AS INT)       AS dominant_bin,
           mag2                 AS dominant_mag
    FROM (
      SELECT d, event_type, N, k, round(mag, 2) AS mag2,
             row_number() OVER (PARTITION BY d, event_type
                                ORDER BY round(mag, 2) DESC, k) AS rnk
      FROM m
    ) WHERE rnk = 1
    """,
    doc=f"""A6 dominant frequency, ORACLE-VERIFIED (the companion to the
    rows-only full-resolution form): Spark runs the FULL numpy rfft per
    capped window and takes the argmax over bins 1..32; DuckDB replays
    those same 32 magnitudes by DIRECT DFT — sqrt((sum v*cos(2*pi*k*n/N))^2
    + (sum v*sin(...))^2) via a 32-row range join — and ranks them
    identically (2dp-rounded magnitude, lowest-bin tiebreak). A hash
    match is an FFT-vs-naive-DFT differential: it proves the engine's
    FFT windowing, ordering, cap ({SPECTRAL_MAX_SAMPLES}), and bin
    conventions end-to-end, not just row counts — the same move that
    made spectral_energy verifiable via Parseval. The bin range adapts
    to the window: k runs 1..min(32, (N-1)//2), so every emitted bin is
    strictly below Nyquist at ANY window size and the sf0.001 smoke
    (2-15 samples/window) still yields rows instead of vacuating. The
    full-resolution argmax (all N/2 bins) remains 'dominant_frequency'
    (rows-only): a SQL replay of thousands of bins per window would be
    O(N * bins) in the oracle, and 32 low bins already pin the
    conventions.""",
    tags=("spectral", "pandas_udf", "window"),
)
def q_dominant_frequency_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.spectral import dft_bin_magnitudes

    w = _windowed_samples(spark, sf_dir)
    mags = dft_bin_magnitudes("vals")
    ranked = F.transform(
        mags,
        lambda m, i: F.struct(
            F.round(m, 2).alias("mag"), (-(i + F.lit(1))).cast("int").alias("negbin")
        ),
    )
    best = F.array_max(ranked)  # lexicographic: max mag, then min bin
    return (
        w.filter(F.size("vals") > 2)
        .select(
            "window_start",
            "status_code",
            F.size("vals").cast("long").alias("n_samples"),
            best.alias("b"),
        )
        .select(
            "window_start",
            "status_code",
            "n_samples",
            (-F.col("b.negbin")).cast("int").alias("dominant_bin"),
            F.col("b.mag").alias("dominant_mag"),
        )
    )


@register(
    "ivf_recall_at_k",
    oracle=f"""
    WITH {_SQL_BF_TOP5},
    c AS (
      SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 16
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), assign AS (
      SELECT vec_id AS neighbor_id, v AS cv, cent_id
      FROM ({_IVF_RANKED}) WHERE rnk = 1
    ), probes AS (
      SELECT vec_id AS query_id, v AS qv, cent_id
      FROM ({_IVF_RANKED.replace("FROM e CROSS JOIN c", "FROM (SELECT * FROM e WHERE vec_id < 5) e CROSS JOIN c")})
      WHERE rnk <= 2
    ), ivf_scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), {R}) AS cos_sim
      FROM assign JOIN probes USING (cent_id)
      WHERE neighbor_id != query_id
    ), ivf AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS rnk
            FROM ivf_scored)
      WHERE rnk <= 5
    )
    SELECT bf.query_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), {R}) AS recall_at_k
    FROM bf LEFT JOIN ivf
      ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
    GROUP BY 1
    """,
    doc="""ANN recall@k for the IVF-flat index — the companion of
    ann_recall_at_k (LSH): per query, how many of the exact brute-force
    top-5 the 16-list/2-probe IVF recovers. Together the two recall
    audits let an operator owner choose between the index families with
    measured numbers instead of folklore; both sides replay in one
    oracle CTE chain, and the tiny top-k comparison join is broadcast.""",
    tags=("similarity", "embedding", "ivf", "quality"),
)
def q_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, qs, k=5).select("query_id", "neighbor_id")
    approx = (
        ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=2)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) * F.lit(1.0) / F.count(F.lit(1)),
                R,
            ).alias("recall_at_k"),
        )
    )


# --- product quantization ----------------------------------------------------


def _sql_pq_ctes(
    m: int,
    k: int,
    iters: int,
    width: int,
    scale: int,
    prelude: str = "",
    source: str = "SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings",
) -> tuple[str, str]:
    """DuckDB replay of operators.similarity.pq_codebooks: per-subspace
    lowest-id init, rounded-L2sq argmin assignment with centroid-id
    tiebreak, fixed-point centroid update. Returns (cte_sql,
    final_codebook_cte) for reuse by the distortion profile AND the ADC
    top-k replay. ``source`` supplies the (vid, v) frame the codebooks
    train on; ``prelude`` inserts leading CTEs before it (the IVF-PQ
    residual replay trains on residuals computed in a prelude) — the
    defaults generate byte-identical SQL to the pre-parameter form, so
    the registered pq_* oracles are unchanged."""
    slices = ", ".join(f"v[{s * width + 1}:{(s + 1) * width}]" for s in range(m))
    subspaces = ", ".join(str(s) for s in range(m))
    l2 = ("list_aggregate(list_transform(range(1, len(a.v) + 1), "
          "i -> (a.v[i] - c.cvec[i]) * (a.v[i] - c.cvec[i])), 'sum')")
    sql = f"""
    WITH {prelude}e AS ({source}),
    sub AS (
      SELECT vid, unnest([{subspaces}]) AS s, unnest([{slices}]) AS v FROM e
    ),
    c0 AS (SELECT s, vid AS cent_id, v AS cvec FROM sub WHERE vid < {k})"""
    prev = "c0"
    for t in range(iters):
        sql += f"""
    , sc{t} AS (
      SELECT a.s, a.vid, a.v, c.cent_id,
             round({l2}, 6) AS dist
      FROM sub a JOIN {prev} c USING (s)
    ), a{t} AS (
      SELECT s, vid, v, cent_id FROM (
        SELECT *, row_number() OVER (PARTITION BY s, vid
                                     ORDER BY dist, cent_id) AS rnk
        FROM sc{t}
      ) WHERE rnk = 1
    ), s{t} AS (
      SELECT s, cent_id, pos, sum(q) AS sm, count(*) AS n
      FROM (
        SELECT s, cent_id,
               unnest(range(0, len(v))) AS pos,
               unnest(list_transform(v, x -> CAST(round(x * {scale}) AS BIGINT))) AS q
        FROM a{t}
      )
      GROUP BY 1, 2, 3
    ), c{t + 1} AS (
      SELECT s, cent_id,
             array_agg(sm / (n * {scale}.0) ORDER BY pos) AS cvec
      FROM s{t} GROUP BY 1, 2
    )"""
        prev = f"c{t + 1}"
    return sql, prev


def _sql_pq(m: int, k: int, iters: int, width: int, scale: int) -> str:
    """Distortion-profile replay: codebook CTEs + a final encode pass
    whose 6dp distances average in int64 micro-units."""
    sql, prev = _sql_pq_ctes(m, k, iters, width, scale)
    l2 = ("list_aggregate(list_transform(range(1, len(a.v) + 1), "
          "i -> (a.v[i] - c.cvec[i]) * (a.v[i] - c.cvec[i])), 'sum')")
    sql += f"""
    , enc AS (
      SELECT s, vid, cent_id,
             CAST(round(dist * 1000000) AS BIGINT) AS err_fp
      FROM (
        SELECT a.s, a.vid, c.cent_id,
               round({l2}, 6) AS dist,
               row_number() OVER (PARTITION BY a.s, a.vid
                                  ORDER BY round({l2}, 6), c.cent_id) AS rnk
        FROM sub a JOIN {prev} c USING (s)
      ) WHERE rnk = 1
    )
    SELECT CAST(s AS INT) AS s, CAST(cent_id AS BIGINT) AS cent_id,
           CAST(count(*) AS BIGINT) AS n_assigned,
           round(sum(err_fp) / (count(*) * 1000000.0), 6) AS avg_sq_error
    FROM enc GROUP BY 1, 2
    """
    return sql


@register(
    "pq_distortion_profile",
    oracle=_sql_pq(m=4, k=8, iters=2, width=16, scale=1 << 20),
    doc="""Product-quantization codebook training + corpus encoding
    (Jegou et al. 2011 — the compression layer of IVF-PQ, the standard
    billion-scale ANN index): 64-dim embeddings split into 4 subspaces
    of 16 dims, each training its own 8-centroid codebook with the
    deterministic fixed-point Lloyd's machinery (lowest-id init,
    6dp-rounded squared-L2 argmin, int64 component sums), then the
    corpus encodes against the final codebooks and reports per
    (subspace, centroid) the assigned count and mean squared
    quantization error — the distortion curve that tunes m/k before a
    production index commits. All m trainings run in ONE plan: the
    subvector explode is a map-only 4x, assignment is a broadcast join
    on the subspace key, updates shuffle map-side-combined (s, cent,
    dim) partial sums; error means are fixed-point so both engines
    aggregate order-insensitively. 100 TB: a 4-byte code replaces a
    256-byte vector — the factor that fits a corpus-scale index in
    executor memory.""",
    tags=("ml", "ann", "pq", "embedding", "iterative"),
)
def q_pq_distortion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import pq_distortion_profile

    return pq_distortion_profile(
        load(spark, sf_dir, "embeddings"), dim=64, m=4, k=8, iters=2
    ).select("s", "cent_id", "n_assigned", "avg_sq_error")


def _sql_pq_adc_recall() -> str:
    """ADC recall replay: codebook CTEs -> encode -> per-subspace
    fixed-point ADC sums -> approx top-5, against the exact full-vector
    L2 top-5."""
    ctes, prev = _sql_pq_ctes(m=4, k=8, iters=2, width=16, scale=1 << 20)
    l2 = ("list_aggregate(list_transform(range(1, len(a.v) + 1), "
          "i -> (a.v[i] - c.cvec[i]) * (a.v[i] - c.cvec[i])), 'sum')")
    l2q = ("list_aggregate(list_transform(range(1, len(q.v) + 1), "
           "i -> (q.v[i] - c.cvec[i]) * (q.v[i] - c.cvec[i])), 'sum')")
    l2full = ("list_aggregate(list_transform(range(1, len(q.fv) + 1), "
              "i -> (q.fv[i] - e.v[i]) * (q.fv[i] - e.v[i])), 'sum')")
    return ctes + f"""
    , codes AS (
      SELECT nid, s, cent_id FROM (
        SELECT a.vid AS nid, a.s, c.cent_id,
               row_number() OVER (PARTITION BY a.s, a.vid
                                  ORDER BY round({l2}, 6), c.cent_id) AS rnk
        FROM sub a JOIN {prev} c USING (s)
      ) WHERE rnk = 1
    ), qsub AS (
      SELECT vid AS query_id, s, v FROM sub WHERE vid < 5
    ), pair AS (
      SELECT q.query_id, codes.nid AS neighbor_id,
             CAST(round(round({l2q}, 6) * 1000000) AS BIGINT) AS fp
      FROM codes
      JOIN {prev} c ON c.s = codes.s AND c.cent_id = codes.cent_id
      JOIN qsub q ON q.s = codes.s
      WHERE codes.nid != q.query_id
    ), approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, sum(fp) AS adc_fp,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sum(fp), neighbor_id) AS rnk
        FROM pair GROUP BY 1, 2
      ) WHERE rnk <= 5
    ), qfull AS (SELECT vid AS query_id, v AS fv FROM e WHERE vid < 5),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vid AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY round({l2full}, 6), e.vid) AS rnk
        FROM qfull q JOIN e ON e.vid != q.query_id
      ) WHERE rnk <= 5
    )
    SELECT exact.query_id,
           CAST(count(approx.neighbor_id) AS INT) AS n_hits,
           round(count(approx.neighbor_id) / 5.0, 6) AS recall
    FROM exact
    LEFT JOIN approx ON approx.query_id = exact.query_id
                    AND approx.neighbor_id = exact.neighbor_id
    GROUP BY 1
    """


@register(
    "pq_adc_recall_at_k",
    oracle=_sql_pq_adc_recall(),
    doc="""Recall@5 of PQ asymmetric-distance top-k against the exact
    full-vector L2 top-k — the accuracy half of the IVF-PQ tradeoff
    (pq_distortion_profile is the compression half): the ADC scan ranks
    neighbors from 3-bit-per-subspace codes alone, never touching the
    original vectors, and this audit quantifies what that compression
    costs in neighbor fidelity, per query. Encode is a broadcast join +
    min_by hash aggregate (map-side partial collapse, no sort shuffle);
    per-subspace ADC distances are 6dp-rounded then int64-fixed-pointed
    so cross-subspace sums are reduction-order-insensitive; both the
    approx and exact sides replay in SQL. The exact side's |q| x corpus
    scan is the audit's cost, not the index's — production audits a
    query SAMPLE exactly as here.""",
    tags=("ml", "ann", "pq", "embedding", "audit"),
)
def q_pq_adc_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.vectors import l2_sq
    from datapipeline_spike_spark.operators.similarity import pq_adc_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = pq_adc_topk(emb, queries, dim=64, m=4, k_codebook=8, iters=2, k=5)

    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("fv"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    exact = (
        cv.crossJoin(F.broadcast(qv))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(l2_sq(F.col("fv"), F.col("cv")), 6).alias("dist"),
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


@register(
    "sq8_recall_at_k",
    oracle=f"""
    WITH mm AS (
      SELECT i, min(v) AS mn, max(v) AS mx
      FROM (SELECT unnest(embedding::DOUBLE[]) AS v,
                   unnest(range(1, {EMB_DIM} + 1)) AS i
            FROM embeddings)
      GROUP BY 1
    ),
    codes AS (
      SELECT vec_id,
             list(CASE WHEN mx = mn THEN 0
                       ELSE CAST(round(((v - mn) * 255.0) / (mx - mn)) AS INT)
                  END ORDER BY i) AS code
      FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
                   unnest(range(1, {EMB_DIM} + 1)) AS i
            FROM embeddings)
      JOIN mm USING (i)
      GROUP BY 1
    ),
    sq_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_aggregate(list_transform(range(1, {EMB_DIM} + 1),
               i -> CAST((q.code[i] - c.code[i]) AS BIGINT)
                    * (q.code[i] - c.code[i])), 'sum') AS d2
      FROM codes c JOIN codes q ON q.vec_id < 5 AND c.vec_id != q.vec_id
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, neighbor_id) AS rnk
        FROM sq_scored
      ) WHERE rnk <= 5
    ),
    qfull AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS fv
              FROM embeddings WHERE vec_id < 5),
    efull AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS cv FROM embeddings),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vid AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_aggregate(list_transform(
                   range(1, {EMB_DIM} + 1),
                   i -> (q.fv[i] - e.cv[i]) * (q.fv[i] - e.cv[i])), 'sum'), {R}),
                 e.vid) AS rnk
        FROM qfull q JOIN efull e ON e.vid != q.query_id
      ) WHERE rnk <= 5
    )
    SELECT exact.query_id,
           CAST(count(approx.neighbor_id) AS INT) AS n_hits,
           round(count(approx.neighbor_id) / 5.0, {R}) AS recall
    FROM exact
    LEFT JOIN approx ON approx.query_id = exact.query_id
                    AND approx.neighbor_id = exact.neighbor_id
    GROUP BY 1
    """,
    doc="""Recall@5 of int8 SCALAR quantization (SQ8) against the exact
    full-vector L2 top-5 (r7 — the 4x-compression tier between brute
    force and PQ, completing the index-family audit set next to
    ann_recall_at_k / ivf_recall_at_k / pq_adc_recall_at_k): a
    per-dimension [min, max] grid derives in-plan (ONE 1-row broadcast
    aggregate), every vector linearly encodes to 64 uint8 codes, and
    neighbors rank by INTEGER squared-L2 over the codes — exact int64
    arithmetic, so the approximate ranking is bit-identical in both
    engines and float enters only the exact baseline (6dp-rounded, the
    established pattern). At 100 TB the codes are the materialized
    index: 64 B/vector vs 256 B float32, a 4x scan-byte reduction with
    near-unity recall — this audit MEASURES that recall instead of
    assuming it.""",
    tags=("ml", "ann", "sq8", "embedding", "audit"),
)
def q_sq8_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.functions.vectors import l2_sq
    from datapipeline_spike_spark.operators.similarity import sq8_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = sq8_topk(emb, queries, dim=EMB_DIM, k=5)

    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("fv"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    exact = (
        cv.crossJoin(F.broadcast(qv))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(l2_sq(F.col("fv"), F.col("cv")), R).alias("dist"),
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
        F.round(F.count("hit") / 5.0, R).alias("recall"),
    )


def _sql_cluster_balanced_sample() -> str:
    """kmeans chain -> argmax assignment -> per-cluster bottom-8 md5
    reservoir."""
    ctes, cfin = _sql_kmeans_ctes(k=16, iters=2, scale=1 << 20)
    return ctes + f"""
    , asg AS (
      SELECT vid, cent_id FROM (
        SELECT e.vid, c.cent_id,
               row_number() OVER (PARTITION BY e.vid
                   ORDER BY round(list_cosine_similarity(e.v, c.cvec), {R}) DESC,
                            c.cent_id) AS rnk
        FROM e CROSS JOIN {cfin} c
      ) WHERE rnk = 1
    )
    SELECT vid AS vec_id,
           CAST(cent_id AS BIGINT) AS cent_id,
           CAST(samp_rank AS INT) AS samp_rank
    FROM (
      SELECT vid, cent_id,
             row_number() OVER (PARTITION BY cent_id
                 ORDER BY md5(CAST(vid AS VARCHAR)), vid) AS samp_rank
      FROM asg
    ) WHERE samp_rank <= 8
    """


@register(
    "cluster_balanced_sample",
    oracle=_sql_cluster_balanced_sample(),
    doc="""Diversity-balanced sampling (r7 — the topic-balancing step
    of training-data curation): k-means clusters the embedding space
    (the oracle replays Lloyd's training itself), every vector assigns
    to its cluster map-only against the broadcast-literal trained
    centroids, and each cluster contributes its 8 LOWEST-md5-keyed
    vectors — a deterministic bottom-k reservoir, so reruns and
    backfills reproduce the identical sample and a dominant topic
    cannot crowd out the tail. Shape: one bounded k-row centroid
    collect, map-only assignment, one |clusters|-keyed window. The
    standard embedding-space curation move (cluster-then-budget) with
    every stage hash-checked.""",
    tags=("ml", "embedding", "sampling", "kmeans"),
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import cluster_balanced_sample

    return cluster_balanced_sample(
        load(spark, sf_dir, "embeddings"), k=16, iters=2, per_cluster=8
    )


_SEMDEDUP_THRESHOLD = 0.35  # same rationale as NEARDUP_THRESHOLD: the
# synthetic corpus plants no true semantic dups (within-cluster max
# cosine ~0.51 at sf0.01); 0.35 keeps the tail so the keep/drop split is
# non-trivial in BOTH engines. Planted-dup removal is proven in tests.


def _sql_semdedup() -> str:
    """kmeans chain -> argmax assignment -> within-cluster lower-id
    near-dup sweep (the semdedup operator, replayed end-to-end)."""
    ctes, cfin = _sql_kmeans_ctes(k=16, iters=2, scale=1 << 20)
    return ctes + f"""
    , asg AS (
      SELECT vid, v, cent_id FROM (
        SELECT e.vid, e.v, c.cent_id,
               row_number() OVER (PARTITION BY e.vid
                   ORDER BY round(list_cosine_similarity(e.v, c.cvec), {R}) DESC,
                            c.cent_id) AS rnk
        FROM e CROSS JOIN {cfin} c
      ) WHERE rnk = 1
    ), dup AS (
      SELECT a.vid AS ida, min(b.vid) AS dup_of
      FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND b.vid < a.vid
      WHERE round(list_cosine_similarity(a.v, b.v), {R}) >= {_SEMDEDUP_THRESHOLD}
      GROUP BY 1
    )
    SELECT asg.vid AS vec_id,
           CAST(asg.cent_id AS BIGINT) AS cent_id,
           CAST(dup.dup_of AS BIGINT) AS dup_of,
           dup.dup_of IS NULL AS kept
    FROM asg LEFT JOIN dup ON asg.vid = dup.ida
    """


@register(
    "semdedup_assignment",
    oracle=_sql_semdedup(),
    doc="""SemDeDup semantic dedup (r7 — Abbas et al. 2023, the
    embedding-space dedup stage LLM pipelines run AFTER textual dedup:
    paraphrases and re-renderings share no n-grams but sit together in
    embedding space): k-means clusters the corpus (the oracle replays
    Lloyd's training itself), and within each cluster a vector is
    dropped when its 6dp-rounded cosine to any LOWER-id cluster-mate
    reaches 0.35 — the deterministic, rerun-stable variant of the
    paper's greedy keep-one-per-neighborhood. Output carries every
    vector with (cluster, dup_of, kept), so the downstream filter is
    one predicate. Scale: similarity only ever computed within a
    cluster — the quadratic term is (n/k)^2 * k with k the published
    scale lever (the paper runs k=50k on LAION); pair generation is a
    cent_id shuffle equi-join (AQE-splittable), never an in-row pair
    array.""",
    tags=("ml", "embedding", "dedup", "kmeans", "semdedup"),
)
def q_semdedup_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import semdedup

    return semdedup(
        load(spark, sf_dir, "embeddings"),
        k=16,
        iters=2,
        threshold=_SEMDEDUP_THRESHOLD,
    )


# --- contrastive hard-negative mining ----------------------------------------

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


# --- binary (1-bit) Hamming ANN recall audit ---------------------------------

_HAM_BITS = 62
_HAM_WORD = 31
_HAM_M = 50


def _sql_sign_word(bit_seeds: list[int]) -> str:
    terms = []
    for j, seed in enumerate(bit_seeds):
        arr = "[" + ", ".join(repr(float(x)) for x in _plane(64, seed)) + "]"
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


# --- Johnson-Lindenstrauss random projection ---------------------------------

_JL_K = 8


def _sql_jl_comp(j: int) -> str:
    signs = "[" + ", ".join(
        "1.0" if x >= 0 else "-1.0" for x in _plane(64, 401 + j)
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


# --- embedding centroid drift between snapshots ------------------------------


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


# --- k-occurrence hubness profile --------------------------------------------


def _sql_hubness() -> str:
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


# --- IVF-PQ recall audit -----------------------------------------------------

# ivfpq_topk registers in its RECALL-AUDIT form (the pq_adc/ivf/sq8/
# hamming recall_at_k precedent): per-query recall@5 of the IVF-PQ probe
# scan against the exact full-vector L2 top-5, so the registered number
# quantifies what the coarse prune + residual compression cost in
# neighbor fidelity — the index is only worth running when that number
# is known.
_IVFPQ_K = 5


def _sql_ivfpq_adc(m=4, k_cb=8, iters=2, width=16, scale=1 << 20,
                   n_centroids=16, n_probe=2) -> str:
    """DuckDB replay of operators.similarity.ivfpq_topk up to the
    per-(query, neighbor) ADC distance CTE ``adc``: coarse lowest-id
    centroids -> rounded-L2 argmin assignment -> residuals -> the
    SHARED fixed-point PQ Lloyd's chain (_sql_pq_ctes
    trained on the residual prelude) -> min_by encode -> probed ADC.
    tests/test_r11_staging.py::test_ivfpq_matches_duckdb pins the top-k form;
    the registered oracle composes the recall tail onto this chain."""
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


# --- matryoshka truncation recall --------------------------------------------


@register(
    "matryoshka_recall_at_k",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          FROM embeddings),
    bf AS (
      SELECT query_id, neighbor_id
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                              neighbor_id) AS rnk
            FROM c, q WHERE neighbor_id != query_id)
      WHERE rnk <= 5
    ),
    ms AS (SELECT CAST(unnest([8, 16]) AS INTEGER) AS m),
    tr AS (
      SELECT m, query_id, neighbor_id
      FROM (SELECT ms.m, query_id, neighbor_id,
                   row_number() OVER (PARTITION BY ms.m, query_id
                     ORDER BY round(list_cosine_similarity(
                         list_slice(qv, 1, ms.m),
                         list_slice(cv, 1, ms.m)), 6) DESC,
                              neighbor_id) AS rnk
            FROM c, q, ms WHERE neighbor_id != query_id)
      WHERE rnk <= 5
    )
    SELECT ms.m AS m_dims, bf.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS recall_at_k
    FROM bf CROSS JOIN ms
    LEFT JOIN tr ON tr.m = ms.m AND tr.query_id = bf.query_id
                AND tr.neighbor_id = bf.neighbor_id
    GROUP BY 1, 2
    """,
    doc="""operators/similarity.matryoshka_recall (staged r14 wave 2,
    registered r16; Kusupati 2022 MRL): recall@5 of exact cosine
    search over PREFIX-truncated embeddings (widths 8 and 16) vs the
    full-width exact top-5 — the truncated-index-tier audit, the
    dimension-axis sibling of ann_recall_at_k. Truncation is a JVM
    slice() (no UDF); both sides reuse brute_force_topk's
    rounded-score + id tie-break ranking. Scale shape: the vec_id < 5
    query set is the bounded broadcast side on every corpus scan
    (house ANN-audit contract, BNLJ_OK); the full-width top-k frame is
    LAZY-localCheckpointed (k x |queries| rows) and serves every
    per-width branch; the recall join is top-k x top-k. Plan pin: no
    SortMergeJoin, no cartesian, partitioned windows only.""",
    tags=("similarity", "ann", "matryoshka", "staged-r14-wave2"),
)
def q_matryoshka_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import (
        matryoshka_recall,
    )

    emb = load(spark, sf_dir, "embeddings")
    return matryoshka_recall(
        emb, emb.filter(F.col("vec_id") < 5), k=5, dims=(8, 16)
    )


# --- hybrid RRF retrieval ----------------------------------------------------


@register(
    "hybrid_rrf_retrieval",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          FROM embeddings),
    full_r AS (
      SELECT query_id, neighbor_id, rnk AS rank
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                              neighbor_id) AS rnk
            FROM c, q WHERE neighbor_id != query_id)
      WHERE rnk <= 10
    ),
    tr AS (
      SELECT query_id, neighbor_id, rnk AS rank
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(list_cosine_similarity(
                         list_slice(qv, 1, 8), list_slice(cv, 1, 8)), 6)
                       DESC, neighbor_id) AS rnk
            FROM c, q WHERE neighbor_id != query_id)
      WHERE rnk <= 10
    ),
    u AS (SELECT * FROM full_r UNION ALL SELECT * FROM tr),
    fused AS (
      SELECT query_id, neighbor_id,
             CAST(count(*) AS BIGINT) AS n_systems,
             round(sum(1.0 / (60 + rank)), 6) AS rrf_score
      FROM u GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, n_systems, rrf_score,
           CAST(fr AS BIGINT) AS fused_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rrf_score DESC, neighbor_id) AS fr FROM fused)
    WHERE fr <= 5
    """,
    doc="""operators/similarity.hybrid_rrf_retrieval (staged r14
    wave 6, registered r17; Cormack 2009 reciprocal-rank fusion): the
    fuser hybrid retrieval stacks actually ship — per-system top-k
    lists (here the cheap 8-dim Matryoshka prefix retriever fused with
    the exact full-width path, both reusing brute_force_topk) merge by
    sum(1 / (60 + rank)), consensus-beats-single-system by
    construction (staging property: 1/61 + 1/62 > 1/61). Scale shape:
    rrf_fuse runs on BOUNDED per-system top-k frames — one unionAll,
    one keyed aggregate, one PARTITIONED rank window; the retriever
    scans broadcast the vec_id < 5 query set (house ANN-audit
    contract, two BNLJ_OK baselines measured at r16 staging); no
    shuffled joins anywhere.""",
    tags=("similarity", "ann", "rrf", "hybrid", "staged-r14-wave6"),
)
def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import (
        hybrid_rrf_retrieval,
    )

    emb = load(spark, sf_dir, "embeddings")
    return hybrid_rrf_retrieval(emb, emb.filter(F.col("vec_id") < 5))


# --- corpus-wide kNN graph ---------------------------------------------------

# over the embeddings table as-is (dim=64, k=5): the auto-plane LSH
# bucketing keeps in-bucket candidate work ~n * target_bucket at any
# corpus size
SQL_KNN_GRAPH = f"""
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
      SELECT a.vec_id AS src_id, c.vec_id AS dst_id,
             round(list_cosine_similarity(a.ev, c.ev), 6) AS cos_sim
      FROM v a JOIN v c USING (bucket)
      WHERE a.vec_id != c.vec_id
    ),
    edges AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                     ORDER BY cos_sim DESC, dst_id) AS rank FROM scored)
      WHERE rank <= 5
    )
    SELECT e.src_id, e.dst_id, e.cos_sim, CAST(e.rank AS INT) AS rank,
           (r.src_id IS NOT NULL) AS is_mutual
    FROM edges e LEFT JOIN edges r
      ON r.src_id = e.dst_id AND r.dst_id = e.src_id
"""


@register(
    "knn_graph_edges",
    oracle=SQL_KNN_GRAPH,
    doc="""operators/similarity.knn_graph_edges over embeddings
    (staged r17 wave 8, registered r18; Dong 2011 NN-Descent / Abbas
    2023 SemDeDup substrate): EVERY corpus vector's k=5 most-similar
    same-LSH-bucket candidates by 6dp cosine with id tie-break, plus
    is_mutual (whether the reverse edge made the neighbor's own top-k
    — the edge set graph clustering actually keeps; one-directional
    edges are the hubness symptom). Scale shape: auto-plane sign-LSH
    bucket equi-join (expected bucket ~64 rows at any corpus size, so
    in-bucket work stays ~n*64, never n²); norms precomputed at ROW
    grain (the r10 3x lesson); the rank window is PARTITIONED by
    src_id (WindowGroupLimit bounds the shuffle to k rows per src);
    mutuality is ONE self-equi-join of the persisted k*n edge frame on
    the reversed key. The 1-row corpus-count cross rides the
    hard_negative_pairs BNLJ_OK precedent.""",
    tags=("similarity", "ann", "graph", "staged-r17-wave8"),
)
def q_knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipeline_spike_spark.operators.similarity import knn_graph_edges

    return knn_graph_edges(load(spark, sf_dir, "embeddings"), dim=64, k=5)
