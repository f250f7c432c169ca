"""Similarity search over embedding columns (SURVEY.md §2.11).

Two strategies:

- ``brute_force_topk``: exact cosine top-k of a SMALL query set against
  the full corpus. The query side is broadcast; the corpus is scanned
  once, map-side, and per-query top-k is a window over (query, rounded
  score). Scales linearly in corpus size x |queries| — the right
  baseline up to a few hundred queries at 100 TB.
- ``lsh_bucket_topk``: the scale path — random-hyperplane LSH buckets
  (sign of dot with R fixed pseudo-random planes); candidates are only
  corpus rows sharing the query's bucket (plus optional multi-probe).
  Turns the scan into a bucket-pruned lookup, trading recall for a
  ~2^n_planes fan-in reduction.

Dot products use JVM-side higher-order functions (zip_with/aggregate),
not Python UDFs. A Pandas-UDF BLAS variant is justified only when
queries are numerous enough to amortize Arrow transfer; the HOF form
keeps whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datapipeline_spike_spark.cache import materialize_barrier
from datapipeline_spike_spark.functions.vectors import (
    cosine,
    cosine_with_norms,
    dot,
    l2_norm,
    l2_sq,
)
from datapipeline_spike_spark.scale import fan_out


def _typed_empty(corpus: DataFrame, id_col: str, rest_ddl: str) -> DataFrame:
    """Empty result typed like the NON-empty path: the id field keeps the
    corpus's actual id type (string ids must not come back as long just
    because the corpus was empty), the remaining columns follow
    ``rest_ddl``."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField(id_col, corpus.schema[id_col].dataType)]
        + list(StructType.fromDDL(rest_ddl).fields)
    )
    return corpus.sparkSession.createDataFrame([], schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector. Ranking uses the
    ROUNDED score (+ id tiebreak) so results are engine-portable.

    No ``fan_out`` here (r6): per-row work is only k*dim flops, so at
    real scale the scan's own splits parallelize it, while on a toy
    single-split corpus the round-robin shuffle + 32 micro-tasks COST
    more than the whole dot-product workload (measured at sf0.1:
    1.06 s -> 0.70 s steady-state by dropping it — the r5 'both-bench
    regression' was this fixed overhead amplified by host noise)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), round_decimals).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_force_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """Arrow/BLAS variant of :func:`brute_force_topk` — the path that
    wins when the query set is large enough to amortize Arrow transfer
    (the HOF form evaluates |corpus| x |queries| interpreted lambda dot
    products; this computes ONE numpy matmul per Arrow batch).

    The query matrix is closure-captured (bounded, documented collect —
    same contract as the broadcast in the HOF form). Each mapInPandas
    batch emits only its PARTIAL top-k per query (argpartition), so the
    Arrow return traffic is k x |queries| rows per batch, never the
    full score matrix; a final window rank merges partials. Scores are
    rounded like the HOF form, so results agree modulo rounded-score
    ties."""
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    qrows = sorted(
        queries.select(F.col(id_col), F.col(vec_col).cast("array<double>")).collect(),
        key=lambda r: r[0],
    )
    qids = np.array([r[0] for r in qrows])
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_nid"].to_numpy()
            c = np.stack(pdf["_cv"].to_numpy()).astype(np.float64)
            cn = c / np.linalg.norm(c, axis=1, keepdims=True)
            sims = cn @ qn.T  # batch x queries
            top = min(k + 1, sims.shape[0])  # +1 absorbs the self row
            idx = np.argpartition(-sims, top - 1, axis=0)[:top]
            rows = {
                "query_id": np.repeat(qids, top),
                "neighbor_id": ids[idx].T.ravel(),
                "cos_sim": np.round(np.take_along_axis(sims, idx, axis=0).T.ravel(), round_decimals),
            }
            yield pd.DataFrame(rows)

    prepared = fan_out(corpus).select(
        F.col(id_col).alias("_nid"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    partial = prepared.mapInPandas(
        score, schema=f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _lit_double_array(vals) -> Column:
    """Literal array<double> as ONE JVM-parsed expression instead of
    len(vals) py4j ``F.lit`` round trips (the driver-side cost that made
    ivf_topk's plan BUILD slower than its execution — measured ~4 s for
    2x16x64 literals, r6). CAST from ``repr`` strings round-trips every
    double exactly, so downstream math is bit-identical."""
    return F.expr(
        "array(" + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in vals) + ")"
    )


def _cmat_literal(cents) -> Column:
    """Centroid matrix as ONE JVM-parsed literal array of
    named_struct('cid', id, 'cvec', array<double>) — the shared home of
    the expression ivf_topk / kmeans_assign / ivfpq_topk each built
    inline (the r6 plan-build fix: one ``F.expr`` string, not k x dim
    py4j ``F.lit`` calls; CAST from ``repr`` round-trips every double
    exactly, so downstream math is bit-identical). ``cents`` is a list
    of (cent_id, cvec) pairs."""
    return F.expr(
        "array(" + ", ".join(
            "named_struct('cid', {id}L, 'cvec', array({vs}))".format(
                id=int(c[0]),
                vs=", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in c[1]),
            )
            for c in cents
        ) + ")"
    )


def _pq_cmat_literal(cents) -> Column:
    """Product-quantization codebook matrix as ONE JVM-parsed literal
    array of named_struct('s', subspace, 'cid', id, 'cvec', ...) —
    the subspace-keyed sibling of :func:`_cmat_literal`. ``cents`` is a
    list of (s, cent_id, cvec) triples."""
    return F.expr(
        "array(" + ", ".join(
            "named_struct('s', {s}, 'cid', {id}L, 'cvec', array({vs}))".format(
                s=int(c[0]),
                id=int(c[1]),
                vs=", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in c[2]),
            )
            for c in cents
        ) + ")"
    )


def _plane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (no numpy RNG so the test
    fixture and any SQL replay can regenerate it): values in [-1, 1)
    from a splitmix-style integer hash."""
    vals = []
    x = seed * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF
    for _ in range(dim):
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        vals.append(((x >> 11) / float(1 << 53)) * 2.0 - 1.0)
    return vals


def lsh_bucket_assign(
    df: DataFrame, dim: int, n_planes: int = 4, vec_col: str = "embedding"
) -> DataFrame:
    """Attach a random-hyperplane LSH bucket id (0..2^n_planes-1):
    bit p = sign(v . plane_p). Map-only, codegen-eligible."""
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = _lit_double_array(_plane(dim, p + 1))
        bit = (dot(v, plane) >= 0).cast("int")
        bucket = bucket + (bit * (1 << p))
    return df.withColumn("bucket", bucket)


# hard ceiling for the data-derived plane count: 2^16 buckets is enough
# to keep ~64-row buckets up to a 4M-vector corpus per partition-group;
# beyond that the caller should shard the corpus first
MAX_AUTO_PLANES = 16


def lsh_bucket_assign_auto(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    target_bucket: int = 64,
    min_planes: int = 4,
    max_planes: int = MAX_AUTO_PLANES,
) -> DataFrame:
    """``lsh_bucket_assign`` with the plane count DERIVED from the data,
    in-plan (VERDICT r10 item 4 — a fixed n_planes means bucket size
    grows linearly with the corpus and in-bucket pair work grows
    quadratically; SCALE_PROBE_r10 measured fixed-4 collapsing 301->65
    vecs/s at 10x while log-scaled planes rise):

        n_planes = clamp(ceil(log2(count / target_bucket)),
                         min_planes, max_planes)

    keeps the EXPECTED bucket size near ``target_bucket`` at any corpus
    scale. The count is a 1-row aggregate broadcast-crossed into the
    row-grain plan (the established totals pattern — no plan-build
    collect), and the bucket is the full ``max_planes``-bit signature
    masked to the low ``n_planes`` bits: bit p of the mask-limited
    bucket equals sign(v . plane_{p+1}) exactly, so the result is
    bit-identical to ``lsh_bucket_assign(df, dim, n_planes)`` at the
    derived count — an SQL oracle replays the same derivation from
    count(*) and the same plane literals.

    Emits ``bucket`` and ``n_planes`` columns."""
    full = lsh_bucket_assign(df, dim, max_planes, vec_col)
    totals = df.agg(F.count(F.lit(1)).alias("_n_corpus"))
    np_col = F.least(
        F.lit(max_planes),
        F.greatest(
            F.lit(min_planes),
            F.ceil(
                F.log2(F.col("_n_corpus") / F.lit(float(target_bucket)))
            ).cast("int"),
        ),
    )
    # 2^n_planes - 1 via pow: exact for n_planes <= 30, and pow takes a
    # column exponent (shiftleft needs a literal int)
    mask = (F.pow(F.lit(2.0), np_col).cast("int") - F.lit(1))
    return (
        full.crossJoin(F.broadcast(totals))
        .withColumn("n_planes", np_col)
        .withColumn("bucket", F.col("bucket").bitwiseAND(mask))
        .drop("_n_corpus")
    )


def _check_topk_params(op: str, k: int, n_probe: int) -> None:
    if k < 1:
        raise ValueError(f"{op} needs k >= 1, got {k}")
    if n_probe < 1:
        raise ValueError(f"{op} needs n_probe >= 1, got {n_probe}")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN: the inverted-file counterpart of ``lsh_bucket_topk``.

    Index build (driver-side, tiny): the coarse quantizer is the
    ``n_centroids`` lowest-id corpus vectors — deterministic and
    RNG-free so the DuckDB oracle can replay it; production would train
    k-means centroids (pyspark.ml KMeans) and persist them with the
    index. Centroids are inlined as literals, so corpus assignment is
    MAP-ONLY (each row picks argmax cosine over 16 literal vectors —
    no shuffle, unlike a join+window assignment which would shuffle
    corpus x centroids rows). Queries probe their ``n_probe`` nearest
    inverted lists; candidates come from the list equi-join.

    Ties broken (higher cos, then lower centroid id) on 6-dp-rounded
    scores — identical on both engines.

    ``centroids``: optional trained quantizer (cent_id, cvec) — e.g.
    :func:`kmeans_quantizer` output — replacing the lowest-id bootstrap.
    Same bounded collect (k rows) and literal inlining either way.

    Raises ValueError for ``k < 1`` or ``n_probe < 1`` (either would
    return an empty frame)."""
    _check_topk_params("ivf_topk", k, n_probe)
    if centroids is not None:
        cents = sorted(
            ((r["cent_id"], r["cvec"]) for r in centroids.collect()),
            key=lambda r: r[0],
        )
    else:
        cents = sorted(
            corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
            .filter(F.col(id_col) < n_centroids)
            .collect(),
            key=lambda r: r[0],
        )
    # A trained quantizer drops empty centroids, so len(cents) can fall
    # below the requested probe count; a non-positive slice start would
    # fail at runtime.
    n_probe = min(n_probe, len(cents))

    # The centroid matrix is ONE F.expr string parsed JVM-side, not a
    # tree of per-component F.lit calls: building 2 x 16 x 64 literal
    # Columns through py4j cost ~4 s of DRIVER time per invocation
    # (measured r6 — more than the query's whole execution).
    cmat = _cmat_literal(cents)

    def nearest(v):  # array<struct<cos, negid>>; lexicographic max = best
        return F.array_sort(
            F.transform(
                cmat,
                lambda c: F.struct(
                    F.round(cosine(v, c["cvec"]), 6).alias("cos"),
                    (-c["cid"]).alias("negid"),
                ),
            )
        )

    cv = F.col(vec_col).cast("array<double>")
    assign = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        cv.alias("cv"),
        (-F.element_at(nearest(cv), len(cents))["negid"]).alias("cent_id"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        cv.alias("qv"),
        F.explode(
            F.transform(
                F.slice(nearest(cv), len(cents) - n_probe + 1, n_probe),
                lambda s: -s["negid"],
            )
        ).alias("cent_id"),
    )
    scored = (
        assign.join(F.broadcast(probes), "cent_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


KMEANS_SCALE = 1 << 20  # fixed-point grid for order-insensitive centroid sums


def kmeans_quantizer(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic distributed Lloyd's k-means — the production coarse
    quantizer for IVF (the r1 index used lowest-id vectors as a
    placeholder). Returns (cent_id, cvec, n_assigned) after ``iters``
    full assign+update rounds.

    Cross-engine determinism (the whole point — an RNG-seeded or
    float-summed k-means could never hash-match a SQL replay):
    - init: the k lowest-id corpus vectors (RNG-free);
    - assign: argmax of 6dp-ROUNDED cosine with centroid-id tiebreak
      (the k centroids fold into a 1-row array broadcast-crossed into
      the corpus; the argmax is an in-row HOF — truly map-only, r20);
    - update: component sums in FIXED-POINT — each component quantizes
      to round(x * 2^20) as int64, and integer addition is associative,
      so the per-dimension sum is identical under ANY reduction order
      (a double sum differs in the last bits per partitioning and a
      rounding boundary would eventually flip); the centroid component
      is sum / (n * 2^20) — one exact division.

    Scale posture (r20): assignment is a 1-row broadcast cross of the
    folded centroid array + an in-row HOF argmax — no shuffle of the
    corpus, no per-vector rank window (the pre-r20 join+window form
    sort-shuffled k rows per vector per iteration); the update shuffles
    (cent_id, dim) partial sums — map-side combine caps the wire volume
    at k x dim rows per map partition, independent of corpus size.
    Empty centroids drop out (both engines drop them identically).
    (The collect-and-inline-literal variant pq_codebooks uses was
    measured here too: k=16 x dim=64 literal arrays repeated across the
    per-invocation plans cost ~1 s MORE at bench scale than the in-plan
    cross — the 1024-double expression tree taxes every optimizer pass
    — so kmeans keeps training in-plan; PQ's literals are 4x smaller
    and measured faster. OPTIMIZATION_r20.md has both numbers.)"""
    emb = fan_out(corpus).select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cents = emb.filter(F.col("vid") < k).select(
        F.col("vid").alias("cent_id"), F.col("v").alias("cvec")
    )
    for _ in range(iters):
        # assignment is MAP-ONLY (r20, guide §2.4): the k centroids are
        # folded into ONE 1-row array frame and broadcast-crossed in
        # (BNLJ_OK 1-row precedent), and each vector picks its centroid
        # with the same rounded-cosine + lowest-cent-id argmax the
        # post-training assigners (ivf_topk / kmeans_assign / ivfpq)
        # already use — bit-identical selection to the old broadcast
        # join + per-vid rank window, which shuffled and sorted k rows
        # per vector per iteration. array_max over struct(cos,
        # -cent_id) = max cos, ties to the smallest id; NULL cos
        # (zero-norm) structs order below non-null exactly like the
        # window's DESC NULLS LAST.
        cmat = cents.agg(
            F.collect_list(F.struct("cent_id", "cvec")).alias("_cmat")
        )
        best = F.array_max(
            F.transform(
                F.col("_cmat"),
                lambda c: F.struct(
                    F.round(cosine(F.col("v"), c["cvec"]), 6).alias("cos"),
                    (-c["cent_id"]).alias("negid"),
                ),
            )
        )
        assigned = (
            emb.crossJoin(F.broadcast(cmat))
            .select("vid", "v", (-best["negid"]).alias("cent_id"))
            .filter(F.col("cent_id").isNotNull())
        )
        fixed = assigned.select(
            "cent_id",
            F.posexplode(
                F.transform(
                    "v", lambda x: F.round(x * KMEANS_SCALE, 0).cast("long")
                )
            ).alias("pos", "q"),
        )
        sums = fixed.groupBy("cent_id", "pos").agg(
            F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
        )
        cents = sums.groupBy("cent_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                lambda t: t["s"] / (t["n"] * float(KMEANS_SCALE)),
            ).alias("cvec"),
            F.max("n").alias("n_assigned"),
        )
    return cents


def cosine_neardup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate detection (SURVEY.md §2.11): the
    pair analogue of ``lsh_bucket_topk`` — candidate pairs come from a
    bucket equi self-join (i<j), then the exact cosine filter keeps
    pairs >= threshold. Recall bound: a pair is missed only when the two
    vectors straddle >=1 of the n_planes hyperplanes; for truly
    near-identical vectors P(straddle) -> 0. At 100 TB the bucket join
    shuffles on the bucket key; use more planes to shrink buckets (at
    recall cost) or run exact dedup first to collapse identical rows."""
    vcast = F.col(vec_col).cast("array<double>")
    b = lsh_bucket_assign(fan_out(corpus), dim, n_planes, vec_col).select(
        F.col(id_col), vcast.alias("v"), l2_norm(vcast).alias("n"), "bucket"
    )
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(c, (F.col("a.bucket") == F.col("c.bucket")) & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
            F.round(
                cosine_with_norms(
                    F.col("a.v"), F.col("c.v"), F.col("a.n"), F.col("c.n")
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_dedup(
    corpus: DataFrame,
    dim: int,
    threshold: float,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic (embedding-space) dedup end-to-end: LSH-bucketed cosine
    near-dup edges (:func:`cosine_neardup_pairs` — bucket equi-join,
    never all-pairs) -> connected components (transitive closure: a~b~c
    merge even when a!~c, the paraphrase-chain case textual dedup
    misses) -> every vector assigned the component-minimum canonical id;
    isolated vectors map to themselves.

    Component strategy mirrors ``dedup_corpus(component_algorithm=
    "auto")``: star contraction (O(log^2 n) rounds), measured no slower
    than min-label even on shallow graphs and decisively faster on
    chained ones. Only edge endpoints iterate — the per-round shuffles
    are near-dup-subgraph-sized, not corpus-sized."""
    from datapipeline_spike_spark.operators.dedup import connected_components_star

    # materialize the verified edge set once (r19 — the dedup_corpus
    # shape): the vertex derivation reads it twice (src/dst branches)
    # and star contraction re-references it per round; without the
    # checkpoint the whole LSH + cosine-verify pipeline replays per
    # consumer (measured 38 jobs / 5.1 s -> see OPTIMIZATION_r19.md)
    edges = cosine_neardup_pairs(corpus, dim, threshold, n_planes, id_col, vec_col).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).transform(materialize_barrier)
    edge_verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    comp = connected_components_star(edges, edge_verts)
    return corpus.select(F.col(id_col)).join(comp, F.col(id_col) == F.col("id"), "left").select(
        F.col(id_col), F.coalesce(F.col("comp"), F.col(id_col)).alias("canonical_id")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket.
    The bucket equi-join replaces the cross join — this is what makes
    100 TB similarity search tractable. ``multiprobe=1`` additionally
    probes every bucket at Hamming distance 1 from the query's (the
    standard recall fix for sign-LSH: near neighbors that straddle one
    hyperplane are recovered at (n_planes+1)x candidate cost, still
    exponentially cheaper than the full scan)."""
    cb = lsh_bucket_assign(fan_out(corpus), dim, n_planes, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        "bucket",
    )
    qb = lsh_bucket_assign(queries, dim, n_planes, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        "bucket",
    )
    if multiprobe >= 1:
        probes = F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        )
        qb = qb.select(
            "query_id", "qv", F.explode(probes).alias("bucket")
        )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic product-quantization codebook training — the
    billion-scale ANN compression standard (Jegou et al. 2011, IVF-PQ):
    each ``dim``-dim vector splits into ``m`` subvectors of ``dim/m``
    components, and each subspace trains its OWN ``k``-centroid
    codebook, so a vector encodes as ``m`` small ids (here 4 x 3 bits
    vs 64 doubles — the memory factor that makes billion-vector indexes
    fit RAM).

    Same determinism contract as :func:`kmeans_quantizer` (the SQL
    oracle replays every number): lowest-id init, argmin of 6dp-ROUNDED
    squared-L2 with centroid-id tiebreak, fixed-point int64 component
    sums. All ``m`` subspace trainings run in ONE plan: subvectors
    explode to (subspace, vid) rows; each iteration's m*k codebook rows
    are collected (bounded — the documented ivf_topk index-build
    posture) and inlined as ONE parsed literal so assignment is an
    in-row HOF argmin, truly map-only (r20; the pre-r20 join+window
    form sort-shuffled k rows per subvector per iteration); the update
    shuffles (subspace, cent, dim) partial sums — map-side combined,
    wire volume m*k*(dim/m) rows per map partition regardless of corpus
    size. Training is EAGER (iters bounded collects at call time, so
    even an EXPLAIN-only caller runs it); the returned frame is the
    final iteration's lazy update chain.

    Returns (s, cent_id, cvec, n_assigned). Raises ValueError for
    ``iters < 1`` or a ``dim`` that ``m`` does not divide."""
    if iters < 1:
        raise ValueError(f"pq_codebooks needs iters >= 1, got {iters}")
    if m < 1 or dim % m != 0:
        raise ValueError(f"pq_codebooks needs dim divisible by m, got dim={dim}, m={m}")
    width = dim // m
    emb = fan_out(corpus).select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    sub = emb.select(
        "vid",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice("v", s * width + 1, width).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("x"),
    ).select("vid", F.col("x.s").alias("s"), F.col("x.sv").alias("v"))
    cur = sorted(
        (
            (r["s"], r["cent_id"], r["cvec"])
            for r in sub.filter(F.col("vid") < k)
            .select("s", F.col("vid").alias("cent_id"), F.col("v").alias("cvec"))
            .collect()
        ),
        key=lambda r: (r[0], r[1]),
    )
    # typed-empty result for the no-init-vectors corpus
    cents = sub.limit(0).select(
        "s",
        F.col("vid").alias("cent_id"),
        F.col("v").alias("cvec"),
        F.lit(0).cast("long").alias("n_assigned"),
    )
    for _it in range(iters):
        if not cur:
            break
        # assignment is MAP-ONLY (the kmeans_quantizer posture): each
        # (subspace, vector) row argmins 6dp-rounded squared-L2 over
        # ITS subspace's literal centroids in-row — bit-identical
        # selection to the pre-r20 broadcast join + (s, vid) rank
        # window.
        cmat = _pq_cmat_literal(cur)
        best = F.array_min(
            F.transform(
                F.filter(cmat, lambda c: c["s"] == F.col("s")),
                lambda c: F.struct(
                    F.round(l2_sq(F.col("v"), c["cvec"]), 6).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        assigned = sub.select(
            "s", "vid", "v", best["cid"].alias("cent_id")
        ).filter(F.col("cent_id").isNotNull())
        fixed = assigned.select(
            "s", "cent_id",
            F.posexplode(
                F.transform("v", lambda x: F.round(x * KMEANS_SCALE, 0).cast("long"))
            ).alias("pos", "q"),
        )
        sums = fixed.groupBy("s", "cent_id", "pos").agg(
            F.sum("q").alias("sm"), F.count(F.lit(1)).alias("n")
        )
        cents = sums.groupBy("s", "cent_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sm", "n"))),
                lambda t: t["sm"] / (t["n"] * float(KMEANS_SCALE)),
            ).alias("cvec"),
            F.max("n").alias("n_assigned"),
        )
        # the next iteration's literal (bounded m*k-row collect); the
        # FINAL iteration's frame stays lazy for its consumer
        if _it + 1 < iters:
            cur = sorted(
                ((r["s"], r["cent_id"], r["cvec"]) for r in cents.collect()),
                key=lambda r: (r[0], r[1]),
            )
    return cents


def pq_distortion_profile(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train PQ codebooks, ENCODE the corpus with them (one final
    assignment pass), and report per (subspace, centroid): assigned
    count and mean squared quantization error — the distortion numbers
    that tune m/k before committing a billion-vector index to a
    codebook. Error averaging is fixed-point (int64 micro-units of the
    6dp-rounded assignment distance), so the mean is reduction-order-
    insensitive and replays exactly in SQL."""
    width = dim // m
    cents = pq_codebooks(corpus, dim, m, k, iters, id_col, vec_col)
    emb = fan_out(corpus).select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    sub = emb.select(
        "vid",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice("v", s * width + 1, width).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("x"),
    ).select("vid", F.col("x.s").alias("s"), F.col("x.sv").alias("v"))
    # encode pass: MAP-ONLY in-row HOF argmin over the trained codebook
    # inlined as ONE parsed literal (r20; bounded m*k-row collect, the
    # ivf_topk index-build posture) — the old broadcast join + (s, vid)
    # rank window sort-shuffled k rows per subvector just to pick the
    # argmin, and a 1-row-cross variant would add a BNLJ node for the
    # same values
    trained = sorted(
        ((r["s"], r["cent_id"], r["cvec"]) for r in cents.collect()),
        key=lambda r: (r[0], r[1]),
    )
    if not trained:
        return sub.limit(0).select(
            "s",
            F.col("vid").alias("cent_id"),
            F.lit(0).cast("bigint").alias("n_assigned"),
            F.lit(0.0).alias("avg_sq_error"),
        )
    cmat = _pq_cmat_literal(trained)
    best = F.array_min(
        F.transform(
            F.filter(cmat, lambda c: c["s"] == F.col("s")),
            lambda c: F.struct(
                F.round(l2_sq(F.col("v"), c["cvec"]), 6).alias("dist"),
                c["cid"].alias("cid"),
            ),
        )
    )
    coded = (
        sub.select(
            "s",
            best["cid"].alias("cent_id"),
            F.round(best["dist"] * 1_000_000).cast("bigint").alias("err_fp"),
        )
        .filter(F.col("cent_id").isNotNull())
    )
    return coded.groupBy("s", "cent_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        F.round(
            F.sum("err_fp") / (F.count(F.lit(1)) * 1_000_000.0), 6
        ).alias("avg_sq_error"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    k_codebook: int = 8,
    iters: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ top-k by asymmetric distance computation (ADC — Jegou et al.
    2011): the corpus is ENCODED to m small codes per vector, and query
    distance is the sum of per-subspace distances between the query
    subvector and the CENTROID the code names — the scan never touches
    the original corpus vectors, which is the entire point at billion-
    vector scale (4 bytes/vector vs 256).

    Plan shape (all deterministic, SQL-replayable):
    - codebooks: :func:`pq_codebooks` (fixed-point Lloyd's);
    - encode: per (subspace, vector) argmin of 6dp-rounded squared-L2,
      via a 1-row broadcast cross of the codebook array + an in-row HOF
      argmin (r20) — map-only, no shuffle at all (the earlier min_by
      hash aggregate still exchanged one row per (s, vid); a
      window-rank formulation would sort-shuffle every scored row);
    - ADC: codes join the 32-row broadcast codebook for centroid
      vectors, then the broadcast query subvectors; per-subspace
      distances are 6dp-rounded then fixed-pointed to int64 micro-units
      so the cross-subspace sum is reduction-order-insensitive;
    - top-k: ascending (adc_fp, neighbor_id) window per query.

    Returns (query_id, neighbor_id, adc_fp, rank)."""
    width = dim // m
    # m x k_codebook rows; checkpointing collapses the fixed-point
    # Lloyd's training chain to ONE execution — it is referenced by two
    # broadcasts (the encode join and the ADC pair join) and would
    # otherwise replay per reference (r19; the ivfpq_topk precedent)
    cents = pq_codebooks(
        corpus, dim, m, k_codebook, iters, id_col, vec_col
    ).transform(materialize_barrier)

    def subspaces(df: DataFrame, out_id: str) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(v, s * width + 1, width).alias("sv"),
                    )
                    for s in range(m)
                ])
            ).alias("x"),
        ).select(out_id, F.col("x.s").alias("s"), F.col("x.sv").alias("sv"))

    sub = subspaces(fan_out(corpus), "nid")
    # encode: map-only 1-row-cross + in-row HOF argmin (r20) — the
    # min_by hash aggregate still exchanged one row per (nid, s); the
    # HOF picks the same (dist, cent_id) minimum with no shuffle at all
    enc_cmat = cents.agg(
        F.collect_list(F.struct("s", "cent_id", "cvec")).alias("_cmat")
    )
    enc_best = F.array_min(
        F.transform(
            F.filter(F.col("_cmat"), lambda c: c["s"] == F.col("s")),
            lambda c: F.struct(
                F.round(l2_sq(F.col("sv"), c["cvec"]), 6).alias("dist"),
                c["cent_id"].alias("cid"),
            ),
        )
    )
    codes = (
        sub.crossJoin(F.broadcast(enc_cmat))
        .select("nid", "s", enc_best["cid"].alias("cent_id"))
        .filter(F.col("cent_id").isNotNull())
    )
    qsub = subspaces(queries, "query_id").select(
        "query_id", "s", F.col("sv").alias("qv")
    )
    pair = (
        codes.join(F.broadcast(cents.select("s", "cent_id", "cvec")), ["s", "cent_id"])
        .join(F.broadcast(qsub), "s")
        .select(
            "query_id",
            F.col("nid").alias("neighbor_id"),
            F.round(F.round(l2_sq(F.col("qv"), F.col("cvec")), 6) * 1_000_000)
            .cast("bigint")
            .alias("fp"),
        )
    )
    adc = (
        pair.filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("fp").alias("adc_fp"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_fp", "neighbor_id")
    return adc.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --- scalar quantization (SQ8) ----------------------------------------------

SQ8_LEVELS = 255


def sq8_stats(corpus: DataFrame, dim: int, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension quantization grid: ONE 1-row aggregate with
    (mins, maxs) as array<double> — derived in-plan from the corpus
    (broadcast to the encode step, no collect at build). Two parsed
    expression strings instead of 2*dim py4j Column calls (the r6
    plan-build lesson)."""
    mins = ", ".join(
        f"min(CAST(element_at({vec_col}, {i + 1}) AS DOUBLE))" for i in range(dim)
    )
    maxs = ", ".join(
        f"max(CAST(element_at({vec_col}, {i + 1}) AS DOUBLE))" for i in range(dim)
    )
    return corpus.agg(
        F.expr(f"array({mins})").alias("mins"), F.expr(f"array({maxs})").alias("maxs")
    )


def sq8_codes(
    df: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
    out_col: str = "code",
) -> DataFrame:
    """Linear uint8 codes: code_i = round((x_i - min_i) * 255 /
    (max_i - min_i)) CLAMPED to [0, 255], degenerate dimensions
    (max == min) encode 0. The clamp only fires for vectors OUTSIDE
    the grid — e.g. querying an index built on an older corpus
    snapshot — where unclamped codes would leave uint8 range and
    distort integer distances; for in-grid vectors (the registered
    query: queries are corpus rows) it is a no-op, so the SQL oracle
    stays exact without replaying it. Map-only after the broadcast of
    the 1-row grid; the arithmetic text matches the SQL oracle exactly
    (same op order, double throughout, HALF_UP round on non-negative
    values)."""
    code = F.expr(
        f"transform({vec_col}, (x, i) -> "
        "CASE WHEN element_at(maxs, i + 1) = element_at(mins, i + 1) THEN 0 "
        "ELSE LEAST(255, GREATEST(0, "
        "CAST(round(((CAST(x AS DOUBLE) - element_at(mins, i + 1)) * 255.0D) "
        "/ (element_at(maxs, i + 1) - element_at(mins, i + 1))) AS INT))) END)"
    )
    return df.crossJoin(F.broadcast(stats)).select(
        F.col(id_col).alias(out_id), code.alias(out_col)
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors ranked ENTIRELY from uint8 codes (scalar
    quantization, the 4x-compression tier between full-precision
    brute force and PQ's 10x+): integer squared-L2 over code arrays —
    exact int64 sums, no float anywhere in the ranking, so both
    engines order identically with the id tiebreak. The corpus is
    encoded in the same scan that scores it (map-only encode after a
    broadcast grid); at 100 TB the codes are what you'd MATERIALIZE
    (64 B/vector vs 256 B float32), and the scan reads a quarter of
    the bytes."""
    stats = sq8_stats(corpus, dim, vec_col)
    cc = sq8_codes(corpus, stats, id_col, vec_col, "neighbor_id", "ccode")
    qc = sq8_codes(queries, stats, id_col, vec_col, "query_id", "qcode")
    d2 = F.aggregate(
        F.zip_with(
            F.col("qcode"), F.col("ccode"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        cc.crossJoin(F.broadcast(qc))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_assign(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame | None:
    """Train the k-means quantizer and assign every corpus vector to its
    nearest trained centroid — the shared front half of
    :func:`cluster_balanced_sample` and :func:`semdedup`. Returns
    (id_col, cent_id[, _v]) or ``None`` on an empty corpus (callers
    decide their typed-empty shape).

    Scale shape: ONE bounded k-row collect (the trained centroids),
    then a map-only argmax against the broadcast-literal centroid
    matrix — the centroid array is rendered as a single JVM-parsed
    ``F.expr`` string, not 16x64 py4j ``F.lit`` calls (the r6
    plan-build fix), and assignment uses the rounded-cosine +
    lowest-cent-id tiebreak that both engines replay exactly."""
    cents = sorted(
        (
            (r["cent_id"], r["cvec"])
            for r in kmeans_quantizer(
                corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col
            ).collect()
        ),
        key=lambda r: r[0],
    )
    if not cents:
        return None
    cmat = _cmat_literal(cents)
    cv = F.col(vec_col).cast("array<double>")
    nearest = F.array_sort(
        F.transform(
            cmat,
            lambda c: F.struct(
                F.round(cosine(cv, c["cvec"]), 6).alias("cos"),
                (-c["cid"]).alias("negid"),
            ),
        )
    )
    cols = [
        F.col(id_col),
        (-F.element_at(nearest, len(cents))["negid"]).alias("cent_id"),
    ]
    if keep_vec:
        cols.append(cv.alias("_v"))
    return fan_out(corpus).select(*cols)


def semdedup(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with the deterministic
    k-means quantizer, then WITHIN each cluster mark a vector as a
    semantic duplicate when its cosine to any LOWER-id cluster-mate
    reaches ``threshold``; the lowest-id member of each near-dup
    neighborhood survives. Returns (id, cent_id, dup_of, kept) for
    EVERY corpus vector — ``dup_of`` is the lowest qualifying lower id
    (NULL when kept).

    The id-ordered rule is the deterministic, order-independent variant
    of the paper's greedy sweep (their keep-one-per-neighborhood is
    iteration-order-dependent; an EXISTS-lower-similar-id predicate is
    pure relational algebra, so reruns and the SQL oracle reproduce the
    identical keep set). Like the paper, similarity is only ever
    computed WITHIN a cluster: the quadratic term is (n/k)^2 * k, and k
    is the scale lever — at 100 TB you raise k so clusters stay ~1e5
    vectors (the paper uses k=50k on LAION). The within-cluster pair
    generation is a shuffle equi-join on cent_id (never an in-row
    collect_list blowup — the lsh hot-bucket lesson), so one oversized
    cluster degrades to AQE skew-join splitting, not an executor OOM."""
    asg = kmeans_assign(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col, keep_vec=True
    )
    if asg is None:
        return _typed_empty(
            corpus, id_col, "cent_id bigint, dup_of bigint, kept boolean"
        )
    # materialize the assignment ONCE (r19): the 16-centroid argmax is
    # an interpreted HOF over every vector, and three consumers (both
    # self-join sides + the final left join) would each re-run it;
    # norms are likewise computed once at the row grain (r10:
    # cosine_with_norms — bit-identical scores, 1 interpreted array
    # fold per pair instead of 3). Eager localCheckpoint = lineage-free
    # blocks, drained by cache.unpersist_all (the LSH bucket-frame
    # convention); at 100 TB this is the (id, cent, vec, norm) frame an
    # index build materializes anyway.
    asg = asg.withColumn("_n", l2_norm(F.col("_v"))).transform(materialize_barrier)
    a = asg.select(
        F.col(id_col).alias("_ida"), "cent_id", F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = asg.select(
        F.col(id_col).alias("_idb"), "cent_id", F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    dup = (
        a.join(b, "cent_id")
        .filter(F.col("_idb") < F.col("_ida"))
        .filter(
            F.round(
                cosine_with_norms(
                    F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                ),
                6,
            )
            >= threshold
        )
        .groupBy("_ida")
        .agg(F.min("_idb").alias("dup_of"))
    )
    return (
        asg.join(dup, F.col(id_col) == F.col("_ida"), "left")
        .select(
            id_col,
            F.col("cent_id").cast("bigint").alias("cent_id"),
            F.col("dup_of").cast("bigint").alias("dup_of"),
            F.col("dup_of").isNull().alias("kept"),
        )
    )


def cluster_balanced_sample(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    per_cluster: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-balanced sampling for training-data curation: train
    the k-means quantizer, assign every vector to its cluster (map-only
    against the broadcast-literal centroid matrix — the ivf_topk
    assignment shape), then keep the ``per_cluster`` LOWEST-md5-keyed
    vectors per cluster — a deterministic bottom-k reservoir (the
    fixed_size_sample stability property), so a topic that dominates
    the corpus cannot dominate the sample. Returns (id, cent_id,
    samp_rank) for kept vectors. Fully replayable: training, rounded-
    cosine argmax assignment, and the md5 rank all land in the SQL
    oracle. At 100 TB: one bounded k-row collect (the trained
    centroids), map-only assignment, one |clusters|-keyed window."""
    asg = kmeans_assign(corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    if asg is None:
        # empty corpus: no clusters to balance — empty result, typed
        return _typed_empty(corpus, id_col, "cent_id bigint, samp_rank int")
    from datapipeline_spike_spark.operators.sampling import bottom_k_per_group

    assigned = asg.select(
        F.col(id_col),
        "cent_id",
        F.md5(F.col(id_col).cast("string")).alias("_sk"),
    )
    # Salted two-phase bottom-k (shared helper): a single window over
    # cent_id would funnel the WHOLE corpus through k reducers (k=16
    # partitions for billions of rows — the 1000x bottleneck); the
    # helper ranks within (cluster, salt) first and re-ranks only the
    # k * n_salts * per_cluster survivors — identical result, exactly.
    return bottom_k_per_group(
        assigned, ["cent_id"], ["_sk", id_col], per_cluster, rank_col="samp_rank"
    ).select(
        id_col,
        F.col("cent_id").cast("bigint").alias("cent_id"),
        F.col("samp_rank").cast("int").alias("samp_rank"),
    )


def hard_negative_mining(
    corpus: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int | None = None,
    hi: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    multiprobe: int = 0,
    target_bucket: int = 64,
) -> DataFrame:
    """Contrastive-training hard-negative mining: for EVERY anchor in
    the corpus, the ``k`` most-similar candidates that are (a) not the
    anchor, (b) below the near-duplicate ceiling ``hi`` (a candidate at
    cos >= hi is an unlabeled positive, the classic false-negative
    poison), and (c) a different ``label_col`` when labels exist (the
    supervised definition of "negative"). Candidates come from the
    anchor's sign-LSH bucket — the same equi-join that makes every ANN
    tier here tractable — so mining is |bucket|-bounded per anchor
    instead of corpus-bounded. ``n_planes`` is the scale knob (buckets
    ~ n/2^planes); by default (``n_planes=None``, r11) it is DERIVED
    in-plan from the corpus count via :func:`lsh_bucket_assign_auto`
    so expected bucket size stays near ``target_bucket`` at any scale —
    a pinned plane count makes in-bucket pair work quadratic in corpus
    growth (VERDICT r10 item 4). ``multiprobe=1`` adds Hamming-1
    buckets when recall matters more than cost. Returns (anchor_id,
    negative_id, cos_sim, rank).

    Plan shape: one map-only bucket assign feeds BOTH join sides (4
    dot products per row — cheap enough to recompute per side, unlike
    the MinHash signature pipeline that lsh_candidate_pairs
    materializes); the per-anchor top-k ranks on the 6dp-ROUNDED cosine
    with an id tie-break (engine-portable, the ann_lsh_bucket
    convention) and Spark 4's WindowGroupLimit keeps only k rows per
    anchor per input partition ahead of the rank shuffle, so shuffle
    volume is anchors x k, never the |bucket|^2 join output."""
    # fan_out: the testdata-style single-split scan otherwise leaves
    # the whole in-bucket scoring (the CPU-heavy stage) on ONE task —
    # the anchor side feeds the probe/join stage directly when the
    # candidate side broadcasts (r10; cosine_neardup_pairs precedent)
    if n_planes is None:
        coded = lsh_bucket_assign_auto(
            fan_out(corpus), dim, vec_col, target_bucket=target_bucket
        ).drop("n_planes")
        if multiprobe >= 1:
            raise ValueError(
                "multiprobe needs a fixed n_planes (the probe set is "
                "plane-count-dependent); pass n_planes explicitly"
            )
    else:
        coded = lsh_bucket_assign(fan_out(corpus), dim, n_planes, vec_col)
    # norms at the ROW grain, before the bucket self-join: each vector's
    # norm is pair-independent, and computing it per candidate pair
    # costs 2 extra interpreted array folds per pair (r10, 3x measured)
    vcast = F.col(vec_col).cast("array<double>")
    keep = [F.col(id_col).alias("anchor_id"), vcast.alias("_av"),
            l2_norm(vcast).alias("_an"), "bucket"]
    cand_keep = [F.col(id_col).alias("negative_id"), vcast.alias("_nv"),
                 l2_norm(vcast).alias("_nn"), "bucket"]
    if label_col is not None:
        keep.append(F.col(label_col).alias("_alab"))
        cand_keep.append(F.col(label_col).alias("_nlab"))
    anchors = coded.select(*keep)
    if multiprobe >= 1:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )
        anchors = anchors.withColumn("bucket", F.explode(probes))
    cands = coded.select(*cand_keep)
    joined = anchors.join(cands, "bucket").filter(
        F.col("anchor_id") != F.col("negative_id")
    )
    if label_col is not None:
        joined = joined.filter(F.col("_alab") != F.col("_nlab"))
    scored = joined.select(
        "anchor_id",
        "negative_id",
        F.round(
            cosine_with_norms(
                F.col("_av"), F.col("_nv"), F.col("_an"), F.col("_nn")
            ),
            6,
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") < hi)
    if multiprobe >= 1:
        scored = scored.dropDuplicates(["anchor_id", "negative_id"])
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("negative_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# --- binary (1-bit) sign quantization + Hamming rerank -----------------------

_WORD_BITS = 31  # bits packed per int word; 31 keeps every word value
# in [0, 2^31) so neither engine ever touches the int32 sign bit
# (Spark shiftleft wraps, DuckDB raises on INTEGER overflow — staying
# below the bit avoids both behaviors entirely)


def _sign_word_sql(vec_sql: str, dim: int, bit_seeds: list[int]) -> str:
    """One packed sign word as engine-SQL text: bit j set iff
    v . plane(seed_j) >= 0. The dot product is an in-order left fold —
    the same summation order as DuckDB's list_inner_product, so the
    sign (the only thing consumed) is bit-identical cross-engine."""
    terms = []
    for j, seed in enumerate(bit_seeds):
        arr = "array(" + ", ".join(
            f"CAST('{float(x)!r}' AS DOUBLE)" for x in _plane(dim, seed)
        ) + ")"
        d = (f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), "
             "0.0D, (acc, v) -> acc + v)")
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def sign_codes(
    df: DataFrame,
    dim: int,
    n_bits: int = 62,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_base: int = 301,
    code_col: str = "code",
) -> DataFrame:
    """1-bit scalar quantization (the 32x-compression tier below SQ8):
    bit b = sign(v . plane_b) against ``n_bits`` deterministic splitmix
    hyperplanes, packed into ``ceil(n_bits/31)`` int words. By the
    sign-LSH similarity estimate (Charikar 2002), Hamming distance on
    these codes is a monotone proxy for angular distance — an 8-byte
    row sketch a scan can rank billions of at memory bandwidth.
    Map-only, one JVM-parsed expression per word (the r6
    plan-build-cost rule); seeds 301+ never collide with the bucket
    planes (1..n_planes) so codes and buckets are independent."""
    words = []
    vec_sql = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    for w in range(0, n_bits, _WORD_BITS):
        seeds = [seed_base + b for b in range(w, min(w + _WORD_BITS, n_bits))]
        words.append(_sign_word_sql(vec_sql, dim, seeds))
    return df.withColumn(code_col, F.expr("array(" + ", ".join(words) + ")"))


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 20,
    n_bits: int = 62,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-sketch ANN: rank the whole corpus by integer Hamming
    distance on 1-bit sign codes, keep the top ``m`` candidates per
    query, then rerank those exactly by cosine and return the top
    ``k``. The coarse pass is INTEGER-EXACT (the r7 quantization-parity
    rule: approximate rankings must be bit-identical cross-engine;
    float only enters the exact rerank, on 6dp-rounded scores with an
    id tie-break). Queries are a bounded broadcast set by the family
    contract (brute_force_topk precedent) — the corpus-side scan is
    the scale path: 8-byte codes, no shuffle until the per-query top-m,
    which WindowGroupLimit bounds at m per partition."""
    cc = sign_codes(fan_out(corpus), dim, n_bits, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
        F.col("code").alias("_ccode"),
    )
    qc = sign_codes(queries, dim, n_bits, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        F.col("code").alias("_qcode"),
    )
    ham = F.aggregate(
        F.zip_with("_ccode", "_qcode", lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("int")
    scored = (
        cc.crossJoin(F.broadcast(qc))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv", ham.alias("hamming"))
    )
    wm = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cand = scored.withColumn("_hrank", F.row_number().over(wm)).filter(
        F.col("_hrank") <= m
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id", "neighbor_id", "hamming",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


def random_projection(
    df: DataFrame,
    dim: int,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_base: int = 401,
    round_dp: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a
    DETERMINISTIC Achlioptas sign matrix (Achlioptas 2003: +-1 entries
    suffice for the JL guarantee): y_j = (v . r_j) / sqrt(k), where
    r_j's entries are the signs of the splitmix stream — no RNG state,
    no fitted model, so any engine (and the SQL oracle) regenerates the
    matrix from (dim, k, seed_base) alone. This is the cheap embedding
    shrink in front of clustering/ANN when PCA's data-dependent fit is
    overkill: map-only, one JVM-parsed expression, zero shuffles, and
    unlike PCA it needs no training pass over 100 TB. Components are
    rounded to ``round_dp`` (in-order fold sums match list_inner_product
    order, so rounding only absorbs the final ulp). Adds ``proj``
    (array<double>, length k) and ``norm_ratio`` (||y||/||v||, the
    per-row JL distortion witness, ~1 in expectation)."""
    vec_sql = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    comps = []
    for j in range(k):
        signs = ", ".join(
            "1.0D" if x >= 0 else "-1.0D" for x in _plane(dim, seed_base + j)
        )
        comps.append(
            f"round(aggregate(zip_with({vec_sql}, array({signs}), "
            f"(x, y) -> x * y), 0.0D, (acc, v) -> acc + v) "
            f"/ sqrt(CAST({k} AS DOUBLE)), {round_dp})"
        )
    out = df.withColumn("proj", F.expr("array(" + ", ".join(comps) + ")"))
    vn = l2_norm(F.col(vec_col).cast("array<double>"))
    pn = l2_norm(F.col("proj"))
    return out.withColumn(
        "norm_ratio",
        F.when(vn > 0, F.round(pn / vn, round_dp)).otherwise(F.lit(None)),
    )


def embedding_centroid_drift(
    emb: DataFrame,
    snapshot_col: str,
    snapshot_a,
    snapshot_b,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between two snapshots (staged r11,
    register r12): per ``group_col``, the per-dimension MEAN vector of
    snapshot A rows vs snapshot B rows, compared by centroid cosine and
    L2 shift — the monitoring number for "did the embedding model or
    the underlying content move under this label" (re-index / re-train
    triggers key on it; complements semdedup's within-snapshot view).

    Returns one row per group: (group, n_a, n_b, centroid_cosine,
    centroid_shift_l2), floats rounded 6dp; a group empty on either
    side reports its counts with NULL geometry.

    Parity (the quantize-then-derive convention): per-dimension means
    are rounded to 6dp FIRST, then cosine/shift are derived from the
    quantized centroids — so the only order-sensitive step (the mean's
    sum) is absorbed by rounding before anything downstream multiplies
    it. Scale shape: one posexplode -> (group, dim)-grain aggregate
    (bounded by |groups| x dim), means re-assembled with a sort-free
    array_sort on (dim, value) structs — no windows, no driver
    collect."""
    is_a = F.col(snapshot_col) == snapshot_a
    pairs = emb.filter(
        F.col(snapshot_col).isin([snapshot_a, snapshot_b])
    ).select(
        F.col(group_col).alias("grp"),
        is_a.alias("_is_a"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "val"),
    )
    per_dim = pairs.groupBy("grp", "dim").agg(
        F.sum(F.when(F.col("_is_a"), F.col("val"))).alias("_sa"),
        F.sum(F.when(F.col("_is_a"), 1).otherwise(0)).alias("_na"),
        F.sum(F.when(~F.col("_is_a"), F.col("val"))).alias("_sb"),
        F.sum(F.when(~F.col("_is_a"), 1).otherwise(0)).alias("_nb"),
    )
    # quantize the means at the dim grain, THEN assemble centroids
    quant = per_dim.select(
        "grp",
        "dim",
        F.round(F.col("_sa") / F.col("_na"), 6).alias("_ma"),
        F.round(F.col("_sb") / F.col("_nb"), 6).alias("_mb"),
        "_na",
        "_nb",
    )
    assembled = quant.groupBy("grp").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "_ma"))),
            lambda s: s["_ma"],
        ).alias("_ca"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "_mb"))),
            lambda s: s["_mb"],
        ).alias("_cb"),
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
    )
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    dot_ab = F.aggregate(
        F.zip_with("_ca", "_cb", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    shift = F.sqrt(
        F.aggregate(
            F.zip_with("_ca", "_cb", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    na_, nb_ = l2_norm(F.col("_ca")), l2_norm(F.col("_cb"))
    return assembled.select(
        F.col("grp").alias(group_col),
        "n_a",
        "n_b",
        F.when(
            both & (na_ > 0) & (nb_ > 0), F.round(dot_ab / (na_ * nb_), 6)
        ).alias("centroid_cosine"),
        F.when(both, F.round(shift, 6)).alias("centroid_shift_l2"),
    )


def hubness_profile(
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 64,
    n_planes: int | None = None,
) -> DataFrame:
    """Embedding-space hubness diagnostic (staged r11, register r12;
    Radovanovic et al. 2010): compute every vector's approximate
    top-``k`` cosine neighbors (the same auto-plane LSH bucket join the
    ANN tiers use), then profile the K-OCCURRENCE distribution N_k(x) =
    how many vectors list x among their top-k. High-dimensional
    embedding spaces concentrate: a few "hub" vectors appear in
    thousands of neighbor lists while many "orphans" appear in none —
    skewed N_k degrades ANN recall, kNN classification, and
    SemDeDup-style clustering, so a curation run profiles it before
    trusting neighbor-based ops.

    Returns ONE row: (n_vectors, n_orphans, max_k_occ, mean_k_occ,
    skew_k_occ) — skewness is the canonical hubness number (near 0 =
    healthy, >> 1 = hub-dominated), computed from exact integer raw
    moments S1/S2/S3 over the FULL vector set (orphans included at
    N_k = 0) with one final double division, so both engines agree to
    the 6dp round.

    Scale shape: the neighbor lists come from the bucketed self-join
    (auto-derived plane count keeps buckets ~``target_bucket`` at any
    corpus size, the hard_negative_mining posture) with Spark 4's
    WindowGroupLimit bounding shuffle volume to anchors x k; the
    profile is a |vectors|-row count aggregate + a 1-row reduce."""
    # n_planes passes through: None = the auto-derived scale path
    # (production); 0 = one bucket = EXACT all-pairs top-k (the planted
    # tests' ground-truth mode, viable only on tiny corpora)
    topk = hard_negative_mining(
        corpus,
        dim=dim,
        k=k,
        n_planes=n_planes,
        hi=2.0,  # no near-dup ceiling: every neighbor counts
        id_col=id_col,
        vec_col=vec_col,
        label_col=None,
        target_bucket=target_bucket,
    ).select(F.col("negative_id").alias("_nid"))
    occ = topk.groupBy("_nid").agg(F.count(F.lit(1)).alias("_nk"))
    base = corpus.select(F.col(id_col).alias("_nid"))
    full = base.join(occ, "_nid", "left").select(
        F.coalesce("_nk", F.lit(0)).alias("nk")
    )
    mom = full.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nk").alias("s1"),
        F.sum(F.col("nk") * F.col("nk")).alias("s2"),
        F.sum(F.col("nk") * F.col("nk") * F.col("nk")).alias("s3"),
        F.max("nk").alias("max_k_occ"),
        F.sum((F.col("nk") == 0).cast("bigint")).alias("n_orphans"),
    )
    n = F.col("n").cast("double")
    # central moments from integer raw moments (exact until division):
    # m2 = S2/n - (S1/n)^2, m3 = S3/n - 3*(S1/n)*(S2/n) + 2*(S1/n)^3
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = F.col("s3") / n - 3.0 * mean * (F.col("s2") / n) + 2.0 * mean * mean * mean
    return mom.select(
        F.col("n").alias("n_vectors"),
        "n_orphans",
        "max_k_occ",
        F.round(mean, 6).alias("mean_k_occ"),
        # m2^1.5 as m2 * sqrt(m2): sqrt is IEEE correctly-rounded on
        # both engines, pow() is only within-1-ulp — the difference can
        # flip the 6th decimal on an oracle hash
        F.when(m2 > 0, F.round(m3 / (m2 * F.sqrt(m2)), 6)).alias(
            "skew_k_occ"
        ),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    k_codebook: int = 8,
    iters: int = 2,
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite ANN (staged r11, register r12; Jegou et al.
    2011 — THE billion-scale index: faiss's ``IVFx,PQy``): a coarse
    inverted-file quantizer prunes the scan to ``n_probe`` lists, and
    product quantization of the RESIDUAL (vector minus its coarse
    centroid) compresses every stored vector to ``m`` small codes, so
    the probe scans codes — never raw vectors — with asymmetric
    distances. This composes the repo's two existing tiers
    (:func:`ivf_topk`, :func:`pq_adc_topk`) the way production indexes
    actually deploy them: residual PQ beats raw PQ because residuals
    concentrate near zero (less variance per subspace for the same
    codebook budget).

    Deterministic and SQL-replayable end to end (the established
    conventions): lowest-id coarse centroids inlined as ONE parsed
    literal expression (bounded, documented collect — the ivf_topk
    precedent); coarse assignment = map-only argmin of 6dp-rounded
    squared L2 with centroid-id tiebreak; residuals are exact
    elementwise doubles; PQ codebooks train on residuals with the
    fixed-point Lloyd's machinery (:func:`pq_codebooks`); encode =
    per (subspace, vector) in-row HOF argmin over the 1-row-crossed
    codebook array (map-only, r20); ADC distances 6dp-rounded
    then int64 fixed-pointed so the cross-subspace sum is reduction-
    order-insensitive; final rank ascending (adc_fp, neighbor_id).

    Scale shape: assignment + residual are map-only over literals (no
    shuffle); PQ training shuffles (subspace, centroid, dim) partial
    sums (bounded m*k*(dim/m) rows per map partition); the probe scan
    is an equi-join on (list_id, subspace) against the BROADCAST query
    residual subvectors — corpus-side work is one scan of the codes,
    pruned to probed lists, never |corpus| x |queries| raw-vector math.

    Returns (query_id, neighbor_id, adc_fp, rank). Raises ValueError for
    ``k < 1``, ``n_probe < 1`` or a ``dim`` that ``m`` does not divide."""
    _check_topk_params("ivfpq_topk", k, n_probe)
    if m < 1 or dim % m != 0:
        raise ValueError(f"ivfpq_topk needs dim divisible by m, got dim={dim}, m={m}")
    width = dim // m
    cents = sorted(
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .filter(F.col(id_col) < n_centroids)
        .collect(),
        key=lambda r: r[0],
    )
    n_probe = min(n_probe, len(cents))
    # one JVM-parsed literal (the r6 plan-build lesson)
    cmat = _cmat_literal(cents)

    def scored_cents(v):
        # struct comparison is lexicographic: (dist, cid) decides before
        # the carried cvec can ever be compared (cid is unique)
        return F.transform(
            cmat,
            lambda c: F.struct(
                F.round(l2_sq(v, c["cvec"]), 6).alias("d"),
                c["cid"].alias("cid"),
                c["cvec"].alias("cvec"),
            ),
        )

    v = F.col(vec_col).cast("array<double>")
    best = F.array_min(scored_cents(v))
    # the residual frame feeds FOUR consumers (two Lloyd's iterations,
    # the encode pass, the list-id spine) and its coarse assignment is
    # an interpreted HOF over the n_centroids x dim literal — without a
    # materialization each consumer re-runs it (no CSE across join
    # branches, the r7 lesson; measured 2.4x on the 1x probe)
    resid = fan_out(corpus).select(
        F.col(id_col).alias("vid"),
        best["cid"].alias("list_id"),
        F.zip_with(v, best["cvec"], lambda a, b: a - b).alias("rv"),
    ).transform(materialize_barrier)
    # m x k_codebook rows; checkpointing collapses the whole fixed-point
    # training chain to one execution (it is otherwise replayed per use:
    # the encode join AND the ADC pair join)
    cb = pq_codebooks(
        resid.select(F.col("vid").alias(id_col), F.col("rv").alias(vec_col)),
        dim, m, k_codebook, iters, id_col, vec_col,
    ).transform(materialize_barrier)
    sub = resid.select(
        "vid",
        "list_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice("rv", s * width + 1, width).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("x"),
    ).select("vid", "list_id", F.col("x.s").alias("s"), F.col("x.sv").alias("sv"))
    # encode: map-only 1-row-cross + in-row HOF argmin (r20) — the
    # min_by hash aggregate still exchanged one row per (vid, s); the
    # HOF picks the same (dist, cent_id) minimum with no shuffle at all
    enc_cmat = cb.agg(
        F.collect_list(F.struct("s", "cent_id", "cvec")).alias("_cmat")
    )
    enc_best = F.array_min(
        F.transform(
            F.filter(F.col("_cmat"), lambda c: c["s"] == F.col("s")),
            lambda c: F.struct(
                F.round(l2_sq(F.col("sv"), c["cvec"]), 6).alias("dist"),
                c["cent_id"].alias("cid"),
            ),
        )
    )
    codes = (
        sub.crossJoin(F.broadcast(enc_cmat))
        .select("vid", "list_id", "s", enc_best["cid"].alias("cent_id"))
        .filter(F.col("cent_id").isNotNull())
    )

    qv = F.col(vec_col).cast("array<double>")
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.slice(F.array_sort(scored_cents(qv)), 1, n_probe)
        ).alias("p"),
        qv.alias("_qv"),
    ).select(
        "query_id",
        F.col("p.cid").alias("list_id"),
        F.zip_with("_qv", F.col("p.cvec"), lambda a, b: a - b).alias("qrv"),
    )
    qsub = probes.select(
        "query_id",
        "list_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice("qrv", s * width + 1, width).alias("qsv"),
                )
                for s in range(m)
            ])
        ).alias("x"),
    ).select("query_id", "list_id", F.col("x.s").alias("s"), F.col("x.qsv").alias("qsv"))
    pair = (
        codes.join(F.broadcast(cb.select("s", "cent_id", "cvec")), ["s", "cent_id"])
        .join(F.broadcast(qsub), ["list_id", "s"])
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.round(F.round(l2_sq(F.col("qsv"), F.col("cvec")), 6) * 1_000_000)
            .cast("bigint")
            .alias("fp"),
        )
    )
    adc = (
        pair.filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("fp").alias("adc_fp"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_fp", "neighbor_id")
    return adc.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dims: tuple[int, ...] = (8, 16),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL, Kusupati 2022) truncation audit (staged r14
    wave 2): recall@k of exact cosine search over PREFIX-truncated
    embeddings vs the full-dimension exact top-k. This is the table an
    embedding-store owner reads before committing to a truncated index
    tier (store the first m dims hot, rerank with full vectors cold) —
    the same measure-don't-guess contract as ann_recall_at_k /
    ivf_recall_at_k, for the dimension axis instead of the bucketing
    axis.

    Both sides reuse :func:`brute_force_topk` (rounded-score + id
    tiebreak ranking, engine-portable); truncation is a JVM
    ``slice(vec, 1, m)`` — no UDF. Scale shape: the query set is the
    bounded broadcast side (house ANN-audit contract); one corpus scan
    per truncation width, each a broadcast-join scan with only
    k x |queries| rows surviving per width; the recall join is a tiny
    top-k x top-k frame. Returns one row per (m_dims, query) with
    n_exact / n_hits / recall_at_k (6dp).
    """
    # LAZY-checkpoint the full-width exact top-k: it is joined into
    # EVERY per-width union branch, and union branches share no
    # subtrees (the bm25/ivfpq shared-frame rule) — without the
    # checkpoint the most expensive scan in the operator re-runs
    # len(dims) times. eager=False (ADVICE r14): it still materializes
    # exactly once on the first action and serves every per-width
    # branch from the checkpoint, but BUILDING the frame (EXPLAIN,
    # plan audits, registry wiring) stays free like every other
    # operator here. The materialized frame is only k x |queries| rows.
    full = materialize_barrier(
        brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
        .select("query_id", "neighbor_id"),
        eager=False,
    )
    out: DataFrame | None = None
    for m in dims:
        tc = corpus.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, int(m)).alias(vec_col)
        )
        tq = queries.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, int(m)).alias(vec_col)
        )
        hits = (
            brute_force_topk(tc, tq, k=k, id_col=id_col, vec_col=vec_col)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        rec = (
            full.join(F.broadcast(hits), ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_exact"),
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
            .select(F.lit(int(m)).alias("m_dims"), "*")
        )
        out = rec if out is None else out.unionByName(rec)
    assert out is not None
    return out


def rrf_fuse(
    rankings: list[DataFrame],
    k_const: int = 60,
    k: int = 5,
) -> DataFrame:
    """Reciprocal-rank fusion (staged r14 wave 6; Cormack/Clarke/
    Buettcher 2009 — the fusion rule hybrid search stacks actually
    ship): given per-system rankings (query_id, neighbor_id, rank),

        rrf_score = Σ_systems 1 / (k_const + rank)

    summed over the systems that returned the pair, then the fused
    top-``k`` per query ranked by (rounded score desc, neighbor_id) —
    the house engine-portable ranking rule. Documents surfaced by
    SEVERAL retrievers beat documents surfaced high by one: the
    robustness property that makes RRF the default fuser for
    BM25 + dense hybrids.

    Scale shape: one unionAll of the per-system top-k frames (each
    k x |queries| rows — bounded by construction), one keyed
    aggregate, one PARTITIONED rank window on the fused (still
    bounded) grain. The 2-term float sum is commutative in IEEE;
    wider fusions are absorbed by the 6dp rounding before ranking.

    Returns (query_id, neighbor_id, n_systems, rrf_score, fused_rank).
    """
    u = rankings[0].select("query_id", "neighbor_id", "rank")
    for r in rankings[1:]:
        u = u.unionByName(r.select("query_id", "neighbor_id", "rank"))
    fused = u.groupBy("query_id", "neighbor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_systems"),
        F.round(
            F.sum(F.lit(1.0) / (F.lit(int(k_const)) + F.col("rank"))), 6
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= int(k))
        .select(
            "query_id",
            "neighbor_id",
            "n_systems",
            "rrf_score",
            F.col("fused_rank").cast("long").alias("fused_rank"),
        )
    )


def hybrid_rrf_retrieval(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    fetch_k: int = 10,
    trunc_dim: int = 8,
    k_const: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The composed hybrid: RRF-fuse the EXACT full-width cosine
    retriever with the cheap ``trunc_dim``-prefix retriever (the
    Matryoshka hot tier) — the two-tier topology a production store
    runs when the truncated index is the fast path and full vectors
    the quality path. Both sides reuse :func:`brute_force_topk`
    (rounded-score + id tiebreak), each fetching ``fetch_k``
    candidates before fusion."""
    full = brute_force_topk(
        corpus, queries, k=fetch_k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", "rank")
    tc = corpus.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, int(trunc_dim)).alias(vec_col)
    )
    tq = queries.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, int(trunc_dim)).alias(vec_col)
    )
    trunc = brute_force_topk(
        tc, tq, k=fetch_k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", "rank")
    return rrf_fuse([full, trunc], k_const=k_const, k=k)


def knn_graph_edges(
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 64,
) -> DataFrame:
    """Approximate kNN-GRAPH construction over the whole corpus
    (staged r17 wave 8) — the substrate graph-based curation stages
    consume: SemDeDup-style cluster refinement, NN-Descent seeding,
    graph-connectivity diversity audits, and kNN-classifier label
    propagation all start from "every vector's k nearest neighbors",
    not from a handful of query probes (Dong et al. 2011 NN-Descent;
    Abbas et al. 2023 SemDeDup both presuppose this table).

    For EVERY corpus vector: the k most-similar same-LSH-bucket
    candidates by 6dp-rounded cosine with an id tie-break (the house
    ANN ranking contract), plus ``is_mutual`` — whether the reverse
    edge also made the neighbor's own top-k (mutual-kNN is the edge
    set graph-clustering actually keeps; one-directional edges are the
    hubness symptom). Returns (src_id, dst_id, cos_sim, rank,
    is_mutual).

    Scale shape: candidates come from the sign-LSH bucket equi-join
    with the DATA-DERIVED plane count (:func:`lsh_bucket_assign_auto`
    — expected bucket size ~``target_bucket`` at any corpus scale, so
    in-bucket pair work stays ~n * target_bucket, never n²); norms are
    precomputed at the ROW grain before the self-join (the r10
    3x lesson); Spark 4's WindowGroupLimit bounds the rank shuffle to
    k rows per src per partition. The mutuality check is ONE
    self-equi-join of the k*n edge frame on the reversed key — edge-
    grain, not candidate-grain. The 1-row corpus-count cross rides the
    BNLJ_OK totals precedent; the edge frame is persist()ed so the
    top-k pass materializes once for both the output and the reversed
    probe (deliberate cache leak, session-rebuild/LRU bounded)."""
    coded = lsh_bucket_assign_auto(
        fan_out(corpus), dim, vec_col, target_bucket=target_bucket
    ).drop("n_planes")
    vcast = F.col(vec_col).cast("array<double>")
    a = coded.select(
        F.col(id_col).alias("src_id"), vcast.alias("_av"),
        l2_norm(vcast).alias("_an"), "bucket",
    )
    b = coded.select(
        F.col(id_col).alias("dst_id"), vcast.alias("_bv"),
        l2_norm(vcast).alias("_bn"), "bucket",
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select(
            "src_id",
            "dst_id",
            F.round(
                cosine_with_norms(
                    F.col("_av"), F.col("_bv"), F.col("_an"), F.col("_bn")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cos_sim").desc(), F.col("dst_id")
    )
    edges = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .persist()
    )
    rev = edges.select(
        F.col("dst_id").alias("src_id"),
        F.col("src_id").alias("dst_id"),
        F.lit(True).alias("_rev"),
    )
    return (
        edges.join(rev, ["src_id", "dst_id"], "left")
        .select(
            "src_id",
            "dst_id",
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
            F.coalesce("_rev", F.lit(False)).alias("is_mutual"),
        )
    )
