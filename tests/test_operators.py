"""As-of join, sessionization, quality gate, similarity (exact + LSH
recall), band join — semantics checked against small hand-computable
fixtures and brute-force references."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.operators.joins import asof_join, band_join
from datapipeline_spike_spark.operators.quality import outlier_gate
from datapipeline_spike_spark.operators.sessions import latest_per_key, sessionize
from datapipeline_spike_spark.operators.similarity import brute_force_topk, lsh_bucket_topk


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_asof_join_picks_latest_prior(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "p1"), (1, _ts(30), "p2"), (2, _ts(5), "p3")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts(0), 100.0), (1, _ts(20), 200.0), (1, _ts(40), 300.0), (3, _ts(0), 9.0)],
        "user_id long, ts timestamp, cal double",
    )
    out = {r["tag"]: r for r in asof_join(left, right, on=["user_id"], value_cols=["cal"]).collect()}
    assert out["p1"]["asof_cal"] == 100.0   # only ts=0 precedes minute 10
    assert out["p2"]["asof_cal"] == 200.0   # ts=20 is latest <= 30
    assert out["p3"]["asof_cal"] is None    # user 2 has no right rows


def test_asof_join_equal_ts_matches(spark):
    left = spark.createDataFrame([(1, _ts(10), "p")], "user_id long, ts timestamp, tag string")
    right = spark.createDataFrame([(1, _ts(10), 7.0)], "user_id long, ts timestamp, cal double")
    row = asof_join(left, right, on=["user_id"], value_cols=["cal"]).collect()[0]
    assert row["asof_cal"] == 7.0  # <= semantics: equal ts counts


def test_sessionize_gap_splits(spark):
    rows = [(1, _ts(0), 1), (1, _ts(10), 2), (1, dt.datetime(2024, 1, 1, 1, 0), 3)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {r["event_id"]: r["session_seq"] for r in sessionize(df).collect()}
    assert out[1] == out[2] == 1
    assert out[3] == 2  # 50-minute gap > 30 min


def test_sessionize_sub_second_gaps_match_epoch_double(spark):
    """Gaps are compared in fractional seconds, like the oracle's
    epoch(ts): 00:00:00.05 -> 00:30:00.95 is 1800.9 s (> 1800, new
    session) although whole seconds give 1800; 00:30:00.95 ->
    01:00:00.55 is 1799.6 s (same session)."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0, 50_000), 1),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0, 950_000), 2),
        (1, dt.datetime(2024, 1, 1, 1, 0, 0, 550_000), 3),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {r["event_id"]: r["session_seq"] for r in sessionize(df).collect()}
    assert out == {1: 1, 2: 2, 3: 2}


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "a", _ts(5), 10), (1, "a", _ts(5), 11), (1, "a", _ts(1), 99)],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    out = latest_per_key(df, ["user_id", "event_type"]).collect()
    assert len(out) == 1 and out[0]["event_id"] == 11  # same ts -> higher id wins


def test_outlier_gate_drops_spikes(spark):
    vals = [float(v) for v in (1, 2, 1, 2, 1, 2, 1, 2, 1000)]
    df = spark.createDataFrame([("g", v) for v in vals], "event_type string, value double")
    out = outlier_gate(df, "value", ["event_type"], z_threshold=2.0)
    kept = [r["value"] for r in out.collect()]
    assert 1000.0 not in kept and len(kept) == 8
    assert all(r >= 0 for r in kept)


def test_band_join_assigns_containing_interval(spark):
    left = spark.createDataFrame([(5,), (15,), (99,)], "v int")
    bands = spark.createDataFrame(
        [("lo", 0, 9), ("mid", 10, 19)], "band string, lo int, hi int"
    )
    out = {r["v"]: r["band"] for r in band_join(left, bands, "v").collect()}
    assert out[5] == "lo" and out[15] == "mid" and out[99] is None


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from datapipeline_spike_spark.plans.registry import load

    return load(spark, sf_dir, "embeddings")


def test_lsh_topk_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_bucket_topk(emb, queries, dim=64, k=5, n_planes=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 3 hyperplanes ~ 8 buckets: same-bucket probability for near
    # neighbors is high; random-split worst case still recovers > 30%
    assert recall > 0.3, f"LSH recall {recall}"
    # exact top-1 must be the true argmax cosine
    top1 = exact.filter(F.col("rank") == 1).count()
    assert top1 == 10


def test_salted_join_matches_plain_join(spark):
    """Skew-resistant join returns exactly the plain join's rows; the
    deterministic salt makes it replayable."""
    from datapipeline_spike_spark.scale import salted_join

    # hot key: 900 of 1000 left rows share key 7
    left = spark.createDataFrame(
        [(i, 7 if i < 900 else i % 50, float(i)) for i in range(1000)],
        "row_id long, k long, v double",
    )
    right = spark.createDataFrame([(k, f"dim_{k}") for k in range(50)], "k long, attr string")
    got = salted_join(left, right, ["k"], salt_buckets=8, left_unique_col="row_id")
    want = left.join(right, "k")
    assert got.count() == want.count() == 1000
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # determinism: same result twice
    again = salted_join(left, right, ["k"], salt_buckets=8, left_unique_col="row_id")
    import pytest

    # right-preserving joins would duplicate unmatched right rows once
    # per salt bucket — rejected
    with pytest.raises(ValueError, match="left-preserving"):
        salted_join(left, right, ["k"], how="right")
    assert again.exceptAll(got).count() == 0


def test_kmeans_quantizer_improves_over_init(spark, sf_dir):
    """Lloyd's invariant: mean assigned cosine (similarity analogue of
    inertia) must not get worse from the init quantizer to the trained
    one, and assignment counts must cover the corpus."""
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.functions.vectors import cosine
    from datapipeline_spike_spark.operators.similarity import kmeans_quantizer
    from datapipeline_spike_spark.plans.registry import load

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("vid"), F.col("embedding").cast("array<double>").alias("v")
    )
    n_total = emb.count()

    def mean_best_cos(cents):
        scored = emb.join(F.broadcast(cents)).select(
            "vid", cosine(F.col("v"), F.col("cvec")).alias("cos")
        )
        best = scored.groupBy("vid").agg(F.max("cos").alias("best"))
        return best.agg(F.avg("best")).collect()[0][0]

    init = emb.filter(F.col("vid") < 16).select(F.col("vid").alias("cent_id"), F.col("v").alias("cvec"))
    trained = kmeans_quantizer(load(spark, sf_dir, "embeddings"), k=16, iters=2)
    assert trained.agg(F.sum("n_assigned")).collect()[0][0] == n_total
    assert trained.count() <= 16
    assert mean_best_cos(trained.select("cent_id", "cvec")) >= mean_best_cos(init) - 1e-9


def test_blas_topk_matches_hof_topk(emb):
    """The Arrow/BLAS brute-force variant must return the same neighbor
    sets and (rounded) scores as the HOF form — same semantics, faster
    path for large query sets."""
    from datapipeline_spike_spark.operators.similarity import brute_force_topk_blas

    queries = emb.filter(F.col("vec_id") < 10)
    hof = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    blas = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in brute_force_topk_blas(emb, queries, k=5).collect()
    }
    assert set(hof) == set(blas)
    for key, v in hof.items():
        assert abs(blas[key] - v) < 1e-9


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """The sketch path for count(DISTINCT) at scale: HLL++ must land
    within its configured relative error of the exact count (the exact
    form shuffles every distinct value; the sketch shuffles a bounded
    buffer per group)."""
    from datapipeline_spike_spark.plans.registry import load

    ev = load(spark, sf_dir, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.06  # 3 sigma


def test_embedding_dedup_transitive_merge(spark):
    """Chain a~b (cos .5), b~c (cos .5), a!~c (cos -.5) at threshold
    0.4: all three must land in one component (transitive closure), the
    isolated vector in its own. n_planes=0 = single bucket, so the test
    exercises the component logic, not LSH recall."""
    import math

    from datapipeline_spike_spark.operators.similarity import embedding_dedup

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    df = spark.createDataFrame(
        [(1, at(0)), (2, at(60)), (3, at(120)), (9, at(250))],
        ["vec_id", "embedding"],
    )
    out = {
        r["vec_id"]: r["canonical_id"]
        for r in embedding_dedup(df, dim=2, threshold=0.4, n_planes=0).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 9: 9}


def test_kmv_estimate_accuracy_and_partition_invariance(spark):
    """KMV over 20k known-distinct values: the (k-1)/u_(k) estimate
    must land within the sketch's error envelope (~1/sqrt(k)), and the
    synopsis — hence the estimate — must not depend on partitioning."""
    from datapipeline_spike_spark.operators.sketches import kmv_distinct_estimate

    df = spark.range(20_000).select(F.col("id").cast("string").alias("v"))
    est = kmv_distinct_estimate(df, "v", k=64).collect()[0]
    assert est["k"] == 64
    assert abs(est["kmv_estimate"] - 20_000) / 20_000 < 0.5  # 4x the 1-sigma bound
    est2 = kmv_distinct_estimate(df.repartition(17), "v", k=64).collect()[0]
    assert est2["kmv_estimate"] == est["kmv_estimate"]


def test_kmv_underfull_regime_is_exact(spark):
    from datapipeline_spike_spark.operators.sketches import kmv_distinct_estimate

    df = spark.range(10).select(F.col("id").cast("string").alias("v"))
    # duplicates must not add synopsis slots
    est = kmv_distinct_estimate(df.union(df), "v", k=64).collect()[0]
    assert est["k"] == 10
    assert est["kmv_estimate"] == 10.0


def test_heavy_hitters_exact_and_partition_invariant(spark):
    """Two-pass frequent items: output must be EXACTLY the values with
    freq > n/k (with exact counts), regardless of partition layout —
    the candidate pass may vary, the result may not."""
    from datapipeline_spike_spark.operators.sketches import heavy_hitters

    # 1000 rows: 'hot' x 400, 'warm' x 90, 51 cold values x 10
    rows = (
        [("hot",)] * 400
        + [("warm",)] * 90
        + [(f"cold{i}",) for i in range(51) for _ in range(10)]
    )
    df = spark.createDataFrame(rows, "v string")
    for frame in (df, df.repartition(23)):
        out = {r["v"]: r["freq"] for r in heavy_hitters(frame, "v", k=10).collect()}
        assert out == {"hot": 400}  # threshold 100: warm (90) excluded
        out2 = {r["v"]: r["freq"] for r in heavy_hitters(frame, "v", k=12).collect()}
        assert out2 == {"hot": 400, "warm": 90}  # threshold ~83.3


def test_referential_integrity_audit_detects_planted_orphans(spark, tmp_path):
    """The audit must COUNT orphans, not just report zero on clean data:
    plant FK violations in a copied star schema and assert exact counts."""
    import shutil

    from datapipeline_spike_spark.plans import REGISTRY
    from datapipeline_spike_spark.plans.registry import load

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "dirty")
    import os

    os.makedirs(d, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        shutil.copy(f"{src}/{t}.parquet", f"{d}/{t}.parquet")
    # plant: 3 orders pointing at nonexistent customers, 5 lineitems at
    # a nonexistent order
    o = load(spark, src, "orders")
    dirty_o = o.limit(3).select(
        "o_orderkey",
        (F.col("o_custkey") + 10_000_000).alias("o_custkey"),
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    o.unionByName(dirty_o).coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    li = load(spark, src, "lineitem")
    dirty_li = li.limit(5).withColumn("l_orderkey", F.col("l_orderkey") + 10_000_000)
    li.unionByName(dirty_li).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")

    got = {
        r["relation"]: (r["n_rows"], r["n_orphans"])
        for r in REGISTRY["referential_integrity_audit"].spark(spark, d).collect()
    }
    n_orders = o.count()
    n_li = li.count()
    assert got["orders->customer"] == (n_orders + 3, 3)
    # the 3 dirty orders are REAL parents for their lineitems (same
    # o_orderkey), so lineitem orphans are exactly the 5 planted ones
    assert got["lineitem->orders"] == (n_li + 5, 5)
    assert got["customer->nation"][1] == 0
    assert got["supplier->nation"][1] == 0


def test_quality_filter_branches_fire_on_planted_docs(spark, tmp_path):
    """Every reject rule must fire on a doc built to violate exactly it
    (the corpus exercises only 3 of 5 branches)."""
    import os

    from datapipeline_spike_spark.plans import REGISTRY

    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    good = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the window and the birds sing in the garden")
    rows = [
        (1, good, "en", "src0", len(good)),
        (2, "short text", "en", "src0", 10),                      # too_short
        (3, " ".join(["a"] * 30), "en", "src0", 59),              # word_length (mean 1)
        (4, good + " " + "!@#$%^&*()" * 40, "en", "src0", 500),   # symbol_heavy
        (5, " ".join(["alpha beta gamma"] * 12), "en", "src0", 200),  # repetitive (3 distinct/36)
        (6, "zebra quagga okapi tapir lemur fossa dingo vicuna "
            "gerenuk markhor serow takin urial argali saola banteng",
         "en", "src0", 120),                                      # no_stopwords
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: (r["reject_reason"], r["keep"])
        for r in REGISTRY["quality_filter_decision"].spark(spark, d).collect()
    }
    assert got[1] == (None, True)
    assert got[2] == ("too_short", False)
    assert got[3] == ("word_length", False)
    assert got[4] == ("symbol_heavy", False)
    assert got[5] == ("repetitive", False)
    assert got[6] == ("no_stopwords", False)


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """The 100 TB quantile path (percentile_approx, a mergeable
    Greenwald-Khanna-style sketch) must land within its documented
    rank-error envelope of the exact percentile — the accuracy knob is
    1/rank_error, so accuracy=100 guarantees |rank_est - rank_true|
    <= n/100."""
    from datapipeline_spike_spark.plans.registry import load

    li = load(spark, sf_dir, "lineitem")
    n = li.count()
    for p in (0.25, 0.5, 0.9):
        approx, exact = li.select(
            F.percentile_approx("l_extendedprice", p, 100).alias("a"),
            F.expr(f"percentile(l_extendedprice, {p})").alias("e"),
        ).collect()[0]
        # convert the value gap to a RANK gap: count of rows the two
        # cut points disagree on must be within n/100 (+1 slack for the
        # interpolated exact value falling between data points)
        lo, hi = sorted((approx, exact))
        rank_gap = li.filter(
            (F.col("l_extendedprice") > lo) & (F.col("l_extendedprice") <= hi)
        ).count()
        assert rank_gap <= n / 100 + 1, (p, approx, exact, rank_gap, n)


def test_fixed_size_sample_bottom_k_stability(spark):
    """The docstring's claim under test: adding ONE new document to a
    stratum displaces AT MOST ONE member of its fixed-size sample (the
    bottom-k property), and reruns are identical."""
    from datapipeline_spike_spark.operators.sampling import hash_u01
    from pyspark.sql import Window

    R_SIZE = 10

    def sample_ids(docs):
        w = Window.partitionBy("lang").orderBy(hash_u01("doc_id"), "doc_id")
        return {
            r["doc_id"]
            for r in docs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= R_SIZE)
            .collect()
        }

    base = spark.createDataFrame(
        [(i, "en") for i in range(200)], "doc_id long, lang string"
    )
    s1 = sample_ids(base)
    assert len(s1) == R_SIZE
    assert sample_ids(base) == s1  # rerun-stable
    # grow the corpus by one doc: the sample changes by at most one member
    grown = base.union(
        spark.createDataFrame([(10_000, "en")], "doc_id long, lang string")
    )
    s2 = sample_ids(grown)
    assert len(s2) == R_SIZE
    assert len(s1 - s2) <= 1 and len(s2 - s1) <= 1


def test_scd2_history_run_collapse_and_intervals(spark):
    """scd2_history: consecutive same-state events collapse into one
    version; a RETURN to an earlier state opens a NEW version (type-2,
    not type-1); intervals chain exactly (valid_to == next valid_from)
    and only the last version per key is current."""
    from datetime import datetime

    from datapipeline_spike_spark.operators.sessions import scd2_history

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: A A B A  -> versions A[0,2) B[2,3) A[3,None)
        (1, "A", t(0), 10),
        (1, "A", t(1), 11),
        (1, "B", t(2), 12),
        (1, "A", t(3), 13),
        # user 2: single state, many events -> one current version
        (2, "X", t(0), 20),
        (2, "X", t(5), 21),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, state string, ts timestamp, event_id long"
    )
    out = scd2_history(df, ["user_id"], "state", "ts", "event_id")
    got = {
        (r["user_id"], r["version"]): (
            r["state"], r["valid_from"].second,
            r["valid_to"].second if r["valid_to"] else None,
            r["last_event_ts"].second, r["is_current"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, 1): ("A", 0, 2, 1, False),   # run A A: last confirmed at t=1
        (1, 2): ("B", 2, 3, 2, False),
        (1, 3): ("A", 3, None, 3, True),
        (2, 1): ("X", 0, None, 5, True),  # last confirmed at t=5
    }
    # interval chaining: every non-current valid_to equals the next
    # version's valid_from (no gaps, no overlaps)
    for (u, v), (_, _, vt, _last, cur) in got.items():
        if not cur:
            assert got[(u, v + 1)][1] == vt


def test_scd2_history_null_state_opens_version(spark):
    """NULL states are values (r5 advice): A NULL A yields THREE
    versions (null-safe run collapse, SQL twin IS DISTINCT FROM); a
    NULL NULL run still collapses; a key whose FIRST event is NULL
    opens version 1."""
    from datetime import datetime

    from datapipeline_spike_spark.operators.sessions import scd2_history

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: A NULL NULL A -> A[0,1) NULL[1,3) A[3,None)
        (1, "A", t(0), 10),
        (1, None, t(1), 11),
        (1, None, t(2), 12),
        (1, "A", t(3), 13),
        # user 2: starts NULL -> NULL[0,1) B[1,None)
        (2, None, t(0), 20),
        (2, "B", t(1), 21),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, state string, ts timestamp, event_id long"
    )
    out = scd2_history(df, ["user_id"], "state", "ts", "event_id")
    got = {
        (r["user_id"], r["version"]): (
            r["state"],
            r["valid_from"].second,
            r["valid_to"].second if r["valid_to"] else None,
            r["is_current"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, 1): ("A", 0, 1, False),
        (1, 2): (None, 1, 3, False),
        (1, 3): ("A", 3, None, True),
        (2, 1): (None, 0, 1, False),
        (2, 2): ("B", 1, None, True),
    }


def test_l2_sq_matches_manual(spark):
    from datapipeline_spike_spark.functions.vectors import l2_sq

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [1.0, 0.0, 5.0])], "a array<double>, b array<double>"
    )
    got = df.select(l2_sq("a", "b").alias("d")).collect()[0]["d"]
    assert got == 0.0 + 4.0 + 4.0


def test_pq_lloyd_iterations_reduce_distortion(spark, sf_dir):
    """Lloyd's guarantee survives the fixed-point determinism plumbing:
    corpus-total quantization error after 2 assign+update rounds is <=
    after 1 round, in every subspace."""
    from datapipeline_spike_spark.operators.similarity import pq_distortion_profile
    from datapipeline_spike_spark.plans.registry import load

    emb = load(spark, sf_dir, "embeddings")

    def total_err(iters):
        rows = pq_distortion_profile(emb, dim=64, m=4, k=8, iters=iters).collect()
        per_s = {}
        for r in rows:
            per_s[r["s"]] = per_s.get(r["s"], 0.0) + r["avg_sq_error"] * r["n_assigned"]
        return per_s

    e1, e2 = total_err(1), total_err(2)
    assert set(e1) == set(e2) == {0, 1, 2, 3}
    for s in e1:
        assert e2[s] <= e1[s] + 1e-6, f"subspace {s}: {e1[s]} -> {e2[s]}"


def test_pq_codebooks_shape_and_assignment_cover(spark, sf_dir):
    from datapipeline_spike_spark.operators.similarity import pq_codebooks
    from datapipeline_spike_spark.plans.registry import load

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    cents = pq_codebooks(emb, dim=64, m=4, k=8, iters=1).collect()
    by_s = {}
    for r in cents:
        assert len(r["cvec"]) == 16  # subvector width
        by_s.setdefault(r["s"], []).append(r)
    assert set(by_s) == {0, 1, 2, 3}
    for s, rows in by_s.items():
        assert len(rows) <= 8
        # every corpus vector lands in exactly one centroid per subspace
        assert sum(r["n_assigned"] for r in rows) == n


@pytest.mark.parametrize(
    "kwargs, match",
    [({"iters": 0}, "iters"), ({"dim": 64, "m": 5}, "divisible")],
    ids=["iters_zero", "dim_not_divisible"],
)
def test_pq_codebooks_rejects_bad_parameters(spark, sf_dir, kwargs, match):
    """No silent empty frame for iters=0, and the subspace split is a
    ValueError that ``python -O`` cannot strip."""
    from datapipeline_spike_spark.operators.similarity import pq_codebooks
    from datapipeline_spike_spark.plans.registry import load

    emb = load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match=match):
        pq_codebooks(emb, **{"dim": 64, "m": 4, "k": 8, "iters": 1, **kwargs})


@pytest.mark.parametrize(
    "op, kwargs, match",
    [
        ("ivf_topk", {"k": 0}, "k >= 1"),
        ("ivf_topk", {"n_probe": 0}, "n_probe >= 1"),
        ("ivfpq_topk", {"dim": 8, "k": 0}, "k >= 1"),
        ("ivfpq_topk", {"dim": 8, "n_probe": 0}, "n_probe >= 1"),
        ("ivfpq_topk", {"dim": 8, "m": 3}, "divisible"),
    ],
    ids=["ivf_k_zero", "ivf_probe_zero", "ivfpq_k_zero", "ivfpq_probe_zero",
         "ivfpq_dim_not_divisible"],
)
def test_ivf_rejects_bad_parameters(spark, op, kwargs, match):
    """Parameters that would return an empty frame (or trip an assert
    that ``python -O`` strips) are a ValueError before any job runs."""
    from datapipeline_spike_spark.operators import similarity

    vecs = [(i, [float((i * 7 + d) % 11) for d in range(8)]) for i in range(60)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id < 3")
    with pytest.raises(ValueError, match=match):
        getattr(similarity, op)(corpus, queries, **kwargs)


def test_pq_adc_lossless_when_codebook_covers_corpus(spark):
    """ADC sanity bound: with one centroid per corpus vector the
    encoding is lossless (every vector is its own centroid, all
    quantization distances 0), so ADC top-k must equal exact L2 top-k
    — recall would be 1.0 by construction."""
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.functions.vectors import l2_sq
    from datapipeline_spike_spark.operators.similarity import pq_adc_topk
    from datapipeline_spike_spark.plans.registry import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 64
    )
    queries = emb.filter(F.col("vec_id") < 3)
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in pq_adc_topk(
            emb, queries, dim=64, m=4, k_codebook=64, iters=1, k=5
        ).collect()
    }
    from pyspark.sql import Window

    qv = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").cast("array<double>").alias("fv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").cast("array<double>").alias("cv"))
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    exact = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in cv.crossJoin(F.broadcast(qv))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(l2_sq("fv", "cv"), 6).alias("dist"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .collect()
    }
    assert approx == exact


def test_interval_overlap_join_dedups_and_filters_exactly(spark):
    """Bucket decomposition must be invisible: pairs spanning MANY
    shared buckets appear exactly once, bucket neighbors that do not
    overlap are filtered, and point-touching intervals count (closed
    bounds) — all checked against an itertools reference."""
    import itertools
    from datetime import datetime, timedelta

    from datapipeline_spike_spark.operators.joins import interval_overlap_join

    t0 = datetime(2024, 1, 1)

    def iv(name, start_h, end_h):
        return (name, t0 + timedelta(hours=start_h), t0 + timedelta(hours=end_h))

    left = [
        iv("l_long", 0, 120),     # spans 6 day-buckets
        iv("l_short", 30, 31),
        iv("l_point", 50, 50),
        iv("l_late", 200, 210),
    ]
    right = [
        iv("r_long", 10, 100),    # shares many buckets with l_long
        iv("r_touch", 31, 40),    # touches l_short at exactly h=31
        iv("r_neighbor", 52, 60), # same bucket as l_point, no overlap
        iv("r_far", 400, 410),
    ]
    ldf = spark.createDataFrame(left, "lid string, ls timestamp, le timestamp")
    rdf = spark.createDataFrame(right, "rid string, rs timestamp, re timestamp")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, ("ls", "le"), ("rs", "re")
        ).collect()
    )
    want = sorted(
        (ln, rn)
        for (ln, l1, l2), (rn, r1, r2) in itertools.product(left, right)
        if l1 <= r2 and r1 <= l2
    )
    assert got == want
    assert ("l_long", "r_long") in got          # multi-bucket pair: once
    assert ("l_short", "r_touch") in got        # closed-bound touch
    assert ("l_point", "r_neighbor") not in got # bucket neighbor, no overlap


def test_bpe_merges_match_reference_procedure(spark):
    """Three merge rounds on a corpus with known statistics: tie on the
    top count resolves lexicographically, merged symbols participate in
    later rounds, and the greedy fold collapses overlapping runs
    left-to-right ('aaa' + pair (a,a) -> 'aa','a')."""
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.operators.bpe import bpe_merges

    docs = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "low low")], "doc_id long, text string"
    )
    rows = sorted(
        (r["step"], r["p1"], r["p2"], r["pair_count"], r["merged"])
        for r in bpe_merges(docs, n_merges=3).collect()
    )
    # (l,o) and (o,w) both count 5; 'l' < 'o' wins the tie
    assert rows[0] == (1, "l", "o", 5, "lo")
    assert rows[1] == (2, "lo", "w", 5, "low")
    assert rows[2] == (3, "low", "e", 2, "lowe")

    # greedy left-to-right on overlapping runs
    aaa = spark.createDataFrame([(0, "aaa aaa")], "doc_id long, text string")
    r1 = sorted(
        (r["step"], r["p1"], r["p2"], r["pair_count"])
        for r in bpe_merges(aaa, n_merges=2).collect()
    )
    # round 1: (a,a) counted at BOTH positions per word (overlap allowed
    # in counting) = 2 per word * 2 words; merge leaves [aa, a]
    assert r1[0] == (1, "a", "a", 4)
    # round 2: the only remaining pair is (aa, a)
    assert r1[1] == (2, "aa", "a", 2)


def test_interval_overlap_join_auto_width_and_guards(spark):
    """r7: bucket_seconds=None derives the width in-plan (p95 interval
    length) and must be result-invisible — same itertools reference,
    including a pathological interval 100x longer than the p95 (spans
    many auto buckets, still exactly once). Shared column names raise
    loudly, and a '_b' input column no longer collides (r6 advice)."""
    import itertools
    from datetime import datetime, timedelta

    import pytest as _pytest

    from datapipeline_spike_spark.operators.joins import interval_overlap_join

    t0 = datetime(2024, 1, 1)

    def iv(name, start_m, end_m):
        return (name, t0 + timedelta(minutes=start_m), t0 + timedelta(minutes=end_m))

    # typical length ~30-60 min -> auto width ~ p95 of that; the
    # pathological 4-day interval spans ~100 auto buckets
    left = [iv(f"l{i}", i * 47, i * 47 + 30 + i % 31) for i in range(40)] + [
        iv("l_patho", 100, 100 + 4 * 24 * 60)
    ]
    right = [iv(f"r{i}", i * 53 + 11, i * 53 + 41 + i % 17) for i in range(40)] + [
        iv("r_patho", 500, 500 + 3 * 24 * 60)
    ]
    ldf = spark.createDataFrame(left, "lid string, ls timestamp, le timestamp")
    rdf = spark.createDataFrame(right, "rid string, rs timestamp, re timestamp")
    want = sorted(
        (ln, rn)
        for (ln, l1, l2), (rn, r1, r2) in itertools.product(left, right)
        if l1 <= r2 and r1 <= l2
    )
    got_auto = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, ("ls", "le"), ("rs", "re"), bucket_seconds=None
        ).collect()
    )
    assert got_auto == want
    assert ("l_patho", "r_patho") in want  # the long pair is exercised

    # a '_b' column on an input must not collide with the bucket temp
    got_b = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf.withColumn("_b", F.lit(99)),
            rdf,
            ("ls", "le"),
            ("rs", "re"),
            bucket_seconds=None,
        ).collect()
    )
    assert got_b == want

    with _pytest.raises(ValueError, match="disjoint column names"):
        interval_overlap_join(
            ldf, rdf.withColumnRenamed("rs", "ls"), ("ls", "le"), ("ls", "re")
        )


def test_bpe_checkpointing_is_result_invisible(spark):
    """r7: the every-N-rounds localCheckpoint bounds plan depth; the
    merge sequence must be identical with and without it."""
    from datapipeline_spike_spark.operators.bpe import bpe_merges

    docs = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "low low newer newest wide wider")],
        "doc_id long, text string",
    )

    def run(ck):  # ck = lazy_rounds: 2 forces per-round checkpoints, 100 stays lazy
        return sorted(
            (r["step"], r["p1"], r["p2"], r["pair_count"], r["merged"])
            for r in bpe_merges(docs, n_merges=6, lazy_rounds=ck).collect()
        )

    assert run(2) == run(100)


def test_bpe_encode_stats_lossless_and_consistent(spark):
    """Every corpus word is in the trained vocabulary (the encode join
    drops nothing), and the per-doc unit counts replay the greedy fold
    by hand."""
    from datapipeline_spike_spark.operators.bpe import (
        bpe_encode_stats,
        bpe_merges,
        bpe_vocabulary,
    )

    docs = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "low low"), (2, "newest newest wide")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bpe_encode_stats(docs, n_merges=3).collect()}
    # lossless: every doc present, n_words == its token count
    assert rows[0]["n_words"] == 3 and rows[1]["n_words"] == 2 and rows[2]["n_words"] == 3
    # replay: merges are (l,o)->(lo,w)->(low, e) per the training test;
    # after 3 merges: low->[low](1), lower->[low,e,r](3)... lowe merged
    merges = [
        (r["p1"], r["p2"])
        for r in sorted(bpe_merges(docs, n_merges=3).collect(), key=lambda r: r["step"])
    ]

    def encode(word):
        s = list(word)
        for p1, p2 in merges:
            out = []
            for ch in s:
                if out and out[-1] == p1 and ch == p2:
                    out[-1] = p1 + p2
                else:
                    out.append(ch)
            s = out
        return s

    vocab = {r["w"]: r["s"] for r in bpe_vocabulary(docs, n_merges=3).collect()}
    for w, s in vocab.items():
        assert s == encode(w), (w, s, encode(w))
    for did, words in ((0, ["low", "lower", "lowest"]), (1, ["low", "low"])):
        assert rows[did]["n_units"] == sum(len(encode(w)) for w in words)


def test_sq8_topk_ranks_duplicates_first_and_codes_bounded(spark):
    """SQ8 codes are uint8-bounded, an exact duplicate ranks first at
    integer distance 0, and a far vector ranks last."""
    from datapipeline_spike_spark.operators.similarity import (
        sq8_codes,
        sq8_stats,
        sq8_topk,
    )

    dim = 8
    base = [float(i) for i in range(dim)]
    far = [100.0 - i for i in range(dim)]
    near = [v + 0.4 for v in base]
    emb = spark.createDataFrame(
        [(0, base), (1, list(base)), (2, near), (3, far)],
        "vec_id long, embedding array<float>",
    )
    stats = sq8_stats(emb, dim)
    codes = {
        r["vec_id"]: r["code"] for r in sq8_codes(emb, stats).collect()
    }
    assert all(0 <= c <= 255 for code in codes.values() for c in code)
    assert codes[0] == codes[1]  # identical vectors -> identical codes
    top = sq8_topk(emb, emb.filter("vec_id = 0"), dim=dim, k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert ranked[0] == 1 and ranked[-1] == 3
    assert [r["d2"] for r in sorted(top, key=lambda r: r["rank"])][0] == 0


def test_cluster_balanced_sample_budgets_and_determinism(spark):
    """Every cluster contributes at most per_cluster vectors, sampled
    ids are stable across invocations, and a planted dominant cluster
    cannot exceed its budget."""
    from datapipeline_spike_spark.operators.similarity import cluster_balanced_sample

    import math

    # 40 vectors near axis 0 (dominant topic), 6 near axis 1 (tail)
    rows = []
    for i in range(40):
        v = [1.0] + [0.001 * (i % 7)] * 7
        rows.append((i, v))
    for i in range(6):
        v = [0.001 * (i % 5)] + [1.0] + [0.0] * 6
        rows.append((100 + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cluster_balanced_sample(emb, k=2, iters=2, per_cluster=4).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cent_id"], []).append(r["vec_id"])
    assert all(len(v) <= 4 for v in by_cluster.values())
    # the dominant topic is capped at 4 despite 40 members
    assert sum(len(v) for v in by_cluster.values()) <= 8
    again = sorted(
        (r["vec_id"], r["cent_id"], r["samp_rank"])
        for r in cluster_balanced_sample(emb, k=2, iters=2, per_cluster=4).collect()
    )
    assert again == sorted((r["vec_id"], r["cent_id"], r["samp_rank"]) for r in out)


def test_bpe_encode_oov_falls_back_to_characters(spark):
    """Applying a trained tokenizer to a NEW batch: unseen words take
    the character-segmentation fallback (|word| units), seen words use
    their trained segmentation."""
    from datapipeline_spike_spark.operators.bpe import (
        bpe_encode_stats,
        bpe_vocabulary,
    )
    from datapipeline_spike_spark.functions.text import tokens as _  # noqa: F401

    train = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "low low")], "doc_id long, text string"
    )
    # encode a batch that contains an OOV word: build the stats frame
    # by hand from the trained vocabulary (the operator path trains on
    # the SAME frame it encodes; cross-batch application composes
    # bpe_vocabulary(train) with a new batch's tokens — replicate that)
    from pyspark.sql import functions as F

    vocab = bpe_vocabulary(train, n_merges=3).select(
        "w", F.size("s").alias("units_w"), F.length("w").alias("chars_w")
    )
    new_batch = spark.createDataFrame(
        [(9, "low zebra")], "doc_id long, text string"
    )
    dtoks = new_batch.select(
        "doc_id", F.explode(F.array_remove(F.split(F.lower("text"), r"[^a-z0-9']+"), "")).alias("w")
    )
    out = (
        dtoks.join(vocab, "w", "left")
        .withColumn("units_w", F.coalesce(F.col("units_w"), F.length("w")))
        .groupBy("doc_id")
        .agg(F.sum("units_w").alias("n_units"), F.count(F.lit(1)).alias("n_words"))
        .collect()[0]
    )
    # 'low' -> 1 unit after 3 merges; 'zebra' OOV -> 5 character units
    assert out["n_words"] == 2 and out["n_units"] == 1 + 5

    # and the operator itself (same-corpus path) is unchanged
    rows = {r["doc_id"]: r for r in bpe_encode_stats(train, n_merges=3).collect()}
    assert rows[1]["n_units"] == 2  # 'low' + 'low' -> 1 unit each


def test_sq8_out_of_grid_query_codes_clamp(spark):
    """A query vector outside the corpus grid (stale-index case) clamps
    to [0, 255] instead of leaving uint8 range and corrupting integer
    distances."""
    from datapipeline_spike_spark.operators.similarity import sq8_codes, sq8_stats

    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])], "vec_id long, embedding array<float>"
    )
    stats = sq8_stats(corpus, dim=2)
    outside = spark.createDataFrame(
        [(9, [-5.0, 25.0])], "vec_id long, embedding array<float>"
    )
    code = sq8_codes(outside, stats).collect()[0]["code"]
    assert code == [0, 255]


def test_cluster_balanced_sample_empty_corpus(spark):
    from datapipeline_spike_spark.operators.similarity import cluster_balanced_sample

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = cluster_balanced_sample(empty, k=4, iters=1)
    assert out.count() == 0
    assert out.columns == ["vec_id", "cent_id", "samp_rank"]


def test_bottom_k_per_group_matches_naive_window_with_dominant_stratum(spark):
    """The salted two-phase bottom-k must equal the naive per-group
    window ROW FOR ROW (ranks included) on a planted skewed corpus where
    one stratum holds ~90% of the rows — the exact shape where the
    naive Window.partitionBy(lang) funnels everything through one
    reducer at scale."""
    from pyspark.sql import Window

    from datapipeline_spike_spark.operators.sampling import (
        bottom_k_per_group,
        hash_u01,
    )

    rows = [(i, "en") for i in range(900)] + [
        (1000 + i, lang) for i, lang in enumerate(["de", "fr", "ja"] * 30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string").select(
        "lang", "doc_id", hash_u01("doc_id").alias("_u")
    )
    k = 25
    naive_w = Window.partitionBy("lang").orderBy("_u", "doc_id")
    naive = {
        (r["lang"], r["doc_id"], r["rnk"])
        for r in docs.withColumn("rnk", F.row_number().over(naive_w))
        .filter(F.col("rnk") <= k)
        .collect()
    }
    salted = {
        (r["lang"], r["doc_id"], r["rnk"])
        for r in bottom_k_per_group(
            docs.repartition(16), ["lang"], ["_u", "doc_id"], k
        ).collect()
    }
    assert salted == naive
    # the dominant stratum is capped at k, small strata keep all rows
    by_lang = {}
    for lang, _, _ in salted:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    assert by_lang == {"en": k, "de": k, "fr": k, "ja": k}


def test_approx_percentile_bands_close_to_exact_ntile(spark):
    """The percent_rank scale path: approximate quantile banding must
    agree with exact ntile within the sketch's rank-error bound, be
    map-only after the broadcast threshold join (no per-group global
    sort of the data), and keep every input column."""
    from pyspark.sql import Window

    from datapipeline_spike_spark.operators.ranks import approx_percentile_bands

    rows = [(f"g{i % 3}", i, float((i * 37) % 1000)) for i in range(3000)]
    df = spark.createDataFrame(rows, "seg string, rid long, v double")
    out = approx_percentile_bands(df, ["seg"], "v", n_bands=10)
    assert set(out.columns) == {"seg", "rid", "v", "band"}
    w = Window.partitionBy("seg").orderBy("v", "rid")
    exact = df.withColumn("xb", F.ntile(10).over(w))
    joined = out.join(exact, ["seg", "rid", "v"]).select("band", "xb").collect()
    assert len(joined) == 3000
    off = [abs(r["band"] - r["xb"]) for r in joined]
    # high accuracy on 1000 rows/group: nearly everything lands exactly;
    # ties at thresholds may slip one band
    assert max(off) <= 1
    assert sum(1 for d in off if d == 0) >= 0.95 * len(off)
    # plan shape: one aggregate (the sketch), no Window over the data
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_approx_percentile_bands_validates_n_bands(spark):
    import pytest as _pytest

    from datapipeline_spike_spark.operators.ranks import approx_percentile_bands

    df = spark.createDataFrame([("a", 1.0)], "seg string, v double")
    with _pytest.raises(ValueError, match="n_bands"):
        approx_percentile_bands(df, ["seg"], "v", n_bands=1)


def test_perplexity_buckets_rank_gibberish_into_tail(spark):
    """CCNet bucketing: per language, gibberish (vocabulary-outlier)
    docs must land in the tail bucket and fluent docs in the head; each
    language is bucketed against its OWN model."""
    from datapipeline_spike_spark.operators.quality import perplexity_buckets

    fluent_en = "the data query join table stream the data query join "
    fluent_de = "der die das und oder aber der die das und "
    rows = (
        [(i, "en", fluent_en * 4) for i in range(12)]
        + [(100 + i, "en", f"zx{i}q wv{i}k jj{i}p qq{i}m " * 4) for i in range(4)]
        + [(200 + i, "de", fluent_de * 4) for i in range(12)]
        + [(300 + i, "de", f"yy{i}h xx{i}g ww{i}f " * 4) for i in range(4)]
    )
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = perplexity_buckets(d).collect()
    assert {r["bucket_label"] for r in out} <= {"tail", "middle", "head"}
    by_id = {r["doc_id"]: r for r in out}
    # gibberish: strictly lower logprob than every fluent doc of its lang
    for gib, flu in [(100, 0), (300, 200)]:
        assert by_id[gib]["avg_logprob"] < by_id[flu]["avg_logprob"]
        assert by_id[gib]["bucket_label"] == "tail"
    # fluent docs (75% of each lang, all tied at the top) sit above tail
    assert by_id[0]["bucket"] > by_id[100]["bucket"]
    assert by_id[200]["bucket"] > by_id[300]["bucket"]
    # languages bucket independently: every lang has its own tail
    assert {r["lang"] for r in out if r["bucket_label"] == "tail"} == {"en", "de"}


def test_deterministic_shuffle_is_layout_invariant_and_seeded(spark):
    """The training-data shuffle contract: (shard, order) depend only on
    (key, seed) — identical across input partitionings; different seeds
    produce a genuinely different permutation; shards are within [0, n)
    and roughly balanced."""
    from datapipeline_spike_spark.operators.sampling import deterministic_shuffle

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(2000)], "doc_id long, text string"
    )

    def run(frame, seed):
        return {
            r["doc_id"]: (r["shard"], r["shuffle_u"])
            for r in deterministic_shuffle(frame, "doc_id", 8, seed=seed).collect()
        }

    s0 = run(df, 0)
    assert run(df.repartition(13), 0) == s0          # layout-invariant
    s1 = run(df, 1)
    assert s0 != s1                                   # epoch reshuffle
    moved = sum(1 for k in s0 if s0[k][0] != s1[k][0])
    assert moved > 1000                               # ...a real one
    shards = [v[0] for v in s0.values()]
    assert set(shards) <= set(range(8))
    from collections import Counter

    counts = Counter(shards)
    assert max(counts.values()) < 2 * 2000 / 8       # no degenerate shard
    # within-shard order keys are (almost surely) collision-free here
    assert len({v for v in s0.values()}) == 2000


def test_bigram_logprob_scores_word_order(spark):
    """The bigram scorer must separate what the unigram scorer cannot:
    docs reusing the SAME common vocabulary in scrambled order score
    strictly below the fluent docs that define the corpus transitions."""
    from datapipeline_spike_spark.operators.quality import bigram_logprob_score

    fluent = "the data pipeline reads the data table and joins the data stream"
    scrambled = "data the joins stream reads pipeline data the and table data the"
    rows = [(i, fluent) for i in range(20)] + [(100, scrambled), (101, fluent)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_logprob_score(d).collect()}
    assert out[100]["avg_logprob"] < out[0]["avg_logprob"]
    assert out[101]["avg_logprob"] == out[0]["avg_logprob"]  # same text, same score
    # same token multiset: a unigram model sees (almost) no difference —
    # the separation above is genuinely transition-driven
    assert sorted(fluent.split()) == sorted(scrambled.split())
    # docs with < 2 tokens are dropped
    short = spark.createDataFrame([(1, "word")], "doc_id long, text string")
    assert bigram_logprob_score(short).count() == 0


def test_review_fix_regressions_r8(spark):
    """Round-8 review fixes, pinned in one batch:
    (1) approx banding gives NULL band for NULL values (not band 1);
    (2) paragraph_dedup treats sep literally (". " is two characters,
        not a regex) and keeps empty/whitespace docs as empty-text rows;
    (3) quality_gated_stream refuses ANY colliding working column."""
    import pytest as _pytest

    from datapipeline_spike_spark.operators.dedup import paragraph_dedup
    from datapipeline_spike_spark.operators.ranks import approx_percentile_bands
    from datapipeline_spike_spark.streaming.pipeline import quality_gated_stream

    # (1) NULL value -> NULL band
    df = spark.createDataFrame(
        [("g", 1, 1.0), ("g", 2, 2.0), ("g", 3, 3.0), ("g", 4, None)],
        "grp string, rid long, v double",
    )
    bands = {r["rid"]: r["band"] for r in
             approx_percentile_bands(df, ["grp"], "v", n_bands=2).collect()}
    assert bands[4] is None and bands[1] == 1

    # (2) literal separator + empty-doc row
    d = spark.createDataFrame(
        [
            (1, "first sentence. second sentence"),
            (2, "first sentence. third sentence"),
            (3, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(d, sep=". ").collect()}
    assert out[1]["text"] == "first sentence. second sentence"  # joined verbatim
    assert out[2]["text"] == "third sentence"                    # shared sentence deduped
    assert out[3]["text"] == "" and out[3]["n_paragraphs"] == 0  # doc not dropped
    assert set(out) == {1, 2, 3}

    # (3) collision guard covers the working columns too
    for col in ("keep", "z_micro", "n_tokens", "quality_score"):
        clash = spark.createDataFrame(
            [(1, "t", 0)], f"doc_id long, text string, {col} long"
        )
        with _pytest.raises(ValueError, match=col):
            quality_gated_stream(clash)


def test_weighted_sample_matches_brute_force_es_keys(spark):
    """The selected set must equal the exact bottom-k of the
    Efraimidis-Spirakis keys computed independently in Python from the
    same md5-derived uniforms — determinism makes this an equality, not
    a distribution test."""
    import hashlib
    import math

    from datapipeline_spike_spark.operators.sampling import weighted_sample

    rows = [(i, float(1 + (i % 7))) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    def u01(key: int) -> float:
        return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) / 2**32

    es = {i: -math.log(1.0 - u01(i)) / w for i, w in rows}
    expect = set(sorted(es, key=lambda i: (es[i], i))[:50])

    got = {r["doc_id"] for r in weighted_sample(df, "w", 50, "doc_id").collect()}
    assert got == expect
    # partition-invariant: same sample from any input layout
    got13 = {
        r["doc_id"]
        for r in weighted_sample(df.repartition(13), "w", 50, "doc_id").collect()
    }
    assert got13 == expect


def test_weighted_sample_biases_toward_heavy_weights(spark):
    from datapipeline_spike_spark.operators.sampling import weighted_sample

    rows = [(i, 9.0 if i < 1000 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = weighted_sample(df, "w", 400, "doc_id").collect()
    assert len(got) == 400
    heavy = sum(1 for r in got if r["w"] == 9.0)
    light = 400 - heavy
    # 9:1 weights -> heavy docs dominate (exact ratio depends on the
    # without-replacement depletion; >2.5x is far outside noise here)
    assert heavy > 2.5 * light and light > 0


def test_weighted_sample_per_group_and_weight_guards(spark):
    from datapipeline_spike_spark.operators.sampling import weighted_sample

    rows = [(i, "en" if i % 2 == 0 else "de", float(i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w double")
    out = weighted_sample(df, "w", 20, "doc_id", group_cols=["lang"]).collect()
    from collections import Counter

    per_lang = Counter(r["lang"] for r in out)
    assert per_lang == {"en": 20, "de": 20}
    # weight 0 rows (i % 3 == 0) are never selectable
    assert all(r["w"] > 0 for r in out)
    # k larger than the eligible pool returns the whole pool
    tiny = spark.createDataFrame([(1, 1.0), (2, 0.0), (3, None)], "doc_id long, w double")
    assert [r["doc_id"] for r in weighted_sample(tiny, "w", 10, "doc_id").collect()] == [1]


def test_budget_select_matches_exact_python_replay(spark):
    """Deterministic hash thinning makes the whole selection exactly
    replayable: full-bucket keeps above the threshold, hash-rate draw
    inside the boundary bucket."""
    import hashlib

    from datapipeline_spike_spark.operators.sampling import budget_select

    rows = [
        (i, round(0.1 + 0.8 * ((i * 37) % 100) / 100.0, 4), 50 + (i % 11))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, q double, n_tok int")
    budget = 6000.0

    # Python replica
    from collections import defaultdict

    mass = defaultdict(float)
    for _, q, n in rows:
        mass[round(q, 4)] += n
    mass_above, cum = {}, 0.0
    for b in sorted(mass, reverse=True):
        mass_above[b] = cum
        cum += mass[b]
    b0 = min(b for b in mass if mass_above[b] < budget)
    rate = min((budget - mass_above[b0]) / mass[b0], 1.0)

    def u01(key: int) -> float:
        return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) / 2**32

    expect = {
        i
        for i, q, n in rows
        if round(q, 4) > b0 or (round(q, 4) == b0 and u01(i) < rate)
    }

    got = {r["doc_id"] for r in budget_select(df, "q", "n_tok", budget, "doc_id").collect()}
    assert got == expect
    # expected-budget sanity: selected mass within the boundary-draw
    # variance of the target (boundary bucket is small here)
    sel_mass = sum(n for i, _, n in rows if i in got)
    assert abs(sel_mass - budget) < 0.25 * budget
    # layout invariance
    got7 = {
        r["doc_id"]
        for r in budget_select(df.repartition(7), "q", "n_tok", budget, "doc_id").collect()
    }
    assert got7 == expect


def test_budget_select_edges(spark):
    import pytest as _pytest

    from datapipeline_spike_spark.operators.sampling import budget_select

    rows = [(i, 0.5, 100) for i in range(50)]  # all-tied skew: one bucket
    df = spark.createDataFrame(rows, "doc_id long, q double, n_tok int")
    # budget >= corpus -> everything kept
    assert budget_select(df, "q", "n_tok", 1e9, "doc_id").count() == 50
    # single-bucket corpus: kept count ~ budget/total (deterministic draw)
    kept = budget_select(df, "q", "n_tok", 2500.0, "doc_id").count()
    assert 10 <= kept <= 40
    with _pytest.raises(ValueError):
        budget_select(df, "q", "n_tok", 0, "doc_id")
    # audit columns mark boundary draws
    audit = budget_select(df, "q", "n_tok", 2500.0, "doc_id", keep_audit=True).collect()
    assert all(r["boundary"] for r in audit)


def test_budget_select_null_scores_excluded_not_poisoning(spark):
    """Regression (late-r8 self-review): a NULL score bucket rode the
    boundary pick's nulls-first ascending sort — with any NULL-score
    rows and a budget covering the scored mass, b0 became NULL and the
    whole selection silently emptied. NULL scores are now excluded up
    front (the weighted_sample NULL-weight contract)."""
    from datapipeline_spike_spark.operators.sampling import budget_select

    df = spark.createDataFrame(
        [(1, 0.9, 100), (2, 0.8, 100), (3, None, 100)],
        "doc_id long, q double, n_tok int",
    )
    got = {r["doc_id"] for r in budget_select(df, "q", "n_tok", 1e6, "doc_id").collect()}
    assert got == {1, 2}


def test_hard_negative_mining_planted(spark):
    from datapipeline_spike_spark.operators.similarity import (
        hard_negative_mining,
    )

    # 2-d toy space: anchor 0 has an exact duplicate (1, same direction,
    # DIFFERENT label — the unlabeled-positive trap), a hard negative
    # (2, nearby angle, other label), an easy negative (3, orthogonal,
    # other label), and a same-label neighbor (4) that must never
    # appear as a negative.
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [2.0, 0.0], 1),        # cos=1.0 vs anchor -> excluded by hi
        (2, [1.0, 0.2], 1),        # hard negative
        (3, [0.0, 1.0], 1),        # easy negative (may fall outside bucket)
        (4, [1.0, 0.1], 0),        # same label -> never a negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = hard_negative_mining(df, dim=2, k=2, n_planes=2, hi=0.99, label_col="label")
    got = {(r["anchor_id"], r["negative_id"]): r for r in out.collect()}
    # the duplicate is filtered even though it's the most similar
    assert (0, 1) not in got
    # the same-label neighbor is never a negative for anchor 0
    assert (0, 4) not in got
    # the hard negative survives and outranks anything less similar
    assert (0, 2) in got and got[(0, 2)]["rank"] == 1
    for r in got.values():
        assert r["cos_sim"] < 0.99 and r["rank"] <= 2


def test_sign_codes_and_hamming_topk(spark):
    from datapipeline_spike_spark.operators.similarity import (
        hamming_topk,
        sign_codes,
    )

    # identical vectors -> identical codes -> hamming 0 and top rank
    rows = [
        (0, [1.0, 0.0, 0.5, -0.5]),
        (1, [1.0, 0.0, 0.5, -0.5]),
        (2, [-1.0, 0.2, -0.5, 0.5]),
        (3, [0.9, 0.1, 0.4, -0.6]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coded = sign_codes(df, dim=4, n_bits=62).collect()
    for r in coded:
        assert len(r["code"]) == 2
        assert all(0 <= w < (1 << 31) for w in r["code"])
    by_id = {r["vec_id"]: r["code"] for r in coded}
    assert by_id[0] == by_id[1]          # same vector, same code
    assert by_id[0] != by_id[2]          # opposite vector differs

    out = hamming_topk(df, df.filter(F.col("vec_id") == 0), dim=4, k=2, m=3)
    got = {r["rank"]: r for r in out.collect()}
    assert got[1]["neighbor_id"] == 1 and got[1]["hamming"] == 0
    assert got[1]["cos_sim"] == 1.0


def test_random_projection_deterministic_and_distance_preserving(spark, sf_dir):
    from datapipeline_spike_spark.plans.registry import load
    from datapipeline_spike_spark.operators.similarity import random_projection

    e = load(spark, sf_dir, "embeddings").limit(100)
    a = random_projection(e, dim=64, k=32).select("vec_id", "proj", "norm_ratio")
    b = random_projection(e, dim=64, k=32).select("vec_id", "proj", "norm_ratio")
    ra = {r["vec_id"]: r for r in a.collect()}
    rb = {r["vec_id"]: r for r in b.collect()}
    assert all(ra[i]["proj"] == rb[i]["proj"] for i in ra)  # no RNG state
    ratios = [r["norm_ratio"] for r in ra.values() if r["norm_ratio"]]
    mean = sum(ratios) / len(ratios)
    # JL at k=32: norms preserved in expectation, bounded spread
    assert 0.8 < mean < 1.2
    assert all(0.4 < x < 1.9 for x in ratios)
