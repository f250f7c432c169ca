"""Property-based tests (SURVEY.md §5.2 item 3, Hypothesis): feature
invariants, null/empty semantics, dedup idempotence, shingle algebra.
Each example batches many generated rows into ONE DataFrame so a
property run costs one Spark job, not one per case."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datapipeline_spike_spark.functions import features as feat
from datapipeline_spike_spark.functions.text import shingles, tokens
from datapipeline_spike_spark.operators.dedup import exact_dedup

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

arrays = st.lists(
    st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=40),
    min_size=1,
    max_size=25,
)


@given(batches=arrays)
@PROP
def test_feature_invariants(spark, batches):
    df = spark.createDataFrame([(i, a) for i, a in enumerate(batches)], "i long, arr array<int>")
    rows = df.select(
        "i",
        feat.arr_rms("arr").alias("rms"),
        feat.arr_peak("arr").alias("peak"),
        feat.arr_peak_to_peak("arr").alias("p2p"),
        feat.arr_crest_factor("arr").alias("crest"),
        feat.arr_kurtosis("arr").alias("kurt"),
        feat.arr_energy("arr").alias("energy"),
        feat.arr_mean("arr").alias("mean"),
    ).collect()
    for r in rows:
        a = batches[r["i"]]
        n = len(a)
        assert r["rms"] >= 0
        assert r["peak"] >= abs(r["mean"]) - 1e-9      # max|v| >= |mean|
        assert r["peak"] + 1e-9 >= r["rms"]            # max|v| >= rms
        assert r["p2p"] >= 0
        assert r["energy"] == pytest.approx(n * r["rms"] ** 2, rel=1e-9)
        if r["crest"] is not None:
            assert r["crest"] >= 1 - 1e-12
        if r["kurt"] is not None:
            assert r["kurt"] >= -2 - 1e-9              # population excess lower bound
        # cross-check against a pure-python mirror
        rms_py = math.sqrt(sum(v * v for v in a) / n)
        assert r["rms"] == pytest.approx(rms_py, rel=1e-12)


def test_null_and_empty_propagation(spark):
    df = spark.createDataFrame([([],), (None,)], "arr array<int>")
    rows = df.select(
        feat.arr_rms("arr").alias("rms"),
        feat.arr_peak("arr").alias("peak"),
        feat.arr_kurtosis("arr").alias("kurt"),
        feat.arr_energy("arr").alias("energy"),
    ).collect()
    for r in rows:
        assert all(v is None for v in r)


texts = st.lists(
    st.text(alphabet="abc XYZ0'.,!", min_size=0, max_size=60),
    min_size=1,
    max_size=20,
)


@given(docs=texts)
@PROP
def test_shingle_algebra(spark, docs):
    """|shingles| <= max(0, n_tokens - k + 1); every shingle has k
    tokens; <k-token docs shingle to empty."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "i long, text string")
    rows = df.select(
        "i", F.size(tokens("text")).alias("nt"), shingles("text", 3).alias("sh")
    ).collect()
    for r in rows:
        if r["nt"] < 3:
            assert r["sh"] == []
        else:
            assert 1 <= len(r["sh"]) <= r["nt"] - 2
            assert all(len(s.split(" ")) == 3 for s in r["sh"])
            assert len(set(r["sh"])) == len(r["sh"])  # distinct


@given(docs=texts)
@PROP
def test_exact_dedup_partitions_the_corpus(spark, docs):
    """Group sizes sum to the corpus size; canonical ids are group
    minima; re-deduplicating the canonical set is the identity."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "doc_id long, text string")
    out = exact_dedup(df).collect()
    assert sum(r["n_copies"] for r in out) == len(docs)
    canon = {r["canonical_id"] for r in out}
    assert len(canon) == len(out)
    survivors = df.filter(F.col("doc_id").isin(canon))
    again = exact_dedup(survivors).collect()
    assert len(again) == len(out)
    assert all(r["n_copies"] == 1 for r in again)


texts = st.lists(
    st.text(alphabet="abcdefg hij", min_size=1, max_size=120).filter(str.strip),
    min_size=2,
    max_size=10,
)


@given(docs=texts, copies=st.lists(st.integers(min_value=1, max_value=4), min_size=2, max_size=10))
@PROP
def test_leakage_split_never_straddles_dup_groups(spark, docs, copies):
    """The leakage invariant: every copy of the same (normalized) text
    lands in the SAME split — no exact-dup group straddles train/test —
    and exact_rep is the group-minimum doc id. Assignment is a pure
    function of the canonical id (rerun-stable)."""
    from datapipeline_spike_spark.functions.text import fingerprint_md5
    from datapipeline_spike_spark.operators.dedup import leakage_safe_split

    rows, did = [], 0
    for t, c in zip(docs, copies):
        for _ in range(c):
            rows.append((did, t))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df)
    joined = df.select("doc_id", fingerprint_md5("text").alias("fp")).join(
        out, "doc_id"
    ).collect()
    by_fp: dict[str, list] = {}
    for r in joined:
        by_fp.setdefault(r["fp"], []).append(r)
    for grp in by_fp.values():
        assert len({r["split"] for r in grp}) == 1  # never straddles
        rep = min(r["doc_id"] for r in grp)
        assert all(r["exact_rep"] == rep for r in grp)
    # rerun stability: identical assignment
    again = {r["doc_id"]: r["split"] for r in leakage_safe_split(df).collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in joined)


def test_leakage_split_proportions_hold(spark):
    """80/10/10 within binomial tolerance over 3000 distinct docs
    (std of the train share at n=3000 is ~0.7pp; 3pp is ~4 sigma)."""
    from datapipeline_spike_spark.operators.dedup import leakage_safe_split

    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique document body "), F.col("id").cast("string")).alias("text"),
    )
    counts = {
        r["split"]: r["n"]
        for r in leakage_safe_split(df).groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = sum(counts.values())
    assert n == 3000
    assert abs(counts["train"] / n - 0.8) < 0.03
    assert abs(counts["val"] / n - 0.1) < 0.03
    assert abs(counts["test"] / n - 0.1) < 0.03


@given(docs=texts)
@PROP
def test_simhash64_bag_of_tokens_properties(spark, docs):
    """SimHash is a function of the token MULTISET: permuting tokens
    changes nothing; identical docs share signatures; any emitted
    signature splits into 4 chunks that reassemble to the hex form."""
    from datapipeline_spike_spark.operators.dedup import simhash64

    rows = []
    for i, t in enumerate(docs):
        toks = t.split()
        rows.append((2 * i, " ".join(toks)))
        rows.append((2 * i + 1, " ".join(reversed(toks))))  # permuted twin
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in simhash64(df).collect()}
    for i in range(len(docs)):
        a, b = got.get(2 * i), got.get(2 * i + 1)
        assert (a is None) == (b is None)
        if a is None:
            continue
        assert a["simhash_chunks"] == b["simhash_chunks"]  # permutation-invariant
        assert all(0 <= c < (1 << 16) for c in a["simhash_chunks"])
        u64 = sum(c << (16 * k) for k, c in enumerate(a["simhash_chunks"]))
        assert a["simhash_hex"] == f"{u64:016x}"


@given(docs=texts)
@PROP
def test_rolling_hash_is_order_sensitive_simhash_is_not(spark, docs):
    """The fingerprint family's documented contrast: the polynomial
    rolling hash distinguishes reordered docs (order-sensitive), while
    SimHash does not — both computed on the same permuted twins."""
    from datapipeline_spike_spark.functions.text import tokens as _toks

    ROLLING_MOD = 2_147_483_647
    rows = []
    for i, t in enumerate(docs):
        toks = t.split()
        rows.append((2 * i, " ".join(toks)))
        rows.append((2 * i + 1, " ".join(reversed(toks))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    h = F.aggregate(
        F.transform(_toks("text"), lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % ROLLING_MOD,
    )
    got = {r["doc_id"]: r["h"] for r in df.select("doc_id", h.alias("h")).collect()}
    # per-doc mod-2^31 collisions are possible, but not for every doc:
    # some reversal-distinct doc must get a different fingerprint
    distinct_pairs = [
        i for i, t in enumerate(docs)
        if t.split() != list(reversed(t.split()))
    ]
    if distinct_pairs:
        assert any(got[2 * i] != got[2 * i + 1] for i in distinct_pairs)


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=20)
    ),
    min_size=1,
    max_size=30,
)


@given(edges=edge_lists)
@PROP
def test_driver_union_find_matches_transitive_closure(spark, edges):
    """connected_components_driver labels every endpoint with the true
    component minimum — checked against an independent brute-force
    closure (repeated relaxation to fixed point) in plain Python."""
    from datapipeline_spike_spark.operators.dedup import connected_components_driver

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # brute-force reference: iterate label relaxation to fixed point
    verts = sorted({v for e in edges for v in e})
    label = {v: v for v in verts}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["comp"] for r in connected_components_driver(edf).collect()}
    assert got == label


word = st.sampled_from([f"w{i}" for i in range(12)])
tokseq = st.lists(word, min_size=0, max_size=30)


@given(
    pairs=st.lists(st.tuples(tokseq, tokseq, st.lists(word, min_size=7, max_size=7)),
                   min_size=1, max_size=12)
)
@PROP
def test_winnowing_guarantee_shared_run_shares_fingerprint(spark, pairs):
    """The winnowing theorem (MOSS): two documents sharing a verbatim
    token run of length >= k + w - 1 (= 4 + 4 - 1 = 7 here) MUST share
    at least one selected fingerprint — any window of w consecutive
    k-gram hashes inside the shared run selects the same minimum on
    both sides. Each pair plants a 7-token run inside random noise."""
    from pyspark.sql import Window

    from datapipeline_spike_spark.functions.text import ngrams

    rows = []
    for i, (left, right, run) in enumerate(pairs):
        rows.append((2 * i, " ".join(left + run)))
        rows.append((2 * i + 1, " ".join(run + right)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kg = (
        df.select("doc_id", ngrams("text", k=4).alias("ngs"))
        .filter(F.size("ngs") >= 4)
        .select(
            "doc_id",
            F.size("ngs").alias("n_kg"),
            F.posexplode("ngs").alias("pos", "ng"),
        )
        .select(
            "doc_id", "n_kg", "pos",
            F.conv(F.substring(F.md5("ng"), 1, 8), 16, 10).cast("long").alias("h"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    fps = (
        kg.select("doc_id", "n_kg", "pos", F.min("h").over(w).alias("fp"))
        .filter(F.col("pos") <= F.col("n_kg") - 4)
        .groupBy("doc_id")
        .agg(F.collect_set("fp").alias("fps"))
    )
    got = {r["doc_id"]: set(r["fps"]) for r in fps.collect()}
    for i in range(len(pairs)):
        a, b = got.get(2 * i, set()), got.get(2 * i + 1, set())
        assert a & b, f"pair {i}: shared 7-token run produced no shared fingerprint"


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),           # key
            st.sampled_from(["A", "B", "C", None]),          # state (NULL is a value: r6 null-safe collapse)
            st.integers(min_value=0, max_value=20),          # ts seconds
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@PROP
def test_scd2_history_matches_python_reference(spark, events):
    """scd2_history vs a direct Python interval builder over arbitrary
    event streams (ties on ts broken by event_id, out-of-order arrival
    irrelevant — the operator sorts). States include None: Python's
    ``!=`` is null-safe exactly like the operator's eqNullSafe collapse,
    so the reference needs no special-casing."""
    from datetime import datetime

    from datapipeline_spike_spark.operators.sessions import scd2_history

    rows = [
        (k, s, datetime(2024, 1, 1, 0, 0, ts), eid)
        for eid, (k, s, ts) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, state string, ts timestamp, event_id long"
    )
    got = {
        (r["user_id"], r["version"]): (r["state"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(df, ["user_id"], "state", "ts", "event_id").collect()
    }
    # reference: sort per key by (ts, event_id), collapse runs, chain intervals
    want = {}
    bykey: dict = {}
    for k, s, ts, eid in rows:
        bykey.setdefault(k, []).append((ts, eid, s))
    for k, evs in bykey.items():
        evs.sort()
        runs = []
        for ts, _eid, s in evs:
            if not runs or runs[-1][0] != s:
                runs.append((s, ts))
        for v, (s, vf) in enumerate(runs, start=1):
            vt = runs[v][1] if v < len(runs) else None
            want[(k, v)] = (s, vf, vt, vt is None)
    assert got == want


prefix_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),   # doc_id
        st.integers(min_value=5, max_value=40),   # set size n
        st.sampled_from(["g0", "g1", "g2", "hot"]),
    ),
    min_size=2,
    max_size=60,
    unique_by=lambda t: (t[0], t[2]),
)


@given(rows=prefix_rows, cap=st.integers(min_value=1, max_value=6))
@PROP
def test_prefix_bucket_cap_invariant_under_cap_and_chunks(spark, rows, cap):
    """The hot-bucket guard is execution-shape only: for ANY prefix
    frame and ANY cap, the chunked self-join path emits exactly the
    uncapped candidate set (PPJoin length filter included on both
    paths). doc n must be consistent per doc across buckets."""
    from datapipeline_spike_spark.plans.catalog_extensions import (
        _prefix_bucket_pairs,
    )

    n_by_doc = {}
    fixed = []
    for d, n, g in rows:
        n_by_doc.setdefault(d, n)
        fixed.append((d, n_by_doc[d], g))
    prefix = spark.createDataFrame(fixed, "doc_id long, n int, g string")

    def pairs(c, nc=3):
        return sorted(
            (r["doc_id_a"], r["doc_id_b"])
            for r in _prefix_bucket_pairs(prefix, cap=c, n_chunks=nc).collect()
        )

    uncapped = pairs(10_000)
    assert pairs(cap) == uncapped
    # reference: per bucket all unordered pairs passing the length filter
    import itertools

    want = set()
    by_g = {}
    for d, n, g in fixed:
        by_g.setdefault(g, []).append((d, n))
    for g, ds in by_g.items():
        for (a, an), (b, bn) in itertools.combinations(sorted(ds), 2):
            if 5 * min(an, bn) >= 4 * max(an, bn):
                want.add((a, b))
    assert set(uncapped) == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=63),   # coefficient position
            st.integers(min_value=-500, max_value=500).filter(lambda v: v != 0),
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=-1000, max_value=1000),     # DC
)
@settings(max_examples=40, deadline=None, derandomize=True)
def test_jpeg_entropy_roundtrip_matches_direct_idct(ac_coeffs, dc):
    """Property: ANY sparse quantized coefficient block survives the
    Huffman entropy coder (DPCM DC, run-length AC with ZRL/EOB, byte
    stuffing) and decodes to the same pixels as an independent direct
    2D IDCT — the general-path guarantee behind the constant-block
    oracle tier."""
    import math

    from datapipeline_spike_spark.sources.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    blk = [0] * 64
    blk[0] = dc
    for pos, val in ac_coeffs:
        if pos == 0:
            continue
        blk[pos] = val
    buf = encode_jpeg_gray([blk], width=8, height=8)
    decoded = decode_jpeg_gray(buf)
    assert decoded is not None
    w, h, got = decoded
    assert (w, h) == (8, 8)

    c = [1 / math.sqrt(2)] + [1.0] * 7
    want = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += (
                        c[u] * c[v] * blk[v * 8 + u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            val = int(round(s / 4 + 128))
            want.append(0 if val < 0 else (255 if val > 255 else val))
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 3000)),
        min_size=1, max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 3000)),
        min_size=1, max_size=25,
    ),
    st.sampled_from([None, 3600, 86_400]),
)
@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_interval_overlap_join_matches_reference(spark, lefts, rights, width):
    """Property: for ANY interval sets and ANY bucket width (fixed or
    auto), the join equals the brute-force overlap reference — the
    bucket decomposition is execution shape only."""
    import itertools
    from datetime import datetime, timedelta

    from datapipeline_spike_spark.operators.joins import interval_overlap_join

    t0 = datetime(2024, 1, 1)
    L = [
        (f"l{i}", t0 + timedelta(minutes=s), t0 + timedelta(minutes=s + d))
        for i, (s, d) in enumerate(lefts)
    ]
    R_ = [
        (f"r{i}", t0 + timedelta(minutes=s), t0 + timedelta(minutes=s + d))
        for i, (s, d) in enumerate(rights)
    ]
    ldf = spark.createDataFrame(L, "lid string, ls timestamp, le timestamp")
    rdf = spark.createDataFrame(R_, "rid string, rs timestamp, re timestamp")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, ("ls", "le"), ("rs", "re"), bucket_seconds=width
        ).collect()
    )
    want = sorted(
        (ln, rn)
        for (ln, l1, l2), (rn, r1, r2) in itertools.product(L, R_)
        if l1 <= r2 and r1 <= l2
    )
    assert got == want


@PROP
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # group
            st.integers(min_value=0, max_value=10_000),  # id (deduped below)
        ),
        min_size=1,
        max_size=120,
    ),
    k=st.integers(min_value=1, max_value=7),
)
def test_bottom_k_per_group_equals_naive_window(spark, rows, k):
    """Property: the salted two-phase bottom-k equals the naive
    per-group window row for row — any group sizes, any k, ids hashed
    to arbitrary salts."""
    from pyspark.sql import Window

    from datapipeline_spike_spark.operators.sampling import bottom_k_per_group

    uniq = {(g, i) for g, i in rows}
    df = spark.createDataFrame(
        [(f"g{g}", i, float((i * 2654435761) % 997)) for g, i in uniq],
        "grp string, rid long, v double",
    )
    w = Window.partitionBy("grp").orderBy("v", "rid")
    naive = {
        (r["grp"], r["rid"], r["rnk"])
        for r in df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .collect()
    }
    salted = {
        (r["grp"], r["rid"], r["rnk"])
        for r in bottom_k_per_group(
            df.repartition(5), ["grp"], ["v", "rid"], k, n_salts=4
        ).collect()
    }
    assert salted == naive


@PROP
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=4,
        max_size=80,
    ),
    n_bands=st.integers(min_value=2, max_value=8),
)
def test_approx_bands_monotone_and_in_range(spark, vals, n_bands):
    """Property: banding is monotone in the value (a larger value never
    gets a smaller band within its group) and bands stay in
    [1, n_bands]."""
    from datapipeline_spike_spark.operators.ranks import approx_percentile_bands

    df = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate(vals)],
        "grp string, rid long, v double",
    )
    out = approx_percentile_bands(df, ["grp"], "v", n_bands=n_bands).collect()
    assert all(1 <= r["band"] <= n_bands for r in out)
    by_val = sorted(out, key=lambda r: (r["v"], r["rid"]))
    bands = [r["band"] for r in by_val]
    assert all(a <= b for a, b in zip(bands, bands[1:]))


@PROP
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5_000),   # id (deduped below)
            st.integers(min_value=1, max_value=9),       # weight
        ),
        min_size=1,
        max_size=100,
    ),
    k=st.integers(min_value=1, max_value=9),
)
def test_weighted_sample_equals_python_es_bottom_k(spark, rows, k):
    """Property: the distributed Efraimidis-Spirakis draw equals the
    exact bottom-k of the same md5-derived keys computed in Python —
    any weights, any k, any input layout."""
    import hashlib

    from datapipeline_spike_spark.operators.sampling import weighted_sample

    # one weight per id: weighted_sample requires a unique key per row
    uniq = sorted(dict(rows).items())
    df = spark.createDataFrame(
        [(i, float(w)) for i, w in uniq], "doc_id long, w double"
    )

    def u01(key: int) -> float:
        return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) / 2**32

    es = {i: -math.log(1.0 - u01(i)) / w for i, w in uniq}
    expect = set(sorted(es, key=lambda i: (es[i], i))[:k])
    got = {
        r["doc_id"]
        for r in weighted_sample(df.repartition(5), "w", k, "doc_id", keep_score=True).collect()
    }
    assert got == expect


@PROP
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5_000),   # id (deduped below)
            st.integers(min_value=0, max_value=50),      # score bucket index
            st.integers(min_value=1, max_value=200),     # tokens
        ),
        min_size=1,
        max_size=100,
    ),
    budget_pct=st.integers(min_value=1, max_value=120),
)
def test_budget_select_equals_python_threshold_replay(spark, rows, budget_pct):
    """Property: histogram-threshold selection == the exact Python
    replay (full keeps above the boundary bucket, hash-rate draw inside
    it) for any score/token distribution and any budget."""
    import hashlib
    from collections import defaultdict

    from datapipeline_spike_spark.operators.sampling import budget_select

    uniq = sorted({(i, s, n) for i, s, n in rows})
    data = [(i, round(s / 50.0, 4), n) for i, s, n in uniq]
    total = sum(n for _, _, n in data)
    budget = max(total * budget_pct / 100.0, 1e-6)
    df = spark.createDataFrame(data, "doc_id long, q double, n_tok int")

    mass = defaultdict(float)
    for _, q, n in data:
        mass[q] += n
    mass_above, cum = {}, 0.0
    for b in sorted(mass, reverse=True):
        mass_above[b] = cum
        cum += mass[b]
    eligible = [b for b in mass if mass_above[b] < budget]
    expect = set()
    if eligible:
        b0 = min(eligible)
        rate = min((budget - mass_above[b0]) / max(mass[b0], 1e-300), 1.0)

        def u01(key: int) -> float:
            return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) / 2**32

        expect = {
            i for i, q, _ in data if q > b0 or (q == b0 and u01(i) < rate)
        }
    got = {
        r["doc_id"]
        for r in budget_select(df.repartition(3), "q", "n_tok", budget, "doc_id").collect()
    }
    assert got == expect


# --- r11 staged-operator invariants (Hypothesis over planted corpora) --------

words = st.lists(
    st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split()),
    min_size=0,
    max_size=12,
)
texts = st.lists(words.map(" ".join), min_size=1, max_size=12)


@given(cands=texts, refs=texts)
@PROP
def test_rouge_swap_symmetry_and_bounds(spark, cands, refs):
    """ROUGE invariants: swapping candidate/reference swaps precision
    and recall exactly (overlap and f1 invariant); all ratios in
    [0, 1]; overlap <= min(cand_grams, ref_grams)."""
    from datapipeline_spike_spark.operators.text_stats import rouge_ngram_eval

    n = min(len(cands), len(refs))
    pairs = spark.createDataFrame(
        [(i, cands[i], refs[i]) for i in range(n)],
        "pair_id long, candidate string, reference string",
    )
    fwd = {r["pair_id"]: r for r in rouge_ngram_eval(pairs).collect()}
    swapped = pairs.select(
        "pair_id",
        F.col("reference").alias("candidate"),
        F.col("candidate").alias("reference"),
    )
    bwd = {r["pair_id"]: r for r in rouge_ngram_eval(swapped).collect()}
    for i in fwd:
        f, b = fwd[i], bwd[i]
        assert f["overlap"] == b["overlap"]
        assert f["precision"] == b["recall"] and f["recall"] == b["precision"]
        assert f["f1"] == b["f1"]
        assert f["overlap"] <= min(f["cand_grams"], f["ref_grams"])
        for c in ("precision", "recall", "f1"):
            assert f[c] is None or 0.0 <= f[c] <= 1.0


@given(
    a_texts=st.lists(words.map(" ".join), min_size=1, max_size=8),
    b_texts=st.lists(words.map(" ".join), min_size=1, max_size=8),
)
@PROP
def test_token_drift_symmetry_and_bounds(spark, a_texts, b_texts):
    """Drift invariants: JS is symmetric under snapshot swap, bounded
    by ln 2, and KL(a||b)/KL(b||a) swap under the same exchange; all
    divergences >= 0; identical snapshots give exactly 0."""
    from datapipeline_spike_spark.operators.text_stats import (
        token_distribution_drift,
    )

    rows = [("a", t) for t in a_texts] + [("b", t) for t in b_texts]
    df = spark.createDataFrame(rows, "snap string, text string")
    fwd = token_distribution_drift(df, "snap", "a", "b").collect()[0]
    bwd = token_distribution_drift(df, "snap", "b", "a").collect()[0]
    if fwd["kl_ab"] is not None and bwd["kl_ab"] is not None:
        assert fwd["js_divergence"] == bwd["js_divergence"]  # symmetric
        assert fwd["kl_ab"] == bwd["kl_ba"] and fwd["kl_ba"] == bwd["kl_ab"]
        assert fwd["kl_ab"] >= 0 and fwd["kl_ba"] >= 0
        assert 0.0 <= fwd["js_divergence"] <= math.log(2) + 1e-9
    assert fwd["n_tokens_a"] == bwd["n_tokens_b"]
    assert fwd["vocab_union"] == bwd["vocab_union"]


@given(
    scores=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=60,
    ),
    flips=st.lists(st.booleans(), min_size=1, max_size=60),
)
@PROP
def test_calibration_bin_conservation(spark, scores, flips):
    """Calibration-bin invariants: bin counts sum to the non-null row
    count, weights sum to 1, every score lands in exactly the bin
    floor(s*10) (clamped), and mean_score stays inside the bin's score
    range observed in the input."""
    from datapipeline_spike_spark.operators.quality import (
        reliability_calibration_bins,
    )

    n = min(len(scores), len(flips))
    df = spark.createDataFrame(
        [(scores[i], flips[i]) for i in range(n)], "score double, label boolean"
    )
    out = reliability_calibration_bins(df).collect()
    assert sum(r["n"] for r in out) == n
    assert sum(r["weight"] for r in out) == pytest.approx(1.0, abs=5e-6)
    expect_bins = {min(9, int(s * 10)) for s in scores[:n]}
    assert {r["bin"] for r in out} == expect_bins
    for r in out:
        in_bin = [s for s in scores[:n] if min(9, int(s * 10)) == r["bin"]]
        # mean_score is 6dp-rounded by the operator: allow the grain
        assert min(in_bin) - 1e-6 <= r["mean_score"] <= max(in_bin) + 1e-6
        assert 0.0 <= r["pass_rate"] <= 1.0


# --- r12 staged: dHash pure-function properties ------------------------------

_dims = st.tuples(
    st.integers(min_value=9, max_value=20),   # width >= the 9-col grid
    st.integers(min_value=8, max_value=16),   # height >= the 8-row grid
)


@given(
    dims=_dims,
    seed=st.integers(min_value=0, max_value=10_000),
    shift=st.integers(min_value=1, max_value=50),
)
@PROP
def test_dhash_brightness_invariance(dims, seed, shift):
    """dHash compares pixel ORDER, not level: adding a constant to
    every pixel (no wraparound) leaves every comparison — and the hash
    — unchanged; 64-bit range holds."""
    from datapipeline_spike_spark.sources.multimodal import (
        dhash_bits_from_pixels,
    )

    w, h = dims
    px = [(seed * 31 + k * k * 7) % 200 for k in range(w * h)]  # <= 199
    base = dhash_bits_from_pixels(px, w, h)
    assert 0 <= base < (1 << 64)
    shifted = dhash_bits_from_pixels([p + shift for p in px], w, h)
    assert shifted == base
    # a monotone re-scale preserves comparisons too
    scaled = dhash_bits_from_pixels([p * 3 for p in px], w, h)
    assert scaled == base


@given(dims=_dims, seed=st.integers(min_value=0, max_value=10_000))
@PROP
def test_dhash_constant_image_is_zero(dims, seed):
    """A flat image has no gradients anywhere: hash exactly 0; and the
    hash depends only on the SAMPLED grid — perturbing a pixel no grid
    cell samples leaves it unchanged."""
    from datapipeline_spike_spark.sources.multimodal import (
        dhash_bits_from_pixels,
    )

    w, h = dims
    assert dhash_bits_from_pixels([seed % 256] * (w * h), w, h) == 0
    sampled = {
        (r * h // 8) * w + (c * w // 9) for r in range(8) for c in range(9)
    }
    unsampled = next(
        (k for k in range(w * h) if k not in sampled), None
    )
    if unsampled is not None:
        px = [(seed * 13 + k * 5) % 256 for k in range(w * h)]
        mut = list(px)
        mut[unsampled] = (mut[unsampled] + 97) % 256
        assert dhash_bits_from_pixels(px, w, h) == dhash_bits_from_pixels(
            mut, w, h
        )


@given(
    seed=st.integers(min_value=0, max_value=10**12),
    n_frames=st.integers(min_value=1, max_value=14),
)
@settings(max_examples=40, deadline=None)
def test_vad_wav_roundtrip_matches_formula(seed, n_frames):
    """For ANY (seed, whole-frame length): the real RIFF decode of
    synthetic_wav_vad recovers exactly the generative gated waveform —
    the property the VAD DuckDB oracle's replay-from-formula rests
    on."""
    import struct as _struct

    from datapipeline_spike_spark.sources.multimodal import (
        parse_audio_meta,
        synthetic_wav_vad,
        wav_data_offset,
    )

    n = n_frames * 8
    payload = synthetic_wav_vad(seed, n)
    meta = parse_audio_meta(payload)
    assert meta == ("wav", 1, 16000, 16, n)
    off = wav_data_offset(payload)
    xs = _struct.unpack(f"<{n}h", payload[off : off + 2 * n])
    want = [
        ((seed * 31 + i * 17) % 4001) - 2000
        if (seed * 13 + (i // 8) * 7) % 3 != 0
        else ((seed * 31 + i * 17) % 64) - 32
        for i in range(n)
    ]
    assert list(xs) == want


@given(
    seed=st.integers(min_value=0, max_value=10**9),
    n_frames=st.integers(min_value=1, max_value=8),
    scene_len=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=25, deadline=None)
def test_scene_mp4_roundtrip_matches_formula(seed, n_frames, scene_len):
    """For ANY (seed, frames, scene length): the full sample-table walk
    + baseline JPEG decode of synthetic_scene_mp4 recovers exactly the
    (seed, f//scene_len, block) constant-block pixel pattern — the
    property the scene-cut oracle rests on."""
    from datapipeline_spike_spark.sources.multimodal import (
        decode_mjpeg_frames,
        synthetic_scene_mp4,
    )

    frames = decode_mjpeg_frames(
        synthetic_scene_mp4(seed, n_frames, scene_len=scene_len)
    )
    assert frames is not None and len(frames) == n_frames
    for f, (w, h, px) in enumerate(frames):
        assert (w, h) == (16, 8)
        fseed = seed * 131 + (f // scene_len) * 37
        for b in range(2):  # two 8x8 blocks in a 16x8 frame
            v = (fseed * 11 + b * 29) % 256
            block_px = [
                px[r * 16 + b * 8 + c] for r in range(8) for c in range(8)
            ]
            assert block_px == [v] * 64, (f, b)


@given(
    n_tokens=st.integers(min_value=2, max_value=100_000),
)
@settings(max_examples=200, deadline=None)
def test_span_corruption_arithmetic_invariants(n_tokens):
    """For ANY token count: the T5 plan's clamps hold (1 <= noise < n,
    spans >= 1, spans <= noise), and input+target lengths conserve the
    token budget (input + target = n + 2*spans + 2)."""
    noise = max(1, min(int(n_tokens * 0.15 + 0.5), n_tokens - 1))
    spans = max(1, int(noise / 3.0 + 0.5))
    input_len = n_tokens - noise + spans + 1
    target_len = noise + spans + 1
    assert 1 <= noise < n_tokens
    assert 1 <= spans <= noise
    assert input_len + target_len == n_tokens + 2 * spans + 2
    assert input_len >= spans + 2  # at least one sentinel + EOS + text


# --- r16 cohort property tests (registered wave-2 + the sharded helper) ---


@given(
    ns=st.lists(st.integers(min_value=0, max_value=400), min_size=1,
                max_size=30)
)
@PROP
def test_span_corruption_operator_matches_replay(spark, ns):
    """span_corruption_plan on synthetic n-token docs: the documented
    clamps and identities hold for EVERY n — noise in [1, n-1], spans
    in [1, noise], input_len + target_len == n_tokens + 2*n_spans + 2
    (each span costs one sentinel on each side plus the two EOS), and
    a pure-Python floor-half-up replay matches exactly; docs with
    n < 2 are dropped."""
    from datapipeline_spike_spark.operators.packing import (
        span_corruption_plan,
    )

    rows = [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(ns)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in span_corruption_plan(df).collect()}
    for i, n in enumerate(ns):
        if n < 2:
            assert i not in got
            continue
        r = got[i]
        noise = max(1, min(int(n * 0.15 + 0.5), n - 1))
        spans = max(1, int(noise / 3.0 + 0.5))
        assert r["n_tokens"] == n
        assert r["noise_tokens"] == noise
        assert r["n_spans"] == spans
        assert 1 <= r["noise_tokens"] <= n - 1
        assert 1 <= r["n_spans"] <= r["noise_tokens"]
        assert r["input_len"] + r["target_len"] == n + 2 * spans + 2
        assert r["input_len"] == n - noise + spans + 1
        assert r["target_len"] == noise + spans + 1


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),       # prompt
            st.integers(min_value=0, max_value=999),     # score millis
        ),
        min_size=2,
        max_size=60,
    )
)
@PROP
def test_dpo_pair_plan_extremes_and_margin(spark, pairs):
    """dpo_pair_plan picks per prompt the max-score and min-score
    candidates (deterministic id tie-break), never pairs a candidate
    with itself, and keeps only pairs whose 6dp margin clears the
    floor — replayed in pure Python for every generated corpus."""
    from datapipeline_spike_spark.operators.sft import dpo_pair_plan

    rows = [
        (p, i, s / 1000.0) for i, (p, s) in enumerate(pairs)
    ]
    df = spark.createDataFrame(
        rows, "prompt_id long, cand_id long, score double"
    )
    got = {r["prompt_id"]: r for r in dpo_pair_plan(df).collect()}

    by_prompt: dict[int, list[tuple[int, float]]] = {}
    for p, i, s in rows:
        by_prompt.setdefault(p, []).append((i, s))
    for p, cands in by_prompt.items():
        # the operator's documented order: top = score desc, id asc;
        # bottom = score asc, id desc
        top = sorted(cands, key=lambda c: (-c[1], c[0]))[0]
        bot = sorted(cands, key=lambda c: (c[1], -c[0]))[0]
        margin = round(top[1] - bot[1], 6)
        if top[0] == bot[0] or margin < 0.1:
            assert p not in got, p
        else:
            r = got[p]
            assert (r["chosen_id"], r["rejected_id"]) == (top[0], bot[0])
            assert r["margin"] == pytest.approx(margin, abs=1e-9)
            assert r["chosen_score"] >= r["rejected_score"]


@given(
    fams=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**63 - 1),  # family base
            st.integers(min_value=1, max_value=4),          # members
        ),
        min_size=1,
        max_size=6,
    ),
    n_shards=st.integers(min_value=1, max_value=4),
)
@PROP
def test_sharded_neardup_full_recall_property(spark, fams, n_shards):
    """Property form of the sharded-dedup equivalence: for ANY planted
    hash corpus and ANY shard count, full-recall sharding emits
    exactly the monolithic pair set, each pair exactly once."""
    from datapipeline_spike_spark.operators.dedup import (
        dhash_neardup_pairs,
        sharded_neardup_pairs,
    )

    rows = []
    mid = 0
    for base, members in fams:
        for m in range(members):
            v = base
            for j in range(m):
                v ^= 1 << ((j * 9) % 64)
            rows.append((mid, (v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF))
            mid += 1
    h = spark.createDataFrame(
        rows, "media_id long, dhash_w0 long, dhash_w1 long"
    )
    mono = sorted(
        tuple(r) for r in dhash_neardup_pairs(h).collect()
    )
    sharded_rows = sharded_neardup_pairs(
        h, n_shards, full_recall=True
    ).collect()
    assert sorted(tuple(r) for r in sharded_rows) == mono
    assert len(sharded_rows) == len(mono)  # exactly-once emission


@given(
    picks=st.lists(
        st.lists(st.sampled_from([
            "gpl-3.0", "gnu general public license", "apache-2.0",
            "apache license", "bsd-3-clause", "bsd license", "cc-by-4.0",
            "creative commons", "mit", "submit", "limit", "plain prose",
        ]), min_size=0, max_size=4),
        min_size=1,
        max_size=25,
    )
)
@PROP
def test_license_priority_is_first_match_in_battery_order(spark, picks):
    """license_detect_profile on random marker combinations: the
    classification is ALWAYS the first battery entry (copyleft-first
    priority) whose pattern fires — replayed in pure Python, with the
    \\bmit\\b boundary honored ('submit'/'limit' never fire)."""
    import re as _re

    from datapipeline_spike_spark.operators.detectors import (
        LICENSE_PATTERNS,
        license_detect_profile,
    )

    rows = [
        (i, "s", " and ".join(markers) if markers else "empty filler text")
        for i, markers in enumerate(picks)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = license_detect_profile(df).collect()

    def classify(text: str) -> str:
        low = text.lower()
        for name, pat, _perm in LICENSE_PATTERNS:
            if _re.search(pat, low):
                return name
        return "none"

    want: dict[str, int] = {}
    for _, _, text in rows:
        lic = classify(text)
        want[lic] = want.get(lic, 0) + 1
    assert {r["license"]: r["n_docs"] for r in got} == want
    # per-source shares always sum to 1 (single source here)
    assert sum(r["source_share"] for r in got) == pytest.approx(1.0, abs=1e-4)


# --- r17 wave-9 staged-operator property batteries ---------------------------


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1, max_size=40,
    ),
    k=st.integers(min_value=1, max_value=4),
)
@PROP
def test_kcore_matches_pure_python_peel(spark, edges, k):
    """kcore_membership on ARBITRARY random multigraphs (self-loops,
    duplicates, both directions) equals a pure-Python peel to the
    fixpoint: same surviving set, same full-graph degrees — for every
    k. Pins the convergent-loop semantics before the r19 registration
    freezes the hash."""
    from datapipeline_spike_spark.operators.graph import kcore_membership

    simple = {(a, b) for a, b in edges if a != b}
    und = set()
    for a, b in simple:
        und.add((a, b))
        und.add((b, a))
    if not und:
        return  # all self-loops: the operator would see zero vertices
    verts = {v for e in und for v in e}
    deg0 = {v: sum(1 for (a, _) in und if a == v) for v in verts}
    surv = set(verts)
    while True:
        deg = {v: 0 for v in surv}
        for a, b in und:
            if a in surv and b in surv:
                deg[a] += 1
        new = {v for v in surv if deg[v] >= k}
        if new == surv:
            break
        surv = new

    df = spark.createDataFrame(list(simple), "src long, dst long")
    got = {r["host"]: r for r in kcore_membership(df, k=k).collect()}
    assert set(got) == verts
    for v in verts:
        assert got[v]["degree"] == deg0[v], v
        assert got[v]["in_kcore"] == (v in surv), (v, k)


@given(
    pools=st.lists(
        st.tuples(
            st.integers(0, 5),                       # prompt
            st.integers(0, 999),                     # candidate id
            st.integers(0, 1000),                    # score in milli-units
        ),
        min_size=1, max_size=40,
    ),
)
@PROP
def test_best_of_n_matches_pure_python(spark, pools):
    """best_of_n_selection equals a pure-Python replay on arbitrary
    pools: the (score desc, id asc) argmax, the pool mean, the
    POPULATION stddev, and the gap — duplicate (prompt, cand) rows
    count as separate candidates (the multiset contract)."""
    from datapipeline_spike_spark.operators.sft import best_of_n_selection

    rows = [(p, c, s / 1000.0) for p, c, s in pools]
    df = spark.createDataFrame(
        rows, "prompt_id long, cand_id long, score double"
    )
    got = {r["prompt_id"]: r for r in best_of_n_selection(df).collect()}
    by_p: dict[int, list] = {}
    for p, c, s in rows:
        by_p.setdefault(p, []).append((c, round(s, 6)))
    assert set(got) == set(by_p)
    for p, cands in by_p.items():
        g = got[p]
        assert g["n_candidates"] == len(cands)
        best = max(cands, key=lambda cs: (cs[1], -cs[0]))
        assert g["best_id"] == best[0], p
        scores = [s for _, s in cands]
        mean = sum(scores) / len(scores)
        var = sum((s - mean) ** 2 for s in scores) / len(scores)
        assert g["best_score"] == pytest.approx(best[1], abs=1e-9)
        assert g["mean_score"] == pytest.approx(round(mean, 6), abs=1.5e-6)
        assert g["std_score"] == pytest.approx(
            round(math.sqrt(var), 6), abs=1.5e-6
        )
        assert g["selection_gap"] == pytest.approx(
            round(best[1] - round(mean, 6), 6), abs=1.5e-6
        )
