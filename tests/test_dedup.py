"""Dedup family semantics on PLANTED duplicates (the driver corpus has
none — max 3-shingle Jaccard ~0.03 — so recall must be proven here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash16,
    simhash64,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")  # one token changed -> high jaccard
FAR = (
    "completely different subject matter about database engines and "
    "distributed query processing with shuffles joins and aggregations"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en"),
        (1, BASE, "en"),          # exact dup of 0
        (2, "  " + BASE.upper() + "  ", "en"),  # normalizes to dup of 0
        (3, NEAR, "en"),          # near-dup of 0
        (4, FAR, "en"),
        (5, "tiny", "en"),        # < 3 tokens -> empty shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_groups_normalized_copies(docs):
    out = exact_dedup(docs).collect()
    by_canon = {r["canonical_id"]: r["n_copies"] for r in out}
    assert by_canon[0] == 3  # 0, 1, 2 share a fingerprint
    assert by_canon[3] == 1 and by_canon[4] == 1


def test_jaccard_finds_near_dup(docs):
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 3)] > 0.7  # single-token edit
    assert (0, 4) not in pairs


def test_minhash_lsh_recalls_near_dup(docs):
    cand = {(r["doc_id_a"], r["doc_id_b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in cand  # exact dup: all bands collide
    assert (0, 3) in cand  # near-dup: J~0.87 -> P(miss) ~ (1-J^2)^4 < 3%
    assert (0, 4) not in cand


def _sig64(chunks):
    return sum(c << (16 * i) for i, c in enumerate(chunks))


def test_simhash_equal_for_dups_far_for_distinct(docs):
    rows = simhash64(docs).collect()
    sims = {r["doc_id"]: _sig64(r["simhash_chunks"]) for r in rows}
    hexes = {r["doc_id"]: r["simhash_hex"] for r in rows}
    assert sims[0] == sims[1] == sims[2]  # exact + normalized dups
    assert hexes[0] == f"{sims[0]:016x}"  # hex encoding is the big-endian u64
    ham_near = bin(sims[0] ^ sims[3]).count("1")
    ham_far = bin(sims[0] ^ sims[4]).count("1")
    assert ham_near <= 12  # one-token edit stays close in 64-bit space
    assert ham_far > ham_near
    assert 5 in sims  # single token still hashes


def test_empty_shingles_excluded_from_pairs(docs):
    pairs = jaccard_pairs(docs, threshold=0.0).select("doc_id_a", "doc_id_b").collect()
    ids = {x for r in pairs for x in (r["doc_id_a"], r["doc_id_b"])}
    assert 5 not in ids


def test_connected_components_merges_chains(spark):
    from datapipeline_spike_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8, 9)], "id long")
    comp = {r["id"]: r["comp"] for r in connected_components(edges, verts).collect()}
    assert comp[1] == comp[2] == comp[3] == 1   # chain merges transitively
    assert comp[7] == comp[8] == 7
    assert comp[9] == 9                          # isolated vertex maps to itself


def test_connected_components_string_ids_deep_chain(spark):
    """Generic vertex ids: doc ids/hashes are commonly strings, where a
    numeric-sum convergence probe returns NULL every round and silently
    stops after one propagation (wrong components for diameter > 1).
    The digest probe must keep iterating until the a-b-c-d chain fully
    contracts."""
    from datapipeline_spike_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "src string, dst string"
    )
    verts = spark.createDataFrame([(x,) for x in "abcdez"], "id string")
    comp = {r["id"]: r["comp"] for r in connected_components(edges, verts).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == comp["e"] == "a"
    assert comp["z"] == "z"


def test_min_label_raises_instead_of_capping(spark):
    """A capped min-label result is not approximate, it is WRONG for
    components deeper than the budget (the 10x scale probe caught a
    bridged corpus hitting the cap silently). The loop must raise so
    callers fall back to the star contraction."""
    import pytest

    from datapipeline_spike_spark.operators.dedup import (
        ComponentsNotConverged,
        connected_components,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(15)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(16)], "id long")
    with pytest.raises(ComponentsNotConverged):
        connected_components(edges, verts, max_iterations=4)


def test_dedup_corpus_auto_falls_back_on_deep_chains(spark):
    """component_algorithm='auto' must survive a transitive near-dup
    chain much deeper than the min-label budget: 40 docs where each
    differs from the next by one token (every adjacent Jaccard high,
    ends unrelated) — min-label at budget 6 cannot converge, the star
    fallback must, and the whole chain collapses to canonical 0."""
    from datapipeline_spike_spark.operators.dedup import dedup_corpus

    base = [f"tok{j}" for j in range(52)]
    rows = []
    for i in range(40):
        # 12-token sliding window: adjacent Jaccard ~0.8, so every
        # adjacent pair is an LSH candidate (verified by construction)
        rows.append((i, " ".join(base[i : i + 12])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_corpus(docs, jaccard_threshold=0.3).collect()
    }
    assert all(out[i] == 0 for i in range(40)), out


def test_star_components_contract_long_paths(spark):
    """The alternating large/small-star variant must solve graphs whose
    DIAMETER exceeds any reasonable min-label round budget: a 64-node
    path converges in O(log^2 n) rounds (min-label would need 63)."""
    from datapipeline_spike_spark.operators.dedup import connected_components_star

    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(n + 2)], "id long")
    comp = {
        r["id"]: r["comp"]
        for r in connected_components_star(edges, verts, max_iterations=12).collect()
    }
    assert all(comp[i] == 0 for i in range(n)), comp
    assert comp[n] == n and comp[n + 1] == n + 1  # isolated vertices


def test_star_components_agree_with_min_label(spark):
    """Differential check on a multi-component graph (string ids too):
    both algorithms must produce identical component assignments."""
    from datapipeline_spike_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "a"), ("g", "h"), ("h", "g")],
        "src string, dst string",
    )
    verts = spark.createDataFrame([(x,) for x in "abcdefghi"], "id string")
    star = {r["id"]: r["comp"] for r in connected_components_star(edges, verts).collect()}
    label = {r["id"]: r["comp"] for r in connected_components(edges, verts).collect()}
    assert star == label
    assert star["f"] == "a" and star["i"] == "i"


def test_dedup_corpus_end_to_end(spark, docs):
    """Exact copies collapse without LSH; near-dups merge via verified
    edges; unrelated and tiny docs stay their own canonicals."""
    from datapipeline_spike_spark.operators.dedup import dedup_corpus

    out = {r["doc_id"]: r["canonical_id"] for r in dedup_corpus(docs, jaccard_threshold=0.7).collect()}
    assert out[0] == out[1] == out[2] == 0  # exact + normalized copies
    assert out[3] == 0                      # near-dup joins the cluster
    assert out[4] == 4 and out[5] == 5      # unrelated and <3-token docs
    star = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_corpus(docs, jaccard_threshold=0.7, component_algorithm="star").collect()
    }
    assert star == out  # both component algorithms agree end-to-end


def test_simhash_neardup_pairs_band_and_verify(docs):
    from datapipeline_spike_spark.operators.dedup import simhash_neardup_pairs

    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["hamming"] for r in simhash_neardup_pairs(docs).collect()}
    assert pairs[(0, 1)] == 0  # exact dups: identical signature
    assert pairs[(0, 2)] == 0  # normalization-equal
    assert (0, 4) not in pairs  # unrelated doc beyond hamming 3
    # pigeonhole bound: 4 chunks only guarantee recall through Hamming 3
    with pytest.raises(ValueError, match="Hamming"):
        simhash_neardup_pairs(docs, max_hamming=4)


def test_simhash64_buckets_shrink_vs_16bit(spark, sf_dir):
    """The scale argument for the 64-bit signature, measured: on the
    driver corpus, 16-bit chunk buckets (256 values/band) collapse many
    distinct docs together, while the 64-bit signature's 16-bit chunks
    keep buckets near-singleton. Candidate volume (sum over buckets of
    C(size, 2)) must shrink strictly."""
    from datapipeline_spike_spark.plans.registry import load

    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)

    s16 = simhash16(docs).filter(F.col("simhash").isNotNull())
    b16 = (
        s16.select(
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("ci"), (F.col("simhash") % 256).alias("cv")),
                    F.struct(F.lit(1).alias("ci"), (F.col("simhash") / 256).cast("long").alias("cv")),
                )
            ).alias("c")
        )
        .groupBy("c.ci", "c.cv")
        .count()
    )
    s64 = simhash64(docs)
    b64 = (
        s64.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(c).alias("ci"), F.element_at("simhash_chunks", c + 1).alias("cv"))
                        for c in range(4)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.ci", "c.cv")
        .count()
    )

    def stats(b):
        row = b.agg(
            F.max("count").alias("mx"),
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"),
        ).collect()[0]
        return row["mx"], row["pairs"]

    max16, pairs16 = stats(b16)
    max64, pairs64 = stats(b64)
    assert max64 <= max16
    assert pairs64 < pairs16  # banded-join candidate volume strictly shrinks


def test_leakage_safe_split_keeps_dup_groups_together(spark, docs, sf_dir):
    """Copies of the same text must land in the SAME split (that is the
    leakage guarantee), assignment must be deterministic, and the hash
    buckets must produce a roughly 80/10/10 partition on a real corpus."""
    import tempfile

    from datapipeline_spike_spark.plans.catalog_extensions import q_leakage_safe_split

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        rows = {r["doc_id"]: r for r in q_leakage_safe_split(spark, d).collect()}
        assert rows[0]["split"] == rows[1]["split"] == rows[2]["split"]
        assert rows[0]["exact_rep"] == rows[1]["exact_rep"] == rows[2]["exact_rep"] == 0
        again = {r["doc_id"]: r["split"] for r in q_leakage_safe_split(spark, d).collect()}
        assert again == {k: v["split"] for k, v in rows.items()}

    splits = q_leakage_safe_split(spark, sf_dir).groupBy("split").count().collect()
    frac = {r["split"]: r["count"] for r in splits}
    total = sum(frac.values())
    assert 0.6 < frac.get("train", 0) / total < 0.95
    assert frac.get("val", 0) > 0 and frac.get("test", 0) > 0


def test_incremental_dedup_classifies_against_existing_only(spark):
    """incremental_dedup: incoming docs classify vs the EXISTING corpus
    — exact beats near, near requires the Jaccard gate, unrelated and
    incoming-x-incoming dups come back 'new'."""
    from datapipeline_spike_spark.operators.dedup import incremental_dedup

    existing = spark.createDataFrame(
        [(0, BASE), (2, FAR)], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [
            (11, BASE),              # exact dup of existing 0
            (13, NEAR),              # near dup of existing 0
            (15, "nothing alike here at all just some other words"),
            (17, "incoming only duplicate text that repeats in the batch"),
            (19, "incoming only duplicate text that repeats in the batch"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in incremental_dedup(existing, incoming).collect()
    }
    assert got[11] == ("exact_dup", 0)
    assert got[13] == ("near_dup", 0)
    assert got[15] == ("new", None)
    # incoming-x-incoming dups are NOT the incremental question: both
    # classify against existing only (a subsequent batch-local exact
    # dedup handles them)
    assert got[17] == ("new", None)
    assert got[19] == ("new", None)
    assert len(got) == 5


def test_driver_components_match_star(spark):
    """The size-gated driver union-find must produce IDENTICAL component
    labels to the distributed star contraction — chains, cycles, string
    ids, isolated vertices."""
    from datapipeline_spike_spark.operators.dedup import (
        connected_components_driver,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "p")],
        "src string, dst string",
    )
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("p",), ("q",), ("lone",)],
        "id string",
    )
    drv = {r["id"]: r["comp"] for r in connected_components_driver(edges, verts).collect()}
    star = {r["id"]: r["comp"] for r in connected_components_star(edges, verts).collect()}
    assert drv == star
    assert drv["lone"] == "lone" and drv["c"] == "a" and drv["y"] == "x"


def test_dedup_corpus_driver_and_star_agree(docs):
    """dedup_corpus(auto) now routes small edge sets to the driver
    union-find; assignments must match the forced-star run exactly."""
    from datapipeline_spike_spark.operators.dedup import dedup_corpus

    auto = {r["doc_id"]: r["canonical_id"]
            for r in dedup_corpus(docs, component_algorithm="auto").collect()}
    star = {r["doc_id"]: r["canonical_id"]
            for r in dedup_corpus(docs, component_algorithm="star").collect()}
    assert auto == star
    assert auto[1] == 0 and auto[2] == 0  # exact dups collapse


def test_incremental_dedup_prebuilt_index_matches_inline(spark):
    """The prebuilt-index path (steady state: classification touches
    only the stored index) must classify identically to the inline
    cold-start path."""
    from datapipeline_spike_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup,
    )

    existing = spark.createDataFrame([(0, BASE), (2, FAR)], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(11, BASE), (13, NEAR), (15, "totally unrelated words about gardening tools")],
        "doc_id long, text string",
    )
    inline = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in incremental_dedup(existing, incoming).collect()
    }
    idx = build_dedup_index(existing)
    via_index = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in incremental_dedup(None, incoming, index=idx).collect()
    }
    assert inline == via_index
    assert via_index[11] == ("exact_dup", 0)


def test_bucketed_band_index_join_shuffles_batch_only(spark):
    """Substantiates the stored-index scale claim: the band index saved
    as a table BUCKETED BY its join key joins an incoming batch's bands
    with NO exchange on the index side — only the batch-sized side
    shuffles. (At 100 TB the index is the big side; not shuffling it is
    the point of bucketing.)"""
    from datapipeline_spike_spark.operators.dedup import build_dedup_index

    docs = spark.createDataFrame(
        [(i, f"{BASE} variant {i}") for i in range(40)], "doc_id long, text string"
    )
    _, bands, _ = build_dedup_index(docs)
    spark.sql("DROP TABLE IF EXISTS band_index_test")
    # bucket spec must cover the JOIN KEYS exactly for exchange
    # elimination — bucketing by band_val alone leaves the scan's
    # partitioning incompatible with the (band_idx, band_val) join
    (
        bands.write.format("parquet")
        .bucketBy(8, "band_idx", "band_val")
        .sortBy("band_idx", "band_val")
        .mode("overwrite")
        .saveAsTable("band_index_test")
    )
    try:
        stored = spark.table("band_index_test")
        batch = spark.createDataFrame(
            [(100, BASE), (101, FAR)], "doc_id long, text string"
        )
        _, batch_bands, _ = build_dedup_index(batch)
        joined = stored.join(
            batch_bands.withColumnRenamed("ex_id", "inc_id").hint("merge"),
            ["band_idx", "band_val"],
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the stored (bucketed) side must reach the join with NO hash
        # exchange of ITS OWN rows; the incoming side may shuffle (it is
        # batch-sized). Identify exchanges by the attribute ids of each
        # side's band columns.
        import re

        exchanges = re.findall(r"Exchange hashpartitioning\([^)]*\)[^\n]*", plan)
        stored_scan = next(
            ln for ln in plan.splitlines() if "band_index_test" in ln and "Scan" in ln
        )
        stored_attr = re.search(r"band_val#(\d+)", stored_scan).group(1)
        for ex in exchanges:
            assert f"band_val#{stored_attr}" not in ex, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert joined.count() > 0  # identical docs share all bands
    finally:
        spark.sql("DROP TABLE IF EXISTS band_index_test")


def test_incremental_dedup_empty_edges(spark):
    """Contract at the boundaries: empty incoming -> empty verdict;
    empty existing corpus -> everything classifies 'new'."""
    from datapipeline_spike_spark.operators.dedup import incremental_dedup

    schema = "doc_id long, text string"
    existing = spark.createDataFrame([(0, BASE)], schema)
    empty = spark.createDataFrame([], schema)
    assert incremental_dedup(existing, empty).count() == 0
    got = {
        r["doc_id"]: r["status"]
        for r in incremental_dedup(empty, existing).collect()
    }
    assert got == {0: "new"}


def test_prefix_filter_join_is_complete_vs_brute_force(spark, tmp_path):
    """Prefix filtering's guarantee (AllPairs): the candidate set has
    ZERO false negatives — every pair with Jaccard >= 0.8 is found,
    exactly matching a brute-force all-pairs scan on a corpus planted
    with near-dups, a transitive chain, and unrelated docs."""
    import itertools

    from datapipeline_spike_spark.plans import REGISTRY

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    docs = [
        (0, base),
        (1, base.replace("kappa", "koppa")),            # near-dup of 0
        (2, base.replace("kappa", "koppa").replace("tau", "taw")),  # chain
        (3, "totally different words about completely other things entirely "
            "nothing shared with the first group of documents at all here"),
        (4, base),                                      # exact dup of 0
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(f"{sf}/documents.parquet")

    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in REGISTRY["prefix_filter_jaccard_join"].spark(spark, sf).collect()
    }

    # ground truth: brute-force 3-shingle Jaccard over all pairs
    def sh(text):
        toks = text.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        a, b = sh(ta), sh(tb)
        j = len(a & b) / len(a | b)
        if j >= 0.8:
            want[(min(ia, ib), max(ia, ib))] = round(j, 6)
    assert want, "test corpus must contain qualifying pairs"
    assert got == want


def test_prefix_bucket_cap_hot_shingle_same_pairs(spark):
    """The hot-bucket guard (r5 verdict item 7) changes the execution
    shape, never the result: with the cap forced below a planted hot
    shingle's bucket size, the chunked self-join path must produce the
    EXACT same candidate set as the uncapped HOF path."""
    from datapipeline_spike_spark.plans.catalog_extensions import (
        _prefix_bucket_pairs,
    )

    # 12 ids sharing shingle "hot" (one hot bucket), a 2-id normal
    # bucket, and a singleton that must pair with nothing
    rows = (
        [(i, 20, "hot") for i in range(12)]
        + [(100, 20, "cold"), (101, 22, "cold")]
        + [(200, 20, "solo")]
        # id 7 also shares a second shingle with 100 (cross-bucket dup
        # must collapse via the trailing distinct)
        + [(7, 20, "x"), (100, 20, "x")]
        # size-incompatible pair: 5*min >= 4*max fails for (20, 40)
        + [(300, 20, "y"), (301, 40, "y")]
    )
    prefix = spark.createDataFrame(rows, "doc_id long, n int, g string")

    def pairs(cap, n_chunks=4):
        return sorted(
            (r["doc_id_a"], r["doc_id_b"])
            for r in _prefix_bucket_pairs(prefix, cap=cap, n_chunks=n_chunks).collect()
        )

    uncapped = pairs(cap=10_000)
    assert (100, 101) in uncapped and (7, 100) in uncapped
    assert (300, 301) not in uncapped  # PPJoin length filter
    assert len([p for p in uncapped if p[0] < 100 and p[1] < 100]) == 66  # C(12,2)
    # cap=2 forces the 12-id bucket down the chunked self-join path
    assert pairs(cap=2) == uncapped
    # degenerate chunk counts still exact
    assert pairs(cap=2, n_chunks=1) == uncapped


def test_lsh_hot_band_guard_same_pairs(spark):
    """r6 verdict item 1: the hot-bucket guard ported into
    lsh_candidate_pairs changes the execution shape, never the result.
    A planted 12-doc template family (identical text -> identical
    signature -> every band bucket holds 12 ids) forced down the
    chunked self-join path must yield the EXACT pair set (including
    n_shared_bands) of the in-row HOF path."""
    rows = (
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(12)]
        + [
            (100, "one two three four five six seven"),
            (101, "one two three four five six eight"),
        ]
        + [(200, "totally unrelated content words only here")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(cap, n_chunks=4):
        return sorted(
            (r["doc_id_a"], r["doc_id_b"], r["n_shared_bands"])
            for r in lsh_candidate_pairs(
                docs, bucket_cap=cap, n_chunks=n_chunks
            ).collect()
        )

    uncapped = pairs(cap=10_000)
    family = [p for p in uncapped if p[0] < 100 and p[1] < 100]
    assert len(family) == 66  # C(12,2): identical docs share all bands
    assert all(n == 4 for _, _, n in family)
    assert pairs(cap=2) == uncapped
    assert pairs(cap=2, n_chunks=1) == uncapped


def test_simhash_hot_bucket_guard_same_pairs(spark):
    """Same guard, SimHash chunk-band join: a planted identical-doc
    family makes every (chunk_idx, value) bucket hot; the salted-join
    path must reproduce the exact (pair, hamming) set."""
    from datapipeline_spike_spark.operators.dedup import simhash_neardup_pairs

    rows = (
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(10)]
        + [
            (100, "one two three four five six seven"),
            (101, "one two three four five six eight"),
        ]
        + [(200, "totally unrelated content words only here")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(cap, n_chunks=4):
        return sorted(
            (r["doc_id_a"], r["doc_id_b"], r["hamming"])
            for r in simhash_neardup_pairs(
                docs, bucket_cap=cap, n_chunks=n_chunks
            ).collect()
        )

    uncapped = pairs(cap=10_000)
    family = [p for p in uncapped if p[0] < 100 and p[1] < 100]
    assert len(family) == 45 and all(h == 0 for _, _, h in family)  # C(10,2)
    assert pairs(cap=2) == uncapped
    assert pairs(cap=2, n_chunks=1) == uncapped


def test_fuzzy_contamination_catches_paraphrase_not_exact_ngrams(spark):
    """A lightly-edited benchmark copy (one token changed — exact
    5-gram matching on the edit site weakens, shingle Jaccard stays
    high) must be flagged; an unrelated doc must not. Asymmetric: a
    benchmark doc never flags itself or other benchmark docs."""
    from datapipeline_spike_spark.plans.registry import REGISTRY

    toks = [f"tok{i:02d}" for i in range(30)]
    base = " ".join(toks)
    toks[5] = toks[5] + "x"           # one-token edit: J ~ 0.83, bands collide
    edited = " ".join(toks)
    rows = [
        (0, base),                    # benchmark (0 % 7 == 0)
        (1, edited),                  # paraphrased copy -> must flag vs 0
        (2, "totally different content with other words entirely " * 3),
        (7 * 2, base),               # another benchmark doc; must NOT appear as doc_id
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # drive the registered query's core directly on a local frame
    import datapipeline_spike_spark.plans.catalog_extensions as CE

    # monkeypatch-free: rebuild the same pipeline inline
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.functions.text import shingles
    from datapipeline_spike_spark.operators.dedup import band_values, minhash_signature

    bands = band_values(minhash_signature(docs)).localCheckpoint(eager=True)
    corpus_b = bands.filter(F.col("doc_id") % 7 != 0)
    bench_b = bands.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("benchmark_id"),
        F.col("band_idx").alias("bi"),
        F.col("band_val").alias("bv"),
    )
    cand = (
        corpus_b.join(
            F.broadcast(bench_b),
            (F.col("band_idx") == F.col("bi")) & (F.col("band_val") == F.col("bv")),
        )
        .groupBy("doc_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    sh = docs.select("doc_id", shingles("text", k=3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("aid"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col("doc_id").alias("bid"), F.col("sh").alias("b_sh"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.array_union(F.col("a_sh"), F.col("b_sh")))
    jac = inter.cast("double") / union
    flagged = {
        (r["doc_id"], r["benchmark_id"])
        for r in cand.join(a, cand["doc_id"] == F.col("aid"))
        .join(F.broadcast(b), cand["benchmark_id"] == F.col("bid"))
        .filter(jac >= 0.5)
        .collect()
    }
    assert (1, 0) in flagged or (1, 14) in flagged   # paraphrase caught
    assert all(d % 7 != 0 for d, _ in flagged)        # never flags benchmark side
    assert all(d != 2 for d, _ in flagged)             # unrelated doc clean


def test_lsh_candidate_pairs_rejects_streaming_input(spark, tmp_path):
    """The bucket frame materializes mid-plan (localCheckpoint/persist)
    — impossible inside a continuous plan, so the builder must fail
    fast with a pointer to foreachBatch, not at stream start."""
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "a b c d e")], "doc_id long, text string"
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(ValueError, match="foreachBatch"):
        lsh_candidate_pairs(stream)
    from datapipeline_spike_spark.operators.dedup import simhash_neardup_pairs

    with pytest.raises(ValueError, match="foreachBatch"):
        simhash_neardup_pairs(stream)


def test_semdedup_empty_corpus_keeps_string_id_type(spark):
    """Empty-corpus typed-empty results must carry the corpus's ACTUAL
    id type (string ids came back long before r8)."""
    from pyspark.sql.types import StringType

    from datapipeline_spike_spark.operators.similarity import (
        cluster_balanced_sample,
        semdedup,
    )

    empty = spark.createDataFrame(
        [], "url string, embedding array<double>"
    )
    sd = semdedup(empty, id_col="url", vec_col="embedding")
    assert isinstance(sd.schema["url"].dataType, StringType)
    assert sd.count() == 0
    cb = cluster_balanced_sample(empty, id_col="url", vec_col="embedding")
    assert isinstance(cb.schema["url"].dataType, StringType)
    assert cb.columns == ["url", "cent_id", "samp_rank"]


def test_paragraph_dedup_removes_cross_doc_boilerplate(spark):
    """Paragraph-grain dedup: shared boilerplate survives only in its
    first (doc_id, pos) occurrence; unique paragraphs all survive;
    reassembly preserves in-document order; a fully-boilerplate doc
    collapses to empty text."""
    from datapipeline_spike_spark.operators.dedup import paragraph_dedup

    boiler = "subscribe to our newsletter for updates"
    rows = [
        (1, f"intro about databases\n\n{boiler}\n\nunique analysis one"),
        (2, f"{boiler}\n\nunique analysis two"),
        (3, f"{boiler.upper()}  "),  # normalizes to the same fingerprint
        (4, "completely fresh document\n\nwith two fresh paragraphs"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(d).collect()}
    assert out[1]["text"] == rows[0][1]                   # first occurrence keeps all
    assert out[1]["n_paragraphs"] == 3 and out[1]["n_kept"] == 3
    assert out[2]["text"] == "unique analysis two"        # boilerplate stripped
    assert out[2]["n_kept"] == 1
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0  # nothing left
    assert out[4]["text"] == rows[3][1]
    # determinism under repartitioning (the min_by winner is data-defined)
    out2 = {r["doc_id"]: r["text"] for r in paragraph_dedup(d.repartition(7)).collect()}
    assert out2 == {k: v["text"] for k, v in out.items()}


def test_select_canonical_keeps_best_scoring_cluster_member(spark):
    """The curation policy layer: cluster label (min id) stays, the
    SURVIVOR becomes the argmax-quality member with min-id tie-break;
    singletons survive as themselves; unscored docs cannot win."""
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.operators.dedup import select_canonical

    assignments = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (20, 20), (21, 20)],
        "doc_id long, canonical_id long",
    )
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (20, 0.4), (21, 0.4)],
        "doc_id long, quality double",
    )
    got = {
        r["doc_id"]: r["keep_id"]
        for r in select_canonical(assignments, scored).collect()
    }
    # cluster 1: 2 and 3 tie at 0.9 -> min id 2 wins; all members map there
    assert got == {1: 2, 2: 2, 3: 2, 10: 10, 20: 20, 21: 20}

    # composed with dedup_corpus on a planted near-dup family: the
    # highest-quality near-duplicate survives even though it has the
    # LARGEST id (crawl order != quality order)
    from datapipeline_spike_spark.operators.dedup import dedup_corpus

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (100, base),
            (101, base + " extra"),
            (102, base + " extra word"),
            (200, "completely unrelated text about spark shuffles and parquet files"),
        ],
        "doc_id long, text string",
    )
    quality = spark.createDataFrame(
        [(100, 0.1), (101, 0.2), (102, 0.95), (200, 0.5)],
        "doc_id long, quality double",
    )
    assign = dedup_corpus(docs, jaccard_threshold=0.5)
    kept = {
        r["doc_id"]: r["keep_id"]
        for r in select_canonical(assign, quality).collect()
    }
    assert kept[100] == 102 and kept[101] == 102 and kept[102] == 102
    assert kept[200] == 200


def test_sharded_neardup_full_recall_equals_monolithic(spark):
    """sharded_neardup_pairs (r16, the dhash escape hatch made
    runnable): with full_recall=True the union of within-shard +
    cross-pair passes must equal dhash_neardup_pairs on the whole
    corpus EXACTLY — planted near-dup families whose members land in
    different xxhash shards prove the cross-pair path, and the
    exactly-once emission contract means set equality including
    hamming values (no duplicates to collapse)."""
    from datapipeline_spike_spark.operators.dedup import (
        dhash_neardup_pairs,
        sharded_neardup_pairs,
    )

    # 6 families x 4 members: member m flips m low bits of the family
    # base -> within-family hamming |mi - mj| <= 3, cross-family far
    rows = []
    for fam in range(6):
        base = (0x9E3779B97F4A7C15 * (fam + 1)) & ((1 << 64) - 1)
        for m in range(4):
            v = base
            for j in range(m):
                v ^= 1 << (j * 11)
            rows.append(
                (fam * 10 + m, (v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF)
            )
    h = spark.createDataFrame(
        rows, "media_id long, dhash_w0 long, dhash_w1 long"
    )

    mono = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dhash_neardup_pairs(h).collect()
    }
    assert mono  # the plant produces real pairs
    for n_shards in (2, 3):
        rows_sharded = sharded_neardup_pairs(
            h, n_shards, full_recall=True
        ).collect()
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in rows_sharded}
        assert got == mono, n_shards
        # exactly-once: no pair emitted by two passes
        assert len(rows_sharded) == len(got), n_shards

    # the plant actually exercises the cross-shard path (members of
    # one family in different shards) — otherwise this test is vacuous
    import pyspark.sql.functions as _F

    shards = {
        r["media_id"]: r["s"]
        for r in h.select(
            "media_id",
            _F.pmod(_F.xxhash64("media_id"), _F.lit(2)).alias("s"),
        ).collect()
    }
    assert any(shards[a] != shards[b] for a, b, _ in mono)


def test_sharded_neardup_within_only_is_the_same_shard_subset(spark):
    """full_recall=False keeps exactly the monolithic pairs whose
    members share a shard (the documented sampled-recall trade)."""
    from datapipeline_spike_spark.operators.dedup import (
        dhash_neardup_pairs,
        sharded_neardup_pairs,
    )

    rows = []
    for fam in range(6):
        base = (0xC2B2AE3D27D4EB4F * (fam + 1)) & ((1 << 64) - 1)
        for m in range(3):
            v = base
            for j in range(m):  # member m flips m bits -> near pairs
                v ^= 1 << (j * 13)
            rows.append(
                (fam * 10 + m, (v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF)
            )
    h = spark.createDataFrame(
        rows, "media_id long, dhash_w0 long, dhash_w1 long"
    )
    mono = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_neardup_pairs(h).collect()
    }
    from pyspark.sql import functions as _F

    shards = {
        r["media_id"]: r["s"]
        for r in h.select(
            "media_id",
            _F.pmod(_F.xxhash64("media_id"), _F.lit(3)).alias("s"),
        ).collect()
    }
    want = {
        pair: ham
        for pair, ham in mono.items()
        if shards[pair[0]] == shards[pair[1]]
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in sharded_neardup_pairs(h, 3, full_recall=False).collect()
    }
    assert got == want
    assert len(want) < len(mono)  # the trade is real on this plant


def test_sharded_neardup_one_shard_is_the_operator(spark):
    from datapipeline_spike_spark.operators.dedup import (
        dhash_neardup_pairs,
        sharded_neardup_pairs,
    )

    h = spark.createDataFrame(
        [(1, 7, 9), (2, 7, 9), (3, 7, 8)],
        "media_id long, dhash_w0 long, dhash_w1 long",
    )
    a = {tuple(r) for r in sharded_neardup_pairs(h, 1).collect()}
    b = {tuple(r) for r in dhash_neardup_pairs(h).collect()}
    assert a == b and a
