"""Scale probe: amplify the sf0.1 testdata in-memory (union with key
shifts — testdata itself is read-only) and measure how the headline
operators scale with input size. Evidence for the 100 TB design claims:
if an operator's runtime grows super-linearly between 1x and Nx, its
plan has a hidden bottleneck (driver collect, unbounded state,
quadratic join) — linear growth means the shape survives scale-up.

Usage:
  python tools/scale_probe.py [amplification]       # core probes (default 8)
  python tools/scale_probe.py dedup [amplification] # dedup/ANN stress (default 10)
Prints one JSON line per probe with rows, seconds, and rows/sec.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from datapipeline_spike_spark.functions import features as feat  # noqa: E402
from datapipeline_spike_spark.operators.dedup import lsh_candidate_pairs  # noqa: E402
from datapipeline_spike_spark.plans.registry import load  # noqa: E402
from datapipeline_spike_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def amplify_events(spark, n: int):
    """n disjoint copies: user ids and event ids shifted per copy so key
    cardinality scales with data (no artificial mega-hot-keys)."""
    ev = load(spark, SF_DIR, "events")
    copies = [
        ev.select(
            (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.repartition(spark.sparkContext.defaultParallelism)


def amplify_documents(spark, n: int):
    """Copies must be textually INDEPENDENT: a suffix tag leaves ~all
    shingles shared, which makes every doc a near-dup of its n-1
    siblings and sends LSH candidate pairs quadratic BY CONSTRUCTION
    (the algorithm's documented behavior on dup-dense corpora, not a
    scaling property). A per-copy letter rotation rewrites most tokens,
    so copies don't collide and the probe measures honest scaling."""
    d = load(spark, SF_DIR, "documents")
    a1, a2 = "etaoinshrd", "lucmfywgpb"

    def mutate(i):
        if i == 0:
            return F.col("text")
        # two independent rotations -> 81 distinct rewrites (one alone
        # repeats every 9 copies, silently reintroducing exact dups)
        r1, r2 = i % 9 + 1, i // 9 + 1
        out = F.translate(F.col("text"), a1, a1[r1:] + a1[:r1])
        return F.translate(out, a2, a2[r2:] + a2[:r2])

    copies = [
        d.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            mutate(i).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.repartition(spark.sparkContext.defaultParallelism)


def probe(name: str, df_builder, action=lambda d: d.write.format("noop").mode("overwrite").save()):
    t0 = time.perf_counter()
    df = df_builder()
    action(df)
    return round(time.perf_counter() - t0, 2)


def amplify_embeddings(spark, n: int):
    """n copies with ids shifted and the vector ROTATED by the copy
    index: rotation preserves the norm, produces genuinely distinct
    vectors (identical copies would make every row a near-dup of its
    siblings — quadratic pair volume by construction, not a scaling
    property), and costs one slice+concat per row."""
    e = load(spark, SF_DIR, "embeddings")
    dim = len(e.select("embedding").first()[0])

    def rot(i):
        k = i % dim
        if k == 0:
            return F.col("embedding")
        return F.concat(
            F.slice("embedding", k + 1, dim - k), F.slice("embedding", 1, k)
        )

    copies = [
        e.select(
            (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
            rot(i).alias("embedding"),
            "label",
        )
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.repartition(spark.sparkContext.defaultParallelism)


def dedup_ann_stress(spark, amp: int) -> None:
    """VERDICT r2 task 5: the dedup/ANN family at sf0.1 x ``amp``
    documents/embeddings, with per-stage row counts — the evidence that
    the banded/bucketed designs scale linearly (no quadratic candidate
    blowup, no bucket-skew surprise)."""
    from datapipeline_spike_spark.operators.dedup import (
        dedup_corpus,
        exact_dedup,
        simhash_neardup_pairs,
    )
    from datapipeline_spike_spark.operators.similarity import ivf_topk, kmeans_quantizer

    for a in (1, amp):
        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        drows = docs.count()

        reps = exact_dedup(docs).count()
        cands = lsh_candidate_pairs(docs).count()
        t0 = time.perf_counter()
        assigned = dedup_corpus(docs).count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "dedup_corpus", "amp": a, "docs": drows,
            "exact_groups": reps, "lsh_candidates": cands,
            "assignments": assigned, "sec": secs,
            "docs_per_sec": int(drows / secs),
        }), flush=True)

        t0 = time.perf_counter()
        sim_pairs = simhash_neardup_pairs(docs).count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "simhash_neardup", "amp": a, "docs": drows,
            "pairs": sim_pairs, "sec": secs, "docs_per_sec": int(drows / secs),
        }), flush=True)
        docs.unpersist()

        emb = amplify_embeddings(spark, a).localCheckpoint(eager=True)
        erows = emb.count()
        queries = emb.filter(F.col("vec_id") < 5)
        t0 = time.perf_counter()
        cents = kmeans_quantizer(emb, k=16, iters=2)
        topk = ivf_topk(
            emb, queries, k=5, n_probe=2, centroids=cents.select("cent_id", "cvec")
        ).count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "ann_ivf_kmeans", "amp": a, "vectors": erows,
            "topk_rows": topk, "sec": secs, "vecs_per_sec": int(erows / secs),
        }), flush=True)
        emb.unpersist()



def r10ops_stress(spark, amp: int) -> None:
    """Round-10 probes (VERDICT r9 items 5 and 8):

    1. The three r9 ANN tiers that shipped without scale rows —
       hard_negative_mining at multiprobe=1 (the (n_planes+1)x bucket
       fan-out is the cost knob under audit), hamming_topk (corpus-scan
       coarse pass + bounded rerank), random_projection (map-only JL) —
       at 1x and ``amp``x embeddings. Pass signal: flat-or-rising
       vecs/sec (map-only ops should RISE as fixed overhead amortizes).
    2. prefix_filter_jaccard_join under a SKEWED shingle distribution:
       half the corpus gets one shared 12-token boilerplate sentence
       appended, creating corpus-frequency hot shingles. The design
       claim under test: rarest-first prefix selection keeps hot
       shingles OUT of prefixes, so candidate volume stays ~linear in
       docs; the probe reports candidate-pair volume next to wall time
       so a super-linear curve is loud evidence for a candidate-budget
       guard.
    """
    from datapipeline_spike_spark.operators.similarity import (
        hamming_topk,
        hard_negative_mining,
        random_projection,
    )
    from datapipeline_spike_spark.plans.catalog_extensions import (
        prefix_filter_join,
    )

    for a in (1, amp):
        emb = amplify_embeddings(spark, a).localCheckpoint(eager=True)
        erows = emb.count()

        # two rows per amp: n_planes FIXED at 4 (shows the documented
        # quadratic-in-bucket-size cost when the knob is ignored) and
        # n_planes SCALED with log2(corpus growth) — the operator's
        # documented 100 TB posture (buckets ~ n/2^planes stays
        # constant, so per-row in-bucket work stays flat)
        for planes, tag in ((4, "fixed4"), (4 + max(0, (a - 1)).bit_length(), "scaled")):
            if a == 1 and tag == "scaled":
                continue  # identical to fixed4 at 1x
            secs = probe(
                f"hard_negative_mining_{tag}",
                lambda: hard_negative_mining(
                    emb, dim=64, k=3, n_planes=planes, label_col="label",
                    multiprobe=1,
                ),
            )
            print(json.dumps({"probe": f"hard_negative_mining_mp1_{tag}",
                              "amp": a, "n_planes": planes, "vecs": erows,
                              "sec": secs,
                              "vecs_per_sec": int(erows / secs)}), flush=True)
        # r11: the REGISTERED path (n_planes=None -> derived in-plan
        # from the corpus count; VERDICT r10 item 4) — the row that
        # proves the shipped entry point scales, not just the knob
        secs = probe(
            "hard_negative_mining_auto",
            lambda: hard_negative_mining(
                emb, dim=64, k=3, label_col="label",
            ),
        )
        print(json.dumps({"probe": "hard_negative_mining_auto",
                          "amp": a, "n_planes": "derived", "vecs": erows,
                          "sec": secs,
                          "vecs_per_sec": int(erows / secs)}), flush=True)

        queries = emb.filter(F.col("vec_id") < 5)
        secs = probe(
            "hamming_topk",
            lambda: hamming_topk(emb, queries, dim=64, k=5, m=20),
        )
        print(json.dumps({"probe": "hamming_topk", "amp": a,
                          "vecs": erows, "sec": secs,
                          "vecs_per_sec": int(erows / secs)}), flush=True)

        secs = probe(
            "random_projection",
            lambda: random_projection(emb, dim=64, k=8),
        )
        print(json.dumps({"probe": "random_projection", "amp": a,
                          "vecs": erows, "sec": secs,
                          "vecs_per_sec": int(erows / secs)}), flush=True)
        emb.unpersist()

        # staged dedup_span_removal at the planted-boilerplate corpus:
        # the shared header is a corpus-wide mega-hot gram key — the
        # probe shows the gram-keyed aggregate + hit join stay linear
        # under maximal key skew (AQE splits the hot key)
        from datapipeline_spike_spark.operators.dedup import dedup_span_removal

        docs_sp = amplify_documents(spark, a)
        docs_sp = docs_sp.withColumn(
            "text",
            F.concat(
                F.lit("shared preamble sentence for every document here now "),
                F.col("text"),
            ),
        ).localCheckpoint(eager=True)
        srows = docs_sp.count()
        t0 = time.perf_counter()
        n_scrubbed = (
            dedup_span_removal(docs_sp, k=6)
            .filter(F.col("n_removed") > 0)
            .count()
        )
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({"probe": "dedup_span_removal", "amp": a,
                          "docs": srows, "docs_scrubbed": n_scrubbed,
                          "sec": secs,
                          "docs_per_sec": int(srows / secs)}), flush=True)
        docs_sp.unpersist()

        # skewed-shingle prefix-filter probe: boilerplate on even doc ids
        docs = amplify_documents(spark, a)
        boiler = (
            " the quick brown fox jumps over the lazy dog again and again"
        )
        docs = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0, F.concat(F.col("text"), F.lit(boiler))
            ).otherwise(F.col("text")),
        ).localCheckpoint(eager=True)
        drows = docs.count()
        t0 = time.perf_counter()
        pairs = prefix_filter_join(docs)
        n_pairs = pairs.count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({"probe": "prefix_filter_join_skewed", "amp": a,
                          "docs": drows, "verified_pairs": n_pairs,
                          "sec": secs,
                          "docs_per_sec": int(drows / secs)}), flush=True)
        docs.unpersist()


def r10staged_stress(spark, amp: int) -> None:
    """1x/``amp``x rows for the r10 staged corpus-statistics operators
    (register r11): zipf_profile (vocabulary-keyed counts + top-N),
    ngram_novelty_profile (gram-keyed document frequency),
    kneser_ney_bigram_score (three vocabulary-bounded aggregates +
    scoring joins), temperature_mixture_plan (group aggregate + draw).
    Pass signal: flat-or-rising docs/sec."""
    from datapipeline_spike_spark.operators.sampling import (
        temperature_mixture_plan,
    )
    from datapipeline_spike_spark.operators.text_stats import (
        kneser_ney_bigram_score,
        ngram_novelty_profile,
        zipf_profile,
    )

    for a in (1, amp):
        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        drows = docs.count()
        for name, builder in (
            ("zipf_profile", lambda: zipf_profile(docs)),
            ("ngram_novelty_profile", lambda: ngram_novelty_profile(docs)),
            ("kneser_ney_bigram", lambda: kneser_ney_bigram_score(docs)),
            (
                "temperature_mixture",
                lambda: temperature_mixture_plan(
                    docs.select(
                        "doc_id", "lang", (F.col("n_chars") / 5).alias("tk")
                    )
                ),
            ),
        ):
            secs = probe(name, builder)
            print(json.dumps({"probe": name, "amp": a, "docs": drows,
                              "sec": secs,
                              "docs_per_sec": int(drows / secs)}), flush=True)
        docs.unpersist()


def r11staged_stress(spark, amp: int) -> None:
    """1x/``amp``x rows for the r11 staged operators (register r12):
    reliability_calibration_bins (map-only bin + n_bins-grain agg),
    token_distribution_drift (one vocabulary-bounded conditional agg),
    rouge_ngram_eval (gram-keyed counts + full outer join),
    embedding_centroid_drift (posexplode + |groups| x dim agg).
    Pass signal: flat-or-rising rows/sec."""
    from datapipeline_spike_spark.operators.quality import (
        reliability_calibration_bins,
    )
    from datapipeline_spike_spark.operators.sampling import hash_u01
    from datapipeline_spike_spark.operators.similarity import (
        embedding_centroid_drift,
    )
    from datapipeline_spike_spark.operators.text_stats import (
        rouge_ngram_eval,
        token_distribution_drift,
    )
    from datapipeline_spike_spark.functions.text import tokens

    for a in (1, amp):
        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        drows = docs.count()
        scored = docs.select(
            hash_u01("doc_id").alias("score"),
            (F.col("n_chars") >= 200).alias("label"),
        )
        pairs = docs.select(
            F.col("doc_id").alias("pair_id"),
            F.col("text").alias("candidate"),
            F.when(F.col("doc_id") % 3 == 0, F.col("text"))
            .when(F.col("doc_id") % 3 == 1,
                  F.concat("text", F.lit(" extra appended trailer words")))
            .otherwise(F.concat_ws(" ", F.reverse(tokens("text"))))
            .alias("reference"),
        )
        for name, builder in (
            ("calibration_bins", lambda: reliability_calibration_bins(scored)),
            ("token_drift", lambda: token_distribution_drift(
                docs, "lang", "en", "fr")),
            ("rouge_ngram_eval", lambda: rouge_ngram_eval(pairs)),
        ):
            secs = probe(name, builder)
            print(json.dumps({"probe": name, "amp": a, "docs": drows,
                              "sec": secs,
                              "docs_per_sec": int(drows / secs)}), flush=True)
        docs.unpersist()
        emb = amplify_embeddings(spark, a).localCheckpoint(eager=True)
        erows = emb.count()
        snap = emb.withColumn("snap", (F.col("vec_id") % 2).cast("int"))
        secs = probe(
            "embedding_centroid_drift",
            lambda: embedding_centroid_drift(snap, "snap", 0, 1),
        )
        print(json.dumps({"probe": "embedding_centroid_drift", "amp": a,
                          "vecs": erows, "sec": secs,
                          "vecs_per_sec": int(erows / secs)}), flush=True)
        from datapipeline_spike_spark.operators.similarity import (
            hubness_profile,
        )

        secs = probe(
            "hubness_profile",
            lambda: hubness_profile(emb, dim=64, k=5),
        )
        print(json.dumps({"probe": "hubness_profile", "amp": a,
                          "vecs": erows, "sec": secs,
                          "vecs_per_sec": int(erows / secs)}), flush=True)
        emb.unpersist()


def r12staged_stress(spark, amp: int) -> None:
    """1x/``amp``x rows for the r12 staged operators (register r13):
    watermark_greenlist_score (map-only fold), quality_rank_normalize
    (bounded per-group histogram sweep), ngram_containment_pairs
    (df-capped inverted-index join), sequence_packing_plan (two-phase
    bucketed cumsum), doremi_domain_weights (|domains|-bounded
    iteration), and the image dHash path (mapInPandas decode + banded
    Hamming join). Pass signal: flat-or-rising rows/sec."""
    from datapipeline_spike_spark.functions.text import tokens
    from datapipeline_spike_spark.operators.dedup import (
        dhash_neardup_pairs,
        ngram_containment_pairs,
    )
    from datapipeline_spike_spark.operators.quality import (
        quality_rank_normalize,
    )
    from datapipeline_spike_spark.operators.sampling import (
        doremi_domain_weights,
        hash_u01,
        sequence_packing_plan,
    )
    from datapipeline_spike_spark.operators.text_stats import (
        watermark_greenlist_score,
    )
    from datapipeline_spike_spark.sources.multimodal import (
        decode_image_dhash,
        image_family_media_from_documents,
    )

    for a in (1, amp):
        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        drows = docs.count()
        scored = docs.select(
            "doc_id", "source", hash_u01("doc_id").alias("score")
        )
        sized = docs.select("doc_id", F.size(tokens("text")).alias("tk"))
        lossy = docs.select("source", F.length("text").alias("loss"))
        for name, builder in (
            ("watermark_greenlist", lambda: watermark_greenlist_score(docs)),
            ("rank_normalize", lambda: quality_rank_normalize(
                scored, "score", "source")),
            ("containment_pairs", lambda: ngram_containment_pairs(docs)),
            ("sequence_packing", lambda: sequence_packing_plan(sized, "tk")),
            ("doremi_weights", lambda: doremi_domain_weights(
                lossy, "source", "loss")),
            ("image_dhash_pairs", lambda: dhash_neardup_pairs(
                decode_image_dhash(image_family_media_from_documents(docs)))),
        ):
            secs = probe(name, builder)
            print(json.dumps({"probe": name, "amp": a, "docs": drows,
                              "sec": secs,
                              "docs_per_sec": int(drows / secs)}), flush=True)
        docs.unpersist()


def r12ops_stress(spark, amp: int) -> None:
    """1x/``amp``x vectors for the r12-registered IVF-PQ composite,
    after the shared-frame checkpoint fix (resid + codebooks each
    execute ONCE instead of per consumer — VERDICT r11 item 4a).
    ivfpq_topk is the raw index scan; ivfpq_recall_at_k adds the exact
    broadcast-baseline comparison (the registered form). Pass signal:
    rising vecs/sec at amp, and a 1x rate >= ~500 vecs/s."""
    from datapipeline_spike_spark.operators.similarity import ivfpq_topk
    from datapipeline_spike_spark.plans.registry import REGISTRY

    for a in (1, amp):
        emb = amplify_embeddings(spark, a).localCheckpoint(eager=True)
        erows = emb.count()
        queries = emb.filter(F.col("vec_id") < 5)
        secs = probe("ivfpq_topk", lambda: ivfpq_topk(emb, queries, dim=64))
        print(json.dumps({"probe": "ivfpq_topk", "amp": a, "vecs": erows,
                          "sec": secs,
                          "vecs_per_sec": int(erows / secs)}), flush=True)
        emb.unpersist()
    # the registered recall-audit form, straight off the testdata (the
    # driver-visible cost): sf0.1 once
    q = REGISTRY["ivfpq_recall_at_k"]
    secs = probe("ivfpq_recall_at_k", lambda: q.spark(spark, SF_DIR))
    print(json.dumps({"probe": "ivfpq_recall_at_k", "sf_dir": SF_DIR,
                      "sec": secs}), flush=True)


def r10tpch_stress(spark, amp: int) -> None:
    """Round-10 TPC-H shape probes: the NEW join surfaces at 1x and
    ``amp``x. Q21's fact self-correlation is the shape to watch — the
    semi/anti self-joins shuffle lineitem on l_orderkey twice; pass
    signal is ~flat per-lineitem cost (the joins are equi with bounded
    per-key fan-in: lines per order is constant, not data-scaled).
    Q8's 8-relation tree checks that the deepest join plan holds when
    the three big relations all grow."""
    O_SHIFT, C_SHIFT, S_SHIFT, P_SHIFT = (
        1_000_000_000, 100_000_000, 10_000_000, 50_000_000,
    )
    for a in (1, amp):
        li = _amplify_keyed(
            spark, "lineitem", a,
            {"l_orderkey": O_SHIFT, "l_suppkey": S_SHIFT, "l_partkey": P_SHIFT},
        ).localCheckpoint(eager=True)
        orders = _amplify_keyed(
            spark, "orders", a, {"o_orderkey": O_SHIFT, "o_custkey": C_SHIFT}
        )
        cust = _amplify_keyed(spark, "customer", a, {"c_custkey": C_SHIFT})
        sup = _amplify_keyed(spark, "supplier", a, {"s_suppkey": S_SHIFT})
        part = _amplify_keyed(spark, "part", a, {"p_partkey": P_SHIFT})
        nat = load(spark, SF_DIR, "nation")
        reg = load(spark, SF_DIR, "region")
        n_li = li.count()

        # Q21 shape: EXISTS + NOT EXISTS self-correlation (supplier
        # copies keep s_nationkey, so every copy's suppliers qualify)
        t0 = time.perf_counter()
        n1 = nat.filter(F.col("n_name") == "NATION_13")
        s2 = sup.join(
            F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        lr = li.filter(F.col("l_returnflag") == "R")
        of = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
        l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2"))
        l3 = lr.select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3"))
        q21 = (
            lr.join(s2, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(of, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
            .join(l2, (F.col("l_orderkey") == F.col("k2"))
                  & (F.col("l_suppkey") != F.col("sk2")), "left_semi")
            .join(l3, (F.col("l_orderkey") == F.col("k3"))
                  & (F.col("l_suppkey") != F.col("sk3")), "left_anti")
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
        )
        rows = q21.count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "q21_self_correlation", "amp": a, "lineitems": n_li,
            "suppliers": rows, "sec": secs,
            "lineitems_per_sec": int(n_li / secs),
        }), flush=True)

        # Q8 shape: 8-relation tree, lineitem + orders + customer +
        # supplier + part all amplified
        t0 = time.perf_counter()
        r1 = reg.filter(F.col("r_name") == "ASIA")
        n_c = nat.join(F.broadcast(r1), nat.n_regionkey == r1.r_regionkey).select(
            F.col("n_nationkey").alias("c_nkey")
        )
        n_s = nat.select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
        )
        pe = part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
        od = orders.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") <= "1997-12-31")
        )
        cj = cust.join(
            F.broadcast(n_c), F.col("c_nationkey") == F.col("c_nkey"), "left_semi"
        )
        sj = sup.join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nkey"))
        vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        q8 = (
            li.join(pe, F.col("l_partkey") == F.col("p_partkey"))
            .join(sj, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cj, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol), 6).alias("mkt_share"))
        )
        rows = q8.count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "q8_eight_relation_tree", "amp": a, "lineitems": n_li,
            "years": rows, "sec": secs,
            "lineitems_per_sec": int(n_li / secs),
        }), flush=True)
        li.unpersist()


def _amplify_keyed(spark, table: str, n: int, shifts: dict):
    """n disjoint copies of a TPC-H table with join keys shifted
    consistently per copy (same per-copy delta applied to a key on both
    join sides keeps referential integrity; non-key columns repeat,
    which is fine — the probe measures join/agg scaling, not entropy)."""
    t = load(spark, SF_DIR, table)
    copies = []
    for i in range(n):
        c = t
        for col, delta in shifts.items():
            c = c.withColumn(col, F.col(col) + F.lit(i * delta))
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.repartition(spark.sparkContext.defaultParallelism)


def r8ops_stress(spark, amp: int) -> None:
    """Round-8 probes:

    1. Star joins (Q5/Q10 shapes) with orders+lineitem+CUSTOMER all
       amplified — the post-fix evidence that dropping the forced
       customer broadcast leaves a strategy that survives the customer
       table growing with SF (AQE broadcasts while small, shuffles when
       not; either way no executor-OOM hint). Flat-or-better per-row
       cost across 1x -> amp is the pass signal.
    2. BPE training at production-ward merge counts (64/256): per-round
       marginal cost must stay flat under the per-round checkpoint
       cadence (the r7 fix), supporting the projected 32k-merge cost.
    3. fixed_size_sample's salted two-phase bottom-k vs the naive
       per-language window at amp x documents — identical rows, and the
       two-phase shape holds as the corpus grows.
    """
    from pyspark.sql import Window

    from datapipeline_spike_spark.operators.bpe import bpe_merges
    from datapipeline_spike_spark.operators.sampling import (
        bottom_k_per_group,
        hash_u01,
    )

    C_SHIFT, O_SHIFT = 100_000_000, 1_000_000_000
    for a in (1, amp):
        cust = _amplify_keyed(spark, "customer", a, {"c_custkey": C_SHIFT})
        orders = _amplify_keyed(
            spark, "orders", a, {"o_orderkey": O_SHIFT, "o_custkey": C_SHIFT}
        )
        li = _amplify_keyed(spark, "lineitem", a, {"l_orderkey": O_SHIFT})
        sup = load(spark, SF_DIR, "supplier")
        nat = load(spark, SF_DIR, "nation")

        n_li = li.count()
        t0 = time.perf_counter()
        q10 = (
            li.filter(F.col("l_returnflag") == "R")
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("lost"))
            .orderBy(F.col("lost").desc(), "c_custkey")
            .limit(20)
        )
        rows = q10.count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "q10_star_join_no_forced_broadcast", "amp": a,
            "lineitems": n_li, "top_rows": rows, "sec": secs,
            "lineitems_per_sec": int(n_li / secs),
        }), flush=True)

        t0 = time.perf_counter()
        q5 = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(
                F.broadcast(sup),
                (F.col("l_suppkey") == F.col("s_suppkey"))
                & (F.col("c_nationkey") == F.col("s_nationkey")),
            )
            .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_li"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            )
        )
        rows = q5.count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "q5_star_join_no_forced_broadcast", "amp": a,
            "lineitems": n_li, "nations": rows, "sec": secs,
            "lineitems_per_sec": int(n_li / secs),
        }), flush=True)

        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        drows = docs.count()
        base = docs.select("lang", "doc_id", hash_u01("doc_id").alias("_u"))
        t0 = time.perf_counter()
        salted = bottom_k_per_group(base, ["lang"], ["_u", "doc_id"], 40).count()
        salted_sec = round(time.perf_counter() - t0, 2)
        w = Window.partitionBy("lang").orderBy("_u", "doc_id")
        t0 = time.perf_counter()
        naive = (
            base.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 40)
            .count()
        )
        naive_sec = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "fixed_size_sample_bottom_k", "amp": a, "docs": drows,
            "rows_salted": salted, "rows_naive": naive,
            "identical": salted == naive,
            "salted_sec": salted_sec, "naive_window_sec": naive_sec,
        }), flush=True)
        docs.unpersist()

    docs = load(spark, SF_DIR, "documents").localCheckpoint(eager=True)
    drows = docs.count()
    for k in (64, 256):
        t0 = time.perf_counter()
        rows = bpe_merges(docs, n_merges=k).collect()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "bpe_merges", "n_merges": k, "docs": drows,
            "rows": len(rows), "sec": secs,
            "sec_per_round": round(secs / k, 3),
        }), flush=True)
    docs.unpersist()


def r8lib_stress(spark, amp: int) -> None:
    """The r8 library operators (registering in r9) at 1x and ``amp``x
    documents: CCNet perplexity bucketing, paragraph dedup, bigram LM
    scoring, deterministic shuffle — pre-registration evidence their
    shapes scale linearly."""
    from datapipeline_spike_spark.operators.dedup import paragraph_dedup
    from datapipeline_spike_spark.operators.quality import (
        bigram_logprob_score,
        perplexity_buckets,
    )
    from datapipeline_spike_spark.operators.sampling import deterministic_shuffle

    for a in (1, amp):
        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        n = docs.count()
        for name, fn in (
            ("perplexity_buckets", lambda: perplexity_buckets(docs)),
            ("paragraph_dedup", lambda: paragraph_dedup(docs, sep=". ")),
            ("bigram_logprob", lambda: bigram_logprob_score(docs)),
            ("deterministic_shuffle", lambda: deterministic_shuffle(docs, "doc_id", 64)),
        ):
            secs = probe(name, fn)
            print(json.dumps({"probe": name, "amp": a, "docs": n,
                              "sec": secs, "docs_per_sec": int(n / secs)}),
                  flush=True)
        docs.unpersist()


def _html_probe(docs):
    """Wrap each doc's text in a synthetic page (nav + paragraphs +
    footer) and extract — the map-only web front door at corpus scale."""
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.operators.html import html_to_text

    page = F.concat(
        F.lit('<html><head><title>t</title><style>a{x}</style></head><body>'
              '<nav><a href="/">Home</a> <a href="/b">Blog</a></nav><p>'),
        F.regexp_replace("text", r"\. ", ".</p><p>"),
        F.lit('</p><footer><a href="/t">Terms</a></footer></body></html>'),
    )
    return docs.select("doc_id", html_to_text(page).alias("text"))


def r8lib2_stress(spark, amp: int) -> None:
    """Late-r8 library operators (registering in r9) at 1x and ``amp``x:
    skip-gram PMI (pair space = tokens x window, one shuffle) and
    Efraimidis-Spirakis weighted sampling (salted bottom-k)."""
    from datapipeline_spike_spark.operators.cooccurrence import pmi_scores
    from datapipeline_spike_spark.operators.sampling import budget_select, weighted_sample
    from pyspark.sql import functions as F

    for a in (1, amp):
        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        n = docs.count()
        scored = docs.withColumn(
            "q", F.round(F.pmod(F.hash("text"), F.lit(1000)) / 1000.0, 4)
        ).withColumn("n_tok", F.size(F.split("text", r"\s+")))
        for name, fn in (
            ("pmi_scores", lambda: pmi_scores(docs, window=4, min_pair_count=3)),
            ("weighted_sample", lambda: weighted_sample(
                docs.withColumn("w", F.length("text").cast("double") + 1.0),
                "w", 500, "doc_id")),
            ("budget_select", lambda: budget_select(
                scored, "q", "n_tok", 20_000.0 * a, "doc_id")),
            ("html_to_text", lambda: _html_probe(docs)),
            ("curate_corpus_e2e", lambda: __import__(
                "datapipeline_spike_spark.operators.curation",
                fromlist=["curate_corpus"],
            ).curate_corpus(
                docs, min_quality=0.1, token_budget=200_000.0 * a, n_shards=16
            )),
        ):
            secs = probe(name, fn)
            print(json.dumps({"probe": name, "amp": a, "docs": n,
                              "sec": secs, "docs_per_sec": int(n / secs)}),
                  flush=True)
        docs.unpersist()


def shj_skew_probe(spark, n: int) -> None:
    """VERDICT r19 item 4: probe the session-wide
    spark.sql.join.preferSortMergeJoin=false default under a
    deliberately SKEWED build side — the stated risk is a hot build
    partition whose hash map outgrows task memory where SMJ would have
    sorted/spilled. The probe joins a uniform stream side against a
    build side whose hot key holds ~half the rows (payload-carrying, so
    the hash map holds real bytes), once with the repo default (SHJ
    eligible) and once with preferSortMergeJoin=true (SMJ), and records
    the statically chosen join node, wall time, output rows, and
    success. AQE skew-join handling stays on (the session default) —
    whether it rescues the hot partition is exactly what the probe
    measures."""
    n_build = n * 1_000_000
    pay = "x" * 96
    # Build side: half the rows on key 0 (the hot hash-map partition —
    # the key exists ONLY here, so the join OUTPUT does not explode and
    # the probe isolates build-map memory, not output volume), half
    # unique keys 1..n/2; ~110 B payload per row, so the hot partition
    # holds ~n/2 rows of real bytes in one task's hash map.
    build = spark.range(n_build).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise((F.col("id") + 1) / 2)
        .cast("long")
        .alias("k"),
        F.concat(F.lit(pay), F.col("id").cast("string")).alias("payload"),
    )
    # Stream side: 4x the rows (so the planner's muchSmaller(build,
    # stream) condition holds and the SKEWED side is the SHJ build
    # side), uniform over the build's unique keys — ~8 matches per key,
    # zero on the hot key.
    stream = spark.range(n_build * 4).select(
        (F.pmod(F.xxhash64(F.col("id") + 7), F.lit(n_build // 2)) + 1).alias("k"),
        F.concat(F.lit(pay), F.col("id").cast("string")).alias("spayload"),
    )
    # NOTE: do NOT set autoBroadcastJoinThreshold=-1 here — the SHJ
    # size gate is canBuildLocalHashMap = size < threshold x
    # numShufflePartitions, so disabling broadcast would disable SHJ
    # selection entirely (measured: both modes fell back to SMJ). Both
    # sides' estimates sit above the 64 MB session threshold, so no
    # broadcast fires anyway.
    def _node(plan: str) -> str:
        if "ShuffledHashJoin" in plan:
            return "ShuffledHashJoin"
        return "SortMergeJoin" if "SortMergeJoin" in plan else "other"

    for pref in ("false", "true"):
        spark.conf.set("spark.sql.join.preferSortMergeJoin", pref)
        j = stream.join(build, "k")
        qe = j._jdf.queryExecution()
        initial = _node(qe.executedPlan().toString())
        # execute the dataset's OWN QueryExecution (JVM-side RDD count,
        # all columns materialized, nothing crosses to Python) so the
        # FINAL adaptive plan — where AQE re-picks the join strategy
        # with real sizes — is readable afterwards
        t0 = time.time()
        ok, err, rows = True, None, None
        try:
            rows = qe.toRdd().count()
        except Exception as exc:  # noqa: BLE001
            ok, err = False, f"{type(exc).__name__}: {exc}"[:300]
        sec = round(time.time() - t0, 2)
        final = _node(qe.executedPlan().toString())
        print(
            json.dumps(
                {
                    "probe": "shj_skew_build_side",
                    "preferSortMergeJoin": pref,
                    "join_node_initial": initial,
                    "join_node_final": final,
                    "build_rows": n_build,
                    "hot_key_share": 0.5,
                    "payload_bytes": len(pay),
                    "sec": sec,
                    "rows_out": rows,
                    "ok": ok,
                    "err": err,
                }
            )
        )
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
    )


def main() -> None:
    args = [a for a in sys.argv[1:]]
    mode = "core"
    for m in ("dedup", "newops", "r7ops", "r7", "r8ops", "r8lib2", "r8lib", "r10ops", "r10tpch", "r10staged", "r11staged", "r12staged", "r12ops", "r14staged", "r14wave2", "shjskew"):
        if m in args:
            mode = m
            break
    nums = [int(a) for a in args if a.isdigit()]
    n = nums[0] if nums else (10 if mode != "core" else 8)
    spark = get_session("scale_probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if mode == "shjskew":
        shj_skew_probe(spark, n if nums else 4)
        return
    if mode == "dedup":
        dedup_ann_stress(spark, n)
        return
    if mode == "newops":
        newops_stress(spark, n)
        return
    if mode == "r7":
        r7_stress(spark, n)
        return
    if mode == "r7ops":
        r7ops_stress(spark, n)
        return
    if mode == "r8ops":
        r8ops_stress(spark, n)
        return
    if mode == "r8lib":
        r8lib_stress(spark, n)
        return
    if mode == "r8lib2":
        r8lib2_stress(spark, n)
        return
    if mode == "r10ops":
        r10ops_stress(spark, n)
        return
    if mode == "r10tpch":
        r10tpch_stress(spark, n)
        return
    if mode == "r10staged":
        r10staged_stress(spark, n)
        return
    if mode == "r11staged":
        r11staged_stress(spark, n)
        return
    if mode == "r12staged":
        r12staged_stress(spark, n)
        return
    if mode == "r14staged":
        r14staged_stress(spark, n)
        return
    if mode == "r14wave2":
        r14wave2_stress(spark, n)
        return
    if mode == "r12ops":
        r12ops_stress(spark, n)
        return

    for amp in (1, n):
        ev = amplify_events(spark, amp).localCheckpoint(eager=True)
        rows = ev.count()

        secs = probe(
            "vibration_features",
            lambda: ev.groupBy(F.window("ts", "1 day"), "event_type").agg(
                feat.rms_agg("value").alias("rms"),
                feat.peak_agg("value").alias("peak"),
                feat.kurtosis_agg("value").alias("kurt"),
            ),
        )
        print(json.dumps({"probe": "windowed_features", "amp": amp, "rows": rows,
                          "sec": secs, "rows_per_sec": int(rows / secs)}), flush=True)

        secs = probe(
            "sessionization",
            lambda: ev.withColumn(
                "prev", F.lag("ts").over(
                    __import__("pyspark.sql.window", fromlist=["Window"]).Window
                    .partitionBy("user_id").orderBy("ts", "event_id")
                )
            ).filter(F.col("prev").isNotNull()),
        )
        print(json.dumps({"probe": "keyed_window", "amp": amp, "rows": rows,
                          "sec": secs, "rows_per_sec": int(rows / secs)}), flush=True)
        ev.unpersist()

        docs = amplify_documents(spark, amp).localCheckpoint(eager=True)
        drows = docs.count()
        secs = probe("lsh", lambda: lsh_candidate_pairs(docs))
        print(json.dumps({"probe": "minhash_lsh", "amp": amp, "rows": drows,
                          "sec": secs, "rows_per_sec": int(drows / secs)}), flush=True)
        docs.unpersist()

        # skewed join: 90% of left rows share ONE key. The salted form
        # spreads the hot key over 8 reducers; compare against the plain
        # join with AQE skew handling. Wall-times on this host are noisy
        # — the point is that salting stays in the same range (no
        # replication blowup) while guaranteeing no single-task straggler
        # regardless of AQE's heuristics.
        from datapipeline_spike_spark.scale import salted_join

        n_left = 400_000 * amp
        left = (
            spark.range(n_left)
            .select(
                F.col("id").alias("row_id"),
                F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 1000).alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
            )
            .localCheckpoint(eager=True)
        )
        right = (
            spark.range(1000)
            .select(F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("attr"))
            .localCheckpoint(eager=True)
        )
        # defeat broadcast so the join actually shuffles (the skew case)
        nobc = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        for kk, vv in nobc.items():
            spark.conf.set(kk, vv)
        try:
            secs_plain = probe("skew_plain", lambda: left.join(right, "k").groupBy("attr").count())
            secs_salted = probe(
                "skew_salted",
                lambda: salted_join(left, right, ["k"], salt_buckets=8,
                                    left_unique_col="row_id").groupBy("attr").count(),
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        print(json.dumps({"probe": "skew_join", "amp": amp, "rows": n_left,
                          "plain_sec": secs_plain, "salted_sec": secs_salted}), flush=True)


def newops_stress(spark, amp: int) -> None:
    """Round-5 verdict task 7: the round-4/5 newcomer operators under
    amplification, with per-stage counts. Each probe re-runs the exact
    operator shape the registry query uses, over amplified frames (the
    registry callables read fixed sf dirs, so the core is re-invoked on
    the amplified input directly)."""
    from pyspark.sql import Window

    from datapipeline_spike_spark.functions import text as Tx
    from datapipeline_spike_spark.operators.dedup import incremental_dedup
    from datapipeline_spike_spark.sources.multimodal import (
        audio_media_from_documents,
        decode_audio,
    )

    for a in (1, amp):
        ev = amplify_events(spark, a).localCheckpoint(eager=True)
        rows = ev.count()

        def funnel():
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            gap = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
            return (
                ev.select(
                    "user_id", "event_type",
                    F.lead("event_type").over(w).alias("next_type"),
                    gap.alias("gap_us"),
                )
                .filter(F.col("next_type").isNotNull() & (F.col("gap_us") <= 3_600_000_000))
                .groupBy("event_type", "next_type")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        secs = probe("funnel", funnel)
        print(json.dumps({"probe": "event_funnel", "amp": a, "rows": rows,
                          "sec": secs, "rows_per_sec": int(rows / secs)}), flush=True)

        def cohort():
            firsts = ev.groupBy("user_id").agg(
                F.min(F.date_trunc("day", "ts")).alias("cohort_day")
            )
            return (
                ev.join(firsts, "user_id")
                .select(
                    "user_id", "cohort_day",
                    F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day")).alias("o"),
                )
                .distinct()
                .groupBy("cohort_day", "o")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        secs = probe("cohort", cohort)
        print(json.dumps({"probe": "cohort_retention", "amp": a, "rows": rows,
                          "sec": secs, "rows_per_sec": int(rows / secs)}), flush=True)
        ev.unpersist()

        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        drows = docs.count()

        existing = docs.filter(F.col("doc_id") % 2 == 0)
        incoming = docs.filter(F.col("doc_id") % 2 == 1)
        t0 = time.perf_counter()
        verdict = incremental_dedup(existing, incoming)
        by_status = {r["status"]: r["n"] for r in
                     verdict.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({"probe": "incremental_dedup", "amp": a, "docs": drows,
                          "by_status": by_status, "sec": secs,
                          "docs_per_sec": int(drows / secs)}), flush=True)

        def winnow():
            kg = (
                docs.select("doc_id", Tx.ngrams("text", k=4).alias("ngs"))
                .filter(F.size("ngs") >= 1)
                .select(
                    "doc_id", F.size("ngs").alias("n_kg"),
                    F.posexplode("ngs").alias("pos", "ng"),
                )
                .select(
                    "doc_id", "n_kg", "pos",
                    F.conv(F.substring(F.md5("ng"), 1, 8), 16, 10).cast("long").alias("h"),
                )
            )
            w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
            return (
                kg.select("doc_id", "n_kg", "pos", F.min("h").over(w).alias("fp"))
                .filter(F.col("pos") <= F.col("n_kg") - 4)
                .groupBy("doc_id")
                .agg(F.count_distinct("fp").alias("n_fp"))
            )

        secs = probe("winnowing", winnow)
        print(json.dumps({"probe": "winnowing_fingerprints", "amp": a, "docs": drows,
                          "sec": secs, "docs_per_sec": int(drows / secs)}), flush=True)

        t0 = time.perf_counter()
        media = audio_media_from_documents(docs)
        n_media = decode_audio(media).count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({"probe": "audio_header_meta", "amp": a, "docs": drows,
                          "media_rows": n_media, "sec": secs,
                          "docs_per_sec": int(drows / secs)}), flush=True)

        # prefix-filtering similarity join: the blowup risk is bucket
        # size on prefix shingles — report candidate volume next to the
        # verified pairs so a super-linear candidate curve is loud
        def prefix_join():
            s = (
                docs.select("doc_id", Tx.shingles("text", k=3).alias("sh"))
                .filter(F.size("sh") > 0)
                .select("doc_id", "sh", F.size("sh").alias("n"))
            )
            ex = s.select("doc_id", "n", F.explode("sh").alias("g"))
            freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
            ranked = ex.join(freq, "g").select(
                "doc_id", "n", "g",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("df", "g")
                ).alias("rnk"),
            )
            prefix = ranked.filter(
                F.col("rnk") <= F.expr("n - (4 * n + 4) DIV 5 + 1")
            ).select("doc_id", "g")
            buckets = (
                prefix.groupBy("g")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
                .filter(F.size("ids") > 1)
            )
            n_cand = buckets.select(
                F.sum(F.size("ids") * (F.size("ids") - 1) / 2).alias("c")
            ).collect()[0]["c"]
            return int(n_cand or 0)

        t0 = time.perf_counter()
        cands = prefix_join()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({"probe": "prefix_filter_candidates", "amp": a,
                          "docs": drows, "candidates": cands, "sec": secs,
                          "docs_per_sec": int(drows / secs)}), flush=True)

        # the two r6 rewrites, probed END-TO-END through the production
        # helpers (merge-intervals coverage; capped bucket pair gen)
        from datapipeline_spike_spark.plans.catalog_extensions import (
            prefix_filter_join,
            repeated_substring_profile,
        )

        secs = probe("repeated_substring", lambda: repeated_substring_profile(docs))
        print(json.dumps({"probe": "repeated_substring_profile", "amp": a,
                          "docs": drows, "sec": secs,
                          "docs_per_sec": int(drows / secs)}), flush=True)

        secs = probe("prefix_filter_full", lambda: prefix_filter_join(docs))
        print(json.dumps({"probe": "prefix_filter_join_full", "amp": a,
                          "docs": drows, "sec": secs,
                          "docs_per_sec": int(drows / secs)}), flush=True)

        # round-6 additions, end-to-end through the production helpers
        from datapipeline_spike_spark.plans.catalog_extensions import (
            bm25_ranked_retrieval,
            source_overlap_matrix,
        )

        secs = probe("bm25", lambda: bm25_ranked_retrieval(docs))
        print(json.dumps({"probe": "bm25_ranked_retrieval", "amp": a,
                          "docs": drows, "sec": secs,
                          "docs_per_sec": int(drows / secs)}), flush=True)

        secs = probe("source_overlap", lambda: source_overlap_matrix(docs))
        print(json.dumps({"probe": "source_overlap_matrix", "amp": a,
                          "docs": drows, "sec": secs,
                          "docs_per_sec": int(drows / secs)}), flush=True)
        docs.unpersist()

        from datapipeline_spike_spark.operators.similarity import (
            pq_distortion_profile,
        )

        embs = amplify_embeddings(spark, a).localCheckpoint(eager=True)
        erows = embs.count()
        secs = probe("pq", lambda: pq_distortion_profile(embs, dim=64, m=4, k=8, iters=2))
        print(json.dumps({"probe": "pq_distortion_profile", "amp": a,
                          "vecs": erows, "sec": secs,
                          "vecs_per_sec": int(erows / secs)}), flush=True)

        from datapipeline_spike_spark.operators.similarity import pq_adc_topk

        secs = probe(
            "pq_adc",
            lambda: pq_adc_topk(
                embs, embs.filter(F.col("vec_id") < 5),
                dim=64, m=4, k_codebook=8, iters=2, k=5,
            ),
        )
        print(json.dumps({"probe": "pq_adc_topk", "amp": a,
                          "vecs": erows, "sec": secs,
                          "vecs_per_sec": int(erows / secs)}), flush=True)
        embs.unpersist()


def planted_boilerplate(spark, m: int, n_tokens: int = 50):
    """A NEAR-identical template family exact dedup cannot collapse:
    m docs sharing a long boilerplate body, each with ONE varying token
    — high pairwise Jaccard, (mostly) shared MinHash bands, distinct
    fingerprints. The skew scenario the r7 hot-bucket guard defends
    against."""
    base = " ".join(f"boiler{''.join(chr(97 + (i * 7 + j) % 26) for j in range(4))}tok{i}" for i in range(n_tokens))
    return spark.range(m).select(
        (F.col("id") + 90_000_000).alias("doc_id"),
        F.concat(F.lit(base + " variant"), F.col("id").cast("string")).alias("text"),
        F.lit("xx").alias("lang"),
        F.lit("planted").alias("source"),
        F.lit(len(base)).cast("int").alias("n_chars"),
    )


def r7_stress(spark, amp: int) -> None:
    """Round-7 probes:

    1. planted-skew: a boilerplate family on top of the sf0.1 corpus,
       through lsh_candidate_pairs with the hot path FORCED (cap=500)
       vs the in-row path (cap=inf) — identical counts, wall-clock for
       the spread-out vs single-task shapes; then dedup_corpus
       END-TO-END over the skewed corpus with the guard active.
    2. BPE merge training at n_merges 16/32/64 (per-round checkpoint
       truncation past lazy_rounds) — flat per-round cost.
    """
    from datapipeline_spike_spark.operators.bpe import bpe_merges
    from datapipeline_spike_spark.operators.dedup import dedup_corpus

    base_docs = amplify_documents(spark, 1)
    for m in (1500, 3000):
        docs = base_docs.unionByName(planted_boilerplate(spark, m)).localCheckpoint(
            eager=True
        )
        drows = docs.count()
        t0 = time.perf_counter()
        hot_pairs = lsh_candidate_pairs(docs, bucket_cap=500).count()
        hot_sec = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        inrow_pairs = lsh_candidate_pairs(docs, bucket_cap=1 << 40).count()
        inrow_sec = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "lsh_hot_bucket_guard", "family": m, "docs": drows,
            "pairs_hot_path": hot_pairs, "pairs_inrow_path": inrow_pairs,
            "identical": hot_pairs == inrow_pairs,
            "hot_path_sec": hot_sec, "inrow_path_sec": inrow_sec,
        }), flush=True)

        t0 = time.perf_counter()
        assigned = dedup_corpus(docs, lsh_bucket_cap=500).count()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "dedup_corpus_planted_skew", "family": m, "docs": drows,
            "assignments": assigned, "sec": secs,
            "docs_per_sec": int(drows / secs),
        }), flush=True)
        docs.unpersist()

    docs = load(spark, SF_DIR, "documents").localCheckpoint(eager=True)
    drows = docs.count()
    for k in (16, 32, 64):
        t0 = time.perf_counter()
        rows = bpe_merges(docs, n_merges=k).collect()
        secs = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "probe": "bpe_merges", "n_merges": k, "docs": drows,
            "rows": len(rows), "sec": secs,
            "sec_per_round": round(secs / k, 2),
        }), flush=True)
    docs.unpersist()


def r7ops_stress(spark, amp: int) -> None:
    """Round-7 newcomer operators at 1x and ``amp``x: the full-decode
    media tiers (JPEG, MJPEG video), the linear quality classifier, the
    BPE encode join, and SQ8 top-k — evidence their plans scale
    linearly (all are map-only or vocabulary/grid-bounded joins)."""
    from datapipeline_spike_spark.operators.bpe import bpe_encode_stats
    from datapipeline_spike_spark.operators.similarity import sq8_topk
    from datapipeline_spike_spark.plans.catalog_extensions import (
        quality_classifier_score,
    )
    from datapipeline_spike_spark.sources.multimodal import (
        decode_jpeg_pixel_features,
        decode_video_frame_features,
        jpeg_pattern_media_from_documents,
        video_pattern_media_from_documents,
    )

    for a in (1, amp):
        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        n = docs.count()
        for name, fn in (
            ("jpeg_pixel_features", lambda: decode_jpeg_pixel_features(
                jpeg_pattern_media_from_documents(docs))),
            ("video_frame_features", lambda: decode_video_frame_features(
                video_pattern_media_from_documents(docs))),
            ("quality_classifier", lambda: quality_classifier_score(docs)),
            ("bpe_encode_stats", lambda: bpe_encode_stats(docs)),
        ):
            secs = probe(name, fn)
            print(json.dumps({"probe": name, "amp": a, "docs": n,
                              "sec": secs, "docs_per_sec": int(n / secs)}),
                  flush=True)
        docs.unpersist()

        emb = amplify_embeddings(spark, a).localCheckpoint(eager=True)
        m = emb.count()
        secs = probe("sq8_topk", lambda: sq8_topk(
            emb, emb.filter(F.col("vec_id") < 5), dim=64, k=5))
        print(json.dumps({"probe": "sq8_topk", "amp": a, "vecs": m,
                          "sec": secs, "vecs_per_sec": int(m / secs)}),
              flush=True)
        emb.unpersist()


def r14staged_stress(spark, amp: int) -> None:
    """1x/``amp``x rows for the r14 staged operators (register r15):
    exact_substr_runs (df-capped positional inverted index + diagonal
    islands), cdc_chunk_dedup (per-doc prefix-sum window + chunk-df
    aggregate), boilerplate_line_removal (line-df aggregate + keyed
    join back), url_canonical_dedup (map-only canonicalize + one keyed
    aggregate), the audio fingerprint path (mapInPandas decode +
    generic banded-Hamming join), and bradley_terry_strengths (items-
    grain iteration — the match LOG scales, the assembled row does
    not). Pass signal: flat-or-rising rows/sec at amp."""
    from datapipeline_spike_spark.operators.dedup import (
        cdc_chunk_dedup,
        dhash_neardup_pairs,
        exact_substr_runs,
    )
    from datapipeline_spike_spark.operators.html import url_canonical_dedup
    from datapipeline_spike_spark.operators.preference import (
        bradley_terry_strengths,
    )
    from datapipeline_spike_spark.operators.quality import (
        boilerplate_line_removal,
    )
    from datapipeline_spike_spark.operators.text_stats import (
        char_entropy_profile,
        oov_rate_profile,
    )
    from datapipeline_spike_spark.sources.multimodal import (
        audio_family_media_from_documents,
        decode_audio_fingerprint,
    )

    for a in (1, amp):
        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        drows = docs.count()
        lined = docs.select(
            "doc_id",
            F.concat(
                F.lit("common banner line\n"),
                F.lit("section "),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(" promo\n"),
                F.col("text"),
            ).alias("text"),
        )
        urls = docs.select(
            "doc_id",
            F.concat(
                F.lit("http://www.site"),
                (F.col("doc_id") % 997).cast("string"),
                F.lit(".example.com/p/"),
                (F.col("doc_id") % 31).cast("string"),
                F.lit("?utm_source=x&a="),
                (F.col("doc_id") % 3).cast("string"),
            ).alias("url"),
        )
        matches = docs.select(
            F.concat(F.lit("m"), (F.col("doc_id") % 16).cast("string")).alias("item_a"),
            F.concat(F.lit("m"), ((F.col("doc_id") / 16).cast("long") % 16).cast("string")).alias("item_b"),
            (F.col("doc_id") % 3 == 0).cast("long").alias("wins_a"),
            (F.col("doc_id") % 3 != 0).cast("long").alias("wins_b"),
        ).filter(F.col("item_a") != F.col("item_b"))
        for name, builder in (
            ("exact_substr_runs", lambda: exact_substr_runs(docs)),
            ("cdc_chunk_dedup", lambda: cdc_chunk_dedup(docs)),
            ("boilerplate_removal", lambda: boilerplate_line_removal(lined)),
            ("url_canonical_dedup", lambda: url_canonical_dedup(urls)),
            ("audio_fp_pairs", lambda: dhash_neardup_pairs(
                decode_audio_fingerprint(
                    audio_family_media_from_documents(docs)),
                w0_col="fp_w0", w1_col="fp_w1")),
            ("bradley_terry", lambda: bradley_terry_strengths(matches)),
            ("oov_rate_profile", lambda: oov_rate_profile(docs)),
            ("char_entropy", lambda: char_entropy_profile(docs)),
        ):
            secs = probe(name, builder)
            print(json.dumps({"probe": name, "amp": a, "docs": drows,
                              "sec": secs,
                              "docs_per_sec": int(drows / secs)}), flush=True)
        docs.unpersist()


def r14wave2_stress(spark, amp: int) -> None:
    """1x/``amp``x rows for ALL the r14 wave-2/3/4 staged operators
    (register r16; the mode name kept its wave-2 spelling for CLI
    stability). Wave 2: pagerank_host_authority (per-iteration
    edge-join + keyed aggregate — the host universe scales WITH the
    corpus here, the documented posture: a fixed-size graph would
    collapse under distinct()), code/license detect (map-only regex
    batteries), matryoshka_recall (two brute-force widths over a
    broadcast query set), audio_vad_segments (mapInPandas decode +
    per-clip windows), curriculum_phase_plan (per-source window +
    bounded plan window). Wave 3: video_scene_cuts (mapInPandas frame
    decode + per-clip window), crawl_frontier_priority (pagerank +
    host-grain aggregates), anchor_text_stats (vocabulary-bounded
    counts + partitioned top-k), span_corruption_plan (map-only).
    Wave 4: label_propagation (per-round keyed join + max_by argmax),
    vocab_overlap_matrix (vocab-grain rank window + bounded pair
    cross). minhash_band_tuning has no probe — its grid is constant
    size by construction. Pass signal: flat-or-rising rows/sec at
    amp."""
    from datapipeline_spike_spark.operators.curation import (
        curriculum_phase_plan,
    )
    from datapipeline_spike_spark.operators.detectors import (
        code_detect_profile,
        license_detect_profile,
    )
    from datapipeline_spike_spark.operators.graph import (
        anchor_text_stats,
        crawl_frontier_priority,
        host_link_graph,
        label_propagation_communities,
        pagerank,
        triangle_clustering,
    )
    from datapipeline_spike_spark.operators.text_stats import (
        vocab_overlap_matrix,
    )
    from datapipeline_spike_spark.operators.packing import (
        span_corruption_plan,
    )
    from datapipeline_spike_spark.operators.sft import (
        chat_turn_stats,
        dpo_pair_plan,
    )
    from datapipeline_spike_spark.operators.similarity import (
        hybrid_rrf_retrieval,
        matryoshka_recall,
    )
    from datapipeline_spike_spark.sources.multimodal import (
        audio_vad_segments,
        scene_media_from_documents,
        vad_media_from_documents,
        video_scene_cuts,
    )

    for a in (1, amp):
        docs = amplify_documents(spark, a).localCheckpoint(eager=True)
        drows = docs.count()
        emb = amplify_embeddings(spark, a).localCheckpoint(eager=True)
        erows = emb.count()
        queries = emb.filter(F.col("vec_id") < 5)
        # hosts scale with the corpus (1024 per amplification step) so
        # the edge list keeps growing instead of saturating distinct()
        n_hosts = 1024 * a
        for name, builder, rows in (
            ("pagerank_host_authority",
             lambda: pagerank(host_link_graph(docs, n_hosts=n_hosts)),
             drows),
            ("code_detect_profile", lambda: code_detect_profile(docs),
             drows),
            ("license_detect_profile",
             lambda: license_detect_profile(docs), drows),
            ("matryoshka_recall",
             lambda: matryoshka_recall(emb, queries, k=5, dims=(8, 16)),
             erows),
            ("audio_vad_segments",
             lambda: audio_vad_segments(vad_media_from_documents(docs)),
             drows),
            ("curriculum_phase_plan",
             lambda: curriculum_phase_plan(docs), drows),
            # wave 3
            ("video_scene_cuts",
             lambda: video_scene_cuts(scene_media_from_documents(docs)),
             drows),
            ("crawl_frontier_priority",
             lambda: crawl_frontier_priority(docs, n_hosts=n_hosts),
             drows),
            ("anchor_text_stats",
             lambda: anchor_text_stats(docs, n_hosts=n_hosts), drows),
            ("span_corruption_plan",
             lambda: span_corruption_plan(docs), drows),
            # wave 4
            ("label_propagation",
             lambda: label_propagation_communities(
                 host_link_graph(docs, n_hosts=n_hosts)), drows),
            ("vocab_overlap_matrix",
             lambda: vocab_overlap_matrix(docs), drows),
            # wave 5
            ("triangle_clustering",
             lambda: triangle_clustering(
                 host_link_graph(docs, n_hosts=n_hosts)), drows),
            # wave 6
            ("hybrid_rrf_retrieval",
             lambda: hybrid_rrf_retrieval(emb, queries), erows),
            # wave 7
            ("chat_turn_stats", lambda: chat_turn_stats(docs.select(
                "doc_id",
                F.concat(F.lit("user: "), "text",
                         F.lit("\nassistant: "), "text",
                         F.lit("\nuser: again\nassistant: done"),
                         ).alias("text"))), drows),
            ("dpo_pair_plan", lambda: dpo_pair_plan(docs.select(
                (F.col("doc_id") % (50 * a)).alias("prompt_id"),
                F.col("doc_id").alias("cand_id"),
                (((F.col("doc_id") * 37) % 1000) / F.lit(1000.0))
                .alias("score"))), drows),
        ):
            secs = probe(name, builder)
            print(json.dumps({"probe": name, "amp": a, "docs": rows,
                              "sec": secs,
                              "docs_per_sec": int(rows / secs)}),
                  flush=True)
        docs.unpersist()
        emb.unpersist()



if __name__ == "__main__":
    main()
