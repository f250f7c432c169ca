"""Planted-property, edge-case and contract tests for the operators staged
in r12 (watermark_greenlist_score, quality_rank_normalize,
ngram_containment_pairs, sequence_packing_plan, doremi_domain_weights
and the image dHash near-dup path), plus the dHash pair differential
over the whole corpus (the registry runs the doc_id % 5 = 3 slice). Each
registered query's oracle differential is
tests/test_entry.py::test_query_matches_oracle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.catalog_dedup import _sql_dhash_words
from datapipeline_spike_spark.plans.registry import load


# --- watermark_greenlist_score --------------------------------------------------


def test_watermark_planted_semantics(spark):
    """Natural text scores |z| small; a greedily green-chained text
    (each next token chosen so the bigram hashes green, the same rule a
    watermarking sampler enforces) scores z ~ sqrt(n); < 2 tokens
    abstains with NULLs."""
    import hashlib

    from datapipeline_spike_spark.operators.text_stats import (
        watermark_greenlist_score,
    )

    def green(prev: str, tok: str) -> bool:
        return hashlib.md5(f"{prev}#{tok}".encode()).hexdigest()[7] in "02468ace"

    vocab = [f"w{i}" for i in range(50)]
    chain = ["w0"]
    while len(chain) < 101:
        chain.append(next(t for t in vocab if green(chain[-1], t)))
    rows = [
        (1, " ".join(chain)),          # fully green: z = sqrt(100) = 10
        (2, " ".join(vocab * 4)),      # fixed cycle: near-gamma rate
        (3, "solo"),                   # 1 token: nothing to score
        (4, ""),                       # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in watermark_greenlist_score(df).collect()}
    assert out[1]["n_green"] == 100 and out[1]["green_rate"] == 1.0
    assert out[1]["z_score"] == pytest.approx(10.0, abs=1e-6)
    assert abs(out[2]["z_score"]) < 3.0
    assert out[3]["n_scored"] == 0 and out[3]["z_score"] is None
    assert out[4]["n_tokens"] == 0 and out[4]["green_rate"] is None


# --- quality_rank_normalize -----------------------------------------------------


def test_rank_normalize_planted_properties(spark):
    """Mid-rank semantics: distinct scores map to (i + 0.5)/n; ties
    share one mid-rank; groups normalize independently (the same raw
    score gets different ranks in differently-distributed sources);
    NULL scores are excluded."""
    from datapipeline_spike_spark.operators.quality import (
        quality_rank_normalize,
    )

    rows = [("a", i, 0.1 * i) for i in range(1, 5)]       # 0.1..0.4
    rows += [("a", 9, None)]                               # abstain
    rows += [("b", 10, 0.1), ("b", 11, 0.1), ("b", 12, 0.9)]
    df = spark.createDataFrame(rows, "source string, doc_id long, score double")
    out = {
        r["doc_id"]: r
        for r in quality_rank_normalize(df, "score", "source").collect()
    }
    assert 9 not in out  # NULL excluded
    for i in range(1, 5):  # distinct scores: (i-1 + 0.5)/4
        assert out[i]["rank_pct"] == pytest.approx((i - 0.5) / 4, abs=1e-6)
    # ties share the mid-rank: (0 + 0.5*2)/3
    assert out[10]["rank_pct"] == out[11]["rank_pct"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[12]["rank_pct"] == pytest.approx((2 + 0.5) / 3, abs=1e-6)
    # same raw value, different groups, different ranks
    assert out[1]["score"] == out[10]["score"]
    assert out[1]["rank_pct"] != out[10]["rank_pct"]


# --- ngram_containment_pairs ----------------------------------------------------


def test_containment_planted_semantics(spark):
    """Full inclusion -> containment 1.0 for the contained side even
    when Jaccard is tiny; disjoint docs -> no pair; the df cap removes
    corpus-wide boilerplate shingles from the sets."""
    from datapipeline_spike_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} next{i} more{i}" for i in range(40))
    rows = [
        (1, quote),                       # 4 shingles, all inside doc 2
        (2, filler + " " + quote),        # the big container
        (3, "totally different content here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id_a"], r["doc_id_b"]): r
        for r in ngram_containment_pairs(df, min_common=2).collect()
    }
    assert (1, 2) in out
    p = out[(1, 2)]
    assert p["containment_a"] == 1.0          # doc 1 fully contained
    assert p["containment_b"] < 0.1           # Jaccard-style view is tiny
    assert not any(3 in k for k in out)
    # df cap: a shingle shared by EVERY doc is excluded from the sets
    boiler = [(i, "shared header line " + f"unique{i} tail{i} end{i}")
              for i in range(10)]
    bdf = spark.createDataFrame(boiler, "doc_id long, text string")
    pairs = ngram_containment_pairs(bdf, min_common=1, df_cap=5, threshold=0.0)
    # 'shared header line' (df=10 > cap) is dropped; remaining shingles
    # are doc-unique except the header-bridge ones (df <= cap kept)
    for r in pairs.collect():
        assert r["max_containment"] < 1.0
    # the SCALE-DERIVED default keeps that same df=10 shingle on a tiny
    # corpus (cap = greatest(16, ceil(0.02*10)) = 16 >= 10): boilerplate
    # is defined RELATIVE to corpus size, not by an absolute constant
    auto = ngram_containment_pairs(bdf, min_common=1, threshold=0.0)
    assert auto.count() > pairs.count()  # header-bridged pairs appear
    # ADVICE r13: a floor above the max would silently void the
    # df_cap_max^2 fan-out ceiling — rejected at the contract boundary
    with pytest.raises(ValueError, match="df_cap_floor"):
        ngram_containment_pairs(bdf, df_cap_floor=100, df_cap_max=50)


# --- sequence_packing_plan ------------------------------------------------------


def test_packing_planted_properties(spark):
    """Offsets tile the stream exactly (sorted offsets = cumsum of
    sizes, no gaps/overlaps); a doc straddling a seq_len boundary spans
    2 sequences; zero-token docs take offset but span nothing."""
    from datapipeline_spike_spark.operators.sampling import (
        sequence_packing_plan,
    )

    rows = [(i, 10 + (i * 37) % 50) for i in range(40)] + [(100, 0)]
    df = spark.createDataFrame(rows, "doc_id long, tk long")
    out = sequence_packing_plan(df, "tk", seq_len=64).collect()
    by_off = sorted(out, key=lambda r: r["pack_offset"])
    pos = 0
    for r in by_off:
        assert r["pack_offset"] == pos, r
        pos += r["n_tokens"]
    assert pos == sum(tk for _, tk in rows)
    for r in out:
        first = r["pack_offset"] // 64
        last = (r["pack_offset"] + r["n_tokens"] - 1) // 64
        if r["n_tokens"] == 0:
            assert r["n_seqs_spanned"] == 0
        else:
            assert r["first_seq"] == first
            assert r["n_seqs_spanned"] == last - first + 1
    assert any(r["n_seqs_spanned"] >= 2 for r in out)  # boundary crossings


# --- doremi_domain_weights ------------------------------------------------------


def test_doremi_planted_dynamics(spark):
    """Equal losses stay uniform; the max-loss domain strictly gains
    weight and concentrates as iters grows; a single domain gets
    weight 1; iters < 1 is a contract error."""
    from datapipeline_spike_spark.operators.sampling import (
        doremi_domain_weights,
    )

    eq = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0)], "source string, loss double"
    )
    out = {r["source"]: r for r in doremi_domain_weights(eq, "source", "loss").collect()}
    assert out["a"]["weight"] == pytest.approx(0.5, abs=1e-6)
    assert out["b"]["weight"] == pytest.approx(0.5, abs=1e-6)

    sk = spark.createDataFrame(
        [("hard", 9.0), ("easy", 1.0)], "source string, loss double"
    )
    w4 = {r["source"]: r["weight"]
          for r in doremi_domain_weights(sk, "source", "loss", iters=4).collect()}
    w12 = {r["source"]: r["weight"]
           for r in doremi_domain_weights(sk, "source", "loss", iters=12).collect()}
    assert w4["hard"] > 0.5 and w12["hard"] > w4["hard"]

    solo = spark.createDataFrame([("only", 3.0)], "source string, loss double")
    assert doremi_domain_weights(solo, "source", "loss").collect()[0]["weight"] == 1.0

    with pytest.raises(ValueError, match="iters"):
        doremi_domain_weights(solo, "source", "loss", iters=0)


def test_doremi_huge_losses_no_overflow(spark):
    """ADVICE r12: unbounded proxy losses (raw document lengths — the
    sf0.1 scale probe's feed) drove exp(eta * excess) past the double
    range, so every weight collapsed to inf/inf = NaN. The shifted
    (log-sum-exp) update keeps the exponent <= 0: weights are finite,
    sum to 1, and concentrate on the max-loss domain."""
    import math

    from datapipeline_spike_spark.operators.sampling import (
        doremi_domain_weights,
    )

    big = spark.createDataFrame(
        [("web", 120000.0), ("code", 80000.0), ("chat", 500.0)],
        "source string, loss double",
    )
    out = {r["source"]: r for r in doremi_domain_weights(big, "source", "loss").collect()}
    for r in out.values():
        assert r["weight"] is not None and not math.isnan(r["weight"])
        assert 0.0 <= r["weight"] <= 1.0
    assert sum(r["weight"] for r in out.values()) == pytest.approx(1.0, abs=1e-4)
    assert out["web"]["weight"] > 0.999  # 4000-unit excess: winner-take-all
    assert out["chat"]["weight"] == 0.0  # clean underflow, not NaN


# --- image dHash near-dup path --------------------------------------------------


def test_dhash_decode_matches_python_replay(spark, sf_dir):
    """decode_image_dhash (real PNG bytes: chunk walk + inflate +
    unfilter + sample grid) equals the pure-Python dHash of the
    regenerated pattern for every doc."""
    from datapipeline_spike_spark.sources.multimodal import (
        decode_image_dhash,
        dhash_bits_from_pixels,
        image_family_media_from_documents,
    )

    d = load(spark, sf_dir, "documents").limit(64)
    got = {
        r["media_id"]: (r["dhash_w0"], r["dhash_w1"])
        for r in decode_image_dhash(image_family_media_from_documents(d)).collect()
    }
    for doc_id in got:
        fam, jit = doc_id % 16, (doc_id // 16) % 4
        w, h = 9 + fam % 8, 8 + fam % 5
        px = [
            (k * k * (2 * fam + 3) + 5 * k + (jit if k % 7 == 0 else 0)) % 256
            for k in range(w * h)
        ]
        bits = dhash_bits_from_pixels(px, w, h)
        assert got[doc_id] == (bits & 0xFFFFFFFF, bits >> 32), doc_id


def test_dhash_corrupt_payloads_yield_null_not_crash(spark):
    """Review r12: a PNG whose IDAT inflates SHORT (truncated final
    row) must yield NULL hash words, never an IndexError inside the
    sample grid; non-PNG bytes and undersized canvases too."""
    import struct
    import zlib

    from datapipeline_spike_spark.sources.multimodal import (
        _PNG_SIG,
        decode_image_dhash,
        synthetic_png_family,
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    w, h = 10, 8
    # last scanline present but 3 pixels short after the filter byte
    raw = b"".join(b"\x00" + bytes(w) for _ in range(h - 1)) + b"\x00" + bytes(w - 3)
    short = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    rows = [
        (1, synthetic_png_family(0, 0)),  # healthy
        (2, short),                        # truncated inflate
        (3, b"not a png at all"),          # wrong container
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in decode_image_dhash(df).collect()}
    assert out[1]["dhash_w0"] is not None
    assert out[2]["dhash_w0"] is None and out[2]["dhash_w1"] is None
    assert out[3]["dhash_w0"] is None


def test_dhash_pairs_match_duckdb(spark, sf_dir, oracle_con):
    """The full staged query — planted family PNGs -> real decode ->
    banded candidate join -> exact Hamming — vs the DuckDB replay of
    hashes (from the pattern), bands, and popcount distances."""
    from datapipeline_spike_spark.operators.dedup import dhash_neardup_pairs
    from datapipeline_spike_spark.sources.multimodal import (
        decode_image_dhash,
        image_family_media_from_documents,
    )

    d = load(spark, sf_dir, "documents")
    hashes = decode_image_dhash(image_family_media_from_documents(d))
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_neardup_pairs(hashes).collect()
    }
    want = oracle_con.execute(
        f"""
        WITH {_sql_dhash_words("documents")},
        bands AS (
          -- 8x8-bit bands, replaying dedup.dhash_neardup_pairs'
          -- r13 layout (band i: word i//4, shift 8*(i%4)) — the twin
          -- must band EXACTLY like the implementation or it stops
          -- replaying it (ADVICE r13)
          SELECT doc_id, w0, w1, 0 AS band_idx, w0 & 255 AS band_val FROM hx
          UNION ALL SELECT doc_id, w0, w1, 1, (w0 >> 8) & 255 FROM hx
          UNION ALL SELECT doc_id, w0, w1, 2, (w0 >> 16) & 255 FROM hx
          UNION ALL SELECT doc_id, w0, w1, 3, (w0 >> 24) & 255 FROM hx
          UNION ALL SELECT doc_id, w0, w1, 4, w1 & 255 FROM hx
          UNION ALL SELECT doc_id, w0, w1, 5, (w1 >> 8) & 255 FROM hx
          UNION ALL SELECT doc_id, w0, w1, 6, (w1 >> 16) & 255 FROM hx
          UNION ALL SELECT doc_id, w0, w1, 7, (w1 >> 24) & 255 FROM hx
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.w0, b.w0))
                      + bit_count(xor(a.w1, b.w1)) AS INT) AS hamming
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 6
        """
    ).df()
    assert len(got) == len(want)
    assert len(got) > 0
    for _, w in want.iterrows():
        assert got[(w["id_a"], w["id_b"])] == int(w["hamming"])


def test_dhash_scattered_bits_recall(spark):
    """ADVICE r13: the completeness claim, proven on the exact pair
    class the old 4x16-bit layout missed. Flips at bits 3, 19, 35, 51
    put exactly one flipped bit in EVERY 16-bit band (no 16-bit band
    agrees -> the 4-band join had zero candidates) while 8-bit bands
    1, 3, 5, 7 stay clean — the 8-band pigeonhole must recall this
    Hamming-4 pair."""
    from datapipeline_spike_spark.operators.dedup import dhash_neardup_pairs

    w0, w1 = 0x5A5A5A5A, 0xA5A5A5A5
    flip = (1 << 3) | (1 << 19)  # bits 3, 19 of each word = 3,19,35,51
    rows = [
        (1, w0, w1),
        (2, w0 ^ flip, w1 ^ flip),
        (3, 0x12345678, 0x0F0F0F0F),  # far from both (no accidental pair)
    ]
    df = spark.createDataFrame(rows, "media_id long, dhash_w0 long, dhash_w1 long")
    # the premise: every 16-bit band of the pair differs -> the old
    # 4x16 banding generates no candidate for (1, 2)
    for shift in (0, 16):
        assert (w0 >> shift) & 0xFFFF != ((w0 ^ flip) >> shift) & 0xFFFF
        assert (w1 >> shift) & 0xFFFF != ((w1 ^ flip) >> shift) & 0xFFFF
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_neardup_pairs(df).collect()
    }
    assert got == {(1, 2): 4}


def test_dhash_max_hamming_contract(spark):
    """max_hamming > 7 exceeds what the 8-band pigeonhole can recall
    completely — rejected loudly (dedup.py:1494), never a silent
    heuristic; <= 7 is accepted."""
    from datapipeline_spike_spark.operators.dedup import dhash_neardup_pairs

    df = spark.createDataFrame(
        [(1, 7, 7)], "media_id long, dhash_w0 long, dhash_w1 long"
    )
    with pytest.raises(ValueError, match="max_hamming <= 7"):
        dhash_neardup_pairs(df, max_hamming=8)
    assert dhash_neardup_pairs(df, max_hamming=7).count() == 0


def test_dhash_planted_families(spark, sf_dir):
    """Same (family, jitter) -> identical images -> Hamming 0; pairs
    never bridge families (distinct patterns differ way past the
    threshold on this plant); within a family across jitters at least
    some near-dup (0 < hamming <= 6) pairs appear."""
    from datapipeline_spike_spark.operators.dedup import dhash_neardup_pairs
    from datapipeline_spike_spark.sources.multimodal import (
        decode_image_dhash,
        image_family_media_from_documents,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 128)
    hashes = decode_image_dhash(image_family_media_from_documents(d))
    pairs = dhash_neardup_pairs(hashes).collect()
    assert pairs
    for r in pairs:
        assert r["id_a"] % 16 == r["id_b"] % 16, r  # never cross-family
        same_jitter = (r["id_a"] // 16) % 4 == (r["id_b"] // 16) % 4
        if same_jitter:
            assert r["hamming"] == 0, r  # byte-identical plants


# --- oracle differentials --------------------------------------------------------
# Each operator below is registered as the named query, whose oracle and
# sf0.001 Spark build are the ones this check compares, so the check is that
# query's differential (the shared ``oracle_check`` fixture).


def test_containment_matches_duckdb(oracle_check):
    oracle_check("ngram_containment_pairs")


def test_doremi_matches_duckdb(oracle_check):
    oracle_check("doremi_domain_weights")


def test_packing_matches_duckdb(oracle_check):
    oracle_check("sequence_packing_plan")


def test_rank_normalize_matches_duckdb(oracle_check):
    oracle_check("quality_rank_normalize")


def test_watermark_matches_duckdb(oracle_check):
    oracle_check("watermark_greenlist_score")
