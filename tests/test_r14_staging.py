"""Planted-property, edge-case and fuzz tests for the operators staged in
r14 (exact_substr_runs, cdc_chunk_dedup, boilerplate_line_removal,
url_canonical_dedup, the audio fingerprint near-dup path,
bradley_terry_strengths, oov_rate_profile, char_entropy_profile), plus
the audio pair differential over doc_id < 128 (the registry runs the
doc_id % 5 = 3 slice). Each registered query's oracle differential is
tests/test_entry.py::test_query_matches_oracle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.catalog_dedup import _sql_audio_words
from datapipeline_spike_spark.plans.registry import load


# --- exact_substr_runs ----------------------------------------------------------


def test_exact_substr_planted_spans(spark):
    """A verbatim span shared by two docs is found with exact 0-based
    start positions and token length; an INSERTION before the copy
    shifts the start but not the length (the property fixed-offset
    blocking lacks); unrelated docs produce no runs; min_run_grams
    gates short matches."""
    from datapipeline_spike_spark.operators.dedup import exact_substr_runs

    span = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "intro words here " + span + " trailing bits"),
        (2, "alpha beta " + span + " gamma"),
        (3, "completely different text with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    runs = exact_substr_runs(df, df_cap=100).collect()
    hits = [r for r in runs if (r["doc_id_a"], r["doc_id_b"]) == (1, 2)]
    assert len(hits) == 1
    r = hits[0]
    # span = 10 tokens -> 8 trigrams; doc1 offset 3, doc2 offset 2
    assert r["run_start_a"] == 3 and r["run_start_b"] == 2
    assert r["run_grams"] == 8 and r["run_tokens"] == 10
    assert not any(3 in (x["doc_id_a"], x["doc_id_b"]) for x in runs)
    # a one-gram accidental match is below the default min_run_grams
    short = spark.createDataFrame(
        [(1, "aa bb cc xx yy"), (2, "zz aa bb cc qq")],
        "doc_id long, text string",
    )
    assert (
        exact_substr_runs(short, df_cap=100, min_run_grams=2).count() == 0
    )
    assert (
        exact_substr_runs(short, df_cap=100, min_run_grams=1).count() == 1
    )
    with pytest.raises(ValueError, match="df_cap_floor"):
        exact_substr_runs(df, df_cap_floor=10, df_cap_max=5)


# --- cdc_chunk_dedup ------------------------------------------------------------


def test_cdc_shift_resistance(spark):
    """The CDC property itself: doc 2 = junk prefix + doc 1's text.
    Fixed-size blocking would misalign every block after the prefix;
    content-defined boundaries realign immediately, so (almost) all of
    doc 1's token mass is detected as duplicated."""
    from datapipeline_spike_spark.operators.dedup import cdc_chunk_dedup

    base = " ".join(f"tok{i} item{i} value{i}" for i in range(40))
    rows = [(1, base), (2, "prefix junk words " + base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in cdc_chunk_dedup(df).collect()}
    # everything from the first shared boundary onward matches: the
    # only possibly-unshared chunks are each doc's first chunk
    assert out[1]["dup_token_fraction"] > 0.8
    assert out[2]["dup_token_fraction"] > 0.8
    assert out[1]["n_dup_chunks"] >= out[1]["n_chunks"] - 1
    # disjoint docs share nothing
    solo = spark.createDataFrame(
        [(1, base), (2, "wholly unrelated content stream here")],
        "doc_id long, text string",
    )
    souts = {r["doc_id"]: r for r in cdc_chunk_dedup(solo).collect()}
    assert souts[2]["dup_tokens"] == 0


# --- boilerplate_line_removal ---------------------------------------------------


def test_boilerplate_planted_semantics(spark):
    """df >= max(floor, ceil(frac*n)) lines vanish; unique lines stay
    in original order; a fully-boilerplate doc fingerprints md5('');
    intra-doc repeats of a rare line do NOT inflate its df."""
    import hashlib

    from datapipeline_spike_spark.operators.quality import (
        boilerplate_line_removal,
    )

    rows = [
        (i, "shared banner\nunique line " + str(i) + "\nshared banner")
        for i in range(1, 9)
    ]
    rows += [(9, "shared banner"), (10, "rare\nrare\nrare")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in boilerplate_line_removal(df, df_frac=0.5).collect()
    }
    # banner df = 9 of 10 docs >= ceil(0.5*10): removed; both copies
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 2
    assert out[1]["kept_fp"] == hashlib.md5(b"unique line 1").hexdigest()
    # doc 9 is all boilerplate: the empty-join fingerprint
    assert out[9]["kept_fp"] == hashlib.md5(b"").hexdigest()
    assert out[9]["removed_fraction"] == 1.0
    # 'rare' appears 3x but in ONE doc: df=1 < threshold -> kept
    assert out[10]["n_removed"] == 0


# --- url_canonical_dedup --------------------------------------------------------


def test_url_canonicalization_planted_rules(spark):
    from datapipeline_spike_spark.operators.html import url_canonical_dedup

    rows = [
        (1, "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&z=1&a=2#frag"),
        (2, "http://example.com/a/b?a=2&z=1"),
        (3, "https://example.com:443/a/b?a=2&z=1"),  # https default port
        (4, "not a url at all"),
        (5, "http://example.com"),  # empty path -> /
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r for r in url_canonical_dedup(df).collect()}
    # 1 and 2 collapse: case, www, :80, trailing slash, utm, order, frag
    assert out[1]["canonical_url"] == out[2]["canonical_url"]
    assert out[1]["canonical_url"] == "http://example.com/a/b?a=2&z=1"
    # 3 differs only by scheme (https != http) — but its :443 is gone
    assert out[3]["canonical_url"] == "https://example.com/a/b?a=2&z=1"
    assert 4 not in out  # unparseable excluded
    assert out[5]["canonical_url"] == "http://example.com/"
    assert out[1]["group_size"] == 2 and out[1]["is_canonical"]
    assert not out[2]["is_canonical"]


# --- audio fingerprint near-dup path --------------------------------------------


def test_audio_fingerprint_decode_matches_python_replay(spark, sf_dir):
    """decode_audio_fingerprint (real WAV bytes: RIFF walk + int16
    unpack + frame energies) equals the pure-Python fingerprint of the
    regenerated waveform for every doc."""
    from datapipeline_spike_spark.sources.multimodal import (
        audio_family_media_from_documents,
        decode_audio_fingerprint,
        fingerprint_bits_from_samples,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    got = {
        r["media_id"]: (r["fp_w0"], r["fp_w1"])
        for r in decode_audio_fingerprint(
            audio_family_media_from_documents(d)
        ).collect()
    }
    assert len(got) == 64
    for doc_id in got:
        fam, jit = doc_id % 16, (doc_id // 16) % 4
        n = 64 * (65 + fam % 4)
        xs = [
            ((i * i * (2 * fam + 3) + 5 * i + (jit if i % 7 == 0 else 0))
             % 4001) - 2000
            for i in range(n)
        ]
        bits = fingerprint_bits_from_samples(xs)
        assert got[doc_id] == (bits & 0xFFFFFFFF, bits >> 32), doc_id


def test_audio_fingerprint_corrupt_payloads_yield_null(spark):
    """Short clips (< 65 frames), non-PCM bytes, and truncated data
    chunks yield NULL words, never a crash."""
    from datapipeline_spike_spark.sources.multimodal import (
        decode_audio_fingerprint,
        synthetic_wav_pattern,
    )

    ok = synthetic_wav_pattern(seed=1, n_samples=65 * 64)
    short = synthetic_wav_pattern(seed=1, n_samples=100)
    rows = [(1, ok), (2, short), (3, b"not audio")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in decode_audio_fingerprint(df).collect()}
    assert out[1]["fp_w0"] is not None
    assert out[2]["fp_w0"] is None and out[2]["fp_w1"] is None
    assert out[3]["fp_w0"] is None


def test_audio_neardup_pairs_match_duckdb(spark, sf_dir, oracle_con):
    """The full staged query — planted family WAVs -> real decode ->
    the GENERIC banded-Hamming join (dedup.dhash_neardup_pairs reused
    unchanged on fingerprint words) — vs the DuckDB replay."""
    from datapipeline_spike_spark.operators.dedup import dhash_neardup_pairs
    from datapipeline_spike_spark.sources.multimodal import (
        audio_family_media_from_documents,
        decode_audio_fingerprint,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 128)
    fp = decode_audio_fingerprint(audio_family_media_from_documents(d))
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_neardup_pairs(
            fp, w0_col="fp_w0", w1_col="fp_w1"
        ).collect()
    }
    want = oracle_con.execute(
        f"""
        WITH {_sql_audio_words("documents WHERE doc_id < 128")},
        bands AS (
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
    # exact plants: same (fam, jitter) -> hamming 0; never cross-family
    for (a, b), h in got.items():
        assert a % 16 == b % 16
        if (a // 16) % 4 == (b // 16) % 4:
            assert h == 0


# --- bradley_terry_strengths ----------------------------------------------------


def test_bradley_terry_planted_dynamics(spark):
    """A dominant item takes most of the mass; a symmetric 1-1 pair
    splits evenly; a zero-win item converges to 0; both orientations
    of the same pair fold together; iters < 1 is a contract error."""
    from datapipeline_spike_spark.operators.preference import (
        bradley_terry_strengths,
    )

    rows = [
        ("a", "b", 9, 1),
        ("b", "a", 1, 9),   # same pair, flipped orientation
        ("a", "c", 10, 0),  # c never wins
        ("b", "c", 5, 0),
    ]
    df = spark.createDataFrame(
        rows, "item_a string, item_b string, wins_a long, wins_b long"
    )
    out = {r["item"]: r for r in bradley_terry_strengths(df).collect()}
    assert out["a"]["n_games"] == 30 and out["a"]["n_wins"] == 28
    assert out["b"]["n_games"] == 25 and out["b"]["n_wins"] == 7
    assert out["c"]["n_games"] == 15 and out["c"]["n_wins"] == 0
    assert out["a"]["strength"] > out["b"]["strength"] > out["c"]["strength"]
    assert out["c"]["strength"] < 0.01
    even = spark.createDataFrame(
        [("x", "y", 3, 3)],
        "item_a string, item_b string, wins_a long, wins_b long",
    )
    e = {r["item"]: r for r in bradley_terry_strengths(even).collect()}
    assert e["x"]["strength"] == pytest.approx(0.5, abs=1e-6)
    assert e["y"]["strength"] == pytest.approx(0.5, abs=1e-6)
    with pytest.raises(ValueError, match="iters"):
        bradley_terry_strengths(df, iters=0)


# --- oov_rate_profile -----------------------------------------------------------


def test_oov_planted_semantics(spark):
    """Tokens inside the top-V vocabulary score 0 OOV; a doc made of
    corpus-unique tokens scores 1.0; the vocabulary boundary tie-break
    is (count desc, token asc) — deterministic."""
    from datapipeline_spike_spark.operators.text_stats import oov_rate_profile

    rows = [(i, "common words everywhere always") for i in range(1, 9)]
    rows += [(9, "zzyzx qwxyz vvvvq")]  # corpus-unique tokens
    rows += [(10, "common words zzyzx zzyzx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in oov_rate_profile(df, vocab_size=4).collect()
    }
    # vocab = the 4 tokens with count 8+ (common/words/everywhere/always)
    assert out[1]["oov_rate"] == 0.0
    assert out[9]["oov_rate"] == 1.0 and out[9]["distinct_oov"] == 3
    # doc 10: 2 in-vocab + 2 copies of one OOV token
    assert out[10]["n_tokens"] == 4 and out[10]["oov_tokens"] == 2
    assert out[10]["distinct_oov"] == 1
    assert out[10]["oov_rate"] == pytest.approx(0.5, abs=1e-6)


# --- char_entropy_profile -------------------------------------------------------


def test_char_entropy_planted_tails(spark):
    """Degenerate repetition scores ~0; a base64-looking blob scores
    near its uniform maximum (entropy_norm -> 1); natural-ish text sits
    between; single-bigram docs get NULL entropy_norm and H = 0."""
    import math

    from datapipeline_spike_spark.operators.text_stats import (
        char_entropy_profile,
    )

    blob = "".join(
        "abcdefghijklmnopqrstuvwxyzABCDEF"[(7 * i * i + 3 * i) % 32]
        for i in range(400)
    )
    rows = [
        (1, "a" * 200),
        (2, blob),
        (3, "the cat sat on the mat and the dog sat on the log again"),
        (4, "xy"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in char_entropy_profile(df).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["distinct_bigrams"] == 1
    assert out[1]["entropy_norm"] is None
    assert out[2]["entropy_norm"] > 0.9
    assert out[2]["entropy"] > out[3]["entropy"] > out[1]["entropy"]
    assert out[4]["n_bigrams"] == 1 and out[4]["entropy"] == 0.0
    # absolute value check on the degenerate-uniform case: 200 'a's ->
    # 199 identical bigrams -> H = ln(199) - 199*ln(199)/199 = 0
    assert math.isclose(out[1]["entropy"], 0.0, abs_tol=1e-9)


# --- r14 review regressions ------------------------------------------------------


def test_exact_substr_df_is_document_frequency(spark):
    """r14 review: df was counted over positional postings, so one
    spammy page repeating a gram 20+ times pushed it past the cap even
    at document-frequency 2, hiding its cross-document copy. df is now
    distinct-doc; the verbatim run must be reported."""
    from datapipeline_spike_spark.operators.dedup import exact_substr_runs

    phrase = "alpha beta gamma delta"
    rows = [
        (1, " ".join([phrase] * 25)),          # spammy intra-doc repeats
        (2, "intro " + phrase + " outro end"),  # one clean copy
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    runs = exact_substr_runs(df, df_cap=5, min_run_grams=2).collect()
    assert any(
        (r["doc_id_a"], r["doc_id_b"]) == (1, 2) and r["run_tokens"] >= 4
        for r in runs
    ), runs


def test_cdc_rejects_non_hex_boundary_set(spark):
    from datapipeline_spike_spark.operators.dedup import cdc_chunk_dedup

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="boundary_hex"):
        cdc_chunk_dedup(df, boundary_hex=("A", "B"))  # uppercase
    with pytest.raises(ValueError, match="boundary_hex"):
        cdc_chunk_dedup(df, boundary_hex=())


def test_bradley_terry_empty_input_yields_empty_frame(spark):
    """r14 review: sequence(1, 0) descends to [1, 0], which used to
    manufacture two all-NULL phantom items from an empty match log."""
    from datapipeline_spike_spark.operators.preference import (
        bradley_terry_strengths,
    )

    empty = spark.createDataFrame(
        [], "item_a string, item_b string, wins_a long, wins_b long"
    )
    assert bradley_terry_strengths(empty).collect() == []
    # self-matches only -> also empty after the filter
    selfy = spark.createDataFrame(
        [("x", "x", 1, 0)],
        "item_a string, item_b string, wins_a long, wins_b long",
    )
    assert bradley_terry_strengths(selfy).collect() == []


def test_url_tracking_params_case_insensitive_and_valueless(spark):
    """r14 review: UTM_Source=x (mixed case) and bare fbclid (no '=')
    must strip like their canonical forms."""
    from datapipeline_spike_spark.operators.html import url_canonical_dedup

    rows = [
        (1, "http://site.com/p?UTM_Source=mail&a=1"),
        (2, "http://site.com/p?a=1&fbclid"),
        (3, "http://site.com/p?a=1"),
        (4, "http://site.com/p?reference=7&a=1"),  # NOT a tracking param
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r for r in url_canonical_dedup(df).collect()}
    assert (
        out[1]["canonical_url"] == out[2]["canonical_url"]
        == out[3]["canonical_url"] == "http://site.com/p?a=1"
    )
    assert out[1]["group_size"] == 3
    # 'reference' must survive: the rule anchors on the full param name
    assert out[4]["canonical_url"] == "http://site.com/p?a=1&reference=7"


def test_audio_fingerprint_fuzz_never_crashes(spark):
    """Fuzz contract for the staged audio decode (the PNG/HDF5 fuzz
    posture): truncations, bit flips, and random prefixes of a valid
    WAV must yield a row with either a correct or NULL fingerprint —
    never an exception inside the scan. Deterministic corpus (seeded
    positions), one Spark pass over all ~120 mutants."""
    import struct as _struct

    from datapipeline_spike_spark.sources.multimodal import (
        decode_audio_fingerprint,
        synthetic_wav_pattern,
    )

    base = synthetic_wav_pattern(seed=11, n_samples=65 * 64)
    mutants: list[tuple[int, bytes]] = [(0, base)]
    mid = 1
    for cut in range(1, 41):  # truncations across the whole container
        mutants.append((mid, base[: len(base) * cut // 41]))
        mid += 1
    for k in range(40):  # deterministic single-byte corruptions
        pos = (k * 7919 + 13) % len(base)
        b = bytearray(base)
        b[pos] ^= 1 << (k % 8)
        mutants.append((mid, bytes(b)))
        mid += 1
    for k in range(40):  # garbage prefixes / suffixes
        junk = bytes((k * 31 + j) % 256 for j in range(k + 1))
        mutants.append((mid, junk + base if k % 2 else base + junk))
        mid += 1
    df = spark.createDataFrame(mutants, "media_id long, payload binary")
    rows = decode_audio_fingerprint(df).collect()  # must not raise
    assert len(rows) == len(mutants)
    by_id = {r["media_id"]: r for r in rows}
    assert by_id[0]["fp_w0"] is not None  # the pristine clip decodes
    for r in rows:  # NULL-ness is always PAIRED (w0 null <=> w1 null)
        assert (r["fp_w0"] is None) == (r["fp_w1"] is None)


# --- oracle differentials --------------------------------------------------------
# Each operator below is registered as the named query, whose oracle and
# sf0.001 Spark build are the ones this check compares, so the check is that
# query's differential (the shared ``oracle_check`` fixture).


def test_boilerplate_removal_matches_duckdb(oracle_check):
    oracle_check("boilerplate_line_removal")


def test_bradley_terry_matches_duckdb(oracle_check):
    oracle_check("bradley_terry_strengths")


def test_cdc_chunk_dedup_matches_duckdb(oracle_check):
    oracle_check("cdc_chunk_dedup")


def test_char_entropy_matches_duckdb(oracle_check):
    oracle_check("char_entropy_profile")


def test_exact_substr_runs_match_duckdb(oracle_check):
    oracle_check("exact_substr_runs")


def test_oov_rate_matches_duckdb(oracle_check):
    oracle_check("oov_rate_profile")


def test_url_canonical_dedup_matches_duckdb(oracle_check):
    oracle_check("url_canonical_dedup")
