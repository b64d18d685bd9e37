"""Operator-level tests for the north-star ops (dedup, similarity,
as-of, multimodal) — semantic properties the oracle can't check."""

import re

import pytest
from pyspark.sql import functions as F


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today", "en", "s1"),
        (2, "the quick brown fox jumps over the lazy dog today", "en", "s1"),
        (3, "the quick brown fox jumps over the lazy cat today", "en", "s1"),
        (4, "completely different words about spark and parquet io", "en", "s1"),
        (5, "der schnelle braune fuchs springt heute", "de", "s1"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_dedup_exact_keeps_min_id(spark):
    from wrds2pg_spark.operators.dedup import dedup_exact

    out = {r["doc_id"]: r["n_dups"] for r in dedup_exact(_docs(spark)).collect()}
    assert out[1] == 2          # docs 1+2 identical, min id kept
    assert 2 not in out
    assert out[3] == 1


def test_ngram_jaccard_finds_near_dups(spark):
    from wrds2pg_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            _docs(spark), ["lang", "source"], threshold=0.5
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.7
    assert not any(4 in p for p in pairs)   # unrelated doc
    assert not any(5 in p for p in pairs)   # different block (lang)


def test_minhash_lsh_consistent_with_exact(spark):
    """Every minhash-verified pair is a true near-dup pair (verification
    step guarantees precision; recall is probabilistic but identical
    texts always collide in all bands)."""
    from wrds2pg_spark.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0             # identical docs must collide
    for (a, b), j in pairs.items():
        assert j >= 0.5


def test_minhash_bucket_cap_bounds_pairs(spark):
    """max_bucket_size caps per-bucket pair generation: capped output
    is a SUBSET of the uncapped pairs (precision preserved — the
    verify stage is unchanged), and an all-identical corpus slice
    generates at most cap*(cap-1)/2 pairs instead of n*(n-1)/2."""
    from wrds2pg_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(20)],
        ["doc_id", "text"],
    )
    full = {(r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in minhash_lsh_pairs(
                  docs, threshold=0.5, max_bucket_size=5).collect()}
    assert len(full) == 20 * 19 // 2
    assert len(capped) == 5 * 4 // 2
    assert capped <= full


def test_minhash_portable_cap_bounds_pairs(spark):
    """Same cap contract for the md5-portable pipeline backing the
    ORACLE-CHECKED dedup_minhash_capped key: capped pairs are the
    cap*(cap-1)/2 prefix pairs of the sorted bucket and a subset of
    the uncapped output."""
    from wrds2pg_spark.operators.dedup import minhash_lsh_pairs_portable

    docs = spark.createDataFrame(
        [(i, "one two three four five six seven eight nine ten")
         for i in range(15)],
        ["doc_id", "text"],
    )
    full = {(r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs_portable(
                docs, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in minhash_lsh_pairs_portable(
                  docs, threshold=0.5, max_bucket_size=3).collect()}
    assert len(full) == 15 * 14 // 2
    assert capped == {(0, 1), (0, 2), (1, 2)}
    assert capped <= full


def test_blocked_pairs_block_cap_bounds_pairs(spark):
    """max_block_size mirrors the minhash cap for embedding pair
    generation: a hub block contributes at most cap*(cap-1)/2 pairs,
    drawn from the deterministic first-cap ids (sorted), and the
    capped output is a subset of the uncapped pairs."""
    from wrds2pg_spark.operators.similarity import blocked_pairs

    vec = [1.0, 2.0, 3.0, 4.0]
    emb = spark.createDataFrame(
        [("hub", i, vec) for i in range(12)] + [("tiny", 100, vec)],
        ["label", "vec_id", "embedding"],
    )
    full = {(r["id_a"], r["id_b"])
            for r in blocked_pairs(emb, "label", threshold=0.9).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in blocked_pairs(
                  emb, "label", threshold=0.9, max_block_size=4).collect()}
    assert len(full) == 12 * 11 // 2
    assert capped == {(a, b) for a in range(4) for b in range(4) if a < b}
    assert capped <= full


def test_lsh_blocked_pairs_block_cap_bounds_pairs(spark):
    """Same contract for the label-free (bucket-blocked) variant: an
    all-identical corpus lands in one bucket; the cap bounds its
    quadratic contribution."""
    from wrds2pg_spark.operators.similarity import lsh_blocked_pairs

    vec = [float((i % 5) - 2) for i in range(8)]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(10)], ["vec_id", "embedding"]
    )
    full = {(r["id_a"], r["id_b"])
            for r in lsh_blocked_pairs(
                emb, threshold=0.9, dim=8, nbits=4).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in lsh_blocked_pairs(
                  emb, threshold=0.9, dim=8, nbits=4,
                  max_block_size=3).collect()}
    assert len(full) == 10 * 9 // 2
    assert capped == {(0, 1), (0, 2), (1, 2)}


def test_jaccard_block_cap_bounds_hub_parts(spark, monkeypatch):
    """graph_jaccard_neighbors' _JACCARD_BLOCK_CAP: with the cap
    forced below a part's supplier count, per-part pair counts are
    bounded at cap*(cap-1)/2 and the survivors keep exact n_common
    (truncation drops pairs, never corrupts counts)."""
    import wrds2pg_spark.queries as Q

    sf_dir = "/root/testdata/sf0.001"
    full = {(r["s_a"], r["s_b"]): r["n_common"]
            for r in Q.graph_jaccard_neighbors(spark, sf_dir).collect()}
    monkeypatch.setattr(Q, "_JACCARD_BLOCK_CAP", 2)
    capped = Q.graph_jaccard_neighbors(spark, sf_dir).collect()
    # with cap=2 each part contributes at most ONE pair: the two
    # smallest supplier ids — so every surviving (pair, count) must
    # appear in the uncapped result with an equal-or-larger count
    for r in capped:
        key = (r["s_a"], r["s_b"])
        assert key in full and full[key] >= r["n_common"]


def test_incremental_dedup_matches_batch_cross_pairs(spark, tmp_path):
    """Probing the materialized signature index with a new batch must
    find exactly the (new, old) pairs the batch pipeline finds when
    run over the union — index staleness aside, incremental == batch."""
    from wrds2pg_spark.operators.dedup import (
        build_minhash_bucket_index, dedup_incremental_portable,
        minhash_lsh_pairs_portable,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven"),
         (3, "completely different content here today")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),   # dup of 1
         (11, "nothing like anything indexed at all")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "sigidx")
    build_minhash_bucket_index(corpus, idx)
    got = {(r["id_new"], r["id_old"], r["jaccard"])
           for r in dedup_incremental_portable(
               spark, idx, corpus, new, threshold=0.5).collect()}
    want = {(r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_lsh_pairs_portable(
                corpus.union(new), threshold=0.5).collect()
            if r["id_a"] in (10, 11) or r["id_b"] in (10, 11)}
    # batch emits (min,max) ordering; normalize to (new, old)
    want = {(b if b >= 10 else a, a if b >= 10 else b, j)
            for a, b, j in want}
    assert got == want
    assert (10, 1, 1.0) in got


def test_simhash_identical_docs_share_fingerprint(spark):
    from wrds2pg_spark.operators.dedup import simhash_fingerprints

    out = {r["doc_id"]: r for r in simhash_fingerprints(_docs(spark)).collect()}
    assert out[1]["simhash"] == out[2]["simhash"]
    assert out[1]["n_same"] >= 2
    assert len(out[1]["simhash"]) == 64
    # near-dup 3 differs in few bits from 1; unrelated 4 in many
    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))
    assert ham(out[1]["simhash"], out[3]["simhash"]) <= ham(
        out[1]["simhash"], out[4]["simhash"]
    )


def test_asof_join_semantics(spark):
    from wrds2pg_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 20, 150), (4, 30, 100)],
        ["eid", "k", "t"],
    ).select("eid", "k", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [(10, 100, "a"), (10, 200, "b"), (10, 205, "c"), (20, 300, "late")],
        ["k", "t", "v"],
    ).select("k", F.col("t").cast("timestamp").alias("t"), "v")
    out = {
        r["eid"]: r["asof_v"]
        for r in asof_join(
            left, right, left_on="t", right_on="t",
            left_by="k", right_by="k", right_cols=["t", "v"],
        ).collect()
    }
    assert out[1] == "a"        # t=100 matches right t=100 (inclusive <=)
    assert out[2] == "c"        # most recent at exactly 205
    assert out[3] is None       # right side only has t=300 > 150
    assert out[4] is None       # no right rows for key 30 (left outer)


def test_asof_join_forward_and_tolerance(spark):
    from wrds2pg_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 350), (4, 20, 100)],
        ["eid", "k", "t"],
    ).select("eid", "k", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [(10, 150, "a"), (10, 205, "b"), (10, 400, "c")],
        ["k", "t", "v"],
    ).select("k", F.col("t").cast("timestamp").alias("t"), "v")

    fwd = {
        r["eid"]: r["asof_v"]
        for r in asof_join(
            left, right, left_on="t", right_on="t",
            left_by="k", right_by="k", right_cols=["v"],
            direction="forward",
        ).collect()
    }
    assert fwd[1] == "a"        # earliest right >= 100 is 150
    assert fwd[2] == "b"        # inclusive >= at exactly 205
    assert fwd[3] == "c"        # 400 >= 350
    assert fwd[4] is None       # key 20 has no right rows

    tol = {
        r["eid"]: r["asof_v"]
        for r in asof_join(
            left, right, left_on="t", right_on="t",
            left_by="k", right_by="k", right_cols=["v"],
            direction="backward", tolerance=60.0,
        ).collect()
    }
    assert tol[2] == "b"        # delta 0 <= 60s
    assert tol[3] is None       # nearest backward (205) is 145s away: voided
    assert tol[1] is None       # nothing at or before 100


def test_band_join_equals_naive(spark):
    from wrds2pg_spark.operators.rangejoin import band_join

    l = spark.range(0, 200).select(
        F.col("id").alias("lid"), (F.col("id") * 3.7 % 50).alias("lv")
    )
    r = spark.range(0, 100).select(
        F.col("id").alias("rid"), (F.col("id") * 7.3 % 50).alias("rv")
    )
    banded = band_join(l, r, "lv", "rv", 2.0).select("lid", "rid").collect()
    naive = (
        l.crossJoin(r)
        .filter((F.col("rv") >= F.col("lv") - 2.0) & (F.col("rv") <= F.col("lv") + 2.0))
        .select("lid", "rid").collect()
    )
    assert sorted(map(tuple, banded)) == sorted(map(tuple, naive))


def test_similarity_lsh_subset_of_brute(spark):
    """LSH top-k results must be a subset of the corpus scored exactly:
    every returned cos_sim matches the brute-force score for that id."""
    from wrds2pg_spark.operators.similarity import brute_force_topk, lsh_topk
    from wrds2pg_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = [(((i * 37 + 11) % 19) - 9) / 9.0 for i in range(64)]
    brute = {r["vec_id"]: r["cos_sim"]
             for r in brute_force_topk(emb, q, k=500).collect()}
    for r in lsh_topk(emb, q, k=20).collect():
        assert r["cos_sim"] == brute[r["vec_id"]]


def test_png_decoder_on_handbuilt_literal(spark):
    """Decode a PNG assembled by hand (filter 0, known pixels) — the
    decoder is validated against the spec, not against our own
    encoder.  2x2 RGB: pixels (10,20,30) (40,50,60) / (70,80,90)
    (200,210,220)."""
    import zlib

    from wrds2pg_spark.operators.multimodal import decode_image_png

    def chunk(ctype, data):
        return (len(data).to_bytes(4, "big") + ctype + data
                + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big"))

    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    raw = bytes([0, 10, 20, 30, 40, 50, 60,   # row 0, filter None
                 0, 70, 80, 90, 200, 210, 220])  # row 1, filter None
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    df = spark.createDataFrame([(1, bytearray(png))], ["doc_id", "payload"])
    r = decode_image_png(df, "payload", "doc_id").collect()[0]
    assert (r["width"], r["height"], r["bit_depth"], r["color_type"]) == (2, 2, 8, 2)
    assert r["pixel_sum"] == sum([10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220])
    lum = (299*10 + 587*20 + 114*30 + 299*40 + 587*50 + 114*60
           + 299*70 + 587*80 + 114*90 + 299*200 + 587*210 + 114*220)
    assert r["mean_luma"] == lum / 4000.0
    # corrupting one payload byte must fail the CRC, loudly
    import pytest as _pytest

    bad = bytearray(png)
    bad[40] ^= 0xFF
    dfb = spark.createDataFrame([(1, bytes(bad))], ["doc_id", "payload"])
    with _pytest.raises(Exception):
        decode_image_png(dfb, "payload", "doc_id").collect()


def test_png_synth_roundtrip_all_filters(spark):
    """Encoder->decoder roundtrip over seeds covering heights >= 5 so
    every filter type (None/Sub/Up/Average/Paeth) is exercised; the
    decoded pixel stream must equal the LCG stream exactly."""
    from wrds2pg_spark.operators.multimodal import (
        _lcg_bytes, _png_dims, decode_image_png, synth_png,
    )

    ids = list(range(1, 25))
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    rows = {r["id"]: r
            for r in decode_image_png(
                synth_png(df, "doc_id"), "payload", "id").collect()}
    for i in ids:
        w, h = _png_dims(i)
        stream = _lcg_bytes(i, 0, 3 * w * h)
        assert (rows[i]["width"], rows[i]["height"]) == (w, h)
        assert rows[i]["pixel_sum"] == sum(stream)


def test_bmp_decoder_on_handbuilt_literal(spark):
    """Decode a 2x2 24bpp BMP assembled byte-by-byte here —
    independently of synth_bmp — so a shared encode/decode bug can't
    cancel out. Bottom-up storage: file row 0 is image row 1."""
    from wrds2pg_spark.operators.multimodal import decode_image_bmp

    # image rows (top-down), pixels as (B, G, R)
    top = bytes([10, 20, 30, 40, 50, 60])       # pixels (10,20,30),(40,50,60)
    bottom = bytes([70, 80, 90, 100, 110, 120])
    pad = b"\x00\x00"  # 2*3=6 bytes/row -> stride 8
    header = (
        b"BM" + (54 + 16).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little") + (2).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (16).to_bytes(4, "little")
        + b"\x00" * 16
    )
    payload = header + bottom + pad + top + pad
    df = spark.createDataFrame([(1, bytearray(payload))], ["doc_id", "payload"])
    row = decode_image_bmp(df, "payload", "doc_id").collect()[0]
    assert (row["width"], row["height"], row["bpp"]) == (2, 2, 24)
    lumas = [114 * b + 587 * g + 299 * r
             for b, g, r in [(10, 20, 30), (40, 50, 60),
                             (70, 80, 90), (100, 110, 120)]]
    assert row["mean_luma"] == sum(lumas) / (1000.0 * 4)


def test_wav_parser_against_stdlib_writer(spark):
    """Cross-validate decode_audio_wav against a WAV written by
    Python's stdlib `wave` module — a fully independent encoder."""
    import io
    import wave as wave_mod

    from wrds2pg_spark.operators.multimodal import decode_audio_wav

    samples = [0, 1000, -1000, 32767, -32768, 5, -5, 12345]
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(22050)
        w.writeframes(b"".join(
            s.to_bytes(2, "little", signed=True) for s in samples))
    df = spark.createDataFrame(
        [(9, bytearray(buf.getvalue()))], ["doc_id", "payload"])
    row = decode_audio_wav(df, "payload", "doc_id").collect()[0]
    assert row["sample_rate"] == 22050
    assert row["n_channels"] == 2
    assert row["n_frames"] == 4
    assert row["duration_s"] == 4 / 22050
    import math
    assert row["rms"] == math.sqrt(
        sum(s * s for s in samples) / len(samples))


def test_bmp_wav_synth_roundtrip(spark):
    """synth -> decode round-trip recovers the formula-predicted
    features for a spread of ids (including id 0 and a 4-byte-aligned
    row width where padding is zero)."""
    from wrds2pg_spark.operators.multimodal import (
        decode_audio_wav, decode_image_bmp, synth_bmp, synth_wav,
    )

    ids = [(i,) for i in (0, 1, 7, 12, 142, 143, 1000)]
    df = spark.createDataFrame(ids, ["doc_id"])
    img = {r["id"]: r for r in
           decode_image_bmp(synth_bmp(df, "doc_id"), "payload", "id").collect()}
    for (i,) in ids:
        assert img[i]["width"] == 4 + i % 13
        assert img[i]["height"] == 4 + i % 11
        assert 0.0 <= img[i]["mean_luma"] <= 255.0
    aud = {r["id"]: r for r in
           decode_audio_wav(synth_wav(df, "doc_id"), "payload", "id").collect()}
    for (i,) in ids:
        assert aud[i]["n_channels"] == 1 + i % 2
        assert aud[i]["n_frames"] == 64 + i % 97
        assert aud[i]["n_bytes"] == 44 + 2 * aud[i]["n_frames"] * aud[i]["n_channels"]


def test_frame_sampler_every_k(spark):
    from wrds2pg_spark.operators.multimodal import (
        sample_frames_real, synth_frame_container,
    )

    df = spark.createDataFrame([(6,)], ["doc_id"])  # 4 + 6%7 = 10 frames
    payload = synth_frame_container(df, "doc_id")
    all_rows = sample_frames_real(payload, "payload", "id", every=1).collect()
    assert [r["frame_idx"] for r in sorted(all_rows, key=lambda r: r["frame_idx"])] \
        == list(range(10))
    sampled = sample_frames_real(payload, "payload", "id", every=2).collect()
    assert sorted(r["frame_idx"] for r in sampled) == [0, 2, 4, 6, 8]
    by_idx = {r["frame_idx"]: r["frame_sum"] for r in all_rows}
    for r in sampled:  # same frame bytes regardless of sampling stride
        assert r["frame_sum"] == by_idx[r["frame_idx"]]


def test_dedup_operators_handle_degenerate_docs(spark):
    """Docs shorter than the shingle width, empty, or whitespace-only
    must flow through every dedup operator without errors: empty
    shingle sets produce no buckets (so no pairs), never crashes."""
    from wrds2pg_spark.operators.dedup import (
        containment_pairs_from_posting,
        dedup_exact,
        minhash_lsh_pairs,
        minhash_lsh_pairs_portable,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        portable_bucket_keys,
        simhash_fingerprints,
        simhash_fingerprints_portable,
    )

    rows = [
        (1, "a", "en", "s1"),
        (2, "", "en", "s1"),
        (3, "one two", "en", "s1"),
        (4, "   ", "en", "s2"),
        (5, "x y z w v u t s", "en", "s2"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    assert minhash_lsh_pairs(docs, 0.5).count() == 0   # no doc has a partner
    assert simhash_fingerprints(docs).count() == 5     # every doc fingerprinted
    assert dedup_exact(docs).count() == 5              # all texts distinct
    assert ngram_jaccard_pairs(docs, ["lang", "source"], 0.9).count() == 0
    assert minhash_lsh_pairs_portable(docs, 0.5).count() == 0
    assert simhash_fingerprints_portable(docs).count() == 5
    assert ngram_containment_pairs(docs, ["lang", "source"], 0.9).count() == 0
    posting = portable_bucket_keys(docs)
    assert containment_pairs_from_posting(docs, posting, 0.6).count() == 0


def test_connected_components_chain_and_clique(spark):
    """A 4-hop chain needs several propagation rounds; disjoint pieces
    must keep distinct labels."""
    from wrds2pg_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain 1-5
         (10, 11), (11, 12), (10, 12),        # triangle 10-12
         (20, 21)],                           # pair
        ["id_a", "id_b"],
    )
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert all(comp[i] == 1 for i in (1, 2, 3, 4, 5))
    assert all(comp[i] == 10 for i in (10, 11, 12))
    assert comp[20] == comp[21] == 20


def test_connected_components_seed_round_fold(spark):
    """Round 11 rewrote round 1 of connected_components as a single
    groupBy over the symmetric edge list (no initial identity-labels
    frame, no join).  Pin the seed round's exact semantics: with
    max_iter=1 each node's label must be min(own id, min neighbor id)
    — precisely what the pre-r11 one-join round from identity labels
    produced — and a star (every node adjacent to the min id) must
    fully converge in that one round."""
    from wrds2pg_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["id_a", "id_b"])
    one = {r["id"]: r["comp"]
           for r in connected_components(chain, max_iter=1).collect()}
    assert one == {1: 1, 2: 1, 3: 2, 4: 3, 5: 4}

    star = spark.createDataFrame(
        [(7, 8), (7, 9), (7, 10)], ["id_a", "id_b"])
    full = {r["id"]: r["comp"]
            for r in connected_components(star, max_iter=1).collect()}
    assert full == {7: 7, 8: 7, 9: 7, 10: 7}


@pytest.mark.parametrize("max_iter", [0, -1])
def test_connected_components_rejects_max_iter_below_one(spark, max_iter):
    """The round bound is enforced: max_iter < 1 used to run the seed
    round anyway and return one-round labels as if asked for."""
    from wrds2pg_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(edges, max_iter=max_iter)


def test_lineage_cut_reliable_checkpoint_switch(spark, tmp_path):
    """Round-11 session switch (r10 verdict item 8): lineage_cut is
    localCheckpoint by default, but when the context has a RELIABLE
    checkpoint directory configured every cut must route through
    checkpoint() — same rows, blocks written under the configured dir
    so an executor loss on a real cluster recomputes from storage."""
    from pathlib import Path

    from wrds2pg_spark.session import lineage_cut

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # suite default: local cuts
    df = spark.range(100).withColumn("y", (F.col("id") * 3) % 7)
    want = sorted(r["y"] for r in df.collect())
    local = df.transform(lineage_cut())
    assert sorted(r["y"] for r in local.collect()) == want

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        cut = df.transform(lineage_cut())  # eager: job runs now
        assert sorted(r["y"] for r in cut.collect()) == want
        resolved = sc.getCheckpointDir()
        assert resolved is not None
        # getCheckpointDir() resolves to a Hadoop URI (file:/tmp/...):
        # strip the scheme before globbing the local filesystem
        local_dir = re.sub(r"^file:/+", "/", resolved)
        files = [p for p in Path(local_dir).rglob("*") if p.is_file()]
        assert files, "reliable checkpoint wrote no blocks"
        lazy = df.transform(lineage_cut(eager=False))
        assert sorted(r["y"] for r in lazy.collect()) == want
    finally:
        # clear so the rest of the session-scoped suite keeps the
        # default local-checkpoint behavior (Option(null) => None)
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


def test_lineage_cut_without_spark_context_is_local_and_errors_are_loud():
    """A session with no SparkContext (Spark Connect) cuts with
    localCheckpoint; any other failure reading the checkpoint dir is
    raised, not taken for "no reliable dir"."""
    from pyspark.errors import PySparkAttributeError

    from wrds2pg_spark.session import lineage_cut

    class Session:
        def __init__(self, error):
            self.error = error

        @property
        def sparkContext(self):
            raise self.error

    class Frame:
        def __init__(self, error):
            self.sparkSession = Session(error)

        def localCheckpoint(self, eager):
            return "local", eager

        def checkpoint(self, eager):
            return "reliable", eager

    connect = PySparkAttributeError(
        errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
        messageParameters={"attr_name": "sparkContext"})
    assert lineage_cut(eager=False)(Frame(connect)) == ("local", False)
    with pytest.raises(RuntimeError, match="gateway"):
        lineage_cut()(Frame(RuntimeError("gateway gone")))


@pytest.mark.parametrize("value,expected", [
    ("64MB", 64 << 20),
    ("128m", 128 << 20),
    ("1.5g", 7),
    ("abc", 7),
])
def test_parse_bytes_units_and_default(value, expected):
    """Byte strings parse as Spark's JavaUtils does; a fraction or a
    string with no number falls back to the default."""
    from wrds2pg_spark.session import _parse_bytes

    assert _parse_bytes(value, default=7) == expected


def test_fan_out_streaming_frame_is_noop(spark):
    """A streaming frame has no file listing (inputFiles raises
    AnalysisException): fan_out leaves it as it is."""
    from wrds2pg_spark.session import fan_out

    stream = spark.readStream.format("rate").load()
    assert fan_out(stream, min_partitions=4) is stream


@pytest.mark.parametrize("min_bytes,noop", [(1, True), (0, False)])
def test_fan_out_vanished_file(spark, tmp_path, min_bytes, noop):
    """A file deleted after the frame was built fails the file-status
    listing (Py4JJavaError): with a byte floor fan_out cannot prove
    the input clears it and is a no-op; without one it repartitions."""
    import pandas as pd

    from wrds2pg_spark.session import fan_out

    path = tmp_path / "one.parquet"
    pd.DataFrame({"x": range(5)}).to_parquet(path)
    df = spark.read.parquet(str(path))
    path.unlink()
    out = fan_out(df, min_partitions=4, min_bytes=min_bytes)
    assert (out is df) == noop
    if not noop:
        assert "Repartition" in out._jdf.queryExecution().logical().toString()


def test_hll_sketch_estimate_accuracy(spark):
    """agg_hll_sketch is rows-only at the driver; locally pin the
    estimate to within 5% of the exact distinct count per group."""
    from wrds2pg_spark.corpus import agg_hll_sketch
    from wrds2pg_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    est = {
        r["o_orderpriority"]: r["approx_customers"]
        for r in agg_hll_sketch(spark, sf).collect()
    }
    from pyspark.sql import functions as F

    exact = {
        r["o_orderpriority"]: r["n"]
        for r in load_table(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(2, 0.05 * n), (k, est[k], n)


def test_interval_overlap_join_exactly_once(spark):
    """Pairs spanning many shared bins must be emitted exactly once
    (first-common-bin rule), and the result must equal the brute-force
    non-equi join."""
    from wrds2pg_spark.operators.rangejoin import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0, 100), (2, 50, 60), (3, 200, 210)],
        "a long, s_a long, e_a long",
    )
    right = spark.createDataFrame(
        [(10, 90, 150), (11, 0, 300), (12, 400, 410)],
        "b long, s_b long, e_b long",
    )
    got = sorted(
        (r["a"], r["b"])
        for r in interval_overlap_join(
            left, right, "s_a", "e_a", "s_b", "e_b", bin_width=10
        ).collect()
    )
    brute = sorted(
        (a, b)
        for (a, sa, ea) in left.collect()
        for (b, sb, eb) in right.collect()
        if sa <= eb and sb <= ea
    )
    assert got == brute
    assert len(got) == len(set(got))
