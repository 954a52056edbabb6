"""North-star operators: dedup family, similarity search, text analysis,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.extended.dedup import (
    embedding_near_dup,
    exact_dedup_docs,
    minhash_candidates,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from engine.extended.multimodal import (
    decode_media,
    fake_media_from_text,
    frame_sample,
    media_features,
)
from engine.extended.similarity import cosine_topk, lsh_topk
from engine.extended.text import fingerprint, lang_id_expr, token_count, with_quality

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall green trees outside"
)


def _docs(spark):
    rows = [
        (0, BASE, "src"),
        (1, BASE + " extra tail words here", "src"),  # near-dup of 0
        (2, "completely different text about spark engines and parquet files "
            "running distributed queries over large clusters every day", "src"),
        (3, BASE.upper() + "!!!", "src"),  # exact dup of 0 after normalization
        (4, "short", "src"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup_normalized(spark):
    out = exact_dedup_docs(_docs(spark))
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 3 not in ids  # case/punct-insensitive exact dup dropped
    assert ids == {0, 1, 2, 4}


def test_minhash_finds_near_dup(spark):
    cands = minhash_candidates(_docs(spark), num_hashes=64, bands=16)
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands.collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # identical shingle sets
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.5
    assert not any(2 in p for p in pairs)


def test_minhash_dedup_drops_higher_id(spark):
    out = minhash_dedup(_docs(spark), threshold=0.9, num_hashes=64, bands=16)
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 3 not in ids


def test_simhash_near_dup(spark):
    cands = simhash_candidates(_docs(spark), max_hamming=10)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in cands.collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 0
    assert all(h <= 10 for h in pairs.values())


def test_ngram_jaccard_exact_values(spark):
    docs = _docs(spark)
    pairs = spark.createDataFrame([(0, 3), (0, 2)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, pairs).collect()}
    assert out[(0, 3)] == 1.0
    assert out[(0, 2)] == 0.0


def _vectors(spark):
    import math

    rows = []
    for i in range(50):
        angle = i * math.pi / 100
        rows.append((i, [math.cos(angle), math.sin(angle), 0.0, 0.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark):
    out = cosine_topk(_vectors(spark), [1.0, 0.0, 0.0, 0.0], k=3)
    rows = out.collect()
    assert [r["vec_id"] for r in rows] == [0, 1, 2]  # nearest angles first
    assert rows[0]["sim"] == 1.0


def test_lsh_topk_recall_vs_brute_force(spark):
    vecs = _vectors(spark)
    q = [1.0, 0.0, 0.0, 0.0]
    exact = {r["vec_id"] for r in cosine_topk(vecs, q, k=5).collect()}
    approx = {
        r["vec_id"]
        for r in lsh_topk(vecs, q, k=5, dim=4, planes=8, max_probe_hamming=3).collect()
    }
    assert len(exact & approx) >= 3  # high recall on smooth manifold


def test_embedding_near_dup_finds_planted_pair(spark):
    vecs = _vectors(spark)
    twin = vecs.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x, i: x + F.when(i == 0, F.lit(0.001)).otherwise(F.lit(0.0))).alias("embedding"),
    )
    out = embedding_near_dup(vecs.unionByName(twin), dim=4, planes=8, threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1000) in pairs


def test_embedding_near_dup_bucket_cap_bounds_pairs(spark):
    """bucket_cap keeps the banded self-join bounded in a hot bucket (r11
    ×100 probe: uncapped, a 220k-vector fixture spilled >79 GB): only the
    cap lowest-id members of a bucket pair up, overflow rows emit nothing —
    the MinHash-path contract."""
    # 8 identical vectors: every band key collides, cosine = 1.0 for all
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = embedding_near_dup(df, dim=4, planes=8, threshold=0.99, bucket_cap=3)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}  # C(cap,2), lowest ids only
    uncapped = embedding_near_dup(df, dim=4, planes=8, threshold=0.99, bucket_cap=None)
    assert uncapped.count() == 28  # C(8,2) — cap=None restores exact pairs


def test_text_ops(spark):
    df = spark.createDataFrame(
        [(0, "The cat and the dog."), (1, "Der Hund ist nicht ein Katze und zu"), (2, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        token_count("text").alias("n"),
        lang_id_expr("text").alias("lang"),
        fingerprint("text").alias("fp"),
    ).collect()}
    assert out[0]["n"] == 5 and out[0]["lang"] == "en"
    assert out[1]["lang"] == "de"
    assert out[2]["n"] == 0 and out[2]["lang"] == "und"
    assert len(out[0]["fp"]) == 32

    q = {r["doc_id"]: r for r in with_quality(df).collect()}
    assert q[0]["alpha_ratio"] is not None and q[2]["alpha_ratio"] is None


def test_multimodal_stub_and_features(spark):
    docs = _docs(spark)
    media = fake_media_from_text(docs)
    assert set(media.columns) == {"media_id", "payload", "mime", "width", "height", "duration_ms"}

    feats = {r["media_id"]: r for r in media_features(media).collect()}
    assert len(feats) == 5
    assert all(len(r["signature"]) == 8 for r in feats.values())
    assert feats[0]["n_bytes"] == len(BASE.encode())

    frames = frame_sample(media, every_n_bytes=32, frame_len=16).collect()
    assert max(r["frame_idx"] for r in frames) >= 1
    assert all(len(r["frame"]) <= 16 for r in frames)

    # default path: unknown (utf-8 text) payloads pass through with null
    # parsed dimensions — no stub raise
    decoded_default = {r["media_id"]: r for r in decode_media(media).collect()}
    assert all(r["width"] is None for r in decoded_default.values())
    assert decoded_default[0]["n_bytes"] == len(BASE.encode())

    # with an injected codec the seam works end-to-end
    decoded = decode_media(media, codec=lambda b, mime: b[:4]).collect()
    assert all(r["n_bytes"] == 4 for r in decoded)


def test_near_dup_groups_transitive(spark):
    from engine.extended.dedup import near_dup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    out = {r["id"]: r["group_id"] for r in near_dup_groups(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_minhash_dedup_cc_collapses_chain(spark):
    """A→B→C chain of near-dups collapses to one survivor even though A and C
    are not direct candidates."""
    from engine.extended.dedup import minhash_dedup_cc

    words = [f"w{i}" for i in range(40)]
    a = " ".join(words)
    b = " ".join(words[5:] + [f"x{i}" for i in range(5)])     # ~near a
    c = " ".join(words[10:] + [f"x{i}" for i in range(10)])   # ~near b, farther from a
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, c), (3, "entirely different content about engines")],
        "doc_id long, text string",
    )
    out = {r["doc_id"] for r in minhash_dedup_cc(docs, threshold=0.5, num_hashes=64, bands=32).collect()}
    assert 0 in out and 3 in out
    assert out == {0, 3}  # 1 and 2 folded into 0's group transitively


def test_resize_media_default_and_fake(spark):
    from engine.extended.multimodal import fake_media_from_text, fake_resizer, resize_media

    media = fake_media_from_text(_docs(spark))
    # default path (non-PNG payloads): byte-budget scaling, no raise
    out_default = {r["media_id"]: r for r in resize_media(media, 64, 64).collect()}
    assert all(r["width"] == 64 and r["height"] == 64 for r in out_default.values())

    out = {r["media_id"]: r for r in resize_media(media, 64, 64, resizer=fake_resizer()).collect()}
    assert all(r["width"] == 64 and r["height"] == 64 for r in out.values())
    assert all(len(r["payload"]) >= 1 for r in out.values())


def test_png_codec_roundtrip_and_real_decode(spark):
    """fake_png_corpus payloads are REAL PNGs: header-parsed dims match, the
    stdlib decode recovers exactly the encoded pixel bytes, and decode_media's
    DEFAULT path (no injected codec) produces w*h*ch raw bytes."""
    from engine.extended.imagecodec import parse_header, png_decode, png_encode
    from engine.extended.multimodal import fake_png_corpus

    pngs = fake_png_corpus(_docs(spark))
    rows = pngs.collect()
    assert len(rows) == 5
    for r in rows:
        data = bytes(r["payload"])
        hdr = parse_header(data)
        assert hdr["format"] == "png"
        assert (hdr["width"], hdr["height"], hdr["channels"]) == (
            r["width"], r["height"], r["channels"]
        )
        w, h, ch, pixels = png_decode(data)
        assert len(pixels) == w * h * ch
        assert png_encode(pixels, w, h, ch) == data  # bit-exact round-trip

    decoded = {r["media_id"]: r for r in decode_media(pngs).collect()}
    for r in rows:
        d = decoded[r["media_id"]]
        assert d["n_bytes"] == r["width"] * r["height"] * r["channels"]
        assert (d["width"], d["height"], d["channels"]) == (
            r["width"], r["height"], r["channels"]
        )


def test_jpeg_codec_roundtrip_all_modes():
    """The stdlib baseline JPEG codec round-trips real pixels in every mode
    (gray / RGB x 4:4:4 / 4:2:0), with restart-free streams, odd dimensions,
    and lossy error bounded tightly on smooth content."""
    from engine.extended.jpegcodec import jpeg_decode, jpeg_encode

    w, h = 37, 21
    rgb = bytearray()
    for y in range(h):
        for x in range(w):
            rgb += bytes([min(255, 40 + x * 4), min(255, 30 + y * 6), min(255, 60 + x + y)])
    gray = bytes([min(255, 20 + x * 2 + y * 3) for y in range(h) for x in range(w)])
    for ch, px in ((3, bytes(rgb)), (1, gray)):
        for sub in ("444", "420"):
            enc = jpeg_encode(px, w, h, ch, quality=90, subsampling=sub)
            dw, dh, dch, dec = jpeg_decode(enc)
            assert (dw, dh, dch) == (w, h, ch)
            assert len(dec) == w * h * ch  # the pixel-count contract
            mean = sum(abs(a - b) for a, b in zip(px, dec)) / len(px)
            assert mean < 3.0, (ch, sub, mean)


def test_jpeg_decode_rejects_progressive_cleanly():
    """A SOF2 (progressive) frame must raise ValueError — the injected-PIL
    seam's contract — not mis-decode."""
    import struct as st

    import pytest as pt

    from engine.extended.jpegcodec import jpeg_decode, jpeg_encode

    enc = bytearray(jpeg_encode(bytes(64 * 3), 8, 8, 3))
    sof = enc.find(b"\xff\xc0")
    enc[sof + 1] = 0xC2  # rewrite marker to progressive
    with pt.raises(ValueError, match="non-baseline"):
        jpeg_decode(bytes(enc))


def test_mixed_image_corpus_real_decode(spark):
    """fake_image_corpus emits BOTH real PNGs and real baseline JPEGs; the
    default decode path recovers w*h*ch raw bytes for every row, and JPEG
    rows are actually present (the format a web corpus is made of)."""
    from engine.extended.multimodal import fake_image_corpus

    media = fake_image_corpus(_docs(spark))
    rows = media.collect()
    mimes = {r["media_id"]: r["mime"] for r in rows}
    assert "image/jpeg" in set(mimes.values())
    decoded = {r["media_id"]: r for r in decode_media(media).collect()}
    for r in rows:
        d = decoded[r["media_id"]]
        assert d["n_bytes"] == r["width"] * r["height"] * r["channels"], mimes[r["media_id"]]
        assert (d["width"], d["height"], d["channels"]) == (
            r["width"], r["height"], r["channels"]
        )


def test_png_nn_resize_is_a_real_resample(spark):
    """Resizing a PNG through the default path re-encodes a valid PNG of the
    target dimensions whose pixels are the nearest-neighbor sample."""
    from engine.extended.imagecodec import nn_resize_raw, png_decode, png_encode
    from engine.extended.multimodal import fake_png_corpus, resize_media

    pngs = fake_png_corpus(_docs(spark))
    src = {r["media_id"]: r for r in pngs.collect()}
    out = {r["media_id"]: r for r in resize_media(pngs, 8, 6).collect()}
    for mid, r in out.items():
        w, h, ch, pixels = png_decode(bytes(r["payload"]))
        assert (w, h) == (8, 6)
        sw, sh, sch, spix = png_decode(bytes(src[mid]["payload"]))
        assert ch == sch
        assert pixels == nn_resize_raw(spix, sw, sh, 8, 6, sch)


def test_jpeg_gif_header_parse():
    """Hand-built JPEG SOF0 / GIF headers parse to the right dimensions."""
    import struct as st

    from engine.extended.imagecodec import parse_header

    jpeg = (
        b"\xff\xd8"                                   # SOI
        + b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9  # APP0
        + b"\xff\xc0" + st.pack(">H", 17) + b"\x08" + st.pack(">HH", 240, 320)
        + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"            # SOF0
    )
    hdr = parse_header(jpeg)
    assert (hdr["format"], hdr["width"], hdr["height"], hdr["channels"]) == (
        "jpeg", 320, 240, 3
    )
    gif = b"GIF89a" + st.pack("<HH", 100, 50) + b"\x00\x00\x00"
    g = parse_header(gif)
    assert (g["format"], g["width"], g["height"]) == ("gif", 100, 50)
    assert parse_header(b"random bytes") is None


def test_minhash_incremental_against_corpus(spark):
    """Batch 2 docs that near-duplicate the indexed corpus are dropped
    WITHOUT recomputing corpus signatures; novel docs survive and extend
    the index for batch 3."""
    from engine.extended.dedup import minhash_band_index, minhash_incremental

    corpus = _docs(spark)  # ids 0-4
    index = minhash_band_index(corpus).persist()

    batch = spark.createDataFrame(
        [
            (100, BASE + " tiny change", "b2"),  # near-dup of corpus doc 0
            (101, "genuinely novel content about incremental dedup indexes "
                  "probing persisted band tables at corpus scale", "b2"),
            (102, "genuinely novel content about incremental dedup indexes "
                  "probing persisted band tables at corpus scale today", "b2"),  # near-dup of 101
        ],
        "doc_id long, text string, source string",
    )
    kept, updated = minhash_incremental(batch, index, threshold=0.5)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {101}  # 100 collides with corpus, 102 with 101

    # the updated index answers for the survivor in the next batch
    batch3 = spark.createDataFrame(
        [(200, "genuinely novel content about incremental dedup indexes "
               "probing persisted band tables at corpus scale", "b3")],
        "doc_id long, text string, source string",
    )
    kept3, _ = minhash_incremental(batch3, updated, threshold=0.5)
    assert kept3.count() == 0  # duplicate of newly indexed 101


def test_simhash_bucket_cap_bounds_degenerate_buckets(spark):
    # 40 identical docs collide in every 16-bit chunk; cap=5 bounds each
    # bucket to its 5 lowest ids, so pair count is O(cap^2), not O(n^2)
    rows = [(i, "the same boilerplate text repeated everywhere", "web") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = simhash_candidates(df, max_hamming=3, bucket_cap=5).collect()
    ids = {r["id_a"] for r in out} | {r["id_b"] for r in out}
    assert ids == {0, 1, 2, 3, 4}          # only the cap survivors pair
    assert len(out) == 10                  # C(5,2), not C(40,2)=780


def test_minhash_md5_mode_matches_xxhash_semantics(spark):
    # same candidate-pair CONTRACT under either hash family: the known
    # near-dup pair must surface with the same est_jaccard for identical docs
    cands = minhash_candidates(_docs(spark), num_hashes=64, bands=16, hash_fn="md5")
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands.collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert not any(2 in p for p in pairs)


def test_near_dup_groups_raises_on_non_convergence(spark):
    # a 5-hop chain cannot close in 2 iterations; partial components are a
    # silent wrong dedup, so the operator must raise, not return
    from engine.extended.dedup import near_dup_groups

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        near_dup_groups(chain, max_iterations=2)
    # and converges fine with the default cap
    out = {r["id"]: r["group_id"] for r in near_dup_groups(chain).collect()}
    assert set(out.values()) == {0}


def test_md5_long_bit_identical_to_duckdb(spark):
    """The dual-implementable hash primitive itself, pinned cross-engine on
    adversarial strings (unicode, quotes, empty, long, controls)."""
    import duckdb

    from engine.extended.dedup import md5_long

    strs = [
        "", " ", "hello world", "O'Hara \"Q\"", "İstanbul Straße",
        "🎉🚀", "a" * 500, "line1\nline2\ttab", "|pipe|salt|", "123-45-6789",
    ]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", md5_long(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for s in strs:
        expect = con.execute(
            "SELECT CAST(('0x' || SUBSTRING(MD5(?), 1, 15)) AS BIGINT)", [s]
        ).fetchone()[0]
        assert got[s] == expect, s

def test_near_dup_groups_pointer_doubling_long_chain(spark):
    """A 100-hop chain (diameter 99) is far beyond the default cap under
    plain one-hop propagation; pointer doubling closes it in O(log d)
    rounds, so the default max_iterations=20 converges easily."""
    from engine.extended.dedup import near_dup_groups

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "id_a long, id_b long"
    )
    out = {r["id"]: r["group_id"] for r in near_dup_groups(chain).collect()}
    assert len(out) == 101 and set(out.values()) == {0}
    # the loud failure survives: a cap too low to even detect convergence
    # still raises instead of shipping a partial closure
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        near_dup_groups(chain, max_iterations=2)


def test_span_dedup_rewrite_keeps_canonical_owner(spark):
    """A boilerplate span shared by three docs survives only in the lowest
    id; unique spans are untouched; a doc that is ALL boilerplate rewrites
    to ''."""
    from engine.extended.dedup import duplicate_span_stats, remove_duplicate_spans

    boiler = "terms of service apply to all users here"  # 8 tokens
    rows = [
        (0, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (1, boiler + " one two three four five six seven eight"),
        (2, boiler),
        (3, "totally unique text with no duplicated spans at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(df, span_tokens=8).collect()
    }
    assert got[0]["clean_text"].startswith(boiler)  # owner keeps its copy
    assert got[0]["n_dropped"] == 0
    assert got[1]["clean_text"] == "one two three four five six seven eight"
    assert got[1]["n_dropped"] == 1
    assert got[2]["clean_text"] == "" and got[2]["n_dropped"] == 1
    assert got[3]["n_dropped"] == 0

    stats = {
        r["doc_id"]: r for r in duplicate_span_stats(df, span_tokens=8).collect()
    }
    assert stats[2]["dup_fraction"] == 1.0
    assert stats[3]["dup_fraction"] == 0.0
    assert stats[0]["n_spans"] == 2 and stats[0]["n_dup_spans"] == 1


def test_global_order_partition_count_invariant(spark):
    """global_pos is a permutation of 0..n-1 and identical across
    repartitionings (the determinism shard_assign gives per shard, extended
    to an absolute global offset)."""
    from engine.extended.sampling import global_order

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["global_pos"] for r in global_order(df).collect()}
    b = {
        r["doc_id"]: r["global_pos"]
        for r in global_order(df.repartition(7)).collect()
    }
    assert a == b
    assert sorted(a.values()) == list(range(1000))


def test_bm25_orders_by_relevance(spark):
    """tf saturation + length norm: the short doc dense in the query term
    outranks a long one with equal tf; absent-term docs score 0."""
    from engine.extended.search import bm25_scores

    rows = [
        (0, "spark spark spark engine"),
        (1, "spark spark spark " + " ".join(["pad"] * 60)),
        (2, "nothing relevant in here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, ["spark"]).collect()}
    assert got[0] > got[1] > got[2] == 0.0


def test_line_dedup_rewrite_drops_boilerplate_everywhere(spark):
    """Line-wise boilerplate filter: a line shared by 2+ DISTINCT docs drops
    from ALL docs (no canonical owner); blank lines never match; CRLF folds
    onto LF via the \\r-stripping normalizer; a doc of pure boilerplate
    surfaces with clean_text = ''."""
    from engine.extended.dedup import line_dedup_rewrite

    docs = [
        (1, "unique alpha\nSign in\n\nbody one"),
        (2, "Sign in\r\nbody two"),        # CRLF variant of the same line
        (3, "  Sign in  \nbody three\nbody three"),  # padded variant; own dup line
        (4, "Sign in"),                    # pure boilerplate
        (5, ""),                           # empty text -> one empty line, kept
    ]
    out = {
        r["doc_id"]: r
        for r in line_dedup_rewrite(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    assert out[1]["clean_text"] == "unique alpha\n\nbody one"
    assert out[1]["n_lines"] == 4 and out[1]["n_dropped"] == 1
    assert out[2]["clean_text"] == "body two" and out[2]["n_dropped"] == 1
    # doc 3's repeated 'body three' is within ONE doc -> not boilerplate
    assert out[3]["clean_text"] == "body three\nbody three"
    assert out[4]["clean_text"] == "" and out[4]["n_dropped"] == 1
    assert out[5]["clean_text"] == "" and out[5]["n_lines"] == 1 and out[5]["n_dropped"] == 0


def test_line_dedup_incremental_combines_index_and_batch_counts(spark):
    """Index-only lines (footer in the corpus), batch-only dups (promo in
    two batch docs), and cross-boundary singles (one corpus + one batch
    occurrence) all reach min_docs=2 and drop; genuinely novel lines stay.
    The corpus never re-reads raw lines — only its (fp, n_docs) index."""
    from engine.extended.dedup import line_dedup_incremental, line_fp_index

    corpus = spark.createDataFrame(
        [(1, "footer\nold news"), (2, "footer\nboundary line")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "footer\npromo\nfresh alpha"),
            (11, "promo\nboundary line\nfresh beta"),
        ],
        "doc_id long, text string",
    )
    index = line_fp_index(corpus)
    out = {
        r["doc_id"]: r
        for r in line_dedup_incremental(batch, index, min_docs=2).collect()
    }
    # footer: index count 2 -> drops.  promo: batch count 2 -> drops.
    # boundary line: 1 (index) + 1 (batch) -> drops.  fresh lines stay.
    assert out[10]["clean_text"] == "fresh alpha" and out[10]["n_dropped"] == 2
    assert out[11]["clean_text"] == "fresh beta" and out[11]["n_dropped"] == 2

    # index merge contract: disjoint-id batches sum exactly
    from pyspark.sql import functions as F

    merged = (
        index.union(line_fp_index(batch))
        .groupBy("fp")
        .agg(F.sum("n_docs").alias("n_docs"))
    )
    out2 = {
        r["doc_id"]: r
        for r in line_dedup_incremental(
            spark.createDataFrame([(20, "fresh alpha\nnewest")], "doc_id long, text string"),
            merged,
            min_docs=2,
        ).collect()
    }
    # 'fresh alpha' is now in the merged index once + this batch once -> drops
    assert out2[20]["clean_text"] == "newest" and out2[20]["n_dropped"] == 1


# ---------------------------------------------------------------------------
# Feature-hashed document vectors (the model-free embedding bridge)
# ---------------------------------------------------------------------------


def test_hashed_doc_vectors_hand_computed(spark):
    import math

    from engine.extended.dedup import md5_long
    from engine.extended.text import hashed_doc_vectors
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    got = hashed_doc_vectors(d, dim=4).collect()
    assert len(got) == 1  # token-less docs drop
    vec = got[0]["vec"]
    # recompute buckets with the same hash family
    buckets = {
        r["t"]: r["b"]
        for r in spark.createDataFrame([("alpha",), ("beta",)], "t string")
        .select("t", F.pmod(md5_long(F.concat(F.lit("dv|"), F.col("t"))), F.lit(4)).alias("b"))
        .collect()
    }
    raw = [0, 0, 0, 0]
    raw[buckets["alpha"]] += 2
    raw[buckets["beta"]] += 1
    n = math.sqrt(sum(x * x for x in raw))
    assert vec == [round(x / n, 6) for x in raw]


def test_hashed_doc_vectors_drive_the_vector_stack(spark):
    """The bridge claim: raw text → hashed vectors → exact kNN join finds
    the near-duplicate document, no trained model anywhere."""
    from engine.extended.similarity import knn_join
    from engine.extended.text import hashed_doc_vectors

    d = spark.createDataFrame(
        [
            (1, "the cat sat on the mat near the door"),
            (2, "the cat sat on the mat near the door today"),  # near-dup of 1
            (3, "completely different text about spark engines and parquet"),
        ],
        "doc_id long, text string",
    )
    vecs = hashed_doc_vectors(d, dim=16)
    top = knn_join(
        vecs, vecs, k=1, id_col="doc_id", vec_col="vec"
    ).collect()
    nearest = {r["q_id"]: r["c_id"] for r in top}
    assert nearest[1] == 2 and nearest[2] == 1


def test_hashed_doc_vectors_validation(spark):
    import pytest

    from engine.extended.text import hashed_doc_vectors

    d = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="dim"):
        hashed_doc_vectors(d, dim=0)


# ---------------------------------------------------------------------------
# vocab_kl_by_group
# ---------------------------------------------------------------------------


def test_vocab_kl_outlier_source_scores_highest(spark):
    """A source speaking a disjoint vocabulary diverges more than two
    near-identical prose sources; identical sources sit near zero."""
    import math

    from engine.extended.text import vocab_kl_by_group

    prose = "the cat sat on the mat and the dog sat too"
    rows = (
        [(i, prose, "a") for i in range(5)]
        + [(10 + i, prose, "b") for i in range(5)]
        + [(20 + i, "zorp blee krunk zorp blee vex nim", "weird") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in vocab_kl_by_group(df).collect()}
    assert got["weird"]["kl"] > 2 * got["a"]["kl"]
    assert got["weird"]["kl"] > 2 * got["b"]["kl"]
    # a and b are identical corpora: equal divergence from the rest
    assert got["a"]["kl"] == got["b"]["kl"]
    assert got["a"]["n_tokens"] == 5 * len(prose.split())
    # hand-check one term of source 'weird': p/q for token 'zorp'
    n_s, n_g = 35, 145
    v = len({w for _, t, _ in rows for w in t.split()})
    p = (10 + 1) / (n_s + v)
    q = (10 - 10 + 1) / (n_g - n_s + v)
    assert p * math.log(p / q) > 0  # drift terms dominate positively


def test_readability_counts_hand_computed(spark):
    """'The cat sat. It ran!' -> 5 words, 2 sentences, 5 syllables;
    'strength' (no vowel groups beyond 'e') still counts >= 1 per word."""
    from engine.extended.text import readability_counts

    df = spark.createDataFrame(
        [(1, "The cat sat. It ran!"), (2, "strength myth")],
        "doc_id long, text string",
    )
    c = readability_counts("text")
    got = {
        r["doc_id"]: (r["w"], r["s"], r["y"])
        for r in df.select(
            "doc_id",
            c["n_words"].alias("w"),
            c["n_sentences"].alias("s"),
            c["n_syllables"].alias("y"),
        ).collect()
    }
    assert got[1] == (5, 2, 5)
    # 'strength': vowel group 'e' -> 1; 'myth': 'y' counts as vowel -> 1
    assert got[2] == (2, 1, 2)


def test_ledger_persist_keyed_no_interleaved_eviction(spark):
    """verdict r9 #8: the keyed ledger must (a) return the SAME cached frame
    for a repeated identical plan (multi-pass bench → one signature build
    per session) and (b) not evict an un-collected frame when a second,
    different dedup pipeline is built before the first is collected."""
    from engine.cache import _INTERNAL_SIGS_LAST, ledger_persist
    from engine.extended.dedup import minhash_sigs

    _INTERNAL_SIGS_LAST.clear()
    docs = _docs(spark)
    s1 = ledger_persist(minhash_sigs(docs))
    # repeat of the same plan: cache hit, same object, still persisted
    s1b = ledger_persist(minhash_sigs(docs))
    assert s1b is s1
    assert s1.storageLevel.useMemory
    # a DIFFERENT plan built before s1 is collected must not evict s1
    other = docs.filter(F.col("doc_id") < 3)
    s2 = ledger_persist(minhash_sigs(other))
    assert s2 is not s1
    assert s1.storageLevel.useMemory  # survived the interleaved build
    assert s2.storageLevel.useMemory
    assert s1.count() == 4 and s2.count() == 3  # doc 4 ("short"): no shingles
    # filling the ledger to its cap with distinct plans LRU-evicts the
    # stalest (s1) while the freshest entries stay pinned
    from engine.cache import _LEDGER_CAP

    fresh = [
        ledger_persist(minhash_sigs(docs.filter(F.col("doc_id") >= i)))
        for i in range(1, _LEDGER_CAP + 1)
    ]
    assert all(f.storageLevel.useMemory for f in fresh[-2:])
    assert not s1.storageLevel.useMemory  # bounded: cap, LRU out
    _INTERNAL_SIGS_LAST.clear()
    for f in (s2, *fresh):
        f.unpersist()


def test_ledger_clear_invalidates_and_unpersists(spark):
    """advice r10: ledger_clear must unpersist every cached frame and empty
    the ledger, so a caller that rewrote its corpus files gets a REBUILT
    frame (new object, fresh materialization) on the next ledger_persist of
    the same logical plan instead of the stale cached one."""
    from engine.cache import _INTERNAL_SIGS_LAST, ledger_clear, ledger_persist
    from engine.extended.dedup import minhash_sigs

    _INTERNAL_SIGS_LAST.clear()
    docs = _docs(spark)
    s1 = ledger_persist(minhash_sigs(docs))
    assert s1.storageLevel.useMemory
    ledger_clear()
    assert not _INTERNAL_SIGS_LAST
    assert not s1.storageLevel.useMemory  # released, not leaked
    s2 = ledger_persist(minhash_sigs(docs))
    assert s2 is not s1  # rebuilt, not served from the stale ledger
    assert s2.storageLevel.useMemory
    ledger_clear()
