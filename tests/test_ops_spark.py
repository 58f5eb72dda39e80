"""Training-data ops tests: dedup (exact/minhash-LSH/simhash/jaccard),
similarity (brute cosine + sign-LSH), text stats, multimodal plumbing."""

import math

import pyspark.sql.functions as F
import pytest

from pdfextractor_spark.ops.dedup import (
    exact_dedup,
    exact_dup_stats,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_dup_pairs,
)
from pdfextractor_spark.ops.multimodal import decode_media, sample_frames
from pdfextractor_spark.ops.similarity import cosine_topk, lsh_topk
from pdfextractor_spark.ops.textstats import (
    langid_confusion,
    with_fingerprint,
    with_lang_guess,
    with_quality,
    with_token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog", "en"),  # near dup
        (4, "el rapido zorro marron salta sobre el perro que es perezoso", "es"),
        (5, "completely different text about watershed management plans", "en"),
        (6, "The Quick Brown Fox Jumps Over The Lazy Dog!", "en"),  # case/punct variant
    ]
    return spark.createDataFrame(
        [(i, t, l, len(t)) for i, t, l in rows],
        "doc_id long, text string, lang string, n_chars long",
    ).cache()


def test_exact_dedup(docs):
    kept = exact_dedup(docs)
    assert kept.count() == 5  # doc 2 dropped
    assert kept.where("doc_id = 2").count() == 0  # min doc_id kept


def test_exact_dup_stats(docs):
    stats = {r["lang"]: r for r in exact_dup_stats(docs).collect()}
    assert stats["en"]["total_docs"] == 5
    assert stats["en"]["duplicate_docs"] == 1
    assert stats["es"]["duplicate_docs"] == 0


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    sigs = minhash_signatures(docs, num_hashes=32, shingle_k=3)
    assert sigs.count() == 6
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(sigs, num_bands=8).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert all(a < b for a, b in pairs)  # canonical ordering, no self-pairs


def test_ngram_jaccard_verification(docs):
    sigs = minhash_signatures(docs, num_hashes=32, shingle_k=3)
    cand = minhash_lsh_pairs(sigs, num_bands=8)
    verified = ngram_jaccard_pairs(docs, cand, n=3, threshold=0.9)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert rows.get((1, 2)) == 1.0  # exact dup -> jaccard 1


def test_simhash_near_dups(docs):
    hashed = simhash64(docs)
    assert hashed.count() == 6
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_dup_pairs(hashed, max_hamming=3, num_blocks=4).collect()}
    assert (1, 2) in pairs  # identical text -> hamming 0


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    out = cosine_topk(emb, emb.where("vec_id = 0"), k=3).collect()
    assert len(out) == 3
    # numpy brute-force reference
    q = vecs[0]
    cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    cos[0] = -2  # exclude self
    expect = list(np.argsort(np.round(-cos, 6), kind="stable")[:3])
    got = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [int(x) for x in expect]


def test_lsh_topk_returns_bucket_ranked(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(50, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(50)],
        "vec_id long, embedding array<float>, label int",
    )
    out = lsh_topk(emb, emb.where("vec_id < 2"), k=3, bits=4, num_tables=3).collect()
    assert out  # buckets non-empty
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        assert -1.0001 <= r["cosine"] <= 1.0001


def test_token_counts(docs):
    r = with_token_count(docs).where("doc_id = 1").first()
    assert r["ws_tokens"] == 9
    assert r["approx_bpe_tokens"] == math.ceil(len("the quick brown fox jumps over the lazy dog") / 4)


def test_quality_and_lang_guess(docs):
    q = with_quality(docs).where("doc_id = 1").first()
    assert 0.0 <= q["quality_score"] <= 1.0
    g = with_lang_guess(docs).collect()
    by = {r["doc_id"]: r["lang_guess"] for r in g}
    assert by[1] == "en"


def test_langid_confusion_shape(docs):
    rows = langid_confusion(docs).collect()
    assert sum(r["docs"] for r in rows) == 6


def test_fingerprint_case_punct_invariant(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(docs).collect()}
    assert fp[1] == fp[2]  # exact dups share fingerprint
    assert fp[1] == fp[6]  # case/punctuation variant collapses too
    assert fp[1] != fp[5]


def test_multimodal_decode_real_and_stubbed(spark):
    import numpy as np

    from pdfextractor_spark.ops.multimodal import decode_bmp, make_bmp, make_wav

    px = np.zeros((20, 30, 3), dtype=np.uint8)
    px[:, :, 0] = 255  # pure red
    bmp = make_bmp(px)
    # decoder round-trips the generator exactly
    w, h, rgb = decode_bmp(bmp)
    assert (w, h) == (30, 20) and (rgb == px).all()
    t = np.arange(8000) / 8000.0
    wav = make_wav(np.sin(2 * np.pi * 440 * t), framerate=8000)  # 1s of A440
    media = spark.createDataFrame(
        [(1, "image", bytearray(bmp), "image/bmp"),
         (2, "audio", bytearray(wav), "audio/wav"),
         (3, "video", bytearray(b"\x00\x01\x02\x03"), "video/mp4"),
         (4, "image", bytearray(b""), "image/png")],
        "media_id long, kind string, payload binary, mime string",
    )
    out = decode_media(media, num_partitions=2).collect()
    by = {r["media_id"]: r for r in out}
    # REAL image decode: dimensions + mean-red feature
    assert (by[1]["width"], by[1]["height"]) == (30, 20)
    assert by[1]["feature"][0] == 1.0 and by[1]["feature"][1] == 0.0  # R=1, G=0
    assert by[1]["error"] is None
    # REAL audio decode: duration + RMS of a sine ~ 1/sqrt(2)
    assert abs(by[2]["duration_sec"] - 1.0) < 1e-6
    assert abs(by[2]["feature"][0] - 0.7071) < 0.01
    assert by[2]["error"] is None
    # compressed/unknown codecs: honest stub boundary -> per-row error
    assert by[3]["error"] is not None and "codec" in by[3]["error"]
    assert by[4]["error"] is not None  # empty payload -> error row, no crash

    frames = sample_frames(media.where("kind = 'video'"), every_nth=10)
    assert frames.columns  # plumbing exists; schema stable


def test_png_gif_codecs_roundtrip(spark):
    """PNG round-trips exactly; GIF round-trips to the fixed web-palette
    quantization; both decode through the Spark media pipeline."""
    import numpy as np

    from pdfextractor_spark.ops.multimodal import (
        _web_palette, decode_gif, decode_png, make_gif, make_png,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (13, 21, 3)).astype(np.uint8)
    w, h, rgb = decode_png(make_png(px))
    assert (w, h) == (21, 13) and np.array_equal(rgb, px)
    pal = _web_palette()
    q = (px.astype(np.int32) + 25) // 51
    expect = pal[q[:, :, 0] * 36 + q[:, :, 1] * 6 + q[:, :, 2]]
    w2, h2, rgb2 = decode_gif(make_gif(px))
    assert (w2, h2) == (21, 13) and np.array_equal(rgb2, expect)

    media = spark.createDataFrame(
        [(1, "image", bytearray(make_png(px)), "image/png"),
         (2, "image", bytearray(make_gif(px)), "image/gif")],
        "media_id long, kind string, payload binary, mime string",
    )
    out = {r["media_id"]: r for r in decode_media(media, num_partitions=2).collect()}
    for mid in (1, 2):
        assert out[mid]["error"] is None
        assert (out[mid]["width"], out[mid]["height"]) == (21, 13)
        assert len(out[mid]["feature"]) == 8


def test_jpeg_codec_baseline(spark):
    """Baseline JPEG: encode->decode round-trip within lossy tolerance
    (PSNR) across 4:4:4 / 4:2:0 / restart intervals; decodes through the
    Spark media pipeline; a mangled SOF2 marker on a baseline stream is a
    per-row decode error, not a crash."""
    import numpy as np

    from pdfextractor_spark.ops.jpeg import decode_jpeg, make_jpeg

    yy, xx = np.mgrid[0:21, 0:33]
    px = np.stack([(xx * 255 // 32), (yy * 255 // 20), np.full((21, 33), 70)],
                  axis=2).astype(np.uint8)

    def psnr(a, b):
        mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
        return 99.0 if mse == 0 else 10 * np.log10(255 * 255 / mse)

    for sub, ri, floor in (("444", 0, 40), ("420", 0, 30), ("444", 3, 40), ("420", 3, 30)):
        w, h, dec = decode_jpeg(make_jpeg(px, 90, subsampling=sub, restart_interval=ri))
        assert (w, h) == (33, 21)
        assert psnr(px, dec) > floor, (sub, ri)

    # a baseline stream whose SOF marker is corrupted to SOF2 is NOT valid
    # progressive (interleaved full-band scan): decode error, no crash
    prog = make_jpeg(px)
    prog = prog.replace(b"\xff\xc0", b"\xff\xc2", 1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_jpeg(prog)

    media = spark.createDataFrame(
        [(1, "image", bytearray(make_jpeg(px, 90)), "image/jpeg")],
        "media_id long, kind string, payload binary, mime string",
    )
    (row,) = decode_media(media, num_partitions=1).collect()
    assert row["error"] is None and (row["width"], row["height"]) == (33, 21)
    assert len(row["feature"]) == 8


def test_jpeg_progressive_exact_vs_baseline(spark):
    """Progressive (SOF2) decode: a fully refined progressive file (DC
    first+refine, split spectral bands, AC first at Al=1 + refinement to
    Al=0, cross-block EOB runs) uses the same quantization as the baseline
    twin, so reconstruction must be pixel-IDENTICAL to the baseline file —
    a self-verifying gate on every progressive code path."""
    import numpy as np

    from pdfextractor_spark.ops.jpeg import decode_jpeg, make_jpeg, make_jpeg_progressive

    rng = np.random.RandomState(3)
    cases = []
    yy, xx = np.mgrid[0:21, 0:33]
    cases.append((np.stack([(xx * 255 // 32), (yy * 255 // 20),
                            ((xx + yy) % 256)], axis=2).astype(np.uint8), 90))
    cases.append((rng.randint(0, 256, (24, 31, 3)).astype(np.uint8), 85))  # dense AC/ZRL
    cases.append((np.full((32, 48, 3), 130, np.uint8), 90))  # multi-block EOB runs
    for px, q in cases:
        bw_, bh_, base = decode_jpeg(make_jpeg(px, q))
        pw_, ph_, prog = decode_jpeg(make_jpeg_progressive(px, q))
        assert (bw_, bh_) == (pw_, ph_)
        assert np.array_equal(base, prog)

    # and through the Spark media pipeline
    px, q = cases[0]
    media = spark.createDataFrame(
        [(1, "image", bytearray(make_jpeg_progressive(px, q)), "image/jpeg")],
        "media_id long, kind string, payload binary, mime string",
    )
    (row,) = decode_media(media, num_partitions=1).collect()
    assert row["error"] is None and (row["width"], row["height"]) == (33, 21)


def test_av_container_metadata_parse(spark):
    """MP3 frame-header walk and MP4 box walk recover real duration /
    dims / rates from minimal valid containers; truncated containers
    surface as per-row errors through the Spark media pipeline."""
    from pdfextractor_spark.ops.containers import make_mp3, make_mp4, parse_mp3, parse_mp4

    mp3 = make_mp3(50, bitrate_idx=9, rate_idx=1, id3=True, vbr=True)
    m = parse_mp3(mp3)
    assert m["n_frames"] == 50 and m["sample_rate"] == 48000 and m["vbr"]
    assert abs(m["duration_sec"] - 50 * 1152 / 48000) < 1e-9

    mp4 = make_mp4(1280, 720, 90.5, timescale=600, n_tracks=2)
    v = parse_mp4(mp4)
    assert (v["width"], v["height"], v["n_tracks"]) == (1280, 720, 2)
    assert abs(v["duration_sec"] - 90.5) < 1 / 600 + 1e-9
    assert v["brand"] == "mp42"

    media = spark.createDataFrame(
        [(1, "audio", bytearray(mp3), "audio/mpeg"),
         (2, "video", bytearray(mp4), "video/mp4"),
         (3, "video", bytearray(b"\x00\x00\x00\x18ftypmp42" + b"\x07" * 16), "video/mp4"),
         (4, "audio", bytearray(mp3[:3]), "audio/mpeg")],
        "media_id long, kind string, payload binary, mime string",
    )
    out = {r["media_id"]: r for r in decode_media(media, num_partitions=2).collect()}
    assert out[1]["error"] is None and abs(out[1]["duration_sec"] - 1.2) < 0.01
    assert out[2]["error"] is None
    assert (out[2]["width"], out[2]["height"]) == (1280, 720)
    assert abs(out[2]["duration_sec"] - 90.5) < 0.01
    assert len(out[1]["feature"]) == 8 and len(out[2]["feature"]) == 8
    # truncated MP4 (no moov) and truncated MP3: per-row errors, no crash
    assert out[3]["error"] is not None
    assert out[4]["error"] is not None


def test_mp4_frame_sample_extraction(spark):
    """MP4 sample tables (stsd/stts/stsc/stsz/stco) map every frame to its
    exact byte slice; every-nth frame sampling decodes REAL pixels for
    MJPEG tracks and real PCM for audio tracks; compressed bitstream
    codecs (avc1) surface per-frame error rows."""
    import numpy as np

    from pdfextractor_spark.ops.containers import (
        make_mp4_media, mp4_extract_samples, mp4_sample_tables,
    )
    from pdfextractor_spark.ops.jpeg import decode_jpeg, make_jpeg
    from pdfextractor_spark.ops.multimodal import (
        _image_features, sample_frames, thumbnail,
    )

    frames_px = []
    for i in range(7):
        yy, xx = np.mgrid[0:24, 0:32]
        px = np.stack([np.full((24, 32), 30 * i), xx * 8, yy * 10],
                      axis=2).astype(np.uint8)
        frames_px.append(px)
    jpegs = [make_jpeg(px) for px in frames_px]
    mp4 = make_mp4_media(jpegs, codec=b"jpeg", handler=b"vide", width=32,
                         height=24, timescale=600, sample_delta=60,
                         samples_per_chunk=3)

    (tr,) = mp4_sample_tables(mp4)
    assert tr["codec"] == "jpeg" and tr["handler"] == "vide"
    assert (tr["width"], tr["height"]) == (32, 24)
    assert tr["sizes"] == [len(j) for j in jpegs]
    # byte-exact frame extraction across the 3-samples-per-chunk layout
    samples = mp4_extract_samples(mp4, tr)
    assert [s["data"] for s in samples] == jpegs
    assert abs(samples[3]["pts_sec"] - 0.3) < 1e-9

    # PCM ('sowt') audio track: one addressable sample holding raw s16le
    t = np.arange(4000) / 8000.0
    pcm = (np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2").tobytes()
    mp4_pcm = make_mp4_media([pcm], codec=b"sowt", handler=b"soun",
                             timescale=8000, sample_delta=4000,
                             channels=1, sample_rate=8000)
    (atr,) = mp4_sample_tables(mp4_pcm)
    assert atr["codec"] == "sowt" and atr["channels"] == 1
    assert atr["sample_rate"] == 8000
    assert mp4_extract_samples(mp4_pcm, atr)[0]["data"] == pcm

    # avc1: addressable but bitstream decode stays stubbed (per-frame rows)
    mp4_avc = make_mp4_media([b"\x01\x02" * 50] * 4, codec=b"avc1",
                             handler=b"vide", width=64, height=48)

    media = spark.createDataFrame(
        [(1, "video", bytearray(mp4), "video/mp4"),
         (2, "video", bytearray(mp4_pcm), "video/mp4"),
         (3, "video", bytearray(mp4_avc), "video/mp4"),
         (4, "video", bytearray(b"\x00\x00\x00\x18ftypmp42" + b"\x07" * 16),
          "video/mp4")],
        "media_id long, kind string, payload binary, mime string",
    )
    rows = sample_frames(media, every_nth=2, num_partitions=2).collect()
    by = {}
    for r in rows:
        by.setdefault(r["media_id"], []).append(r)
    # MJPEG: frames 0,2,4,6 decode to the SAME features as decoding the
    # standalone JPEG bytes (pixel-path cross-check)
    mj = sorted(by[1], key=lambda r: r["frame_no"])
    assert [r["frame_no"] for r in mj] == [0, 2, 4, 6]
    for r in mj:
        assert r["error"] is None and (r["width"], r["height"]) == (32, 24)
        _w, _h, rgb = decode_jpeg(jpegs[r["frame_no"]])
        assert r["feature"] == _image_features(thumbnail(rgb))
        assert abs(r["pts_sec"] - r["frame_no"] * 0.1) < 1e-9
    # PCM: real spectral features (RMS of a sine ~ 1/sqrt(2))
    (pa,) = by[2]
    assert pa["error"] is None and abs(pa["feature"][0] - 0.7071) < 0.01
    # avc1: honest per-frame stub rows
    assert all(r["error"] is not None and "avc1" in r["error"] for r in by[3])
    assert [r["frame_no"] for r in sorted(by[3], key=lambda r: r["frame_no"])] == [0, 2]
    # header-only container: single error row, no crash
    assert len(by[4]) == 1 and by[4][0]["error"] is not None

    # decode_media now reports first-frame PIXEL features for MJPEG MP4s
    from pdfextractor_spark.ops.multimodal import decode_media

    out = {r["media_id"]: r
           for r in decode_media(media, num_partitions=2).collect()}
    _w, _h, rgb0 = decode_jpeg(jpegs[0])
    assert out[1]["feature"] == _image_features(thumbnail(rgb0))
    assert (out[1]["width"], out[1]["height"]) == (32, 24)
    assert out[2]["error"] is None and abs(out[2]["feature"][0] - 0.7071) < 0.01
    # avc1/header-only containers keep the container-level parse (no error)
    assert out[3]["error"] is None and out[3]["width"] == 64


def test_connected_components_and_near_dedup(spark, docs):
    from pdfextractor_spark.ops.dedup import connected_components, near_dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 4)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}
    all_docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(12)], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in near_dedup(all_docs, pairs).collect())
    # one representative (min id) per component; untouched ids pass through
    assert kept == [0, 1, 5, 7, 8, 11]


def test_minhash_to_cluster_dedup_end_to_end(spark, docs):
    from pdfextractor_spark.ops.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        near_dedup,
        ngram_jaccard_pairs,
    )

    sigs = minhash_signatures(docs, num_hashes=32, shingle_k=3)
    cand = minhash_lsh_pairs(sigs, num_bands=8)
    verified = ngram_jaccard_pairs(docs, cand, n=3, threshold=0.9).select("id_a", "id_b")
    kept = near_dedup(docs, verified)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 1 in ids and 2 not in ids  # exact dup cluster keeps min id


def test_ivf_topk_beats_probed_fraction(spark):
    """IVF recall must exceed the probed corpus fraction — i.e. the coarse
    quantizer concentrates true neighbors into probed buckets better than
    random bucketing would. (The synthetic embeddings plant pairwise
    neighbors (top-5 cosine ~0.33 vs ~0.0 corpus average) that do NOT align
    with label clusters, so recall here is structurally bounded; at
    nprobe/num_centroids = 0.4 the measured recall is ~0.7.)"""
    from pdfextractor_spark.ops.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.where("vec_id < 10")
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, qs, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_topk(emb, qs, k=5, num_centroids=10, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall@5 {recall} should beat probed fraction 0.4 with margin"


def test_ivf_output_contract(spark):
    from pdfextractor_spark.ops.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = ivf_topk(emb, emb.where("vec_id < 3"), k=5, num_centroids=8, nprobe=8)
    rows = out.collect()
    # nprobe == num_centroids probes everything -> exhaustive, so exactly k
    # ranked rows per query, ranks 1..k, no self matches
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_lsh_signature_plan_scales_to_real_dims(spark):
    """The sign-LSH signature must stay a single vectorized-UDF node: at
    dim=512 / 16 bits / 8 tables the old literal expression tree took
    minutes to plan; analysis must now complete in about a second."""
    import time

    from pyspark.sql import functions as F

    from pdfextractor_spark.ops.similarity import _signature_udf, _hyperplanes

    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(512)),
                    lambda i: (i % 7).cast("double") - 3.0).alias("embedding"),
    )
    t0 = time.perf_counter()
    sig = _signature_udf(_hyperplanes(512, 16, 8))
    out = df.withColumn("sig", sig(F.col("embedding")))
    out.schema  # forces analysis
    assert time.perf_counter() - t0 < 5.0
    rows = out.collect()
    assert all(len(r["sig"]) == 8 for r in rows)
    assert all(0 <= s < (1 << 16) for r in rows for s in r["sig"])
    # deterministic across runs
    assert rows == out.collect()


def test_ivf_prebuilt_index_reused_and_df_centroid_path(spark, sf_dir):
    from pdfextractor_spark.ops.similarity import cosine_topk, ivf_build, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index = ivf_build(emb, num_centroids=8, max_iter=3)
    queries = emb.where("vec_id < 3")
    a = ivf_topk(None, queries, k=3, nprobe=8, index=index)
    # nprobe == num_centroids probes EVERY bucket -> results equal the
    # exact brute-force top-k
    exact = cosine_topk(emb, queries, k=3)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in exact.collect()]
    # centroid-DataFrame path (>64 centroids) returns well-formed top-k too
    big_index = ivf_build(emb, num_centroids=80, max_iter=2)
    b = ivf_topk(None, queries, k=3, nprobe=80, index=big_index)
    assert [tuple(r) for r in b.collect()] == [tuple(r) for r in exact.collect()]


def test_char_lm_perplexity_discriminates_and_broadcasts(spark, sf_dir):
    from pdfextractor_spark.ops.lm import score_perplexity, train_char_lm
    from tests.plan_audit import join_strategies

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = train_char_lm(docs.where("doc_id % 2 = 0"))
    # English-like held-out text must score lower perplexity than garble
    probe = spark.createDataFrame(
        [(1, "the watershed management plan describes the water quality goals"),
         (2, "zqxj vkw qqzzx jxq wvvk zzq xjq qzx wkv jxz qqq")],
        "doc_id long, text string",
    )
    s = {r["id"]: r["perplexity"] for r in score_perplexity(probe, model).collect()}
    assert s[1] < s[2], s
    # model side broadcast: scoring is map-side until the per-doc agg
    plan = join_strategies(score_perplexity(probe, model))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" in plan


def test_lang_guess_broad_coverage(spark):
    """The 15-language marker table identifies one native sentence per
    language; ties/unknowns resolve deterministically."""
    from pdfextractor_spark.ops.textstats import with_lang_guess

    samples = {
        "en": "the plan and the schedule of work to follow",
        "es": "el informe describe la cuenca de agua que vigilamos",
        "fr": "le rapport décrit la rivière et les mesures prises",
        "zh": "这份报告的内容是关于流域在今年的治理",
        "ar": "ورد في التقرير أن العمل من المقرر على الانتهاء",
        "de": "der Bericht ist fertig und die Arbeit ist gut",
        "it": "il rapporto che descrive di tutto per il bacino",
        "ja": "この報告書の内容は流域に関する対策を示す",
        "ko": "이 보고서의 내용은 유역을 관리하는 방안이다",
        "nl": "het rapport is een overzicht van de maatregelen niet meer",
        "pl": "raport nie jest gotowy ale się zbliża do końca",
        "pt": "o relatório que descreve uma bacia com os dados",
        "ru": "отчет готов и работа не завершена на этой неделе что важно",
        "sv": "rapporten är klar och att arbetet det går som planerat",
        "tr": "bu rapor bir havza için ve yönetim planı hakkında",
    }
    df = spark.createDataFrame(list(samples.items()), "lang string, text string")
    got = {r["lang"]: r["lang_guess"] for r in with_lang_guess(df).collect()}
    assert got == {k: k for k in samples}
    und = with_lang_guess(
        spark.createDataFrame([("x", "zzz qqq 12345")], "lang string, text string")
    ).first()["lang_guess"]
    assert und == "und"


def test_fingerprint_keeps_non_latin_scripts(spark):
    """Distinct CJK/Arabic/Cyrillic documents sharing the same Latin
    residue must NOT share a fingerprint (the ASCII-only keep-class
    collapsed them; round-5 fix), while true case/punct variants of the
    same non-Latin text still collide."""
    from pdfextractor_spark.ops.textstats import with_fingerprint

    docs = spark.createDataFrame(
        [(1, "这是一个中文句子 shared tail"),
         (2, "これは日本語の文です shared tail"),
         (3, "نص عربي مختلف shared tail"),
         (4, "Это русский текст shared tail"),
         (5, "这是一个中文句子, SHARED   tail!"),  # punct/case variant of 1
         (6, "shared tail")],
        "doc_id long, text string")
    fp = {r["doc_id"]: r["fingerprint"]
          for r in with_fingerprint(docs).collect()}
    assert len({fp[1], fp[2], fp[3], fp[4], fp[6]}) == 5  # all distinct
    assert fp[5] == fp[1]  # normalization still folds case/punct


def test_ccnet_buckets_modes_agree_and_plan(spark, sf_dir):
    """CCNet per-language perplexity terciles: the approx (cutoff) mode
    and the exact (ntile) oracle twin assign identical buckets on the
    test corpus; approx plans with NO per-language data window (the
    skew-free 100 TB shape); unscorable docs carry null buckets."""
    from pdfextractor_spark.ops.lm import ccnet_buckets, train_char_lm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = train_char_lm(docs.where("doc_id % 2 = 0"))
    held = docs.where("doc_id % 2 = 1")
    a = {r["doc_id"]: r["ppl_bucket"] for r in
         ccnet_buckets(held, model, mode="approx").collect()}
    e = {r["doc_id"]: r["ppl_bucket"] for r in
         ccnet_buckets(held, model, mode="exact").collect()}
    assert a == e and len(a) > 50
    # terciles: per-lang bucket sizes within 1 of each other
    from collections import Counter
    per = Counter()
    langs = {r["doc_id"]: r["lang"] for r in held.collect()}
    for d, b in e.items():
        per[(langs[d], b)] += 1
    for lang in set(langs.values()):
        sizes = [per[(lang, b)] for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
    # a too-short doc: null bucket, row not lost
    tiny = spark.createDataFrame([(999999, "en", "ab")],
                                 "doc_id long, lang string, text string")
    out = ccnet_buckets(held.unionByName(tiny, allowMissingColumns=True)
                        .select("doc_id", "lang", "text"), model,
                        mode="approx").where("doc_id = 999999").collect()
    assert len(out) == 1 and out[0]["ppl_bucket"] is None
    # approx plan: the only Window-free path (cutoffs are a broadcast)
    plan = ccnet_buckets(held, model, mode="approx") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_ccnet_buckets_null_lang_and_mode_guard(spark):
    """Null-lang docs form their own bucket group in BOTH modes (the
    cutoff join is null-safe); unknown mode strings fail fast."""
    import pytest

    from pdfextractor_spark.ops.lm import ccnet_buckets, train_char_lm

    # tie-free perplexities (per-doc unique text): the modes are equal
    # only up to boundary ties, per the documented cutoff-vs-rank rule
    rows = [(i, None if i % 2 else "en",
             " ".join(f"w{j}x{i}" for j in range(20 + i % 11)))
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    model = train_char_lm(docs)
    a = {r["doc_id"]: r["ppl_bucket"] for r in
         ccnet_buckets(docs, model, mode="approx").collect()}
    e = {r["doc_id"]: r["ppl_bucket"] for r in
         ccnet_buckets(docs, model, mode="exact").collect()}
    null_docs = [i for i in range(60) if i % 2]
    # null-lang group terciles in both modes — never all-'tail'
    assert {a[i] for i in null_docs} == {"head", "middle", "tail"}
    assert a == e
    with pytest.raises(ValueError):
        ccnet_buckets(docs, model, mode="Exact")
