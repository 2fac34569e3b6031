"""Regressions: drift_between on duplicate/overlapping batch lists,
pq_adc_topk geometry derived from a caller-supplied index (the
compaction-retry cases are pinned on the segment protocol in
test_segment_store.py), the pure PPM/BMP/WAV real-decode paths, and the
oracle/registry hygiene."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import docs_slice, load_embeddings, sorted_rows


# ---------------------------------------------------------------------------
# drift_between: duplicate / overlapping batch lists
# ---------------------------------------------------------------------------


def _drift_store(spark, tmp_path):
    from kda_flink_demo_spark.streaming.standing_stores import update_drift_store

    docs = docs_slice(spark, 180)
    store = str(tmp_path / "drift")
    dims = {"lang": F.col("lang"), "source": F.col("source")}
    for bid in range(4):
        update_drift_store(docs.filter(F.col("doc_id") % 4 == bid), bid, store, dims)
    return store


def test_drift_between_dedupes_repeated_batch_ids(spark, tmp_path):
    """A batch id repeated within a list must not read its profile twice and
    inflate that side's counts."""
    from kda_flink_demo_spark.streaming.standing_stores import drift_between

    store = _drift_store(spark, tmp_path)
    clean = sorted_rows(drift_between(spark, store, [0, 1], [2, 3]))
    duped = sorted_rows(drift_between(spark, store, [0, 1, 0, 1], [3, 2, 3]))
    assert duped == clean


def test_drift_between_rejects_old_new_overlap(spark, tmp_path):
    from kda_flink_demo_spark.streaming.standing_stores import drift_between

    store = _drift_store(spark, tmp_path)
    with pytest.raises(ValueError, match="both"):
        drift_between(spark, store, [0, 1], [1, 2])


# ---------------------------------------------------------------------------
# pq_adc_topk: geometry derived from a supplied index
# ---------------------------------------------------------------------------


def test_pq_adc_topk_derives_geometry_from_supplied_index(spark):
    """An index built with m=4/subdim=16 passed to a call whose own params
    say m=8/subdim=8 must rank with the INDEX's geometry (identical to the
    matching-parameter call), not silently misalign the (sub, code) join."""
    from kda_flink_demo_spark.operators.llm.similarity import (
        build_pq_index,
        pq_adc_topk,
    )

    emb = load_embeddings(spark)
    idx = build_pq_index(emb, m=4, subdim=16, codebook_k=8)
    want = sorted_rows(
        pq_adc_topk(emb, [0, 1], k=5, m=4, subdim=16, codebook_k=8, index=idx)
    )
    got = sorted_rows(
        pq_adc_topk(emb, [0, 1], k=5, m=8, subdim=8, codebook_k=16, index=idx)
    )
    assert got == want


def test_pq_adc_topk_rejects_empty_codebook(spark):
    from kda_flink_demo_spark.operators.llm.similarity import (
        build_pq_index,
        pq_adc_topk,
    )

    emb = load_embeddings(spark)
    nv, codes, codebook = build_pq_index(emb, m=4, subdim=16, codebook_k=8)
    empty = (nv, codes, codebook.filter(F.lit(False)))
    with pytest.raises(ValueError, match="empty codebook"):
        pq_adc_topk(emb, [0], k=5, index=empty)


# ---------------------------------------------------------------------------
# Multimodal REAL decode: the pure PPM/BMP/WAV codecs make
# real_decode=True actually execute in this container — one green test per
# modality, with the honest NotImplementedError gate still covered in
# test_edge_parity.py::test_real_decode_requires_pil_or_runs.
# ---------------------------------------------------------------------------


def _ppm_bytes(w, h, pixels):
    """pixels: list of (r, g, b) rows-major."""
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(v for px in pixels for v in px)


def _bmp24_bytes(w, h, pixels):
    """Uncompressed bottom-up 24-bit BMP; pixels rows-major top-down RGB."""
    import struct

    row_stride = (w * 3 + 3) & ~3
    data = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(w):
            r, g, b = pixels[y * w + x]
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (row_stride - len(row))
        data += row
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return bytes(header + info + data)


def _wav_bytes(rate, frames, amplitude):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(struct.pack(f"<{frames}h", *([amplitude] * frames)))
    return buf.getvalue()


def test_real_image_decode_ppm_and_bmp(spark):
    from kda_flink_demo_spark.operators.llm import multimodal

    px = [(255, 0, 0), (0, 255, 0), (0, 0, 255),
          (255, 255, 255), (0, 0, 0), (128, 128, 128)]
    ppm = _ppm_bytes(3, 2, px)
    bmp = _bmp24_bytes(3, 2, px)
    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(bmp))], "doc_id long, payload binary"
    )
    out = {r.doc_id: r for r in
           multimodal.decode_image_features(df, real_decode=True).collect()}
    # integer ITU-R 601-2 luma: (299R+587G+114B)//1000 per pixel, then mean
    lumas = [(299 * r + 587 * g + 114 * b) // 1000 for r, g, b in px]
    import math
    want_bright = math.floor(sum(lumas) / len(lumas) * 1e4 + 0.5) / 1e4
    for doc_id, nb in ((1, len(ppm)), (2, len(bmp))):
        r = out[doc_id]
        assert (r.width, r.height, r.channels) == (3, 2, 3)
        assert r.brightness == want_bright  # both containers, same pixels
        assert r.n_bytes == nb


def test_ppm_crlf_header_decodes_identically():
    """A CRLF separator after maxval (Windows netpbm writers) must count as
    ONE separator — the naive 'one whitespace byte' rule shifts the raster a
    byte and silently corrupts every pixel."""
    import numpy as np

    from kda_flink_demo_spark.operators.llm import imaging

    px = [(9, 8, 7), (6, 5, 4), (3, 2, 1), (255, 0, 128), (1, 2, 3), (4, 5, 6)]
    raster = bytes(v for p in px for v in p)
    unix = b"P6\n3 2\n255\n" + raster
    crlf = b"P6\r\n3 2\r\n255\r\n" + raster
    w1, h1, c1, a1 = imaging.decode_image(unix)
    w2, h2, c2, a2 = imaging.decode_image(crlf)
    assert (w1, h1, c1) == (w2, h2, c2) == (3, 2, 3)
    assert np.array_equal(a1, a2)


def test_ppm_lone_cr_with_0x0a_first_pixel_disambiguated_by_length():
    """The nastier cousin of the CRLF case: a lone-CR separator whose FIRST
    raster byte is 0x0A spells b'\\r\\n' at the boundary too — the raster
    LENGTH must disambiguate."""
    import numpy as np

    from kda_flink_demo_spark.operators.llm import imaging

    px = [(10, 8, 7), (6, 5, 4), (3, 2, 1), (255, 0, 128), (1, 2, 3), (4, 5, 6)]
    raster = bytes(v for p in px for v in p)
    assert raster[0] == 10  # the ambiguous byte
    lone_cr = b"P6\r3 2\r255\r" + raster          # exact length → 1-byte sep
    crlf = b"P6\r\n3 2\r\n255\r\n" + raster        # exact length → 2-byte sep
    for blob in (lone_cr, crlf):
        w, h, c, a = imaging.decode_image(blob)
        assert (w, h, c) == (3, 2, 3)
        assert np.array_equal(a.reshape(-1, 3), np.array(px, dtype=np.uint8))


def test_real_audio_decode_wav(spark):
    from kda_flink_demo_spark.operators.llm import multimodal

    wav = _wav_bytes(8000, 4000, 16384)  # constant 0.5 amplitude
    df = spark.createDataFrame([(7, bytearray(wav))], "doc_id long, payload binary")
    r = multimodal.decode_audio_features(df, real_decode=True).collect()[0]
    assert r.sample_rate == 8000
    assert r.n_samples == 4000
    assert r.duration_sec == 0.5
    assert r.rms == 0.5  # 16384/32768 exactly


def test_real_resize_nearest_known_pixels(spark):
    import hashlib

    from kda_flink_demo_spark.operators.llm import multimodal

    # 4x4 quadrant image: nearest floor mapping to 2x2 picks rows/cols 0 and 2
    # — the top-left pixel of each 2x2 quadrant
    quad = {(0, 0): (255, 0, 0), (0, 1): (0, 255, 0),
            (1, 0): (0, 0, 255), (1, 1): (255, 255, 0)}
    px = [quad[(y // 2, x // 2)] for y in range(4) for x in range(4)]
    src = _ppm_bytes(4, 4, px)
    want_out = _ppm_bytes(2, 2, [quad[(0, 0)], quad[(0, 1)],
                                 quad[(1, 0)], quad[(1, 1)]])
    df = spark.createDataFrame([(3, bytearray(src))], "doc_id long, payload binary")
    r = multimodal.resize_images(df, target_w=2, target_h=2, real_decode=True).collect()[0]
    assert (r.in_w, r.in_h, r.out_w, r.out_h) == (4, 4, 2, 2)
    assert r.n_bytes_out == len(want_out)
    assert r.out_md5 == hashlib.md5(want_out.hex().encode()).hexdigest()


def _wav_envelope(seed, scale=1.0, jitter=0):
    """6400-frame 16-bit WAV whose loud/quiet 100-frame windows follow a
    seed-derived bit pattern — a deterministic 'clip' with a distinctive
    energy envelope. `scale` rescales volume; `jitter` perturbs that many
    window amplitudes slightly."""
    import io
    import struct
    import wave

    amps = []
    for w in range(64):
        loud = ((w * 37 + seed * 11) % 97) > 48
        a = 12000 if loud else 800
        if jitter and w % (64 // jitter) == 0:
            a = int(a * 1.15)
        amps.append(int(a * scale))
    frames = []
    for a in amps:
        frames.extend([a, -a] * 50)  # 100 frames per window
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack(f"<{len(frames)}h", *frames))
    return buf.getvalue()


def test_audio_fingerprint_volume_invariant_and_discriminative(spark):
    from kda_flink_demo_spark.operators.llm.image_dedup import (
        audio_ahash,
        audio_near_dup_pairs,
    )

    rows = [
        (0, bytearray(_wav_envelope(seed=1))),
        (1, bytearray(_wav_envelope(seed=1, scale=0.5))),   # re-encode, -6 dB
        (2, bytearray(_wav_envelope(seed=1, jitter=4))),    # light noise
        (10, bytearray(_wav_envelope(seed=2))),             # different clip
        (11, bytearray(_wav_envelope(seed=3))),             # different clip
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    h = {r.doc_id: r.ahash for r in audio_ahash(df).collect()}
    assert h[0] == h[1]  # energy ratios survive volume scaling exactly
    pairs = {(r.id_a, r.id_b) for r in audio_near_dup_pairs(df, max_hamming=5).collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= pairs  # the clip family collides
    assert all((a < 10) == (b < 10) for a, b in pairs)  # no cross-clip pair
    # partitioning-invariant
    h2 = {r.doc_id: r.ahash for r in audio_ahash(df.repartition(3)).collect()}
    assert h2 == h


# ---------------------------------------------------------------------------
# Registry hygiene: helpers out of the driver surface
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Perceptual image dedup (aHash + quarter blocking over REAL decoded pixels)
# ---------------------------------------------------------------------------


def _gradient_img(w, h, seed, flips=0):
    """Deterministic pseudo-image with high-contrast structure; `flips`
    inverts that many pixels — a small perceptual perturbation."""
    px = []
    for y in range(h):
        for x in range(w):
            v = 255 if ((x * 7 + y * 13 + seed * 31) % 97) > 48 else 0
            px.append((v, v, v))
    for i in range(flips):
        j = (i * 53 + seed) % len(px)
        v = 255 - px[j][0]
        px[j] = (v, v, v)
    return _ppm_bytes(w, h, px)


def test_image_ahash_is_deterministic_and_structural(spark):
    from kda_flink_demo_spark.operators.llm.image_dedup import image_ahash

    imgs = [(i, bytearray(_gradient_img(16, 16, seed=i))) for i in range(4)]
    df = spark.createDataFrame(imgs, "doc_id long, payload binary")
    h1 = {r.doc_id: r.ahash for r in image_ahash(df).collect()}
    h2 = {r.doc_id: r.ahash for r in image_ahash(df.repartition(3)).collect()}
    assert h1 == h2  # partitioning-invariant
    assert len(set(h1.values())) == 4  # distinct structures → distinct hashes


def test_image_near_dup_pairs_finds_perturbed_copies_only(spark):
    from kda_flink_demo_spark.operators.llm.image_dedup import image_near_dup_pairs

    rows = []
    # three distinct base images, each with one lightly-perturbed copy
    for i in range(3):
        rows.append((i * 10, bytearray(_gradient_img(16, 16, seed=i))))
        rows.append((i * 10 + 1, bytearray(_gradient_img(16, 16, seed=i, flips=2))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    pairs = {(r.id_a, r.id_b) for r in image_near_dup_pairs(df, max_hamming=5).collect()}
    assert {(0, 1), (10, 11), (20, 21)} <= pairs  # every copy found
    # no cross-base pair survives the hamming verify
    assert all(a // 10 == b // 10 for a, b in pairs)


def test_image_dedup_probe_and_standing_index(spark, tmp_path):
    """The incremental-ingest image gate: batch 1's near-dup of a batch-0
    image is dropped against the standing index, its within-batch dup pair
    keeps only the first, genuinely new images survive — and a checkpoint
    REPLAY of batch 1 rewrites identical survivors (idempotent)."""
    from kda_flink_demo_spark.streaming.standing_stores import (
        read_ahash_index,
        update_ahash_index_store,
    )

    store = str(tmp_path / "ahash_idx")
    sink = str(tmp_path / "clean")

    def img_df(rows):
        return spark.createDataFrame(
            [(i, bytearray(b)) for i, b in rows], "doc_id long, payload binary"
        )

    batch0 = img_df([(0, _gradient_img(16, 16, seed=0)),
                     (1, _gradient_img(16, 16, seed=1))])
    update_ahash_index_store(batch0, 0, store, sink)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=0").collect()} == {0, 1}

    batch1 = img_df([
        (10, _gradient_img(16, 16, seed=0, flips=2)),   # near-dup of doc 0 → drop
        (11, _gradient_img(16, 16, seed=7)),            # new → keep
        (12, _gradient_img(16, 16, seed=7, flips=2)),   # near-dup of 11 IN-batch → drop
    ])
    update_ahash_index_store(batch1, 1, store, sink)
    survivors = {r.doc_id for r in spark.read.parquet(f"{sink}/batch=1").collect()}
    assert survivors == {11}
    # the index records EVERYTHING seen (dropped near-dups still gate later)
    assert {r.doc_id for r in read_ahash_index(spark, store).collect()} == {0, 1, 10, 11, 12}

    # checkpoint replay of batch 1: same survivors, same index
    update_ahash_index_store(batch1, 1, store, sink)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=1").collect()} == {11}
    # a later re-crawl of the DROPPED near-dup still gates (hash 12 is indexed)
    batch2 = img_df([(20, _gradient_img(16, 16, seed=7, flips=2))])
    update_ahash_index_store(batch2, 2, store, sink)
    assert spark.read.parquet(f"{sink}/batch=2").count() == 0


def test_registry_has_no_oracle_less_queries():
    """Every driver queries() row must carry an oracle — the oracle-less
    library entries (embedding_pca, dedup_simhash) are helpers now, so the
    driver's CORRECTNESS file can never book a permanent no_oracle row."""
    from kda_flink_demo_spark import registry

    qs, os_, hs = registry.queries(), registry.oracle_sql(), registry.helpers()
    assert set(qs) == set(os_)
    assert {"embedding_pca", "dedup_simhash"} <= set(hs)
    assert not (set(hs) & set(qs))
