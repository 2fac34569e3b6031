"""The driver-checkable perceptual dedup corpus
(synth_media design invariants, hash == designed pattern, backend-invariant
hashing incl. the fake-PIL branch), the pure RIFF/AVI video decoder, and the
vectorized packbits hash stage."""

from __future__ import annotations

import sys
import types

import numpy as np
import pytest

from kda_flink_demo_spark.operators.llm import imaging, synth_media
from kda_flink_demo_spark.operators.llm.image_dedup import (
    _canonical_8x8_gray,
    audio_ahash,
    image_ahash,
)
from tests.conftest import drain, rgb_frames, signed64, write_replay


# ---------------------------------------------------------------------------
# Corpus design invariants (pure python — these are the oracle's premises)
# ---------------------------------------------------------------------------


def test_codeword_separation():
    for words in (synth_media.IMAGE_CODEWORDS, synth_media.AUDIO_CODEWORDS):
        assert len(words) == 20
        for i, a in enumerate(words):
            for b in words[i + 1 :]:
                assert bin(a ^ b).count("1") >= 24


def test_image_pattern_hamming_is_exactly_variant_distance():
    # same group: |v_a - v_b|; doc 60+ saturates at v=3
    for g in range(20):
        ids = [g, g + 20, g + 40, g + 60, g + 80]
        pats = [synth_media.image_pattern(d) for d in ids]
        vs = [0, 1, 2, 3, 3]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                assert bin(pats[i] ^ pats[j]).count("1") == abs(vs[i] - vs[j])


def test_audio_pattern_flips_preserve_popcount_and_quarters():
    for g in range(20):
        base = synth_media.AUDIO_CODEWORDS[g]
        for v_doc, v in ((g, 0), (g + 20, 1), (g + 40, 2), (g + 60, 3)):
            w = synth_media.audio_pattern(v_doc)
            assert bin(w).count("1") == 32  # median threshold premise
            diff = w ^ base
            assert bin(diff).count("1") == 2 * v
            # step j touches only quarter j → ≥ 1 quarter identical for any
            # two variants (exact quarter-blocking recall at max_hamming=6)
            for q in range(4):
                qdiff = (diff >> (16 * q)) & 0xFFFF
                assert bin(qdiff).count("1") == (2 if q < v else 0)


# ---------------------------------------------------------------------------
# Hash == designed pattern through the REAL pipeline (Spark)
# ---------------------------------------------------------------------------


def test_image_hash_equals_design_and_ignores_brightness(spark):
    # docs 0..99 cover every group × variants 0–4 (brightness offsets differ
    # between e.g. doc 60 and doc 80 while the pattern saturates at v=3)
    docs = spark.range(100).withColumnRenamed("id", "doc_id")
    got = {r.doc_id: r.ahash for r in image_ahash(synth_media.synth_images(docs)).collect()}
    assert got == {d: signed64(synth_media.image_pattern(d)) for d in range(100)}
    # brightness invariance, explicitly: docs 60 and 80 share group+pattern
    # (v saturated) but have different brightness offsets → identical hash
    assert got[60] == got[80]
    img60 = synth_media.synth_images(docs).filter("doc_id = 60").collect()[0].payload
    img80 = synth_media.synth_images(docs).filter("doc_id = 80").collect()[0].payload
    assert bytes(img60) != bytes(img80)  # the bytes really do differ


def test_audio_hash_equals_design_and_ignores_volume(spark):
    docs = spark.range(100).withColumnRenamed("id", "doc_id")
    got = {r.doc_id: r.ahash for r in audio_ahash(synth_media.synth_wavs(docs)).collect()}
    assert got == {d: signed64(synth_media.audio_pattern(d)) for d in range(100)}
    assert got[60] == got[80]  # same pattern, volume factors differ
    wav60 = synth_media.synth_wavs(docs).filter("doc_id = 60").collect()[0].payload
    wav80 = synth_media.synth_wavs(docs).filter("doc_id = 80").collect()[0].payload
    assert bytes(wav60) != bytes(wav80)


def test_image_hash_pinned_value(spark):
    """Doc 0 is codeword 0 verbatim — a packbits/bit-order regression canary."""
    docs = spark.range(1).withColumnRenamed("id", "doc_id")
    (row,) = image_ahash(synth_media.synth_images(docs)).collect()
    assert row.ahash == signed64(0x076BF32C166E97E2)
    (arow,) = audio_ahash(synth_media.synth_wavs(docs)).collect()
    assert arow.ahash == signed64(0x48C33F405F6C4B2F)


# ---------------------------------------------------------------------------
# Backend-invariant hashing: the PIL decode branch (fake-PIL shim)
# ---------------------------------------------------------------------------


class _FakePILImage:
    """Minimal PIL.Image stand-in backed by the pure codec: open/convert/
    __array__ — enough to execute image_dedup's PIL decode branch."""

    def __init__(self, px: np.ndarray):
        self._px = px

    def convert(self, mode: str) -> "_FakePILImage":
        assert mode == "RGB"
        if self._px.shape[2] == 1:
            return _FakePILImage(np.repeat(self._px, 3, axis=2))
        return self

    def __array__(self, dtype=None, copy=None):
        a = self._px if dtype is None else self._px.astype(dtype)
        return np.array(a) if copy else a


def test_canonical_gray_pil_branch_bit_equal(monkeypatch):
    """A payload the pure codec rejects routes through PIL (decode ONLY) and
    must produce the bit-identical canonical 8×8 gray — a mixed-backend
    index would otherwise be poisoned; executed in CI via a fake PIL."""
    # build a real PPM, then wrap it in a fake container the pure codec rejects
    lvl = np.where(
        synth_media._bits_msb(synth_media.image_pattern(3)).reshape(8, 8) == 1, 210, 45
    )
    big = np.repeat(np.repeat(lvl, 2, axis=0), 2, axis=1).astype(np.uint8)
    ppm_bytes = imaging.encode_ppm(big[:, :, None])
    fake_bytes = b"\x89FAKEPNG" + ppm_bytes

    def fake_open(fp):
        data = fp.read()
        assert data.startswith(b"\x89FAKEPNG")
        _w, _h, c, px = imaging.decode_image(data[len(b"\x89FAKEPNG") :])
        return _FakePILImage(px if c == 3 else np.repeat(px, 3, axis=2))

    fake_image_mod = types.SimpleNamespace(open=fake_open)
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    via_pil = _canonical_8x8_gray(fake_bytes)
    via_pure = _canonical_8x8_gray(ppm_bytes)
    assert np.array_equal(via_pil, via_pure)  # bit-equal across backends


def test_canonical_gray_gate_stands_without_pil(monkeypatch):
    monkeypatch.setitem(sys.modules, "PIL", None)  # import raises
    with pytest.raises(NotImplementedError):
        _canonical_8x8_gray(b"\x89PNG not decodable")


class _FakePILFull:
    """Fuller PIL.Image shim (open/width/height/getbands/convert('L')/
    getdata/resize/save) backed by the pure codec + PIL's documented
    truncating ITU-R 601-2 luma — executes multimodal's PIL feature/resize
    tiers in CI without the dependency."""

    def __init__(self, px: np.ndarray):
        self._px = px

    @property
    def width(self):
        return self._px.shape[1]

    @property
    def height(self):
        return self._px.shape[0]

    def getbands(self):
        return ("R", "G", "B") if self._px.shape[2] == 3 else ("L",)

    def convert(self, mode):
        assert mode == "L"
        px = self._px.astype(np.int64)
        luma = (
            px[:, :, 0]
            if px.shape[2] == 1
            else (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]) // 1000
        )
        return _FakePILFull(luma.astype(np.uint8)[:, :, None])

    def getdata(self):
        return [int(v) for v in self._px[:, :, 0].flatten()]

    def resize(self, size):
        return _FakePILFull(imaging.resize_nearest(self._px, size[0], size[1]))

    def save(self, buf, format=None):
        assert format == "PNG"
        buf.write(b"\x89FAKEPNG" + imaging.encode_ppm(self._px))


def _install_fake_pil(monkeypatch, opener):
    import types as _types

    fake_image_mod = _types.SimpleNamespace(open=opener)
    fake_pil = _types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)


def test_multimodal_pil_tiers_match_pure_backend(monkeypatch):
    """The PIL feature/resize tiers (module-level helpers) produce
    the same geometry + bit-identical brightness as the pure backend on a
    shared format — executed via the fake PIL, so the PIL-present branches
    run in CI."""
    from kda_flink_demo_spark.operators.llm.multimodal import (
        _image_features_pil,
        _image_features_pure,
        _resize_payload_pil,
        _resize_payload_pure,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, (10, 14, 3), dtype=np.uint8)
    ppm = imaging.encode_ppm(px)

    def opener(fp):
        _w, _h, c, decoded = imaging.decode_image(fp.read())
        return _FakePILFull(decoded if c == 3 else np.repeat(decoded, 3, axis=2))

    _install_fake_pil(monkeypatch, opener)

    assert _image_features_pil(ppm) == _image_features_pure(ppm)

    w_pil, h_pil, out_pil = _resize_payload_pil(ppm, 4, 4)
    w_pure, h_pure, out_pure = _resize_payload_pure(ppm, 4, 4)
    assert (w_pil, h_pil) == (w_pure, h_pure) == (14, 10)
    # payload containers are backend-specific by design (PNG vs PPM); the
    # resized PIXELS under the fake's nearest resize must agree exactly
    assert out_pil.startswith(b"\x89FAKEPNG")
    assert out_pil[len(b"\x89FAKEPNG") :] == out_pure


# ---------------------------------------------------------------------------
# Pure RIFF/AVI video decode (the last real-decode modality)
# ---------------------------------------------------------------------------


def test_avi_roundtrip_pixel_exact():
    frames = rgb_frames(7)
    b = imaging.encode_avi(frames, fps=25)
    w, h, fps, out = imaging.decode_avi(b)
    assert (w, h, fps, len(out)) == (6, 4, 25.0, 7)
    for a, c in zip(frames, out):
        assert np.array_equal(a, c)


def test_avi_roundtrip_property():
    """Property: encode_avi∘decode_avi is the identity on pixels for ANY
    geometry (odd widths exercise the 4-byte row padding) and frame count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=21),
        h=st.integers(min_value=1, max_value=14),
        n=st.integers(min_value=1, max_value=5),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(w, h, n, seed):
        rng = np.random.RandomState(seed)
        frames = [rng.randint(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(n)]
        got_w, got_h, fps, out = imaging.decode_avi(imaging.encode_avi(frames, fps=10))
        assert (got_w, got_h, fps, len(out)) == (w, h, 10.0, n)
        for a, c in zip(frames, out):
            assert np.array_equal(a, c)

    check()


def test_avi_honest_gates():
    with pytest.raises(NotImplementedError, match="pyav/ffmpeg"):
        imaging.decode_avi(b"\x00\x00\x00\x00 not riff")
    # a compressed stream (non-zero biCompression) must refuse, not garble
    frames = rgb_frames(2)
    b = bytearray(imaging.encode_avi(frames, fps=10))
    strf_off = bytes(b).index(b"strf") + 8
    b[strf_off + 16 : strf_off + 20] = (1).to_bytes(4, "little")  # BI_RLE8
    with pytest.raises(NotImplementedError, match="compressed AVI"):
        imaging.decode_avi(bytes(b))


def test_sample_video_frames_real_decode(spark):
    """real_decode=True over genuine AVI payloads: stride sampling over the
    ACTUAL frame count, scores pixel-exact against the per-frame luma."""
    import math

    from kda_flink_demo_spark.operators.llm.multimodal import sample_video_frames

    payloads = []
    all_frames = {}
    for doc_id, n in ((0, 7), (1, 12)):
        frames = rgb_frames(n, seed=doc_id)
        all_frames[doc_id] = frames
        payloads.append((doc_id, bytearray(imaging.encode_avi(frames, fps=10))))
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        (r.doc_id, r.frame_idx): r.frame_score
        for r in sample_video_frames(df, stride=5, real_decode=True).collect()
    }
    expected = {}
    for doc_id, frames in all_frames.items():
        for i in range(0, len(frames), 5):
            expected[(doc_id, i)] = (
                math.floor(imaging.grayscale_mean(frames[i]) / 255.0 * 1e4 + 0.5) / 1e4
            )
    assert got == expected


def test_edges_give_identical_components_to_full_pairs(spark):
    """hash_near_dup_edges is connectivity-equivalent to the quadratic pair
    graph: connected components (and so canonical selection) are identical,
    on a corpus mixing exact dups, chained near-dups, and singletons."""
    from pyspark.sql import functions as F

    from kda_flink_demo_spark.operators.llm.clustering import connected_components
    from kda_flink_demo_spark.operators.llm.image_dedup import (
        hash_near_dup_edges,
        hash_near_dup_pairs,
    )

    rows = []
    # groups of exact dups + hamming-chained variants + diverse singletons
    for d in range(120):
        rows.append((d, signed64(synth_media.image_pattern(d))))
    for d in range(120, 160):
        rows.append((d, signed64((0xDEADBEEF << 13) * (d * 2 + 1) & ((1 << 64) - 1))))
    hashes = spark.createDataFrame(rows, "doc_id long, ahash long")

    pairs = hash_near_dup_pairs(hashes, max_hamming=3).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    edges = hash_near_dup_edges(hashes, max_hamming=3)
    comp_pairs = {
        (r.node, r.component) for r in connected_components(pairs).collect()
    }
    comp_edges = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }
    assert comp_pairs == comp_edges
    assert len(comp_pairs) == 120  # every grouped doc labeled, singletons absent
    # edge list is linear-sized: stars (120 − 80 distinct... here: per-hash
    # n−1) + one edge per distinct-hash pair — far below the pair count
    assert edges.count() < pairs.count()


def test_audio_standing_gate_replay_idempotent(spark, tmp_path):
    """The standing perceptual gate generalized to audio (hasher=audio_ahash):
    index near-dups drop, within-batch keeps the first, replay rewrites
    identical survivors, and a re-crawl of a DROPPED clip still gates."""
    from kda_flink_demo_spark.streaming.standing_stores import (
        read_ahash_index,
        update_ahash_index_store,
    )

    store = str(tmp_path / "audio_idx")
    sink = str(tmp_path / "clean")

    def wav_df(ids):
        base = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        return synth_media.synth_wavs(base)

    update_ahash_index_store(wav_df([0, 1]), 0, store, sink, max_hamming=6, hasher=audio_ahash)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=0").collect()} == {0, 1}

    # 20 = group 0 variant 1 (ham 2 vs indexed doc 0 → drop); 7 = new group
    # (keep); 27 = group 7 variant 1 (ham 2 vs in-batch doc 7 → drop)
    update_ahash_index_store(wav_df([20, 7, 27]), 1, store, sink, max_hamming=6, hasher=audio_ahash)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=1").collect()} == {7}
    assert {r.doc_id for r in read_ahash_index(spark, store).collect()} == {0, 1, 20, 7, 27}

    # replay of batch 1: identical survivors (idempotent)
    update_ahash_index_store(wav_df([20, 7, 27]), 1, store, sink, max_hamming=6, hasher=audio_ahash)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=1").collect()} == {7}
    # 47 = group 7 variant 2: ham 2 vs the DROPPED-but-indexed 27 → still gates
    update_ahash_index_store(wav_df([47]), 2, store, sink, max_hamming=6, hasher=audio_ahash)
    assert spark.read.parquet(f"{sink}/batch=2").count() == 0


def test_video_vhash_equals_design_despite_corrupt_frames(spark):
    """The video fingerprint is the MAJORITY of per-frame aHash bits, so the
    designed corpus's minority of inverted frames (bit-flipped, < half) must
    not move it: vhash == image_pattern(doc_id) exactly, for every doc."""
    from kda_flink_demo_spark.operators.llm.image_dedup import video_ahash

    docs = spark.range(120).withColumnRenamed("id", "doc_id")
    got = {
        r.doc_id: r.ahash
        for r in video_ahash(synth_media.synth_pattern_videos(docs)).collect()
    }
    assert got == {d: signed64(synth_media.image_pattern(d)) for d in range(120)}


def test_video_vhash_majority_is_load_bearing(spark):
    """A mean/any-frame implementation would fail this: two clean frames +
    one fully inverted frame still fingerprint as the clean pattern, and a
    video that is MOSTLY the inverted pattern fingerprints as the inversion."""
    from kda_flink_demo_spark.operators.llm.image_dedup import video_ahash

    bits = synth_media._bits_msb(synth_media.image_pattern(5)).reshape(8, 8)

    def frame(b):
        lvl = np.where(b == 1, 210, 45)
        big = np.repeat(np.repeat(lvl, 2, axis=0), 2, axis=1).astype(np.uint8)
        return np.repeat(big[:, :, None], 3, axis=2)

    clean, inverted = frame(bits), frame(1 - bits)
    rows = [
        (0, bytearray(imaging.encode_avi([clean, clean, inverted], fps=10))),
        (1, bytearray(imaging.encode_avi([inverted, clean, inverted], fps=10))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.ahash for r in video_ahash(df).collect()}
    pattern = synth_media.image_pattern(5)
    assert got[0] == signed64(pattern)
    assert got[1] == signed64(pattern ^ ((1 << 64) - 1))


def test_sniff_quarantines_corrupt_and_unknown(spark):
    """The mixed-format scan's quarantine contract: unrecognized magic →
    'unknown'; recognized-but-undecodable (truncated PPM header, compressed
    AVI stream) → 'corrupt'; neither kills the scan, and healthy rows around
    them still decode."""
    from kda_flink_demo_spark.operators.llm.multimodal import sniff_media_features

    good_img = imaging.encode_ppm(np.full((4, 4, 3), 100, dtype=np.uint8))
    bad_ppm = b"P6 trunca"  # valid magic, truncated header
    avi = bytearray(imaging.encode_avi(rgb_frames(2), fps=10))
    strf_off = bytes(avi).index(b"strf") + 8
    avi[strf_off + 16 : strf_off + 20] = (1).to_bytes(4, "little")  # compressed
    rows = [
        (0, bytearray(good_img)),
        (1, bytearray(bad_ppm)),
        (2, bytearray(bytes(avi))),
        (3, bytearray(b"#just some text")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in sniff_media_features(df).collect()}
    assert got[0].modality == "image" and got[0].width == 4
    assert got[1].modality == "corrupt" and got[1].width is None
    assert got[2].modality == "corrupt"
    assert got[3].modality == "unknown" and got[3].n_bytes == 15


def test_image_gate_real_stream_matches_batch(spark, tmp_path):
    """Drive the image ingest gate through a REAL readStream + foreachBatch +
    checkpoint (not direct fold calls): the union of the cleaned micro-batch
    partitions must equal the one-shot batch gate over everything replayed —
    here, exactly one canonical image per group (the replay's first)."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.io.sources import file_events_stream
    from kda_flink_demo_spark.operators.llm.image_dedup import image_dedup_probe
    from kda_flink_demo_spark.streaming.standing_stores import update_ahash_index_store

    def imgs(lo, hi):
        ids = spark.createDataFrame([(i,) for i in range(lo, hi)], "doc_id long")
        return synth_media.synth_images(ids)

    replay = write_replay(
        str(tmp_path / "replay"), [imgs(lo, hi) for lo, hi in ((0, 40), (40, 80), (80, 120))]
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    store, sink_dir = str(tmp_path / "idx"), str(tmp_path / "clean")
    drain(
        file_events_stream(spark, replay, schema),
        lambda df, bid: update_ahash_index_store(df, bid, store, sink_dir),
        str(tmp_path / "ckpt"),
    )

    streamed = {r.doc_id for r in spark.read.parquet(sink_dir).collect()}
    one_shot = {
        r.doc_id for r in image_dedup_probe(imgs(0, 120), None, max_hamming=5).collect()
    }
    assert streamed == one_shot == set(range(20))  # one canonical per group


def test_video_standing_gate(spark, tmp_path):
    """The standing gate with hasher=video_ahash — the third modality through
    the identical store machinery: an index near-dup drops, a new group
    survives, an in-batch near-dup keeps the first."""
    from kda_flink_demo_spark.operators.llm.image_dedup import video_ahash
    from kda_flink_demo_spark.streaming.standing_stores import update_ahash_index_store

    def vids(ids):
        base = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        return synth_media.synth_pattern_videos(base)

    store, sink = str(tmp_path / "vidx"), str(tmp_path / "clean")
    update_ahash_index_store(vids([0, 1]), 0, store, sink, hasher=video_ahash)
    # 20 = group 0 variant 1 (ham 1 vs indexed doc 0 → drop); 7 new → keep;
    # 27 = group 7 variant 1 (ham 1 vs in-batch doc 7 → drop)
    update_ahash_index_store(vids([20, 7, 27]), 1, store, sink, hasher=video_ahash)
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=1").collect()} == {7}


def _img_batch(spark, ids):
    base = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    return synth_media.synth_images(base)


def test_ahash_index_compaction_readout_and_gate_identical(spark, tmp_path):
    """Explicit compaction folds every covered segment into one DISTINCT
    (doc_id, ahash) segment: the index set — and therefore every later gate
    decision — is identical before and after, and the segment count drops."""
    import os

    from kda_flink_demo_spark.streaming.standing_stores import (
        compact_ahash_index_store,
        read_ahash_index,
        update_ahash_index_store,
    )

    store, sink = str(tmp_path / "idx"), str(tmp_path / "clean")
    update_ahash_index_store(_img_batch(spark, range(0, 10)), 0, store, sink)
    update_ahash_index_store(_img_batch(spark, range(25, 30)), 1, store, sink)
    update_ahash_index_store(_img_batch(spark, range(45, 50)), 2, store, sink)
    before = {(r.doc_id, r.ahash) for r in read_ahash_index(spark, store).collect()}

    compact_ahash_index_store(spark, store, upto_batch=1)
    after = {(r.doc_id, r.ahash) for r in read_ahash_index(spark, store).collect()}
    assert after == before
    segs = sorted(n for n in os.listdir(store) if n.startswith("seg="))
    assert segs == ["seg=1", "seg=2"]  # 0+1 folded into seg=1

    # a later fold still gates against compacted history: doc 20 is group 0
    # variant 1 — hamming 1 from doc 0, which now lives only in the cseg-swap
    update_ahash_index_store(_img_batch(spark, [20, 13]), 3, store, sink)
    survivors = {r.doc_id for r in spark.read.parquet(f"{sink}/batch=3").collect()}
    assert survivors == {13}


def test_ahash_index_auto_compaction_bounds_segments_replay_safe(spark, tmp_path):
    """compact_every auto-folds trailing segments during the batch fold; the
    index stays exact and a REPLAY of the newest batch (the only one
    Structured Streaming can replay) is still idempotent afterwards."""
    import os

    from kda_flink_demo_spark.streaming.standing_stores import (
        read_ahash_index,
        update_ahash_index_store,
    )

    store, sink = str(tmp_path / "idx"), str(tmp_path / "clean")
    batches = [list(range(i * 7, i * 7 + 3)) for i in range(5)]
    for bid, ids in enumerate(batches):
        update_ahash_index_store(
            _img_batch(spark, ids), bid, store, sink, compact_every=2
        )
    segs = sorted(n for n in os.listdir(store) if n.startswith("seg="))
    assert len(segs) <= 3  # bounded, not one per batch
    idx = {r.doc_id for r in read_ahash_index(spark, store).collect()}
    assert idx == {i for ids in batches for i in ids}

    # replay the newest batch after its predecessors were compacted
    update_ahash_index_store(_img_batch(spark, batches[-1]), 4, store, sink, compact_every=2)
    idx2 = {r.doc_id for r in read_ahash_index(spark, store).collect()}
    assert idx2 == idx
    assert {r.doc_id for r in spark.read.parquet(f"{sink}/batch=4").collect()} == {
        r.doc_id for r in spark.read.parquet(f"{sink}/batch=4").collect()
    }


def test_ahash_index_mid_compaction_shadow_read_exact(spark, tmp_path):
    """Crash window between cseg commit and covered-seg deletion: a committed
    cseg SHADOWS the covered segments, so the read never double-counts; the
    next compact call converges the swap. (The full crash matrix is pinned on
    the shared protocol by the CMS tests — this pins the ahash reader.)"""
    import os
    import shutil

    from kda_flink_demo_spark.streaming.standing_stores import (
        compact_ahash_index_store,
        read_ahash_index,
        update_ahash_index_store,
    )
    from kda_flink_demo_spark.streaming.store import cseg_dir as _cseg_dir

    store, sink = str(tmp_path / "idx"), str(tmp_path / "clean")
    update_ahash_index_store(_img_batch(spark, range(0, 6)), 0, store, sink)
    update_ahash_index_store(_img_batch(spark, range(30, 36)), 1, store, sink)
    update_ahash_index_store(_img_batch(spark, range(60, 66)), 2, store, sink)
    before = {(r.doc_id, r.ahash) for r in read_ahash_index(spark, store).collect()}

    # hand-commit cseg=1 (covers 0..1) as if compaction crashed after step 1
    spark.read.parquet(f"{store}/seg=0", f"{store}/seg=1").select(
        "doc_id", "ahash"
    ).distinct().write.parquet(_cseg_dir(store, 1))
    assert {(r.doc_id, r.ahash) for r in read_ahash_index(spark, store).collect()} == before
    # ...and after the covered segs are gone (crash mid step 2)
    shutil.rmtree(os.path.join(store, "seg=0"))
    assert {(r.doc_id, r.ahash) for r in read_ahash_index(spark, store).collect()} == before

    compact_ahash_index_store(spark, store, upto_batch=1)  # converges the swap
    assert {(r.doc_id, r.ahash) for r in read_ahash_index(spark, store).collect()} == before
    assert sorted(n for n in os.listdir(store) if n.startswith("seg=")) == ["seg=1", "seg=2"]
    assert not os.path.exists(_cseg_dir(store, 1))


def test_span_index_compaction_readout_and_gate_identical(spark, tmp_path):
    """Span-index compaction (the third store on the shared cseg protocol):
    hash-set readout and the span gate's survivors are identical before and
    after, and re-crawled spans still gate against compacted history."""
    import os

    from pyspark.sql import functions as F

    from kda_flink_demo_spark.io.sources import load_table
    from kda_flink_demo_spark.streaming.standing_stores import (
        compact_span_index_store,
        read_span_index,
        update_span_index_store,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    store, sink = str(tmp_path / "sidx"), str(tmp_path / "clean")
    for bid, (lo, hi) in enumerate(((0, 30), (30, 60), (60, 90))):
        update_span_index_store(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            bid, store, sink, span=5,
        )
    before = {r.h for r in read_span_index(spark, store).collect()}

    compact_span_index_store(spark, store, upto_batch=1)
    assert {r.h for r in read_span_index(spark, store).collect()} == before
    assert sorted(n for n in os.listdir(store) if n.startswith("seg=")) == ["seg=1", "seg=2"]

    # a re-crawl of batch-0 docs (ids shifted) still gates on compacted spans
    recrawl = docs.filter(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    update_span_index_store(recrawl, 3, store, sink, span=5)
    cleaned = spark.read.parquet(f"{sink}/batch=3")
    # every re-crawled doc's spans are already indexed → fully span-cleaned
    from kda_flink_demo_spark.operators.llm.dedup import span_dedup_probe

    expected = span_dedup_probe(recrawl, read_span_index(spark, store, exclude_batch=3), span=5)
    got = sorted((r.doc_id, r.cleaned_text, r.n_removed) for r in cleaned.collect())
    want = sorted((r.doc_id, r.cleaned_text, r.n_removed) for r in expected.collect())
    assert got == want
    # and the gate really bit: every re-crawled doc lost all its spans
    assert all(t == "" for _, t, _ in got) and len(got) == 30


def test_blocked_pair_and_gate_match_bruteforce_property(spark):
    """Property (randomized, seeded): on arbitrary (doc_id, ahash) tables —
    duplicate-heavy by construction — the quarter-blocked pair graph at
    hamming ≤ 3 equals the brute-force O(n²) reference EXACTLY (pigeonhole
    recall regime), and the gate's survivors equal the brute-force
    keep-first rule. Catches any blocking/collapse/expansion defect the
    designed corpus might be too regular to expose."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from kda_flink_demo_spark.operators.llm.image_dedup import (
        hash_near_dup_pairs,
        image_dedup_probe,
    )

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        base = [rng.getrandbits(64) for _ in range(12)]
        rows = []
        for i in range(80):
            w = base[rng.randrange(len(base))]
            for _ in range(rng.randrange(4)):  # 0-3 random bit flips
                w ^= 1 << rng.randrange(64)
            rows.append((i, w - (1 << 64) if w >= 1 << 63 else w))
        hashes = spark.createDataFrame(rows, "doc_id long, ahash long")

        def ham(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        brute_pairs = {
            (a, b, ham(ha, hb))
            for (a, ha), (b, hb) in itertools.combinations(rows, 2)
            if ham(ha, hb) <= 3
        }
        got_pairs = {
            (r.id_a, r.id_b, r.hamming)
            for r in hash_near_dup_pairs(hashes, max_hamming=3).collect()
        }
        assert got_pairs == brute_pairs, f"seed {seed}"

        brute_survivors = {
            b
            for b, hb in rows
            if not any(a < b and ham(ha, hb) <= 3 for a, ha in rows)
        }
        incoming = hashes.withColumn("payload", F.lit(b""))
        got_survivors = {
            r.doc_id
            for r in image_dedup_probe(
                incoming, None, max_hamming=3, batch_hashes=hashes
            ).collect()
        }
        assert got_survivors == brute_survivors, f"seed {seed}"


def test_media_oracles_hold_on_sparse_noncontiguous_ids(spark, tmp_path):
    """Fixture-drift insurance: every media query's closed form is pure
    doc_id arithmetic on BOTH engines, so the hash match must survive ANY id
    set the driver might regenerate — proven here on a sparse, gappy,
    duplicate-group-skewed documents table."""
    import os
    import random

    from tests.conftest import SF_DIR
    from tests.oracle import compare_to_oracle, duck_connect

    sf_dir = str(tmp_path / "sf_drift")
    os.makedirs(sf_dir)
    from kda_flink_demo_spark.schemas import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        os.symlink(f"{SF_DIR}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    os.unlink(f"{sf_dir}/documents.parquet")
    rng = random.Random(424242)
    ids = sorted(rng.sample(range(0, 5000), 90)) + [100003, 2_000_017]
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [f"doc {i} text" for i in ids],
                "lang": ["en"] * len(ids),
                "source": ["src0"] * len(ids),
                "n_chars": pa.array([10] * len(ids), pa.int64()),
            }
        ),
        f"{sf_dir}/documents.parquet",
    )

    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    con = duck_connect(sf_dir)
    for name in (
        "image_dedup_report",
        "audio_dedup_report",
        "video_dedup_report",
        "image_ingest_gate",
        "audio_ingest_gate",
        "image_dedup_apply",
        "image_ahash_values",
        "audio_ahash_values",
        "video_ahash_values",
        "media_sniff_features",
    ):
        compare_to_oracle(qs[name](spark, sf_dir), con, oracles[name])


def test_empty_media_batch(spark):
    """Zero-row inputs through the vectorized packbits path (n=0 branch)."""
    docs = spark.range(0).withColumnRenamed("id", "doc_id")
    assert image_ahash(synth_media.synth_images(docs)).count() == 0
    assert audio_ahash(synth_media.synth_wavs(docs)).count() == 0


def test_avi_uncompressed_bpp_gate_fires_at_parse_time():
    """The bpp != 24 gate on uncompressed BI_RGB
    streams must fire at PARSE time like the codec gate — a parse-only
    caller (or a zero-frame sample plan) must reject a 16-bpp stream, not
    defer the refusal to the first decoded chunk."""
    b = bytearray(imaging.encode_avi(rgb_frames(2), fps=10))
    strf_off = bytes(b).index(b"strf") + 8
    b[strf_off + 14 : strf_off + 16] = (16).to_bytes(2, "little")  # biBitCount
    with pytest.raises(NotImplementedError, match="bpp != 24"):
        imaging._parse_avi(bytes(b))
