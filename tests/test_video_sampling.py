"""Bounded video sampling: the per-video decode cost cap.

The per-frame JPEG entropy decode is the heaviest per-row kernel in the
repo, so an unbounded per-frame walk does not scale to a video lake. The
frame sample is PINNED and deterministic
(``imaging.sample_frame_indices``): the container walk still locates every
chunk (cheap), but only ``max_frames`` (default 9, odd) are decoded. Videos
with <= 9 frames hash ALL frames, so every pre-existing oracle/index is
bit-for-bit unchanged — pinned here alongside the cases where sampling is
genuinely load-bearing."""

from __future__ import annotations

import numpy as np

from kda_flink_demo_spark.operators.llm import imaging, synth_media
from kda_flink_demo_spark.operators.llm.image_dedup import (
    VIDEO_MAX_FRAMES,
    video_ahash,
    video_hash_bits,
)
from tests.conftest import rgb_frames, signed64


def _frame(bits: np.ndarray) -> np.ndarray:
    lvl = np.where(bits == 1, 210, 45)
    big = np.repeat(np.repeat(lvl, 2, axis=0), 2, axis=1).astype(np.uint8)
    return np.repeat(big[:, :, None], 3, axis=2)


def test_sample_frame_indices_pinned():
    """The closed-form rule oracles mirror: stride first, then evenly spaced
    floor(j*L/k) survivors — strictly increasing, frame 0 always kept."""
    assert imaging.sample_frame_indices(5) == [0, 1, 2, 3, 4]
    assert imaging.sample_frame_indices(9, max_frames=9) == list(range(9))
    assert imaging.sample_frame_indices(12, max_frames=9) == [0, 1, 2, 4, 5, 6, 8, 9, 10]
    assert imaging.sample_frame_indices(11, max_frames=9) == [0, 1, 2, 3, 4, 6, 7, 8, 9]
    assert imaging.sample_frame_indices(100, max_frames=9) == [0, 11, 22, 33, 44, 55, 66, 77, 88]
    assert imaging.sample_frame_indices(10, stride=2, max_frames=9) == [0, 2, 4, 6, 8]
    assert imaging.sample_frame_indices(40, stride=2, max_frames=9) == [
        0, 4, 8, 12, 16, 22, 26, 30, 34,
    ]
    assert imaging.sample_frame_indices(7, max_frames=1) == [0]
    # strictly increasing whenever sampling activates (no duplicate decodes)
    for n in range(10, 60):
        idx = imaging.sample_frame_indices(n, max_frames=9)
        assert len(idx) == 9 and all(a < b for a, b in zip(idx, idx[1:])), n


def test_sample_frame_indices_properties():
    """Property sweep of the pinned rule over the full practical domain:
    result length = min(ceil(n/stride), max_frames), strictly increasing,
    in-bounds, stride-aligned, frame 0 always first, and a no-op exactly
    when the strided count is within the bound."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        n=st.integers(0, 5000),
        stride=st.integers(1, 40),
        k=st.one_of(st.none(), st.integers(1, 64)),
    )
    def check(n, stride, k):
        idx = imaging.sample_frame_indices(n, stride=stride, max_frames=k)
        strided = list(range(0, n, stride))
        if k is None or len(strided) <= k:
            assert idx == strided
        else:
            assert len(idx) == k
            assert idx[0] == 0
            assert all(a < b for a, b in zip(idx, idx[1:]))
            assert all(0 <= i < n and i % stride == 0 for i in idx)
            assert set(idx) <= set(strided)

    check()


def test_decode_avi_sampled_matches_full_decode_at_indices():
    rng = np.random.default_rng(11)
    frames = [
        np.repeat(np.repeat(rng.integers(0, 256, (2, 3)), 8, 0), 8, 1).astype(np.uint8)
        for _ in range(13)
    ]
    b = imaging.encode_avi_mjpeg(frames, fps=10)
    w, h, fps, full = imaging.decode_avi(b)
    ws, hs, fpss, n, sel = imaging.decode_avi_sampled(b, max_frames=9)
    assert (ws, hs, fpss, n) == (w, h, fps, 13)
    assert len(sel) == 9
    for got, i in zip(sel, imaging.sample_frame_indices(13, max_frames=9)):
        assert np.array_equal(got, full[i])


def test_bounded_hash_identical_for_short_videos(spark):
    """<= 9 frames ⇒ the bounded fingerprint IS the full-majority fingerprint
    (the property that keeps every oracle and standing index over short
    videos unchanged): the whole designed corpus (2-6 frames) must still hash to
    image_pattern(doc_id) verbatim, bounded and unbounded agreeing."""
    docs = spark.range(60).withColumnRenamed("id", "doc_id")
    corpus = synth_media.synth_mjpeg_videos(docs)
    bounded = {r.doc_id: r.ahash for r in video_ahash(corpus).collect()}
    unbounded = {r.doc_id: r.ahash for r in video_ahash(corpus, max_frames=None).collect()}
    assert bounded == unbounded
    assert bounded == {d: signed64(synth_media.image_pattern(d)) for d in range(60)}


def test_sampling_is_load_bearing_above_the_bound():
    """An 11-frame video built so the SAMPLED majority (indices 0,1,2,3,4,
    6,7,8,9 — 4 of 9 inverted) differs from the FULL majority (6 of 11
    inverted): bounded hashing must return the clean pattern, exact hashing
    the inversion. Proves the bound actually engages past 9 frames."""
    pattern = synth_media.image_pattern(5)
    bits = synth_media._bits_msb(pattern).reshape(8, 8)
    inverted_at = {1, 3, 6, 8, 5, 10}  # 4 sampled + the 2 unsampled slots
    frames = [
        _frame((1 - bits) if i in inverted_at else bits)[:, :, 0] for i in range(11)
    ]
    from kda_flink_demo_spark.operators.llm.image_dedup import pack_bits_i64

    b = imaging.encode_avi_mjpeg(frames, fps=10)
    bounded = int(pack_bits_i64(video_hash_bits(b)[None, :])[0])
    exact = int(pack_bits_i64(video_hash_bits(b, max_frames=None)[None, :])[0])
    assert bounded == signed64(pattern)
    assert exact == signed64(pattern ^ ((1 << 64) - 1))


def test_repeat_tiles_the_frame_cycle():
    rng = np.random.default_rng(12)
    cycle = [
        np.repeat(np.repeat(rng.integers(0, 256, (2, 2)), 8, 0), 8, 1).astype(np.uint8)
        for _ in range(3)
    ]
    b = imaging.encode_avi_mjpeg(cycle, fps=10, repeat=4)
    w, h, fps, frames = imaging.decode_avi(b)
    assert len(frames) == 12
    for i, f in enumerate(frames):
        assert np.array_equal(f[:, :, 0], cycle[i % 3]), i


def test_long_video_hash_is_bounded_and_stable():
    """A 600-frame video (100x the cycle) must hash with only 9 frame
    decodes and — because every frame carries the same pattern — equal the
    short video's fingerprint. The decode-call bound is asserted by counting
    actual JPEG decodes, not by timing."""
    from kda_flink_demo_spark.operators.llm import jpeg

    pattern = synth_media.image_pattern(7)
    bits = synth_media._bits_msb(pattern).reshape(8, 8)
    cycle = [_frame(bits)[:, :, 0] for _ in range(6)]
    long_b = imaging.encode_avi_mjpeg(cycle, fps=10, repeat=100)
    short_b = imaging.encode_avi_mjpeg(cycle, fps=10)

    calls = 0
    orig = jpeg.decode_jpeg

    def counting(b):
        nonlocal calls
        calls += 1
        return orig(b)

    jpeg.decode_jpeg = counting
    try:
        long_bits = video_hash_bits(long_b)
        assert calls == VIDEO_MAX_FRAMES
    finally:
        jpeg.decode_jpeg = orig
    assert np.array_equal(long_bits, video_hash_bits(short_b))


def test_sniff_and_profile_agree_on_mid_sample_corrupt_frames(spark):
    """Lockstep contract of the shared _profile_row kernel: sniff
    (want_bits=False) must decode the SAME pinned frame sample as the
    profile, so a corrupt frame inside the sample flips BOTH to 'corrupt' — a sniff that decoded fewer frames would wave through
    payloads the fingerprint scans then die on. A corrupt frame OUTSIDE the
    sample is invisible to both (consistent, the documented sampling
    trade)."""
    from kda_flink_demo_spark.operators.llm.multimodal import (
        media_ingest_profile,
        sniff_media_features,
    )

    bits = synth_media._bits_msb(synth_media.image_pattern(9)).reshape(8, 8)
    frames = [_frame(bits)[:, :, 0] for _ in range(12)]
    good = imaging.encode_avi_mjpeg(frames, fps=10)
    # 12 frames, k=9 → sampled indices [0,1,2,4,5,6,8,9,10]: 2 is sampled,
    # 3 is not
    assert imaging.sample_frame_indices(12, max_frames=9) == [0, 1, 2, 4, 5, 6, 8, 9, 10]

    def corrupt_chunk(b: bytes, frame_idx: int) -> bytes:
        off = -1
        for _ in range(frame_idx + 1):
            off = b.index(b"00dc", off + 1)
        body = off + 8
        # zero the SOI marker: decode_jpeg('not a JPEG payload') raises for
        # exactly this frame, RIFF structure (chunk sizes) stays intact
        return b[:body] + b"\x00\x00" + b[body + 2 :]

    rows = [
        (0, bytearray(good)),
        (1, bytearray(corrupt_chunk(good, 2))),  # inside the sample
        (2, bytearray(corrupt_chunk(good, 3))),  # outside the sample
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    sniffed = {r.doc_id: r.modality for r in sniff_media_features(df).collect()}
    profiled = {r.doc_id: r.modality for r in media_ingest_profile(df).collect()}
    assert sniffed == profiled  # lockstep, row for row
    assert sniffed == {0: "video", 1: "corrupt", 2: "video"}


def test_profile_duration_exact_for_long_videos(spark):
    """The fused profile's duration comes from the TOTAL chunk count (exact
    even when only the sample is decoded): 24 frames at 10 fps = 2.4 s."""
    from kda_flink_demo_spark.operators.llm.multimodal import media_ingest_profile

    bits = synth_media._bits_msb(synth_media.image_pattern(3)).reshape(8, 8)
    cycle = [_frame(bits)[:, :, 0] for _ in range(6)]
    b = imaging.encode_avi_mjpeg(cycle, fps=10, repeat=4)
    df = spark.createDataFrame([(0, bytearray(b))], "doc_id long, payload binary")
    row = media_ingest_profile(df).collect()[0]
    assert row.modality == "video" and row.duration_sec == 2.4
    assert row.ahash == signed64(synth_media.image_pattern(3))


def _fake_h264_avi(frames, fps=10):
    """An AVI whose strf biCompression is flipped to 'H264': the pure reader
    gates it, carrying the original frames only for the FAKE av backend to
    'decode' (closure), so the dispatch path is exercised without the
    dependency."""
    import struct

    b = bytearray(imaging.encode_avi(frames, fps=fps))
    strf_off = bytes(b).index(b"strf") + 8
    b[strf_off + 16 : strf_off + 20] = struct.pack("<I", 0x34363248)  # 'H264'
    return bytes(b)


def _install_fake_av(monkeypatch, frames, fps=10.0):
    import sys
    import types

    class _FakeFrame:
        def __init__(self, arr):
            self._arr = arr

        def to_ndarray(self, format):  # noqa: A002 — pyav's kwarg name
            assert format == "rgb24"
            return self._arr

    class _FakePacket:
        size = 1

    class _FakeCodecContext:
        def __init__(self, w, h):
            self.width, self.height = w, h

    class _FakeStream:
        def __init__(self, w, h):
            self.average_rate = fps
            self.codec_context = _FakeCodecContext(w, h)

    class _FakeStreams:
        def __init__(self, s):
            self.video = [s]

    class _FakeContainer:
        def __init__(self):
            h, w = frames[0].shape[0], frames[0].shape[1]
            self.streams = _FakeStreams(_FakeStream(w, h))

        def demux(self, _stream):
            return [_FakePacket() for _ in frames]

        def decode(self, _stream):
            return (_FakeFrame(f) for f in frames)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    fake_av = types.ModuleType("av")
    fake_av.open = lambda _f: _FakeContainer()
    monkeypatch.setitem(sys.modules, "av", fake_av)


def test_pyav_branch_parity_with_fake_backend(monkeypatch):
    """The video dispatch falls through to
    pyav for codecs the pure reader gates, with the identical
    (w, h, fps, n, frames) contract — every downstream kernel (frame rows,
    temporal-majority fingerprint) must produce the SAME values through the
    backend as the pure path produces on the uncompressed original."""
    from kda_flink_demo_spark.operators.llm.multimodal import (
        _video_decode_sampled,
        _video_frame_rows,
    )

    frames = rgb_frames(7, seed=3)
    plain = imaging.encode_avi(frames, fps=10)
    gated = _fake_h264_avi(frames, fps=10)
    _install_fake_av(monkeypatch, frames)

    w0, h0, fps0, n0, f0 = _video_decode_sampled(plain, stride=2)
    w1, h1, fps1, n1, f1 = _video_decode_sampled(gated, stride=2)
    assert (w0, h0, fps0, n0) == (w1, h1, fps1, n1)
    assert len(f0) == len(f1) and all(
        np.array_equal(a, b) for a, b in zip(f0, f1)
    )
    assert _video_frame_rows(gated, 2) == _video_frame_rows(plain, 2)
    assert np.array_equal(video_hash_bits(gated), video_hash_bits(plain))


def test_pyav_gate_message_and_quarantine_without_backend(monkeypatch):
    """Without pyav, the gate names the optional branch — and the sniff
    scan's quarantine contract holds: a gated-codec payload lands as a
    'corrupt' row, never an exception."""
    import sys

    import pytest

    from kda_flink_demo_spark.operators.llm.multimodal import (
        _profile_row,
        _video_decode_sampled,
    )

    gated = _fake_h264_avi(rgb_frames(3, seed=3))
    monkeypatch.setitem(sys.modules, "av", None)  # import av -> ImportError
    with pytest.raises(NotImplementedError, match="pyav branch"):
        _video_decode_sampled(gated)
    assert _profile_row(gated)[0] == "corrupt"
