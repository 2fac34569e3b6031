"""AVI multi-stream correctness, stride guards, the PIL-independence of the
video/frame paths, and the fused one-scan media ingest profile — fused output
must be bit-identical to the dedicated sniff + *_ahash scans it replaces."""

from __future__ import annotations

import struct
import sys
import types

import numpy as np
import pytest

from kda_flink_demo_spark.operators.llm import imaging, synth_media
from kda_flink_demo_spark.operators.llm.image_dedup import (
    audio_hash_bits,
    image_hash_bits,
    video_hash_bits,
)
from kda_flink_demo_spark.operators.llm.multimodal import _video_frame_rows


# ---------------------------------------------------------------------------
# RIFF/AVI stream selection (strf must come from the 'vids' strl,
# frames only from that stream's '##db'/'##dc' chunks)
# ---------------------------------------------------------------------------


def _chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _lst(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def _strh(fcc_type: bytes) -> bytes:
    return struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        fcc_type, b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, 10, 0, 1, 0, 0xFFFFFFFF, 0,
        0, 0, 0, 0,
    )


def _frame_bytes(f: np.ndarray) -> bytes:
    """(h, w, 3) RGB → bottom-up BGR DIB raster rows padded to 4 bytes."""
    h, w = f.shape[0], f.shape[1]
    pad = b"\x00" * (((w * 3 + 3) & ~3) - w * 3)
    return b"".join(bytes(f[y, :, ::-1].tobytes()) + pad for y in range(h - 1, -1, -1))


def _audio_first_avi(frames: list[np.ndarray]) -> bytes:
    """An AVI whose FIRST strl is an audio stream (stream 00, WAVEFORMATEX
    strf, '00wb' data chunks) and whose SECOND strl is the video (stream 01,
    BITMAPINFOHEADER strf, '01db' frames) — the layout a first-strf reader
    misparses."""
    h, w = frames[0].shape[0], frames[0].shape[1]
    row_stride = (w * 3 + 3) & ~3
    avih = struct.pack(
        "<IIIIIIIIII4I",
        100_000, row_stride * h * 10, 0, 0x10, len(frames), 0, 2,
        row_stride * h, w, h, 0, 0, 0, 0,
    )
    # WAVEFORMATEX: PCM, mono, 8 kHz, 16-bit — 16 bytes that would misparse
    # as a BITMAPINFOHEADER prefix (biSize=0x00010001, biWidth=0x00021f40 ...)
    wavefmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    bmpinfo = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_stride * h, 0, 0, 0, 0)
    hdrl = _lst(
        b"hdrl",
        _chunk(b"avih", avih)
        + _lst(b"strl", _chunk(b"strh", _strh(b"auds")) + _chunk(b"strf", wavefmt))
        + _lst(b"strl", _chunk(b"strh", _strh(b"vids")) + _chunk(b"strf", bmpinfo)),
    )
    movi_body = _chunk(b"00wb", b"\x01\x02" * 50) + b"".join(
        _chunk(b"01db", _frame_bytes(f)) for f in frames
    )
    riff_body = b"AVI " + hdrl + _lst(b"movi", movi_body)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def test_decode_avi_audio_first_stream_pixel_exact():
    """Stream selection: the audio strl's WAVEFORMATEX must NOT be parsed as
    the video format, the '00wb' audio chunk must NOT be decoded as a frame,
    and the '01db' frames of the vids stream must decode pixel-exact."""
    rng = np.random.RandomState(7)
    frames = [rng.randint(0, 256, (4, 6, 3), dtype=np.uint8) for _ in range(3)]
    w, h, fps, out = imaging.decode_avi(_audio_first_avi(frames))
    assert (w, h, fps, len(out)) == (6, 4, 10.0, 3)
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)


def test_decode_avi_no_vids_stream_yields_no_frames():
    """An audio-only AVI with a stray '00db'-named chunk returns zero frames
    (the chunk belongs to stream 00 = audio) instead of misdecoding it with
    whatever geometry happens to be lying around."""
    avih = struct.pack("<IIIIIIIIII4I", 100_000, 0, 0, 0x10, 0, 0, 1, 0, 6, 4, 0, 0, 0, 0)
    wavefmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    hdrl = _lst(
        b"hdrl",
        _chunk(b"avih", avih)
        + _lst(b"strl", _chunk(b"strh", _strh(b"auds")) + _chunk(b"strf", wavefmt)),
    )
    movi = _lst(b"movi", _chunk(b"00db", b"\x00" * 80))
    riff_body = b"AVI " + hdrl + movi
    b = b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
    w, h, _fps, frames = imaging.decode_avi(b)
    assert (w, h, frames) == (6, 4, [])


def test_encode_avi_still_roundtrips_through_stream_selector():
    """The single-stream writer's output decodes identically under the new
    stream-aware reader."""
    frames = [np.full((4, 6, 3), i * 40, dtype=np.uint8) for i in range(4)]
    _w, _h, _fps, out = imaging.decode_avi(imaging.encode_avi(frames, fps=10))
    assert len(out) == 4
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)


# ---------------------------------------------------------------------------
# Stride guards (stride=0 must fail on the driver, not deep inside the Arrow
# worker)
# ---------------------------------------------------------------------------


def test_video_stride_guard_raises_at_construction(spark):
    from kda_flink_demo_spark.operators.llm.image_dedup import (
        video_ahash,
        video_near_dup_pairs,
    )
    from kda_flink_demo_spark.operators.llm.multimodal import sample_video_frames

    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="stride"):
            video_ahash(df, stride=bad)
        with pytest.raises(ValueError, match="stride"):
            video_near_dup_pairs(df, stride=bad)
        with pytest.raises(ValueError, match="stride"):
            sample_video_frames(df, stride=bad, real_decode=True)


# ---------------------------------------------------------------------------
# PIL-independence of the video/frame paths
# ---------------------------------------------------------------------------


def _install_poison_pil(monkeypatch):
    """A fake PIL whose Image.open RAISES: if any video/frame kernel consults
    PIL, the parity test fails loudly — pinning that those paths always go
    through the pure RIFF/AVI reader regardless of PIL availability."""

    def poisoned_open(_fp):
        raise AssertionError("video/frame path must never route through PIL")

    fake_image_mod = types.SimpleNamespace(open=poisoned_open)
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)


def test_frame_sampling_and_video_hash_pil_independent(monkeypatch):
    frames = [np.full((4, 6, 3), 30 * i + 10, dtype=np.uint8) for i in range(7)]
    b = imaging.encode_avi(frames, fps=10)
    rows_pure = _video_frame_rows(b, stride=2)
    bits_pure = video_hash_bits(b)
    _install_poison_pil(monkeypatch)
    assert _video_frame_rows(b, stride=2) == rows_pure
    assert np.array_equal(video_hash_bits(b), bits_pure)
    assert [i for i, _ in rows_pure] == [0, 2, 4, 6]


# ---------------------------------------------------------------------------
# Fused media ingest profile: decode once, outputs
# bit-identical to the dedicated sniff + *_ahash scans
# ---------------------------------------------------------------------------


def test_media_ingest_profile_equals_sniff_plus_hashes(spark):
    from kda_flink_demo_spark.operators.llm import multimodal
    from kda_flink_demo_spark.operators.llm.image_dedup import (
        audio_ahash,
        image_ahash,
        video_ahash,
    )

    ids = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    imgs = synth_media.synth_images(ids.filter("doc_id % 3 = 0"))
    wavs = synth_media.synth_wavs(ids.filter("doc_id % 3 = 1"))
    vids = synth_media.synth_pattern_videos(ids.filter("doc_id % 3 = 2"))
    corpus = imgs.unionByName(wavs).unionByName(vids)

    prof = {r.doc_id: r for r in multimodal.media_ingest_profile(corpus).collect()}
    sniff = {r.doc_id: r for r in multimodal.sniff_media_features(corpus).collect()}
    hashes = {}
    for part, hasher in ((imgs, image_ahash), (wavs, audio_ahash), (vids, video_ahash)):
        for r in hasher(part).collect():
            hashes[r.doc_id] = r.ahash

    assert set(prof) == set(sniff) == set(hashes) == set(range(60))
    for d in range(60):
        p, s = prof[d], sniff[d]
        for col in ("modality", "width", "height", "channels",
                    "duration_sec", "brightness", "rms", "n_bytes"):
            assert getattr(p, col) == getattr(s, col), (d, col)
        assert p.ahash == hashes[d], d


def test_media_ingest_profile_empty_corpus_keeps_schema(spark):
    """Zero-row input (an idle micro-batch) must yield zero rows with the
    full typed schema — the empty Arrow batch path exercises every dtype
    conversion including the nullable Int64 fingerprint column."""
    from kda_flink_demo_spark.operators.llm import multimodal

    empty = spark.createDataFrame([], "doc_id long, payload binary")
    out = multimodal.media_ingest_profile(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "modality", "width", "height", "channels",
        "duration_sec", "brightness", "rms", "n_bytes", "ahash",
    ]


def test_media_ingest_profile_quarantine_rows_null_hash(spark):
    from kda_flink_demo_spark.operators.llm import multimodal

    corpus = spark.createDataFrame(
        [
            (0, b"#plain junk"),                    # unknown magic
            (1, b"P6 garbage-after-magic"),          # image magic, corrupt body
            (2, b"RIFF\x04\x00\x00\x00WAVE"),       # WAV magic, truncated
        ],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.media_ingest_profile(corpus).collect()}
    assert rows[0].modality == "unknown"
    assert rows[1].modality == "corrupt"
    assert rows[2].modality == "corrupt"
    for r in rows.values():
        assert r.ahash is None
        assert r.n_bytes > 0


# ---------------------------------------------------------------------------
# Connected components with pointer jumping
# ---------------------------------------------------------------------------


def test_connected_components_deep_chain_converges_logarithmically(spark):
    """A diameter-300 path would need 301 one-hop rounds (plain propagation
    RAISES at the default max_iter=20); pointer jumping converges in
    ~log2(300)+2 rounds with exact min labels."""
    from kda_flink_demo_spark.operators.llm.clustering import connected_components

    n = 301  # one path 0-1-2-…-300
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    stats: dict = {}
    labels = {r.node: r.component for r in connected_components(edges, stats=stats).collect()}
    assert labels == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 13  # log2(300) ≈ 8.2, plus slack


def test_connected_components_random_graphs_match_union_find(spark):
    """Randomized cross-check: component labels equal a driver-side
    union-find's min-id components on arbitrary sparse graphs (chains,
    cliques, and random edges mixed)."""
    from kda_flink_demo_spark.operators.llm.clustering import connected_components

    rng = np.random.RandomState(20260815)
    for trial in range(4):
        n_nodes = int(rng.randint(50, 400))
        n_edges = int(rng.randint(n_nodes // 2, n_nodes * 2))
        pairs = [
            (int(rng.randint(n_nodes)), int(rng.randint(n_nodes))) for _ in range(n_edges)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue

        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for p in pairs for v in p}
        expected = {}
        comp_min: dict[int, int] = {}
        for v in sorted(touched):
            comp_min.setdefault(find(v), v)
        for v in touched:
            expected[v] = comp_min[find(v)]

        edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {r.node: r.component for r in connected_components(edges).collect()}
        assert got == expected, f"trial {trial}"


def test_profile_row_never_raises_property():
    """The fused profile's quarantine contract, fuzzed driver-side: ANY byte
    string — random noise, bare magic prefixes, truncations/corruptions of
    REAL payloads — yields a schema-shaped row, never an exception (one
    exotic file must not kill a 100 TB scan), and a fingerprint is present
    only on successfully decoded media."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kda_flink_demo_spark.operators.llm.multimodal import _profile_row

    # real payloads to mutate (driver-side, same corpus math as synth_media)
    lvl = np.where(
        synth_media._bits_msb(synth_media.image_pattern(5)).reshape(8, 8) == 1, 205, 45
    )
    big = np.repeat(np.repeat(lvl, 2, axis=0), 2, axis=1).astype(np.uint8)
    real_img = imaging.encode_ppm(big[:, :, None])
    real_avi = imaging.encode_avi([np.full((4, 6, 3), 90, dtype=np.uint8)] * 3, fps=10)
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x10" * 256)
    real_wav = buf.getvalue()
    # compressed formats: corruptions must quarantine through the NEW decoders
    # too (PNG incl. interlace+palette, GIF/LZW, baseline + progressive JPEG,
    # Motion-JPEG AVI, G.711)
    from kda_flink_demo_spark.operators.llm import jpeg as _jpeg

    pal = np.array([[45] * 3, [205] * 3], dtype=np.uint8)
    real_png = imaging.encode_png(
        big[:, :, None], color_type=3, palette=pal, filter_per_row=True, interlace=True
    )
    real_gif = imaging.encode_gif([(big > 128).astype(np.uint8)], pal, interlace=True)
    big8 = np.repeat(np.repeat(lvl, 8, axis=0), 8, axis=1).astype(np.uint8)
    real_jpg = _jpeg.encode_jpeg_gray(big8, dri=2)
    real_pjpg = _jpeg.encode_jpeg_gray(big8, progressive=True)
    real_mjpg = imaging.encode_avi_mjpeg([big8, 255 - big8], fps=10)
    real_g711 = imaging.encode_wav_g711(
        np.repeat(np.array([3000, 300] * 32, dtype=np.int64), 32), "ulaw"
    )
    reals = [
        real_img, real_avi, real_wav,
        real_png, real_gif, real_jpg, real_pjpg, real_mjpg, real_g711,
    ]
    magics = [
        b"P6", b"P5", b"BM", b"RIFF", b"RIFF1234WAVE", b"RIFF1234AVI ",
        imaging.PNG_SIGNATURE, b"GIF89a", b"\xff\xd8", b"\xff\xd8\xff\xc2",
    ]

    @settings(max_examples=300, deadline=None)
    @given(
        mode=st.sampled_from(["noise", "truncate", "corrupt", "magic+noise"]),
        data=st.binary(min_size=0, max_size=64),
        pick=st.integers(min_value=0, max_value=8),
        cut=st.integers(min_value=0, max_value=4200),
        pos=st.integers(min_value=0, max_value=4200),
    )
    def check(mode, data, pick, cut, pos):
        base = reals[pick]
        if mode == "noise":
            b = data
        elif mode == "truncate":
            b = base[: cut % (len(base) + 1)]
        elif mode == "corrupt":
            p = pos % max(len(base), 1)
            b = base[:p] + data + base[p + len(data):]
        else:
            b = magics[pick % len(magics)] + data
        row = _profile_row(b)
        assert len(row) == 9 - 1  # 8-tuple: 7 feature cells + bits
        modality, w, h, c, dur, bright, rms, bits = row
        assert modality in ("image", "audio", "video", "unknown", "corrupt")
        if bits is not None:
            assert modality in ("image", "audio", "video")
            assert len(bits) == 64
        if modality in ("unknown", "corrupt"):
            assert all(v is None for v in (w, h, c, dur, bright, rms, bits))

    check()


def test_image_and_audio_hash_bits_helpers_match_patterns():
    """The per-payload bit helpers (shared by the fused kernel and the
    dedicated scans) still reproduce the designed patterns."""
    for d in (0, 5, 23, 47, 61):
        img = None
        # synthesize one payload driver-side via the same corpus math
        lvl = np.where(
            synth_media._bits_msb(synth_media.image_pattern(d)).reshape(8, 8) == 1,
            200 + (d // 20 % 8) * 5,
            40 + (d // 20 % 8) * 5,
        )
        big = np.repeat(np.repeat(lvl, 2, axis=0), 2, axis=1).astype(np.uint8)
        img = imaging.encode_ppm(big[:, :, None])
        got = int("".join(map(str, image_hash_bits(img))), 2)
        assert got == synth_media.image_pattern(d), d

    import io as _io
    import wave as _wave

    for d in (0, 7, 33):
        s = 1 + (d // 20 % 4)
        amp = np.where(synth_media._bits_msb(synth_media.audio_pattern(d)) == 1, 3000 * s, 300 * s)
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(np.repeat(amp.astype("<i2"), 32).tobytes())
        got = int("".join(map(str, audio_hash_bits(buf.getvalue()))), 2)
        assert got == synth_media.audio_pattern(d), d
