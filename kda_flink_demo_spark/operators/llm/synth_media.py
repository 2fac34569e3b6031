"""Deterministic synthetic media corpus for driver-checkable perceptual dedup.

The fixtures carry no real image/audio payloads, so the perceptual-hash dedup
family (``image_dedup.py``) was pytest-only through round 8 — invisible to the
driver's DuckDB-oracle gate. This module closes that gap: it synthesizes a
media payload per ``documents`` row as a PURE FUNCTION of ``doc_id``, designed
so the true near-dup pair structure is known in closed form and therefore
expressible as ANSI SQL over the same parquet table:

- group ``g = doc_id % 20`` picks one of 20 hardcoded 64-bit codewords with
  pairwise Hamming distance ≥ 24 (seeded-search constants, never drift);
- variant ``v = least(doc_id // 20, 3)`` applies ``v`` deterministic bit
  flips, so two same-group docs sit at a Hamming distance that is an exact
  function of ``(v_a, v_b)`` and any cross-group pair stays far outside the
  dedup radius;
- a per-doc brightness offset (images) / volume factor (audio) varies the raw
  bytes WITHOUT moving the hash — aHash thresholds against the image mean and
  the audio fingerprint against the median window energy, so uniform additive
  brightness and multiplicative volume cancel exactly. The payloads are not
  byte-identical; the pipeline must prove those invariances to match the
  oracle.

Images (``IMAGE_CODEWORDS``, popcount 25–36): variant v flips the first v of
the prefix positions ``(g*7 + j) % 64`` → same-group hamming EXACTLY
``|v_a − v_b| ≤ 3`` (exact quarter-blocking recall by pigeonhole), cross-group
≥ 24 − 3 − 3 = 18.

Audio (``AUDIO_CODEWORDS``, popcount EXACTLY 32): the energy fingerprint
thresholds at the MEDIAN window energy, which pins exactly 32 set bits — so
variant step j flips a (set, clear) PAIR inside quarter j (popcount preserved,
median stays strictly between the two energy levels) → same-group hamming
EXACTLY ``2·|v_a − v_b| ≤ 6``, and since steps touch distinct quarters, two
variants differ in ≤ 3 quarters — still ≥ 1 identical quarter, exact recall
at max_hamming = 6. Cross-group ≥ 24 − 6 − 6 = 12 > 6.

Those closed forms ARE the DuckDB oracles in ``registry_llm.py``.

Scale note: synthesis is an Arrow-batched mapInPandas projection (one numpy
pattern per row, vectorized byte assembly) — it stands in for the production
"read media bytes from the lake" scan and costs O(rows), no shuffle.
Everything downstream is the real, unmodified dedup pipeline.

Since r12 the registry rows don't synthesize in-query: ``staged()`` persists
each corpus as a once-per-session parquet artifact and the rows READ it —
exactly the production shape — so the benched time is the operator, not the
fixture encoder (r11 verdict directive 1: encoder cost dominated the media
bench tail). Payloads are bit-identical either way (pinned by
tests/test_staged_media.py and the ahash VALUES oracles).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from kda_flink_demo_spark.functions import spread_for_compute

# Pairwise Hamming ≥ 24, popcount ∈ [25, 36] (image mean-threshold stays
# strictly between the two gray levels even after 3 flips). Seed 20260815.
IMAGE_CODEWORDS: tuple[int, ...] = (
    0x076BF32C166E97E2, 0xB7CEB41BC078BE25, 0x8D1B778385E87961, 0x490B639F703332B6,
    0x115FC02EE46208DC, 0xAF2B79B77C417984, 0xCD99D42BBD2C94F1, 0x43AAD3DBA30926EE,
    0x0B003FFFDB736C2E, 0xBBBB9251F264CC1C, 0x8BDFE114AA0EE7F3, 0x1420C70BF8CCB6FD,
    0x6A3C4AD5D9AD0596, 0x27D2FAD30EDE4B84, 0x88B87C5E8369109C, 0xA431D686C906C46E,
    0x0BA99E3006993B7F, 0xC432AC4B568E8194, 0xE6E0145789844B20, 0x9C6786CD447A273D,
)

# Pairwise Hamming ≥ 24, popcount EXACTLY 32, every 16-bit quarter holding
# 3–13 set bits (room for the per-variant (set, clear) flip pair). Seed 99173.
AUDIO_CODEWORDS: tuple[int, ...] = (
    0x48C33F405F6C4B2F, 0xD2D6D49917BC4670, 0x15451BE8AF16EE0E, 0xDC21A5FBD31C7031,
    0xA7F2C62C0B861B8F, 0x4131AD5CACEDAC8E, 0xB148DE48FFC92683, 0x4D53534F488AE3BA,
    0xAB9834FF556A060D, 0xE242CA16427C36FF, 0x4C5B7BF4E2D4022D, 0x93672A413768BE9C,
    0xC487E3CB1EA55781, 0xE44A976732E143AD, 0x1A585F7C4B985B98, 0x9B82E63D51872D63,
    0xA774E438F62532AA, 0xF3D4AB8A67016D62, 0x5AC2A3B5074F58D3, 0x0815C79FBA9D5CE0,
)

N_GROUPS = 20
MAX_VARIANT = 3  # flip steps are capped so same-group pairs stay in-radius


def _group_variant(doc_id: int) -> tuple[int, int]:
    return doc_id % N_GROUPS, min(doc_id // N_GROUPS, MAX_VARIANT)


def staged(spark, sf_dir: str, kind: str) -> DataFrame:
    """Session-staged synthetic media corpus: synthesize ``kind`` over the
    full documents table ONCE per Spark application, persist it as parquet
    under the session temp dir, and hand every consumer the parquet-backed
    (doc_id, payload) scan.

    This is what production looks like — media bytes are READ from the lake,
    not generated inside the query — so gate/report/values bench rows time
    the OPERATOR (decode → hash → block/probe), not the fixture encoder that
    a real deployment never runs (r11 verdict directive 1: encoder cost
    dominated the media bench tail and masked the operator signal).

    Staleness safety: the parquet path is keyed by ``applicationId``, so a
    new session (and therefore any regenerated fixture set) can never read a
    previous session's bytes; within one application the corpus is a pure
    function of the immutable documents table. Payloads are bit-identical to
    an inline ``synth_*`` call — binary columns round-trip parquet exactly —
    which the ahash VALUES oracles re-verify every round. Consumers filter
    the full corpus by doc_id (pushed down to the parquet scan) instead of
    synthesizing subsets."""
    import os
    import tempfile

    from kda_flink_demo_spark.io.sources import load_table, read_parquet
    from kda_flink_demo_spark.operators.llm.standing import standing_artifact

    generators = {
        "images": synth_images,
        "pngs": synth_pngs,
        "gifs": synth_gifs,
        "jpegs": synth_jpegs,
        "mjpeg_videos": synth_mjpeg_videos,
        "wavs": synth_wavs,
        "wavs_widths": synth_wavs_widths,
        "videos": synth_videos,
        "pattern_videos": synth_pattern_videos,
    }

    def _build() -> DataFrame:
        app = spark.sparkContext.applicationId
        sfname = os.path.basename(sf_dir.rstrip("/"))
        path = os.path.join(
            tempfile.gettempdir(), "kda_media_stage", app, f"{kind}-{sfname}.parquet"
        )
        generators[kind](load_table(spark, sf_dir, "documents")).write.mode(
            "overwrite"
        ).parquet(path)
        # the staged files are small enough to bin-pack into 1–2 scan
        # partitions (openCostInBytes), which would serialize the decode
        # kernels downstream — re-spread exactly like the synth generators
        # did; at lake scale the scan arrives already parallel and
        # spread_for_compute is a no-op
        return spread_for_compute(read_parquet(spark, path))

    return standing_artifact(spark, ("staged_media", kind, sf_dir), _build)


def image_pattern(doc_id: int) -> int:
    """The 64-bit image pattern: group codeword with the first ``v`` prefix
    positions ``(g*7 + j) % 64`` flipped."""
    g, v = _group_variant(doc_id)
    w = IMAGE_CODEWORDS[g]
    for j in range(v):
        w ^= 1 << ((g * 7 + j) % 64)
    return w


def audio_pattern(doc_id: int) -> int:
    """The 64-bit audio pattern: group codeword with, per variant step j, the
    lowest set bit AND lowest clear bit of quarter j both flipped — popcount
    stays 32 and step j touches only quarter j."""
    g, v = _group_variant(doc_id)
    w = AUDIO_CODEWORDS[g]
    for j in range(v):
        q = (w >> (16 * j)) & 0xFFFF
        set_pos = (q & -q).bit_length() - 1
        inv = ~q & 0xFFFF
        clear_pos = (inv & -inv).bit_length() - 1
        w ^= (1 << (16 * j + set_pos)) | (1 << (16 * j + clear_pos))
    return w


def _bits_msb(word: int) -> "np.ndarray":
    """uint8[64], index k = value bit (63 − k) — the MSB-first layout the
    aHash packbits fold reads."""
    import numpy as np

    return np.array([(word >> (63 - k)) & 1 for k in range(64)], dtype=np.uint8)


def synth_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(…, doc_id, …) → (doc_id, payload): a 16×16 binary-PPM image whose
    canonical 8×8 aHash equals ``image_pattern(doc_id)``. Pixels: gray level
    200+off where the pattern bit is set, 40+off where not, with brightness
    off = (doc_id//20 % 8) * 5 the hash must ignore. Each 8×8 pattern pixel
    repeats 2×2 so the floor-nearest 16→8 resize recovers it exactly (and the
    resize path is genuinely exercised)."""

    def _gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from kda_flink_demo_spark.operators.llm import imaging

        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                off = (d // N_GROUPS % 8) * 5
                lvl = np.where(_bits_msb(image_pattern(d)).reshape(8, 8) == 1, 200 + off, 40 + off)
                big = np.repeat(np.repeat(lvl, 2, axis=0), 2, axis=1).astype(np.uint8)
                payloads.append(imaging.encode_ppm(big[:, :, None]))
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    # the fixtures are single-file scans (1 partition) — spread the id column
    # (8 bytes/row) so the synth+decode kernels use every core; a production
    # media table arrives already split and skips the repartition
    return spread_for_compute(df.select(id_col)).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def synth_pngs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(…, doc_id, …) → (doc_id, payload): the SAME 16×16 designed pattern as
    ``synth_images`` (2×2-upscaled 8×8, gray 200+off / 40+off) in a real PNG
    container, so the whole inflate → unfilter → (palette) → luma pipeline is
    LUT-value-pinned: the decoded aHash must equal ``image_pattern(doc_id)``
    VERBATIM. The corpus deliberately varies what the decoder must get right:

    - color type by ``doc_id % 4``: 0 → 8-bit grayscale, 1 → RGB, 2 → PALETTE
      (2-entry PLTE, index raster), 3 → RGBA (opaque alpha the luma ignores) —
      decoded channel counts (1, 3, 3, 4) are the sniff oracle's closed form;
    - every payload cycles scanline filters 0..4 by row (``filter_per_row``),
      so None/Sub/Up/Average/Paeth reconstruction are ALL load-bearing — a
      defect in any single filter moves some pixel, flips a hash bit, and
      fails the 80-row signed-pattern LUT join;
    - docs with ``doc_id % 8 >= 4`` are ADAM7-INTERLACED (each color type
      appears both ways), so progressive reassembly is load-bearing too —
      oracle-neutral on purpose: interlacing permutes bytes, not pixels;
    - BIT DEPTH cycles oracle-neutrally as well: gray/RGB/RGBA docs with
      ``(doc_id // 8) % 2 == 1`` are written 16-BIT (sample v·257, whose
      high-byte projection is exactly v), and palette docs cycle depths
      1/2/4/8 by ``(doc_id // 8) % 4`` (two palette entries fit every
      depth) — so sub-byte unpacking and the 16-bit path are pinned by the
      SAME LUT rows, no new oracle needed.

    Brightness stays 40 + off + 2.5·popcount(pattern) for every color type
    (equal-channel RGB keeps integer luma == the gray level exactly)."""

    def _gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from kda_flink_demo_spark.operators.llm import imaging

        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                off = (d // N_GROUPS % 8) * 5
                lo, hi = 40 + off, 200 + off
                bits = _bits_msb(image_pattern(d)).reshape(8, 8)
                big = np.repeat(np.repeat(bits, 2, axis=0), 2, axis=1)
                m = d % 4
                il = d % 8 >= 4
                if m == 2:  # palette: raster carries indices, PLTE the levels
                    pal = np.array([[lo] * 3, [hi] * 3], dtype=np.uint8)
                    payloads.append(
                        imaging.encode_png(
                            big[:, :, None].astype(np.uint8),
                            color_type=3,
                            palette=pal,
                            filter_per_row=True,
                            interlace=il,
                            depth=(1, 2, 4, 8)[(d // 8) % 4],
                        )
                    )
                    continue
                lvl = np.where(big == 1, hi, lo).astype(np.uint8)[:, :, None]
                if m == 1:
                    lvl = np.repeat(lvl, 3, axis=2)
                elif m == 3:
                    lvl = np.concatenate(
                        [np.repeat(lvl, 3, axis=2), np.full_like(lvl, 255)], axis=2
                    )
                payloads.append(
                    imaging.encode_png(
                        lvl,
                        filter_per_row=True,
                        interlace=il,
                        depth=16 if (d // 8) % 2 else 8,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return spread_for_compute(df.select(id_col)).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def synth_wavs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(…, doc_id, …) → (doc_id, payload): a 16-bit PCM WAV (64 windows × 32
    samples, 8 kHz mono) whose energy-envelope fingerprint equals
    ``audio_pattern(doc_id)``. Window k: constant amplitude (3000 if bit k
    else 300) × s with volume factor s = 1 + (doc_id//20 % 4) the fingerprint
    must ignore (all window energies scale by s², the median with them)."""

    def _gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io as _io
        import wave as _wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                s = 1 + (d // N_GROUPS % 4)
                amp = np.where(_bits_msb(audio_pattern(d)) == 1, 3000 * s, 300 * s)
                samples = np.repeat(amp.astype("<i2"), 32)  # 64 windows × 32 samples
                buf = _io.BytesIO()
                with _wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(samples.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return spread_for_compute(df.select(id_col)).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def synth_gifs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(…, doc_id, …) → (doc_id, payload): the designed 16×16 pattern as a
    GIF — inherently palettized (2-entry table: the low/high gray levels as
    equal-channel RGB), LZW-compressed, with every odd doc ROW-INTERLACED so
    the 4-pass reassembly is load-bearing. GIF is lossless, so the decoded
    aHash must equal ``image_pattern(doc_id)`` VERBATIM through LZW → palette
    → luma — the same signed-pattern LUT as the PPM/PNG corpora, reached
    through a third completely different byte path."""

    def _gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from kda_flink_demo_spark.operators.llm import imaging

        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                off = (d // N_GROUPS % 8) * 5
                pal = np.array([[40 + off] * 3, [200 + off] * 3], dtype=np.uint8)
                bits = _bits_msb(image_pattern(d)).reshape(8, 8)
                big = np.repeat(np.repeat(bits, 2, axis=0), 2, axis=1).astype(np.uint8)
                payloads.append(imaging.encode_gif([big], pal, interlace=bool(d % 2)))
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return spread_for_compute(df.select(id_col)).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def synth_jpegs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(…, doc_id, …) → (doc_id, payload): the designed pattern as a REAL
    baseline JPEG, value-pinnable despite JPEG being lossy: each pattern bit
    is an 8×8-CONSTANT block in a 64×64 grayscale image, and a flat block's
    FDCT is DC-only — DC = 8·(level−128) quantizes losslessly at the
    encoder's DC step of 8 and the exact float64 IDCT reproduces the level
    VERBATIM (see jpeg.py's module docstring). The floor-nearest 64→8 resize
    then recovers the pattern exactly, so the aHash must equal
    ``image_pattern(doc_id)`` through Huffman decode → dequant → IDCT.
    Docs with ``doc_id % 3 == 0`` are written with a restart interval
    (DRI=2, RST markers every 2 MCUs) so restart handling and DC-predictor
    resets are load-bearing, and docs with ``doc_id % 3 == 1`` are written
    PROGRESSIVE (SOF2, the classic 4-scan DC-first/AC-first/DC-refine/
    AC-refine layout) — progressive scans reconstruct the same quantized
    coefficients exactly, so the change is oracle-neutral and the SAME LUT
    rows pin successive-approximation decoding."""

    def _gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from kda_flink_demo_spark.operators.llm import jpeg

        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                off = (d // N_GROUPS % 8) * 5
                bits = _bits_msb(image_pattern(d)).reshape(8, 8)
                lvl = np.where(bits == 1, 200 + off, 40 + off).astype(np.uint8)
                big = np.repeat(np.repeat(lvl, 8, axis=0), 8, axis=1)
                payloads.append(
                    jpeg.encode_jpeg_gray(
                        big, dri=2 if d % 3 == 0 else 0, progressive=d % 3 == 1
                    )
                )
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return spread_for_compute(df.select(id_col)).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def synth_mjpeg_videos(df: DataFrame, id_col: str = "doc_id", repeat: int = 1) -> DataFrame:
    """(…, doc_id, …) → (doc_id, payload): the pattern-video corpus in
    MOTION-JPEG — every frame a standalone baseline JPEG inside an 'MJPG'
    AVI, so a COMPRESSED video codec rides the real multi-frame decode path.
    Frames are 64×64 (the 8×8 pattern upscaled 8×, so every pattern bit is
    an 8×8-CONSTANT JPEG block — DC-only, hence EXACT through the lossy
    codec), with per-frame brightness offsets the hash ignores and the same
    minority of bit-INVERTED frames as ``synth_pattern_videos``
    (``doc_id % 5 + 2`` frames, every third inverted) — so the temporal
    MAJORITY fingerprint must equal ``image_pattern(doc_id)`` VERBATIM.
    ``repeat`` tiles the frame cycle (chunk reuse, O(cycle) encode cost) —
    the long-footage fixture for the bounded-sampling scale probe, one
    parameter instead of a diverging copy of this generator."""

    def _gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from kda_flink_demo_spark.operators.llm import imaging

        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                bits = _bits_msb(image_pattern(d)).reshape(8, 8)
                frames = []
                for i in range(d % 5 + 2):
                    fb = (1 - bits) if i % 3 == 2 else bits
                    off = (i * 7 + d) % 8 * 5
                    lvl = np.where(fb == 1, 200 + off, 40 + off).astype(np.uint8)
                    frames.append(np.repeat(np.repeat(lvl, 8, axis=0), 8, axis=1))
                payloads.append(imaging.encode_avi_mjpeg(frames, fps=10, repeat=repeat))
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return spread_for_compute(df.select(id_col)).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def synth_wavs_widths(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(…, doc_id, …) → (doc_id, payload): the SAME designed energy envelope
    as ``synth_wavs`` in a CONTAINER/CODEC cycling by ``doc_id % 8`` —
    8/16/24/32-bit integer PCM, G.711 μ-law/A-law, mono IMA-ADPCM, and mono
    MS-ADPCM (r12: fmt tag 2, the last WAV codec behind the librosa gate) —
    so the fingerprint must equal ``audio_pattern(doc_id)`` VERBATIM through
    every audio decode path (unsigned-center-128 8-bit, signed LE 16/32-bit,
    sign-extended 24-bit triplets, both companding expansions, and both
    adaptive-quantizer families: the envelope thresholds at the MEDIAN
    window energy, which monotone companding preserves exactly and whose
    10:1 amplitude split dwarfs ADPCM's quantization error). Window
    amplitudes keep the 10:1-ish high/low split scaled to each width's full
    scale (volume factor s = 1 + doc_id//20 % 4 still cancels through the
    median threshold); exactly 32 high windows by the codeword design, so
    the median separates the two energy levels in every codec."""

    def _gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io as _io
        import wave as _wave

        import numpy as np
        import pandas as pd

        from kda_flink_demo_spark.operators.llm import imaging

        # (hi, lo) raw amplitudes per sample width; 8-bit is unsigned around
        # its 128 midpoint, the rest are positive signed values
        amps = {1: (25, 2), 2: (3000, 300), 3: (300_000, 30_000), 4: (80_000_000, 8_000_000)}
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                s = 1 + (d // N_GROUPS % 4)
                m8 = d % 8
                if m8 >= 4:  # companded / adaptive (16-bit-scale amplitudes)
                    amp = np.where(
                        _bits_msb(audio_pattern(d)) == 1, 3000 * s, 300 * s
                    )
                    vals = np.repeat(amp.astype(np.int64), 32)
                    if m8 == 6:
                        enc = imaging.encode_wav_ima_adpcm(vals)
                    elif m8 == 7:
                        enc = imaging.encode_wav_ms_adpcm(vals)
                    else:
                        enc = imaging.encode_wav_g711(vals, "ulaw" if m8 == 4 else "alaw")
                    payloads.append(enc)
                    continue
                sw = m8 + 1
                hi, lo = amps[sw]
                amp = np.where(_bits_msb(audio_pattern(d)) == 1, hi * s, lo * s)
                vals = np.repeat(amp.astype(np.int64), 32)  # 64 windows × 32
                if sw == 1:
                    raw = (128 + vals).astype(np.uint8).tobytes()
                elif sw == 2:
                    raw = vals.astype("<i2").tobytes()
                elif sw == 3:
                    raw = (
                        np.stack([vals & 0xFF, (vals >> 8) & 0xFF, (vals >> 16) & 0xFF], axis=1)
                        .astype(np.uint8)
                        .tobytes()
                    )
                else:
                    raw = vals.astype("<i4").tobytes()
                buf = _io.BytesIO()
                with _wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(sw)
                    wf.setframerate(8000)
                    wf.writeframes(raw)
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return spread_for_compute(df.select(id_col)).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def synth_videos(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(…, doc_id, …) → (doc_id, payload): an uncompressed 24-bit DIB RIFF
    AVI with ``doc_id % 12 + 1`` constant-color frames; frame i's RGB is
    ``((d·31+i·17) % 256, (d·13+i·7) % 256, (d·29+i·3) % 256)`` so its integer
    ITU-R 601-2 luma — and therefore the frame score the real decoder emits —
    is closed-form SQL. Distinct per-channel values make the BGR↔RGB row
    order load-bearing (a channel-swap bug flips the luma), and the 6-pixel
    width forces non-trivial 4-byte row padding through the DIB raster path."""

    def _gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from kda_flink_demo_spark.operators.llm import imaging

        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                frames = []
                for i in range(d % 12 + 1):
                    f = np.empty((4, 6, 3), dtype=np.uint8)
                    f[:, :, 0] = (d * 31 + i * 17) % 256
                    f[:, :, 1] = (d * 13 + i * 7) % 256
                    f[:, :, 2] = (d * 29 + i * 3) % 256
                    frames.append(f)
                payloads.append(imaging.encode_avi(frames, fps=10))
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return spread_for_compute(df.select(id_col)).mapInPandas(
        _gen, "doc_id long, payload binary"
    )


def synth_pattern_videos(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(…, doc_id, …) → (doc_id, payload): an AVI whose per-frame aHash MAJORITY
    equals ``image_pattern(doc_id)`` — the video-dedup corpus. Every frame
    carries the doc's image pattern (2×2-upscaled, per-frame brightness
    offsets the hash ignores), but a MINORITY of frames (every third, always
    fewer than half of the ``doc_id % 5 + 2`` total) is bit-INVERTED — a
    stand-in for intro cards / corrupted frames. The temporal majority vote
    must suppress them exactly; a mean- or any-frame fingerprint would not."""

    def _gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from kda_flink_demo_spark.operators.llm import imaging

        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                bits = _bits_msb(image_pattern(d)).reshape(8, 8)
                frames = []
                for i in range(d % 5 + 2):
                    fb = (1 - bits) if i % 3 == 2 else bits  # minority inverted
                    off = (i * 7 + d) % 8 * 5
                    lvl = np.where(fb == 1, 200 + off, 40 + off)
                    big = np.repeat(np.repeat(lvl, 2, axis=0), 2, axis=1).astype(np.uint8)
                    frames.append(np.repeat(big[:, :, None], 3, axis=2))
                payloads.append(imaging.encode_avi(frames, fps=10))
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return spread_for_compute(df.select(id_col)).mapInPandas(
        _gen, "doc_id long, payload binary"
    )
