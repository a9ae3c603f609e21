"""Multimodal column operators (operators/multimodal.py) and the catalog
entries built on them: image metadata and pixel decode, thumbnails, PCM
and G.711 WAV decode, audio header metadata, frame sampling, and the
perceptual-hash, video-scene and audio-fingerprint entries."""

from __future__ import annotations

import os

import pytest

from event_streaming_spark.operators.multimodal import decode_image_meta, extract_image_meta
from event_streaming_spark.sources.readers import load_file
from tests.conftest import SF_SMALL


def test_multimodal_decode_stub(spark, tmp_path):
    import struct as _s

    d = tmp_path / "imgs"
    d.mkdir()
    # minimal PNG header: signature + IHDR length/type + 320x240 dims
    png = b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + b"IHDR" + _s.pack(">II", 320, 240) + b"\x00" * 16
    (d / "a.png").write_bytes(png)
    (d / "b.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    (d / "c.dat").write_bytes(b"garbage-bytes")

    meta = extract_image_meta(load_file(spark, str(d)))
    rows = {os.path.basename(r["path"]): r for r in meta.collect()}
    assert rows["a.png"]["format"] == "png"
    assert (rows["a.png"]["width"], rows["a.png"]["height"]) == (320, 240)
    assert rows["b.jpg"]["format"] == "jpeg" and rows["b.jpg"]["width"] == -2  # stubbed codec
    assert rows["c.dat"]["format"] == "unknown"

    # kernel contract: compressed formats raise past the header
    try:
        decode_image_meta(b"\xff\xd8\xff\xe0" + b"\x00" * 8)
        raised = False
    except NotImplementedError:
        raised = True
    assert raised


def _make_ppm(w, h, value=7):
    return b"P6\n%d %d\n255\n" % (w, h) + bytes([value]) * (w * h * 3)


def _make_bmp_24(w, h, value=9):
    import struct as _s

    row = bytes([value]) * (w * 3)
    pad = b"\x00" * ((-len(row)) % 4)
    raster = (row + pad) * h
    header = b"BM" + _s.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    info = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    return header + info + raster


def test_uncompressed_image_real_decode():
    """PPM and BMP pixel decode is REAL (numpy raster math, no codec lib)."""
    from event_streaming_spark.operators.multimodal import decode_image_meta

    fmt, w, h, ck = decode_image_meta(_make_ppm(4, 3, value=7))
    assert (fmt, w, h, ck) == ("ppm", 4, 3, 4 * 3 * 3 * 7)
    # BMP: width 3 → rows padded to 12 bytes; padding must NOT be counted
    fmt, w, h, ck = decode_image_meta(_make_bmp_24(3, 2, value=9))
    assert (fmt, w, h, ck) == ("bmp", 3, 2, 3 * 2 * 3 * 9)


def test_extract_image_meta_auto_kernel(spark, tmp_path):
    """mapInPandas plumbing with the auto-selected kernel really decodes
    an uncompressed image end to end."""
    import os as _os

    from event_streaming_spark.operators.multimodal import extract_image_meta

    p = tmp_path / "imgs"
    p.mkdir()
    (p / "a.ppm").write_bytes(_make_ppm(5, 4, value=3))
    (p / "b.bin").write_bytes(b"\x00garbage")
    df = spark.read.format("binaryFile").load(str(p))
    rows = {_os.path.basename(r["path"]): r for r in extract_image_meta(df).collect()}
    a = rows["a.ppm"]
    assert (a["format"], a["width"], a["height"], a["checksum64"]) == ("ppm", 5, 4, 5 * 4 * 3 * 3)
    assert rows["b.bin"]["format"] == "unknown"


def test_audio_and_frame_sampling_stubs(spark, tmp_path):
    import struct as _s
    from event_streaming_spark.operators.multimodal import (
        extract_audio_meta,
        sample_frame_offsets,
    )

    d = tmp_path / "media"
    d.mkdir()
    # minimal WAV: RIFF/WAVE header with 2ch 16kHz, byte_rate=64000, 128 data bytes
    wav = (b"RIFF" + _s.pack("<I", 36 + 128) + b"WAVE" + b"fmt " + _s.pack("<I", 16)
           + _s.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16) + b"data" + _s.pack("<I", 128)
           + b"\x00" * 128)
    (d / "a.wav").write_bytes(wav)
    (d / "b.mp3").write_bytes(b"ID3" + b"\x00" * 64)

    meta = {os.path.basename(r["path"]): r for r in
            extract_audio_meta(load_file(spark, str(d))).collect()}
    assert meta["a.wav"]["format"] == "wav"
    assert meta["a.wav"]["sample_rate"] == 16000 and meta["a.wav"]["n_channels"] == 2
    assert meta["a.wav"]["duration_ms"] == 2  # 128 bytes / 64000 B/s
    assert meta["b.mp3"]["format"] == "undecodable"  # codec gap surfaced, not hidden

    frames = sample_frame_offsets(
        load_file(spark, str(d), glob="*.wav", stat_only=True), frame_size=32, every_n=2
    ).collect()
    # 171 bytes of wav → 5 frames (0..4), every 2nd → frames 0,2,4
    got = sorted((r["frame_no"], r["byte_offset"]) for r in frames)
    assert got == [(0, 0), (2, 64), (4, 128)]


def _make_wav(freq_hz=440, sr=8000, n=8000, amp=0.5, channels=1, bits=16, extra_chunk=False):
    """Synthesize a PCM WAV: sine at freq_hz, optionally with a LIST
    chunk BEFORE data (the layout that breaks fixed-44-byte parsers)."""
    import math
    import struct as st

    samples = []
    for i in range(n):
        v = amp * math.sin(2 * math.pi * freq_hz * i / sr)
        for _ in range(channels):
            samples.append(int(v * 32767))
    data = b"".join(st.pack("<h", s) for s in samples)
    fmt = st.pack("<HHIIHH", 1, channels, sr, sr * channels * bits // 8, channels * bits // 8, bits)
    chunks = b"fmt " + st.pack("<I", len(fmt)) + fmt
    if extra_chunk:
        info = b"INFOIART" + st.pack("<I", 5) + b"test\x00" + b"\x00"  # odd size → pad byte
        chunks += b"LIST" + st.pack("<I", len(info)) + info
    chunks += b"data" + st.pack("<I", len(data)) + data
    return b"RIFF" + st.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_audio_pcm_real_decode():
    """numpy PCM decode recovers true signal features: duration exact,
    rms ≈ amp/√2, zcr ≈ 2·freq/sr — and survives a LIST chunk before
    data, which the fixed-offset header stub cannot."""
    import pytest as _pytest

    from event_streaming_spark.operators import multimodal as M

    wav = _make_wav(freq_hz=440, sr=8000, n=8000, amp=0.5)
    fmt, sr, ch, ns, dur, rms, peak, zcr = M.decode_audio_pcm(wav)
    assert (fmt, sr, ch, ns, dur) == ("wav", 8000, 1, 8000, 1000)
    assert abs(rms - 0.5 / 2 ** 0.5) < 0.01
    assert abs(peak - 0.5) < 0.01
    assert abs(zcr - 2 * 440 / 8000) < 0.005

    # chunk walker: LIST (odd-sized, padded) chunk between fmt and data
    wav2 = _make_wav(freq_hz=100, sr=8000, n=4000, amp=0.25, extra_chunk=True)
    fmt, sr, ch, ns, dur, rms, peak, zcr = M.decode_audio_pcm(wav2)
    assert (fmt, ns, dur) == ("wav", 4000, 500)
    assert abs(zcr - 2 * 100 / 8000) < 0.005

    # stereo mixes down
    wav3 = _make_wav(freq_hz=200, sr=4000, n=2000, amp=0.8, channels=2)
    fmt, sr, ch, ns, dur, rms, peak, zcr = M.decode_audio_pcm(wav3)
    assert (ch, ns, dur) == (2, 2000, 500)

    with _pytest.raises(NotImplementedError):
        M.decode_audio_pcm(b"ID3\x04" + b"\x00" * 64)


def test_extract_audio_features_spark(spark, tmp_path):
    """End-to-end: binaryFile scan → mapInPandas numpy decode; a non-WAV
    file degrades to a sentinel row instead of failing the batch."""
    import os as _os

    from event_streaming_spark.operators.multimodal import extract_audio_features
    from event_streaming_spark.sources.readers import load_file

    d = tmp_path / "audio"
    d.mkdir()
    (d / "tone.wav").write_bytes(_make_wav(freq_hz=440, sr=8000, n=8000, amp=0.5))
    (d / "bad.mp3").write_bytes(b"ID3\x04" + b"\x00" * 64)
    rows = {
        _os.path.basename(r["path"]): r
        for r in extract_audio_features(load_file(spark, str(d))).collect()
    }
    assert rows["tone.wav"]["format"] == "wav"
    assert rows["tone.wav"]["duration_ms"] == 1000
    assert abs(rows["tone.wav"]["rms"] - 0.3536) < 0.01
    assert rows["bad.mp3"]["format"] == "undecodable"


# ---------------------------------------------------------------------------
# Real PNG decode: fixtures are encoded IN-TEST by applying the scanline
# filters FORWARD (independent arithmetic); the decoder must invert them.
# ---------------------------------------------------------------------------


def _png_encode(px, color, filters, palette=None):
    """Minimal PNG writer: px is an (h, stride) ndarray of uint8; one
    filter type per row from `filters` (cycled)."""
    import struct as s
    import zlib

    import numpy as np

    def chunk(ctype, data):
        body = ctype + data
        return s.pack(">I", len(data)) + body + s.pack(">I", zlib.crc32(body))

    h, stride = px.shape
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    w = stride // ch
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = px[y].astype(np.int32)
        enc = np.empty(stride, dtype=np.int32)
        for i in range(stride):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            if f == 0:
                enc[i] = cur[i]
            elif f == 1:
                enc[i] = cur[i] - a
            elif f == 2:
                enc[i] = cur[i] - b
            elif f == 3:
                enc[i] = cur[i] - (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = cur[i] - pred
        raw.append(f)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    ihdr = s.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette)
    out += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return out


def test_png_decode_all_filters_rgb():
    import numpy as np

    from event_streaming_spark.operators.multimodal import decode_image_meta

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(5, 6 * 3), dtype=np.uint8)  # 6x5 RGB
    data = _png_encode(px, color=2, filters=[0, 1, 2, 3, 4])
    assert decode_image_meta(data) == ("png", 6, 5, int(px.astype(np.int64).sum()))


def test_png_decode_gray_rgba_and_palette():
    import numpy as np

    from event_streaming_spark.operators.multimodal import decode_image_meta

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, size=(4, 7), dtype=np.uint8)
    assert decode_image_meta(_png_encode(gray, 0, [4, 3, 1, 2])) == (
        "png", 7, 4, int(gray.astype(np.int64).sum()))

    rgba = rng.randint(0, 256, size=(3, 4 * 4), dtype=np.uint8)
    assert decode_image_meta(_png_encode(rgba, 6, [1, 4, 2])) == (
        "png", 4, 3, int(rgba.astype(np.int64).sum()))

    # palette: checksum is over EXPANDED RGB bytes, not indices
    idx = rng.randint(0, 4, size=(3, 5), dtype=np.uint8)
    pal = bytes(range(12))  # 4 RGB entries
    want = sum(pal[3 * int(i) + k] for i in idx.reshape(-1) for k in range(3))
    assert decode_image_meta(_png_encode(idx, 3, [0, 1], palette=pal)) == ("png", 5, 3, want)


def test_png_stdlib_kernel_in_spark_pipeline(spark, tmp_path):
    import os as _os

    import numpy as np

    from event_streaming_spark.operators.multimodal import extract_image_meta

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(8, 9 * 3), dtype=np.uint8)
    p = tmp_path / "pngs"
    p.mkdir()
    (p / "real.png").write_bytes(_png_encode(px, 2, [0, 1, 2, 3, 4]))
    # 16-bit depth → kernel degrades to header dims + byte checksum, no sentinel
    import struct as _s
    import zlib as _z
    exotic = (b"\x89PNG\r\n\x1a\n"
              + _s.pack(">I", 13) + b"IHDR" + _s.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
              + _s.pack(">I", 0)
              + _s.pack(">I", 1) + b"IDAT" + _z.compress(b"\x00") + _s.pack(">I", 0))
    (p / "deep.png").write_bytes(exotic)
    df = spark.read.format("binaryFile").load(str(p))
    rows = {_os.path.basename(r["path"]): r for r in extract_image_meta(df).collect()}
    real = rows["real.png"]
    assert (real["format"], real["width"], real["height"], real["checksum64"]) == (
        "png", 9, 8, int(px.astype(np.int64).sum()))
    deep = rows["deep.png"]
    assert (deep["format"], deep["width"], deep["height"]) == ("png", 2, 2)
    assert deep["checksum64"] > 0  # header-parse fallback, not the -2 sentinel


def test_decode_pixels_and_resize_nearest():
    import numpy as np

    from event_streaming_spark.operators.multimodal import (
        decode_pixels,
        resize_nearest,
    )

    # 4x2 gradient PPM
    px = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    ppm = b"P6\n4 2\n255\n" + px.tobytes()
    got = decode_pixels(ppm)
    assert np.array_equal(got, px)
    # nearest resize 4x2 -> 2x1: rows [0], cols [0, 2] (floor mapping)
    th = resize_nearest(got, 2, 1)
    assert np.array_equal(th, px[[0]][:, [0, 2]])


def test_decode_pixels_png_roundtrip():
    import struct as _struct
    import zlib

    import numpy as np

    from event_streaming_spark.operators.multimodal import decode_pixels

    w, h = 5, 3
    px = (np.arange(w * h * 3, dtype=np.uint64) * 7 % 256).astype(np.uint8).reshape(h, w, 3)
    raw = b"".join(b"\x00" + px[r].tobytes() for r in range(h))  # filter 0 rows

    def chunk(ctype, data):
        body = ctype + data
        return _struct.pack(">I", len(data)) + body + _struct.pack(">I", zlib.crc32(body))

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_pixels(png), px)


def test_ppm_stream_frame_sampling():
    import numpy as np

    from event_streaming_spark.operators.multimodal import sample_frames

    frames = []
    for i in range(5):
        px = np.full((2, 3, 3), i + 1, dtype=np.uint8)
        frames.append(b"P6\n3 2\n255\n" + px.tobytes())
    stream = b"".join(frames)
    got = sample_frames(stream, every_n=2)
    assert [(i, w, h) for i, w, h, _ in got] == [(0, 3, 2), (2, 3, 2), (4, 3, 2)]
    assert [ck for *_, ck in got] == [18 * 1, 18 * 3, 18 * 5]


def test_extract_thumbnails_spark_op(spark, tmp_path):
    import numpy as np

    from event_streaming_spark.operators.multimodal import (
        decode_pixels,
        extract_thumbnails,
        resize_box,
    )

    d = tmp_path / "imgs"
    d.mkdir()
    px = (np.arange(16 * 8 * 3, dtype=np.uint64) * 11 % 256).astype(np.uint8).reshape(8, 16, 3)
    (d / "grad.ppm").write_bytes(b"P6\n16 8\n255\n" + px.tobytes())
    (d / "junk.bin").write_bytes(b"\x00\x01\x02")
    df = spark.read.format("binaryFile").load(str(d))
    rows = {r["path"].split("/")[-1]: r for r in extract_thumbnails(df, 4, 4).collect()}
    want = int(resize_box(decode_pixels(b"P6\n16 8\n255\n" + px.tobytes()), 4, 4)
               .astype("int64").sum())
    g = rows["grad.ppm"]
    assert (g["width"], g["height"], g["thumb_checksum64"]) == (16, 8, want)
    assert rows["junk.bin"]["width"] == -1


def test_g711_mulaw_alaw_decode():
    """G.711 companded WAV (fmt 6/7) expands via the closed-form tables:
    canonical code points decode exactly, and a companded sine's signal
    features match its linear-PCM version within companding error."""
    import math
    import struct as st

    from event_streaming_spark.operators import multimodal as M

    def g711_wav(codes: bytes, audio_fmt: int, sr=8000):
        fmt = st.pack("<HHIIHH", audio_fmt, 1, sr, sr, 1, 8)
        chunks = (
            b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", len(codes)) + codes
        )
        return b"RIFF" + st.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    # canonical code points (ITU-T G.711 reference tables)
    #   µ-law: 0x00 → −32124, 0x80 → +32124, 0xFF → 0
    fmt7 = g711_wav(bytes([0x00, 0x80, 0xFF]), 7)
    _, _, _, _, _, _, peak, _ = M.decode_audio_pcm(fmt7)
    assert abs(peak - 32124 / 32768.0) < 1e-9
    #   A-law: 0x55 → −8, 0xD5 → +8, 0x2A → −2912? use peak of ±32256
    fmt6 = g711_wav(bytes([0xAA, 0x2A]), 6)  # 0xAA^0x55=0xFF → +max, 0x2A^0x55=0x7F → −max
    _, _, _, _, _, _, peak6, _ = M.decode_audio_pcm(fmt6)
    assert abs(peak6 - 32256 / 32768.0) < 1e-9

    # companded sine ≈ linear sine in rms/zcr (µ-law reference encoder)
    def linear2ulaw(s):
        BIAS, CLIP = 0x84, 32635
        sign = 0x80 if s < 0 else 0
        s = min(abs(s), CLIP) + BIAS
        exp = 7
        mask = 0x4000
        while exp > 0 and not (s & mask):
            exp -= 1
            mask >>= 1
        mant = (s >> (exp + 3)) & 0x0F
        return ~(sign | (exp << 4) | mant) & 0xFF

    sr, n, freq, amp = 8000, 8000, 440, 0.5
    pcm16 = [int(amp * 32767 * math.sin(2 * math.pi * freq * i / sr)) for i in range(n)]
    codes = bytes(linear2ulaw(s) for s in pcm16)
    fmt, srate, ch, ns, dur, rms, peak, zcr = M.decode_audio_pcm(g711_wav(codes, 7, sr))
    assert (fmt, srate, ns, dur) == ("wav", 8000, 8000, 1000)
    assert abs(rms - amp / 2 ** 0.5) < 0.01  # companding error ≪ 1%
    assert abs(zcr - 2 * freq / sr) < 0.005

    # ADPCM (fmt=2) still genuinely needs a codec
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        M.decode_audio_pcm(g711_wav(b"\x00\x00", 2))


def test_resize_box_is_cell_mean_and_upscale_falls_back():
    import numpy as np

    from event_streaming_spark.operators.multimodal import resize_box, resize_nearest

    # exact 2x downscale: every output pixel is the rounded mean of its 2x2 cell
    px = (np.arange(8 * 8 * 3, dtype=np.uint64) * 7 % 256).astype(np.uint8).reshape(8, 8, 3)
    got = resize_box(px, 4, 4)
    cells = px.astype(np.int64).reshape(4, 2, 4, 2, 3)
    want = ((cells.sum(axis=(1, 3)) + 2) // 4).astype(np.uint8)  # round half up, area 4
    assert np.array_equal(got, want)
    # constant image stays constant at any ragged scale
    const = np.full((10, 7, 3), 123, dtype=np.uint8)
    assert np.array_equal(resize_box(const, 3, 4), np.full((4, 3, 3), 123, dtype=np.uint8))
    # upscale falls back to nearest (identical output)
    assert np.array_equal(resize_box(px, 16, 16), resize_nearest(px, 16, 16))


def test_webp_dimensions_all_container_forms():
    """WebP metadata without libwebp: VP8X (extended), VP8L (lossless),
    VP8 (lossy key frame) headers all yield true canvas dimensions;
    pixel decode stays gated."""
    import struct as st

    import pytest as _pytest

    from event_streaming_spark.operators import multimodal as M

    def riff(fourcc, payload):
        body = b"WEBP" + fourcc + st.pack("<I", len(payload)) + payload
        return b"RIFF" + st.pack("<I", len(body)) + body

    # VP8X: 4 flag bytes + 24-bit (w-1) + 24-bit (h-1)
    vp8x = riff(b"VP8X", bytes(4) + (639).to_bytes(3, "little") + (479).to_bytes(3, "little"))
    assert M.sniff_format(vp8x) == "webp"
    assert M.webp_dimensions(vp8x) == (640, 480)
    # VP8L: signature 0x2F + packed 14-bit dims
    bits = (299) | ((199) << 14)
    vp8l = riff(b"VP8L", bytes([0x2F]) + st.pack("<I", bits))
    assert M.webp_dimensions(vp8l) == (300, 200)
    # VP8 lossy: 3-byte frame tag + start code + 14-bit dims
    vp8 = riff(b"VP8 ", bytes(3) + b"\x9d\x01\x2a" + st.pack("<HH", 320, 240))
    assert M.webp_dimensions(vp8) == (320, 240)
    # kernel surface: dims flow through the metadata path, decode gates
    fmt, w, h, _ = M.decode_image_meta(vp8x)
    assert (fmt, w, h) == ("webp", 640, 480)
    with _pytest.raises(NotImplementedError):
        M.decode_pixels(vp8x)
    # a WAV is still riff, an AVI is still riff — only WEBP re-sniffs
    assert M.sniff_format(b"RIFF\x00\x00\x00\x00WAVE") == "riff"


def test_mp3_and_flac_header_metadata():
    """No-codec audio metadata: MP3 frame-header (CBR duration estimate,
    ID3v2 skip) and FLAC STREAMINFO (exact duration)."""
    import pytest as _pytest

    from event_streaming_spark.operators import multimodal as M

    # MPEG-1 Layer III, 128 kbps, 44.1 kHz, stereo; 4 KiB of payload
    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 4092
    fmt, sr, ch, dur = M.decode_audio_stub(mp3)
    assert (fmt, sr, ch) == ("mp3", 44100, 2)
    assert dur == (4096 * 8 * 1000) // 128000
    # same stream behind an ID3v2 tag (syncsafe size 100)
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100 + mp3
    assert M.decode_audio_stub(id3)[:3] == ("mp3", 44100, 2)

    # FLAC STREAMINFO: 22050 Hz, mono, 44100 samples → exactly 2000 ms
    bits = (22050 << 44) | (0 << 41) | (15 << 36) | 44100
    streaminfo = b"\x00" * 10 + bits.to_bytes(8, "big") + b"\x00" * 16
    flac = b"fLaC" + b"\x80" + len(streaminfo).to_bytes(3, "big") + streaminfo
    fmt, sr, ch, dur = M.decode_audio_stub(flac)
    assert (fmt, sr, ch, dur) == ("flac", 22050, 1, 2000)

    # garbage after an ID3 tag still gates (no frame sync)
    with _pytest.raises(NotImplementedError):
        M.decode_audio_stub(b"ID3\x04\x00\x00\x00\x00\x00\x00" + b"\x00" * 16)


def test_phash_hamming_curve_monotone(spark):
    from event_streaming_spark.plans.multimodal import (
        _HTC_RADII,
        multimodal_phash_hamming_threshold_curve,
    )

    rows = multimodal_phash_hamming_threshold_curve(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r.hamming_radius for r in rows] == list(_HTC_RADII)
    pair_counts = [r.n_pairs for r in rows]
    slot_counts = [r.n_doc_slots for r in rows]
    assert pair_counts == sorted(pair_counts)
    assert slot_counts == sorted(slot_counts)


def test_video_scene_segments_invariants(spark):
    from event_streaming_spark.plans.multimodal import (
        _VS_FRAMES,
        _VS_N_DOCS,
        multimodal_video_scene_segments,
    )

    rows = multimodal_video_scene_segments(spark, SF_SMALL).collect()
    assert len(rows) == _VS_N_DOCS
    seen_multi = False
    for r in rows:
        assert r.n_frames == _VS_FRAMES
        assert 1 <= r.n_scenes <= _VS_FRAMES
        assert 1 <= r.longest_scene_frames <= _VS_FRAMES
        # first cut exists iff there is more than one scene
        assert (r.first_cut_idx == -1) == (r.n_scenes == 1)
        if r.first_cut_idx != -1:
            assert 1 <= r.first_cut_idx < _VS_FRAMES
        seen_multi = seen_multi or r.n_scenes > 1
    assert seen_multi, "seed bits should plant cuts in most videos"
    # videos in the same residue class share the seed => identical structure
    by_group = {}
    for r in rows:
        key = r.video_id % 30
        val = (r.n_scenes, r.longest_scene_frames, r.first_cut_idx)
        assert by_group.setdefault(key, val) == val


def test_audio_fingerprint_matches_are_within_class(spark):
    from event_streaming_spark.plans.multimodal import (
        _AFP_GROUPS,
        _AFP_N_DOCS,
        multimodal_audio_fingerprint_match,
    )

    rows = multimodal_audio_fingerprint_match(spark, SF_SMALL).collect()
    # every clip pair sharing a landmark hash is a replica pair: classes
    # walk distinct Z256 permutations, so cross-class energy collisions
    # do not happen — all C(6,2) pairs per class match, nothing else
    n_per_class = _AFP_N_DOCS // _AFP_GROUPS
    assert len(rows) == _AFP_GROUPS * n_per_class * (n_per_class - 1) // 2
    for r in rows:
        assert r.clip_a % _AFP_GROUPS == r.clip_b % _AFP_GROUPS
        assert r.n_shared >= 1


def _pinned_media():
    """name → bytes for inputs no other test pushes through the metadata
    kernel (images) or ``decode_audio_pcm`` (.wav)."""
    import struct as st
    import zlib

    import numpy as np

    from event_streaming_spark.operators.avidemux import build_mjpeg_avi
    from event_streaming_spark.operators.jpegcodec import encode_jpeg
    from event_streaming_spark.operators.multimodal import encode_wav

    def riff(fourcc, payload):
        body = b"WEBP" + fourcc + st.pack("<I", len(payload)) + payload
        return b"RIFF" + st.pack("<I", len(body)) + body

    def chunk(ctype, data):
        return st.pack(">I", len(data)) + ctype + data + st.pack(">I", zlib.crc32(ctype + data))

    def px(high, shape):
        return rng.randint(0, high, size=shape).astype(np.uint8)

    sig = b"\x89PNG\r\n\x1a\n"
    rng = np.random.RandomState(23)
    frame = px(256, (8, 16, 3))
    vp8x = bytes(4) + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    ihdr = st.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    return {
        "vp8.webp": riff(b"VP8 ", bytes(3) + b"\x9d\x01\x2a" + st.pack("<HH", 320, 240)),
        "vp8l.webp": riff(b"VP8L", bytes([0x2F]) + st.pack("<I", 299 | (199 << 14))),
        "vp8x.webp": riff(b"VP8X", vp8x),
        "mjpeg.avi": build_mjpeg_avi([encode_jpeg(frame)] * 2, width=16, height=8),
        "header_only.png": sig + st.pack(">I", 13) + b"IHDR" + st.pack(">II", 320, 240) + bytes(16),
        "bad_idat.png": sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"notzlib")
        + chunk(b"IEND", b""),
        "gray.png": _png_encode(px(256, (4, 7)), 0, [0, 1, 2, 3, 4]),
        "gray_alpha.png": _png_encode(px(256, (3, 5 * 2)), 4, [4, 3, 2, 1, 0]),
        "rgba.png": _png_encode(px(256, (3, 4 * 4)), 6, [1, 4, 2]),
        "palette.png": _png_encode(px(4, (3, 5)), 3, [0, 1], palette=bytes(range(12))),
        "stereo16.wav": _make_wav(freq_hz=300, sr=8000, n=800, amp=0.6, channels=2),
        "alaw.wav": encode_wav(bytes((11 + 29 * k) % 256 for k in range(400)), audio_fmt=6),
    }


_PINNED = {
    "vp8.webp": ("webp", 320, 240, 1418),
    "vp8l.webp": ("webp", 300, 200, 1274),
    "vp8x.webp": ("webp", 640, 480, 1322),
    "mjpeg.avi": ("riff", -2, -2, -2),
    "header_only.png": ("png", 320, 240, 1078),
    "bad_idat.png": ("png", 4, 4, 3390),
    "gray.png": ("png", 7, 4, 2749),
    "gray_alpha.png": ("png", 5, 3, 4021),
    "rgba.png": ("png", 4, 3, 5386),
    "palette.png": ("png", 5, 3, 297),
    "stereo16.wav": ("wav", 8000, 2, 800, 100, 0.4242358820487223, 0.5999755859375, 0.07375),
    "alaw.wav": ("wav", 8000, 1, 400, 50, 0.3148551529459332, 0.984375, 0.225),
}


@pytest.mark.parametrize("name", list(_PINNED))
def test_media_outputs_pinned(spark, name):
    """Exact outputs of the image metadata kernel (via extract_image_meta)
    and decode_audio_pcm: WebP and AVI headers (an AVI still reads -2),
    header-only and corrupt-IDAT PNGs (header dims + byte checksum), gray
    PNGs sum one channel, gray+alpha and RGBA sums include alpha, palette
    PNGs sum the expanded RGB; 16-bit stereo and A-law WAV features."""
    from event_streaming_spark.operators.multimodal import decode_audio_pcm

    content = _pinned_media()[name]
    if name.endswith(".wav"):
        assert decode_audio_pcm(content) == _PINNED[name]
        return
    df = spark.createDataFrame(
        [(name, len(content), bytearray(content))], "path STRING, length LONG, content BINARY"
    )
    (row,) = extract_image_meta(df).collect()
    assert (row["format"], row["width"], row["height"], row["checksum64"]) == _PINNED[name]


def test_extract_thumbnails_degrades_corrupt_rows(spark):
    """A truncated PPM (numpy ValueError) and a PNG whose IDAT is not
    zlib data (zlib.error) become -3 rows; the batch's good image still
    gets its thumbnail."""
    import struct as st
    import zlib

    from event_streaming_spark.operators.multimodal import extract_thumbnails

    def chunk(ctype, data):
        return st.pack(">I", len(data)) + ctype + data + st.pack(">I", zlib.crc32(ctype + data))

    good = _make_ppm(6, 4, value=5)
    bad_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", st.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", b"notzlib")
        + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame(
        [("good.ppm", bytearray(good)), ("short.ppm", bytearray(good[:-10])),
         ("bad.png", bytearray(bad_png))],
        "path STRING, content BINARY",
    ).coalesce(1)
    rows = {r["path"]: tuple(r)[1:] for r in extract_thumbnails(df, 2, 2).collect()}
    assert rows["good.ppm"] == (6, 4, 2, 2, 2 * 2 * 3 * 5)
    assert rows["short.ppm"] == (-3,) * 5
    assert rows["bad.png"] == (-3,) * 5
