"""Multimodal (image/audio/video) column operators — SURVEY §2.5.

Design: media rides through the engine as an opaque ``content: BINARY``
column plus typed metadata (the ``binaryFile`` source shape —
sources/readers.py).  Per-item decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so bytes stay in columnar batches end to
end; at 100 TB the decode stage is embarrassingly parallel and pipelines
into the scan with no shuffle.

Codec libraries (Pillow/librosa/ffmpeg) are NOT in this container, so
the kernels are stdlib+numpy: REAL raster decode for PPM, BMP, PNG
(zlib inflate + all five filters), baseline JPEG (Huffman + IDCT,
operators/jpegcodec.py) and GIF (LZW, operators/gifcodec.py), REAL
signal features for PCM and G.711 WAV.  Formats
that genuinely need an external codec (non-baseline JPEG, H.264)
degrade to header metadata where possible and otherwise raise
NotImplementedError — graded capability gates, never silent fakes.

One decode path per media kind: ``_decode_raster`` holds the per-format
image decoders behind both ``decode_pixels`` and the metadata kernel
``decode_image_meta``; ``_read_wav`` is the one RIFF/WAVE reader behind
every audio kernel; ``_map_media`` is the one per-row degrade policy
(-2 undecodable, -3 corrupt) of the four ``extract_*`` stages.
"""

from __future__ import annotations

import functools
import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("checksum64", T.LongType()),
    ]
)

_MAGIC = {
    b"\x89PNG\r\n\x1a\n": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",
    b"GIF8": "gif",
    b"P6": "ppm",
    b"BM": "bmp",
}


def sniff_format(content: bytes) -> str:
    for magic, name in _MAGIC.items():
        if content[: len(magic)] == magic:
            if name == "riff" and content[8:12] == b"WEBP":
                return "webp"
            return name
    return "unknown"


def webp_dimensions(content: bytes) -> tuple[int, int]:
    """(width, height) from a WebP header — all three container forms,
    no codec: VP8X (extended: 24-bit canvas dims), VP8L (lossless:
    14-bit packed dims), VP8 (lossy: key-frame dims past the start
    code).  Pixel decode genuinely needs libwebp and stays gated."""
    if content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP")
    fourcc = content[12:16]
    if fourcc == b"VP8X" and len(content) >= 30:
        w = int.from_bytes(content[24:27], "little") + 1
        h = int.from_bytes(content[27:30], "little") + 1
        return w, h
    if fourcc == b"VP8L" and len(content) >= 25 and content[20] == 0x2F:
        bits = int.from_bytes(content[21:25], "little")
        return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
    if fourcc == b"VP8 " and len(content) >= 30:
        # key frame: start code 9D 01 2A, then 14-bit dims (LE, low bits)
        if content[23:26] != b"\x9d\x01\x2a":
            raise ValueError("VP8 inter-frame or corrupt header")
        w = int.from_bytes(content[26:28], "little") & 0x3FFF
        h = int.from_bytes(content[28:30], "little") & 0x3FFF
        return w, h
    raise ValueError(f"unrecognized WebP chunk {fourcc!r}")


# ---------------------------------------------------------------------------
# Image decode: one raster decoder per format, stdlib + numpy only.  PPM
# (P6, maxval ≤255) and 24bpp BI_RGB BMP are raw rasters; a baseline PNG
# needs no codec library either — DEFLATE lives in stdlib zlib and filter
# reconstruction is bytewise arithmetic (8-bit gray / gray+alpha / RGB /
# RGBA / palette, non-interlaced, all five scanline filters incl. Paeth);
# JPEG and GIF decode in operators/jpegcodec.py and gifcodec.py.  Each
# returns the raster at its native channels: ``decode_pixels`` converts
# it to RGB, and the metadata kernel sums it (checksum64 = exact sum of
# pixel bytes, palette expanded, alpha counted, BMP row padding not).
# 16-bit and Adam7 raise NotImplementedError — graded degradation, same
# as non-PCM WAV.
# ---------------------------------------------------------------------------


def _ppm_header(content: bytes, offset: int = 0) -> tuple[int, int, int]:
    """Parse one P6 header at ``offset`` → (w, h, raster_offset)."""
    if content[offset : offset + 2] != b"P6":
        raise NotImplementedError("not a P6 PPM frame")
    # "P6" <ws> width <ws> height <ws> maxval <single-ws> raster
    parts, idx = [], offset + 2
    while len(parts) < 3:
        while idx < len(content) and content[idx : idx + 1].isspace():
            idx += 1
        if content[idx : idx + 1] == b"#":  # comment line
            idx = content.index(b"\n", idx) + 1
            continue
        start = idx
        while idx < len(content) and not content[idx : idx + 1].isspace():
            idx += 1
        parts.append(int(content[start:idx]))
    w, h, maxval = parts
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    return w, h, idx + 1  # single whitespace before raster


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(content: bytes) -> Iterator[tuple[str, bytes]]:
    pos = 8  # past signature
    while pos + 8 <= len(content):
        (size,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8].decode("latin-1")
        yield ctype, content[pos + 8 : pos + 8 + size]
        pos += 12 + size  # len + type + data + crc
        if ctype == "IEND":
            break


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_defilter(raw: bytes, height: int, stride: int, bpp: int):
    """Invert per-scanline filtering → (height, stride) uint8 array.

    Filters None/Up are vectorized; Sub/Average/Paeth walk the row (their
    recurrence is inherently sequential in the pixel dimension)."""
    import numpy as np

    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw, np.uint8, stride, pos).astype(np.int32)
        pos += stride
        if ftype == 0:
            cur = line
        elif ftype == 2:
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):
            cur = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                if ftype == 1:
                    v = line[i] + a
                elif ftype == 3:
                    v = line[i] + (a + int(prev[i])) // 2
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    v = line[i] + _paeth(a, int(prev[i]), c)
                cur[i] = v & 0xFF
        else:
            raise NotImplementedError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _decode_raster(content: bytes, fmt: str):
    """Full raster of a still image → (width, height, uint8 ndarray (h, w,
    channels)) at its native channels: PPM and BMP RGB, PNG gray (1) /
    gray+alpha (2) / RGB (3) / RGBA (4) with palettes expanded to RGB,
    JPEG and GIF RGB.  Width and height are the header's.

    Raises NotImplementedError for anything needing a codec library."""
    import numpy as np

    if fmt == "ppm":
        w, h, off = _ppm_header(content)
        raster = np.frombuffer(content, dtype=np.uint8, count=w * h * 3, offset=off)
        return w, h, raster.reshape(h, w, 3)
    if fmt == "bmp":
        data_off = struct.unpack("<I", content[10:14])[0]
        w, h = struct.unpack("<ii", content[18:26])
        bpp = struct.unpack("<H", content[28:30])[0]
        compression = struct.unpack("<I", content[30:34])[0]
        if bpp != 24 or compression != 0:
            raise NotImplementedError(f"BMP bpp={bpp} compression={compression} needs a codec")
        row_bytes = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        rows = np.frombuffer(
            content, dtype=np.uint8, count=row_bytes * abs(h), offset=data_off
        ).reshape(abs(h), row_bytes)[:, : w * 3].reshape(abs(h), w, 3)
        if h > 0:  # bottom-up storage
            rows = rows[::-1]
        return w, abs(h), rows[:, :, ::-1]  # BGR → RGB
    if fmt == "png":
        import zlib

        ihdr = plte = None
        idat = bytearray()
        for ctype, data in _png_chunks(content):
            if ctype == "IHDR":
                ihdr = data
            elif ctype == "PLTE":
                plte = data
            elif ctype == "IDAT":
                idat.extend(data)
        if ihdr is None or not idat:
            raise NotImplementedError("missing IHDR/IDAT")
        w, h, depth, color, _comp, _filt, interlace = struct.unpack(">IIBBBBB", ihdr)
        if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
            raise NotImplementedError(
                f"PNG depth={depth} color={color} interlace={interlace} beyond this kernel"
            )
        ch = _PNG_CHANNELS[color]
        raw = zlib.decompress(bytes(idat))
        if len(raw) != h * (w * ch + 1):
            raise NotImplementedError("raster size mismatch (corrupt or exotic PNG)")
        px = _png_defilter(raw, h, w * ch, bpp=ch).reshape(h, w, ch)
        if color != 3:
            return w, h, px
        if plte is None:
            raise NotImplementedError("palette PNG without PLTE")
        return w, h, np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)[px[:, :, 0]]
    if fmt in ("jpeg", "gif"):
        from event_streaming_spark.operators.gifcodec import decode_gif
        from event_streaming_spark.operators.jpegcodec import decode_jpeg

        px = (decode_jpeg if fmt == "jpeg" else decode_gif)(content)
        return px.shape[1], px.shape[0], px
    raise NotImplementedError(f"no pixel kernel for format {fmt!r}")


def decode_pixels(content: bytes):
    """Full raster → uint8 ndarray (h, w, 3), for PPM / BMP / PNG / JPEG /
    GIF and the first frame of an MJPEG AVI.

    Alpha channels are dropped, grayscale is expanded, palettes resolved,
    BMP's bottom-up BGR rows flipped/reordered, JPEG entropy-decoded by
    the stdlib+numpy baseline codec — callers always get RGB.
    """
    import numpy as np

    fmt = sniff_format(content)
    if fmt == "riff" and content[8:12] == b"AVI ":
        # video still: first MJPEG frame (same first-frame semantics as
        # GIF); non-MJPEG codecs raise through sample_mjpeg_frames' gate
        from event_streaming_spark.operators.avidemux import avi_info, iter_video_frames
        from event_streaming_spark.operators.jpegcodec import decode_jpeg

        if avi_info(content)["video_codec"] not in ("mjpg", "mjpeg"):
            raise NotImplementedError("AVI still-frame decode needs MJPEG")
        for _idx, off, size in iter_video_frames(content):
            return decode_jpeg(content[off : off + size])
        raise NotImplementedError("AVI with no video frames")
    _w, _h, px = _decode_raster(content, fmt)
    if px.shape[2] < 3:  # gray / gray+alpha: the gray channel thrice
        px = np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3].copy()


def decode_image_meta(content: bytes) -> tuple[str, int, int, int]:
    """The image metadata kernel → (format, width, height, checksum64).

    Decodable rasters report true dims and their pixel sum.  A PNG, JPEG
    or GIF that does not decode (16-bit, interlaced, progressive-only
    features, corrupt data) degrades to header dims (PNG IHDR, JPEG SOF,
    GIF screen; WebP from its VP8/VP8L/VP8X header) plus a byte checksum
    instead of a sentinel; without header dims jpeg/gif/riff/webp raise
    NotImplementedError, and other bytes read (format, -1, -1, checksum).
    PPM/BMP errors propagate: there is no header fallback for them.
    """
    import numpy as np

    fmt = sniff_format(content)
    if fmt == "bmp" and len(content) < 54:  # no full header: a codec gap here
        raise NotImplementedError("BMP shorter than its 54-byte header")
    try:
        w, h, px = _decode_raster(content, fmt)
        return fmt, w, h, int(px.sum(dtype=np.int64))
    except Exception:
        if fmt in ("ppm", "bmp"):
            raise
    checksum = sum(content[:4096]) + len(content)
    try:
        if fmt == "png" and len(content) >= 24:
            # IHDR immediately follows the 8-byte signature: width/height at 16..24
            dims = struct.unpack(">II", content[16:24])
        elif fmt == "jpeg" and len(content) >= 10:
            from event_streaming_spark.operators.jpegcodec import jpeg_dimensions

            dims = jpeg_dimensions(content)
        elif fmt == "gif" and len(content) >= 13:
            from event_streaming_spark.operators.gifcodec import gif_dimensions

            dims = gif_dimensions(content)
        elif fmt == "webp":
            dims = webp_dimensions(content)
        else:
            dims = None
    except Exception:
        dims = None
    if dims is not None:
        return fmt, int(dims[0]), int(dims[1]), checksum
    if fmt in ("jpeg", "gif", "riff", "webp"):
        raise NotImplementedError(
            f"{fmt} pixel decode needs a codec library (Pillow/ffmpeg) — "
            "not available in this environment"
        )
    return fmt, -1, -1, checksum


def encode_png(img, filters: tuple[int, ...] = (0, 1, 2, 3, 4)) -> bytes:
    """Minimal PNG encoder (stdlib zlib): 8-bit grayscale ``(H, W)`` or
    RGB ``(H, W, 3)``, no interlace.  ``filters`` cycles per scanline
    (default: all five types) so an encode→``decode_image_meta`` roundtrip
    exercises every defilter path, including the sequential Sub/Average/
    Paeth recurrences.  Forward filtering per the PNG spec operates on
    the ORIGINAL bytes of the current and prior scanlines — independent
    arithmetic from the decoder's inversion, so the roundtrip is a real
    differential check, not the same code run twice."""
    import zlib

    import numpy as np

    px = np.asarray(img, dtype=np.uint8)
    if px.ndim == 2:
        color, ch = 0, 1
    elif px.ndim == 3 and px.shape[2] == 3:
        color, ch = 2, 3
    else:
        raise NotImplementedError("encode_png: gray (H,W) or RGB (H,W,3) only")
    h, w = int(px.shape[0]), int(px.shape[1])
    flat = px.reshape(h, w * ch).astype(np.int32)
    raw = bytearray()
    zeros = np.zeros(ch, dtype=np.int32)
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        f = int(filters[y % len(filters)])
        a = np.concatenate([zeros, cur[:-ch]]) if w * ch > ch else np.zeros_like(cur)
        b = prev
        c = np.concatenate([zeros, prev[:-ch]]) if w * ch > ch else np.zeros_like(cur)
        if f == 0:
            out = cur
        elif f == 1:
            out = cur - a
        elif f == 2:
            out = cur - b
        elif f == 3:
            out = cur - (a + b) // 2
        elif f == 4:
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
            out = cur - pred
        else:
            raise NotImplementedError(f"unknown PNG filter type {f}")
        raw.append(f)
        raw.extend((out & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        import zlib as _z

        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def _map_media(
    binary_df: DataFrame,
    keys: list[str],
    schema: T.StructType,
    kernel: Callable[[bytes], tuple],
    sentinel: Callable[[bytes, int], tuple],
) -> DataFrame:
    """Run ``kernel`` over each row's ``content`` in Arrow-batched
    mapInPandas → the ``keys`` columns followed by the kernel's output.

    One bad file never kills the batch: a kernel that raises
    NotImplementedError (the media needs a codec) yields
    ``sentinel(content, -2)``; any other exception (corrupt bytes: a zlib
    error, a short raster, a lying chunk size) ``sentinel(content, -3)``."""
    columns = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for *key, content in zip(*(pdf[k] for k in keys), pdf["content"]):
                content = bytes(content)
                try:
                    values = kernel(content)
                except NotImplementedError:
                    values = sentinel(content, -2)
                except Exception:
                    values = sentinel(content, -3)
                out.append((*key, *values))
            yield pd.DataFrame(out, columns=columns)

    return binary_df.select(*keys, "content").mapInPandas(run, schema)


def extract_image_meta(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → typed metadata (``decode_image_meta``) via
    Arrow-batched mapInPandas; a failed row keeps its sniffed format."""
    return _map_media(
        binary_df,
        ["path", "length"],
        IMAGE_META_SCHEMA,
        decode_image_meta,
        lambda content, code: (sniff_format(content), code, code, code),
    )


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


#: MPEG-1 Layer III bitrate table (kbps, index 1-14) and sample rates.
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)


def mp3_stream_meta(content: bytes) -> tuple[int, int, int]:
    """(sample_rate, n_channels, duration_ms_estimate) from the first
    MPEG-1 Layer III frame header — no entropy decode.  Skips an ID3v2
    prefix; duration assumes CBR (header bitrate × payload size), the
    standard no-decode estimate.  Raises ValueError when no valid frame
    header exists."""
    off = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        # syncsafe 28-bit tag size
        sz = 0
        for b in content[6:10]:
            sz = (sz << 7) | (b & 0x7F)
        off = 10 + sz
    hdr = content[off : off + 4]
    if len(hdr) < 4 or hdr[0] != 0xFF or (hdr[1] & 0xE0) != 0xE0:
        raise ValueError("no MPEG frame sync")
    version = (hdr[1] >> 3) & 0x03  # 3 = MPEG-1
    layer = (hdr[1] >> 1) & 0x03  # 1 = Layer III
    if version != 3 or layer != 1:
        raise ValueError("only MPEG-1 Layer III headers parsed")
    br_idx = (hdr[2] >> 4) & 0x0F
    sr_idx = (hdr[2] >> 2) & 0x03
    if br_idx in (0, 15) or sr_idx == 3:
        raise ValueError("free-form/invalid bitrate or reserved sample rate")
    sample_rate = _MP3_RATES[sr_idx]
    n_channels = 1 if ((hdr[3] >> 6) & 0x03) == 3 else 2
    bitrate = _MP3_BITRATES[br_idx] * 1000
    duration_ms = ((len(content) - off) * 8 * 1000) // bitrate
    return sample_rate, n_channels, duration_ms


def flac_stream_meta(content: bytes) -> tuple[int, int, int]:
    """(sample_rate, n_channels, duration_ms) from FLAC's STREAMINFO
    block — EXACT duration (total samples are in the header), no codec.
    Raises ValueError for non-FLAC input."""
    if content[:4] != b"fLaC" or len(content) < 42:
        raise ValueError("not a FLAC stream")
    # first metadata block header at 4; STREAMINFO is always first
    if (content[4] & 0x7F) != 0:
        raise ValueError("STREAMINFO not first")
    si = content[8:42]  # 34-byte STREAMINFO
    bits = int.from_bytes(si[10:18], "big")  # rate(20) ch(3) bps(5) total(36)
    sample_rate = bits >> 44
    n_channels = ((bits >> 41) & 0x07) + 1
    total_samples = bits & ((1 << 36) - 1)
    if sample_rate == 0:
        raise ValueError("invalid FLAC sample rate")
    return sample_rate, n_channels, (total_samples * 1000) // sample_rate


def _read_wav(content: bytes) -> tuple[int, int, int, int, int, bytes | None]:
    """The one RIFF/WAVE reader → (audio_fmt, n_channels, sample_rate,
    byte_rate, bits, data).

    Walks the chunk list — fmt/data can be preceded by LIST/fact/cue
    chunks, so a fixed 44-byte layout is a common parser bug; chunks are
    word-aligned and the first of each id wins.  ``data`` is the data
    chunk's payload cut at EOF, or None when there is no data chunk.
    Raises NotImplementedError for non-RIFF/WAVE bytes and for a ``fmt ``
    chunk that is missing, shorter than 16 bytes or cut off."""
    if not (content[:4] == b"RIFF" and content[8:12] == b"WAVE"):
        raise NotImplementedError("not a RIFF/WAVE container")
    chunks: dict[bytes, tuple[int, int]] = {}  # id → (payload offset, size)
    pos = 12  # past 'RIFF' <size> 'WAVE'
    while pos + 8 <= len(content):
        size = int.from_bytes(content[pos + 4 : pos + 8], "little")
        chunks.setdefault(content[pos : pos + 4], (pos + 8, size))
        pos += 8 + size + (size & 1)
    off, size = chunks.get(b"fmt ", (0, 0))
    if size < 16 or off + 16 > len(content):
        raise NotImplementedError("WAV without a parsable fmt chunk")
    audio_fmt, n_channels, sample_rate, byte_rate, _align, bits = struct.unpack_from(
        "<HHIIHH", content, off
    )
    data = None
    if b"data" in chunks:
        doff, dsize = chunks[b"data"]
        data = content[doff : doff + dsize]
    return audio_fmt, n_channels, sample_rate, byte_rate, bits, data


def decode_audio_stub(content: bytes) -> tuple[str, int, int, int]:
    """Header-level audio metadata, no codec: WAV (fmt chunk), MP3
    (MPEG-1 Layer III frame header + CBR duration estimate), FLAC
    (STREAMINFO — exact duration).  Sample decode for mp3/ogg/flac
    raises NotImplementedError (that genuinely needs a codec; WAV incl.
    G.711 decodes fully via decode_audio_pcm)."""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE" and len(content) >= 44:
        # the chunk walk, not the fixed 44-byte layout: a LIST/JUNK chunk
        # before fmt would have been read as garbage rates
        _fmt, n_channels, sample_rate, byte_rate, _bits, data = _read_wav(content)
        data_len = len(data) if data is not None else 0
        duration_ms = (data_len * 1000) // byte_rate if byte_rate else 0
        return "wav", sample_rate, n_channels, duration_ms
    if content[:4] == b"fLaC":
        try:
            sr, ch, dur = flac_stream_meta(content)
            return "flac", sr, ch, dur
        except ValueError:
            raise NotImplementedError("corrupt FLAC header")
    if content[:3] == b"ID3" or (len(content) >= 2 and content[0] == 0xFF and (content[1] & 0xE0) == 0xE0):
        try:
            sr, ch, dur = mp3_stream_meta(content)
            return "mp3", sr, ch, dur
        except ValueError:
            raise NotImplementedError("mp3 variant needs a codec library")
    return "unknown", -1, -1, -1


#: format column of an audio row whose kernel failed, by sentinel code
_FAILED_AUDIO = {-2: "undecodable", -3: "corrupt"}


def extract_audio_meta(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → audio metadata (``decode_audio_stub``) via
    Arrow-batched mapInPandas."""
    return _map_media(
        binary_df,
        ["path"],
        AUDIO_META_SCHEMA,
        decode_audio_stub,
        lambda _content, code: (_FAILED_AUDIO[code], code, code, code),
    )


def sample_frame_offsets(
    binary_df: DataFrame,
    frame_size: int,
    every_n: int,
    length_col: str = "length",
) -> DataFrame:
    """Video frame-sampling plumbing: for fixed-size-frame media, emit the
    byte offsets of every Nth frame — pure relational (sequence+explode),
    no Python.  A real demuxer would replace the offset arithmetic; the
    partitioning/explode shape is identical."""
    from pyspark.sql import functions as F

    n_frames = (F.col(length_col) / frame_size).cast("long")
    idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
    return (
        binary_df
        # files shorter than ONE complete frame emit zero rows — the old
        # greatest(n-1, 0) floor manufactured a phantom frame 0 whose
        # reader would seek past EOF (r6 review)
        .where(n_frames >= 1)
        .select("path", F.explode(idx).alias("frame_no"))
        .select("path", "frame_no", (F.col("frame_no") * frame_size).alias("byte_offset"))
    )


# ---------------------------------------------------------------------------
# REAL audio decode: PCM WAV needs no codec library — the RIFF container
# is a chunk list and the samples are raw little-endian integers, so
# numpy alone yields the true waveform.  Through the same reader as the
# header stub above (``_read_wav``), this decodes the samples and computes
# signal-level features downstream models actually gate on: RMS energy,
# peak amplitude, zero-crossing rate.  Compressed formats (mp3/ogg)
# still raise NotImplementedError — that genuinely needs a codec.
# ---------------------------------------------------------------------------

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
    ]
)


@functools.lru_cache(maxsize=2)
def _g711_table(audio_fmt: int):
    """256-entry G.711 expansion table (code byte → int16 PCM), memoized
    — it depends only on audio_fmt ∈ {6, 7} and was being rebuilt per
    decoded row (r6 review).

    ITU-T G.711 closed forms: µ-law (fmt 7) mag = ((mant·8+0x84)<<exp)−0x84
    over the complemented byte; A-law (fmt 6) after the 0x55 toggle with
    the exp=0 special case.  Read only by ``_wav_samples``, so the float
    feature decode and the exact-integer faces expand through one table."""
    import numpy as np

    codes = np.arange(256, dtype=np.uint8)
    if audio_fmt == 7:  # µ-law
        u = ~codes
        sign = np.where(u & 0x80, -1, 1)
        exp = (u >> 4) & 0x07
        mant = u & 0x0F
        mag = (((mant.astype(np.int32) << 3) + 0x84) << exp) - 0x84
        return (sign * mag).astype(np.int16)
    # A-law (sign bit SET means positive after the 0x55 toggle)
    a = codes ^ 0x55
    sign = np.where(a & 0x80, 1, -1)
    exp = (a >> 4) & 0x07
    mant = (a & 0x0F).astype(np.int32)
    mag = np.where(exp == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return (sign * mag).astype(np.int16)


def encode_wav(payload: bytes, audio_fmt: int = 7, sample_rate: int = 8000,
               n_channels: int = 1, bits: int = 8) -> bytes:
    """Minimal RIFF/WAVE container writer for 8-bit payloads (linear PCM
    u8 fmt=1, G.711 A-law fmt=6 / µ-law fmt=7) — the container
    counterpart of ``decode_audio_pcm``, used to put the RIFF walk and
    G.711 expansion under the differential oracle with bytes the engine
    itself produced."""
    block = n_channels * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", audio_fmt, n_channels, sample_rate, sample_rate * block, block, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
        + (b"\x00" if len(payload) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_samples(content: bytes):
    """Decoded sample integers of a WAV → (audio_fmt, n_channels,
    sample_rate, bits, samples): G.711 A-law/µ-law (fmt 6/7) expanded to
    int16 PCM through the ITU-T table, linear PCM (fmt 1, 8/16/32-bit) as
    stored.  Raises NotImplementedError without a data chunk and for
    encodings that genuinely need a codec (ADPCM, mp3, ogg)."""
    import numpy as np

    audio_fmt, n_channels, sample_rate, _byte_rate, bits, data = _read_wav(content)
    if data is None:
        raise NotImplementedError("missing data chunk")
    if audio_fmt in (6, 7):
        # G.711 companded telephony audio: expansion is a pure closed
        # form (ITU-T G.711), so "compressed" WAV still needs no codec
        # library.  Expand via a 256-entry table to int16 PCM.
        samples = _g711_table(audio_fmt)[np.frombuffer(data, dtype=np.uint8)]
    elif audio_fmt == 1 and bits in (8, 16, 32):
        dt = {8: np.uint8, 16: np.int16, 32: np.int32}[bits]
        samples = np.frombuffer(data[: len(data) - len(data) % (bits // 8)], dtype=dt)
    else:
        raise NotImplementedError(f"non-PCM wav (fmt={audio_fmt}, bits={bits})")
    return audio_fmt, n_channels, sample_rate, bits, samples


def _g711_wav(content: bytes):
    """(sample_rate, int64 PCM) of a G.711 WAV — the input of the two
    exact-integer faces below."""
    import numpy as np

    audio_fmt, _n_channels, sample_rate, _bits, samples = _wav_samples(content)
    if audio_fmt not in (6, 7):
        raise NotImplementedError(f"not G.711 (fmt={audio_fmt})")
    return sample_rate, samples.astype(np.int64)


def _frame_sums(mag, frame_len: int):
    """Σ over each complete frame of ``frame_len`` samples."""
    n_frames = mag.size // frame_len
    return mag[: n_frames * frame_len].reshape(n_frames, frame_len).sum(axis=1)


def decode_audio_g711_integers(
    content: bytes, frame_len: int = 160, active_threshold: int | None = None
) -> tuple[int, int, int, int, int]:
    """Exact-integer face of the G.711 WAV decode: (sample_rate,
    n_samples, sum_abs, peak_abs, n_active_frames) over the expanded
    int16 PCM.  Same RIFF chunk walk and expansion table as
    ``decode_audio_pcm``; integer outputs so a SQL oracle can reproduce
    them bit-for-bit.  ``n_active_frames`` is an integer
    energy-gate VAD: complete frames of ``frame_len`` samples whose
    Σ|pcm| exceeds ``active_threshold`` (-1 when no threshold given)."""
    import numpy as np

    sample_rate, pcm = _g711_wav(content)
    mag = np.abs(pcm)
    n_active = -1
    if active_threshold is not None:
        n_active = int((_frame_sums(mag, frame_len) > active_threshold).sum())
    return (
        int(sample_rate),
        int(pcm.size),
        int(mag.sum()),
        int(mag.max()) if pcm.size else 0,
        n_active,
    )


def decode_audio_frame_energies(content: bytes, frame_len: int = 160):
    """Per-frame Σ|pcm| of a G.711 WAV — the exact-integer feature
    sequence audio fingerprinting runs on (complete frames only).

    Same RIFF chunk walk and ITU-T expansion table as
    ``decode_audio_g711_integers``; returns an int64 numpy array so a
    SQL oracle can reproduce every element bit-for-bit."""
    import numpy as np

    _sample_rate, pcm = _g711_wav(content)
    return _frame_sums(np.abs(pcm), frame_len)


def decode_audio_pcm(content: bytes) -> tuple[str, int, int, int, int, float, float, float]:
    """Decode a PCM WAV to (format, sample_rate, n_channels, n_samples,
    duration_ms, rms, peak, zero_crossing_rate).

    Samples normalized to [-1, 1]; rms/peak/zcr computed on the mono mix.
    Handles linear PCM (8/16/32-bit) and 8-bit G.711 A-law/µ-law
    companding (closed-form expansion, no codec needed); raises
    NotImplementedError for encodings that genuinely need one (ADPCM,
    mp3, ogg) and for non-WAV media.
    """
    import numpy as np

    audio_fmt, n_channels, sample_rate, bits, pcm = _wav_samples(content)
    if audio_fmt in (6, 7):
        if bits != 8:
            raise NotImplementedError(f"non-PCM wav (fmt={audio_fmt}, bits={bits})")
        x = pcm.astype(np.float64) / 32768.0
    elif bits == 8:  # unsigned
        x = (pcm.astype(np.float64) - 128.0) / 128.0
    else:
        x = pcm.astype(np.float64) / np.float64(2 ** (bits - 1))
    if n_channels > 1:
        x = x[: len(x) - len(x) % n_channels].reshape(-1, n_channels).mean(axis=1)
    n_samples = int(x.size)
    duration_ms = (n_samples * 1000) // sample_rate if sample_rate else 0
    if n_samples == 0:
        return ("wav", sample_rate, n_channels, 0, 0, 0.0, 0.0, 0.0)
    rms = float(np.sqrt(np.mean(x * x)))
    peak = float(np.max(np.abs(x)))
    zcr = float(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])) / n_samples)
    return ("wav", sample_rate, n_channels, n_samples, duration_ms, rms, peak, zcr)


def _audio_features(content: bytes) -> tuple:
    *head, rms, peak, zcr = decode_audio_pcm(content)
    return (*head, round(rms, 6), round(peak, 6), round(zcr, 6))


def extract_audio_features(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → decoded signal features via Arrow mapInPandas.

    Real numpy PCM decode per item; undecodable media degrade to a
    sentinel row rather than failing the batch (one bad file must not
    kill a 100 TB scan)."""
    return _map_media(
        binary_df,
        ["path"],
        AUDIO_FEATURES_SCHEMA,
        _audio_features,
        lambda _content, code: (_FAILED_AUDIO[code],) + (code,) * 4 + (float(code),) * 3,
    )


# ---------------------------------------------------------------------------
# Pixel-level stages over the decoded raster (``decode_pixels``):
# nearest-neighbor and box resize, thumbnails, and frame sampling over PPM
# streams (the `ffmpeg -f image2pipe -c:v ppm` wire format: concatenated
# P6 frames, each header parsed by ``_ppm_header``).  All numpy + stdlib;
# h264 remains codec-gated.
# ---------------------------------------------------------------------------


def resize_nearest(px, out_w: int, out_h: int):
    """Nearest-neighbor resize via integer index mapping — the exact
    deterministic scaler (src = (dst·in) div out, the floor mapping),
    pure numpy fancy indexing, no interpolation arithmetic."""
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return px[rows][:, cols]


def resize_box(px, out_w: int, out_h: int):
    """Anti-aliased box-filter downscale: each output pixel is the exact
    integer-rounded mean of its source cell (cells from the same floor
    mapping as resize_nearest, so cell edges are deterministic).  The
    right scaler for thumbnail DOWNSCALING — nearest-neighbor aliases
    high-frequency content; box averaging is what "area" interpolation
    does.  Upscale requests fall back to nearest (a box over a
    sub-pixel cell is identity).  Vectorized via a 2-D prefix sum —
    O(pixels), no Python per-cell loop."""
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    if out_h >= h or out_w >= w:
        return resize_nearest(px, out_w, out_h)
    # integral image with a zero row/col front pad: S[i, j] = sum of px[:i, :j]
    s = np.zeros((h + 1, w + 1, px.shape[2]), dtype=np.int64)
    s[1:, 1:] = np.cumsum(np.cumsum(px.astype(np.int64), axis=0), axis=1)
    re = np.append((np.arange(out_h) * h) // out_h, h)  # cell row edges
    ce = np.append((np.arange(out_w) * w) // out_w, w)
    r0, r1 = re[:-1], re[1:]
    c0, c1 = ce[:-1], ce[1:]
    area = ((r1 - r0)[:, None] * (c1 - c0)[None, :])[:, :, None]
    cell = (
        s[r1][:, c1] - s[r1][:, c0] - s[r0][:, c1] + s[r0][:, c0]
    )
    return ((cell + area // 2) // area).astype(np.uint8)  # round half up


def iter_ppm_stream(content: bytes):
    """Frames of a concatenated-P6 stream → yields (idx, w, h, offset)."""
    off, idx = 0, 0
    while off < len(content):
        w, h, roff = _ppm_header(content, off)
        yield idx, w, h, roff
        off = roff + w * h * 3
        idx += 1


def sample_frames(content: bytes, every_n: int = 2) -> list[tuple[int, int, int, int]]:
    """Every n-th frame of a PPM stream → (frame_idx, w, h, checksum64).
    The frame-sampling primitive of a video pipeline, on the one wire
    format decodable without codecs."""
    import numpy as np

    out = []
    for idx, w, h, roff in iter_ppm_stream(content):
        if idx % every_n:
            continue
        raster = np.frombuffer(content, dtype=np.uint8, count=w * h * 3, offset=roff)
        out.append((idx, w, h, int(raster.sum())))
    return out


THUMBNAIL_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("thumb_w", T.IntegerType()),
        T.StructField("thumb_h", T.IntegerType()),
        T.StructField("thumb_checksum64", T.LongType()),
    ]
)


def extract_thumbnails(binary_df: DataFrame, thumb_w: int = 8, thumb_h: int = 8) -> DataFrame:
    """binaryFile rows → (path, width, height, thumb_w, thumb_h,
    thumb_checksum64) via Arrow-batched mapInPandas: decode → resize →
    feature, the shape of every image-preprocessing stage (batch-wise
    Python on binary columns, schema declared, partition-parallel).
    Thumbnails downscale through the anti-aliased box filter
    (resize_box).  A codec gap reads -1 in every column, corrupt bytes
    -3."""

    def thumbnail(content: bytes) -> tuple[int, int, int, int, int]:
        px = decode_pixels(content)
        th = resize_box(px, thumb_w, thumb_h)
        return px.shape[1], px.shape[0], thumb_w, thumb_h, int(th.astype("int64").sum())

    return _map_media(
        binary_df,
        ["path"],
        THUMBNAIL_SCHEMA,
        thumbnail,
        lambda _content, code: (-1 if code == -2 else code,) * 5,
    )
