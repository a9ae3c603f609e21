"""GIF decoder (operators/gifcodec.py): LZW decode, interlace,
transparency, frame walking, and the multimodal wiring.

The test encoder writes standards-conformant GIF data using the
clear-code-spam LZW form (literal codes with periodic CLEARs so the
code width never grows) — maximally simple on the encode side while
still exercising the decoder's clear/width/table machinery.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from event_streaming_spark.operators.gifcodec import (
    decode_gif,
    gif_dimensions,
    gif_frame_count,
)
from event_streaming_spark.operators.multimodal import (
    decode_image_meta,
    decode_pixels,
    sniff_format,
)


class _LsbWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, code, width):
        self.buf |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.buf & 0xFF)
            self.buf >>= 8
            self.nbits -= 8

    def flush(self):
        if self.nbits:
            self.out.append(self.buf & 0xFF)
            self.buf = self.nbits = 0


def _lzw_literals(indices, min_code):
    """Literal-only LZW: CLEAR before the decoder's width would grow."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    w = _LsbWriter()
    w.write(clear, width)
    next_code = eoi + 1
    first = True
    for idx in indices:
        # decoder adds one table entry per code after the first; keep
        # next_code strictly below the width-growth threshold
        if not first and next_code + 1 >= (1 << width):
            w.write(clear, width)
            next_code = eoi + 1
            first = True
        w.write(int(idx), width)
        if first:
            first = False
        else:
            next_code += 1
    w.write(eoi, width)
    w.flush()
    return bytes(w.out)


def _encode_gif(grid, palette, interlace=False, transparent=None, left=0, top=0,
                screen=None, extra_frames=0):
    """grid: (h, w) palette indices; palette: list of (r, g, b)."""
    ih, iw = grid.shape
    sw, sh = screen or (iw + left, ih + top)
    n = max(2, (len(palette) - 1).bit_length())  # GCT size exponent ≥ 2 colors
    gct_n = 1 << n
    out = bytearray(b"GIF89a")
    out.extend(struct.pack("<HH", sw, sh))
    out.append(0x80 | (n - 1))  # GCT present, 2^n entries
    out.extend([0, 0])  # bg index, aspect
    for i in range(gct_n):
        out.extend(palette[i] if i < len(palette) else (0, 0, 0))
    if transparent is not None:
        out.extend([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    rows = grid
    if interlace:
        order = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(start, ih, step)]
        rows = grid[np.array(order)]
    min_code = max(2, n)
    payload = _lzw_literals(rows.reshape(-1), min_code)
    for _ in range(1 + extra_frames):
        out.append(0x2C)
        out.extend(struct.pack("<HHHH", left, top, iw, ih))
        out.append(0x40 if interlace else 0x00)
        out.append(min_code)
        for i in range(0, len(payload), 255):
            chunk = payload[i : i + 255]
            out.append(len(chunk))
            out.extend(chunk)
        out.append(0)
    out.append(0x3B)
    return bytes(out)


PALETTE = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]


def _checker(h, w, k=4):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((yy // 2 + xx // 3) % k).astype(np.uint8)


def test_roundtrip_plain():
    grid = _checker(13, 17)
    data = _encode_gif(grid, PALETTE)
    assert sniff_format(data) == "gif"
    assert gif_dimensions(data) == (17, 13)
    out = decode_gif(data)
    want = np.array(PALETTE, dtype=np.uint8)[grid]
    assert np.array_equal(out, want)


def test_interlaced_rows_reordered():
    grid = _checker(16, 9)
    out = decode_gif(_encode_gif(grid, PALETTE, interlace=True))
    assert np.array_equal(out, np.array(PALETTE, dtype=np.uint8)[grid])


def test_transparency_and_offset_composite():
    # 4x4 frame at (2,1) on a 8x6 screen; index 3 transparent → background
    grid = np.full((4, 4), 3, dtype=np.uint8)
    grid[1:3, 1:3] = 1
    data = _encode_gif(grid, PALETTE, transparent=3, left=2, top=1, screen=(8, 6))
    out = decode_gif(data)
    assert out.shape == (6, 8, 3)
    bg = PALETTE[0]  # background index 0
    assert tuple(out[0, 0]) == bg  # outside the frame
    assert tuple(out[1 + 1, 2 + 1]) == PALETTE[1]  # opaque pixel
    assert tuple(out[1, 2]) == bg  # transparent pixel keeps background


def test_frame_count_walks_without_decode():
    grid = _checker(5, 5)
    assert gif_frame_count(_encode_gif(grid, PALETTE)) == 1
    assert gif_frame_count(_encode_gif(grid, PALETTE, extra_frames=2)) == 3


def test_corrupt_rejected():
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 7)  # no image data
    with pytest.raises(ValueError):
        gif_dimensions(b"not a gif")


def test_multimodal_kernel_wiring():
    grid = _checker(10, 12)
    data = _encode_gif(grid, PALETTE)
    want = np.array(PALETTE, dtype=np.uint8)[grid]
    assert np.array_equal(decode_pixels(data), want)
    fmt, w, h, ck = decode_image_meta(data)
    assert (fmt, w, h, ck) == ("gif", 12, 10, int(want.astype(np.int64).sum()))
