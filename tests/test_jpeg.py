"""JPEG codec (operators/jpegcodec.py): baseline + progressive (SOF2)
encode/decode roundtrip, marker handling, subsampling, capability gates,
and the Spark-side multimodal wiring."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from event_streaming_spark.operators.jpegcodec import (
    decode_jpeg,
    encode_jpeg,
    jpeg_dimensions,
)
from event_streaming_spark.operators.multimodal import (
    decode_image_meta,
    decode_pixels,
    sniff_format,
)


def _smooth(h, w, seed=0):
    yy, xx = np.mgrid[0:h, 0:w]
    r = 128 + 100 * np.sin(xx / w * 3.1 + seed) * np.cos(yy / h * 2.1)
    g = 128 + 80 * np.cos(xx / w * 2.3 + seed)
    b = 128 + 60 * np.sin((xx + yy) / (h + w) * 4.0)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


def _psnr(a, b):
    mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
    return 10 * np.log10(255**2 / max(mse, 1e-9))


@pytest.mark.parametrize("shape", [(16, 24), (14, 20), (9, 9), (33, 41)])
@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_roundtrip_shapes_and_subsampling(shape, sub):
    h, w = shape
    img = _smooth(h, w)
    data = encode_jpeg(img, subsampling=sub)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert sniff_format(data) == "jpeg"
    assert jpeg_dimensions(data) == (w, h)
    out = decode_jpeg(data)
    assert out.shape == (h, w, 3) and out.dtype == np.uint8
    # Annex-K Q50 tables: smooth content round-trips well above 27 dB
    assert _psnr(out, img) > 27, _psnr(out, img)


def test_constant_color_near_exact():
    img = np.full((32, 48, 3), [200, 64, 130], dtype=np.uint8)
    for sub in ("444", "420"):
        out = decode_jpeg(encode_jpeg(img, subsampling=sub))
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_byte_stuffing_and_gray_expansion():
    # high-amplitude noise maximizes entropy-coded 0xFF bytes → exercises
    # the stuffing path on both sides
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    data = encode_jpeg(img)
    out = decode_jpeg(data)
    assert out.shape == (24, 24, 3)  # decodes cleanly, content is lossy


def test_arithmetic_gate_and_lenient_dimensions():
    # hand-build a SOF9 (arithmetic-coded sequential) header: dims must
    # still parse, pixel decode must gate with NotImplementedError.
    # (SOF2 progressive is DECODED since round 4 — see
    # test_progressive_matches_baseline.)
    sof9 = (
        b"\xff\xd8"
        + b"\xff\xc9"
        + struct.pack(">H", 11)
        + bytes([8])
        + struct.pack(">HH", 10, 20)
        + bytes([1, 1, 0x11, 0])
    )
    assert jpeg_dimensions(sof9) == (20, 10)
    with pytest.raises(NotImplementedError, match="SOF9"):
        decode_jpeg(sof9 + b"\xff\xd9")
    # a truncated SOF2 with no SOS is corrupt, not capability-gated
    sof2 = (
        b"\xff\xd8"
        + b"\xff\xc2"
        + struct.pack(">H", 11)
        + bytes([8])
        + struct.pack(">HH", 10, 20)
        + bytes([1, 1, 0x11, 0])
    )
    assert jpeg_dimensions(sof2) == (20, 10)
    with pytest.raises(ValueError, match="missing SOF/SOS"):
        decode_jpeg(sof2 + b"\xff\xd9")


def test_corrupt_stream_rejected():
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xe0" + b"\x00" * 32)  # no SOF/SOS
    with pytest.raises(ValueError):
        jpeg_dimensions(b"not a jpeg")


def test_multimodal_kernel_wiring():
    img = _smooth(16, 16)
    data = encode_jpeg(img)
    # decode_pixels returns the full raster
    px = decode_pixels(data)
    assert px.shape == (16, 16, 3) and _psnr(px, img) > 27
    # the stdlib metadata kernel reports true dims + pixel-sum feature
    fmt, w, h, ck = decode_image_meta(data)
    assert (fmt, w, h) == ("jpeg", 16, 16)
    assert ck == int(px.astype(np.int64).sum())
    # corrupt jpeg degrades through the stub (dims unparseable → gate)
    with pytest.raises(NotImplementedError):
        decode_image_meta(b"\xff\xd8\xff\xe0" + b"\x00" * 8)


def test_extract_image_meta_decodes_jpeg_in_spark(spark, tmp_path):
    from event_streaming_spark.operators.multimodal import extract_image_meta
    from event_streaming_spark.sources.readers import load_file

    d = tmp_path / "imgs"
    d.mkdir()
    img = _smooth(12, 18)
    (d / "x.jpg").write_bytes(encode_jpeg(img))
    rows = {r["format"]: r for r in extract_image_meta(load_file(spark, str(d))).collect()}
    assert rows["jpeg"]["width"] == 18 and rows["jpeg"]["height"] == 12
    assert rows["jpeg"]["checksum64"] > 0  # real pixel sum, not a byte checksum


@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_uniform_even_blocks_dc_exact(sub):
    """The arithmetic-oracle hook multimodal_jpeg_decode_stats relies on:
    gray images of uniform EVEN-valued 8x8 blocks aligned to the DCT grid
    are DC-only under the Annex-K tables (q00=16), and (v-128)/2 integral
    makes quantize→dequantize the identity — the decoded raster equals
    the input bit-exactly, at every grid size (MCU padding included)."""
    for seed in (0, 5, 123456789, 2**31 - 7):
        for wb in (1, 2, 3):
            for hb in (1, 2, 3):
                img = np.zeros((8 * hb, 8 * wb, 3), np.uint8)
                for k in range(wb * hb):
                    by, bx = divmod(k, wb)
                    img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8, :] = 2 * (
                        (seed + 37 * k) % 128
                    )
                out = decode_jpeg(encode_jpeg(img, subsampling=sub))
                assert (out == img).all(), (sub, seed, wb, hb)


@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_progressive_matches_baseline(sub):
    """SOF2 differential contract: the progressive encoder shares the
    baseline's quantization front half, so decoding its stream must give
    BIT-IDENTICAL pixels to decoding the baseline stream — this
    exercises all four progressive scan procedures (DC/AC first, DC/AC
    successive-approximation refinement) plus EOB runs and the
    non-interleaved component block order."""
    from event_streaming_spark.operators.jpegcodec import encode_jpeg_progressive

    rng = np.random.default_rng(3)
    for shape in [(16, 24), (14, 20), (9, 9), (33, 41)]:
        h, w = shape
        yy, xx = np.mgrid[0:h, 0:w]
        base = 128 + 60 * np.sin(xx / 5.0) + 50 * np.cos(yy / 7.0)
        img = np.clip(
            base[:, :, None] + rng.integers(-40, 40, (h, w, 3)), 0, 255
        ).astype(np.uint8)
        data = encode_jpeg_progressive(img, subsampling=sub)
        assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
        assert jpeg_dimensions(data) == (w, h)
        assert np.array_equal(
            decode_jpeg(data), decode_jpeg(encode_jpeg(img, subsampling=sub))
        )


def test_progressive_eob_runs_span_blocks():
    """A large flat image makes every AC band all-zero → the encoder
    accumulates EOB runs ACROSS blocks (EOBn symbols with n>0) and the
    decoder must honor multi-block runs; a lone bright block in the
    middle splits the run and forces correction-bit buffering in the
    refinement scans."""
    from event_streaming_spark.operators.jpegcodec import encode_jpeg_progressive

    img = np.full((64, 64, 3), 120, dtype=np.uint8)
    img[24:32, 24:32] = 250  # one busy block splits the EOB runs
    for sub in ("444", "420"):
        prog = encode_jpeg_progressive(img, subsampling=sub)
        base = encode_jpeg(img, subsampling=sub)
        assert np.array_equal(decode_jpeg(prog), decode_jpeg(base))


def test_progressive_table_redefinition_between_scans():
    """Progressive streams redefine AC Huffman tables between scans
    (per-scan optimized DHT re-using table ids 0/1); the parser must
    snapshot tables at each SOS, not share one mutable registry."""
    from event_streaming_spark.operators.jpegcodec import (
        _parse_stream,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(5)
    img = np.clip(rng.integers(0, 255, (24, 24, 3)), 0, 255).astype(np.uint8)
    qt, sof, mode, scans = _parse_stream(encode_jpeg_progressive(img))
    assert mode == "progressive"
    assert len(scans) == 10  # the default libjpeg-style script
    # AC scans for the luma component use table id 0 but DIFFERENT
    # optimized tables — their snapshots must differ across scans
    ac_luma = [
        s["ac"][0] for s in scans if s["ss"] > 0 and list(s["sel"]) == [1]
    ]
    assert len(ac_luma) >= 3
    vals = [tuple(t.vals) for t in ac_luma]
    assert len(set(vals)) > 1


def test_progressive_restart_intervals_roundtrip():
    """DRI in progressive streams: restart markers every n MCUs (1 MCU =
    1 block in non-interleaved AC scans) with DC predictors and EOB runs
    reset per interval — decode must stay bit-identical to baseline, and
    the markers must actually be present."""
    from event_streaming_spark.operators.jpegcodec import encode_jpeg_progressive

    rng = np.random.default_rng(9)
    img = np.clip(
        128 + rng.integers(-100, 100, (33, 41, 3)), 0, 255
    ).astype(np.uint8)
    for sub in ("444", "420"):
        base = decode_jpeg(encode_jpeg(img, subsampling=sub))
        for dri in (1, 3, 7):
            data = encode_jpeg_progressive(img, subsampling=sub, dri=dri)
            n_rst = sum(data.count(bytes([0xFF, 0xD0 + i])) for i in range(8))
            assert n_rst > 0, (sub, dri)
            assert np.array_equal(base, decode_jpeg(data)), (sub, dri)


def test_ac_first_and_refine_coefficient_fuzz():
    """Coefficient-level differential of the two trickiest progressive
    procedures, bypassing images: random coefficient tables (EOB-run
    heavy, ZRL-in-refine, history/newly-nonzero interleavings, optional
    restart intervals) go through encode → optimized-table Huffman →
    byte-stuffed stream → de-stuff/split (_split_intervals, the
    production path) → decode; after the Al=1 first pass plus the Al=0
    refinement the reconstruction must be exact."""
    import random

    import numpy as np

    from event_streaming_spark.operators.jpegcodec import (
        _ac_first,
        _ac_refine,
        _BitReader,
        _BitWriter,
        _canonical_codes,
        _encode_ac_first,
        _encode_ac_refine,
        _HuffDecoder,
        _optimal_huffman,
        _ScanOps,
        _split_intervals,
    )

    rnd = random.Random(42)
    for _trial in range(40):
        n = rnd.randrange(1, 30)
        zz = np.zeros((n, 64), dtype=np.int64)
        for b in range(n):
            if rnd.random() >= 0.25:  # leave ~1/4 blocks all-zero (EOB runs)
                for _ in range(rnd.randrange(0, 20)):
                    zz[b, rnd.randrange(1, 64)] = rnd.choice(
                        [1, -1, 2, -2, 3, -3, 5, -9, 17, -33, 100, -255]
                    )
        idx = list(range(n))
        blk = np.zeros((n, 64), dtype=np.int32)
        for enc, dec, al in [
            (_encode_ac_first, _ac_first, 1),
            (_encode_ac_refine, _ac_refine, 0),
        ]:
            dri = rnd.randrange(1, n + 2) if rnd.random() < 0.5 else 0
            ops = _ScanOps()
            enc(ops, zz, idx, 1, 63, al, dri=dri)
            bits, vals = _optimal_huffman(ops.freq or {0x00: 1})
            writer = _BitWriter()
            ops.replay(writer, _canonical_codes(bits, vals))
            writer.flush()
            # production path: de-stuff + split on the RST markers
            intervals = _split_intervals(bytes(writer.out))
            dec_tab = _HuffDecoder(bits, vals)
            per = dri if dri else n
            u = 0
            for data in intervals:
                reader = _BitReader(data)
                eob = 0
                for _ in range(min(per, n - u)):
                    eob = dec(reader, dec_tab, blk[u], 1, 63, al, eob)
                    u += 1
            assert u == n
        assert np.array_equal(blk[:, 1:], zz[:, 1:])


def test_split_intervals_keeps_fill_bytes_before_restarts():
    """r6 review: 0xFF fill bytes before a restart marker (T.81 §B.1.1.2,
    common from hardware encoders) were treated as end-of-scan, silently
    dropping every remaining restart interval."""
    from event_streaming_spark.operators.jpegcodec import _split_intervals

    # interval0 | fill fill RST0 | interval1 | EOI
    data = bytes([0x12, 0x34, 0xFF, 0xFF, 0xFF, 0xD0, 0x56, 0xFF, 0xD9])
    got = _split_intervals(data)
    assert got == [bytes([0x12, 0x34]), bytes([0x56])], got


def test_progressive_dc_scans_write_zero_ac_selector():
    """r6 review: DC scans referenced AC table 1 before any AC DHT was
    defined (strict decoders reject that).  Every SOS with Ss=0 must
    carry Ta=0; every AC SOS must carry Td=0."""
    import numpy as np

    from event_streaming_spark.operators.jpegcodec import encode_jpeg_progressive

    rng = np.random.default_rng(7)
    img = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)
    data = encode_jpeg_progressive(img)
    i = 2
    sos_headers = []
    while i + 4 <= len(data):
        if data[i] == 0xFF and data[i + 1] == 0xDA:
            seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
            sos_headers.append(data[i + 4 : i + 2 + seg_len])
            i += 2 + seg_len
        elif data[i] == 0xFF and 0xC0 <= data[i + 1] <= 0xFE and data[i + 1] not in (0xD8,):
            seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
            i += 2 + seg_len
        else:
            i += 1
    assert sos_headers, "no SOS found"
    for hdr in sos_headers:
        ncomp = hdr[0]
        ss = hdr[1 + 2 * ncomp]
        for c in range(ncomp):
            sel = hdr[2 + 2 * c]
            td, ta = sel >> 4, sel & 0x0F
            if ss == 0:
                assert ta == 0, f"DC scan carries Ta={ta}"
            else:
                assert td == 0, f"AC scan carries Td={td}"
