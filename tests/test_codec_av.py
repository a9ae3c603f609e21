"""PNG encoder and G.711 WAV integer-decode primitives.

The catalog queries (multimodal_png_decode_stats,
multimodal_audio_vad_stats) are differentially gated by
tests/test_catalog.py; these tests pin the operator-level contracts the
oracles rely on: lossless PNG roundtrip through every filter type,
µ-law/A-law expansion identical between the table and the SQL closed
form, VAD framing edge cases.
"""

from __future__ import annotations

import numpy as np
import pytest

from event_streaming_spark.operators.multimodal import (
    _g711_table,
    decode_audio_g711_integers,
    decode_audio_pcm,
    decode_image_meta,
    encode_png,
    encode_wav,
)


@pytest.mark.parametrize("h,w", [(1, 1), (1, 7), (5, 1), (5, 6), (14, 16), (11, 3)])
def test_png_roundtrip_rgb_all_filters(h, w):
    img = ((np.arange(h * w * 3).reshape(h, w, 3) * 7 + 3) % 256).astype(np.uint8)
    fmt, ww, hh, s = decode_image_meta(encode_png(img))
    assert (fmt, ww, hh, s) == ("png", w, h, int(img.astype(np.int64).sum()))


def test_png_roundtrip_gray_and_single_filter():
    img = ((np.arange(12 * 9).reshape(12, 9) * 11 + 5) % 256).astype(np.uint8)
    assert decode_image_meta(encode_png(img)) == ("png", 9, 12, int(img.astype(np.int64).sum()))
    # every filter type alone must also roundtrip (isolates a broken branch)
    rgb = ((np.arange(6 * 5 * 3).reshape(6, 5, 3) * 13 + 1) % 256).astype(np.uint8)
    for f in range(5):
        assert decode_image_meta(encode_png(rgb, filters=(f,)))[3] == int(
            rgb.astype(np.int64).sum()
        )


def test_png_encoder_rejects_exotic_shapes():
    with pytest.raises(NotImplementedError):
        encode_png(np.zeros((4, 4, 4), np.uint8))  # RGBA encode not offered


def test_g711_mu_law_table_matches_sql_closed_form():
    # the arithmetic multimodal_audio_vad_stats' DuckDB oracle uses
    tab = _g711_table(7).astype(np.int64)
    for b in range(256):
        u = 255 - b
        mag = (((u & 15) * 8 + 132) << ((u >> 4) & 7)) - 132
        pcm = -mag if (u & 128) else mag
        assert tab[b] == pcm, b
    # spec anchors: code 0xFF is ±0, full-scale magnitude is 32124
    assert tab[0xFF] == 0 and np.abs(tab).max() == 32124


def test_g711_wav_integer_decode_and_vad():
    payload = bytes((37 + 13 * k) % 256 for k in range(480))
    wav = encode_wav(payload, audio_fmt=7)
    tab = np.abs(_g711_table(7).astype(np.int64))
    ref = tab[np.frombuffer(payload, np.uint8)]
    sr, n, sabs, peak, nact = decode_audio_g711_integers(
        wav, frame_len=160, active_threshold=int(ref.reshape(3, 160).sum(axis=1)[1])
    )
    assert (sr, n, sabs, peak) == (8000, 480, int(ref.sum()), int(ref.max()))
    # threshold == middle frame's own sum: strictly-greater gate keeps
    # only the frames above it
    frame_sums = ref.reshape(3, 160).sum(axis=1)
    assert nact == int((frame_sums > frame_sums[1]).sum())
    # no threshold → -1 sentinel; truncated partial frame is ignored
    assert decode_audio_g711_integers(wav)[4] == -1
    short = encode_wav(payload[:100], audio_fmt=7)
    assert decode_audio_g711_integers(short, 160, 0)[4] == 0


def test_g711_alaw_and_float_path_agree():
    payload = bytes((11 + 29 * k) % 256 for k in range(320))
    for fmt_code in (6, 7):
        wav = encode_wav(payload, audio_fmt=fmt_code)
        _sr, n, sabs, _peak, _ = decode_audio_g711_integers(wav)
        tab = _g711_table(fmt_code).astype(np.int64)
        ref = tab[np.frombuffer(payload, np.uint8)]
        assert n == 320 and sabs == int(np.abs(ref).sum())
        # the float feature decode walks the same container and table
        dec = decode_audio_pcm(wav)
        assert dec[0] == "wav" and dec[3] == 320
        assert dec[5] == pytest.approx(
            float(np.sqrt(np.mean((ref / 32768.0) ** 2))), rel=1e-9
        )


def test_encode_wav_rejected_by_non_g711_integer_decode():
    wav = encode_wav(bytes(range(100)), audio_fmt=1)  # linear PCM u8
    with pytest.raises(NotImplementedError):
        decode_audio_g711_integers(wav)
    # but the float decoder handles linear PCM
    assert decode_audio_pcm(wav)[3] == 100
