"""Baseline JPEG codec (operators/jpeg.py) — VERDICT r4 task 5.

Three independent pins:
1. encoder↔decoder roundtrip PSNR (two independent spec halves, the
   gtiff writer/oracle posture);
2. a bitstream HAND-BUILT in this file straight from T.81 (Annex K
   tables, canonical Huffman codes derived in comments) that the
   DECODER alone must get exactly right — including a DRI/RST0
   variant pinning the restart path;
3. dispatch through multimodal.decode_image (tested alongside the
   other codecs in test_streaming_multimodal.py).
"""

import struct

import numpy as np
import pytest

from earth_data_kit_spark.operators.jpeg import (
    QTBL_LUMA,
    ZIGZAG,
    decode_jpeg,
    encode_jpeg,
    quality_scale,
)


def psnr(a, b):
    mse = np.mean((np.asarray(a, np.float64) - np.asarray(b, np.float64)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_flat_gray_roundtrips_exactly():
    flat = np.full((24, 32), 128, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(flat, quality=90)), flat)


def test_gray_roundtrip_psnr():
    yy, xx = np.mgrid[0:96, 0:128]
    smooth = (128 + 80 * np.sin(yy / 9.0) * np.cos(xx / 13.0)).astype(np.uint8)
    assert psnr(smooth, decode_jpeg(encode_jpeg(smooth, quality=90))) > 45.0
    assert psnr(smooth, decode_jpeg(encode_jpeg(smooth, quality=50))) > 38.0
    rng = np.random.default_rng(3)
    noise = rng.integers(0, 256, size=(48, 48), dtype=np.uint8)
    assert psnr(noise, decode_jpeg(encode_jpeg(noise, quality=90))) > 30.0


def test_color_roundtrip_420_and_444():
    yy, xx = np.mgrid[0:64, 0:80]
    img = np.stack(
        [(yy * 3 % 256), (xx * 2 % 256), ((yy + xx) % 256)], axis=2
    ).astype(np.uint8)
    d420 = decode_jpeg(encode_jpeg(img, quality=95, subsample=True))
    d444 = decode_jpeg(encode_jpeg(img, quality=95, subsample=False))
    assert d420.shape == img.shape and d444.shape == img.shape
    assert psnr(img, d420) > 40.0
    assert psnr(img, d444) > 45.0
    assert psnr(img, d444) > psnr(img, d420)  # subsampling costs chroma


def test_odd_dimensions_clip_correctly():
    rng = np.random.default_rng(5)
    for shape in [(17, 23), (8, 9), (15, 16), (33, 31, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=90))
        expect = shape if len(shape) == 3 else shape
        assert out.shape[:2] == shape[:2]


def test_quality_scale_ijg_formula():
    assert np.array_equal(quality_scale(QTBL_LUMA, 50), QTBL_LUMA)  # s=100
    assert (quality_scale(QTBL_LUMA, 95) <= QTBL_LUMA).all()
    assert quality_scale(QTBL_LUMA, 1).max() == 255  # clamped
    assert quality_scale(QTBL_LUMA, 100).min() == 1


# ---------------------------------------------------------------------
# hand-built bitstream: 8×16 grayscale, every pixel 160.
#
# Per T.81: level-shifted block is constant 32; orthonormal FDCT puts
# everything in DC: 32·8 = 256.  Base luma table (quality 50 ⇒ scale
# 100 ⇒ table unchanged) has Q[0,0]=16 ⇒ quantized DC = 16.
# Canonical DC-luma codes (Annex K.3.1): category 5 → code 110 (3
# bits); category 0 → 00.  Magnitude bits of +16 in category 5:
# 10000.  AC-luma EOB (symbol 0x00 is the 4th huffval) → 1010.
#  MCU0: 110 10000 1010   (DC diff +16, EOB)
#  MCU1: 00 1010          (DC diff 0 — predictor carries, EOB)
# Concatenated + 1-padding: 11010000 10100010 10111111 = D0 A2 BF.
# ---------------------------------------------------------------------

def _seg(marker, body):
    return struct.pack(">HH", marker, len(body) + 2) + body


def _headers(w=16, h=8, dri=None):
    from earth_data_kit_spark.operators.jpeg import AC_LUMA, DC_LUMA

    out = bytearray(b"\xff\xd8")
    out += _seg(0xFFDB, b"\x00" + bytes(QTBL_LUMA.ravel()[ZIGZAG].astype(np.uint8)))
    if dri is not None:
        out += _seg(0xFFDD, struct.pack(">H", dri))
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += _seg(0xFFC4, bytes([0x00]) + bytes(DC_LUMA[0]) + bytes(DC_LUMA[1]))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(AC_LUMA[0]) + bytes(AC_LUMA[1]))
    out += _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return out


def test_decoder_against_hand_built_bitstream():
    payload = bytes(_headers()) + b"\xd0\xa2\xbf" + b"\xff\xd9"
    out = decode_jpeg(payload)
    assert out.shape == (8, 16)
    assert np.array_equal(out, np.full((8, 16), 160, dtype=np.uint8))


def test_decoder_restart_markers_reset_dc_predictor():
    # DRI=1: each MCU is its own restart interval.  MCU0 bits
    # 110 10000 1010 pad-to-byte with 1s → 11010000 10101111 = D0 AF;
    # RST0 = FF D0; MCU1 after predictor reset encodes diff +16 again
    # → identical bytes.  Both blocks must decode to 160.
    entropy = b"\xd0\xaf" + b"\xff\xd0" + b"\xd0\xaf"
    payload = bytes(_headers(dri=1)) + entropy + b"\xff\xd9"
    out = decode_jpeg(payload)
    assert np.array_equal(out, np.full((8, 16), 160, dtype=np.uint8))


def test_decoder_non_interleaved_baseline_scans():
    # T.81 A.2.2: a sequential frame may code each component in its
    # own scan.  8×8 frame, three components (1,0x11,0 / 2,0x11,0 /
    # 3,0x11,0) all on the luma tables, then three single-component
    # SOS segments each carrying D0 AF (DC diff +16, EOB — the bits of
    # the restart test above).  Y = Cb = Cr = 160, so every pixel is
    # R = 160 + 1.402·32 → 205, G = 160 − (0.344136 + 0.714136)·32
    # → 126, B = 160 + 1.772·32 → 217.
    from earth_data_kit_spark.operators.jpeg import AC_LUMA, DC_LUMA

    out = bytearray(b"\xff\xd8")
    out += _seg(0xFFDB, b"\x00" + bytes(QTBL_LUMA.ravel()[ZIGZAG].astype(np.uint8)))
    comps = bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 3) + comps)
    out += _seg(0xFFC4, bytes([0x00]) + bytes(DC_LUMA[0]) + bytes(DC_LUMA[1]))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(AC_LUMA[0]) + bytes(AC_LUMA[1]))
    for cid in (1, 2, 3):
        out += _seg(0xFFDA, bytes([1, cid, 0x00, 0, 63, 0])) + b"\xd0\xaf"
    out += b"\xff\xd9"
    expect = np.broadcast_to(np.array([205, 126, 217], np.uint8), (8, 8, 3))
    assert np.array_equal(decode_jpeg(bytes(out)), expect)


def test_decoder_rejects_non_baseline_and_garbage():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"nope")
    # lossless SOF3 must be refused, not mis-decoded
    bad = bytearray(_headers())
    i = bytes(bad).find(b"\xff\xc0")
    bad[i + 1] = 0xC3
    with pytest.raises(ValueError, match="non-baseline"):
        decode_jpeg(bytes(bad) + b"\xd0\xa2\xbf\xff\xd9")
    # SOF2 now ROUTES to the progressive decoder (r6) — a baseline
    # scan header (Ss=0, Se=63) inside a progressive frame is invalid
    # and must fail loudly, not mis-decode
    bad = bytearray(_headers())
    i = bytes(bad).find(b"\xff\xc0")
    bad[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive scan"):
        decode_jpeg(bytes(bad) + b"\xd0\xa2\xbf\xff\xd9")


def test_byte_stuffing_roundtrip():
    """An image whose entropy stream contains 0xFF bytes must decode
    through the stuffed-byte path (encoder stuffs, decoder unstuffs)."""
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    enc = encode_jpeg(img, quality=85)
    sos = enc.find(b"\xff\xda")
    assert b"\xff\x00" in enc[sos:], "fixture never stuffed — rotate seed"
    assert psnr(img, decode_jpeg(enc)) > 25.0


# --- progressive (SOF2, r6) ------------------------------------------
#
# The oracle property: encode_jpeg_progressive layers the SAME
# quantized coefficients as encode_jpeg (shared _coef_blocks), so the
# progressive decode must be BIT-IDENTICAL to the baseline decode —
# any error in spectral-selection banding, successive-approximation
# shifts, EOB runs, ZRL skips or refinement correction bits breaks
# exact equality.

from earth_data_kit_spark.operators.jpeg import encode_jpeg_progressive  # noqa: E402


def _sof_marker(payload):
    """First SOFn marker byte: walk the marker segments after SOI."""
    pos = 2
    while not (0xC0 <= payload[pos + 1] <= 0xCF and payload[pos + 1] not in (0xC4, 0xC8, 0xCC)):
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        pos += 2 + seglen
    return payload[pos + 1]


def _assert_prog_equals_baseline(img, q=90, sub=True):
    base = encode_jpeg(img, quality=q, subsample=sub)
    prog = encode_jpeg_progressive(img, quality=q, subsample=sub)
    assert _sof_marker(base) == 0xC0 and _sof_marker(prog) == 0xC2
    assert prog.count(b"\xff\xda") >= 6  # genuinely multi-scan
    a, b = decode_jpeg(base), decode_jpeg(prog)
    assert a.shape == b.shape
    assert np.array_equal(a, b)


def test_progressive_gray_matches_baseline_exactly():
    rng = np.random.default_rng(5)
    _assert_prog_equals_baseline(
        rng.integers(0, 256, (48, 56)).astype(np.uint8), q=90
    )
    # partial MCUs + low quality (long zero runs, EOB-heavy)
    _assert_prog_equals_baseline(
        rng.integers(0, 256, (37, 29)).astype(np.uint8), q=50
    )


def test_progressive_color_420_and_444_match_baseline():
    rng = np.random.default_rng(7)
    _assert_prog_equals_baseline(
        rng.integers(0, 256, (41, 53, 3)).astype(np.uint8), q=85, sub=True
    )
    _assert_prog_equals_baseline(
        rng.integers(0, 256, (33, 17, 3)).astype(np.uint8), q=90, sub=False
    )


def test_progressive_extreme_spectra():
    x, y = np.meshgrid(np.arange(80), np.arange(64))
    _assert_prog_equals_baseline(((x * 3 + y * 2) % 256).astype(np.uint8), q=95)
    _assert_prog_equals_baseline(
        (((x % 2) ^ (y % 2)) * 255).astype(np.uint8), q=90
    )
    _assert_prog_equals_baseline(np.full((40, 40), 128, np.uint8), q=90)


def test_progressive_flows_through_decode_image():
    """multimodal.decode_image dispatches SOF2 transparently — the
    web-corpus pipeline needs no flagging path now that progressive
    decodes for real."""
    from earth_data_kit_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    out = decode_image(encode_jpeg_progressive(img, quality=92))
    ref = decode_image(encode_jpeg(img, quality=92))
    assert np.array_equal(out, ref)
