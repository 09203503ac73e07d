"""JPEG codec — pure numpy/stdlib, no codec lib.

Decodes the two JPEG inputs the engine reads — JPEG-compressed COG
tiles (``gtiff``, compression 7) and the image columns of the web-page
corpus (``multimodal.decode_image``) — per the public ITU-T T.81:

* 8-bit samples, Huffman entropy coding (no arithmetic), sequential
  (SOF0) and progressive (SOF2: spectral selection + successive
  approximation) DCT, grayscale (1 component) and YCbCr with 4:2:0 or
  4:4:4 subsampling, restart markers honored;
* the decoder is ONE marker loop: the frame header allocates one
  zigzag coefficient array per component, every scan — sequential or
  progressive, interleaved or one component per scan (T.81 A.2.2) —
  accumulates into it through one restart-aware block walk, and one
  dequantize → IDCT → upsample → colour step runs at the end;
* the encoder exists so tests can synthesize deterministic fixtures
  (standard Annex K quantization tables scaled by quality, standard
  Annex K Huffman tables): one front half (colour, pad, box-down,
  quantize) and one scan emitter walking a scan script, baseline and
  progressive alike.  Encoder and decoder are INDEPENDENT readings of
  the two halves of the spec — they share no block-order or entropy
  step, the same posture as gtiff.py's writer vs spec-following
  reader — so progressive-vs-baseline equality and the round trips
  catch an ordering bug on either side, and the test oracle
  additionally hand-builds bitstreams straight from the spec to pin
  the decoder alone.

Performance posture: the DCT/quantization math is vectorized numpy;
the entropy coder is a per-symbol python loop.  It runs inside the
Arrow ``mapInPandas`` decode stage (operators/multimodal.py) where
payload decode is per-blob work, exactly where a production codec
drops in.
"""

from __future__ import annotations

import struct

import numpy as np

# --- zigzag order (T.81 Figure A.6) ---------------------------------
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# --- Annex K.1 quantization tables ----------------------------------
QTBL_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

QTBL_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# --- Annex K.3 standard Huffman tables: (bits[1..16], huffval) ------
DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value → (code, length), canonical order (T.81 Annex C)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → value, for MSB-first sequential decode."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


# --- DCT ------------------------------------------------------------

def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix (T.81 A.3.3 FDCT basis)."""
    n = 8
    m = np.zeros((n, n))
    for k in range(n):
        for i in range(n):
            m[k, i] = np.cos((2 * i + 1) * k * np.pi / (2 * n))
    m *= np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


_DCT = _dct_matrix()


def fdct2(block: np.ndarray) -> np.ndarray:
    return _DCT @ block @ _DCT.T


def idct2(coef: np.ndarray) -> np.ndarray:
    return _DCT.T @ coef @ _DCT


def quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-compatible quality scaling of a base table (public
    IJG formula): s = 5000/Q for Q<50 else 200-2Q; clamp [1, 255]."""
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (q * s + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


# --- bit IO ---------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0  # pad zeros past end
                self.nbits += 8
                continue
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker: unread (decoder handles RST/EOI outside)
                    self.pos -= 1
                    self.acc = (self.acc << 8) | 0
                    self.nbits += 8
                    continue
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_skip_rst(self) -> None:
        """Byte-align and consume an RSTn marker (T.81 F.2.1.3.1)."""
        self.acc = 0
        self.nbits = 0
        while self.pos + 1 < len(self.data) and not (
            self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        self.pos += 2


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t-bit magnitude to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """signed value → (category t, t-bit code) — encoder side."""
    t = int(v).bit_length() if v > 0 else int(-v).bit_length()
    if v < 0:
        v = v + (1 << t) - 1
    return t, v


def _tz(v: int, al: int) -> int:
    """AC point transform: divide by 2^Al truncating toward zero."""
    v = int(v)
    return -((-v) >> al) if v < 0 else v >> al


def _comp_block_dims(h: int, w: int, hs: int, vs: int, hmax: int, vmax: int):
    """NON-INTERLEAVED scan block dims (T.81 A.2.2): the component's
    true sample dims rounded up to blocks — NOT the MCU-padded grid."""
    cw = -(-w * hs // hmax)
    ch = -(-h * vs // vmax)
    return -(-ch // 8), -(-cw // 8)


# --- encoder --------------------------------------------------------
#
# One front half (``_coef_blocks``) and one scan emitter (``_encode``)
# walking a scan script of (components, Ss, Se, Ah, Al): the baseline
# script is one interleaved 0..63 scan, the progressive one the
# libjpeg-shaped layering of the SAME quantized coefficients.


def _coef_blocks(img: np.ndarray, quality: int, subsample: bool):
    """Colour convert, edge-pad to whole MCUs, 2x2 box-down the chroma
    for 4:2:0, then FDCT + quantize: per-component zigzag coefficient
    arrays ``(blocks_y, blocks_x, 64)`` with the frame layout."""
    img = np.asarray(img)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    ql = quality_scale(QTBL_LUMA, quality)
    qc = quality_scale(QTBL_CHROMA, quality)

    def blocks_of(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
        ph, pw = plane.shape
        out = np.zeros((ph // 8, pw // 8, 64), dtype=np.int64)
        for by in range(0, ph, 8):
            for bx in range(0, pw, 8):
                c = np.round(
                    fdct2(plane[by:by+8, bx:bx+8].astype(np.float64) - 128.0) / q
                ).astype(np.int64)
                out[by // 8, bx // 8] = c.ravel()[ZIGZAG]
        return out

    if gray:
        planes, comps = [img.astype(np.float64)], [(1, 1, 1, 0)]
    else:
        r, g, b = (img[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        s = 2 if subsample else 1
        planes, comps = [y, cb, cr], [(1, s, s, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    mcu = 8 * comps[0][1]
    mh, mw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    planes = [np.pad(p, ((0, mh - h), (0, mw - w)), mode="edge") for p in planes]
    if mcu == 16:  # 2x2 box down for chroma
        planes[1:] = [p.reshape(mh // 2, 2, mw // 2, 2).mean(axis=(1, 3)) for p in planes[1:]]
    qts = {0: ql} if gray else {0: ql, 1: qc}
    coef = {cid: blocks_of(p, qts[tq]) for (cid, _, _, tq), p in zip(comps, planes)}
    return h, w, comps, coef, qts


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _dht_body(tc_th: int, bits, vals) -> bytes:
    return bytes([tc_th]) + bytes(bits) + bytes(vals)


def _enc_blocks(h, w, comps, coef, cids):
    """Encoder-side block order of one scan (T.81 A.2): MCU order when
    the scan interleaves, the component's own block grid otherwise."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    scomps = [c for c in comps if c[0] in cids]
    if len(scomps) > 1:
        for my in range(-(-h // (8 * vmax))):
            for mx in range(-(-w // (8 * hmax))):
                for cid, hs, vs, _ in scomps:
                    for by in range(vs):
                        for bx in range(hs):
                            yield cid, coef[cid][my * vs + by, mx * hs + bx]
    else:
        cid, hs, vs, _ = scomps[0]
        nby, nbx = _comp_block_dims(h, w, hs, vs, hmax, vmax)
        for by in range(nby):
            for bx in range(nbx):
                yield cid, coef[cid][by, bx]


def _enc_ac_first(bw, zz, ac_codes, ss, se, al):
    """AC first pass over Ss..Se of one block (EOB0 only, no runs)."""
    band = [_tz(v, al) for v in zz[ss:se + 1].tolist()]
    nz = [i for i, v in enumerate(band) if v]
    last = nz[-1] if nz else -1
    run = 0
    for i, v in enumerate(band):
        if i > last:
            c, ln = ac_codes[0x00]  # EOB
            bw.write(c, ln)
            break
        if v == 0:
            run += 1
            if run == 16:
                c, ln = ac_codes[0xF0]  # ZRL
                bw.write(c, ln)
                run = 0
            continue
        t, code = _magnitude(v)
        c, ln = ac_codes[(run << 4) | t]
        bw.write(c, ln)
        bw.write(code, t)
        run = 0


def _enc_ac_refine(bw, zz, ac_codes, ss, se, al):
    """AC refinement of one block: correction bits for already-
    significant coefficients ride after the next Huffman symbol, in
    position order (T.81 G.1.2.3)."""
    # queue of events since the last emitted symbol:
    # ('z',) zero-history zero, ('h', bit) history correction bit
    queue: list = []
    emitted_any = False
    for k in range(ss, se + 1):
        v = int(zz[k])
        now = _tz(v, al)
        hist = _tz(v, al + 1) != 0
        if hist:
            queue.append(("h", (abs(v) >> al) & 1))
        elif now != 0:
            # newly significant (|now| == 1 by construction)
            zr = sum(1 for e in queue if e[0] == "z")
            while zr >= 16:
                c, ln = ac_codes[0xF0]
                bw.write(c, ln)
                consumed = 0
                while queue and consumed < 16:
                    e = queue.pop(0)
                    if e[0] == "z":
                        consumed += 1
                    else:
                        bw.write(e[1], 1)
                zr -= 16
            c, ln = ac_codes[(zr << 4) | 1]
            bw.write(c, ln)
            bw.write(1 if now > 0 else 0, 1)
            for e in queue:
                if e[0] == "h":
                    bw.write(e[1], 1)
            queue.clear()
            emitted_any = True
        else:
            queue.append(("z",))
    if queue or not emitted_any:
        c, ln = ac_codes[0x00]  # EOB0
        bw.write(c, ln)
        for e in queue:
            if e[0] == "h":
                bw.write(e[1], 1)


def _encode(frame, sof, script) -> bytes:
    """JFIF headers for the ``_coef_blocks`` frame + one entropy-coded
    segment per scan of ``script``: ``(component ids or None for all,
    Ss, Se, Ah, Al)``."""
    h, w, comps, coef, qts = frame
    huff = {0: (DC_LUMA, AC_LUMA), 1: (DC_CHROMA, AC_CHROMA)}
    codes = {tq: (_huff_codes(*dc), _huff_codes(*ac)) for tq, (dc, ac) in huff.items()}
    tq_of = {cid: tq for cid, _, _, tq in comps}
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in qts.items():
        out += _seg(0xFFDB, bytes([tq]) + bytes(q.ravel()[ZIGZAG].astype(np.uint8)))
    out += _seg(sof, struct.pack(">BHHB", 8, h, w, len(comps)) + b"".join(
        bytes([cid, (hs << 4) | vs, tq]) for cid, hs, vs, tq in comps))
    for tq in qts:
        dc, ac = huff[tq]
        out += _seg(0xFFC4, _dht_body(tq, *dc)) + _seg(0xFFC4, _dht_body(0x10 | tq, *ac))
    for cids, ss, se, ah, al in script:
        cids = cids or [c[0] for c in comps]
        out += _seg(0xFFDA, bytes([len(cids)]) + b"".join(
            bytes([cid, 0x11 * tq_of[cid]]) for cid in cids) + bytes([ss, se, (ah << 4) | al]))
        bw = _BitWriter()
        preds = dict.fromkeys(cids, 0)
        for cid, zz in _enc_blocks(h, w, comps, coef, cids):
            dc_codes, ac_codes = codes[tq_of[cid]]
            if ss == 0 and ah:
                bw.write((int(zz[0]) >> al) & 1, 1)  # DC refinement bit
            elif ss == 0:
                v = int(zz[0]) >> al  # DC point transform: arithmetic shift
                t, code = _magnitude(v - preds[cid])
                preds[cid] = v
                bw.write(*dc_codes[t])
                bw.write(code, t)
            if se:
                (_enc_ac_refine if ah else _enc_ac_first)(bw, zz, ac_codes, max(ss, 1), se, al)
        bw.flush()
        out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg(img: np.ndarray, quality: int = 90, subsample: bool = True) -> bytes:
    """Baseline JFIF encoder.  2D array → grayscale; (h, w, 3) uint8
    RGB → YCbCr, 4:2:0 when ``subsample`` else 4:4:4."""
    return _encode(_coef_blocks(img, quality, subsample), 0xFFC0, [(None, 0, 63, 0, 0)])


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 90, subsample: bool = True
) -> bytes:
    """Progressive (SOF2) encoder over the SAME quantized
    coefficients as ``encode_jpeg`` — the libjpeg-shaped scan script:
    interleaved DC first at Al=1, per-component AC bands at Al=2,
    one AC refinement to Al=1, the DC refinement, and the final AC
    refinement to Al=0.  EOB runs are restricted to EOB0 so the
    standard Annex K Huffman tables stay sufficient (pure size cost,
    spec-valid)."""
    frame = _coef_blocks(img, quality, subsample)
    cids = [c[0] for c in frame[2]]
    script = [(None, 0, 0, 0, 1)]
    script += [([c], ss, se, 0, 2) for c in cids for ss, se in ((1, 5), (6, 63))]
    script += [([c], 1, 63, 2, 1) for c in cids]
    script += [(None, 0, 0, 1, 0)]
    script += [([c], 1, 63, 1, 0) for c in cids]
    return _encode(frame, 0xFFC2, script)


# --- decoder --------------------------------------------------------
#
# One marker loop; SOF0 and SOF2 both allocate one zigzag coefficient
# array per component, every scan (sequential or progressive,
# interleaved or not) accumulates into it, and one dequantize → IDCT
# → upsample → colour step runs after EOI.  A sequential scan is the
# DC first pass plus the AC first pass over 1..63 at Al=0.


def _read_huff(br, tbl) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        v = tbl.get((length, code))
        if v is not None:
            return v
    raise ValueError("corrupt JPEG: invalid Huffman code")


def _dec_dc(br, zz, tbl, pred, ah, al) -> int:
    """DC step: first pass (Ah=0) adds a Huffman-coded diff to the
    predictor; refinement (Ah>0) ORs in one raw bit."""
    if ah:
        if br.read_bit():
            zz[0] |= 1 << al
        return pred
    t = _read_huff(br, tbl)
    pred += _extend(br.read_bits(t), t)
    zz[0] = pred << al
    return pred


def _dec_ac_first(br, zz, tbl, ss, se, al, eobrun) -> int:
    """AC first pass over Ss..Se with EOB-run coding; returns the EOB
    run still pending after this block."""
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_huff(br, tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            return (1 << r) - 1 + br.read_bits(r)  # EOBn
        k += r
        if k > se:
            raise ValueError("corrupt JPEG: AC index out of range (past Se)")
        zz[k] = _extend(br.read_bits(s), s) << al
        k += 1
    return 0


def _dec_ac_refine(br, zz, tbl, ss, se, al, eobrun) -> int:
    """AC refinement with correction bits interleaved per T.81
    G.1.2.3 (the decoder mirror of libjpeg's decode_mcu_AC_refine)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_huff(br, tbl)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) + br.read_bits(r)
                    break
                # r == 15: ZRL — skip 16 zero-history coefs
            else:
                val = p1 if br.read_bit() else m1
            while k <= se:
                if zz[k] != 0:
                    if br.read_bit() and (abs(zz[k]) & p1) == 0:
                        zz[k] += p1 if zz[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0 and br.read_bit() and (abs(zz[k]) & p1) == 0:
                zz[k] += p1 if zz[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(br, scan, comps, coef, h, w, hdr, dc_tbls, ac_tbls, restart_interval):
    """The restart-aware block walk of one scan (T.81 A.2): MCUs of
    the interleaved components in MCU order, or the lone component's
    own block grid; every ``restart_interval`` MCUs byte-align past
    RSTn and reset the DC predictors and the EOB run."""
    ss, se, ah, al = hdr
    samp = {cid: (hs, vs) for cid, hs, vs, _ in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if len(scan) > 1:
        parts = [(sc, *samp[sc[0]]) for sc in scan]
        mcus = (
            [(sc, coef[sc[0]][my * vs + by, mx * hs + bx])
             for sc, hs, vs in parts for by in range(vs) for bx in range(hs)]
            for my in range(-(-h // (8 * vmax)))
            for mx in range(-(-w // (8 * hmax)))
        )
    else:
        nby, nbx = _comp_block_dims(h, w, *samp[scan[0][0]], hmax, vmax)
        mcus = ([(scan[0], coef[scan[0][0]][by, bx])]
                for by in range(nby) for bx in range(nbx))
    preds, eobrun = {}, 0
    for n, mcu in enumerate(mcus):
        if restart_interval and n and n % restart_interval == 0:
            br.align_and_skip_rst()
            preds, eobrun = {}, 0
        for (cid, dct, act), zz in mcu:
            if ss == 0:
                preds[cid] = _dec_dc(br, zz, dc_tbls.get(dct), preds.get(cid, 0), ah, al)
            if se:
                step = _dec_ac_refine if ah else _dec_ac_first
                eobrun = step(br, zz, ac_tbls[act], max(ss, 1), se, al, eobrun)


def _planes_to_image(full: dict, comps: list) -> np.ndarray:
    """Component planes (already cropped to h×w) → uint8 image."""
    if len(comps) == 1:
        return np.clip(np.round(full[comps[0][0]]), 0, 255).astype(np.uint8)
    y, cb, cr = (full[c[0]] for c in comps)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG decode → (h, w) uint8 grayscale or (h, w, 3) uint8 RGB.

    Baseline sequential (SOF0, interleaved or one scan per component)
    and progressive (SOF2: spectral selection + successive
    approximation) both decode for real; other frame types (lossless,
    arithmetic, hierarchical) raise."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    qtbls: dict[int, np.ndarray] = {}
    dc_tbls: dict[int, dict] = {}
    ac_tbls: dict[int, dict] = {}
    comps: list = []  # (id, h_samp, v_samp, qtbl_id)
    coef: dict[int, np.ndarray] = {}
    h = w = restart_interval = 0
    progressive = scanned = False
    pos = 2
    while pos + 1 < len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            for bpos in range(0, len(body), 65):
                if body[bpos] >> 4:
                    raise ValueError("16-bit quant tables unsupported (not baseline)")
                q = np.zeros(64, dtype=np.int64)
                q[ZIGZAG] = np.frombuffer(body, np.uint8, 64, bpos + 1)
                qtbls[body[bpos] & 0x0F] = q.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            bpos = 0
            while bpos < len(body):
                tc_th = body[bpos]
                bits = list(body[bpos + 1 : bpos + 17])
                n = sum(bits)
                vals = list(body[bpos + 17 : bpos + 17 + n])
                (ac_tbls if tc_th >> 4 else dc_tbls)[tc_th & 0x0F] = _huff_decode_table(bits, vals)
                bpos += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline, SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                kind = "progressive" if progressive else "baseline"
                raise ValueError(f"only 8-bit {kind} JPEG supported")
            comps = []
            for ci in range(nc):
                cid, samp, tq = body[6 + ci * 3 : 9 + ci * 3]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            mcus_x = -(-w // (8 * max(c[1] for c in comps)))
            mcus_y = -(-h // (8 * max(c[2] for c in comps)))
            coef = {cid: np.zeros((mcus_y * vs, mcus_x * hs, 64), dtype=np.int64)
                    for cid, hs, vs, _ in comps}
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"non-baseline SOF marker 0xFF{marker:02X}")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("corrupt JPEG: missing SOF/SOS")
            ns = body[0]
            scan = [(body[1 + si * 2], body[2 + si * 2] >> 4, body[2 + si * 2] & 0x0F)
                    for si in range(ns)]
            ss, se, ahal = body[1 + ns * 2 : 4 + ns * 2]
            if not progressive:
                ss, se, ahal = 0, 63, 0  # sequential: the whole block, no shift
            elif (ss == 0) != (se == 0) or se > 63 or se < ss:
                raise ValueError(
                    "invalid progressive scan header (DC scans are "
                    f"Ss=Se=0, AC bands 1<=Ss<=Se<=63; got {ss}..{se})"
                )
            elif ss and ns != 1:
                raise ValueError("progressive AC scan must be single-component")
            # entropy segment: to the next non-RST marker
            p = pos
            while p + 1 < len(payload) and not (
                payload[p] == 0xFF and payload[p + 1] != 0x00
                and not 0xD0 <= payload[p + 1] <= 0xD7
            ):
                p += 1
            _decode_scan(_BitReader(payload[pos:p]), scan, comps, coef, h, w,
                         (ss, se, ahal >> 4, ahal & 0x0F), dc_tbls, ac_tbls,
                         restart_interval)
            pos = p
            scanned = True
    if not scanned:
        raise ValueError("corrupt JPEG: missing SOF/SOS")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = {}
    for cid, hs, vs, tq in comps:
        cf = coef[cid]
        nby, nbx = cf.shape[:2]
        nat = np.zeros((nby, nbx, 64), dtype=np.float64)
        nat[..., ZIGZAG] = cf * qtbls[tq].ravel()[ZIGZAG]
        blocks = _DCT.T @ nat.reshape(nby, nbx, 8, 8) @ _DCT + 128.0  # idct2
        plane = blocks.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        # upsample to full resolution (nearest/box — matches 2x2 box down)
        if hs != hmax or vs != vmax:
            plane = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        full[cid] = plane[:h, :w]
    return _planes_to_image(full, comps)
