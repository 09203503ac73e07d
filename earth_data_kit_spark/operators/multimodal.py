"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed via Arrow-batched ``mapInPandas``.

The decode step is REAL for every image format a synthetic corpus
carries — binary PPM (P6), PNG (own zlib-inflate + Paeth unfilter),
and baseline or progressive JPEG (own Huffman+IDCT, operators/jpeg.py) —
plus raw little-endian int16 PCM audio and raw packed RGB video
frames, all numpy/stdlib only.  Audio/video COMPRESSED codecs
(Opus/H.264) still need external libraries absent from this
container; ``decode_image`` is the seam a production decoder drops
into for anything else.

Reference analog: the blocked raster read pipeline (SURVEY.md §2.8
R1-R4, /root/reference/earth_data_kit/xarray_boosted/entrypoint.py:
95-133) — binary blocks in, numpy batches out, per-batch masking and
scaling.  The driver query ``mm_features`` is hash-verified against a
DuckDB oracle that recomputes the features from the synthetic
payloads' closed-form pixel/sample arithmetic — i.e. the whole
decode → resize/window → pool pipeline is oracle-checked end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "width int, height int, sample_rate int, n_frames int"
)

FEATURE_SCHEMA = (
    "media_id bigint, kind string, feat array<double>, "
    "out_width int, out_height int"
)


# ------------------------------------------------------------- codecs

def encode_ppm(img: np.ndarray) -> bytes:
    """Binary PPM (P6): '<P6>\\n<w> <h>\\n255\\n' + packed RGB rows."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    return f"P6\n{w} {h}\n255\n".encode() + img.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Parse binary PPM → (h, w, 3) uint8.  Real decode, numpy-only."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM payload")
    # header: magic, dims, maxval — whitespace separated, then one
    # whitespace byte before the raster
    parts, idx = [], 2
    while len(parts) < 3:
        while payload[idx : idx + 1].isspace():
            idx += 1
        start = idx
        while not payload[idx : idx + 1].isspace():
            idx += 1
        parts.append(int(payload[start:idx]))
    idx += 1  # the single whitespace after maxval
    w, h, maxval = parts
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    return np.frombuffer(payload, dtype=np.uint8, count=h * w * 3, offset=idx).reshape(h, w, 3)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png(payload: bytes) -> np.ndarray:
    """Real PNG decode from the spec, stdlib-only (zlib): chunk walk,
    IDAT concat + inflate, per-scanline unfilter (types 0-4 incl.
    Paeth), 8-bit gray / RGB / RGBA → (h, w, 3) uint8 (gray
    broadcast, alpha dropped).  No interlace, no palette — the
    compressed-codec cases a synthetic corpus actually produces (and
    what plot.py emits)."""
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    import struct
    import zlib

    pos, idat, meta = 8, b"", None
    while pos < len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            meta = (w, h, depth, ctype)
            if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
                raise ValueError(f"unsupported PNG shape: depth={depth} interlace={interlace}")
            if ctype not in (0, 2, 6):
                raise ValueError(f"unsupported PNG color type {ctype} (no palette)")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    w, h, _, ctype = meta
    ch = {0: 1, 2: 3, 6: 4}[ctype]
    raw = zlib.decompress(idat)
    stride = 1 + w * ch
    out = np.zeros((h, w * ch), dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.uint8)
    for y in range(h):
        f = raw[y * stride]
        line = np.frombuffer(raw, dtype=np.uint8, count=w * ch, offset=y * stride + 1).copy()
        if f == 0:
            pass
        elif f == 2:  # up
            line += prev
        elif f in (1, 3, 4):  # sub / average / paeth need left-to-right
            cur = line.astype(np.int32)
            for i in range(w * ch):
                a = int(cur[i - ch]) if i >= ch else 0
                b = int(prev[i])
                if f == 1:
                    cur[i] = (cur[i] + a) & 0xFF
                elif f == 3:
                    cur[i] = (cur[i] + (a + b) // 2) & 0xFF
                else:
                    c = int(prev[i - ch]) if i >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (cur[i] + pr) & 0xFF
            line = cur.astype(np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = line
        prev = out[y]
    img = out.reshape(h, w, ch)
    if ctype == 0:
        return np.repeat(img, 3, axis=2)
    return img[..., :3]  # RGBA → drop alpha; RGB as-is


def decode_image(payload: bytes, width: int | None = None, height: int | None = None) -> np.ndarray:
    """Image decode dispatch — all three real-corpus formats decode
    for REAL with numpy/stdlib only: PPM (header+raster), PNG (zlib +
    unfilter), and baseline-sequential or progressive JPEG (own
    Huffman+IDCT, operators/jpeg.py).  Grayscale decodes broadcast
    to 3 channels so downstream pooling sees a uniform (h, w, 3)."""
    if payload is None:
        raise ValueError("null image payload")
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:8] == _PNG_MAGIC:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from earth_data_kit_spark.operators.jpeg import decode_jpeg

        img = decode_jpeg(payload)
        if img.ndim == 2:
            img = np.repeat(img[:, :, None], 3, axis=2)
        return img
    raise ValueError(
        f"unrecognized image payload (magic {payload[:4]!r}); "
        "PPM/PNG/JPEG decode natively — plug other codecs into decode_image"
    )


def decode_pcm16(payload: bytes) -> np.ndarray:
    """Raw little-endian int16 PCM → int64 samples (real decode)."""
    return np.frombuffer(payload, dtype="<i2").astype(np.int64)


def decode_raw_video(payload: bytes, width: int, height: int, n_frames: int) -> np.ndarray:
    """Raw packed RGB frames → (n_frames, h, w, 3) uint8 (real)."""
    return np.frombuffer(payload, dtype=np.uint8, count=n_frames * height * width * 3).reshape(
        n_frames, height, width, 3
    )


# ---------------------------------------------------------- transforms

def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize — the same index math as the
    reference's regrid (R7/R9, dataset.py:516-541, 947-961)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * (h / out_h)).astype(np.int64)
    xs = (np.arange(out_w) * (w / out_w)).astype(np.int64)
    return img[ys][:, xs]


def sample_frames(n_frames: int, every: int) -> np.ndarray:
    """Frame-sampling index math for video payloads."""
    return np.arange(0, n_frames, every, dtype=np.int64)


def image_features(payload: bytes, out_w: int, out_h: int) -> list[float]:
    """decode → nearest resize → channel-mean pool → out_h·out_w."""
    small = resize_nearest(decode_image(payload), out_w, out_h)
    return (small.astype(np.float64).sum(axis=2) / 3.0).ravel().tolist()

def audio_features(payload: bytes, n_windows: int) -> list[float]:
    """decode PCM → mean |amplitude| per window.  Windows are equal
    length except the LAST, which absorbs the remainder samples (no
    silent tail drop); payloads shorter than n_windows samples raise
    a clear ValueError instead of a ZeroDivisionError (ADVICE r2)."""
    s = np.abs(decode_pcm16(payload))
    wlen = len(s) // n_windows
    if wlen < 1:
        raise ValueError(
            f"audio payload too short: {len(s)} samples < n_windows={n_windows}"
        )
    out = []
    for i in range(n_windows):
        seg = s[i * wlen :] if i == n_windows - 1 else s[i * wlen : (i + 1) * wlen]
        out.append(float(seg.sum() / len(seg)))
    return out


def video_features(payload: bytes, width: int, height: int, n_frames: int, every: int = 2) -> list[float]:
    """decode frames → sample every-Nth → mean pixel per frame."""
    frames = decode_raw_video(payload, width, height, n_frames)
    idx = sample_frames(n_frames, every)
    denom = float(height * width * 3)
    return [float(frames[f].astype(np.float64).sum() / denom) for f in idx]


def extract_features(media: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """mapInPandas pipeline: per-kind decode → resize/window/sample →
    pooled float features.  Arrow batch in/out; payloads are MB-scale
    blobs so the per-row loop iterates blocks, not points (same shape
    as operators/blocks.py)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for _, r in pdf.iterrows():
                if r["kind"] == "image":
                    feats.append(image_features(r["payload"], out_w, out_h))
                elif r["kind"] == "audio":
                    feats.append(audio_features(r["payload"], out_w))
                elif r["kind"] == "video":
                    feats.append(
                        video_features(
                            r["payload"], int(r["width"]), int(r["height"]), int(r["n_frames"])
                        )
                    )
                else:
                    feats.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feat": feats,
                    "out_width": out_w,
                    "out_height": out_h,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


# ----------------------------------------------------------- synthesis

IMG_W, IMG_H = 32, 24
AUDIO_N, AUDIO_RATE = 480, 16000
VID_W, VID_H, VID_FRAMES = 8, 6, 6


def synth_image(media_id: int) -> bytes:
    """pix(x, y, c) = (id·31 + y·17 + x·7 + c·5) % 256 — closed form,
    mirrored by the mm_features DuckDB oracle."""
    y, x, c = np.meshgrid(
        np.arange(IMG_H), np.arange(IMG_W), np.arange(3), indexing="ij"
    )
    img = ((media_id * 31 + y * 17 + x * 7 + c * 5) % 256).astype(np.uint8)
    return encode_ppm(img)


def synth_audio(media_id: int) -> bytes:
    """sample(i) = (id·13 + i·7) % 2003 − 1001, int16 LE PCM."""
    i = np.arange(AUDIO_N)
    return ((media_id * 13 + i * 7) % 2003 - 1001).astype("<i2").tobytes()


def synth_video(media_id: int) -> bytes:
    """frame pixel(f, x, y, c) = (id·11 + f·19 + y·17 + x·7 + c·5) % 256."""
    f, y, x, c = np.meshgrid(
        np.arange(VID_FRAMES), np.arange(VID_H), np.arange(VID_W), np.arange(3),
        indexing="ij",
    )
    return ((media_id * 11 + f * 19 + y * 17 + x * 7 + c * 5) % 256).astype(np.uint8).tobytes()


def synth_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic media table cycling image/audio/video by id%3 —
    REAL payload bytes (PPM/PCM/raw RGB) whose content is closed-form
    arithmetic, so features are SQL-recomputable."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            rows.append((i, kind, synth_image(i), IMG_W, IMG_H, None, None))
        elif kind == "audio":
            rows.append((i, kind, synth_audio(i), None, None, AUDIO_RATE, None))
        else:
            rows.append((i, kind, synth_video(i), VID_W, VID_H, None, VID_FRAMES))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(4, "media_id")
