"""Physical COG (tiled GeoTIFF) byte sink — no GDAL.

Reference behavior: edk_accessor.py:131-183 writes real GTiff files
per block through GDAL.  This sandbox has no GDAL/rasterio/PIL, so
the byte layout is produced directly from the public TIFF 6.0 +
GeoTIFF 1.1 specifications: little-endian classic TIFF, ONE
full-resolution IFD placed immediately after the 8-byte header (the
cloud-optimized property: a reader learns the complete tile index
from the first few KB), tag arrays next, then the tile payload in
row-major tile order.  Single- or multi-band (PlanarConfiguration=2,
band-major tile planes — the reference's one-file-many-bands shape),
uncompressed, per-tile DEFLATE (Adobe compression 8, zlib streams —
stdlib), TIFF-LZW (compression 5, §13 early-change variant), or
JPEG (compression 7, TIFF Technote 2 "new-style": each tile is a
complete baseline JPEG interchange stream from operators/jpeg.py —
uint8 only, lossy) — the sink that proves the engine's block layout
(operators/cog.py) drives a byte-exact raster file with no codec
seams left.

``read_gtiff`` is the test oracle's independent half: it follows the
spec's tag semantics (not this writer's internals) to reconstruct
the array, so a writer bug that violates the spec breaks the
roundtrip rather than being mirrored.
"""

from __future__ import annotations

import struct
from pathlib import Path
from typing import NamedTuple

import numpy as np

# TIFF tag ids (TIFF 6.0 §8) and GeoTIFF 1.1 geo tags
TAG_SUBFILETYPE = 254  # NewSubfileType: bit 0 = reduced-resolution
TAG_WIDTH = 256
TAG_LENGTH = 257
TAG_BITS = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_SAMPLES = 277
TAG_PLANAR = 284
TAG_TILE_W = 322
TAG_TILE_H = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_BYTES = 325
TAG_SAMPLE_FORMAT = 339
TAG_PIXEL_SCALE = 33550
TAG_TIEPOINT = 33922
TAG_GEO_KEYS = 34735
TAG_NODATA = 42113  # GDAL_NODATA (ASCII)

TAG_PREDICTOR = 317  # 1 = none, 2 = horizontal differencing

_T_SHORT, _T_LONG, _T_DOUBLE, _T_ASCII = 3, 4, 12, 2

# ------------------------------------------------------------ TIFF LZW
# TIFF 6.0 §13: LZW with 9→12-bit variable-width codes, MSB-first bit
# packing, ClearCode=256, EndOfInformation=257, and the "early change"
# quirk — the code width bumps ONE CODE EARLIER than generic LZW (the
# decoder switches at table sizes 510/1022/2046; the encoder emits at
# the wider width as soon as the next code to be added equals
# 2^width - 1).  Table resets via ClearCode at 4094 entries.

_LZW_CLEAR, _LZW_EOI = 256, 257


def lzw_compress(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(_LZW_CLEAR, width)
    omega = b""
    for b in data:
        k = omega + bytes([b])
        if k in table:
            omega = k
            continue
        emit(table[omega], width)
        table[k] = next_code
        next_code += 1
        # early change: switch width when the NEXT code to assign
        # no longer fits at the current width minus one slot
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        omega = bytes([b])
        if next_code >= 4094:
            emit(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
    if omega:
        emit(table[omega], width)
        # flush adds no entry but the decoder still appends one upon
        # receiving this code — mirror its early-change point exactly
        if next_code == (1 << width) - 2 and width < 12:
            width += 1
    emit(_LZW_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def lzw_decompress(data: bytes) -> bytes:
    out = bytearray()
    pos_bits = 0
    total_bits = len(data) * 8

    def read(width: int) -> int:
        nonlocal pos_bits
        if pos_bits + width > total_bits:
            return _LZW_EOI
        v = 0
        for _ in range(width):
            byte = data[pos_bits >> 3]
            v = (v << 1) | ((byte >> (7 - (pos_bits & 7))) & 1)
            pos_bits += 1
        return v

    table: list[bytes] = []
    width = 9

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    reset()
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == _LZW_EOI:
            break
        if code == _LZW_CLEAR:
            reset()
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream: code beyond table")
        out += entry
        prev = entry
        # early change (T.81 ref impl / libtiff): the decoder's table
        # trails the encoder's by one entry mid-stream, so it widens
        # at 510/1022/2046 — one earlier than (1<<width)-1
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)

_DTYPES = {
    "uint8": (8, 1, np.uint8),
    "int8": (8, 2, np.int8),
    "int16": (16, 2, np.int16),
    "uint16": (16, 1, np.uint16),
    "int32": (32, 2, np.int32),
    "uint32": (32, 1, np.uint32),
    "float32": (32, 3, np.float32),
    "float64": (64, 3, np.float64),
}


def write_gtiff(
    path: str,
    tiles: dict,
    width: int,
    height: int,
    tile_w: int,
    tile_h: int,
    dtype: str = "int16",
    gt: tuple = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
    epsg: int = 4326,
    nodata: float | None = None,
    compression: str | None = None,
    n_bands: int = 1,
    overviews: list[dict] | None = None,
    jpeg_quality: int = 90,
) -> dict:
    """Write a tiled GeoTIFF.  Single band: ``tiles[(tx, ty)]`` is
    the (tile_h, tile_w) array for tile column tx / row ty.
    Multi-band (``n_bands`` > 1, the reference's one-file-many-bands
    shape, edk_accessor.py:114-120 WriteArray per band_idx):
    ``tiles[(band, tx, ty)]`` with PlanarConfiguration=2 — tile data
    ordered band-major per the TIFF 6.0 planar rule.  Edge tiles may
    be smaller and are padded to full tile size (TIFF tiles are
    always full-size; the width/length tags clip them on read).
    Missing tiles are filled with ``nodata`` (or 0).  Returns the
    layout summary {n_tiles, ifd_offset, data_offset, bytes}.

    ``gt`` is the GDAL geotransform; north-up only (rotation terms
    must be 0) since GeoTIFF's PixelScale+Tiepoint encoding cannot
    express rotation.

    ``compression='jpeg'`` (uint8 only) stores each tile as a
    complete baseline JPEG interchange stream at ``jpeg_quality``
    (Annex K tables, IJG scaling) — LOSSY: roundtrips reconstruct
    within codec error, not byte-exactly, so nodata semantics are
    approximate under JPEG (as with any JPEG-compressed GeoTIFF)."""
    if compression not in (None, "deflate", "lzw", "jpeg"):
        raise ValueError(
            f"unsupported compression {compression!r}: "
            "None, 'deflate', 'lzw', or 'jpeg'"
        )
    if compression == "jpeg" and dtype != "uint8":
        raise ValueError(
            f"JPEG-in-TIFF is 8-bit baseline only (dtype {dtype!r}); "
            "use dtype='uint8' or a lossless compression"
        )
    if gt[2] != 0.0 or gt[4] != 0.0:
        raise ValueError("rotated geotransforms cannot be encoded in GeoTIFF")
    bits, fmt, npdt = _DTYPES[dtype]
    fill = nodata if nodata is not None else 0

    # images[0] is the full-resolution raster; overview entries (if
    # any) are reduced-resolution IFDs chained behind it via the
    # next-IFD pointer, each flagged NewSubfileType=1 per TIFF 6.0 —
    # the COG overview layout (all IFDs up front, tile data after).
    images = [{"tiles": tiles, "width": width, "height": height}]
    for ov in overviews or []:
        images.append(ov)

    def _payloads(img):
        import zlib

        w, h, tl = img["width"], img["height"], img["tiles"]
        n_tx = -(-w // tile_w)
        n_ty = -(-h // tile_h)
        out = []
        # band-major, then row-major tile order
        for band in range(n_bands):
            for ty in range(n_ty):
                for tx in range(n_tx):
                    key = (tx, ty) if n_bands == 1 else (band, tx, ty)
                    a = tl.get(key)
                    full = np.full((tile_h, tile_w), fill, dtype=npdt)
                    if a is not None:
                        a = np.asarray(a, dtype=npdt)
                        full[: a.shape[0], : a.shape[1]] = a
                    if compression == "jpeg":
                        # Technote 2 new-style JPEG: the tile payload
                        # is a complete grayscale baseline interchange
                        # stream (planar tiles are single-component)
                        from earth_data_kit_spark.operators.jpeg import encode_jpeg

                        out.append(encode_jpeg(full, quality=jpeg_quality))
                        continue
                    raw = full.tobytes()  # native little-endian
                    if compression == "deflate":
                        out.append(zlib.compress(raw, 6))
                    elif compression == "lzw":
                        out.append(lzw_compress(raw))
                    else:
                        out.append(raw)
        return out

    nodata_ascii = (
        (repr(float(nodata)) if nodata is not None else "").encode() + b"\x00"
    )
    geo_keys = [
        1, 1, 0, 3,          # version, rev, minor, n_keys
        1024, 0, 1, 2,       # GTModelTypeGeoKey = geographic
        1025, 0, 1, 1,       # GTRasterTypeGeoKey = PixelIsArea
        2048, 0, 1, epsg,    # GeographicTypeGeoKey
    ]

    def _entries(img, n_tiles, tile_bytes, reduced):
        # entries sorted by tag id, as the spec requires
        es = [
            (TAG_WIDTH, _T_LONG, 1, [img["width"]]),
            (TAG_LENGTH, _T_LONG, 1, [img["height"]]),
            (TAG_BITS, _T_SHORT, n_bands, [bits] * n_bands),
            # 1 = none, 5 = TIFF-LZW, 7 = JPEG (Technote 2),
            # 8 = Adobe DEFLATE (zlib streams per tile)
            (TAG_COMPRESSION, _T_SHORT, 1,
             [{None: 1, "lzw": 5, "jpeg": 7, "deflate": 8}[compression]]),
            (TAG_PHOTOMETRIC, _T_SHORT, 1, [1]),
            (TAG_SAMPLES, _T_SHORT, 1, [n_bands]),
            # planar (separate band planes) for multi-band: tile data
            # is band-major, exactly how per-band block tables land
            (TAG_PLANAR, _T_SHORT, 1, [2 if n_bands > 1 else 1]),
            (TAG_TILE_W, _T_LONG, 1, [tile_w]),
            (TAG_TILE_H, _T_LONG, 1, [tile_h]),
            (TAG_TILE_OFFSETS, _T_LONG, n_tiles, None),   # patched below
            (TAG_TILE_BYTES, _T_LONG, n_tiles, tile_bytes),
            (TAG_SAMPLE_FORMAT, _T_SHORT, n_bands, [fmt] * n_bands),
        ]
        if reduced:
            es.append((TAG_SUBFILETYPE, _T_LONG, 1, [1]))
        else:
            # geo tags on the full-resolution IFD only (GDAL layout)
            es += [
                (TAG_PIXEL_SCALE, _T_DOUBLE, 3, [gt[1], -gt[5], 0.0]),
                (TAG_TIEPOINT, _T_DOUBLE, 6, [0.0, 0.0, 0.0, gt[0], gt[3], 0.0]),
                (TAG_GEO_KEYS, _T_SHORT, len(geo_keys), geo_keys),
            ]
            if nodata is not None:
                es.append((TAG_NODATA, _T_ASCII, len(nodata_ascii), nodata_ascii))
        es.sort(key=lambda e: e[0])
        return es

    _SZ = {_T_SHORT: 2, _T_LONG: 4, _T_DOUBLE: 8, _T_ASCII: 1}

    # --- layout pass: IFD + external value area per image, in order,
    # then all tile payloads (offsets computed before writing) ---
    metas = []
    pos = 8
    for i, img in enumerate(images):
        plds = _payloads(img)
        tb = [len(p) for p in plds]
        es = _entries(img, len(plds), tb, reduced=i > 0)
        ifd_offset_i = pos
        pos += 2 + 12 * len(es) + 4
        ext_pos = {}
        for tag, typ, cnt, _ in es:
            sz = _SZ[typ] * cnt
            if sz > 4:
                ext_pos[tag] = pos
                pos += sz + (sz & 1)  # word-align
        metas.append(
            {"entries": es, "payloads": plds, "ifd_offset": ifd_offset_i,
             "ext_pos": ext_pos}
        )
    data_offset = pos
    p = data_offset
    for m in metas:
        offs = []
        for b in m["payloads"]:
            offs.append(p)
            p += len(b)
        m["tile_offsets"] = offs

    def pack_values(typ, cnt, vals):
        if typ == _T_ASCII:
            return bytes(vals)
        code = {_T_SHORT: "H", _T_LONG: "I", _T_DOUBLE: "d"}[typ]
        return struct.pack("<" + code * cnt, *vals)

    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, metas[0]["ifd_offset"])
    for i, m in enumerate(metas):
        assert len(out) == m["ifd_offset"]
        out += struct.pack("<H", len(m["entries"]))
        for tag, typ, cnt, vals in m["entries"]:
            if tag == TAG_TILE_OFFSETS:
                vals = m["tile_offsets"]
            blob = pack_values(typ, cnt, vals)
            if len(blob) > 4:
                out += struct.pack("<HHI", tag, typ, cnt) + struct.pack(
                    "<I", m["ext_pos"][tag]
                )
            else:
                out += struct.pack("<HHI", tag, typ, cnt) + blob.ljust(4, b"\x00")
        nxt = metas[i + 1]["ifd_offset"] if i + 1 < len(metas) else 0
        out += struct.pack("<I", nxt)
        # external arrays (same order as offsets were assigned)
        for tag, typ, cnt, vals in m["entries"]:
            if tag in m["ext_pos"]:
                if tag == TAG_TILE_OFFSETS:
                    vals = m["tile_offsets"]
                blob = pack_values(typ, cnt, vals)
                assert len(out) == m["ext_pos"][tag], (tag, len(out))
                out += blob + (b"\x00" if len(blob) & 1 else b"")
    assert len(out) == data_offset
    for m in metas:
        for pld in m["payloads"]:
            out += pld
    with open(path, "wb") as f:
        f.write(bytes(out))
    return {
        "n_tiles": len(metas[0]["payloads"]),
        "ifd_offset": metas[0]["ifd_offset"],
        "data_offset": data_offset,
        "bytes": len(out),
        "n_ifds": len(metas),
    }


def read_gtiff(path: str):
    """Spec-following reader (the independent oracle): the first IFD's
    image, tiles reassembled and clipped to (height, width).  Returns
    (array, tags) where tags maps tag id → value list."""
    return _read_image(Path(path).read_bytes(), 0)


def read_gtiff_ifds(path: str) -> list[tuple]:
    """All images in the file, in next-IFD chain order — the
    full-resolution raster first, then reduced-resolution overview
    IFDs (NewSubfileType bit 0 set).  Returns a list of (array, tags)
    per IFD."""
    raw = Path(path).read_bytes()
    return [_read_image(raw, level) for level in range(len(_ifd_chain(raw)))]


def read_gtiff_window(
    path: str, xoff: int, yoff: int, xsize: int, ysize: int, level: int = 0
) -> np.ndarray:
    """The COG read path this layout exists FOR: resolve the tile
    index from the header-resident IFD chain, then decode ONLY the
    tiles intersecting the requested window — every other tile's
    bytes are never touched (over HTTP this is the ranged-GET
    pattern; here the untouched bytes are simply never sliced).
    ``level`` selects an overview IFD (0 = full resolution); the
    window is expressed in THAT level's pixel space.  Returns
    (ysize, xsize) for single-band files, (bands, ysize, xsize) for
    planar multi-band.  Out-of-range windows raise."""
    raw = Path(path).read_bytes()
    return _read_window(raw, _layout(raw, level), xoff, yoff, xsize, ysize)


# (BitsPerSample, SampleFormat) → dtype name: the reader's view of
# the one dtype table
_DTYPE_NAMES = {(bits, fmt): name for name, (bits, fmt, _) in _DTYPES.items()}

# field types the reader decodes (TIFF 6.0 §2) → (struct code, size)
_FIELDS = {_T_SHORT: ("H", 2), _T_LONG: ("I", 4), _T_DOUBLE: ("d", 8), _T_ASCII: ("c", 1)}

# the tags the reader acts on; an entry of any other tag whose field
# type is not in _FIELDS is skipped, as §2 asks of readers
_NEEDED = {
    TAG_WIDTH, TAG_LENGTH, TAG_BITS, TAG_COMPRESSION, TAG_SAMPLES,
    TAG_PREDICTOR, TAG_PLANAR, TAG_TILE_W, TAG_TILE_H, TAG_TILE_OFFSETS,
    TAG_TILE_BYTES, TAG_SAMPLE_FORMAT, TAG_NODATA,
}


def _ifd_chain(raw: bytes) -> list[int]:
    """Header step: check the 8-byte header (little-endian classic
    TIFF only) and walk the next-IFD chain (§2: each IFD ends with
    the next one's offset, 0 terminates) → the offset of every IFD,
    full resolution first."""
    if raw[:4] == b"MM\x00*":
        raise ValueError("big-endian TIFF is not supported")
    if len(raw) < 8 or raw[:4] != b"II*\x00":
        raise ValueError("not a little-endian TIFF")
    (ifd,) = struct.unpack_from("<I", raw, 4)
    chain: list[int] = []
    while ifd:
        if ifd in chain:
            raise ValueError("cyclic TIFF IFD chain")
        _check_range(raw, ifd, 2, f"IFD {len(chain)} entry count")
        (n,) = struct.unpack_from("<H", raw, ifd)
        _check_range(raw, ifd + 2, 12 * n + 4, f"IFD {len(chain)} entry table")
        chain.append(ifd)
        (ifd,) = struct.unpack_from("<I", raw, ifd + 2 + 12 * n)
    return chain


def _check_range(raw: bytes, off: int, size: int, what: str) -> None:
    """``ValueError`` naming ``what`` unless bytes [off, off + size)
    lie inside the file (a truncated or corrupt file)."""
    if off + size > len(raw):
        raise ValueError(
            f"TIFF {what}: bytes [{off}, {off + size}) run past the end of the file ({len(raw)} bytes)"
        )


def _parse_ifd(raw: bytes, ifd: int, level: int) -> dict:
    """IFD ``level``'s tags (tag id → value list; ASCII as bytes) —
    the metadata a COG reader resolves from the header bytes without
    touching tile data.  ``ifd`` comes from ``_ifd_chain``, which has
    range-checked its entry table."""
    (n,) = struct.unpack_from("<H", raw, ifd)
    tags = {}
    for i in range(n):
        tag, typ, cnt, val_raw = struct.unpack_from("<HHI4s", raw, ifd + 2 + 12 * i)
        if typ not in _FIELDS:
            if tag in _NEEDED:
                raise ValueError(f"TIFF tag {tag}: field type {typ} is not supported")
            continue
        code, sz = _FIELDS[typ]
        total = sz * cnt
        if total <= 4:
            src = val_raw[:total]
        else:
            (off,) = struct.unpack("<I", val_raw)
            _check_range(raw, off, total, f"IFD {level} tag {tag} value")
            src = raw[off : off + total]
        tags[tag] = src if typ == _T_ASCII else list(struct.unpack("<" + code * cnt, src))
    return tags


class _Layout(NamedTuple):
    """One IFD's image layout: sizes, tile grid and decode parameters."""

    tags: dict
    width: int
    height: int
    tile_w: int
    tile_h: int
    n_tx: int
    n_ty: int
    n_bands: int
    dtype: str
    comp: int
    predictor: int

    def tiles(self, x0: int, y0: int, x1: int, y1: int):
        """(band, tx, ty, byte offset, byte count) of every tile
        meeting the pixel window [x0, x1) × [y0, y1), in file order:
        band-major, then row-major."""
        offsets, counts = self.tags[TAG_TILE_OFFSETS], self.tags[TAG_TILE_BYTES]
        for band in range(self.n_bands):
            for ty in range(y0 // self.tile_h, -(-y1 // self.tile_h)):
                for tx in range(x0 // self.tile_w, -(-x1 // self.tile_w)):
                    i = (band * self.n_ty + ty) * self.n_tx + tx
                    yield band, tx, ty, offsets[i], counts[i]


def _layout(raw: bytes, level: int) -> _Layout:
    """Layout step: IFD ``level`` of the chain → its ``_Layout``.
    Malformed or unsupported images raise ``ValueError``."""
    chain = _ifd_chain(raw)
    if not 0 <= level < len(chain):
        raise ValueError(f"overview level {level} beyond IFD chain")
    tags = _parse_ifd(raw, chain[level], level)
    required = (TAG_WIDTH, TAG_LENGTH, TAG_BITS, TAG_TILE_W, TAG_TILE_H,
                TAG_TILE_OFFSETS, TAG_TILE_BYTES)
    if any(t not in tags for t in required):
        raise ValueError(f"not a tiled TIFF image: tags {required} are required")
    width, height = tags[TAG_WIDTH][0], tags[TAG_LENGTH][0]
    tw, th = tags[TAG_TILE_W][0], tags[TAG_TILE_H][0]
    n_tx, n_ty = -(-width // tw), -(-height // th)
    n_bands = tags.get(TAG_SAMPLES, [1])[0]
    if n_bands > 1 and tags.get(TAG_PLANAR, [1])[0] != 2:
        raise ValueError("multi-band reads support PlanarConfiguration=2 only")
    n_tiles = n_bands * n_tx * n_ty
    if len(tags[TAG_TILE_OFFSETS]) != n_tiles or len(tags[TAG_TILE_BYTES]) != n_tiles:
        raise ValueError(f"tile index does not hold the {n_tiles} tiles of the image")
    for i, (off, cnt) in enumerate(zip(tags[TAG_TILE_OFFSETS], tags[TAG_TILE_BYTES])):
        _check_range(raw, off, cnt, f"IFD {level} tile {i}")
    sample = (tags[TAG_BITS][0], tags.get(TAG_SAMPLE_FORMAT, [1])[0])
    if sample not in _DTYPE_NAMES:
        raise ValueError(f"unsupported (BitsPerSample, SampleFormat) {sample}")
    dtype = _DTYPE_NAMES[sample]
    comp = tags.get(TAG_COMPRESSION, [1])[0]
    if comp not in (1, 5, 7, 8):
        raise ValueError(f"unsupported TIFF compression {comp}")
    predictor = tags.get(TAG_PREDICTOR, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if predictor == 2 and not np.issubdtype(_DTYPES[dtype][2], np.integer):
        raise ValueError("horizontal-differencing predictor is integer-only")
    return _Layout(tags, width, height, tw, th, n_tx, n_ty, n_bands, dtype, comp, predictor)


def _decode_tile(buf: bytes, shape: tuple[int, int], npdt, comp: int, predictor: int):
    """One tile's bytes — exactly its [offset, offset + count) range,
    the COG unit of IO — → its ``shape`` (tile_h, tile_w) array."""
    import zlib

    if comp == 7:
        # new-style JPEG: the tile IS a complete interchange stream
        from earth_data_kit_spark.operators.jpeg import decode_jpeg

        tile = decode_jpeg(buf).astype(npdt)
        if tile.shape != tuple(shape):
            raise ValueError(f"JPEG tile dims {tile.shape} != tile grid {tuple(shape)}")
    else:
        if comp == 8:
            buf = zlib.decompress(buf)
        elif comp == 5:
            buf = lzw_decompress(buf)
        tile = np.frombuffer(buf, dtype=npdt).reshape(shape)
    if predictor == 2:
        # undo horizontal differencing: rows accumulate left to
        # right with wraparound in the sample width (TIFF §14)
        u = tile.view(f"<u{tile.itemsize}")
        tile = np.cumsum(u, axis=1, dtype=u.dtype).view(npdt)
    return tile


def _read_window(raw: bytes, lay: _Layout, xoff: int, yoff: int, xsize: int, ysize: int):
    """The one tile-placement loop: decode the tiles meeting the
    window and copy each one's overlap into place.  (ysize, xsize)
    for one band, else (bands, ysize, xsize)."""
    if xoff < 0 or yoff < 0 or xoff + xsize > lay.width or yoff + ysize > lay.height:
        raise ValueError(
            f"window ({xoff},{yoff},{xsize},{ysize}) outside {lay.width}x{lay.height}"
        )
    tw, th = lay.tile_w, lay.tile_h
    npdt = _DTYPES[lay.dtype][2]
    out = np.zeros((lay.n_bands, ysize, xsize), dtype=npdt)
    for band, tx, ty, off, cnt in lay.tiles(xoff, yoff, xoff + xsize, yoff + ysize):
        tile = _decode_tile(raw[off : off + cnt], (th, tw), npdt, lay.comp, lay.predictor)
        # overlap of this tile with the window, in both frames
        gx0, gx1 = max(xoff, tx * tw), min(xoff + xsize, tx * tw + tw)
        gy0, gy1 = max(yoff, ty * th), min(yoff + ysize, ty * th + th)
        out[band, gy0 - yoff : gy1 - yoff, gx0 - xoff : gx1 - xoff] = tile[
            gy0 - ty * th : gy1 - ty * th, gx0 - tx * tw : gx1 - tx * tw
        ]
    return out[0] if lay.n_bands == 1 else out


def _read_image(raw: bytes, level: int) -> tuple:
    """(full-extent array, tags) of IFD ``level``."""
    lay = _layout(raw, level)
    return _read_window(raw, lay, 0, 0, lay.width, lay.height), lay.tags


def downsample_2x2_mean(a: np.ndarray) -> np.ndarray:
    """Factor-2 reduction: each output pixel is the mean of its 2×2
    source window (GDAL 'average' resampling); odd trailing rows/
    columns average the 1-wide remainder.  Float accumulation, cast
    back to the input dtype with rounding for integer types."""
    h, w = a.shape
    acc = a.astype(np.float64)
    oh, ow = -(-h // 2), -(-w // 2)
    out = np.zeros((oh, ow), dtype=np.float64)
    cnt = np.zeros((oh, ow), dtype=np.float64)
    for dy in (0, 1):
        for dx in (0, 1):
            part = acc[dy::2, dx::2]
            out[: part.shape[0], : part.shape[1]] += part
            cnt[: part.shape[0], : part.shape[1]] += 1.0
    out /= cnt
    if np.issubdtype(a.dtype, np.integer):
        return np.round(out).astype(a.dtype)
    return out.astype(a.dtype)


def export_cog(blocks, path: str, width: int, height: int, tile: int = 256,
               gt: tuple = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
               nodata: float | None = None,
               compression: str | None = None,
               overviews: int = 0,
               jpeg_quality: int = 90) -> dict:
    """Blocks table (the standard block schema, operators/blocks.py)
    → physical COG file.  Stored payload values are written VERBATIM
    (a COG export preserves the on-disk dtype/nodata and stamps the
    nodata tag; scale/offset decoding is a read-time concern).  The
    distributed part is the engine's normal block pipeline; the byte
    assembly is the single-writer step (same posture as
    blocks.assemble_window — COG is one file, so one writer owns the
    fan-in; at scale each output granule/tile-group is one such
    writer task).  Block grid must align with the COG tile grid
    (operators/cog.py layout guarantees it: block sizes are
    ×128-ceiled)."""
    cols = ["xoff", "yoff", "xsize", "ysize", "dtype", "nodataval", "payload"]
    has_band = "band" in blocks.columns
    if has_band:
        cols.append("band")
    rows = blocks.select(*cols).collect()
    dtypes = {r["dtype"] for r in rows}
    if len(dtypes) > 1:
        raise ValueError(f"mixed block dtypes {dtypes} in one COG export")
    dtype = dtypes.pop() if dtypes else "int16"
    if nodata is None and rows and rows[0]["nodataval"] is not None:
        nodata = float(rows[0]["nodataval"])
    # band order: sorted distinct names → GTiff bands 1..N (the
    # reference writes band_idx+1 per block, edk_accessor.py:114-120)
    bands = sorted({r["band"] for r in rows}) if has_band else [None]
    b_idx = {b: i for i, b in enumerate(bands)}
    tiles = {}
    for r in rows:
        if r["xoff"] % tile or r["yoff"] % tile:
            raise ValueError(
                f"block ({r['xoff']},{r['yoff']}) not aligned to tile {tile}"
            )
        if r["xsize"] > tile or r["ysize"] > tile:
            # block sizes are ×128-ceiled and can exceed the COG tile;
            # without this a multi-tile block reaches write_gtiff and
            # dies in an opaque numpy broadcast error (ADVICE r4)
            raise ValueError(
                f"block ({r['xoff']},{r['yoff']}) size "
                f"{r['xsize']}x{r['ysize']} exceeds COG tile {tile}; "
                f"re-chunk blocks to <= tile or raise tile="
            )
        a = np.frombuffer(r["payload"], dtype=_DTYPES[dtype][2]).reshape(
            int(r["ysize"]), int(r["xsize"])
        )
        tx, ty = r["xoff"] // tile, r["yoff"] // tile
        key = (tx, ty) if len(bands) == 1 else (b_idx[r["band"]], tx, ty)
        tiles[key] = a
    # overview pyramid: assemble each band's full mosaic once, then
    # factor-2 reduce per level (2×2 mean — the bilinear kernel of
    # blocks.regrid_bilinear_blocks degenerates to exactly this at
    # scale 0.5 with pixel-center alignment) and re-tile on the same COG tile grid.  Built in the
    # single-writer step from bytes already collected — no extra
    # Spark pass; at scale each level is one more reduce of the block
    # table before the fan-in.
    npdt = _DTYPES[dtype][2]
    fill = nodata if nodata is not None else 0
    ov_images = []
    if overviews > 0:
        n_b = len(bands)
        mosaics = []
        for b in range(max(1, n_b)):
            m = np.full((height, width), fill, dtype=npdt)
            for key, a in tiles.items():
                if n_b == 1:
                    tx, ty = key
                elif key[0] != b:
                    continue
                else:
                    _, tx, ty = key
                m[ty * tile : ty * tile + a.shape[0], tx * tile : tx * tile + a.shape[1]] = a
            mosaics.append(m)
        for _ in range(overviews):
            mosaics = [downsample_2x2_mean(m) for m in mosaics]
            oh, ow = mosaics[0].shape
            lvl_tiles = {}
            for b, m in enumerate(mosaics):
                for ty in range(-(-oh // tile)):
                    for tx in range(-(-ow // tile)):
                        a = m[ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile]
                        key = (tx, ty) if n_b <= 1 else (b, tx, ty)
                        lvl_tiles[key] = a
            ov_images.append({"tiles": lvl_tiles, "width": ow, "height": oh})
    info = write_gtiff(
        path, tiles, width, height, tile, tile, dtype=dtype, gt=gt, nodata=nodata,
        compression=compression, n_bands=len(bands) if has_band else 1,
        overviews=ov_images, jpeg_quality=jpeg_quality,
    )
    info["bands"] = bands if has_band else []
    return info
