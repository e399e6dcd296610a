"""Minimal pure-numpy PNG codec (decode + encode) for raster tiles.

The engine depends on no PIL, and PNG needs only ``zlib`` (stdlib) plus
the scanline unfiltering arithmetic — the same inflate+predictor shape as
the GeoTIFF codec in geotiff.py. It backs the terrain-tile export and the
GeoPackage / MBTiles tile readers.

Scope (deliberately the common web subset):

* 8-bit samples; color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA)
* all five scanline filters (None/Sub/Up/Average/Paeth)
* non-interlaced only (Adam7 raises — it's a resolvable seam, not a fake)

The decoder is written for correctness and batch (many small images) use:
rows unfilter in a numpy loop over rows with vectorized lanes where the
filter allows (Up is one add; Sub is a per-byte-lane cumsum), and a
per-pixel column walk only for Average/Paeth rows.

Reference: the PNG spec (RFC 2083 / W3C PNG, public); no reference-repo
analog (opentopodata has no media path).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = ["PngError", "decode_png", "encode_png", "is_png"]

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class PngError(ValueError):
    """Malformed or unsupported PNG payload."""


def is_png(data: bytes) -> bool:
    return len(data) > 8 and bytes(data[:8]) == _SIGNATURE


def _chunks(data: bytes):
    pos = 8
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise PngError("truncated PNG chunk")
        yield ctype, body
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IEND":
            return
    raise PngError("PNG missing IEND")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (height, width, channels) array.

    uint8 for 8-bit files, uint16 for 16-bit (the GeoPackage
    gridded-coverage DEM encoding). Raises PngError on anything outside
    the supported subset.
    """
    data = bytes(data)
    if not is_png(data):
        raise PngError("not a PNG (bad signature)")
    width = height = None
    channels = None
    bit_depth = 8
    idat = []
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if bit_depth not in (8, 16):
                raise PngError(f"unsupported PNG bit depth {bit_depth}")
            if color_type not in _CHANNELS:
                raise PngError(f"unsupported PNG color type {color_type}")
            if comp != 0 or filt != 0:
                raise PngError("unsupported PNG compression/filter method")
            if interlace != 0:
                raise PngError("interlaced (Adam7) PNG not supported")
            channels = _CHANNELS[color_type]
        elif ctype == b"IDAT":
            idat.append(body)
    if width is None:
        raise PngError("PNG missing IHDR")
    if not idat:
        raise PngError("PNG missing IDAT")
    if width == 0 or height == 0:
        raise PngError("empty PNG")

    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:  # pragma: no cover - corrupt stream
        raise PngError(f"bad PNG zlib stream: {exc}") from exc

    # PNG filters operate on BYTES with bpp = bytes per pixel, for any
    # bit depth; 16-bit samples are reassembled big-endian afterwards
    stride = width * channels * (bit_depth // 8)
    if len(raw) != height * (stride + 1):
        raise PngError("PNG pixel data length mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters = rows[:, 0]
    filt = rows[:, 1:].astype(np.int16)  # headroom for filter arithmetic
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels * (bit_depth // 8)

    prev = np.zeros(stride, dtype=np.int16)
    for y in range(height):
        f = int(filters[y])
        line = filt[y]
        if f == 0:  # None
            recon = line
        elif f == 1:  # Sub: recon[x] = line[x] + recon[x-bpp]
            recon = line.copy()
            # per-lane modulo-256 cumsum across the row
            for lane in range(bpp):
                np.cumsum(recon[lane::bpp], out=recon[lane::bpp])
            recon &= 0xFF
        elif f == 2:  # Up
            recon = (line + prev) & 0xFF
        elif f == 3:  # Average
            recon = line.copy()
            for x in range(stride):
                left = recon[x - bpp] if x >= bpp else 0
                recon[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            recon = line.copy()
            for x in range(stride):
                left = int(recon[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                ul = int(prev[x - bpp]) if x >= bpp else 0
                recon[x] = (line[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise PngError(f"unknown PNG filter {f}")
        out[y] = recon.astype(np.uint8)
        prev = recon.astype(np.int16)

    if bit_depth == 16:
        return (
            out.reshape(height, width * channels, 2)
            .view(">u2")[:, :, 0]
            .astype(np.uint16)
            .reshape(height, width, channels)
        )
    return out.reshape(height, width, channels)


def encode_png(array: np.ndarray, filter_type: int | str = "mixed") -> bytes:
    """(h, w) or (h, w, channels) uint8 (or uint16 -> 16-bit PNG) to
    PNG bytes.

    filter_type: 0-4 applies one filter to every row; "mixed" cycles
    through all five so decoders exercise every unfilter path.
    """
    array = np.asarray(array)
    bit_depth = 16 if array.dtype == np.uint16 else 8
    array = array.astype(np.uint16 if bit_depth == 16 else np.uint8,
                         copy=False)
    if array.ndim == 2:
        array = array[:, :, None]
    if array.ndim != 3 or array.shape[2] not in (1, 2, 3, 4):
        raise PngError(f"unsupported array shape {array.shape}")
    h, w, channels = array.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    if bit_depth == 16:
        # filters run on the big-endian BYTE stream
        array = (
            array.astype(">u2").reshape(h, w * channels).view(np.uint8)
            .reshape(h, w * channels * 2, 1)
        )
        channels_b = 1
        bpp = 2 * {0: 1, 4: 2, 2: 3, 6: 4}[color_type]
        stride = array.shape[1]
    else:
        channels_b = channels
        bpp = channels
        stride = w * channels
    del channels_b
    flat = array.reshape(h, stride).astype(np.int16)

    def filt_row(y: int, f: int) -> np.ndarray:
        line = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int16)
        left = np.zeros(stride, dtype=np.int16)
        left[bpp:] = line[:-bpp]
        ul = np.zeros(stride, dtype=np.int16)
        ul[bpp:] = prev[:-bpp]
        if f == 0:
            return line & 0xFF
        if f == 1:
            return (line - left) & 0xFF
        if f == 2:
            return (line - prev) & 0xFF
        if f == 3:
            return (line - ((left + prev) >> 1)) & 0xFF
        # Paeth predictor, vectorized (encode side has all inputs)
        p = left + prev - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
        return (line - pred) & 0xFF

    body = bytearray()
    for y in range(h):
        f = y % 5 if filter_type == "mixed" else int(filter_type)
        body.append(f)
        body += filt_row(y, f).astype(np.uint8).tobytes()

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
    return (
        _SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(body), 6))
        + chunk(b"IEND", b"")
    )
