"""Pure-numpy GeoTIFF writer + windowed block reader.

rasterio/GDAL is unavailable in this environment, so the engine ships its own
minimal GeoTIFF implementation sufficient for elevation rasters:

* single-band, strip-based or tiled layout; multi-band files are read as
  band 1 (both chunky PlanarConfiguration=1 and band-separate =2), the
  reference's ``rasterio ... read(1)`` semantics (backend.py:103)
* compression: none, DEFLATE (zlib, codes 8 and 32946), LZW (code 5),
  PackBits (code 32773), LZMA (code 34925, xz stream as libtiff writes)
* sparse blocks (GDAL SPARSE_OK=TRUE: offset/bytecount 0) read back as
  nodata (or 0 without a nodata value), matching GDAL's GTiff driver
* predictors: 1 (none), 2 (horizontal differencing, integer data),
  3 (floating-point byte shuffle + differencing)
* dtypes: float32/float64/int16/int32/uint16
* georeferencing via ModelPixelScale + ModelTiepoint (north-up affine only)
* CRS via GeoKeyDirectory (EPSG geographic/projected) or a WKT-only citation
  (mirrors the reference's WKT-only EU-DEM fixture,
  /root/reference/opentopodata/backend.py:97-100)
* NODATA via the GDAL_NODATA ascii tag (42113)
* zip containers: ``N00E010.hgt.zip`` / zipped single GeoTIFFs, the
  moral equivalent of GDAL's /vsizip/ that the reference gets for free
  (/root/reference/opentopodata/config.py:326-335)

The uncompressed contiguous case memory-maps the pixel data, so 4x4
interpolation windows touch only the OS pages they need. Compressed rasters
decode per strip/tile on demand. Windowed reads (``Raster.read_window``)
decode only the blocks the window intersects; this is the property that
matters at 100 TB: executor tasks sample tiles without materializing whole
rasters. A process keeps no decoded block once a read returns. The one
decoded copy per executor is the spill tier, a directory shared by all of
the executor's Python workers: ``<SparkFiles.getRootDirectory()>/
decoded-blocks/<sha1 of the block reader's key>/<block index>`` holds each
compressed block's decoded bytes. Spark hands a task to whichever Python
worker is idle, so without it every worker decodes the blocks it has not
decoded itself. A read copies a block's file into its window through one
scratch buffer per read; a missing or wrong-sized file means decode, then
publish through a temp file and ``os.replace``, so no reader sees a
partial block. The tier is active
only inside Spark Python workers (the driver, the oracle and scripts decode
the blocks each read needs), lives as long as that directory (in local
mode the driver's temp dir, deleted when the application stops), and stops
writing once the disk holds less than half the free space it had at the
worker's first spill; a failed write skips the spill.
``block_cache_stats()`` counts spill hits, decodes, decode seconds and
spills per process.

The reference reads compressed rasters via GDAL
(/root/reference/opentopodata/backend.py:103) and its docs explicitly
recommend DEFLATE-tiled datasets
(/root/reference/docs/notes/performance-optimisation.md) — so compressed
support is first-class here, not an afterthought.
"""

from __future__ import annotations

import functools
import hashlib
import io
import lzma
import math
import os
import re
import struct
import sys
import threading
import time
import zipfile
import zlib
from collections import OrderedDict
from dataclasses import dataclass, field

import numpy as np

# TIFF tag codes
_T_NEW_SUBFILE_TYPE = 254  # bit 0: reduced-resolution (overview), bit 2: mask
_T_WIDTH = 256
_T_HEIGHT = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS = 273
_T_SAMPLES_PER_PIXEL = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_BYTE_COUNTS = 279
_T_PLANAR_CONFIG = 284
_T_PREDICTOR = 317
_T_TILE_WIDTH = 322
_T_TILE_LENGTH = 323
_T_TILE_OFFSETS = 324
_T_TILE_BYTE_COUNTS = 325
_T_SAMPLE_FORMAT = 339
_T_MODEL_PIXEL_SCALE = 33550
_T_MODEL_TIEPOINT = 33922
_T_GEO_KEY_DIRECTORY = 34735
_T_GEO_ASCII_PARAMS = 34737
_T_GDAL_NODATA = 42113

# TIFF field types
_FT_BYTE = 1
_FT_SHORT = 3
_FT_LONG = 4
_FT_ASCII = 2
_FT_UNDEFINED = 7
_FT_DOUBLE = 12
_FT_LONG8 = 16  # BigTIFF
_FT_SLONG8 = 17  # BigTIFF
_FT_IFD8 = 18  # BigTIFF

_FT_SIZE = {
    _FT_BYTE: 1, _FT_SHORT: 2, _FT_LONG: 4, _FT_ASCII: 1, _FT_DOUBLE: 8,
    _FT_UNDEFINED: 1, _FT_LONG8: 8, _FT_SLONG8: 8, _FT_IFD8: 8,
}
_FT_FMT = {
    _FT_SHORT: "H", _FT_LONG: "I", _FT_DOUBLE: "d",
    _FT_LONG8: "Q", _FT_SLONG8: "q", _FT_IFD8: "Q",
}

# Compression codes
_C_NONE = 1
_C_LZW = 5
_C_JPEG_CODES = (6, 7)  # old-style and TechNote-2 JPEG: lossy, refused at open
_C_DEFLATE_ADOBE = 8
_C_PACKBITS = 32773
_C_DEFLATE_OLD = 32946
_C_LZMA = 34925
_COMPRESSION_CODES = {
    "none": _C_NONE,
    "deflate": _C_DEFLATE_ADOBE,
    "lzw": _C_LZW,
    "packbits": _C_PACKBITS,
    "lzma": _C_LZMA,
}

# GeoTIFF keys
_GK_MODEL_TYPE = 1024  # 1=projected 2=geographic
_GK_RASTER_TYPE = 1025  # 1=PixelIsArea
_GK_CITATION = 1026
_GK_GEOGRAPHIC_TYPE = 2048
_GK_PROJECTED_TYPE = 3072

_SAMPLE_FORMAT_FOR_KIND = {"u": 1, "i": 2, "f": 3}
_KIND_FOR_SAMPLE_FORMAT = {1: "u", 2: "i", 3: "f"}


class RasterOpenError(ValueError):
    """File is not a readable raster."""


@dataclass(frozen=True)
class CRSInfo:
    """CRS carried by a raster: EPSG code, or WKT-only (epsg is None)."""

    epsg: int | None = None
    wkt: str | None = None

    @property
    def is_epsg_code(self) -> bool:
        return self.epsg is not None


@dataclass(frozen=True)
class BoundingBox:
    left: float
    bottom: float
    right: float
    top: float


# ---------------------------------------------------------------------------
# Spill tier: decoded blocks shared by the Python workers of one executor
# ---------------------------------------------------------------------------

# block_cache_stats() counters; clear_block_cache() zeroes them
_block_stats = dict.fromkeys(
    ("spill_hits", "decodes", "decoded_bytes", "decode_s", "spill_writes",
     "spill_skips"),
    0,
)
_spill_floor: int | None = None  # free bytes below which this process stops


def clear_block_cache():
    """Zero block_cache_stats(). This process keeps no decoded block; the
    spill tier is shared with other processes and stays."""
    for k in _block_stats:
        _block_stats[k] = 0


def block_cache_stats() -> dict[str, float]:
    """Counters of the GeoTIFF block reader in this process since the last
    clear_block_cache(): spill-tier hits, block decodes, decoded bytes,
    seconds spent decoding, spill writes, and spills skipped by the disk
    bound or a failed write (diagnostic; used by tests to pin the tier)."""
    return dict(_block_stats)


def _free_bytes(path: str) -> int:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize


def _spill_read(path: str, buf: np.ndarray) -> bool:
    """Fill ``buf``, one byte longer than the block, from the decoded block
    at ``path``: False when the file is missing or has the wrong size (a
    reader never sees a partial file, see _spill_put)."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return False
    try:
        return os.readv(fd, [buf]) == len(buf) - 1
    except OSError:
        return False
    finally:
        os.close(fd)


def _spill_put(path: str, arr: np.ndarray) -> None:
    """Publish a decoded block: temp file, then os.replace. Skipped once the
    disk's free space falls under half of what it was at this process's
    first spill, or when any write fails."""
    global _spill_floor
    d = os.path.dirname(path)
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        os.makedirs(d, exist_ok=True)
        free = _free_bytes(d)
        if _spill_floor is None:
            _spill_floor = free // 2
        if free < _spill_floor:
            _block_stats["spill_skips"] += 1
            return
        with open(tmp, "wb") as f:
            f.write(np.ascontiguousarray(arr))
        os.replace(tmp, path)
    except OSError:
        _block_stats["spill_skips"] += 1
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return
    _block_stats["spill_writes"] += 1


# ---------------------------------------------------------------------------
# LZW codec (TIFF flavor: MSB-first bits, 9-bit start, early code-width change)
# ---------------------------------------------------------------------------

_LZW_CLEAR = 256
_LZW_EOI = 257


def _lzw_encode(data: bytes) -> bytes:
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

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(_LZW_CLEAR, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        # TIFF early change: widen when the *next* code would not fit
        if next_code == (1 << width) - 1:
            width += 1
        next_code += 1
        if next_code >= 4094:
            emit(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([b])
    if w:
        emit(table[w], width)
    emit(_LZW_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """TIFF PackBits (Apple RLE, TIFF 6.0 §9): runs of >=3 identical bytes
    become a replicate packet; everything else is emitted literally."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        run = j - i
        if run >= 3:
            out.append((1 - run) & 0xFF)
            out.append(data[i])
            i = j
        else:
            k = i
            while k < n and k - i < 128:
                if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                    break
                k += 1
            out.append(k - i - 1)
            out += data[i:k]
            i = k
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b == 128:  # no-op per spec
            continue
        if b < 128:
            cnt = b + 1
            out += data[i : i + cnt]
            i += cnt
        else:
            out += data[i : i + 1] * (257 - b)
            i += 1
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    out = bytearray()
    table: list[bytes] = []
    acc = 0
    nbits = 0
    width = 9
    next_code = 258
    prev: bytes | None = None
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        if code == _LZW_EOI:
            return bytes(out)
        if code == _LZW_CLEAR:
            table = list(base)
            next_code = 258
            width = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
            next_code += 1
        else:
            entry = prev + prev[:1]
            table.append(entry)
            next_code += 1
        out += entry
        # decoder mirrors the encoder's early change
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        prev = entry


# ---------------------------------------------------------------------------
# Predictors
# ---------------------------------------------------------------------------


def _value_as_dtype(value, dtype: np.dtype):
    """A nodata sentinel out of range for the pixel dtype (e.g. -9999 on
    uint8) must wrap modularly — NumPy's scalar constructor deprecated
    that implicit overflow, so the cast goes through a 0-d array with an
    explicit ``casting='unsafe'`` astype. Integral floats wrap via int
    (float→uint C casts of negatives are platform-defined; int wrap is
    modular and matches both the tag round-trip and old NumPy)."""
    if np.issubdtype(dtype, np.integer) and float(value).is_integer():
        value = int(value)
    return np.array(value).astype(dtype, casting="unsafe")[()]


def _predict2_encode(block: np.ndarray) -> np.ndarray:
    d = block.copy()
    d[:, 1:] = block[:, 1:] - block[:, :-1]  # modular wrap in the int dtype
    return d


def _predict2_decode(block: np.ndarray) -> np.ndarray:
    return np.cumsum(block, axis=1, dtype=block.dtype)


def _predict3_encode(block: np.ndarray) -> bytes:
    """TIFF floating-point predictor: big-endian byte planes per row,
    then horizontal byte differencing."""
    h, w = block.shape
    isz = block.dtype.itemsize
    be = np.ascontiguousarray(block.astype(block.dtype.newbyteorder(">")))
    b = be.view(np.uint8).reshape(h, w, isz).transpose(0, 2, 1).reshape(h, w * isz)
    d = np.ascontiguousarray(b)
    d[:, 1:] = b[:, 1:] - b[:, :-1]
    return d.tobytes()


def _predict3_decode(raw: bytes, h: int, w: int, dtype: np.dtype) -> np.ndarray:
    isz = dtype.itemsize
    b = np.frombuffer(raw, dtype=np.uint8).reshape(h, w * isz)
    b = np.cumsum(b, axis=1, dtype=np.uint8)
    planes = b.reshape(h, isz, w).transpose(0, 2, 1)  # (h, w, isz) big-endian bytes
    be = np.ascontiguousarray(planes).view(dtype.newbyteorder(">")).reshape(h, w)
    return be.astype(dtype.newbyteorder("="))


# ---------------------------------------------------------------------------
# Byte sources: plain file or an in-memory buffer (zip member)
# ---------------------------------------------------------------------------


class _ByteSource:
    """Random-access bytes from a file path or an in-memory buffer."""

    # remote sources disable the memmap fast path and pay per-range
    # network fetches instead (see _RangeByteSource)
    remote = False

    def __init__(self, path: str, buf: bytes | None = None):
        self.path = path
        self.buf = buf
        if buf is None:
            st = os.stat(path)
            self.cache_key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
        else:
            self.cache_key = (os.path.abspath(path), "zip", len(buf))

    def read_at(self, offset: int, size: int) -> bytes:
        if self.buf is not None:
            return self.buf[offset : offset + size]
        with open(self.path, "rb") as f:
            f.seek(offset)
            return f.read(size)

    def read_many(self, spans: list[tuple[int, int]]) -> list[bytes]:
        """Batch form: one file-open for several (offset, size) spans."""
        if self.buf is not None:
            return [self.buf[o : o + s] for o, s in spans]
        out = []
        with open(self.path, "rb") as f:
            for o, s in spans:
                f.seek(o)
                out.append(f.read(s))
        return out

    def as_array(self, dtype: np.dtype, offset: int, shape: tuple[int, int]) -> np.ndarray:
        """Zero-copy view of an uncompressed contiguous band."""
        if self.buf is not None:
            return np.frombuffer(self.buf, dtype=dtype, count=shape[0] * shape[1],
                                 offset=offset).reshape(shape)
        return np.memmap(self.path, dtype=dtype, mode="r", offset=offset, shape=shape)


# ---------------------------------------------------------------------------
# Remote byte source: HTTP(S) Range reads + per-process chunk LRU
# ---------------------------------------------------------------------------
#
# At cluster scale, DEM tiles live on object storage, not on executor-local
# disks (the reference has the same local-only limit via rasterio file
# opens, /root/reference/opentopodata/backend.py:89-106 — this seam is the
# engine's scale extension). Every read goes through fixed-size aligned
# chunks so repeated interpolation windows over the same tile hit the
# process-wide cache (one cache per Python worker = the executor-side
# raster cache); misses coalesce adjacent chunks into one Range request.

_RANGE_CHUNK = 256 * 1024
_RANGE_CACHE_BYTES = 128 * 2**20
_range_cache: OrderedDict[tuple, bytes] = OrderedDict()
_range_cache_used = 0
_range_cache_lock = threading.Lock()
_range_request_count = 0  # diagnostics: network round-trips issued


def _range_cache_get(key):
    with _range_cache_lock:
        b = _range_cache.get(key)
        if b is not None:
            _range_cache.move_to_end(key)
        return b


def _range_cache_put(key, b: bytes):
    global _range_cache_used
    if len(b) > _RANGE_CACHE_BYTES:
        return
    with _range_cache_lock:
        if key in _range_cache:
            return
        _range_cache[key] = b
        _range_cache_used += len(b)
        while _range_cache_used > _RANGE_CACHE_BYTES and _range_cache:
            _, old = _range_cache.popitem(last=False)
            _range_cache_used -= len(old)


def clear_range_cache():
    global _range_cache_used, _range_request_count
    with _range_cache_lock:
        _range_cache.clear()
        _range_cache_used = 0
        _range_request_count = 0


class _RangeByteSource:
    """Random-access bytes over HTTP(S) via Range requests.

    One HEAD at construction pins (size, validator) for the cache key;
    reads fetch ``_RANGE_CHUNK``-aligned chunks, caching each chunk in
    the process-wide LRU. A server that ignores Range (responds 200)
    degrades to one full-object fetch kept as an in-memory buffer —
    correct, just not windowed.
    """

    remote = True

    def __init__(self, url: str):
        import urllib.error
        import urllib.request

        self.path = url
        self.buf: bytes | None = None  # set only by the 200-fallback
        try:
            req = urllib.request.Request(url, method="HEAD")
            with urllib.request.urlopen(req, timeout=30) as resp:
                size = int(resp.headers.get("Content-Length", "0"))
                validator = (resp.headers.get("ETag")
                             or resp.headers.get("Last-Modified") or "")
        except urllib.error.HTTPError as e:
            if e.code == 404:
                raise RasterOpenError(f"'{url}': not found (HTTP 404)")
            # servers without HEAD: probe with a 1-byte range GET
            size, validator = self._probe_with_get(url)
        except (urllib.error.URLError, OSError) as e:
            raise RasterOpenError(f"'{url}': unreachable ({e})")
        self.size = size
        self.cache_key = (url, validator, size)

    @staticmethod
    def _probe_with_get(url: str):
        import urllib.error
        import urllib.request

        try:
            req = urllib.request.Request(url, headers={"Range": "bytes=0-0"})
            with urllib.request.urlopen(req, timeout=30) as resp:
                cr = resp.headers.get("Content-Range", "")
                validator = (resp.headers.get("ETag")
                             or resp.headers.get("Last-Modified") or "")
                if "/" in cr:
                    return int(cr.rsplit("/", 1)[1]), validator
                # 200 without Content-Range: size from Content-Length
                return int(resp.headers.get("Content-Length", "0")), validator
        except (urllib.error.URLError, OSError) as e:
            raise RasterOpenError(f"'{url}': unreachable ({e})")

    def _fetch_range(self, start: int, end_incl: int) -> bytes:
        """One network GET for [start, end_incl]; 200 responses (server
        ignored Range) latch the whole body as an in-memory buffer."""
        import urllib.error
        import urllib.request

        global _range_request_count
        req = urllib.request.Request(
            self.path, headers={"Range": f"bytes={start}-{end_incl}"}
        )
        try:
            with urllib.request.urlopen(req, timeout=60) as resp:
                body = resp.read()
                with _range_cache_lock:
                    _range_request_count += 1
                if resp.status == 200:
                    self.buf = body  # full object; future reads are local
                    return body[start : end_incl + 1]
                return body
        except (urllib.error.URLError, OSError) as e:
            raise RasterOpenError(f"'{self.path}': range read failed ({e})")

    def _chunks(self, offset: int, size: int) -> bytes:
        """Assemble [offset, offset+size) from aligned cached chunks,
        coalescing runs of missing chunks into single Range requests."""
        if size <= 0:
            return b""
        if self.buf is not None:
            return self.buf[offset : offset + size]
        first = offset // _RANGE_CHUNK
        last = (offset + size - 1) // _RANGE_CHUNK
        idxs = list(range(first, last + 1))
        have = {i: _range_cache_get((self.cache_key, i)) for i in idxs}
        run: list[int] = []
        runs: list[list[int]] = []
        for i in idxs:
            if have[i] is None:
                run.append(i)
            elif run:
                runs.append(run)
                run = []
        if run:
            runs.append(run)
        for r in runs:
            start = r[0] * _RANGE_CHUNK
            end_incl = min((r[-1] + 1) * _RANGE_CHUNK, self.size) - 1
            body = self._fetch_range(start, end_incl)
            if self.buf is not None:
                return self.buf[offset : offset + size]
            for i in r:
                lo = (i - r[0]) * _RANGE_CHUNK
                chunk = body[lo : lo + _RANGE_CHUNK]
                _range_cache_put((self.cache_key, i), chunk)
                have[i] = chunk
        parts = [have[i] for i in idxs]
        blob = b"".join(parts)
        lo = offset - first * _RANGE_CHUNK
        return blob[lo : lo + size]

    def read_at(self, offset: int, size: int) -> bytes:
        return self._chunks(offset, size)

    def read_many(self, spans: list[tuple[int, int]]) -> list[bytes]:
        return [self._chunks(o, s) for o, s in spans]

    def as_array(self, dtype: np.dtype, offset: int, shape: tuple[int, int]) -> np.ndarray:
        # only reachable if a caller bypasses the remote fast-path gate:
        # materialize via ranged reads (no mmap over HTTP)
        n = shape[0] * shape[1] * dtype.itemsize
        return np.frombuffer(self._chunks(offset, n), dtype=dtype).reshape(shape)


def range_request_count() -> int:
    """Network round-trips issued by remote raster reads in this process
    (diagnostic; used by tests to pin windowed-read behavior)."""
    return _range_request_count


@dataclass
class _ContiguousReader:
    """Windowed reads over a contiguous uncompressed band (remote path).

    Rows are back-to-back on disk, so a [r0:r1) window is ONE byte range
    regardless of strip bookkeeping — the remote twin of the local
    memmap fast path (which can't exist over HTTP). Duck-types
    _BlockReader.read; the underlying _RangeByteSource chunk cache makes
    repeat windows free.
    """

    source: "_ByteSource"
    dtype: np.dtype  # on-disk dtype (with byte order)
    height: int
    width: int
    offset: int  # first byte of the band

    def read(self, r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
        row_bytes = self.width * self.dtype.itemsize
        raw = self.source.read_at(
            self.offset + r0 * row_bytes, (r1 - r0) * row_bytes
        )
        arr = np.frombuffer(raw, dtype=self.dtype).reshape(
            r1 - r0, self.width
        )[:, c0:c1]
        return np.ascontiguousarray(arr).astype(
            self.dtype.newbyteorder("="), copy=False
        )


# ---------------------------------------------------------------------------
# Block reader: strips or tiles, optionally compressed/predicted
# ---------------------------------------------------------------------------


@dataclass
class _BlockReader:
    source: _ByteSource
    dtype: np.dtype  # on-disk dtype (with byte order)
    height: int
    width: int
    block_h: int
    block_w: int  # == width for strips
    tiled: bool
    offsets: list[int]
    counts: list[int]
    compression: int
    predictor: int
    # samples per pixel for chunky (PlanarConfiguration=1) multi-band files;
    # we decode band 1 only, matching rasterio's read(1) in the reference
    # (/root/reference/opentopodata/backend.py:103). Band-separate files
    # (PlanarConfiguration=2) are handled upstream by slicing plane-1 blocks.
    spp: int = 1
    # value sparse blocks (offset/bytecount 0, GDAL SPARSE_OK) read back as:
    # the nodata value if the file declares one, else 0 — GDAL's semantics
    fill: float = 0.0
    # distinguishes IFDs of one file in the spill tier: the base band and
    # its overview levels share a cache_key (same bytes on disk) but index
    # disjoint block grids
    cache_tag: int = 0

    def _decompress(self, raw: bytes) -> bytes:
        if self.compression in (_C_DEFLATE_ADOBE, _C_DEFLATE_OLD):
            return zlib.decompress(raw)
        if self.compression == _C_LZW:
            return _lzw_decode(raw)
        if self.compression == _C_PACKBITS:
            return _packbits_decode(raw)
        if self.compression == _C_LZMA:
            # libtiff's LZMA codec emits one xz stream per block
            # (tif_lzma.c, lzma_stream_encoder); FORMAT_AUTO accepts it
            return lzma.decompress(raw)
        return raw

    def _block_shape(self, idx: int) -> tuple[int, int]:
        if self.tiled:
            return self.block_h, self.block_w  # edge tiles are padded on disk
        r0 = idx * self.block_h
        return min(self.block_h, self.height - r0), self.width

    def _decode(self, idx: int, raw: bytes) -> np.ndarray:
        h, w = self._block_shape(idx)
        data = self._decompress(raw)
        if self.predictor == 3:
            return _predict3_decode(data, h, w, self.dtype)  # spp==1 enforced at open
        arr = np.frombuffer(data, dtype=self.dtype, count=h * w * self.spp)
        if self.spp > 1:
            arr = arr.reshape(h, w, self.spp)
        else:
            arr = arr.reshape(h, w)
        arr = arr.astype(self.dtype.newbyteorder("="), copy=False)
        if self.predictor == 2:
            # horizontal differencing is per-sample across pixels (axis 1 is
            # the pixel axis in both the (h, w) and (h, w, spp) shapes)
            arr = _predict2_decode(arr)
        if self.spp > 1:
            arr = np.ascontiguousarray(arr[:, :, 0])
        return arr

    def _blocks_for_window(self, r0, r1, c0, c1) -> list[int]:
        if self.tiled:
            tiles_across = -(-self.width // self.block_w)
            br0 = r0 // self.block_h
            br1 = (r1 - 1) // self.block_h
            bc0 = c0 // self.block_w
            bc1 = (c1 - 1) // self.block_w
            return [
                br * tiles_across + bc
                for br in range(br0, br1 + 1)
                for bc in range(bc0, bc1 + 1)
            ]
        return list(range(r0 // self.block_h, (r1 - 1) // self.block_h + 1))

    @functools.cached_property
    def _spill_dir(self) -> str | None:
        """This reader's directory in the spill tier; None outside a Spark
        Python worker and for uncompressed blocks, which decode for free.
        A worker has imported SparkFiles before it runs a task, so a
        process that has not is no worker."""
        files = sys.modules.get("pyspark.core.files")
        if (self.compression == _C_NONE or files is None
                or not files.SparkFiles._is_running_on_worker):
            return None
        key = repr((self.source.cache_key, self.cache_tag)).encode()
        return os.path.join(files.SparkFiles.getRootDirectory(),
                            "decoded-blocks", hashlib.sha1(key).hexdigest())

    def read(self, r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
        """Assemble a clipped [r0:r1, c0:c1] window from the blocks it
        intersects. In a Spark Python worker each compressed block is read
        from the executor's spill tier (module docstring) when another
        read published it; any other block is decoded. Nothing is kept
        after the read returns."""
        dt = self.dtype.newbyteorder("=")
        out = np.empty((r1 - r0, c1 - c0), dtype=dt)
        spill = self._spill_dir
        row_bytes = self.block_w * dt.itemsize
        scratch = None
        undecoded = []
        for idx in self._blocks_for_window(r0, r1, c0, c1):
            if self.offsets[idx] == 0 or self.counts[idx] == 0:
                self._place(out, r0, c0, idx, np.broadcast_to(
                    _value_as_dtype(self.fill, dt), self._block_shape(idx)))
                continue
            if spill is not None:
                if scratch is None:
                    # one block plus the byte that shows a too-long file
                    scratch = np.empty(self.block_h * row_bytes + 1, np.uint8)
                    block = scratch[:-1].view(dt).reshape(
                        self.block_h, self.block_w)
                h = self._block_shape(idx)[0]  # a last strip may be short
                if _spill_read(f"{spill}/{idx}", scratch[: h * row_bytes + 1]):
                    _block_stats["spill_hits"] += 1
                    self._place(out, r0, c0, idx, block[:h])
                    continue
            undecoded.append(idx)
        raws = self.source.read_many(
            [(self.offsets[i], self.counts[i]) for i in undecoded]
        ) if undecoded else []
        for idx, raw in zip(undecoded, raws):
            t0 = time.perf_counter()
            arr = self._decode(idx, raw)
            _block_stats["decode_s"] += time.perf_counter() - t0
            _block_stats["decodes"] += 1
            _block_stats["decoded_bytes"] += arr.nbytes
            if spill is not None:
                _spill_put(f"{spill}/{idx}", arr)
            self._place(out, r0, c0, idx, arr)
        return out

    def _place(self, out: np.ndarray, r0: int, c0: int, idx: int,
               block: np.ndarray):
        """Copy block ``idx`` where it overlaps the window ``out``, whose
        origin is (r0, c0) and which lies inside the raster."""
        if self.tiled:
            br, bc = divmod(idx, -(-self.width // self.block_w))
        else:
            br, bc = idx, 0
        # the block's origin, relative to the window's
        gr0 = br * self.block_h - r0
        gc0 = bc * self.block_w - c0
        rows = slice(max(gr0, 0), min(gr0 + self.block_h, out.shape[0]))
        cols = slice(max(gc0, 0), min(gc0 + self.block_w, out.shape[1]))
        if rows.start < rows.stop and cols.start < cols.stop:
            out[rows, cols] = block[rows.start - gr0 : rows.stop - gr0,
                                    cols.start - gc0 : cols.stop - gc0]


@dataclass
class Raster:
    """An open raster: block/memmap band access + georeferencing metadata.

    Mirrors the slice of the rasterio dataset API the reference engine uses
    (/root/reference/opentopodata/backend.py:89-151): crs, bounds, res,
    width/height, nodata, fractional index(), windowed reads.
    """

    path: str
    width: int
    height: int
    dtype: np.dtype
    nodata: float | None
    crs: CRSInfo
    # north-up affine: x = x0 + col*sx ; y = y0 - row*sy
    x0: float
    y0: float
    sx: float
    sy: float
    _data: np.ndarray = field(repr=False, default=None)
    _blocks: _BlockReader = field(repr=False, default=None)
    # reduced-resolution levels from the file's IFD chain (COG layout),
    # finest first; () when the file has none
    overviews: tuple = field(repr=False, default=())

    @property
    def bounds(self) -> BoundingBox:
        return BoundingBox(
            left=self.x0,
            bottom=self.y0 - self.height * self.sy,
            right=self.x0 + self.width * self.sx,
            top=self.y0,
        )

    @property
    def res(self) -> tuple[float, float]:
        return (self.sx, self.sy)

    def index(self, xs, ys):
        """Fractional (row, col) of coordinates, like rasterio's
        ``f.index(xs, ys, op=noop)`` (reference backend.py:110)."""
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        rows = (self.y0 - ys) / self.sy
        cols = (xs - self.x0) / self.sx
        return rows, cols

    def read_window(self, row0: int, row1: int, col0: int, col1: int) -> tuple[np.ndarray, tuple[int, int]]:
        """Native-order stored-dtype array for the clipped window, plus the
        (row, col) origin of the returned array within the full raster.
        Compressed rasters decode only the intersecting blocks."""
        r0 = int(max(row0, 0))
        r1 = int(min(row1, self.height))
        c0 = int(max(col0, 0))
        c1 = int(min(col1, self.width))
        if r1 <= r0 or c1 <= c0:
            return np.empty((0, 0), dtype=self.dtype.newbyteorder("=")), (r0, c0)
        if self._data is not None:
            win = np.asarray(self._data[r0:r1, c0:c1])
            if win.dtype.byteorder == ">":
                win = win.astype(win.dtype.newbyteorder("="))
            return win, (r0, c0)
        return self._blocks.read(r0, r1, c0, c1), (r0, c0)

    def read_block(self, row0: int, row1: int, col0: int, col1: int) -> np.ndarray:
        """Read a [row0:row1, col0:col1] block (clipped) as float64 with
        NaN where NODATA. Out-of-array area is NOT included — callers pad."""
        win, _ = self.read_window(row0, row1, col0, col1)
        block = np.asarray(win, dtype=np.float64)
        if self.nodata is not None:
            block = np.where(block == float(self.nodata), np.nan, block)
        return block

    def pick_level(self, max_sx: float, max_sy: float | None = None) -> "Raster":
        """The coarsest level (self or an overview) whose resolution is
        still at least as fine as (max_sx, max_sy) — GDAL's overview
        selection for a target sampling density. Levels coarser than the
        target are never returned, so reads stay exact-or-oversampled;
        with no overviews this is always the full-resolution band."""
        max_sy = max_sx if max_sy is None else max_sy
        eps = 1.0 + 1e-9
        best = self
        for ovr in self.overviews:
            if (
                ovr.sx <= max_sx * eps and ovr.sy <= max_sy * eps
                and ovr.sx > best.sx
            ):
                best = ovr
        return best

    @property
    def band(self) -> np.ndarray:
        """Whole band (memory-mapped and lazy when uncompressed; assembled
        decoded block by block otherwise). Prefer read_window in hot paths."""
        if self._data is not None:
            return self._data
        return self._blocks.read(0, self.height, 0, self.width)


def build_overview(
    array: np.ndarray, factor: int, nodata: float | None = None
) -> np.ndarray:
    """One GDAL-'average' reduced-resolution level: ``factor``×``factor``
    block means in the input dtype. NODATA/NaN cells are excluded from
    each mean (a hole never drags its block toward the hole value);
    blocks that are ALL holes write the nodata value back (NaN for float
    arrays without one, 0 for integers without one — the sparse-fill
    convention). Edge blocks average only the pixels that exist. Integer
    dtypes round to nearest, matching gdaladdo's average kernel."""
    factor = int(factor)
    if factor < 2:
        raise ValueError("overview factor must be >= 2")
    h, w = array.shape
    oh, ow = -(-h // factor), -(-w // factor)
    a = np.asarray(array, dtype=np.float64)
    valid = ~np.isnan(a)
    if nodata is not None and not math.isnan(float(nodata)):
        valid &= a != float(nodata)
    pad_h, pad_w = oh * factor - h, ow * factor - w
    if pad_h or pad_w:
        a = np.pad(a, ((0, pad_h), (0, pad_w)))
        valid = np.pad(valid, ((0, pad_h), (0, pad_w)))
    s = np.where(valid, a, 0.0).reshape(oh, factor, ow, factor).sum(axis=(1, 3))
    n = valid.reshape(oh, factor, ow, factor).sum(axis=(1, 3))
    with np.errstate(invalid="ignore", divide="ignore"):
        avg = s / n
    if nodata is not None:
        hole = float(nodata)
    elif array.dtype.kind == "f":
        hole = float("nan")
    else:
        hole = 0.0
    avg = np.where(n > 0, avg, hole)
    if array.dtype.kind in "iu":
        avg = np.rint(avg)
    return avg.astype(array.dtype)


def write_geotiff(
    path: str,
    array: np.ndarray,
    *,
    x0: float,
    y0: float,
    sx: float,
    sy: float,
    epsg: int | None = 4326,
    wkt: str | None = None,
    nodata: float | None = None,
    compression: str = "none",
    predictor: int = 1,
    tile_size: tuple[int, int] | None = None,
    rows_per_strip: int | None = None,
    bigtiff: bool = False,
    sparse_ok: bool = False,
    overviews=None,
) -> None:
    """Write a single-band north-up GeoTIFF.

    (x0, y0) is the OUTER upper-left edge (GDAL convention); pixel centers
    are offset by half a pixel, exactly the convention the reference's
    bounds-validation relies on (backend.py:46-60).

    compression: "none" | "deflate" | "lzw" | "packbits" | "lzma" (all
    lossless; the reader refuses lossy JPEG-compressed TIFFs).
    predictor: 1 (none), 2 (horizontal, integer dtypes), 3 (float byte
    shuffle, float dtypes).
    sparse_ok: blocks entirely equal to the nodata value (or entirely zero
    when no nodata is set) are omitted from the file and recorded with
    offset=0 / bytecount=0 — GDAL's SPARSE_OK=TRUE layout, common in
    coastal/ocean DEM tiles where most blocks are sea.
    tile_size: (tile_height, tile_width), multiples of 16 → tiled layout;
    otherwise strips of rows_per_strip rows (default: one strip).
    bigtiff: emit the BigTIFF (magic 43, 8-byte offset) layout — the format
    every real-world DEM mosaic over 4 GB ships in (GDAL picks it
    automatically via -co BIGTIFF=IF_SAFER); small files are valid BigTIFF
    too, which is how the parity tests exercise the 64-bit reader path.
    overviews: decimation factors (e.g. (2, 4, 8)) → reduced-resolution
    IFDs chained after the base band (the cloud-optimized-GeoTIFF
    layout, gdaladdo's in-file overviews). Each level is the NODATA-aware
    'average' of the BASE band (build_overview) and shares the base
    compression/predictor/tiling settings.
    """
    array = np.ascontiguousarray(array)
    if array.ndim != 2:
        raise ValueError("array must be 2-D (single band)")
    h, w = array.shape
    kind = array.dtype.kind
    if kind not in _SAMPLE_FORMAT_FOR_KIND:
        raise ValueError(f"unsupported dtype {array.dtype}")
    bits = array.dtype.itemsize * 8
    if compression not in _COMPRESSION_CODES:
        raise ValueError(f"unsupported compression '{compression}'")
    comp = _COMPRESSION_CODES[compression]
    if predictor not in (1, 2, 3):
        raise ValueError("predictor must be 1, 2 or 3")
    if tile_size is not None:
        th_v, tw_v = tile_size
        if th_v <= 0 or tw_v <= 0 or th_v % 16 or tw_v % 16:
            raise ValueError("tile_size dims must be multiples of 16")
    if predictor == 2 and kind == "f":
        raise ValueError("predictor 2 requires an integer dtype (use 3 for floats)")
    if predictor == 3 and kind != "f":
        raise ValueError("predictor 3 requires a float dtype")
    le_dtype = array.dtype.newbyteorder("<")

    def encode_block(blk: np.ndarray) -> bytes:
        if predictor == 2:
            raw = _predict2_encode(blk).astype(le_dtype, copy=False).tobytes()
        elif predictor == 3:
            raw = _predict3_encode(blk)
        else:
            raw = blk.astype(le_dtype, copy=False).tobytes()
        if comp == _C_DEFLATE_ADOBE:
            return zlib.compress(raw, 6)
        if comp == _C_LZW:
            return _lzw_encode(raw)
        if comp == _C_PACKBITS:
            return _packbits_encode(raw)
        if comp == _C_LZMA:
            # libtiff's codec writes one xz stream per block (tif_lzma.c)
            return lzma.compress(raw, format=lzma.FORMAT_XZ, preset=6)
        return raw

    sparse_value = _value_as_dtype(nodata, array.dtype) if nodata is not None else array.dtype.type(0)

    def is_sparse(blk: np.ndarray) -> bool:
        if not sparse_ok:
            return False
        if np.issubdtype(blk.dtype, np.floating) and np.isnan(sparse_value):
            return bool(np.isnan(blk).all())
        return bool((blk == sparse_value).all())

    factors: list[int] = []
    if overviews:
        factors = sorted(int(f) for f in overviews)
        if factors[0] < 2 or len(set(factors)) != len(factors):
            raise ValueError("overview factors must be distinct integers >= 2")
    levels = [array] + [build_overview(array, f, nodata=nodata) for f in factors]

    def encode_level(arr_l: np.ndarray) -> list[bytes | None]:
        # None entries are sparse blocks: no bytes in the file, offset/count 0.
        h_l, w_l = arr_l.shape
        blks: list[bytes | None] = []
        if tile_size is not None:
            th, tw = tile_size
            pad_value = _value_as_dtype(nodata, array.dtype) if nodata is not None else array.dtype.type(0)
            for r0 in range(0, h_l, th):
                for c0 in range(0, w_l, tw):
                    blk = np.full((th, tw), pad_value, dtype=array.dtype)
                    sub = arr_l[r0 : r0 + th, c0 : c0 + tw]
                    blk[: sub.shape[0], : sub.shape[1]] = sub
                    blks.append(None if is_sparse(blk) else encode_block(blk))
        else:
            rsp = min(rows_per_strip or h_l, h_l)
            for r0 in range(0, h_l, rsp):
                blk = arr_l[r0 : r0 + rsp]
                blks.append(None if is_sparse(blk) else encode_block(blk))
        return blks

    inline_sz = 8 if bigtiff else 4
    off_ft = _FT_LONG8 if bigtiff else _FT_LONG
    off_pack = "<Q" if bigtiff else "<I"

    def assemble_level(
        arr_l: np.ndarray, blocks: list[bytes | None], data_at: int,
        is_overview: bool,
    ) -> tuple[bytes, int, int]:
        """Lay out one IFD's block data + out-of-line values + IFD record
        starting at absolute file offset ``data_at``. Returns (payload
        bytes, absolute IFD offset, absolute position of the next-IFD
        pointer — written as 0, patched by the caller when another level
        follows)."""
        h_l, w_l = arr_l.shape
        entries: list[tuple[int, int, int, bytes]] = []  # (tag, type, count, inline-or-offset)
        out_of_line: list[tuple[int, int, int, bytes]] = []

        def add(tag: int, ftype: int, values) -> None:
            if isinstance(values, (bytes, bytearray)):
                payload = bytes(values)
                count = len(payload) // _FT_SIZE[ftype]
            else:
                vals = list(values)
                count = len(vals)
                payload = struct.pack(f"<{count}{_FT_FMT[ftype]}", *vals)
            if len(payload) <= inline_sz:
                entries.append((tag, ftype, count, payload))
            else:
                out_of_line.append((tag, ftype, count, payload))

        if is_overview:
            # reduced-resolution page (TIFF 6.0 §NewSubfileType bit 0) —
            # what gdaladdo writes for in-file / COG overviews
            add(_T_NEW_SUBFILE_TYPE, _FT_LONG, [1])
        add(_T_WIDTH, _FT_LONG, [w_l])
        add(_T_HEIGHT, _FT_LONG, [h_l])
        add(_T_BITS, _FT_SHORT, [bits])
        add(_T_COMPRESSION, _FT_SHORT, [comp])
        add(_T_PHOTOMETRIC, _FT_SHORT, [1])
        add(_T_SAMPLES_PER_PIXEL, _FT_SHORT, [1])
        add(_T_PLANAR_CONFIG, _FT_SHORT, [1])
        add(_T_SAMPLE_FORMAT, _FT_SHORT, [_SAMPLE_FORMAT_FOR_KIND[kind]])
        if predictor != 1:
            add(_T_PREDICTOR, _FT_SHORT, [predictor])

        if not is_overview:
            # geo tags live on the base IFD only (GDAL's convention);
            # readers derive overview georeferencing from the dim ratio
            add(_T_MODEL_PIXEL_SCALE, _FT_DOUBLE, [sx, sy, 0.0])
            add(_T_MODEL_TIEPOINT, _FT_DOUBLE, [0.0, 0.0, 0.0, x0, y0, 0.0])

            geo_keys: list[tuple[int, int, int, int]] = [(_GK_RASTER_TYPE, 0, 1, 1)]
            ascii_params = b""
            if wkt is not None:
                # WKT-only CRS: user-defined projected CS + citation carrying the WKT.
                geo_keys.append((_GK_MODEL_TYPE, 0, 1, 1))
                citation = wkt.encode() + b"|"
                geo_keys.append((_GK_CITATION, _T_GEO_ASCII_PARAMS, len(citation), 0))
                geo_keys.append((_GK_PROJECTED_TYPE, 0, 1, 32767))
                ascii_params = citation + b"\x00"
            elif epsg == 4326:
                geo_keys.append((_GK_MODEL_TYPE, 0, 1, 2))
                geo_keys.append((_GK_GEOGRAPHIC_TYPE, 0, 1, 4326))
            elif epsg is not None:
                geo_keys.append((_GK_MODEL_TYPE, 0, 1, 1))
                geo_keys.append((_GK_PROJECTED_TYPE, 0, 1, epsg))
            geo_keys.sort()
            gk = struct.pack("<4H", 1, 1, 0, len(geo_keys))
            for key in geo_keys:
                gk += struct.pack("<4H", *key)
            add(_T_GEO_KEY_DIRECTORY, _FT_SHORT, gk)
            if ascii_params:
                add(_T_GEO_ASCII_PARAMS, _FT_ASCII, ascii_params)
        if nodata is not None:
            nd = (
                repr(int(nodata)) if float(nodata).is_integer() and abs(nodata) < 2**53
                else repr(float(nodata))
            )
            add(_T_GDAL_NODATA, _FT_ASCII, nd.encode() + b"\x00")

        # block placement
        offsets = []
        pos = data_at
        for b in blocks:
            if b is None:  # sparse block: GDAL SPARSE_OK convention
                offsets.append(0)
                continue
            offsets.append(pos)
            pos += len(b) + (len(b) % 2)  # word-align
        counts = [0 if b is None else len(b) for b in blocks]
        if tile_size is not None:
            add(_T_TILE_WIDTH, _FT_LONG, [tile_size[1]])
            add(_T_TILE_LENGTH, _FT_LONG, [tile_size[0]])
            add(_T_TILE_OFFSETS, off_ft, offsets)
            add(_T_TILE_BYTE_COUNTS, off_ft, counts)
        else:
            add(_T_ROWS_PER_STRIP, _FT_LONG, [min(rows_per_strip or h_l, h_l)])
            add(_T_STRIP_OFFSETS, off_ft, offsets)
            add(_T_STRIP_BYTE_COUNTS, off_ft, counts)

        # out-of-line values follow the block data
        ool_offset = pos
        ool_bytes = b""
        for tag, ftype, count, payload in out_of_line:
            off = ool_offset + len(ool_bytes)
            entries.append((tag, ftype, count, struct.pack(off_pack, off)))
            ool_bytes += payload
            if len(payload) % 2:
                ool_bytes += b"\x00"
        ifd_offset = ool_offset + len(ool_bytes)

        entries.sort(key=lambda e: e[0])
        if bigtiff:
            ifd = struct.pack("<Q", len(entries))
            for tag, ftype, count, value in entries:
                ifd += struct.pack("<HHQ", tag, ftype, count) + value.ljust(8, b"\x00")
            next_ptr_at = ifd_offset + len(ifd)
            ifd += struct.pack("<Q", 0)
        else:
            ifd = struct.pack("<H", len(entries))
            for tag, ftype, count, value in entries:
                ifd += struct.pack("<HHI", tag, ftype, count) + value.ljust(4, b"\x00")
            next_ptr_at = ifd_offset + len(ifd)
            ifd += struct.pack("<I", 0)

        payload = bytearray()
        for b in blocks:
            if b is None:
                continue
            payload += b
            if len(b) % 2:
                payload += b"\x00"
        payload += ool_bytes
        payload += ifd
        return bytes(payload), ifd_offset, next_ptr_at

    data_offset = 16 if bigtiff else 8
    pos = data_offset
    segments: list[bytes] = []
    ifd_offsets: list[int] = []
    next_ptr_positions: list[int] = []
    for li, arr_l in enumerate(levels):
        seg, ifd_off, next_at = assemble_level(
            arr_l, encode_level(arr_l), pos, li > 0
        )
        segments.append(seg)
        ifd_offsets.append(ifd_off)
        next_ptr_positions.append(next_at)
        pos += len(seg)

    if bigtiff:
        header = struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_offsets[0])
    else:
        header = struct.pack("<2sHI", b"II", 42, ifd_offsets[0])
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        # stream segments out (freeing each as it lands) instead of
        # concatenating a second whole-file buffer — multi-GB BigTIFF
        # mosaics would otherwise peak at ~2x file size in RAM
        f.write(header)
        while segments:
            f.write(segments.pop(0))
        # chain the IFDs: level k's next-IFD pointer -> level k+1's IFD
        for k in range(len(levels) - 1):
            f.seek(next_ptr_positions[k])
            f.write(struct.pack(off_pack, ifd_offsets[k + 1]))
    os.replace(tmp, path)



_HGT_RE = re.compile(r"([NSns])(\d+)([EWew])(\d+)")

# Raster formats the engine does not read, by extension -> format name.
_REFUSED_FORMATS = {
    ".jp2": "JPEG 2000",
    ".j2k": "JPEG 2000",
    ".gpkg": "GeoPackage raster",
    ".mbtiles": "MBTiles",
    ".nc": "netCDF",
    ".nc4": "netCDF",
    ".h5": "HDF5",
    ".hdf5": "HDF5",
    ".dt0": "DTED",
    ".dt1": "DTED",
    ".dt2": "DTED",
}


def _refuse_format(path: str) -> None:
    """Raise RasterOpenError if ``path`` (a file or URL; any query
    string ignored) names a format in _REFUSED_FORMATS."""
    ext = os.path.splitext(path.split("?", 1)[0])[1].lower()
    if ext in _REFUSED_FORMATS:
        raise RasterOpenError(
            f"'{path}': {_REFUSED_FORMATS[ext]} is not supported (convert"
            " to GeoTIFF, e.g. DEFLATE-tiled)"
        )


def open_raster(path: str) -> Raster:
    """Open a GeoTIFF, SRTM .hgt, Esri ASCII grid (.asc), gridded XYZ
    (.xyz), Esri BIL (.bil + .hdr), GDAL VRT mosaic (.vrt), or a
    .zip/.gz container of one (the GDAL /vsizip/ and /vsigzip/ cases
    real DEM mirrors distribute). The extra grid formats live in
    gridformats.py; all return the same Raster, so callers are
    format-agnostic.

    ``http(s)://`` paths open over the network: GeoTIFFs via true byte-
    range reads (only the IFD and the blocks a window touches are ever
    fetched — the cloud-optimized-GeoTIFF access pattern), .hgt and
    .zip/.gz containers via one full-object fetch (those formats have no
    internal random access worth ranging into).

    The formats in _REFUSED_FORMATS (JPEG 2000, GeoPackage raster,
    MBTiles, netCDF, HDF5, DTED) are refused with a RasterOpenError by
    extension, local or remote, before any byte is read or fetched; so
    are the children of a .vrt that name one. JPEG-compressed TIFFs
    (compression 6/7) are refused when the IFD is read."""
    _refuse_format(path)
    if path.startswith(("http://", "https://")):
        return _open_remote(path)
    lower = path.lower()
    if lower.endswith((".asc", ".agr", ".asc.gz", ".agr.gz")):
        from . import gridformats

        return gridformats.open_ascii_grid(path)
    if lower.endswith((".xyz", ".xyz.gz")):
        from . import gridformats

        return gridformats.open_xyz(path)
    if lower.endswith(".bil"):
        from . import gridformats

        return gridformats.open_bil(path)
    if lower.endswith(".dem"):
        # .dem is two formats: GTOPO30/SRTM30 raw binary (EHdr family,
        # .HDR sidecar — the global 30-arcsec DEM distribution) and the
        # legacy USGS ASCII DEM (no sidecar); only the former is read
        base = path[:-4]
        if os.path.exists(base + ".hdr") or os.path.exists(base + ".HDR"):
            from . import gridformats

            return gridformats.open_bil(path)
        raise RasterOpenError(
            f"'{path}': .dem without an .hdr/.HDR sidecar — GTOPO30-"
            "style binary DEMs are supported; the legacy USGS ASCII DEM"
            " profile is not (convert to GeoTIFF)")
    if lower.endswith(".vrt"):
        from . import gridformats

        vrt = gridformats.open_vrt(path)
        for src in vrt._blocks.sources:  # children open lazily, at read
            _refuse_format(src["filename"])
        return vrt
    if lower.endswith(".zip"):
        return _open_zip(path)
    if lower.endswith(".gz"):
        return _open_gz(path)
    if lower.endswith(".hgt"):
        return _open_hgt(path)
    return _open_tiff(_ByteSource(path))


def _fetch_url(url: str) -> bytes:
    """One full-object GET (for container formats with no random access)."""
    import urllib.error
    import urllib.request

    global _range_request_count
    try:
        with urllib.request.urlopen(url, timeout=120) as resp:
            body = resp.read()
    except urllib.error.HTTPError as e:
        raise RasterOpenError(f"'{url}': HTTP {e.code}")
    except (urllib.error.URLError, OSError) as e:
        raise RasterOpenError(f"'{url}': unreachable ({e})")
    with _range_cache_lock:
        _range_request_count += 1
    return body


def _open_remote(url: str) -> Raster:
    """Remote raster dispatch (see open_raster). Extension sniffing uses
    the URL path with any query string stripped."""
    lower = url.split("?", 1)[0].split("#", 1)[0].lower()
    if lower.endswith((".tif", ".tiff")):
        return _open_tiff(_RangeByteSource(url))
    if lower.endswith(".hgt"):
        # raw contiguous int16: windowed row-range reads, like the TIFF
        # contiguous path — a window never fetches the whole tile
        src = _RangeByteSource(url)
        side = int(round(math.sqrt(src.size / 2)))
        if side * side * 2 != src.size:
            raise RasterOpenError(f"'{url}' is not a square .hgt object")
        return _hgt_raster(
            url, None, side, url,
            blocks=_ContiguousReader(
                source=src, dtype=np.dtype(">i2"), height=side, width=side,
                offset=0,
            ),
        )
    if lower.endswith(".hgt.gz") or lower.endswith(".tif.gz") \
            or lower.endswith(".tiff.gz"):
        import gzip
        import io

        raw = _fetch_url(url)
        inner = os.path.basename(lower)[:-3]
        try:
            buf = gzip.GzipFile(fileobj=io.BytesIO(raw)).read()
        except (OSError, EOFError, zlib.error):
            raise RasterOpenError(f"'{url}' is not a readable gzip object")
        if inner.endswith(".hgt"):
            return _hgt_from_bytes(url, buf, inner)
        return _open_tiff(_ByteSource(url, buf=buf))
    if lower.endswith(".zip"):
        import io

        raw = _fetch_url(url)
        try:
            zf = zipfile.ZipFile(io.BytesIO(raw))
        except zipfile.BadZipFile:
            raise RasterOpenError(f"'{url}' is not a readable zip object")
        with zf:
            members = [m for m in zf.namelist() if not m.endswith("/")]
            hgt = [m for m in members if m.lower().endswith(".hgt")]
            tif = [m for m in members if m.lower().endswith((".tif", ".tiff"))]
            if hgt:
                member = hgt[0]
                buf = zf.read(member)
                name = member if _HGT_RE.search(os.path.basename(member)) \
                    else url
                return _hgt_from_bytes(url, buf, name)
            if tif:
                return _open_tiff(_ByteSource(url, buf=zf.read(tif[0])))
        raise RasterOpenError(f"'{url}' contains no .hgt or .tif member")
    raise RasterOpenError(
        f"'{url}': remote rasters must be GeoTIFF (.tif/.tiff, byte-range"
        " read), .hgt, or a .zip/.gz of one — convert other formats to"
        " GeoTIFF for object-storage serving"
    )


def _open_gz(path: str) -> Raster:
    """Gzip single-member containers: N00E010.hgt.gz / tile.tif.gz.
    The member decompresses into memory once (gzip has no random
    access); block decode then shares the normal cache."""
    import gzip

    inner = os.path.basename(path)[:-3]  # strip .gz
    try:
        with gzip.open(path, "rb") as f:
            buf = f.read()
    except (OSError, EOFError, zlib.error):
        # zlib.error: valid gzip header but corrupt/truncated deflate body
        raise RasterOpenError(f"'{path}' is not a readable gzip file")
    if inner.lower().endswith(".hgt"):
        return _hgt_from_bytes(path, buf, inner)
    return _open_tiff(_ByteSource(path, buf=buf))


def _open_zip(path: str) -> Raster:
    """Zip-container rasters (GDAL /vsizip/ parity for the common cases:
    N00E010.hgt.zip, zipped single GeoTIFFs). The member is read into
    memory once; block decode then shares the normal cache."""
    try:
        zf = zipfile.ZipFile(path)
    except zipfile.BadZipFile:
        raise RasterOpenError(f"'{path}' is not a readable zip archive")
    with zf:
        members = [m for m in zf.namelist() if not m.endswith("/")]
        hgt = [m for m in members if m.lower().endswith(".hgt")]
        tif = [m for m in members if m.lower().endswith((".tif", ".tiff"))]
        if hgt:
            member = hgt[0]
            buf = zf.read(member)
            # corner from the member name if it parses, else the zip filename
            name = member if _HGT_RE.search(os.path.basename(member)) else path
            return _hgt_from_bytes(path, buf, name)
        if tif:
            buf = zf.read(tif[0])
            return _open_tiff(_ByteSource(path, buf=buf))
    raise RasterOpenError(f"'{path}' contains no .hgt or .tif member")


def _open_hgt(path: str) -> Raster:
    size = os.path.getsize(path)
    side = int(round(math.sqrt(size / 2)))
    if side * side * 2 != size:
        raise RasterOpenError(f"'{path}' is not a square .hgt file")
    data = np.memmap(path, dtype=">i2", mode="r", shape=(side, side))
    return _hgt_raster(path, data, side, path)


def _hgt_from_bytes(path: str, buf: bytes, name_source: str) -> Raster:
    side = int(round(math.sqrt(len(buf) / 2)))
    if side * side * 2 != len(buf):
        raise RasterOpenError(f"'{path}' member is not a square .hgt file")
    data = np.frombuffer(buf, dtype=">i2").reshape(side, side)
    return _hgt_raster(path, data, side, name_source)


def _hgt_raster(path: str, data: np.ndarray | None, side: int,
                name_source: str, blocks=None) -> Raster:
    m = _HGT_RE.search(os.path.basename(name_source))
    if not m:
        raise RasterOpenError(f"cannot infer bounds from .hgt filename '{name_source}'")
    lat = int(m.group(2)) * (1 if m.group(1).lower() == "n" else -1)
    lon = int(m.group(4)) * (1 if m.group(3).lower() == "e" else -1)
    # SRTM: outer pixel centers on integer degree lines; 1-px overlap.
    res = 1.0 / (side - 1)
    return Raster(
        path=path, width=side, height=side, dtype=np.dtype(">i2"),
        nodata=-32768.0, crs=CRSInfo(epsg=4326),
        x0=lon - res / 2, y0=lat + 1 + res / 2, sx=res, sy=res, _data=data,
        _blocks=blocks,
    )


def _open_tiff(source: _ByteSource) -> Raster:
    """Open a (Big)TIFF band, following the IFD chain.

    The first IFD is the full-resolution band. Subsequent IFDs whose
    NewSubfileType marks them reduced-resolution (or whose dimensions
    are strictly smaller, for writers that omit tag 254) become
    ``Raster.overviews`` — the cloud-optimized-GeoTIFF layout. Overviews
    inherit the base georeferencing with per-level pixel scale derived
    from the dimension ratio (GDAL's convention: overview IFDs carry no
    geo keys of their own). Mask IFDs (bit 2) and extra full-resolution
    pages are skipped, as GDAL does.
    """
    path = source.path
    head = source.read_at(0, 8)
    if len(head) < 8 or head[:2] not in (b"II", b"MM"):
        raise RasterOpenError(f"'{path}' not recognised as a geo raster")
    bo = "<" if head[:2] == b"II" else ">"
    (magic,) = struct.unpack(bo + "H", head[2:4])

    def _read_exact(offset: int, size: int, what: str) -> bytes:
        buf = source.read_at(offset, size)
        if len(buf) < size:
            # truncated file: a clean RasterOpenError, never a raw
            # struct.error escaping the open contract
            raise RasterOpenError(f"'{path}': truncated TIFF ({what})")
        return buf

    if magic == 42:
        # classic TIFF: 4-byte offsets, 12-byte IFD entries, 4-byte inline
        (first_ifd,) = struct.unpack(bo + "I", head[4:8])
        entry_sz, inline_sz, off_fmt = 12, 4, "I"
        ifd_count_sz, ifd_count_fmt = 2, "H"
    elif magic == 43:
        # BigTIFF: 8-byte offsets, 20-byte IFD entries, 8-byte inline
        big_head = _read_exact(0, 16, "BigTIFF header")
        off_sz, zero = struct.unpack(bo + "HH", big_head[4:8])
        if off_sz != 8 or zero != 0:
            raise RasterOpenError(
                f"'{path}': malformed BigTIFF header (offsetsize={off_sz})"
            )
        (first_ifd,) = struct.unpack(bo + "Q", big_head[8:16])
        entry_sz, inline_sz, off_fmt = 20, 8, "Q"
        ifd_count_sz, ifd_count_fmt = 8, "Q"
    else:
        raise RasterOpenError(f"'{path}' not a TIFF (magic={magic})")
    count_fmt = "I" if magic == 42 else "Q"

    def _parse_ifd(ifd_offset: int, georef, cache_tag: int):
        """Parse one IFD into a Raster (or None for non-overview pages).

        ``georef`` is None for the base IFD (geo tags + CRS required,
        exactly the reference's rasterio-open contract) or the base
        Raster for overview IFDs (georeferencing derived, CRS/nodata
        inherited). Returns (raster_or_None, next_ifd_offset)."""
        (n_entries,) = struct.unpack(
            bo + ifd_count_fmt, _read_exact(ifd_offset, ifd_count_sz, "IFD count")
        )
        entries_at = ifd_offset + ifd_count_sz
        raw_entries = _read_exact(entries_at, n_entries * entry_sz, "IFD entries")
        (next_off,) = struct.unpack(
            bo + off_fmt,
            _read_exact(entries_at + n_entries * entry_sz, inline_sz,
                        "next-IFD pointer"),
        )
        tags: dict[int, tuple[int, int, bytes]] = {}
        for i in range(n_entries):
            tag, ftype, count = struct.unpack_from(
                bo + "HH" + count_fmt, raw_entries, i * entry_sz
            )
            val_at = i * entry_sz + (8 if magic == 42 else 12)
            tags[tag] = (ftype, count, raw_entries[val_at : val_at + inline_sz])

        def value(tag, default=None):
            if tag not in tags:
                return default
            ftype, count, raw = tags[tag]
            if ftype not in _FT_SIZE:
                raise RasterOpenError(f"'{path}': unsupported TIFF field type {ftype}")
            sz = _FT_SIZE[ftype] * count
            if sz <= inline_sz:
                buf = raw[:sz]
            else:
                (off,) = struct.unpack(bo + off_fmt, raw)
                buf = source.read_at(off, sz)
            if ftype == _FT_ASCII:
                return buf.rstrip(b"\x00").decode("latin-1")
            if ftype in (_FT_BYTE, _FT_UNDEFINED):
                return bytes(buf)
            vals = struct.unpack(bo + str(count) + _FT_FMT[ftype], buf)
            return list(vals)

        width = int(value(_T_WIDTH)[0])
        height = int(value(_T_HEIGHT)[0])
        if georef is not None:
            # overview chain: only strictly-reduced-resolution IFDs join
            # Raster.overviews; masks (bit 2) and extra full-size pages
            # are skipped silently, matching GDAL
            subfile = int(value(_T_NEW_SUBFILE_TYPE, [0])[0])
            if (
                subfile & 0x4
                or width >= georef.width
                or height >= georef.height
            ):
                return None, next_off
        bits = int(value(_T_BITS, [8])[0])
        comp = int(value(_T_COMPRESSION, [1])[0])
        if comp not in (
            _C_NONE, _C_LZW, _C_DEFLATE_ADOBE, _C_DEFLATE_OLD, _C_PACKBITS,
            _C_LZMA,
        ):
            what = (f"JPEG-compressed TIFF (compression {comp}) is lossy and"
                    if comp in _C_JPEG_CODES else f"TIFF compression {comp} is")
            raise RasterOpenError(
                f"'{path}': {what} not supported (supported: none, LZW,"
                " DEFLATE, PackBits, LZMA; convert to GeoTIFF with one of"
                " them)"
            )
        predictor = int(value(_T_PREDICTOR, [1])[0])
        if predictor not in (1, 2, 3):
            raise RasterOpenError(f"'{path}': unsupported predictor {predictor}")
        sfmt = int(value(_T_SAMPLE_FORMAT, [1])[0])
        kind = _KIND_FOR_SAMPLE_FORMAT.get(sfmt)
        if kind is None:
            raise RasterOpenError(f"'{path}': unsupported sample format {sfmt}")
        if bits not in ((16, 32, 64) if kind == "f" else (8, 16, 32, 64)):
            raise RasterOpenError(
                f"'{path}': BitsPerSample {bits} with sample format {sfmt}"
                " is not supported (supported: integer 8/16/32/64, float"
                " 16/32/64; convert to GeoTIFF with one of them)"
            )
        dtype = np.dtype(f"{bo}{kind}{bits // 8}")

        # Multi-band files: read band 1 only (the reference's rasterio read(1),
        # backend.py:103). PlanarConfiguration=2 stores each band's blocks
        # separately (plane 1 first); =1 interleaves samples within each pixel.
        spp = int(value(_T_SAMPLES_PER_PIXEL, [1])[0])
        planar = int(value(_T_PLANAR_CONFIG, [1])[0])
        if spp > 1 and planar == 1 and predictor == 3:
            raise RasterOpenError(
                f"'{path}': float predictor on interleaved multi-band TIFF is"
                " not supported (re-encode band-separate or single-band)"
            )

        tiled = _T_TILE_OFFSETS in tags
        if tiled:
            block_offsets = value(_T_TILE_OFFSETS)
            block_counts = value(_T_TILE_BYTE_COUNTS)
            tile_w = int(value(_T_TILE_WIDTH)[0])
            tile_h = int(value(_T_TILE_LENGTH)[0])
        else:
            block_offsets = value(_T_STRIP_OFFSETS)
            block_counts = value(_T_STRIP_BYTE_COUNTS)
            rsp = int(value(_T_ROWS_PER_STRIP, [height])[0])
            tile_w = width
            tile_h = min(rsp, height)
        if block_offsets is None:
            raise RasterOpenError(f"'{path}' has no strip/tile offsets")
        if spp > 1 and planar == 2:
            # band-separate layout: all of plane 1's blocks come first
            per_band = len(block_offsets) // spp
            block_offsets = block_offsets[:per_band]
            block_counts = block_counts[:per_band]

        if georef is None:
            scale = value(_T_MODEL_PIXEL_SCALE)
            tiepoint = value(_T_MODEL_TIEPOINT)
            if scale is None or tiepoint is None:
                raise RasterOpenError(f"'{path}' has no georeferencing")
            sx, sy = float(scale[0]), float(scale[1])
            # tiepoint: raster (i,j,k) -> model (X,Y,Z); assume (0,0) anchor
            x0 = float(tiepoint[3]) - float(tiepoint[0]) * sx
            y0 = float(tiepoint[4]) + float(tiepoint[1]) * sy

            nodata_s = value(_T_GDAL_NODATA)
            nodata = float(nodata_s) if nodata_s not in (None, "") else None

            epsg: int | None = None
            wkt: str | None = None
            gk = value(_T_GEO_KEY_DIRECTORY)
            ascii_params = value(_T_GEO_ASCII_PARAMS, "")
            if gk:
                n_keys = int(gk[3])
                for i in range(n_keys):
                    key, loc, cnt, val = gk[4 + 4 * i : 8 + 4 * i]
                    if key == _GK_GEOGRAPHIC_TYPE and loc == 0:
                        epsg = int(val)
                    elif key == _GK_PROJECTED_TYPE and loc == 0 and val != 32767:
                        epsg = int(val)
                    elif key == _GK_CITATION and loc == _T_GEO_ASCII_PARAMS:
                        wkt = ascii_params[val : val + cnt].rstrip("|")
            if epsg is None and wkt is None:
                raise RasterOpenError(f"'{path}' has no coordinate reference system")
            crs = CRSInfo(epsg=epsg, wkt=wkt)
        else:
            # GDAL's overview convention: same outer extent as the base
            # band, pixel scale grown by the dimension ratio, no geo keys
            # on the overview IFD itself
            sx = georef.sx * georef.width / width
            sy = georef.sy * georef.height / height
            x0, y0 = georef.x0, georef.y0
            crs = georef.crs
            nodata_s = value(_T_GDAL_NODATA)
            nodata = (
                float(nodata_s) if nodata_s not in (None, "")
                else georef.nodata
            )

        data = None
        blocks = None
        chunky_multiband = spp > 1 and planar == 1
        if (
            comp == _C_NONE and not tiled and predictor == 1
            and not chunky_multiband and int(block_offsets[0]) != 0
        ):
            # fast path: contiguous uncompressed strips -> one zero-copy view
            # locally (memmap), a windowed row-range reader remotely (never a
            # whole-band fetch). A zero first offset means a sparse file:
            # block-reader path.
            expected = [block_offsets[0]]
            row_bytes = width * dtype.itemsize
            for c in block_counts[:-1]:
                expected.append(expected[-1] + c)
            if list(map(int, block_offsets)) == list(map(int, expected)) and all(
                int(c) % row_bytes == 0 for c in block_counts
            ):
                if source.remote:
                    blocks = _ContiguousReader(
                        source=source, dtype=dtype, height=height, width=width,
                        offset=int(block_offsets[0]),
                    )
                else:
                    data = source.as_array(
                        dtype, int(block_offsets[0]), (height, width))
        if data is None and blocks is None:
            blocks = _BlockReader(
                source=source, dtype=dtype, height=height, width=width,
                block_h=tile_h, block_w=tile_w, tiled=tiled,
                offsets=[int(o) for o in block_offsets],
                counts=[int(c) for c in block_counts],
                compression=comp, predictor=predictor,
                spp=spp if chunky_multiband else 1,
                fill=nodata if nodata is not None else 0.0,
                cache_tag=cache_tag,
            )

        return Raster(
            path=path, width=width, height=height, dtype=dtype, nodata=nodata,
            crs=crs, x0=x0, y0=y0, sx=sx, sy=sy,
            _data=data, _blocks=blocks,
        ), next_off

    base, next_off = _parse_ifd(first_ifd, None, 0)
    overviews: list[Raster] = []
    seen = {first_ifd}
    tag = 0
    while next_off and next_off not in seen and len(seen) < 64:
        seen.add(next_off)
        tag += 1
        try:
            ovr, next_off = _parse_ifd(next_off, base, tag)
        except RasterOpenError:
            # overviews are an optional acceleration structure: a
            # malformed/unsupported overview IFD degrades to "this level
            # doesn't exist" (the base band already parsed), it never
            # fails the open — rasterio/GDAL behave the same way
            break
        if ovr is not None:
            overviews.append(ovr)
    if overviews:
        # coarsest-last, GDAL's ordering contract for overview lists
        overviews.sort(key=lambda r: r.width, reverse=True)
        base.overviews = tuple(overviews)
    return base
