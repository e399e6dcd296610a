"""Compressed/tiled GeoTIFF + zip-container coverage.

Mirrors every tests/test_geotiff.py case on compressed variants, and adds
spill-tier / windowed-read / cross-codec equivalence checks. The reference
reads all of these through GDAL (/root/reference/opentopodata/backend.py:103)
and its docs recommend DEFLATE-tiled datasets, so this is the #1 real-world
format surface.
"""

import os
import zipfile

import numpy as np
import pytest

from opentopodata_spark import geotiff


def _checkerboard(h, w, dtype):
    rng = np.random.default_rng(7)
    base = rng.integers(-500, 4000, size=(h, w)).astype(np.float64)
    if np.dtype(dtype).kind == "f":
        return (base + rng.random((h, w))).astype(dtype)
    return base.astype(dtype)


VARIANTS = [
    # (compression, predictor, layout kwargs)
    ("deflate", 1, {}),
    ("deflate", 1, {"rows_per_strip": 7}),
    ("deflate", 1, {"tile_size": (16, 16)}),
    ("lzw", 1, {}),
    ("lzw", 1, {"rows_per_strip": 13}),
    ("lzw", 1, {"tile_size": (32, 16)}),
    ("none", 1, {"tile_size": (16, 32)}),  # uncompressed but tiled
    ("none", 1, {"rows_per_strip": 5}),
    ("packbits", 1, {}),
    ("packbits", 1, {"rows_per_strip": 6}),
    ("packbits", 1, {"tile_size": (16, 16)}),
    ("lzma", 1, {}),
    ("lzma", 1, {"rows_per_strip": 10}),
    ("lzma", 1, {"tile_size": (16, 16)}),
]

INT_VARIANTS = VARIANTS + [
    ("deflate", 2, {"rows_per_strip": 9}),
    ("deflate", 2, {"tile_size": (16, 16)}),
    ("lzw", 2, {"tile_size": (32, 32)}),
    ("packbits", 2, {"rows_per_strip": 8}),
    ("lzma", 2, {"tile_size": (16, 16)}),
]

FLOAT_VARIANTS = VARIANTS + [
    ("deflate", 3, {"rows_per_strip": 11}),
    ("deflate", 3, {"tile_size": (16, 16)}),
    ("lzw", 3, {"tile_size": (16, 32)}),
    ("packbits", 3, {"tile_size": (16, 16)}),
    ("lzma", 3, {"rows_per_strip": 12}),
]


@pytest.mark.parametrize("compression,predictor,layout", FLOAT_VARIANTS)
def test_roundtrip_float32(tmp_path, compression, predictor, layout):
    arr = _checkerboard(45, 53, np.float32)
    p = str(tmp_path / "t.tif")
    geotiff.write_geotiff(
        p, arr, x0=-0.5, y0=44.5, sx=1.0, sy=1.0, epsg=4326, nodata=9999,
        compression=compression, predictor=predictor, **layout,
    )
    r = geotiff.open_raster(p)
    assert r.width == 53 and r.height == 45
    assert r.crs.epsg == 4326 and r.nodata == 9999
    np.testing.assert_array_equal(np.asarray(r.band), arr)


@pytest.mark.parametrize("compression,predictor,layout", INT_VARIANTS)
def test_roundtrip_int16_projected(tmp_path, compression, predictor, layout):
    arr = _checkerboard(37, 41, np.int16)
    p = str(tmp_path / "utm.tif")
    geotiff.write_geotiff(
        p, arr, x0=600000, y0=110000, sx=92.45, sy=92.45, epsg=32632,
        nodata=-32768, compression=compression, predictor=predictor, **layout,
    )
    r = geotiff.open_raster(p)
    assert r.crs.epsg == 32632 and r.dtype.kind == "i"
    np.testing.assert_array_equal(np.asarray(r.band), arr)


def test_roundtrip_float64_predictor3(tmp_path):
    arr = _checkerboard(20, 18, np.float64)
    p = str(tmp_path / "f8.tif")
    geotiff.write_geotiff(
        p, arr, x0=0, y0=20, sx=1.0, sy=1.0, epsg=4326,
        compression="deflate", predictor=3, tile_size=(16, 16),
    )
    np.testing.assert_array_equal(np.asarray(geotiff.open_raster(p).band), arr)


def test_wkt_only_crs_compressed(tmp_path):
    from opentopodata_spark.crs import ETRS89_LAEA_WKT

    arr = np.ones((2, 2), dtype=np.float32)
    p = str(tmp_path / "wkt.tif")
    geotiff.write_geotiff(
        p, arr, x0=0, y0=100, sx=50, sy=50, epsg=None, wkt=ETRS89_LAEA_WKT,
        compression="deflate",
    )
    r = geotiff.open_raster(p)
    assert not r.crs.is_epsg_code
    assert "Lambert_Azimuthal_Equal_Area" in r.crs.wkt


def test_read_window_matches_band(tmp_path):
    arr = _checkerboard(64, 80, np.int16)
    p = str(tmp_path / "w.tif")
    geotiff.write_geotiff(
        p, arr, x0=0, y0=64, sx=1, sy=1, epsg=4326,
        compression="deflate", predictor=2, tile_size=(16, 16),
    )
    r = geotiff.open_raster(p)
    for (r0, r1, c0, c1) in [(0, 5, 0, 5), (10, 40, 7, 33), (60, 64, 75, 80),
                             (-3, 70, -3, 90), (31, 33, 15, 17)]:
        win, (orow, ocol) = r.read_window(r0, r1, c0, c1)
        rr0, cc0 = max(r0, 0), max(c0, 0)
        np.testing.assert_array_equal(
            win, arr[rr0 : min(r1, 64), cc0 : min(c1, 80)]
        )
        assert (orow, ocol) == (rr0, cc0)


def test_windowed_read_decodes_only_touched_blocks(tmp_path):
    """A corner window must not decode the whole raster."""
    arr = _checkerboard(128, 128, np.float32)
    p = str(tmp_path / "c.tif")
    geotiff.write_geotiff(
        p, arr, x0=0, y0=128, sx=1, sy=1, epsg=4326,
        compression="deflate", tile_size=(32, 32),
    )
    r = geotiff.open_raster(p)
    geotiff.clear_block_cache()
    win, _ = r.read_window(0, 10, 0, 10)
    np.testing.assert_array_equal(win, arr[:10, :10])
    # exactly one 32x32 tile decoded
    s = geotiff.block_cache_stats()
    assert s["decodes"] == 1 and s["decoded_bytes"] == 32 * 32 * 4
    # outside a worker nothing is kept: the same tile is decoded again
    win, _ = geotiff.open_raster(p).read_window(2, 8, 2, 8)
    np.testing.assert_array_equal(win, arr[2:8, 2:8])
    s = geotiff.block_cache_stats()
    assert s["decodes"] == 2 and s["spill_hits"] == 0
    assert s["decode_s"] > 0


def test_lzw_deflate_same_values(tmp_path):
    arr = _checkerboard(40, 40, np.int16)
    pz = str(tmp_path / "z.tif")
    pl = str(tmp_path / "l.tif")
    for p, comp in ((pz, "deflate"), (pl, "lzw")):
        geotiff.write_geotiff(
            p, arr, x0=0, y0=40, sx=1, sy=1, epsg=4326, compression=comp,
            predictor=2, rows_per_strip=8,
        )
    np.testing.assert_array_equal(
        np.asarray(geotiff.open_raster(pz).band),
        np.asarray(geotiff.open_raster(pl).band),
    )


def test_hgt_zip(tmp_path):
    side = 121
    arr = (np.arange(side * side) % 1000).astype(">i2").reshape(side, side)
    p = str(tmp_path / "N00E010.hgt.zip")
    with zipfile.ZipFile(p, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("N00E010.hgt", arr.tobytes())
    r = geotiff.open_raster(p)
    assert r.width == side and r.height == side
    assert r.crs.epsg == 4326 and r.nodata == -32768
    res = 1.0 / (side - 1)
    assert abs(r.x0 - (10 - res / 2)) < 1e-12
    assert abs(r.y0 - (1 + res / 2)) < 1e-12
    np.testing.assert_array_equal(np.asarray(r.band), arr.astype("i2"))


def test_hgt_zip_corner_from_zip_name(tmp_path):
    """Member named generically -> corner parsed from the zip filename."""
    side = 61
    arr = np.zeros((side, side), dtype=">i2")
    p = str(tmp_path / "S05W071.hgt.zip")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("tile.hgt", arr.tobytes())
    r = geotiff.open_raster(p)
    res = 1.0 / (side - 1)
    assert abs(r.x0 - (-71 - res / 2)) < 1e-12
    assert abs(r.y0 - (-4 + res / 2)) < 1e-12


def test_zipped_geotiff(tmp_path):
    arr = _checkerboard(30, 30, np.float32)
    tif = str(tmp_path / "inner.tif")
    geotiff.write_geotiff(
        tif, arr, x0=0, y0=30, sx=1, sy=1, epsg=4326,
        compression="deflate", tile_size=(16, 16),
    )
    p = str(tmp_path / "outer.zip")
    with zipfile.ZipFile(p, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        zf.write(tif, "inner.tif")
    r = geotiff.open_raster(p)
    np.testing.assert_array_equal(np.asarray(r.band), arr)


def test_open_garbage_zip(tmp_path):
    p = str(tmp_path / "bad.zip")
    with open(p, "wb") as f:
        f.write(b"this is not a zip")
    with pytest.raises(geotiff.RasterOpenError):
        geotiff.open_raster(p)


def test_zip_without_raster_member(tmp_path):
    p = str(tmp_path / "empty.zip")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("readme.txt", "hello")
    with pytest.raises(geotiff.RasterOpenError):
        geotiff.open_raster(p)


def _tiff_with_tag(path, dtype, tag, value):
    """A small GeoTIFF whose SHORT tag ``tag`` is patched to ``value``."""
    import struct

    geotiff.write_geotiff(path, np.zeros((4, 4), dtype=dtype),
                          x0=0, y0=4, sx=1, sy=1, epsg=4326)
    data = bytearray(open(path, "rb").read())
    ifd_offset = struct.unpack("<I", data[4:8])[0]
    (n,) = struct.unpack("<H", data[ifd_offset : ifd_offset + 2])
    for i in range(n):
        base = ifd_offset + 2 + i * 12
        if struct.unpack("<H", data[base : base + 2])[0] == tag:
            data[base + 8 : base + 10] = struct.pack("<H", value)
    open(path, "wb").write(bytes(data))


def _open_error_message(path):
    with pytest.raises(geotiff.RasterOpenError) as e:
        geotiff.open_raster(path)
    return str(e.value).replace(path, "")  # the message, not the tmp path


def test_unsupported_compression_clear_error(tmp_path):
    """An unknown codec (34712, JPEG 2000 in TIFF) fails at open with a
    message naming it and the supported ones, not a crash at read."""
    p = str(tmp_path / "j2.tif")
    _tiff_with_tag(p, np.int16, 259, 34712)
    msg = _open_error_message(p)
    assert "TIFF compression 34712 is not supported" in msg
    assert "DEFLATE" in msg and "convert to GeoTIFF" in msg


@pytest.mark.parametrize("comp", [6, 7])
@pytest.mark.parametrize("dtype", [np.uint8, np.int16])
def test_jpeg_tiff_refused_at_open(tmp_path, dtype, comp):
    """A JPEG-coded TIFF (old-style 6 or TechNote-2 7) is refused at open
    with a message naming the format, not decoded or failed at read."""
    p = str(tmp_path / "jp.tif")
    _tiff_with_tag(p, dtype, 259, comp)
    msg = _open_error_message(p)
    assert f"JPEG-compressed TIFF (compression {comp})" in msg
    assert "convert to GeoTIFF" in msg


@pytest.mark.parametrize(
    "dtype, bits",
    [(np.uint8, 4), (np.uint16, 12), (np.float32, 8)],
    ids=["int4", "int12", "float8"],
)
def test_bits_per_sample_refused_at_open(tmp_path, dtype, bits):
    """Only integer 8/16/32/64 and float 16/32/64 samples are read; any
    other BitsPerSample is refused at open, not read as whole bytes (a
    12-bit pixel would come back split into two uint8 values)."""
    p = str(tmp_path / "b.tif")
    _tiff_with_tag(p, dtype, 258, bits)
    msg = _open_error_message(p)
    assert f"BitsPerSample {bits} " in msg and "not supported" in msg


@pytest.mark.parametrize(
    "name", ["x.jp2", "x.J2K", "http://127.0.0.1:9/x.jp2?sig=1"])
def test_jpeg2000_refused(tmp_path, name):
    """JPEG 2000 is refused by extension, before the file is read or
    fetched (nothing listens on the discard port, so a fetch would fail
    differently)."""
    path = name if "://" in name else str(tmp_path / name)
    requests = geotiff.range_request_count()
    with pytest.raises(geotiff.RasterOpenError) as e:
        geotiff.open_raster(path)
    msg = str(e.value)
    assert "JPEG 2000" in msg and "convert to GeoTIFF" in msg
    assert geotiff.range_request_count() == requests


def test_writer_refuses_jpeg(tmp_path):
    with pytest.raises(ValueError, match="unsupported compression 'jpeg'"):
        geotiff.write_geotiff(
            str(tmp_path / "j.tif"), np.zeros((16, 16), np.uint8),
            x0=0, y0=16, sx=1, sy=1, epsg=4326, compression="jpeg")


def _write_multiband_tiff(path, bands, planar, compression="none", predictor=1,
                          rows_per_strip=None):
    """Minimal classic-TIFF writer for multi-band fixtures (the package writer
    is deliberately single-band; real multi-band DEMs come from elsewhere)."""
    import struct
    import zlib

    h, w = bands[0].shape
    spp = len(bands)
    dtype = bands[0].dtype
    rsp = rows_per_strip or h
    comp_code = {"none": 1, "deflate": 8}[compression]

    def enc(a):
        if predictor == 2:
            d = a.copy()
            d[:, 1:] = a[:, 1:] - a[:, :-1]
            a = d
        raw = np.ascontiguousarray(a.astype(dtype.newbyteorder("<"), copy=False)).tobytes()
        return zlib.compress(raw) if comp_code == 8 else raw

    strips = []
    if planar == 1:
        chunky = np.stack(bands, axis=-1)
        for r0 in range(0, h, rsp):
            strips.append(enc(chunky[r0 : r0 + rsp]))
    else:
        for b in bands:
            for r0 in range(0, h, rsp):
                strips.append(enc(b[r0 : r0 + rsp]))

    sample_fmt = {"u": 1, "i": 2, "f": 3}[dtype.kind]
    data = bytearray(b"II*\x00\x00\x00\x00\x00")  # IFD offset patched below
    offsets = []
    for s in strips:
        offsets.append(len(data))
        data += s

    payloads = {}  # tag -> absolute offset of out-of-line payload

    def payload(tag, blob):
        payloads[tag] = len(data)
        data.extend(blob)

    n = len(strips)
    geokeys = [1, 1, 0, 1, 2048, 0, 1, 4326]
    entries = []  # (tag, ftype, count, inline-bytes-or-None, payload-blob)

    def tag(t, ftype, fmt, vals):
        blob = struct.pack(f"<{len(vals)}{fmt}", *vals)
        if len(blob) <= 4:
            entries.append((t, ftype, len(vals), blob.ljust(4, b"\x00")))
        else:
            payload(t, blob)
            entries.append((t, ftype, len(vals), None))

    tag(256, 3, "H", [w])
    tag(257, 3, "H", [h])
    tag(258, 3, "H", [dtype.itemsize * 8] * spp)
    tag(259, 3, "H", [comp_code])
    tag(262, 3, "H", [1])
    tag(273, 4, "I", offsets)
    tag(277, 3, "H", [spp])
    tag(278, 3, "H", [rsp])
    tag(279, 4, "I", [len(s) for s in strips])
    tag(284, 3, "H", [planar])
    if predictor != 1:
        tag(317, 3, "H", [predictor])
    tag(339, 3, "H", [sample_fmt] * spp)
    tag(33550, 12, "d", [1.0, 1.0, 0.0])
    tag(33922, 12, "d", [0.0, 0.0, 0.0, 0.0, float(h), 0.0])
    tag(34735, 3, "H", geokeys)

    ifd_at = len(data)
    struct.pack_into("<I", data, 4, ifd_at)
    data += struct.pack("<H", len(entries))
    for (t, ftype, count, inline) in sorted(entries):
        data += struct.pack("<HHI", t, ftype, count)
        data += inline if inline is not None else struct.pack("<I", payloads[t])
    data += b"\x00\x00\x00\x00"
    with open(path, "wb") as f:
        f.write(bytes(data))


@pytest.mark.parametrize("planar", [1, 2])
@pytest.mark.parametrize(
    "compression,predictor,rsp",
    [("none", 1, None), ("none", 1, 7), ("deflate", 1, 9), ("deflate", 2, 5)],
)
def test_multiband_reads_band_one(tmp_path, planar, compression, predictor, rsp):
    """rasterio-parity: a 3-band TIFF yields band 1 (backend.py:103)."""
    rng = np.random.default_rng(17)
    bands = [rng.integers(-400, 3000, (23, 31)).astype(np.int16) for _ in range(3)]
    p = str(tmp_path / "mb.tif")
    _write_multiband_tiff(p, bands, planar, compression, predictor, rsp)
    r = geotiff.open_raster(p)
    assert r.width == 31 and r.height == 23 and r.crs.epsg == 4326
    np.testing.assert_array_equal(np.asarray(r.band), bands[0])
    win, (orow, ocol) = r.read_window(3, 17, 5, 29)
    np.testing.assert_array_equal(win, bands[0][3:17, 5:29])
    assert (orow, ocol) == (3, 5)


def test_multiband_chunky_float_predictor_rejected(tmp_path):
    """Open must fail clearly BEFORE decoding: write a predictor-2 file,
    then retag predictor=3 (the unsupported chunky-multiband-float combo)."""
    import struct

    bands = [np.ones((8, 8), dtype=np.int32) for _ in range(2)]
    p = str(tmp_path / "mbf.tif")
    _write_multiband_tiff(p, bands, planar=1, compression="deflate", predictor=2)
    patched = False
    data = bytearray(open(p, "rb").read())
    ifd = struct.unpack("<I", data[4:8])[0]
    (n,) = struct.unpack("<H", data[ifd : ifd + 2])
    for i in range(n):
        base = ifd + 2 + i * 12
        if struct.unpack("<H", data[base : base + 2])[0] == 317:
            data[base + 8 : base + 10] = struct.pack("<H", 3)
            patched = True
    assert patched
    open(p, "wb").write(bytes(data))
    with pytest.raises(geotiff.RasterOpenError, match="multi-band"):
        geotiff.open_raster(p)


def test_packbits_codec_edge_cases():
    """Raw codec round-trips: runs, literals, 128-byte packet boundaries."""
    cases = [
        b"",
        b"\x00",
        b"abc",
        b"a" * 3,
        b"a" * 300,                       # multi-packet replicate run
        bytes(range(256)),                # pure literal, >128 bytes
        b"ab" + b"c" * 5 + b"de" + b"f" * 130 + b"gh",
        bytes(np.random.default_rng(11).integers(0, 4, 1000, dtype=np.uint8)),
    ]
    for raw in cases:
        enc = geotiff._packbits_encode(raw)
        assert geotiff._packbits_decode(enc) == raw
    # spec no-op byte (0x80) is skipped on decode
    assert geotiff._packbits_decode(b"\x80\x00A\x80\xfeB") == b"ABBB"


def test_sampling_identical_plain_vs_compressed(tmp_path):
    """End-to-end interpolation parity: same values through the block
    reader as through the memmap."""
    from opentopodata_spark import interpolate

    rng = np.random.default_rng(3)
    arr = _checkerboard(50, 60, np.float32)
    arr[10:13, 20:24] = 9999  # nodata patch
    plain = str(tmp_path / "plain.tif")
    comp = str(tmp_path / "comp.tif")
    for p, kw in ((plain, {}), (comp, dict(compression="deflate", predictor=3,
                                           tile_size=(16, 16)))):
        geotiff.write_geotiff(
            p, arr, x0=-0.5, y0=49.5, sx=1.0, sy=1.0, epsg=4326, nodata=9999, **kw
        )
    lats = rng.uniform(-0.4, 48.9, 500)
    lons = rng.uniform(0.1, 58.9, 500)
    rp = geotiff.open_raster(plain)
    rc = geotiff.open_raster(comp)
    for method in ("nearest", "bilinear", "cubic"):
        zp, bp = interpolate.sample_points_on_raster_arrays(rp, lats, lons, method)
        zc, bc = interpolate.sample_points_on_raster_arrays(rc, lats, lons, method)
        np.testing.assert_array_equal(bp, bc)
        np.testing.assert_array_equal(zp[bp], zc[bc])


# ---------------------------------------------------------------------------
# Sparse files (GDAL SPARSE_OK=TRUE: offset/bytecount 0 blocks)
# ---------------------------------------------------------------------------

def _coastal(h, w, dtype, nodata):
    """Left half 'land' (values), right half 'sea' (all nodata)."""
    arr = _checkerboard(h, w, dtype)
    arr[:, w // 2 :] = nodata
    return arr


@pytest.mark.parametrize("layout,comp", [
    ({"tile_size": (16, 16)}, "none"),
    ({"tile_size": (16, 16)}, "deflate"),
    ({"rows_per_strip": 8}, "none"),
    ({"rows_per_strip": 8}, "lzw"),
])
def test_sparse_blocks_read_as_nodata(tmp_path, layout, comp):
    nodata = -32768
    arr = _coastal(48, 64, np.int16, nodata)
    # make some whole STRIPS sparse too (full-width nodata band)
    arr[24:40, :] = nodata
    dense = str(tmp_path / "dense.tif")
    sparse = str(tmp_path / "sparse.tif")
    common = dict(x0=0, y0=48, sx=1, sy=1, epsg=4326, nodata=nodata,
                  compression=comp, **layout)
    geotiff.write_geotiff(dense, arr, **common)
    geotiff.write_geotiff(sparse, arr, sparse_ok=True, **common)
    assert os.path.getsize(sparse) < os.path.getsize(dense)
    geotiff.clear_block_cache()
    r = geotiff.open_raster(sparse)
    np.testing.assert_array_equal(np.asarray(r.band), arr)
    # windowed read crossing a sparse/dense boundary
    win, _ = r.read_window(20, 44, 28, 40)
    np.testing.assert_array_equal(win, arr[20:44, 28:40])


def test_sparse_without_nodata_reads_zero(tmp_path):
    arr = _checkerboard(32, 32, np.float32)
    arr[:, 16:] = 0.0
    p = str(tmp_path / "z.tif")
    geotiff.write_geotiff(p, arr, x0=0, y0=32, sx=1, sy=1, epsg=4326,
                          tile_size=(16, 16), sparse_ok=True)
    np.testing.assert_array_equal(np.asarray(geotiff.open_raster(p).band), arr)


def test_fully_sparse_file(tmp_path):
    """Every block sparse — first offset is 0, so the uncompressed fast
    path must bail to the block reader."""
    nodata = 9999.0
    arr = np.full((20, 20), nodata, dtype=np.float32)
    p = str(tmp_path / "allsea.tif")
    geotiff.write_geotiff(p, arr, x0=0, y0=20, sx=1, sy=1, epsg=4326,
                          nodata=nodata, rows_per_strip=5, sparse_ok=True)
    r = geotiff.open_raster(p)
    np.testing.assert_array_equal(np.asarray(r.band), arr)


def test_sparse_float_nan_nodata(tmp_path):
    arr = _checkerboard(32, 48, np.float32)
    arr[:, 32:] = np.nan
    p = str(tmp_path / "nan.tif")
    geotiff.write_geotiff(p, arr, x0=0, y0=32, sx=1, sy=1, epsg=4326,
                          nodata=float("nan"), tile_size=(16, 16),
                          compression="deflate", predictor=3, sparse_ok=True)
    r = geotiff.open_raster(p)
    got = np.asarray(r.band)
    np.testing.assert_array_equal(np.isnan(got), np.isnan(arr))
    np.testing.assert_array_equal(got[~np.isnan(arr)], arr[~np.isnan(arr)])


def test_sparse_end_to_end_interpolation(tmp_path):
    """Interpolation over a sparse file == over the dense twin."""
    from opentopodata_spark import interpolate

    rng = np.random.default_rng(11)
    nodata = -9999.0
    arr = _coastal(50, 60, np.float32, nodata)
    dense = str(tmp_path / "d.tif")
    sparse = str(tmp_path / "s.tif")
    common = dict(x0=-0.5, y0=49.5, sx=1.0, sy=1.0, epsg=4326, nodata=nodata,
                  tile_size=(16, 16), compression="deflate")
    geotiff.write_geotiff(dense, arr, **common)
    geotiff.write_geotiff(sparse, arr, sparse_ok=True, **common)
    lats = rng.uniform(-0.4, 48.9, 400)
    lons = rng.uniform(0.1, 58.9, 400)
    rd = geotiff.open_raster(dense)
    rs = geotiff.open_raster(sparse)
    for method in ("nearest", "bilinear", "cubic"):
        zd, bd = interpolate.sample_points_on_raster_arrays(rd, lats, lons, method)
        zs, bs = interpolate.sample_points_on_raster_arrays(rs, lats, lons, method)
        np.testing.assert_array_equal(bd, bs)
        np.testing.assert_array_equal(zd[bd], zs[bs])


def test_lzma_bigtiff_roundtrip(tmp_path):
    arr = _checkerboard(40, 40, np.float32)
    p = str(tmp_path / "big.tif")
    geotiff.write_geotiff(p, arr, x0=0, y0=40, sx=1, sy=1, epsg=4326,
                          compression="lzma", tile_size=(16, 16), bigtiff=True)
    np.testing.assert_array_equal(np.asarray(geotiff.open_raster(p).band), arr)


def test_hgt_gz(tmp_path):
    import gzip

    side = 121
    arr = (np.arange(side * side) % 1000).astype(">i2").reshape(side, side)
    p = str(tmp_path / "N00E010.hgt.gz")
    with gzip.open(p, "wb") as f:
        f.write(arr.tobytes())
    r = geotiff.open_raster(p)
    assert r.width == side and r.crs.epsg == 4326 and r.nodata == -32768
    res = 1.0 / (side - 1)
    assert abs(r.x0 - (10 - res / 2)) < 1e-12
    np.testing.assert_array_equal(np.asarray(r.band), arr.astype("i2"))


def test_gzipped_geotiff(tmp_path):
    import gzip

    arr = _checkerboard(30, 30, np.float32)
    tif = str(tmp_path / "inner.tif")
    geotiff.write_geotiff(
        tif, arr, x0=0, y0=30, sx=1, sy=1, epsg=4326,
        compression="deflate", tile_size=(16, 16),
    )
    p = str(tmp_path / "tile.tif.gz")
    with gzip.open(p, "wb") as f:
        with open(tif, "rb") as src:
            f.write(src.read())
    r = geotiff.open_raster(p)
    np.testing.assert_array_equal(np.asarray(r.band), arr)
    # windowed read path: decodes only the blocks the window touches
    win, (r0, c0) = r.read_window(5, 9, 3, 11)
    np.testing.assert_array_equal(win, arr[5:9, 3:11])


def test_open_garbage_gz(tmp_path):
    p = str(tmp_path / "bad.hgt.gz")
    with open(p, "wb") as f:
        f.write(b"not gzip at all")
    with pytest.raises(geotiff.RasterOpenError):
        geotiff.open_raster(p)


def test_multi_ifd_cog_reads_full_res(tmp_path):
    """COG-style files carry overview IFDs after the full-resolution one;
    the reader must serve IFD #1 (full res) and ignore the chain — the
    behavior rasterio's read(1) gives the reference."""
    import struct

    arr = _checkerboard(32, 32, np.int16)
    p = str(tmp_path / "cog.tif")
    geotiff.write_geotiff(
        p, arr, x0=0, y0=32, sx=1, sy=1, epsg=4326,
        compression="deflate", predictor=2, tile_size=(16, 16),
    )
    with open(p, "rb") as f:
        buf = bytearray(f.read())
    (ifd_offset,) = struct.unpack_from("<I", buf, 4)
    (n_entries,) = struct.unpack_from("<H", buf, ifd_offset)
    next_ptr_at = ifd_offset + 2 + n_entries * 12
    assert struct.unpack_from("<I", buf, next_ptr_at)[0] == 0
    # append a minimal 16x16 overview IFD (SubfileType=1) and link it
    ovr_at = len(buf)
    entries = [
        (254, 4, 1, 1),    # NewSubfileType: reduced-resolution
        (256, 4, 1, 16),   # width
        (257, 4, 1, 16),   # height
    ]
    ifd2 = struct.pack("<H", len(entries))
    for tag, ftype, count, val in entries:
        ifd2 += struct.pack("<HHII", tag, ftype, count, val)
    ifd2 += struct.pack("<I", 0)
    buf += ifd2
    struct.pack_into("<I", buf, next_ptr_at, ovr_at)
    with open(p, "wb") as f:
        f.write(buf)
    r = geotiff.open_raster(p)
    assert (r.width, r.height) == (32, 32)  # full-res IFD, chain ignored
    np.testing.assert_array_equal(np.asarray(r.band), arr)


def test_gz_corrupt_body_clean_error(tmp_path):
    """Valid gzip header + corrupt deflate body: zlib.error must surface
    as RasterOpenError, not escape raw."""
    import gzip

    p = str(tmp_path / "trunc.hgt.gz")
    with gzip.open(p, "wb") as f:
        f.write(b"x" * 4096)
    raw = open(p, "rb").read()
    with open(p, "wb") as f:
        f.write(raw[: len(raw) // 2])  # truncate mid-stream
    with pytest.raises(geotiff.RasterOpenError):
        geotiff.open_raster(p)


# ---------------------------------------------------------------------------
# Spill tier: decoded blocks shared by the Python workers of one executor
# ---------------------------------------------------------------------------

SPILL_WINDOW = (100, 700, 200, 900)  # 3 x 4 of the 256 x 256 tiles


@pytest.fixture(scope="module")
def deflate_p2_tile(tmp_path_factory):
    from opentopodata_spark import fixtures

    d = str(tmp_path_factory.mktemp("deflate_p2"))
    return fixtures.make_srtm_subset(
        d, compression="deflate", predictor=2, tile_size=(256, 256)
    )[0]


@pytest.fixture
def worker_spill(tmp_path, monkeypatch):
    """Read as a Spark Python worker would, with SparkFiles rooted in
    tmp_path; yields the spill tier's directory."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", str(tmp_path))
    monkeypatch.setattr(geotiff, "_spill_floor", None)
    geotiff.clear_block_cache()
    yield tmp_path / "decoded-blocks"
    geotiff.clear_block_cache()


def _spilled(root):
    return sorted(p for p in root.rglob("*") if p.is_file())


def _read(path):
    win, _ = geotiff.open_raster(path).read_window(*SPILL_WINDOW)
    return win


def test_spill_tier_serves_a_cleared_worker(deflate_p2_tile, worker_spill):
    first = _read(deflate_p2_tile)
    s = geotiff.block_cache_stats()
    assert s["decodes"] == 12 and s["spill_writes"] == 12
    assert s["decoded_bytes"] == 12 * 256 * 256 * 2
    assert len(_spilled(worker_spill)) == 12
    geotiff.clear_block_cache()  # another worker: zeroed counters
    second = _read(deflate_p2_tile)
    s = geotiff.block_cache_stats()
    assert s["decodes"] == 0 and s["spill_hits"] == 12
    assert s["spill_writes"] == 0 and s["decode_s"] == 0
    assert second.dtype == first.dtype and second.tobytes() == first.tobytes()


def test_worker_rereads_a_window_from_the_spill_tier(deflate_p2_tile,
                                                     worker_spill):
    """A worker keeps no decoded block: each read of a published window
    copies every block from the spill tier again, and decodes none."""
    first = _read(deflate_p2_tile)
    geotiff.clear_block_cache()
    assert _read(deflate_p2_tile).tobytes() == first.tobytes()
    assert geotiff.block_cache_stats()["spill_hits"] == 12
    assert _read(deflate_p2_tile).tobytes() == first.tobytes()
    s = geotiff.block_cache_stats()
    assert s["spill_hits"] == 24 and s["decodes"] == 0


def test_truncated_spill_file_is_decoded_again(deflate_p2_tile, worker_spill):
    first = _read(deflate_p2_tile)
    victim = _spilled(worker_spill)[0]
    whole = victim.read_bytes()
    victim.write_bytes(whole[: len(whole) // 2])
    geotiff.clear_block_cache()
    second = _read(deflate_p2_tile)
    s = geotiff.block_cache_stats()
    assert s["decodes"] == 1 and s["spill_hits"] == 11
    assert second.tobytes() == first.tobytes()
    assert victim.read_bytes() == whole  # republished whole


def test_strip_spill_reads_a_short_last_strip(tmp_path, worker_spill):
    """Strips spill too, the last one shorter than the rest; a spill file
    one byte too long is as wrong as a truncated one."""
    arr = _checkerboard(100, 48, np.int16)  # strips of 16 rows, the last 4
    p = str(tmp_path / "strips.tif")
    geotiff.write_geotiff(p, arr, x0=0, y0=100, sx=1, sy=1, epsg=4326,
                          compression="deflate", rows_per_strip=16)
    np.testing.assert_array_equal(geotiff.open_raster(p).band, arr)
    files = _spilled(worker_spill)
    assert [f.name for f in files] == [str(i) for i in range(7)]
    assert files[-1].stat().st_size == 4 * 48 * 2
    geotiff.clear_block_cache()
    win, _ = geotiff.open_raster(p).read_window(10, 100, 5, 40)
    np.testing.assert_array_equal(win, arr[10:, 5:40])
    s = geotiff.block_cache_stats()
    assert s["spill_hits"] == 7 and s["decodes"] == 0
    files[-1].write_bytes(files[-1].read_bytes() + b"\0")
    geotiff.clear_block_cache()
    win, _ = geotiff.open_raster(p).read_window(10, 100, 5, 40)
    np.testing.assert_array_equal(win, arr[10:, 5:40])
    s = geotiff.block_cache_stats()
    assert s["spill_hits"] == 6 and s["decodes"] == 1
    assert files[-1].stat().st_size == 4 * 48 * 2  # republished whole


def test_no_spill_outside_a_worker(deflate_p2_tile, tmp_path, monkeypatch):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    monkeypatch.setattr(SparkFiles, "_root_directory", str(tmp_path))
    geotiff.clear_block_cache()
    _read(deflate_p2_tile)
    s = geotiff.block_cache_stats()
    assert s["decodes"] == 12
    assert s["spill_writes"] == s["spill_skips"] == s["spill_hits"] == 0
    assert list(tmp_path.iterdir()) == []


def test_disk_bound_stops_spill_writes(deflate_p2_tile, worker_spill,
                                       monkeypatch):
    """Free space at the first spill sets the floor at half of it; once the
    disk falls below, nothing more is written and reads stay exact."""
    free = iter([1000, 600] + [499] * 100)
    monkeypatch.setattr(geotiff, "_free_bytes", lambda path: next(free))
    first = _read(deflate_p2_tile)
    s = geotiff.block_cache_stats()
    assert s["spill_writes"] == 2 and s["spill_skips"] == 10
    assert len(_spilled(worker_spill)) == 2
    geotiff.clear_block_cache()
    second = _read(deflate_p2_tile)
    s = geotiff.block_cache_stats()
    assert s["spill_hits"] == 2 and s["decodes"] == 10
    assert s["spill_writes"] == 0 and len(_spilled(worker_spill)) == 2
    assert second.tobytes() == first.tobytes()


def test_tripped_disk_bound_decodes_every_read_again(deflate_p2_tile,
                                                     worker_spill,
                                                     monkeypatch):
    """With no spill behind them, the same worker's second read decodes
    the blocks again and returns the same bytes."""
    monkeypatch.setattr(geotiff, "_free_bytes", lambda path: 0)
    monkeypatch.setattr(geotiff, "_spill_floor", 1)
    first = _read(deflate_p2_tile)
    second = _read(deflate_p2_tile)
    s = geotiff.block_cache_stats()
    assert s["decodes"] == 24 and s["spill_skips"] == 24
    assert s["spill_hits"] == s["spill_writes"] == 0
    assert second.tobytes() == first.tobytes()
    assert _spilled(worker_spill) == []


def test_failed_spill_write_is_skipped(deflate_p2_tile, worker_spill):
    worker_spill.write_bytes(b"")  # a file where the tier's directory goes
    first = _read(deflate_p2_tile)
    s = geotiff.block_cache_stats()
    assert s["decodes"] == 12 and s["spill_skips"] == 12
    assert s["spill_writes"] == 0
    second = _read(deflate_p2_tile)
    s = geotiff.block_cache_stats()
    assert s["decodes"] == 24 and s["spill_skips"] == 24
    assert s["spill_hits"] == 0
    assert second.tobytes() == first.tobytes()


def _spill_worker(path, root):
    """One Spark-worker-like process: three reads of the same window."""
    import hashlib

    from pyspark.core.files import SparkFiles

    SparkFiles._is_running_on_worker = True
    SparkFiles._root_directory = root
    digests = []
    for _ in range(3):
        digests.append(hashlib.sha1(_read(path).tobytes()).hexdigest())
    return digests


def test_concurrent_workers_share_one_spill_tier(deflate_p2_tile, tmp_path):
    """Six processes (more than the 4 cores this suite is sized for) race
    to decode, publish and read the same blocks: every read is exact and
    only whole block files are left."""
    import hashlib
    import multiprocessing

    geotiff.clear_block_cache()
    want = hashlib.sha1(_read(deflate_p2_tile).tobytes()).hexdigest()
    n = 6
    with multiprocessing.get_context("spawn").Pool(n) as pool:
        got = pool.starmap_async(
            _spill_worker, [(deflate_p2_tile, str(tmp_path))] * n
        ).get(timeout=120)
    assert [d for ds in got for d in ds] == [want] * (3 * n)
    files = _spilled(tmp_path / "decoded-blocks")
    assert len(files) == 12
    assert all(f.stat().st_size == 256 * 256 * 2 for f in files)
