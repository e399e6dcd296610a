"""Esri ASCII grid, gridded XYZ and BIL/EHdr readers (gridformats.py).

Two layers:
1. unit round-trips + header-variant / error cases per format;
2. format differential — the SAME analytic terrain written as GeoTIFF,
   .asc, .xyz and .bil must produce bit-identical elevations through
   the full distributed pipeline (dataset discovery included).

netCDF is not read: a ``.nc`` is refused by extension whatever its
magic bytes (classic ``CDF`` or netCDF4/HDF5).
"""

import gzip
import os

import numpy as np
import pytest

from opentopodata_spark import config, fixtures, gridformats as gf
from opentopodata_spark.geotiff import RasterOpenError, open_raster, write_geotiff

WGS84_WKT = (
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
    '298.257223563,AUTHORITY["EPSG","7030"]],AUTHORITY["EPSG","6326"]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433],'
    'AUTHORITY["EPSG","4326"]]'
)


@pytest.fixture()
def terrain():
    res = 1.0 / 60.0
    lons = 10.0 + (np.arange(61) + 0.5) * res
    lats = 1.0 - (np.arange(61) + 0.5) * res
    grid = fixtures.terrain_wgs84(lats[:, None], lons[None, :])
    return np.round(grid).astype(np.int16), res


# ---------------------------------------------------------------------------
# ASCII grid
# ---------------------------------------------------------------------------

class TestAsciiGrid:
    def test_round_trip_float(self, tmp_path):
        arr = (np.arange(12, dtype=np.float32).reshape(3, 4) + 0.5)
        p = str(tmp_path / "t.asc")
        gf.write_ascii_grid(p, arr, x0=10.0, y0=1.0, sx=0.25, nodata=-9999,
                            wkt=WGS84_WKT)
        r = open_raster(p)
        assert r.dtype == np.float32 and r.nodata == -9999.0
        assert (r.x0, r.y0, r.sx, r.sy) == (10.0, 1.0, 0.25, 0.25)
        assert r.crs.epsg == 4326 and "WGS 84" in r.crs.wkt
        assert np.allclose(r.read_window(0, 3, 0, 4)[0], arr)

    def test_integer_dtype_detection(self, tmp_path):
        p = str(tmp_path / "i.asc")
        gf.write_ascii_grid(p, np.arange(6, dtype=np.int32).reshape(2, 3),
                            x0=0.0, y0=2.0, sx=1.0)
        assert open_raster(p).dtype == np.int32

    def test_xllcenter_and_dxdy(self, tmp_path):
        p = str(tmp_path / "c.asc")
        with open(p, "w") as f:
            f.write("ncols 2\nnrows 2\nxllcenter 0.5\nyllcenter 0.25\n"
                    "dx 1.0\ndy 0.5\n1 2\n3 4\n")
        r = open_raster(p)
        assert (r.x0, r.sx, r.sy) == (0.0, 1.0, 0.5)
        assert r.bounds.bottom == 0.0 and r.y0 == 1.0
        assert r.crs.epsg == 4326  # documented no-.prj default

    def test_gz_container(self, tmp_path, terrain):
        arr, res = terrain
        plain = str(tmp_path / "N00E010.asc")
        gf.write_ascii_grid(plain, arr, x0=10.0, y0=1.0, sx=res)
        gz = str(tmp_path / "N00E010.asc.gz")
        with open(plain, "rb") as f, gzip.open(gz, "wb") as g:
            g.write(f.read())
        a, b = open_raster(plain), open_raster(gz)
        assert np.array_equal(a.read_window(0, 61, 0, 61)[0],
                              b.read_window(0, 61, 0, 61)[0])

    def test_errors(self, tmp_path):
        bad = str(tmp_path / "bad.asc")
        with open(bad, "w") as f:
            f.write("ncols 3\nnrows 2\nxllcorner 0\nyllcorner 0\ncellsize 1\n"
                    "1 2 3 4\n")  # 4 samples, expected 6
        with pytest.raises(RasterOpenError, match="4 samples"):
            open_raster(bad)
        nohdr = str(tmp_path / "nohdr.asc")
        with open(nohdr, "w") as f:
            f.write("1 2 3\n4 5 6\n")
        with pytest.raises(RasterOpenError, match="ncols"):
            open_raster(nohdr)


# ---------------------------------------------------------------------------
# gridded XYZ
# ---------------------------------------------------------------------------

class TestXyz:
    def test_round_trip_float(self, tmp_path):
        arr = (np.arange(12, dtype=np.float32).reshape(3, 4) + 0.5)
        p = str(tmp_path / "t.xyz")
        gf.write_xyz(p, arr, x0=10.0, y0=1.0, sx=0.25, wkt=WGS84_WKT)
        r = open_raster(p)
        assert r.dtype == np.float32 and r.nodata is None
        assert (r.x0, r.y0, r.sx, r.sy) == (10.0, 1.0, 0.25, 0.25)
        assert r.crs.epsg == 4326
        assert np.allclose(r.read_window(0, 3, 0, 4)[0], arr)

    def test_integer_dtype_and_header_and_seps(self, tmp_path):
        # comma-separated, named-header, SOUTH-first scan order, and the
        # z column deliberately not in position 2
        p = str(tmp_path / "h.xyz")
        with open(p, "w") as f:
            f.write("lon;alt;lat\n")
            f.write("0.5,11,0.25\n1.5,12,0.25\n")   # south row first
            f.write("0.5;1;0.75\n1.5;2;0.75\n")
        r = open_raster(p)
        assert r.dtype == np.int32
        assert (r.x0, r.y0, r.sx, r.sy) == (0.0, 1.0, 1.0, 0.5)
        assert np.array_equal(
            r.read_window(0, 2, 0, 2)[0], np.array([[1, 2], [11, 12]])
        )

    def test_sparse_grid_fills_nan(self, tmp_path):
        p = str(tmp_path / "s.xyz")
        with open(p, "w") as f:
            f.write("0.5 1.5 1\n1.5 1.5 2\n0.5 0.5 3\n")  # (1,1) missing
        r = open_raster(p)
        assert r.dtype == np.float32  # sparse forces float
        w = r.read_window(0, 2, 0, 2)[0]
        assert w[0, 0] == 1 and w[0, 1] == 2 and w[1, 0] == 3
        assert np.isnan(w[1, 1])

    def test_gz_container(self, tmp_path, terrain):
        arr, res = terrain
        plain = str(tmp_path / "N00E010.xyz")
        gf.write_xyz(plain, arr, x0=10.0, y0=1.0, sx=res)
        gz = str(tmp_path / "N00E010.xyz.gz")
        with open(plain, "rb") as f, gzip.open(gz, "wb") as g:
            g.write(f.read())
        a, b = open_raster(plain), open_raster(gz)
        assert np.array_equal(a.read_window(0, 61, 0, 61)[0],
                              b.read_window(0, 61, 0, 61)[0])

    def test_errors(self, tmp_path):
        irregular = str(tmp_path / "irr.xyz")
        with open(irregular, "w") as f:
            f.write("0 0 1\n1 0 2\n2.5 0 3\n0 1 4\n1 1 5\n2.5 1 6\n")
        with pytest.raises(RasterOpenError, match="non-uniform x"):
            open_raster(irregular)
        dup = str(tmp_path / "dup.xyz")
        with open(dup, "w") as f:
            f.write("0 0 1\n0 0 2\n1 0 3\n1 1 4\n")
        with pytest.raises(RasterOpenError, match="duplicate|do not form"):
            open_raster(dup)
        ragged = str(tmp_path / "rag.xyz")
        with open(ragged, "w") as f:
            f.write("0 0 1\n1 0\n")
        with pytest.raises(RasterOpenError, match="rows of 3"):
            open_raster(ragged)


# ---------------------------------------------------------------------------
# BIL / EHdr
# ---------------------------------------------------------------------------

class TestBil:
    def test_round_trip_le_and_be(self, tmp_path, terrain):
        arr, res = terrain
        for order, sub in (("<", "le"), (">", "be")):
            p = str(tmp_path / f"{sub}_N00E010.bil")
            gf.write_bil(p, arr, x0=10.0, y0=1.0, sx=res, nodata=-32768,
                         byteorder=order, wkt=WGS84_WKT)
            r = open_raster(p)
            assert r.nodata == -32768.0 and r.crs.epsg == 4326
            assert (r.x0, r.y0) == (10.0, 1.0)
            assert np.array_equal(r.read_window(5, 20, 7, 30)[0],
                                  arr[5:20, 7:30])

    def test_ulmap_is_pixel_center(self, tmp_path):
        p = str(tmp_path / "c.bil")
        np.zeros((2, 2), dtype=np.int16).tofile(p)
        with open(str(tmp_path / "c.hdr"), "w") as f:
            f.write("NROWS 2\nNCOLS 2\nNBITS 16\nPIXELTYPE SIGNEDINT\n"
                    "ULXMAP 100.5\nULYMAP 49.5\nXDIM 1\nYDIM 1\n")
        r = open_raster(p)
        assert (r.x0, r.y0) == (100.0, 50.0)

    def test_multiband_bil_reads_band1(self, tmp_path):
        b1 = np.arange(6, dtype=np.int16).reshape(2, 3)
        b2 = b1 + 100
        inter = np.stack([b1, b2], axis=1)  # (rows, bands, cols) == BIL
        p = str(tmp_path / "m.bil")
        inter.astype("<i2").tofile(p)
        with open(str(tmp_path / "m.hdr"), "w") as f:
            f.write("NROWS 2\nNCOLS 3\nNBANDS 2\nNBITS 16\n"
                    "PIXELTYPE SIGNEDINT\nULXMAP 0.5\nULYMAP 1.5\n"
                    "XDIM 1\nYDIM 1\n")
        assert np.array_equal(open_raster(p).read_window(0, 2, 0, 3)[0], b1)

    def test_float32_pixeltype(self, tmp_path):
        arr = np.linspace(0, 1, 6, dtype=np.float32).reshape(2, 3)
        p = str(tmp_path / "f.bil")
        gf.write_bil(p, arr, x0=0.0, y0=2.0, sx=1.0)
        r = open_raster(p)
        assert r.dtype == np.float32
        assert np.array_equal(r.read_window(0, 2, 0, 3)[0], arr)

    def test_missing_hdr_raises(self, tmp_path):
        p = str(tmp_path / "orphan.bil")
        np.zeros((2, 2), dtype=np.int16).tofile(p)
        with pytest.raises(RasterOpenError, match="hdr"):
            open_raster(p)


# ---------------------------------------------------------------------------
# netCDF: refused by extension
# ---------------------------------------------------------------------------

class TestNetcdf:
    def test_hdf5_magic_routes_to_hdf5_reader(self, tmp_path):
        """A .nc routes to no reader: with netCDF4/HDF5 magic, classic
        'CDF' magic or neither, it is refused by its extension, with
        the format named and "convert to GeoTIFF"."""
        for name, magic in (("h.nc", b"\x89HDF\r\n\x1a\n"),
                            ("c.nc", b"CDF\x01"), ("x.nc", b"II*\x00")):
            p = str(tmp_path / name)
            with open(p, "wb") as f:
                f.write(magic + b"\x00" * 64)
            with pytest.raises(RasterOpenError) as e:
                open_raster(p)
            msg = str(e.value).replace(p, "")
            assert "netCDF is not supported" in msg
            assert "convert to GeoTIFF" in msg


# ---------------------------------------------------------------------------
# format differential: identical elevations through the full pipeline
# ---------------------------------------------------------------------------

def test_formats_bit_identical_through_pipeline(tmp_path, spark, terrain):
    """SRTM-style 2-tile dataset written as GeoTIFF / .asc / .xyz / .bil:
    dataset discovery (incl. .hdr/.prj aux exclusion) + the distributed
    resolver must agree bit-for-bit across formats."""
    from pyspark.sql import functions as F

    from opentopodata_spark.operators import elevation

    res = 1.0 / 60.0
    side = 61
    tiles = {}
    for lon0, stem in ((10.0, "N00E010"), (11.0, "N00E011")):
        lons = lon0 + (np.arange(side) + 0.5) * res
        lats = 1.0 - (np.arange(side) + 0.5) * res
        grid = np.round(
            fixtures.terrain_wgs84(lats[:, None], lons[None, :])
        ).astype(np.int16)
        tiles[stem] = (lon0, grid)

    dirs = {}
    for fmt in ("tif", "asc", "xyz", "bil"):
        d = str(tmp_path / fmt)
        os.makedirs(d)
        for stem, (lon0, grid) in tiles.items():
            p = os.path.join(d, f"{stem}.{fmt}")
            if fmt == "tif":
                write_geotiff(p, grid, x0=lon0, y0=1.0, sx=res, sy=res,
                              epsg=4326, nodata=-32768)
            elif fmt == "asc":
                gf.write_ascii_grid(p, grid, x0=lon0, y0=1.0, sx=res,
                                    nodata=-32768, wkt=WGS84_WKT)
            elif fmt == "xyz":
                gf.write_xyz(p, grid, x0=lon0, y0=1.0, sx=res,
                             wkt=WGS84_WKT)
            else:
                gf.write_bil(p, grid, x0=lon0, y0=1.0, sx=res,
                             nodata=-32768, wkt=WGS84_WKT)
        dirs[fmt] = d

    rng = np.random.default_rng(42)
    pts = [(float(lat), float(lon)) for lat, lon in
           zip(rng.uniform(0.02, 0.98, 150), rng.uniform(10.02, 11.98, 150))]
    points = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)],
        "point_id long, lat double, lon double",
    ).withColumn("point_pos", F.lit(0)).withColumn("doc_id", F.lit("d"))

    results = {}
    for fmt, d in dirs.items():
        ds = config.dataset_from_config(f"grid_{fmt}", path=d,
                                        filename_tile_size=1)
        out = elevation.ElevationResolver(spark, [ds], "bilinear").resolve(
            points
        )
        results[fmt] = {r.point_id: r.elevation for r in out.collect()}

    base = results["tif"]
    assert len(base) == 150
    for fmt in ("asc", "xyz", "bil"):
        assert results[fmt] == base, f"{fmt} diverges from GeoTIFF"


def test_gtopo30_dem_with_uppercase_hdr(tmp_path):
    """GTOPO30/SRTM30 distribution layout: W020N90.DEM + W020N90.HDR,
    big-endian (BYTEORDER M) signed 16-bit, NODATA -9999, ULX/ULYMAP
    pixel centers."""
    import numpy as np

    rng = np.random.default_rng(30)
    grid = rng.integers(-500, 8000, size=(40, 50)).astype(">i2")
    grid[3, 4] = -9999
    p = str(tmp_path / "W020N90.DEM")
    with open(p, "wb") as f:
        f.write(grid.tobytes())
    res = 1.0 / 120.0  # 30 arcsec
    with open(str(tmp_path / "W020N90.HDR"), "w") as f:
        f.write("BYTEORDER      M\n"
                "LAYOUT         BIL\n"
                "NROWS          40\n"
                "NCOLS          50\n"
                "NBANDS         1\n"
                "NBITS          16\n"
                "BANDROWBYTES   100\n"
                "TOTALROWBYTES  100\n"
                "BANDGAPBYTES   0\n"
                "NODATA         -9999\n"
                f"ULXMAP         {-20.0 + res / 2}\n"
                f"ULYMAP         {90.0 - res / 2}\n"
                f"XDIM           {res}\n"
                f"YDIM           {res}\n")
    r = open_raster(p)
    assert (r.width, r.height) == (50, 40)
    assert r.nodata == -9999.0
    assert r.x0 == pytest.approx(-20.0)
    assert r.y0 == pytest.approx(90.0)
    assert np.array_equal(np.asarray(r.band), grid)
    blk = r.read_block(2, 5, 3, 6)
    assert np.isnan(blk[1, 1])
    # .dem without a sidecar refuses loudly, naming the ASCII profile
    q = str(tmp_path / "usgs.dem")
    with open(q, "w") as f:
        f.write("legacy ascii record A ...")
    with pytest.raises(RasterOpenError, match="USGS ASCII"):
        open_raster(q)
