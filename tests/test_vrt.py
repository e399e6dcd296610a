"""GDAL VRT mosaic reader (gridformats.open_vrt).

The reference reads VRT mosaics through GDAL
(/root/reference/opentopodata/backend.py:89; the docs recommend VRTs for
mosaicked datasets). Pins: mosaic assembly in painter order, seam
windows, ComplexSource NODATA masking, mixed child formats (GeoTIFF +
BIL), loud rejection of scaled/rotated/SRS-less VRTs, and an
elevation differential — a VRT over two tiles must resolve identically
to the tiled dataset itself.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from opentopodata_spark import geotiff, gridformats
from opentopodata_spark.geotiff import RasterOpenError, open_raster


def _vrt(width, height, gt, band_body, srs="EPSG:4326",
         dtype="Float32", nodata=-9999):
    nd = f"<NoDataValue>{nodata}</NoDataValue>" if nodata is not None else ""
    srs_el = f"<SRS>{srs}</SRS>" if srs else ""
    return (
        f'<VRTDataset rasterXSize="{width}" rasterYSize="{height}">'
        f"{srs_el}<GeoTransform>{', '.join(str(v) for v in gt)}"
        f'</GeoTransform><VRTRasterBand dataType="{dtype}" band="1">{nd}'
        f"{band_body}</VRTRasterBand></VRTDataset>"
    )


def _source(fn, sx0, sy0, dx0, dy0, w, h, tag="SimpleSource", nodata=None):
    nd = f"<NODATA>{nodata}</NODATA>" if nodata is not None else ""
    return (
        f'<{tag}><SourceFilename relativeToVRT="1">{fn}</SourceFilename>'
        f"<SourceBand>1</SourceBand>{nd}"
        f'<SrcRect xOff="{sx0}" yOff="{sy0}" xSize="{w}" ySize="{h}"/>'
        f'<DstRect xOff="{dx0}" yOff="{dy0}" xSize="{w}" ySize="{h}"/>'
        f"</{tag}>"
    )


@pytest.fixture()
def two_tiles(tmp_path):
    rng = np.random.RandomState(5)
    a = (rng.rand(60, 80) * 500).astype(np.float32)
    b = (rng.rand(60, 80) * 500).astype(np.float32)
    geotiff.write_geotiff(str(tmp_path / "a.tif"), a, x0=10.0, y0=1.0,
                          sx=0.01, sy=0.01, epsg=4326, nodata=-9999)
    geotiff.write_geotiff(str(tmp_path / "b.tif"), b, x0=10.8, y0=1.0,
                          sx=0.01, sy=0.01, epsg=4326, nodata=-9999)
    return a, b


class TestVrt:
    def test_mosaic_and_seam_windows(self, tmp_path, two_tiles):
        a, b = two_tiles
        body = (_source("a.tif", 0, 0, 0, 0, 80, 60)
                + _source("b.tif", 0, 0, 80, 0, 80, 60))
        p = str(tmp_path / "m.vrt")
        with open(p, "w") as f:
            f.write(_vrt(160, 60, (10.0, 0.01, 0, 1.0, 0, -0.01), body))
        r = open_raster(p)
        assert (r.width, r.height, r.nodata) == (160, 60, -9999.0)
        assert r.crs.epsg == 4326
        full = np.concatenate([a, b], axis=1)
        assert np.array_equal(r.read_window(0, 60, 0, 160)[0], full)
        assert np.array_equal(r.read_window(10, 30, 70, 95)[0],
                              full[10:30, 70:95])
        # uncovered area reads back as the VRT nodata
        body2 = _source("a.tif", 0, 0, 0, 0, 80, 60)
        q = str(tmp_path / "gap.vrt")
        with open(q, "w") as f:
            f.write(_vrt(160, 60, (10.0, 0.01, 0, 1.0, 0, -0.01), body2))
        g = open_raster(q)
        w, _ = g.read_window(0, 60, 0, 160)
        assert np.array_equal(w[:, :80], a)
        assert np.all(w[:, 80:] == -9999.0)

    def test_painter_order_and_complexsource_nodata(self, tmp_path):
        base = np.full((20, 20), 1.0, dtype=np.float32)
        over = np.full((20, 20), 2.0, dtype=np.float32)
        over[5:, :] = -9999.0  # masked region must NOT overwrite base
        geotiff.write_geotiff(str(tmp_path / "base.tif"), base, x0=0.0,
                              y0=1.0, sx=0.05, sy=0.05, epsg=4326)
        geotiff.write_geotiff(str(tmp_path / "over.tif"), over, x0=0.0,
                              y0=1.0, sx=0.05, sy=0.05, epsg=4326,
                              nodata=-9999)
        body = (_source("base.tif", 0, 0, 0, 0, 20, 20)
                + _source("over.tif", 0, 0, 0, 0, 20, 20,
                          tag="ComplexSource", nodata=-9999))
        p = str(tmp_path / "o.vrt")
        with open(p, "w") as f:
            f.write(_vrt(20, 20, (0.0, 0.05, 0, 1.0, 0, -0.05), body))
        w, _ = open_raster(p).read_window(0, 20, 0, 20)
        assert np.all(w[:5, :] == 2.0)   # overlay painted last wins
        assert np.all(w[5:, :] == 1.0)   # masked overlay leaves base

    def test_mixed_child_formats(self, tmp_path):
        a = (np.arange(40 * 50) % 321).astype(np.float32).reshape(40, 50)
        b = a[::-1] + 7.0
        geotiff.write_geotiff(str(tmp_path / "a.tif"), a, x0=10.0, y0=1.0,
                              sx=0.01, sy=0.01, epsg=4326, nodata=-9999)
        gridformats.write_bil(str(tmp_path / "b.bil"), b, x0=10.5, y0=1.0,
                              sx=0.01, nodata=-9999.0)
        body = (_source("a.tif", 0, 0, 0, 0, 50, 40)
                + _source("b.bil", 0, 0, 50, 0, 50, 40))
        p = str(tmp_path / "mix.vrt")
        with open(p, "w") as f:
            f.write(_vrt(100, 40, (10.0, 0.01, 0, 1.0, 0, -0.01), body))
        w, _ = open_raster(p).read_window(0, 40, 0, 100)
        assert np.array_equal(w, np.concatenate([a, b], axis=1))

    def test_wkt_srs_and_int16(self, tmp_path):
        a = (np.arange(100) % 99).astype(np.int16).reshape(10, 10)
        geotiff.write_geotiff(str(tmp_path / "a.tif"), a, x0=0.0, y0=1.0,
                              sx=0.1, sy=0.1, epsg=4326)
        wkt = ('GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",'
               '6378137,298.257223563]],PRIMEM["Greenwich",0],'
               'UNIT["degree",0.0174532925199433],'
               'AUTHORITY["EPSG","4326"]]')
        body = _source("a.tif", 0, 0, 0, 0, 10, 10)
        p = str(tmp_path / "w.vrt")
        with open(p, "w") as f:
            f.write(_vrt(10, 10, (0.0, 0.1, 0, 1.0, 0, -0.1), body,
                         srs=wkt, dtype="Int16", nodata=None))
        r = open_raster(p)
        assert r.crs.epsg == 4326  # AUTHORITY tail parsed
        assert r.dtype == np.dtype("<i2")
        assert np.array_equal(r.read_window(2, 8, 1, 9)[0], a[2:8, 1:9])

    def test_rejections(self, tmp_path):
        a = np.zeros((4, 4), dtype=np.float32)
        geotiff.write_geotiff(str(tmp_path / "a.tif"), a, x0=0.0, y0=1.0,
                              sx=0.1, sy=0.1, epsg=4326)
        # scaled source
        scaled = (
            '<SimpleSource><SourceFilename relativeToVRT="1">a.tif'
            "</SourceFilename><SourceBand>1</SourceBand>"
            '<SrcRect xOff="0" yOff="0" xSize="4" ySize="4"/>'
            '<DstRect xOff="0" yOff="0" xSize="8" ySize="8"/>'
            "</SimpleSource>"
        )
        p = str(tmp_path / "s.vrt")
        with open(p, "w") as f:
            f.write(_vrt(8, 8, (0.0, 0.05, 0, 1.0, 0, -0.05), scaled))
        with pytest.raises(RasterOpenError, match="scaled"):
            open_raster(p)
        # rotated geotransform
        body = _source("a.tif", 0, 0, 0, 0, 4, 4)
        q = str(tmp_path / "r.vrt")
        with open(q, "w") as f:
            f.write(_vrt(4, 4, (0.0, 0.1, 0.01, 1.0, 0, -0.1), body))
        with pytest.raises(RasterOpenError, match="north-up"):
            open_raster(q)
        # missing SRS
        u = str(tmp_path / "u.vrt")
        with open(u, "w") as f:
            f.write(_vrt(4, 4, (0.0, 0.1, 0, 1.0, 0, -0.1), body, srs=""))
        with pytest.raises(RasterOpenError, match="SRS"):
            open_raster(u)
        # garbage XML
        g = str(tmp_path / "g.vrt")
        with open(g, "w") as f:
            f.write("<not xml")
        with pytest.raises(RasterOpenError, match="unparseable"):
            open_raster(g)


def test_vrt_elevation_differential(tmp_path, spark):
    """A VRT mosaic over two SRTM tiles resolves bit-identically to the
    tiled dataset itself through the full distributed pipeline."""
    from pyspark.sql import functions as F

    from opentopodata_spark import config, fixtures
    from opentopodata_spark.operators import elevation

    res = 1.0 / 60.0
    side = 61
    tiled_dir = tmp_path / "tiles"
    os.makedirs(tiled_dir)
    grids = {}
    for lon0, stem in ((10.0, "N00E010"), (11.0, "N00E011")):
        lons = lon0 + (np.arange(side) + 0.5) * res
        lats = 1.0 - (np.arange(side) + 0.5) * res
        grid = np.round(
            fixtures.terrain_wgs84(lats[:, None], lons[None, :])
        ).astype(np.int16)
        grids[stem] = grid
        geotiff.write_geotiff(str(tiled_dir / f"{stem}.tif"), grid,
                              x0=lon0, y0=1.0, sx=res, sy=res, epsg=4326,
                              nodata=-32768)
    vrt_dir = tmp_path / "vrt"
    os.makedirs(vrt_dir)
    # SRTM-style tiles share their edge column (61 px per degree): the
    # E011 tile lands at column 60, painting over the shared column with
    # the identical values — gdalbuildvrt produces the same layout
    body = (_source("../tiles/N00E010.tif", 0, 0, 0, 0, side, side)
            + _source("../tiles/N00E011.tif", 0, 0, side - 1, 0, side, side))
    with open(vrt_dir / "mosaic.vrt", "w") as f:
        f.write(_vrt(2 * side - 1, side, (10.0, res, 0, 1.0, 0, -res), body,
                     dtype="Int16", nodata=-32768))

    rng = np.random.default_rng(7)
    pts = spark.createDataFrame(
        [(i, float(la), float(lo)) for i, (la, lo) in enumerate(
            zip(rng.uniform(0.02, 0.98, 120), rng.uniform(10.02, 11.98, 120))
        )],
        "point_id long, lat double, lon double",
    ).withColumn("point_pos", F.lit(0)).withColumn("doc_id", F.lit("d"))

    ds_tiles = config.dataset_from_config(
        "tiles", path=str(tiled_dir), filename_tile_size=1)
    ds_vrt = config.dataset_from_config("vrtm", path=str(vrt_dir))
    assert ds_vrt.kind == "single"
    out_t = {r.point_id: r.elevation for r in elevation.ElevationResolver(
        spark, [ds_tiles], "bilinear").resolve(pts).collect()}
    out_v = {r.point_id: r.elevation for r in elevation.ElevationResolver(
        spark, [ds_vrt], "bilinear").resolve(pts).collect()}
    assert out_v == out_t


class TestBuildVrt:
    """gridformats.build_vrt — the gdalbuildvrt twin (the reference's
    most-used dataset-prep tool: 6 call sites in
    /root/reference/docs/datasets/*.md)."""

    def test_roundtrip_matches_sources(self, tmp_path, two_tiles):
        from opentopodata_spark.gridformats import build_vrt

        a, b = two_tiles
        out = build_vrt(
            str(tmp_path / "m.vrt"),
            [str(tmp_path / "a.tif"), str(tmp_path / "b.tif")],
        )
        r = open_raster(out)
        assert (r.width, r.height) == (160, 60)
        assert (r.x0, r.y0) == (10.0, 1.0)
        band = r.read_window(0, 60, 0, 160)[0]
        np.testing.assert_array_equal(band[:, :80], a)
        np.testing.assert_array_equal(band[:, 80:], b)
        # children are referenced relatively: the mosaic survives a move
        moved = tmp_path / "moved"
        os.makedirs(moved)
        for f in ("m.vrt", "a.tif", "b.tif"):
            os.rename(tmp_path / f, moved / f)
        r2 = open_raster(str(moved / "m.vrt"))
        np.testing.assert_array_equal(
            r2.read_window(0, 60, 0, 160)[0], band
        )

    def test_overlap_keeps_grid_and_nodata(self, tmp_path):
        from opentopodata_spark.gridformats import build_vrt

        a = np.full((40, 40), 7.0, dtype=np.float32)
        a[:5, :5] = -9999.0
        b = np.full((40, 40), 9.0, dtype=np.float32)
        geotiff.write_geotiff(str(tmp_path / "a.tif"), a, x0=0.0, y0=1.0,
                              sx=0.01, sy=0.01, epsg=4326, nodata=-9999)
        geotiff.write_geotiff(str(tmp_path / "b.tif"), b, x0=0.2, y0=1.0,
                              sx=0.01, sy=0.01, epsg=4326, nodata=-9999)
        out = build_vrt(str(tmp_path / "m.vrt"),
                        [str(tmp_path / "a.tif"), str(tmp_path / "b.tif")])
        r = open_raster(out)
        assert (r.width, r.height) == (60, 40)
        band = r.read_window(0, 40, 0, 60)[0]
        assert (band[:, :20] == np.where(a[:, :20] == -9999.0, -9999.0,
                                         7.0)).all()
        # painter order: b paints over a's overlap columns
        assert (band[:, 20:40] == 9.0).all()
        assert band[0, 0] == -9999.0  # NoDataValue carried

    def test_refusals(self, tmp_path):
        from opentopodata_spark.gridformats import build_vrt

        a = np.zeros((10, 10), dtype=np.float32)
        geotiff.write_geotiff(str(tmp_path / "a.tif"), a, x0=0, y0=1,
                              sx=0.01, sy=0.01, epsg=4326)
        geotiff.write_geotiff(str(tmp_path / "res.tif"), a, x0=0, y0=2,
                              sx=0.02, sy=0.02, epsg=4326)
        geotiff.write_geotiff(str(tmp_path / "crs.tif"), a, x0=0, y0=1,
                              sx=0.01, sy=0.01, epsg=32632)
        geotiff.write_geotiff(str(tmp_path / "mis.tif"), a, x0=0.005,
                              y0=1, sx=0.01, sy=0.01, epsg=4326)
        geotiff.write_geotiff(str(tmp_path / "i16.tif"),
                              a.astype(np.int16), x0=0.1, y0=1,
                              sx=0.01, sy=0.01, epsg=4326)
        base = str(tmp_path / "a.tif")
        with pytest.raises(ValueError, match="resolution"):
            build_vrt(str(tmp_path / "m.vrt"),
                      [base, str(tmp_path / "res.tif")])
        with pytest.raises(ValueError, match="CRS"):
            build_vrt(str(tmp_path / "m.vrt"),
                      [base, str(tmp_path / "crs.tif")])
        with pytest.raises(ValueError, match="aligned"):
            build_vrt(str(tmp_path / "m.vrt"),
                      [base, str(tmp_path / "mis.tif")])
        with pytest.raises(ValueError, match="dtype"):
            build_vrt(str(tmp_path / "m.vrt"),
                      [base, str(tmp_path / "i16.tif")])
        with pytest.raises(ValueError, match="at least one"):
            build_vrt(str(tmp_path / "m.vrt"), [])
