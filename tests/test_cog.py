"""Cloud-optimized GeoTIFF overviews: the IFD chain.

write_geotiff(overviews=...) emits gdaladdo-style reduced-resolution
IFDs chained after the base band; open_raster follows the chain into
Raster.overviews with derived georeferencing. The scale payoff — a
coarse read touches 1/k² of the bytes, locally and over HTTP ranges —
is asserted here, along with the exactness contract (the embedded level
IS the NODATA-aware average of the base band, bit-for-bit).

Reference note: the reference serves full-resolution points only and
never reads overviews (rasterio read(1) of IFD #1,
/root/reference/opentopodata/backend.py:89-151) — this file pins the
superset behavior: IFD #1 semantics unchanged, chain exposed.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from opentopodata_spark import geotiff
from opentopodata_spark.geotiff import build_overview, clear_range_cache


def _rand(h, w, dtype=np.float32, seed=0, nodata=None, hole=None):
    rng = np.random.default_rng(seed)
    arr = rng.normal(400.0, 120.0, (h, w)).astype(dtype)
    if hole is not None and nodata is not None:
        r0, r1, c0, c1 = hole
        arr[r0:r1, c0:c1] = nodata
    return arr


class TestBuildOverview:
    def test_plain_average(self):
        arr = np.arange(16, dtype=np.float64).reshape(4, 4)
        out = build_overview(arr, 2)
        exp = np.array([[2.5, 4.5], [10.5, 12.5]])
        np.testing.assert_array_equal(out, exp)

    def test_nodata_excluded_from_mean(self):
        arr = np.array([[1.0, -9999.0], [3.0, 5.0]])
        out = build_overview(arr, 2, nodata=-9999.0)
        assert out[0, 0] == pytest.approx(3.0)  # mean of 1, 3, 5

    def test_all_hole_block_writes_nodata(self):
        arr = np.full((2, 4), -9999.0)
        arr[:, 2:] = 7.0
        out = build_overview(arr, 2, nodata=-9999.0)
        assert out[0, 0] == -9999.0 and out[0, 1] == 7.0

    def test_nan_holes_without_declared_nodata(self):
        arr = np.array([[np.nan, np.nan], [np.nan, 4.0]])
        out = build_overview(arr, 2)
        assert out[0, 0] == pytest.approx(4.0)
        assert np.isnan(build_overview(np.full((2, 2), np.nan), 2)[0, 0])

    def test_ragged_edge_averages_existing_pixels(self):
        arr = np.array([[2.0, 4.0, 10.0], [6.0, 8.0, 20.0]])
        out = build_overview(arr, 2)
        assert out.shape == (1, 2)
        assert out[0, 0] == pytest.approx(5.0)
        assert out[0, 1] == pytest.approx(15.0)  # 2 pixels, not /4

    def test_integer_rounds_to_nearest(self):
        arr = np.array([[1, 2], [2, 2]], dtype=np.int16)
        out = build_overview(arr, 2, nodata=-32768)
        assert out.dtype == np.int16 and out[0, 0] == 2  # 1.75 -> 2

    def test_int_all_hole_without_nodata_is_zero(self):
        # sparse-fill convention: an integer all-hole block reads back 0
        # (holes in an int array can only come from a declared nodata, so
        # force one via the nodata match, then drop the declaration)
        arr = np.array([[7, 7], [7, 7]], dtype=np.int32)
        out = build_overview(arr, 2, nodata=7)
        assert out.dtype == np.int32 and out[0, 0] == 7
        assert build_overview(np.zeros((2, 2), np.int32), 2)[0, 0] == 0

    def test_factor_below_two_is_loud(self):
        with pytest.raises(ValueError, match="factor"):
            build_overview(np.zeros((4, 4)), 1)


LAYOUTS = [
    dict(),
    dict(compression="deflate", predictor=3, tile_size=(16, 16)),
    dict(compression="lzw", predictor=3, rows_per_strip=13),
    dict(bigtiff=True, tile_size=(16, 16)),
]


class TestWriteReadChain:
    @pytest.mark.parametrize("layout", LAYOUTS)
    def test_roundtrip_levels_exact(self, tmp_path, layout):
        arr = _rand(75, 53, nodata=-9999.0, hole=(4, 9, 7, 30))
        p = str(tmp_path / "cog.tif")
        geotiff.write_geotiff(
            p, arr, x0=5.0, y0=47.0, sx=0.01, sy=0.02, epsg=4326,
            nodata=-9999.0, overviews=(2, 4), **layout,
        )
        r = geotiff.open_raster(p)
        np.testing.assert_array_equal(r.band, arr)  # base untouched
        assert len(r.overviews) == 2
        for f, o in zip((2, 4), r.overviews):
            np.testing.assert_array_equal(
                o.band, build_overview(arr, f, nodata=-9999.0)
            )
            # derived georeferencing: same outer origin, scaled pixels
            assert (o.x0, o.y0) == (r.x0, r.y0)
            assert o.sx == pytest.approx(r.sx * r.width / o.width)
            assert o.sy == pytest.approx(r.sy * r.height / o.height)
            assert o.nodata == r.nodata and o.crs.epsg == r.crs.epsg

    def test_no_overviews_requested_is_empty_tuple(self, tmp_path):
        p = str(tmp_path / "plain.tif")
        geotiff.write_geotiff(
            p, _rand(8, 8), x0=0, y0=8, sx=1, sy=1, epsg=4326
        )
        assert geotiff.open_raster(p).overviews == ()

    def test_bad_factors_are_loud(self, tmp_path):
        p = str(tmp_path / "x.tif")
        for bad in [(1,), (2, 2), (0,)]:
            with pytest.raises(ValueError, match="overview factors"):
                geotiff.write_geotiff(
                    p, _rand(8, 8), x0=0, y0=8, sx=1, sy=1, epsg=4326,
                    overviews=bad,
                )

    def test_sparse_ok_applies_per_level(self, tmp_path):
        # a half-sea tile: sparse blocks drop from the base AND the level
        arr = np.full((64, 64), -9999.0, dtype=np.float32)
        arr[:32] = 100.0
        p = str(tmp_path / "sparse.tif")
        geotiff.write_geotiff(
            p, arr, x0=0, y0=64, sx=1, sy=1, epsg=4326, nodata=-9999.0,
            tile_size=(16, 16), sparse_ok=True, overviews=(2,),
        )
        r = geotiff.open_raster(p)
        np.testing.assert_array_equal(r.band, arr)
        np.testing.assert_array_equal(
            r.overviews[0].band, build_overview(arr, 2, nodata=-9999.0)
        )

    def test_block_cache_isolates_levels(self, tmp_path):
        # base and overview share source.cache_key; reading the base
        # band first must not poison the overview's block reads
        arr = _rand(64, 64, seed=3)
        p = str(tmp_path / "cache.tif")
        geotiff.write_geotiff(
            p, arr, x0=0, y0=64, sx=1, sy=1, epsg=4326,
            compression="deflate", predictor=3, tile_size=(32, 32),
            overviews=(2,),
        )
        r = geotiff.open_raster(p)
        _ = r.band  # populate the LRU with base blocks
        np.testing.assert_array_equal(r.overviews[0].band, build_overview(arr, 2))

    def test_pick_level_selection(self, tmp_path):
        p = str(tmp_path / "pick.tif")
        geotiff.write_geotiff(
            p, _rand(96, 96), x0=0, y0=96, sx=0.01, sy=0.01, epsg=4326,
            overviews=(2, 4),
        )
        r = geotiff.open_raster(p)
        # target finer than any overview -> base; in between -> the
        # coarsest level still finer-or-equal; huge target -> coarsest
        assert r.pick_level(0.015).width == 96
        assert r.pick_level(0.02).width == 48
        assert r.pick_level(0.039).width == 48
        assert r.pick_level(10.0).width == 24
        # exact match is accepted (epsilon guards float ratio noise)
        assert r.pick_level(0.04).width == 24

    def test_foreign_overview_order_is_sorted_finest_first(self, tmp_path):
        # writers may chain coarsest-first; the reader sorts finest-first
        p = str(tmp_path / "o.tif")
        arr = _rand(64, 64, seed=5)
        geotiff.write_geotiff(
            p, arr, x0=0, y0=64, sx=1, sy=1, epsg=4326, overviews=(2, 4)
        )
        r = geotiff.open_raster(p)
        widths = [o.width for o in r.overviews]
        assert widths == sorted(widths, reverse=True) == [32, 16]


class TestRemoteCOG:
    @pytest.fixture()
    def cog_server(self, tmp_path):
        from tests.test_remote_raster import _serve

        arr = _rand(512, 512, seed=11, nodata=-9999.0, hole=(0, 40, 0, 40))
        p = str(tmp_path / "big.tif")
        geotiff.write_geotiff(
            p, arr, x0=6.0, y0=46.0, sx=0.001, sy=0.001, epsg=4326,
            nodata=-9999.0, compression="deflate", predictor=3,
            tile_size=(64, 64), overviews=(4, 16),
        )
        srv, base = _serve(str(tmp_path))
        clear_range_cache()
        geotiff.clear_block_cache()
        yield srv, f"{base}/big.tif", arr
        srv.shutdown()

    def test_overview_read_touches_a_fraction_of_the_bytes(self, cog_server):
        from tests.test_remote_raster import _fetched_bytes

        srv, url, arr = cog_server
        r = geotiff.open_raster(url)
        open_bytes = _fetched_bytes(srv)
        full_size_ = os.path.getsize(os.path.join(srv.root, "big.tif"))
        # open = header walk + IFD chain + one probe-tile decode, each
        # amplified to LRU-chunk granularity — substantial against this
        # ~900 KB fixture but CONSTANT in file size; what open must
        # never do is degrade to a full-object GET
        assert 0 < open_bytes < full_size_ * 0.6, \
            "open must range-read, not fetch the whole object"
        ovr = r.overviews[-1]  # 32x32 level
        np.testing.assert_array_equal(
            ovr.band, build_overview(arr, 16, nodata=-9999.0)
        )
        coarse_bytes = _fetched_bytes(srv) - open_bytes
        full_size = os.path.getsize(os.path.join(srv.root, "big.tif"))
        # the whole point of the COG layout: a coarse read never drags
        # the base band over the wire
        assert coarse_bytes < full_size / 10
        # full-res read costs an order of magnitude more traffic
        np.testing.assert_array_equal(r.band, arr)
        full_bytes = _fetched_bytes(srv) - open_bytes - coarse_bytes
        assert full_bytes > coarse_bytes * 10

