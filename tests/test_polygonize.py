"""Distributed region labeling (gdal_polygonize core).

Anchors: distributed run-length union-find == the single-process
min-propagation twin (DIFFERENT algorithm) on multi-tile grids with
cross-seam regions, holes, and band quantization; hand-built goldens;
refusals.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from opentopodata_spark import geotiff
from opentopodata_spark.operators import polygonize


def _write(path, klass, *, x0=0.0, y0=10.0, res=0.01, nodata=-9999.0):
    arr = np.where(klass < 0, nodata, klass.astype(np.float64))
    geotiff.write_geotiff(
        path, arr.astype(np.int16) if (klass >= -1).all() and
        np.abs(klass).max(initial=0) < 30000 else arr,
        x0=x0, y0=y0, sx=res, sy=res, epsg=4326, nodata=-9999,
    )
    return path


def _tile_grid(tmp_path, klass_full, th, tw):
    """Split a full class array into (iy, ix, path) tiles."""
    H, W = klass_full.shape
    assert H % th == 0 and W % tw == 0
    tiles = []
    for iy in range(H // th):
        for ix in range(W // tw):
            sub = klass_full[iy * th:(iy + 1) * th, ix * tw:(ix + 1) * tw]
            p = str(tmp_path / f"t_{iy}_{ix}.tif")
            _write(p, sub, x0=ix * tw * 0.01, y0=10.0 - iy * th * 0.01)
            tiles.append((iy, ix, p))
    return tiles


def _collect(spark, tiles, **kw):
    return sorted(
        (r.region_id, r.value, r.n_cells, r.n_tiles)
        for r in polygonize.label_regions(spark, tiles, **kw).collect()
    )


class TestGolden:
    def test_single_tile_two_regions_and_hole(self, spark, tmp_path):
        k = np.zeros((8, 8), dtype=np.int64)
        k[:, 4:] = 5
        k[2:4, 2:4] = -1  # nodata hole inside region 0
        tiles = _tile_grid(tmp_path, k, 8, 8)
        got = _collect(spark, tiles)
        # region of class 0: 32 - 4 hole cells; region of class 5: 32
        assert got == [(0, 0, 28, 1), (4, 5, 32, 1)]

    def test_diagonal_is_not_connected(self, spark, tmp_path):
        k = np.zeros((4, 4), dtype=np.int64)
        k[0, 0] = 7
        k[1, 1] = 7  # touches only diagonally: 4-connectivity splits it
        tiles = _tile_grid(tmp_path, k, 4, 4)
        got = _collect(spark, tiles)
        sevens = [g for g in got if g[1] == 7]
        assert len(sevens) == 2 and all(n == 1 for _i, _v, n, _t in sevens)

    def test_region_spanning_four_tiles(self, spark, tmp_path):
        k = np.zeros((8, 8), dtype=np.int64)
        k[3:5, 3:5] = 9  # 2x2 block straddling the 4-tile corner
        tiles = _tile_grid(tmp_path, k, 4, 4)
        got = _collect(spark, tiles)
        nines = [g for g in got if g[1] == 9]
        assert nines == [(3 * 8 + 3, 9, 4, 4)]
        zeros = [g for g in got if g[1] == 0]
        assert zeros == [(0, 0, 60, 4)]  # background stays ONE region


class TestTwinEquality:
    def test_matches_sequential_on_banded_terrain(self, spark, tmp_path):
        rng = np.random.default_rng(11)
        z = (
            400 * np.sin(np.linspace(0, 6, 120))[None, :]
            + 300 * np.cos(np.linspace(0, 4, 120))[:, None]
            + rng.normal(0, 15, (120, 120))
        )
        k = np.clip((z + 800) // 250, 0, 7).astype(np.int64)
        k[40:50, 40:50] = -1
        tiles = _tile_grid(tmp_path, k, 40, 40)  # 3x3 grid, many seams
        got = _collect(spark, tiles)
        exp = polygonize.label_regions_sequential(tiles)
        assert got == exp
        assert sum(n for _i, _v, n, _t in got) == (k != -1).sum()

    def test_bands_quantization_matches(self, spark, tmp_path, raster_root):
        d = os.path.join(raster_root, "test-srtm90m-subset")
        paths = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".tif")
        )
        tiles = [(0, i, p) for i, p in enumerate(paths)]
        # fixture terrain spans ~1602-1626 m: edges inside that range so
        # quantization actually fragments the surface into many regions
        bands = [1606.0, 1612.0, 1618.0, 1624.0]
        got = _collect(spark, tiles, bands=bands)
        exp = polygonize.label_regions_sequential(tiles, bands=bands)
        assert got == exp
        assert len(got) > 2  # non-trivial region structure


class TestValidation:
    def test_float_without_bands_refused(self, spark, tmp_path):
        p = str(tmp_path / "f.tif")
        geotiff.write_geotiff(
            p, np.array([[1.5, 2.5]], dtype=np.float32), x0=0, y0=1,
            sx=0.01, sy=0.01, epsg=4326,
        )
        with pytest.raises(Exception, match="bands"):
            polygonize.label_regions(spark, [(0, 0, p)]).collect()

    def test_mixed_tile_sizes_refused(self, spark, tmp_path):
        a = str(tmp_path / "a.tif")
        b = str(tmp_path / "b.tif")
        geotiff.write_geotiff(a, np.zeros((4, 4), np.int16), x0=0, y0=1,
                              sx=0.01, sy=0.01, epsg=4326)
        geotiff.write_geotiff(b, np.zeros((4, 6), np.int16), x0=0.04,
                              y0=1, sx=0.01, sy=0.01, epsg=4326)
        with pytest.raises(ValueError, match="uniform"):
            polygonize.label_regions(spark, [(0, 0, a), (0, 1, b)])

    def test_empty_tiles_refused(self, spark):
        with pytest.raises(ValueError, match="at least one"):
            polygonize.label_regions(spark, [])


class TestKeyOrientation:
    def test_iy_up_and_iy_down_keys_agree(self, spark, tmp_path):
        """The engine's canonical keys are iy-UP (northing/tile_size,
        tiles.tile_index_rows) while plain row keying is iy-DOWN; the
        corners disambiguate, so both keyings of the same mosaic must
        label identically."""
        rng = np.random.default_rng(41)
        k = rng.integers(0, 3, (16, 8)).astype(np.int64)
        down, up = [], []
        for iy in range(2):
            sub = k[iy * 8:(iy + 1) * 8]
            p = str(tmp_path / f"o_{iy}.tif")
            _write(p, sub, x0=0.0, y0=10.0 - iy * 8 * 0.01)
            down.append((iy, 0, p))
            up.append((1 - iy, 0, p))  # northing-derived keys
        got_down = _collect(spark, down)
        got_up = _collect(spark, up)
        assert got_down == got_up
        assert got_down == polygonize.label_regions_sequential(up)


class TestConnectedComponents:
    def test_connected_components_chain_and_triangle(self, spark):
        """A 4-node chain (worst case for naive propagation: diameter 3),
        a triangle, an isolated edge — components = min node id."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4),          # chain
             (10, 11), (11, 12), (10, 12),    # triangle
             (20, 21)],                        # pair
            "doc_a long, doc_b long",
        )
        got = {
            r.node: r.component
            for r in polygonize.connected_components(edges).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                       10: 10, 11: 10, 12: 10,
                       20: 20, 21: 20}

    def test_connected_components_long_chain_distributed(self, spark):
        """A 64-node chain converges well inside max_rounds (the
        alternating algorithm is O(log^2 n), not O(diameter)).
        local_threshold=0 forces the iterative star-contraction path."""
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
        )
        got = polygonize.connected_components(
            edges, max_rounds=15, local_threshold=0
        ).collect()
        assert {r.node for r in got} == set(range(65))
        assert {r.component for r in got} == {0}

    def test_connected_components_local_matches_distributed(self, spark):
        """The single-task union-find fast path and the iterative
        star-contraction path produce the identical (node, component)
        set on a seeded random graph."""
        import random

        rng = random.Random(42)
        edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        local = {
            (r.node, r.component)
            for r in polygonize.connected_components(df).collect()
        }
        dist = {
            (r.node, r.component)
            for r in polygonize.connected_components(df, local_threshold=0).collect()
        }
        assert local == dist and local

    def test_connected_components_empty_and_duplicate_edges(self, spark):
        empty = spark.createDataFrame([], "doc_a long, doc_b long")
        assert polygonize.connected_components(empty).collect() == []
        dup = spark.createDataFrame(
            [(2, 1), (1, 2), (2, 2)], "doc_a long, doc_b long"
        )
        got = {r.node: r.component
               for r in polygonize.connected_components(dup).collect()}
        assert got == {1: 1, 2: 1}
