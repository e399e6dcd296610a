"""Distributed web-terrain tile export (operators/tileexport.py)."""

import os

import numpy as np
import pytest

from opentopodata_spark import config, fixtures, geotiff, mbtiles
from opentopodata_spark.operators import tileexport


@pytest.fixture()
def dataset(tmp_path):
    d = str(tmp_path / "src")
    os.makedirs(d)
    res = 1.0 / 64
    for lon0, stem in ((10.0, "N00E010"), (11.0, "N00E011")):
        lons = lon0 + (np.arange(64) + 0.5) * res
        lats = 1.0 - (np.arange(64) + 0.5) * res
        grid = np.round(fixtures.terrain_wgs84(
            lats[:, None], lons[None, :])).astype(np.int16)
        geotiff.write_geotiff(os.path.join(d, f"{stem}.tif"), grid,
                              x0=lon0, y0=1.0, sx=res, sy=res, epsg=4326,
                              nodata=-32768)
    return config.dataset_from_config("exp", path=d, filename_tile_size=1)


def test_distributed_equals_sequential_twin(spark, dataset):
    """Every column, including the md5 of the PNG bytes, matches the
    single-process twin; all-NODATA tiles are dropped on both sides."""
    df = tileexport.render_terrain_tiles(spark, [dataset], 9,
                                         encoding="terrarium", tile_px=64)
    got = sorted(tuple(r)[:7] for r in df.collect())
    exp = sorted(r[:7] for r in tileexport.render_terrain_tiles_sequential(
        [dataset], 9, encoding="terrarium", tile_px=64))
    assert got == exp
    assert len(got) >= 4
    # every tile kept has data; none is fully valid (the 2-degree strip
    # only part-covers its web tiles)
    for _z, _x, _y, n_valid, mn, mx, _md5 in got:
        assert 0 < n_valid <= 64 * 64
        assert mn <= mx


def test_export_reads_back_through_open_raster(spark, dataset, tmp_path):
    """Assembled MBTiles round-trips: decoded pixel values equal the
    encoder's input grid wherever the source had data (terrarium is
    integer-exact)."""
    df = tileexport.render_terrain_tiles(spark, [dataset], 9,
                                         encoding="terrarium", tile_px=64)
    rows = df.collect()
    p = str(tmp_path / "out.mbtiles")
    tileexport.write_tiles_mbtiles(
        [tuple(r) for r in rows], p, zoom=9, encoding="terrarium")
    r = geotiff.open_raster(p)
    assert r.crs.epsg == 3857
    band = r.band
    assert np.isfinite(band).all()  # holes encoded as 0, not alpha
    mx = max(float(row.max_el) for row in rows)
    assert band.max() == np.float32(mx)


def test_bbox_clip_and_derived_coverage(spark, dataset):
    keys = tileexport._dataset_tile_keys([dataset], 9, None)
    # the 2x1-degree strip at z9 is a handful of tiles, never the planet
    assert 4 <= len(keys) <= 12
    clipped = tileexport._dataset_tile_keys(
        [dataset], 9, (10.0, 0.0, 10.7, 1.0))
    assert set(clipped) < set(keys)
    with pytest.raises(ValueError, match="no tiles"):
        tileexport.render_terrain_tiles(spark, [dataset], 9,
                                        bbox=(100.0, 0.0, 101.0, 1.0))
    with pytest.raises(ValueError, match="encoding"):
        tileexport.render_terrain_tiles(spark, [dataset], 9,
                                        encoding="nope")


def test_cli_tiles_job(spark, dataset, tmp_path):
    """jobs/raster.py tiles: parquet shards + MBTiles assembly."""
    from opentopodata_spark.jobs import raster as raster_job

    out = str(tmp_path / "shards")
    mbt = str(tmp_path / "cli.mbtiles")
    stats = raster_job.run([
        "tiles", "--rasters", os.path.join(dataset.path, "*.tif"),
        "--out", out, "--zoom", "9", "--tile-px", "64",
        "--mbtiles", mbt,
    ])
    assert stats["tiles"] >= 4 and stats["encoding"] == "terrarium"
    back = spark.read.parquet(out)
    assert back.count() == stats["tiles"]
    assert set(back.columns) == {
        "z", "x", "y", "n_valid", "min_el", "max_el", "md5", "tile_data",
        "valid_mask"}
    r = mbtiles.open_mbtiles(mbt)
    assert r.crs.epsg == 3857


def test_plan_shape_two_wide_exchanges(spark, dataset):
    """The export is the resolver's ONE wide exchange plus exactly one
    hash exchange on the output tile key for the grouped encode — a
    third exchange (e.g. the mapInPandas-drops-partitioning trap) or a
    join node would be a scale regression."""
    df = tileexport.render_terrain_tiles(spark, [dataset], 9,
                                         encoding="terrarium", tile_px=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    wide = [ln for ln in plan.splitlines()
            if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert len(wide) == 2, plan
    # the resolver probes its dataset registry inside the sampler: no
    # join node of any kind, broadcast or shuffled
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_pyramid_rollup_matches_sequential_twin(spark, dataset, tmp_path):
    """z9 base rolled to z7: every pyramid level equals the
    single-process twin md5-for-md5; a parent's 2x2 NaN-aware average
    keeps value bounds inside its children's."""
    base = tileexport.render_terrain_tiles(spark, [dataset], 9,
                                           encoding="terrarium",
                                           tile_px=64)
    pyr = tileexport.build_tile_pyramid(base, base_zoom=9, min_zoom=7,
                                        tile_px=64, encoding="terrarium")
    got = sorted(tuple(r)[:7] for r in pyr.collect())
    base_rows = tileexport.render_terrain_tiles_sequential(
        [dataset], 9, encoding="terrarium", tile_px=64)
    exp = sorted(r[:7] for r in tileexport.build_tile_pyramid_sequential(
        base_rows, base_zoom=9, min_zoom=7, tile_px=64,
        encoding="terrarium"))
    assert got == exp
    zs = {r[0] for r in got}
    assert zs == {7, 8, 9}
    by_z = {z: [r for r in got if r[0] == z] for z in zs}
    assert len(by_z[8]) < len(by_z[9])
    # with the valid_mask sidecar, parent bounds nest inside their
    # children's (mask-excluded holes can no longer drag minima to 0);
    # the small epsilon is the terrarium re-quantization
    mins = {z: min(r[4] for r in by_z[z]) for z in zs}
    maxs = {z: max(r[5] for r in by_z[z]) for z in zs}
    assert maxs[8] <= maxs[9] + 0.01 and maxs[7] <= maxs[8] + 0.01
    assert mins[8] >= mins[9] - 0.01 and mins[7] >= mins[8] - 0.01

    # multi-zoom MBTiles assembly reads back at every level
    from opentopodata_spark import mbtiles as mbt

    rows = pyr.collect()
    p = str(tmp_path / "pyr.mbtiles")
    mbt.write_mbtiles_tiles(
        p, [(r.z, r.x, r.y, bytes(r.tile_data)) for r in rows])
    for z in (7, 8, 9):
        r = mbt.open_mbtiles(p, zoom=z)
        assert r.width >= 64
    # default open picks the finest level
    assert mbt.open_mbtiles(p).sx == mbt.open_mbtiles(p, zoom=9).sx


def test_pyramid_excludes_holes_from_parent_average():
    """Regression (review finding): holes encode as 0 m in the PNG —
    without the valid_mask sidecar, a half-void 1000 m tile rolled up
    to (1000+1000+0+0)/4 = 500 m. With masks, parents average only
    real pixels."""
    grid = np.full((64, 64), np.nan)
    grid[:, ::2] = 1000.0  # alternate columns valid
    row = tileexport._encode_tile_row(grid, 1, 0, 0, "terrarium")
    assert row[3] == 64 * 32
    rolled = tileexport.build_tile_pyramid_sequential(
        [row], base_zoom=1, min_zoom=0, tile_px=64, encoding="terrarium")
    parents = [r for r in rolled if r[0] == 0]
    assert len(parents) == 1
    z, x, y, n_valid, mn, mx, _md5, _blob, mask = parents[0]
    assert mn == 1000.0 and mx == 1000.0  # NOT 500 — holes excluded
    # parent validity: quadrant (0,0) has data only where a valid
    # column existed; the other three quadrants are all holes
    m = np.unpackbits(np.frombuffer(mask, np.uint8),
                      count=64 * 64).reshape(64, 64)
    assert m[:32, :32].sum() == 32 * 32  # every 2x2 block had a column
    assert m[32:, :].sum() == 0 and m[:32, 32:].sum() == 0


def test_mbtiles_sink_handles_oversized_tiles(tmp_path):
    """Regression (review finding): noisy 256-px terrarium tiles
    exceed 64 KiB and must spill to SQLite overflow chains in the
    writer — the --mbtiles sink previously refused them."""
    import sqlite3

    rng = np.random.default_rng(17)
    grid = rng.uniform(-100.0, 4000.0, size=(256, 256))  # fractional m
    row = tileexport._encode_tile_row(grid, 10, 5, 6, "terrarium")
    assert len(row[7]) > 65536
    p = str(tmp_path / "big.mbtiles")
    tileexport.write_tiles_mbtiles([row], p, zoom=10,
                                   encoding="terrarium")
    con = sqlite3.connect(p)
    blob = con.execute("select tile_data from tiles").fetchone()[0]
    con.close()
    assert bytes(blob) == row[7]  # real SQLite follows our chains
    r = mbtiles.open_mbtiles(p)
    assert np.abs(r.band - grid).max() <= 1 / 512 + 1e-9
