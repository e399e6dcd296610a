"""jobs/raster.py CLI tests: the subcommands end-to-end, output
read-back, and client-error exits."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from opentopodata_spark import geotiff
from opentopodata_spark.jobs import raster as job


@pytest.fixture()
def srtm_cfg(raster_root):
    return os.path.join(raster_root, "test-config.yaml")


def test_zonal_cli(spark, srtm_cfg, tmp_path, capsys):
    polys = str(tmp_path / "polys.json")
    with open(polys, "w") as f:
        json.dump([{"polygon_id": "B", "lats": [0.3, 0.7, 0.7, 0.3],
                    "lons": [10.8, 10.8, 11.2, 11.2]}], f)
    out = str(tmp_path / "zonal_out")
    rc = job.main([
        "--cores", "4", "zonal", "--config", srtm_cfg,
        "--dataset", "srtm90subset", "--polygons", polys, "--out", out,
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["status"] == "OK" and res["polygons"] == 1
    row = spark.read.parquet(out).collect()[0]
    assert row["polygon_id"] == "B" and row["n_px"] > 0


def test_rasterize_cli(spark, tmp_path, capsys):
    pts = str(tmp_path / "pts.parquet")
    rows = [(i, 0.5 + (i % 9), 0.5 + (i % 7), i % 5) for i in range(100)]
    spark.createDataFrame(
        rows, "pid long, lat double, lon double, value long"
    ).write.parquet(pts)
    out = str(tmp_path / "cells")
    tiles_out = str(tmp_path / "tiles")
    rc = job.main([
        "--cores", "4", "rasterize", "--points", pts, "--value-col", "value",
        "--grid", "0,10,1,1,8,10", "--out", out,
        "--tiles-out", tiles_out, "--tile-px", "16",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["status"] == "OK" and res["cells"] > 0 and res["tiles"] == 1
    cells = spark.read.parquet(out)
    assert cells.agg({"n_points": "sum"}).collect()[0][0] == 100


def test_bad_grid_is_client_error(tmp_path, capsys):
    rc = job.main([
        "rasterize", "--points", str(tmp_path / "x.parquet"),
        "--grid", "1,2,3", "--out", str(tmp_path / "o"),
    ])
    assert rc == 2
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["status"] == "INVALID_REQUEST"










def test_visibility_cli(spark, srtm_cfg, tmp_path, capsys):
    """jobs/visibility: los + viewshed subcommands end-to-end over the
    SRTM fixture config."""
    from opentopodata_spark.jobs import visibility as vjob

    pairs = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(
        [(1, 0.25, 10.25, 0.85, 11.75), (2, 0.5, 10.4, 0.55, 10.9)],
        "los_id long, lat_a double, lon_a double, lat_b double, "
        "lon_b double",
    ).write.parquet(pairs)
    out = str(tmp_path / "los")
    rc = vjob.main([
        "--cores", "4", "los", "--config", srtm_cfg,
        "--datasets", "srtm90subset", "--pairs", pairs,
        "--out", out, "--n-samples", "17",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["status"] == "OK" and res["pairs"] == 2
    rows = {r.los_id: r for r in spark.read.parquet(out).collect()}
    assert rows[1].visible is not None and rows[1].min_clearance_m is not None

    obs = str(tmp_path / "obs.parquet")
    spark.createDataFrame(
        [(7, 0.5, 10.8)], "obs_id long, lat double, lon double"
    ).write.parquet(obs)
    vout = str(tmp_path / "vs")
    rc = vjob.main([
        "--cores", "4", "viewshed", "--config", srtm_cfg,
        "--datasets", "srtm90subset", "--observers", obs, "--out", vout,
        "--radius-m", "15000", "--n-rays", "6", "--n-samples", "9",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["status"] == "OK" and res["observers"] == 1
    samples = spark.read.parquet(f"{vout}/samples")
    assert samples.count() == 6 * 8   # n_rays * (n_samples - 1)
    s = spark.read.parquet(f"{vout}/summary").collect()[0]
    assert s.n_valid > 0 and 0.0 <= s.visible_frac <= 1.0

    # invalid interpolation -> INVALID_REQUEST exit 2
    rc = vjob.main([
        "los", "--config", srtm_cfg, "--datasets", "srtm90subset",
        "--pairs", pairs, "--out", str(tmp_path / "x"),
        "--interpolation", "bogus",
    ])
    assert rc == 2




def test_polygonize_cli(spark, tmp_path, capsys):
    k = np.zeros((8, 8), dtype=np.int16)
    k[2:5, 2:5] = 7
    geotiff.write_geotiff(
        str(tmp_path / "pg.tif"), k, x0=5.0, y0=1.0,
        sx=0.01, sy=0.01, epsg=4326, nodata=-9999,
    )
    out = str(tmp_path / "regions.parquet")
    gj = str(tmp_path / "regions.geojson")
    rc = job.main([
        "--cores", "4", "polygonize",
        "--rasters", str(tmp_path / "pg.tif"), "--out", out,
        "--geojson", gj,
    ])
    assert rc == 0
    resj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert resj["status"] == "OK" and resj["regions"] == 2
    fc = json.load(open(gj))
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 2
    by_val = {f["properties"]["value"]: f for f in fc["features"]}
    assert by_val[7]["properties"]["n_cells"] == 9
    ring = by_val[7]["geometry"]["coordinates"][0]
    assert ring[0] == ring[-1] and len(ring) == 5  # a clean square
    assert by_val[0]["properties"]["n_cells"] == 55
    # the background polygon carries the island as a hole
    assert len(by_val[0]["geometry"]["coordinates"]) == 2


def test_burn_cli_geojson(spark, tmp_path, capsys):
    gj = tmp_path / "feats.geojson"
    gj.write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"z": 4.0},
             "geometry": {"type": "Polygon", "coordinates": [
                 [[0.2, 1.2], [1.4, 1.2], [1.4, 1.8], [0.2, 1.8],
                  [0.2, 1.2]],
                 [[0.6, 1.4], [0.9, 1.4], [0.9, 1.6], [0.6, 1.6],
                  [0.6, 1.4]],
             ]}},
            {"type": "Feature", "properties": {"z": 9.0},
             "geometry": {"type": "Polygon", "coordinates": [
                 [[1.0, 0.2], [1.9, 0.2], [1.9, 0.9], [1.0, 0.9],
                  [1.0, 0.2]]]}},
        ],
    }))
    out = str(tmp_path / "burned")
    rc = job.main([
        "--cores", "4", "burn", "--features", str(gj),
        "--grid", "0,2,0.1,0.1,20,20", "--out", out,
        "--attr", "z", "--tile-px", "10",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["status"] == "OK" and res["tiles"] == 4
    assert res["burned_cells"] > 0
    m = {(r.tile_iy, r.tile_ix): r.path
         for r in spark.read.parquet(f"{out}/_manifest").collect()}
    a = geotiff.open_raster(m[(0, 0)]).read_block(0, 10, 0, 10)
    # (lat 1.45, lon 0.45) inside outer ring, outside hole -> 4
    assert a[5, 4] == np.float32(4.0)
    # (lat 1.45, lon 0.75) inside the hole -> init 0
    assert a[5, 7] == 0.0


def test_burn_cli_mixed_geometry_refused(tmp_path, capsys):
    gj = tmp_path / "mixed.geojson"
    gj.write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {},
             "geometry": {"type": "Polygon", "coordinates": [
                 [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}},
            {"type": "Feature", "properties": {},
             "geometry": {"type": "LineString",
                          "coordinates": [[0, 0], [1, 1]]}},
        ],
    }))
    rc = job.main([
        "burn", "--features", str(gj),
        "--grid", "0,2,0.1,0.1,20,20", "--out", str(tmp_path / "o"),
    ])
    assert rc == 2
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["status"] == "INVALID_REQUEST"


