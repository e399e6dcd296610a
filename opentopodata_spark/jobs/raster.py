"""Raster-ops batch job: polygonize / zonal stats / rasterize / burn.

The raster<->vector cluster surface, submit-able the same way as
jobs/elevation.py (``spark-submit --py-files otds.zip -m ... raster``).
Subcommands:

  polygonize tiled raster -> region polygons parquet (+ optional
             GeoJSON FeatureCollection; gdal_polygonize)
  zonal      tiled/loose rasters + polygons (GeoJSON or engine JSON)
             -> per-polygon statistics parquet
  rasterize  points parquet (lat, lon[, value]) -> cell aggregation
             parquet and optional GeoTIFF tile pyramid
  burn       vector features -> raster tiles (gdal_rasterize)

Polygons file format (``--polygons``): JSON list of
{"polygon_id": str, "lats": [...], "lons": [...]} — the engine's
driver-side polygon shape (small side of the PIP join).
"""

from __future__ import annotations

import argparse
import glob as _glob
import json
import os
import sys
import time

from .. import config as _config
from ..session import get_spark


def _tile_rows_from_config(cfg_path: str, name: str):
    """Dataset name -> (iy, ix, path) rows via the exact tile-index keys
    (tiles.tile_index_rows); single-file datasets become one (0,0,path)."""
    from .. import tiles as _tiles

    datasets = _config.load_datasets(cfg_path)
    ordered = _config.resolve_dataset_names(name, datasets)
    all_tiles = _tiles.tile_index_rows(ordered)
    rows = []
    for ds in ordered:
        got = [(iy, ix, p) for (_d, iy, ix, p) in all_tiles if _d == ds.name]
        if got:
            rows.extend(got)
        elif getattr(ds, "tile_path", None):
            rows.append((0, 0, ds.tile_path))
    return rows


def _tiles_from_globs(globs) -> list[tuple[int, int, str]]:
    """Loose raster globs -> (iy, ix, path) rows with CORNER-DERIVED grid
    keys (regular grid assumed). The keys are load-bearing: polygonize
    looks up seam neighbors by (iy±1, ix±1), so arbitrary keys like
    sorted-order enumeration would silently sever tile adjacency and
    split regions at the seams."""
    from .. import geotiff as _geotiff

    paths = sorted(p for pat in globs for p in _glob.glob(pat))
    if not paths:
        raise FileNotFoundError(f"no rasters match {globs}")
    metas = [(p, _geotiff.open_raster(p)) for p in paths]
    ys = sorted({round(r.y0, 9) for _p, r in metas}, reverse=True)
    xs = sorted({round(r.x0, 9) for _p, r in metas})
    return [
        (len(ys) - 1 - ys.index(round(r.y0, 9)), xs.index(round(r.x0, 9)), p)
        for p, r in metas
    ]


def _raster_paths(ns) -> list[str]:
    if ns.rasters:
        paths = sorted(
            p for pat in ns.rasters for p in _glob.glob(pat)
        )
        if not paths:
            raise FileNotFoundError(f"no rasters match {ns.rasters}")
        return paths
    return [p for _iy, _ix, p in _tile_rows_from_config(ns.config, ns.dataset)]


def _load_polygons(path: str) -> list[dict]:
    if path.lower().endswith((".shp", ".gpkg")):
        from ..operators.spatial import polygons_from_geojson

        return polygons_from_geojson(path)
    with open(path) as f:
        polys = json.load(f)
    if isinstance(polys, dict):  # real GeoJSON (FeatureCollection etc.)
        from ..operators.spatial import polygons_from_geojson

        return polygons_from_geojson(polys)
    for p in polys:
        if not {"polygon_id", "lats", "lons"} <= set(p):
            raise ValueError(
                "each polygon needs polygon_id, lats, lons (got "
                f"{sorted(p)})"
            )
    return polys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="opentopodata_spark.jobs.raster",
        description="Distributed raster<->vector operations.",
    )
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    pg = sub.add_parser(
        "polygonize", help="regions -> polygons (gdal_polygonize):"
        " region stats parquet + optional GeoJSON FeatureCollection"
    )
    pg.add_argument("--config")
    pg.add_argument("--dataset")
    pg.add_argument("--rasters", nargs="*")
    pg.add_argument("--out", required=True,
                    help="parquet output (region stats + geometry)")
    pg.add_argument("--geojson",
                    help="optional FeatureCollection file (driver-side"
                    " assembly — bounded by the region count)")
    pg.add_argument("--bands", type=float, nargs="*",
                    help="quantization edges for float rasters")

    z = sub.add_parser("zonal", help="per-polygon raster statistics")
    z.add_argument("--config")
    z.add_argument("--dataset")
    z.add_argument("--rasters", nargs="*")
    z.add_argument("--polygons", required=True)
    z.add_argument("--out", required=True)
    z.add_argument("--strip-rows", type=int, default=512)

    r = sub.add_parser("rasterize", help="points -> grid aggregation")
    r.add_argument("--points", required=True, help="parquet with lat, lon[, value] columns")
    r.add_argument("--value-col", default=None)
    r.add_argument("--out", required=True)
    r.add_argument("--grid", required=True, help="x0,y0,sx,sy,width,height")
    r.add_argument("--tiles-out", default=None, help="also write GeoTIFF tiles here")
    r.add_argument("--tile-px", type=int, default=1024)
    r.add_argument("--agg-col", default="n_points", help="cell column to rasterize into --tiles-out")

    bn = sub.add_parser(
        "burn", help="vector features -> raster (gdal_rasterize)"
    )
    bn.add_argument("--features", required=True,
                    help="GeoJSON (FeatureCollection of Polygon/"
                         "MultiPolygon/LineString) or parquet with"
                         " (order_idx, rings, burn) columns")
    bn.add_argument("--grid", required=True,
                    help="x0,y0,sx,sy,width,height")
    bn.add_argument("--out", required=True, help="GeoTIFF tile dir")
    bn.add_argument("--burn", type=float, default=1.0,
                    help="fixed burn value (-burn)")
    bn.add_argument("--attr", default=None,
                    help="feature property to burn (-a; GeoJSON only)")
    bn.add_argument("--geometry", choices=("polygon", "line"),
                    default="polygon")
    bn.add_argument("--add", action="store_true",
                    help="accumulate instead of paint-over (-add)")
    bn.add_argument("--invert", action="store_true",
                    help="burn where NO feature covers (-i)")
    bn.add_argument("--all-touched", action="store_true",
                    help="burn every cell the boundary touches (-at)")
    bn.add_argument("--init", type=float, default=0.0)
    bn.add_argument("--tile-px", type=int, default=1024)
    return p


def run(argv: list[str] | None = None) -> dict:
    ns = build_parser().parse_args(argv)
    spark = get_spark(
        app_name=f"otds-raster-{ns.cmd}",
        cores=ns.cores,
        shuffle_partitions=ns.shuffle_partitions,
        master=ns.master,
    )
    t0 = time.time()
    stats: dict = {"job": f"raster-{ns.cmd}"}

    if ns.cmd == "polygonize":
        import json as _json

        from ..operators import polyvec as _polyvec

        if ns.config and ns.dataset:
            tiles = _tile_rows_from_config(ns.config, ns.dataset)
        elif ns.rasters:
            tiles = _tiles_from_globs(ns.rasters)
        else:
            raise ValueError(
                "polygonize needs --config/--dataset or --rasters"
            )
        df = _polyvec.region_polygons(spark, tiles, bands=ns.bands)
        df.write.mode("overwrite").parquet(ns.out)
        back = spark.read.parquet(ns.out)
        stats.update(regions=back.count(), out=ns.out)
        if ns.geojson:
            feats = [
                {
                    "type": "Feature",
                    "properties": {
                        "region_id": int(r.region_id),
                        "value": int(r.value),
                        "n_cells": int(r.n_cells),
                    },
                    "geometry": _json.loads(r.geometry),
                }
                for r in back.orderBy("region_id").collect()
            ]
            tmp = ns.geojson + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                _json.dump(
                    {"type": "FeatureCollection", "features": feats}, f
                )
            os.replace(tmp, ns.geojson)
            stats.update(geojson=ns.geojson)

    elif ns.cmd == "zonal":
        from ..operators import zonal as _zonal

        if not ((ns.config and ns.dataset) or ns.rasters):
            raise ValueError("zonal needs --config/--dataset or --rasters")
        meta = _zonal.raster_metadata(spark, _raster_paths(ns))
        out = _zonal.zonal_stats(
            meta, _load_polygons(ns.polygons), strip_rows=ns.strip_rows
        )
        out.write.mode("overwrite").parquet(ns.out)
        stats.update(polygons=spark.read.parquet(ns.out).count(), out=ns.out)

    elif ns.cmd == "rasterize":
        from ..operators import rasterize as _rz

        parts = [float(v) for v in ns.grid.split(",")]
        if len(parts) != 6:
            raise ValueError("--grid must be x0,y0,sx,sy,width,height")
        grid = _rz.GridSpec(
            parts[0], parts[1], parts[2], parts[3], int(parts[4]), int(parts[5])
        )
        pts = spark.read.parquet(ns.points)
        cells = _rz.rasterize_points(pts, grid, value_col=ns.value_col)
        cells.write.mode("overwrite").parquet(ns.out)
        stats.update(cells=spark.read.parquet(ns.out).count(), out=ns.out)
        if ns.tiles_out:
            manifest = _rz.write_raster_tiles(
                spark.read.parquet(ns.out), grid, ns.tiles_out,
                value_col=ns.agg_col, tile_px=ns.tile_px,
            )
            manifest.write.mode("overwrite").parquet(
                f"{ns.tiles_out}/_manifest"
            )
            stats["tiles"] = spark.read.parquet(
                f"{ns.tiles_out}/_manifest"
            ).count()

    elif ns.cmd == "burn":
        from ..operators import rasterize as _rz

        parts = [float(v) for v in ns.grid.split(",")]
        if len(parts) != 6:
            raise ValueError("--grid must be x0,y0,sx,sy,width,height")
        grid = _rz.GridSpec(
            parts[0], parts[1], parts[2], parts[3],
            int(parts[4]), int(parts[5]),
        )
        if ns.features.lower().endswith(
                (".json", ".geojson", ".shp", ".gpkg")):
            feats = _rz.features_from_geojson(
                ns.features, burn_attr=ns.attr, burn_value=ns.burn
            )
            geoms = {ft["geometry"] for ft in feats}
            if len(geoms) > 1:
                raise ValueError(
                    "mixed polygon and line features — burn them in"
                    " separate runs (paint-order across geometry kinds"
                    " is ambiguous)"
                )
            geometry = geoms.pop() if geoms else ns.geometry
            fdf = _rz.features_to_df(spark, feats)
        else:
            fdf = spark.read.parquet(ns.features)
            geometry = ns.geometry
        manifest = _rz.burn_features(
            spark, fdf, grid, ns.out, geometry=geometry,
            mode="add" if ns.add else "paint",
            all_touched=ns.all_touched, invert=ns.invert,
            invert_value=ns.burn, init=ns.init, tile_px=ns.tile_px,
        )
        manifest.write.mode("overwrite").parquet(f"{ns.out}/_manifest")
        m = spark.read.parquet(f"{ns.out}/_manifest")
        stats.update(
            tiles=m.count(),
            burned_cells=m.agg({"n_burned": "sum"}).collect()[0][0],
            out=ns.out,
        )

    stats["seconds"] = round(time.time() - t0, 3)
    return stats


def main(argv: list[str] | None = None) -> int:
    try:
        stats = run(argv)
    except (ValueError, FileNotFoundError) as e:
        print(json.dumps({"status": "INVALID_REQUEST", "error": str(e)}))
        return 2
    print(json.dumps({"status": "OK", **stats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
