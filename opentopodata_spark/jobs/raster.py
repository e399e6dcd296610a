"""Raster-ops batch job: polygonize / zonal stats / rasterize.

The raster<->vector cluster surface, submit-able the same way as
jobs/elevation.py (``spark-submit --py-files otds.zip -m ... raster``).
Subcommands:

  polygonize tiled raster -> region polygons parquet (+ optional
             GeoJSON FeatureCollection; gdal_polygonize)
  zonal      tiled/loose rasters + polygons (GeoJSON or engine JSON)
             -> per-polygon statistics parquet
  rasterize  points parquet (lat, lon[, value]) -> cell aggregation
             parquet and optional GeoTIFF tile pyramid
  resample   tiled DEM -> factor-k overview tiles (gdaladdo)
  warp       tiles -> target-CRS grid (gdalwarp -t_srs -tr -te -r)
  prep       warp + corner-named servable tiles + embedded COG
             overviews + serving config (the reference's documented
             gdalbuildvrt/gdalwarp/gdaladdo dataset recipe, distributed)
  buildvrt   VRT mosaic over tiles (gdalbuildvrt; driver-only)
  info       raster metadata JSON (gdalinfo; driver-only)
  transcode  any-format tiles -> GeoTIFF (gdal_translate -of GTiff)
  tiles      datasets -> Web Mercator terrain tiles (Terrain-RGB /
             Terrarium) + optional MBTiles
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


def _paths_from_globs(globs) -> list[str]:
    """Flat raster paths from glob patterns. A pattern that matches
    nothing passes through VERBATIM (http(s) URLs and literal remote
    object names can't be globbed) — per pattern, not all-or-nothing,
    so mixing a local glob with a URL never silently drops the URL."""
    out: list[str] = []
    for pat in globs:
        out.extend(sorted(_glob.glob(pat)) or [pat])
    return out


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

    o = sub.add_parser("resample", help="build overview tiles (gdaladdo)")
    o.add_argument("--config")
    o.add_argument("--dataset")
    o.add_argument("--rasters", nargs="*")
    o.add_argument("--out", required=True)
    o.add_argument("--factor", type=int, default=2)
    o.add_argument("--method", default="average", choices=["average", "nearest"])
    o.add_argument("--skip-existing", action="store_true")
    o.add_argument("--use-overviews", action="store_true",
                   help="serve 'average' from an embedded COG overview "
                        "IFD at exactly --factor when one exists "
                        "(bit-identical, 1/factor^2 of the bytes read)")

    wp = sub.add_parser(
        "warp", help="reproject tiles onto a target-CRS grid (gdalwarp)")
    wp.add_argument("--config")
    wp.add_argument("--dataset")
    wp.add_argument("--rasters", nargs="*")
    wp.add_argument("--out", required=True)
    wp.add_argument("--dst-epsg", type=int)
    wp.add_argument("--dst-wkt")
    wp.add_argument("--dst-res", required=True,
                    help="xres[,yres] in target units (gdalwarp -tr)")
    wp.add_argument("--dst-bounds",
                    help="xmin,ymin,xmax,ymax in target units (gdalwarp "
                         "-te; default: densified source extent)")
    wp.add_argument("--method", default="bilinear",
                    choices=["nearest", "bilinear", "cubic"])
    wp.add_argument("--tile-px", type=int, default=512)
    wp.add_argument("--nodata", type=float, default=-9999.0)
    wp.add_argument("--skip-existing", action="store_true")

    pp = sub.add_parser(
        "prep",
        help="one-command dataset preparation: warp onto an aligned "
             "grid with corner-named servable tiles + embedded COG "
             "overviews, then emit the serving config (the reference's "
             "documented gdalbuildvrt/gdalwarp/gdaladdo recipe, "
             "distributed)")
    pp.add_argument("--config")
    pp.add_argument("--dataset")
    pp.add_argument("--rasters", nargs="*")
    pp.add_argument("--out", required=True)
    pp.add_argument("--name", default="prepared",
                    help="dataset name in the emitted config")
    pp.add_argument("--dst-epsg", type=int, default=4326)
    pp.add_argument("--dst-res", required=True,
                    help="square pixel size in target units")
    pp.add_argument("--dst-bounds",
                    help="xmin,ymin,xmax,ymax (snapped outward to tile "
                         "multiples; default: source extent)")
    pp.add_argument("--method", default="bilinear",
                    choices=["nearest", "bilinear", "cubic"])
    pp.add_argument("--tile-px", type=int, default=1024)
    pp.add_argument("--overviews", default="2,4,8",
                    help="comma-separated COG levels ('' = none)")
    pp.add_argument("--nodata", type=float, default=-9999.0)
    pp.add_argument("--vrt", action="store_true",
                    help="also write <out>/<name>.vrt over the tiles")
    pp.add_argument("--skip-existing", action="store_true")

    bv = sub.add_parser(
        "buildvrt", help="write a VRT mosaic over tiles (gdalbuildvrt)")
    bv.add_argument("--config")
    bv.add_argument("--dataset")
    bv.add_argument("--rasters", nargs="*")
    bv.add_argument("--out", required=True, help="output .vrt path")

    gi = sub.add_parser(
        "info", help="print raster metadata as JSON (gdalinfo)")
    gi.add_argument("--raster", required=True)

    tc = sub.add_parser(
        "transcode",
        help="any-format tiles -> GeoTIFF (gdal_translate -of GTiff)")
    tc.add_argument("--config")
    tc.add_argument("--dataset")
    tc.add_argument("--rasters", nargs="*",
                    help="glob(s) or http(s) URLs of source tiles in any "
                         "supported format (gpkg, nc, asc, ...)")
    tc.add_argument("--out", required=True)
    tc.add_argument("--compression", default="deflate",
                    choices=["none", "deflate", "lzw", "packbits",
                             "lzma"])
    tc.add_argument("--tile-px", type=int, default=256,
                    help="output GeoTIFF internal tile size (multiple "
                         "of 16; 0 = strips)")
    tc.add_argument("--skip-existing", action="store_true")

    w = sub.add_parser(
        "tiles",
        help="datasets -> Web Mercator terrain tiles (Terrain-RGB /"
             " Terrarium web-DEM export)")
    w.add_argument("--config", help="dataset config YAML")
    w.add_argument("--dataset", help="dataset name (multidatasets ok)")
    w.add_argument("--rasters", nargs="*",
                   help="alternative to --config: files sharing ONE"
                        " directory, opened as a dataset")
    w.add_argument("--out", required=True,
                   help="parquet tile-shard dir (z, x, y, stats, png)")
    w.add_argument("--zoom", type=int, required=True,
                   help="base (finest) zoom level")
    w.add_argument("--min-zoom", type=int, default=None,
                   help="also roll the base level up into a pyramid"
                        " down to this zoom (2x2 NaN-aware average)")
    w.add_argument("--tile-px", type=int, default=256)
    w.add_argument("--encoding", default="terrarium",
                   choices=["terrarium", "terrain-rgb"])
    w.add_argument("--interpolation", default="bilinear")
    w.add_argument("--bbox", default=None,
                   help="left,bottom,right,top WGS84 clip")
    w.add_argument("--mbtiles", default=None,
                   help="also assemble one MBTiles db here (bounded"
                        " exports; the parquet shards are the scale"
                        " sink)")

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
    if ns.cmd not in ("buildvrt", "info"):  # driver-only subcommands
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

    elif ns.cmd == "prep":
        from ..operators import warp as _warp

        if ns.config and ns.dataset:
            paths = [
                p for _iy, _ix, p
                in _tile_rows_from_config(ns.config, ns.dataset)
            ]
        elif ns.rasters:
            paths = _paths_from_globs(ns.rasters)
        else:
            raise ValueError("prep needs --config/--dataset or --rasters")
        res = float(ns.dst_res)
        dst_bounds = (
            tuple(float(v) for v in ns.dst_bounds.split(","))
            if ns.dst_bounds else None
        )
        ovr = tuple(
            int(v) for v in ns.overviews.split(",") if v.strip()
        ) or None
        tiles_dir = os.path.join(ns.out, "tiles")
        manifest = _warp.warp_tiles(
            spark, paths, tiles_dir,
            dst_epsg=ns.dst_epsg, dst_res=(res, res),
            dst_bounds=dst_bounds, method=ns.method,
            tile_px=ns.tile_px, nodata=ns.nodata,
            corner_names=True, overviews=ovr,
            skip_existing=ns.skip_existing,
        )
        manifest.write.mode("overwrite").parquet(f"{ns.out}/_manifest")
        m = spark.read.parquet(f"{ns.out}/_manifest")
        n_err = m.where(m.error.isNotNull()).count()
        tile_span = ns.tile_px * res
        span_s = f"{tile_span:.6f}".rstrip("0").rstrip(".")
        cfg_path = os.path.join(ns.out, "dataset-config.yaml")
        with open(cfg_path, "w") as f:
            f.write(
                "datasets:\n"
                f"- name: {ns.name}\n"
                f"  path: {os.path.abspath(tiles_dir)}/\n"
                f"  filename_epsg: {ns.dst_epsg}\n"
                f"  filename_tile_size: {span_s}\n"
            )
        stats.update(
            tiles=m.count(), errors=n_err, out=ns.out, config=cfg_path,
            dataset_name=ns.name, filename_epsg=ns.dst_epsg,
            filename_tile_size=float(span_s),
        )
        if ns.vrt:
            from .. import gridformats as _gf

            tifs = sorted(_glob.glob(os.path.join(tiles_dir, "*.tif")))
            vrt_path = os.path.join(ns.out, f"{ns.name}.vrt")
            _gf.build_vrt(vrt_path, tifs)
            stats["vrt"] = vrt_path

    elif ns.cmd == "buildvrt":
        from .. import gridformats as _gf

        if ns.config and ns.dataset:
            paths = [
                p for _iy, _ix, p
                in _tile_rows_from_config(ns.config, ns.dataset)
            ]
        elif ns.rasters:
            paths = _paths_from_globs(ns.rasters)
        else:
            raise ValueError("buildvrt needs --config/--dataset or"
                             " --rasters")
        _gf.build_vrt(ns.out, paths)
        from ..geotiff import open_raster as _open

        r = _open(ns.out)  # validate the mosaic opens
        stats.update(
            sources=len(paths), width=r.width, height=r.height,
            out=ns.out,
        )

    elif ns.cmd == "info":
        from ..geotiff import open_raster as _open

        r = _open(ns.raster)
        ci = r.crs
        stats.update(
            path=ns.raster, width=r.width, height=r.height,
            dtype=str(r.dtype), nodata=r.nodata,
            epsg=(ci.epsg if ci else None),
            wkt=(ci.wkt if ci and not ci.epsg else None),
            origin=[r.x0, r.y0], res=[r.sx, r.sy],
            bounds=[r.bounds.left, r.bounds.bottom,
                    r.bounds.right, r.bounds.top],
            overviews=[
                {"width": o.width, "height": o.height,
                 "dtype": str(o.dtype)} for o in r.overviews
            ],
        )

    elif ns.cmd == "warp":
        from ..operators import warp as _warp

        if ns.config and ns.dataset:
            paths = [
                p for _iy, _ix, p
                in _tile_rows_from_config(ns.config, ns.dataset)
            ]
        elif ns.rasters:
            paths = _paths_from_globs(ns.rasters)
        else:
            raise ValueError("warp needs --config/--dataset or --rasters")
        res_parts = [float(v) for v in ns.dst_res.split(",")]
        dst_res = (res_parts[0], res_parts[-1])
        dst_bounds = (
            tuple(float(v) for v in ns.dst_bounds.split(","))
            if ns.dst_bounds else None
        )
        manifest = _warp.warp_tiles(
            spark, paths, ns.out,
            dst_epsg=ns.dst_epsg, dst_wkt=ns.dst_wkt,
            dst_res=dst_res, dst_bounds=dst_bounds,
            method=ns.method, tile_px=ns.tile_px, nodata=ns.nodata,
            skip_existing=ns.skip_existing,
        )
        manifest.write.mode("overwrite").parquet(f"{ns.out}/_manifest")
        m = spark.read.parquet(f"{ns.out}/_manifest")
        stats.update(
            tiles=m.count(),
            errors=m.where(m.error.isNotNull()).count(),
            out=ns.out,
        )

    elif ns.cmd == "resample":
        from ..operators import resample as _resample

        if ns.config and ns.dataset:
            tiles = _tile_rows_from_config(ns.config, ns.dataset)
        elif ns.rasters:
            tiles = _tiles_from_globs(ns.rasters)
        else:
            raise ValueError("resample needs --config/--dataset or --rasters")
        manifest = _resample.resample_tiles(
            spark, tiles, ns.out, factor=ns.factor, method=ns.method,
            skip_existing=ns.skip_existing,
            use_overviews=ns.use_overviews,
        )
        manifest.write.mode("overwrite").parquet(f"{ns.out}/_manifest")
        m = spark.read.parquet(f"{ns.out}/_manifest")
        stats.update(
            tiles=m.count(),
            errors=m.where(m.error.isNotNull()).count(),
            from_overview=m.where(m.from_overview).count(),
            out=ns.out,
        )

    elif ns.cmd == "transcode":
        from ..operators import transcode as _transcode

        if ns.rasters:
            # per-pattern: globs expand, URLs pass through verbatim —
            # a mixed glob+URL list keeps both
            paths = _paths_from_globs(ns.rasters)
        else:
            paths = _raster_paths(ns)
        manifest = _transcode.transcode_tiles(
            spark, paths, ns.out, compression=ns.compression,
            tile_size=(ns.tile_px, ns.tile_px) if ns.tile_px else None,
            skip_existing=ns.skip_existing,
        )
        manifest.write.mode("overwrite").parquet(f"{ns.out}/_manifest")
        m = spark.read.parquet(f"{ns.out}/_manifest")
        stats.update(
            tiles=m.count(),
            errors=m.where(m.error.isNotNull()).count(),
            out=ns.out,
        )

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

    elif ns.cmd == "tiles":
        from .. import config as _config
        from ..operators import tileexport as _tileexport

        if ns.config and ns.dataset:
            all_ds = _config.load_datasets(ns.config)
            dsets = _config.resolve_dataset_names(ns.dataset, all_ds)
        elif ns.rasters:
            import os as _os

            # NB: no local `glob` import here — rebinding _glob inside
            # run() would make it function-local and break every other
            # branch's --rasters globbing (UnboundLocalError)
            files = sorted({p for g in ns.rasters for p in _glob.glob(g)})
            if not files:
                raise ValueError(f"no files match {ns.rasters}")
            dirs = {_os.path.dirname(_os.path.abspath(p)) for p in files}
            if len(dirs) != 1:
                raise ValueError(
                    "tiles --rasters needs all files in ONE directory"
                    f" (got {sorted(dirs)})")
            dsets = [_config.dataset_from_config(
                "export", path=dirs.pop(), filename_tile_size=1)]
        else:
            raise ValueError("tiles needs --config/--dataset or --rasters")
        bbox = None
        if ns.bbox:
            parts = [float(v) for v in ns.bbox.split(",")]
            if len(parts) != 4:
                raise ValueError("--bbox needs left,bottom,right,top")
            bbox = tuple(parts)
        df = _tileexport.render_terrain_tiles(
            spark, dsets, ns.zoom, encoding=ns.encoding,
            tile_px=ns.tile_px, interpolation=ns.interpolation, bbox=bbox)
        if ns.min_zoom is not None:
            df = _tileexport.build_tile_pyramid(
                df, base_zoom=ns.zoom, min_zoom=ns.min_zoom,
                tile_px=ns.tile_px, encoding=ns.encoding)
        df.write.mode("overwrite").parquet(ns.out)
        back = spark.read.parquet(ns.out)
        stats.update(tiles=back.count(), out=ns.out, zoom=ns.zoom,
                     encoding=ns.encoding)
        if ns.min_zoom is not None:
            stats["min_zoom"] = ns.min_zoom
        if ns.mbtiles:
            from .. import mbtiles as _mbtiles

            rows = back.select("z", "x", "y", "tile_data").collect()
            _mbtiles.write_mbtiles_tiles(
                ns.mbtiles,
                [(r.z, r.x, r.y, bytes(r.tile_data)) for r in rows],
                encoding=ns.encoding)
            stats["mbtiles"] = ns.mbtiles

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
