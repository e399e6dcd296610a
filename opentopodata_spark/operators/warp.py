"""Distributed raster reprojection: gdalwarp, as a per-tile Spark map.

The reference's own dataset-preparation recipes shell out to gdalwarp to
re-grid source rasters before serving (`gdalwarp -te ... -ts ... -r near`
in /root/reference/docs/datasets/gebco2020.md:104 and nzdem.md:69, and
the gdalwarp-derived test-srtm90m-subset-utm fixture its test suite
samples). This operator is that step, distributed: the TARGET grid is
cut into tiles, and each Spark task materializes one output tile by

  1. computing its pixel-center coordinates in the target CRS,
  2. inverse-projecting them to WGS84 (crs.unproject_xys),
  3. sampling every source tile that covers them through the SAME
     reprojection + bounds + interpolation path the elevation resolver
     uses (interpolate.sample_points_on_raster_arrays — reference
     backend.py semantics: half-pixel inset, NODATA-poisoned kernels,
     integer rounding),
  4. writing a north-up GeoTIFF with the atomic-rename + lineage
     manifest contract shared with resample/transcode.

Scale shape: embarrassingly parallel over output tiles — zero shuffles,
no driver-side pixel data. Each task reads only the source WINDOWS its
kernel footprints touch (windowed reads; remote sources use byte-range
reads), and candidate sources are pruned per output tile with a
broadcast WGS84 bbox index, so a 10^6-tile catalog never fans in.

Points covered by no source write NODATA (gdalwarp's behavior for
ungridded areas). Points covered by several sources take the FIRST in
the caller's tile order (deterministic; SRTM-style shared-edge overlap
is value-identical anyway).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..oracle import _open_cached

__all__ = ["warp_tiles", "warp_tiles_sequential", "suggest_dst_bounds"]

MANIFEST_SCHEMA = (
    "tile_ty long, tile_tx long, path string, width int, height int, "
    "n_valid long, checksum double, error string"
)

_DENSIFY = 33  # points per raster edge when transforming bounds


def _wgs84_outline(raster):
    """Densified boundary of a raster's extent, in WGS84 (lons, lats).
    Projected edges curve in geographic space, so corners alone
    under-cover (the classic gdalwarp suggested-extent problem)."""
    from .. import crs as _crs

    b = raster.bounds
    t = np.linspace(0.0, 1.0, _DENSIFY)
    xs = np.concatenate([
        b.left + (b.right - b.left) * t,          # top edge
        np.full(_DENSIFY, b.right),               # right edge
        b.right + (b.left - b.right) * t,         # bottom edge
        np.full(_DENSIFY, b.left),                # left edge
    ])
    ys = np.concatenate([
        np.full(_DENSIFY, b.top),
        b.top + (b.bottom - b.top) * t,
        np.full(_DENSIFY, b.bottom),
        b.bottom + (b.top - b.bottom) * t,
    ])
    ci = raster.crs
    if ci is None:
        raise ValueError(f"'{raster.path}' has no CRS; cannot warp")
    if ci.is_epsg_code:
        return _crs.unproject_xys(xs, ys, epsg=ci.epsg)
    return _crs.unproject_xys(xs, ys, wkt=ci.wkt)


def _source_metadata(paths, dst_epsg, dst_wkt):
    """ONE driver metadata pass per source (header read + one densified
    outline transform), yielding both pruning indexes:
    (wgs84 bboxes [(lat0, lat1, lon0, lon1)],
     dst-space bboxes [(x0, y0, x1, y1) or None when the source has no
     finite image in the target CRS])."""
    from .. import crs as _crs

    wgs, dst = [], []
    for p in paths:
        lons, lats = _wgs84_outline(_open_cached(p))
        lons = np.asarray(lons, dtype=np.float64)
        lats = np.asarray(lats, dtype=np.float64)
        wgs.append((
            float(np.nanmin(lats)), float(np.nanmax(lats)),
            float(np.nanmin(lons)), float(np.nanmax(lons)),
        ))
        if dst_epsg == 4326 or (dst_epsg is None and dst_wkt is None):
            xs, ys = lons, lats
        else:
            xs, ys = _crs.reproject_latlons(
                lats, lons, epsg=dst_epsg, wkt=dst_wkt
            )
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        keep = np.isfinite(xs) & np.isfinite(ys)
        if keep.any():
            dst.append((
                float(xs[keep].min()), float(ys[keep].min()),
                float(xs[keep].max()), float(ys[keep].max()),
            ))
        else:
            dst.append(None)
    return wgs, dst


def _union_dst_bounds(src_dst_bboxes):
    boxes = [b for b in src_dst_bboxes if b is not None]
    if not boxes:
        raise ValueError("no finite source extent in the target CRS")
    return (
        min(b[0] for b in boxes), min(b[1] for b in boxes),
        max(b[2] for b in boxes), max(b[3] for b in boxes),
    )


def suggest_dst_bounds(
    paths: list[str],
    *,
    dst_epsg: int | None = None,
    dst_wkt: str | None = None,
) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) in the target CRS covering every source
    tile — gdalwarp's suggested output extent (densified edges, so
    curved projection boundaries don't get clipped)."""
    _wgs, dst = _source_metadata(list(paths), dst_epsg, dst_wkt)
    return _union_dst_bounds(dst)


def _active_keys(keys, src_dst_bboxes, dst_bounds, dst_res, tile_px,
                 width, height):
    """Split output tile keys into (active, empty): a tile is EMPTY when
    its dst-space rectangle (padded by a kernel-reach margin) intersects
    no source bbox — it writes pure NODATA without a single coordinate
    transform. At a 10^6-tile target extent with sparse sources this is
    the difference between O(covered) and O(extent) transform work."""
    if any(b is None for b in src_dst_bboxes):
        return list(keys), []
    xmin, _ymin, _xmax, ymax = (float(v) for v in dst_bounds)
    xres, yres = float(dst_res[0]), abs(float(dst_res[1]))
    # generous margin: cubic reaches 2 source pixels; 8 dst pixels
    # covers any sane src/dst resolution ratio, and a wrongly-active
    # tile only costs work, never correctness
    mx, my = 8.0 * xres, 8.0 * yres
    active, empty = [], []
    for ty, tx in keys:
        x0 = xmin + tx * tile_px * xres
        x1 = xmin + min((tx + 1) * tile_px, width) * xres
        y1 = ymax - ty * tile_px * yres
        y0 = ymax - min((ty + 1) * tile_px, height) * yres
        hit = any(
            x1 + mx >= bx0 and x0 - mx <= bx1
            and y1 + my >= by0 and y0 - my <= by1
            for bx0, by0, bx1, by1 in src_dst_bboxes
        )
        (active if hit else empty).append((ty, tx))
    return active, empty


def _corner_token(v: float, pos: str, neg: str, pad: int) -> str:
    """One SRTM-style filename coordinate token: N00x5 / W120x25 — the
    reference's 'x'-as-decimal-point convention
    (/root/reference/opentopodata/config.py:375-409), round-trippable
    through config.filename_to_tile_corner."""
    from decimal import Decimal

    r = round(float(v), 6)  # sign decided AFTER rounding: a corner at
    # -9e-16 is the equator, named N00 not S00
    d = Decimal(str(abs(r)))
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    ip, _, fp = s.partition(".")
    tok = ip.zfill(pad) + (f"x{fp}" if fp else "")
    return (pos if r >= 0 else neg) + tok


def corner_tile_name(south: float, west: float) -> str:
    """SW corner -> servable tile stem (``N00x5E010``): the name the
    engine's own TiledDataset lookup (and the reference's) floors query
    coordinates onto."""
    return (_corner_token(south, "N", "S", 2)
            + _corner_token(west, "E", "W", 3))


def _tap_bounds(dst_bounds, tile_span):
    """Expand bounds outward to tile-span multiples (gdalwarp -tap):
    every output tile is then full-size with its SW corner an exact
    multiple of the span — the precondition for corner-named, directly
    servable tiles."""
    xmin, ymin, xmax, ymax = (float(v) for v in dst_bounds)
    t = float(tile_span)
    return (
        math.floor(xmin / t + 1e-9) * t,
        math.floor(ymin / t + 1e-9) * t,
        math.ceil(xmax / t - 1e-9) * t,
        math.ceil(ymax / t - 1e-9) * t,
    )


def _dst_grid(dst_bounds, dst_res, tile_px):
    """Target pixel grid: (width, height, tile keys). The grid is
    anchored at (xmin, ymax) and extends to COVER the bounds (partial
    trailing pixels kept, like gdalwarp -te with -tr)."""
    xmin, ymin, xmax, ymax = (float(v) for v in dst_bounds)
    xres, yres = float(dst_res[0]), abs(float(dst_res[1]))
    if xres <= 0 or yres <= 0:
        raise ValueError("dst_res must be positive")
    if not (xmax > xmin and ymax > ymin):
        raise ValueError("dst_bounds must be (xmin, ymin, xmax, ymax)")
    width = max(1, int(math.ceil((xmax - xmin) / xres - 1e-9)))
    height = max(1, int(math.ceil((ymax - ymin) / yres - 1e-9)))
    keys = [
        (ty, tx)
        for ty in range(-(-height // tile_px))
        for tx in range(-(-width // tile_px))
    ]
    return width, height, keys


def _sample_sources(lats, lons, src_paths, src_bboxes, method):
    """Sample WGS84 points against a pruned source list: first covering
    tile wins. Returns float64 with NaN where nothing covered (or the
    kernel touched NODATA)."""
    from ..interpolate import sample_points_on_raster_arrays

    out = np.full(lats.shape, np.nan)
    filled = np.zeros(lats.shape, dtype=bool)
    lat_lo, lat_hi = float(lats.min()), float(lats.max())
    lon_lo, lon_hi = float(lons.min()), float(lons.max())
    for p, (la0, la1, lo0, lo1) in zip(src_paths, src_bboxes):
        if la1 < lat_lo or la0 > lat_hi or lo1 < lon_lo or lo0 > lon_hi:
            continue
        todo = ~filled
        if not todo.any():
            break
        z, in_b = sample_points_on_raster_arrays(
            _open_cached(p), lats[todo], lons[todo], method
        )
        idx = np.flatnonzero(todo)[in_b]
        out[idx] = z[in_b]
        filled[idx] = True
    return out


def warp_tiles(
    spark: SparkSession,
    paths: list[str],
    out_dir: str,
    *,
    dst_epsg: int | None = None,
    dst_wkt: str | None = None,
    dst_res: tuple[float, float],
    dst_bounds: tuple[float, float, float, float] | None = None,
    method: str = "bilinear",
    tile_px: int = 512,
    dtype: str = "float32",
    nodata: float = -9999.0,
    num_partitions: int | None = None,
    skip_existing: bool = False,
    corner_names: bool = False,
    overviews: tuple | None = None,
) -> DataFrame:
    """Reproject a source tile set onto a target-CRS grid (gdalwarp).

    ``paths``: source rasters (any supported format, local or remote; all
    must carry a CRS). ``dst_epsg``/``dst_wkt``: target CRS (default
    EPSG:4326). ``dst_res``: (xres, yres) in target units. ``dst_bounds``:
    (xmin, ymin, xmax, ymax) in target units; derived from the source
    extents when omitted (densified-edge transform). ``method``:
    nearest | bilinear | cubic — gdalwarp's -r near/bilinear/cubic, with
    this engine's reference-parity kernel semantics.

    ``corner_names=True`` makes the output a directly SERVABLE tiled
    dataset: bounds snap outward to tile-span multiples (gdalwarp -tap),
    every tile is full-size, and files are named by their SW corner in
    target units (``N00x5E010.tif``) — exactly what the engine's (and
    the reference's) tile lookup floors query coordinates onto. Requires
    square pixels. ``overviews``: embed COG reduced-resolution levels in
    each output tile (write_geotiff overview IFDs).

    Returns the lineage manifest (one row per output tile); tiles publish
    via atomic rename, resumable with ``skip_existing``.
    """
    from ..interpolate import INTERPOLATION_METHODS

    if method not in INTERPOLATION_METHODS:
        raise ValueError(f"Invalid interpolation method '{method}'.")
    if dst_epsg is not None and dst_wkt is not None:
        raise ValueError("Provide only one of dst_epsg / dst_wkt.")
    if not paths:
        raise ValueError("warp_tiles needs at least one source raster")
    paths = list(paths)
    if dst_epsg is None and dst_wkt is None:
        dst_epsg = 4326
    if corner_names and abs(float(dst_res[0])) != abs(float(dst_res[1])):
        raise ValueError("corner_names requires square pixels"
                         " (xres == yres)")
    # ONE driver-side metadata pass per source (header read + one
    # densified-outline transform) feeds the executor WGS84 prune, the
    # dst-space empty-tile prune, AND the derived bounds. Broadcast so
    # a large catalog doesn't ride every task.
    src_bboxes, src_dst = _source_metadata(paths, dst_epsg, dst_wkt)
    if dst_bounds is None:
        dst_bounds = _union_dst_bounds(src_dst)
    if corner_names:
        dst_bounds = _tap_bounds(
            dst_bounds, tile_px * abs(float(dst_res[0]))
        )
    width, height, keys = _dst_grid(dst_bounds, dst_res, tile_px)
    active, empty = _active_keys(
        keys, src_dst, dst_bounds, dst_res, tile_px, width, height
    )
    xmin, _ymin, _xmax, ymax = (float(v) for v in dst_bounds)
    xres, yres = float(dst_res[0]), abs(float(dst_res[1]))
    os.makedirs(out_dir, exist_ok=True)
    bc = spark.sparkContext.broadcast((paths, src_bboxes))

    def process(batches):
        from .. import crs as _crs
        from .. import geotiff

        s_paths, s_bboxes = bc.value
        for b in batches:
            rows = []
            for t in b.itertuples(index=False):
                ty, tx = int(t.tile_ty), int(t.tile_tx)
                if corner_names:
                    stem = corner_tile_name(
                        ymax - (ty + 1) * tile_px * yres,
                        xmin + tx * tile_px * xres,
                    )
                else:
                    stem = f"warp_{ty}_{tx}"
                out = os.path.join(out_dir, f"{stem}.tif")
                try:
                    r0, c0 = ty * tile_px, tx * tile_px
                    h = min(tile_px, height - r0)
                    w = min(tile_px, width - c0)
                    if skip_existing and os.path.exists(out):
                        done = geotiff.open_raster(out)
                        band = done.read_window(
                            0, done.height, 0, done.width
                        )[0].astype(np.float64)
                        valid = band != float(done.nodata)
                        rows.append((
                            ty, tx, out, done.width, done.height,
                            int(valid.sum()),
                            round(float(band[valid].sum()), 3), None,
                        ))
                        continue
                    if bool(t.empty):
                        # provably outside every source's dst-space
                        # bbox: constant NODATA, zero transforms
                        z = np.full((h, w), np.nan)
                    else:
                        xs = xmin + (c0 + np.arange(w) + 0.5) * xres
                        ys = ymax - (r0 + np.arange(h) + 0.5) * yres
                        xx = np.broadcast_to(xs, (h, w)).ravel()
                        yy = np.repeat(ys, w)
                        lons, lats = _crs.unproject_xys(
                            xx, yy, epsg=dst_epsg, wkt=dst_wkt
                        )
                        lons = np.asarray(lons, dtype=np.float64)
                        lats = np.asarray(lats, dtype=np.float64)
                        ok = np.isfinite(lons) & np.isfinite(lats)
                        z = np.full(lats.shape, np.nan)
                        if ok.all():
                            z = _sample_sources(
                                lats, lons, s_paths, s_bboxes, method
                            )
                        elif ok.any():
                            z[ok] = _sample_sources(
                                lats[ok], lons[ok], s_paths, s_bboxes,
                                method,
                            )
                        z = z.reshape(h, w)
                    finite = np.isfinite(z)
                    arr = np.where(finite, z, nodata).astype(np.dtype(dtype))
                    tmp = out + f".tmp{os.getpid()}"
                    geotiff.write_geotiff(
                        tmp, arr,
                        x0=xmin + c0 * xres, y0=ymax - r0 * yres,
                        sx=xres, sy=yres,
                        epsg=(dst_epsg if dst_wkt is None else None),
                        wkt=dst_wkt,
                        nodata=nodata,
                        overviews=overviews,
                    )
                    os.replace(tmp, out)
                    rows.append((
                        ty, tx, out, w, h, int(finite.sum()),
                        round(float(
                            arr[finite].astype(np.float64).sum()
                        ), 3),
                        None,
                    ))
                except Exception as e:  # noqa: BLE001 — per-tile isolation
                    rows.append((ty, tx, None, 0, 0, 0, None, str(e)))
            yield pd.DataFrame(
                rows,
                columns=["tile_ty", "tile_tx", "path", "width", "height",
                         "n_valid", "checksum", "error"],
            )

    rows = [(int(ty), int(tx), False) for ty, tx in active] + [
        (int(ty), int(tx), True) for ty, tx in empty
    ]
    pdf = spark.createDataFrame(
        rows, "tile_ty long, tile_tx long, empty boolean"
    )
    n = num_partitions or max(
        1, min(len(keys), spark.sparkContext.defaultParallelism)
    )
    return pdf.repartition(n).mapInPandas(process, MANIFEST_SCHEMA)


def warp_tiles_sequential(
    paths: list[str],
    *,
    dst_epsg: int | None = None,
    dst_wkt: str | None = None,
    dst_res: tuple[float, float],
    dst_bounds: tuple[float, float, float, float] | None = None,
    method: str = "bilinear",
    tile_px: int = 512,
    dtype: str = "float32",
    nodata: float = -9999.0,
) -> list[tuple]:
    """Single-process twin of :func:`warp_tiles` (no Spark, no files):
    returns [(ty, tx, width, height, n_valid, checksum, band)] in key
    order — the independent execution path the contract query compares
    against."""
    from .. import crs as _crs
    from ..interpolate import INTERPOLATION_METHODS

    if method not in INTERPOLATION_METHODS:
        raise ValueError(f"Invalid interpolation method '{method}'.")
    paths = list(paths)
    if dst_epsg is None and dst_wkt is None:
        dst_epsg = 4326
    src_bboxes, src_dst = _source_metadata(paths, dst_epsg, dst_wkt)
    if dst_bounds is None:
        dst_bounds = _union_dst_bounds(src_dst)
    width, height, keys = _dst_grid(dst_bounds, dst_res, tile_px)
    active, empty = _active_keys(
        keys, src_dst, dst_bounds, dst_res, tile_px, width, height
    )
    empty_set = set(empty)
    xmin, _ymin, _xmax, ymax = (float(v) for v in dst_bounds)
    xres, yres = float(dst_res[0]), abs(float(dst_res[1]))
    out_rows = []
    for ty, tx in keys:
        r0, c0 = ty * tile_px, tx * tile_px
        h = min(tile_px, height - r0)
        w = min(tile_px, width - c0)
        if (ty, tx) in empty_set:
            z = np.full((h, w), np.nan)
        else:
            xs = xmin + (c0 + np.arange(w) + 0.5) * xres
            ys = ymax - (r0 + np.arange(h) + 0.5) * yres
            xx = np.broadcast_to(xs, (h, w)).ravel()
            yy = np.repeat(ys, w)
            lons, lats = _crs.unproject_xys(
                xx, yy, epsg=dst_epsg, wkt=dst_wkt
            )
            lons = np.asarray(lons, dtype=np.float64)
            lats = np.asarray(lats, dtype=np.float64)
            ok = np.isfinite(lons) & np.isfinite(lats)
            z = np.full(lats.shape, np.nan)
            if ok.any():
                z[ok] = _sample_sources(
                    lats[ok], lons[ok], paths, src_bboxes, method
                )
            z = z.reshape(h, w)
        finite = np.isfinite(z)
        arr = np.where(finite, z, nodata).astype(np.dtype(dtype))
        out_rows.append((
            ty, tx, w, h, int(finite.sum()),
            round(float(arr[finite].astype(np.float64).sum()), 3),
            arr,
        ))
    return out_rows
