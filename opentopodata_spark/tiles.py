"""Tile index + dataset registry as (broadcastable) rows.

The reference keeps an in-memory dict {(northing, easting) -> path} per
dataset (/root/reference/opentopodata/config.py:367-373) and floors query
coordinates to Decimal tile corners per request (config.py:432-451). At
engine scale that becomes:

* ``dataset_registry_rows``: one row per (request-ordered) dataset with its
  priority, bbox, filename CRS and tile size — broadcast for the coverage
  join (operator J2);
* ``tile_index_rows``: one row per raster tile with EXACT integer tile
  indices iy = corner_northing / tile_size, ix = corner_easting / tile_size
  (computed in Decimal on the driver, stored as longs) — broadcast for the
  point->tile equi-join (operator J1). Points compute the same longs with
  ``floor(coord / tile_size)`` in float64, which reproduces the reference's
  decimal_base_floor arithmetic exactly (it also divides in float:
  utils.py:60-65).

Joining on longs instead of Decimals keeps the join key cheap at 10^12-row
scale and exactly equal on both sides.
"""

from __future__ import annotations

from decimal import Decimal

from .config import Dataset, MultiDataset, SingleFileDataset, TiledDataset


def _wgs84_cover_of_projected_box(
    x0: float, y0: float, x1: float, y1: float,
    epsg: int | None = None, wkt: str | None = None,
) -> tuple[float, float, float, float] | None:
    """Conservative WGS84 bbox covering a projected rectangle, via dense
    boundary sampling PLUS an interior grid through the inverse
    projection. The interior grid matters for projections where a lat/lon
    extremum falls inside the box (e.g. an LAEA raster whose extent
    contains the pole — boundary-only sampling would under-cover and the
    bounds intersection could wrongly exclude resolvable points). None
    when the projection has no inverse (caller keeps config bounds)."""
    from . import crs as _crs

    import numpy as np

    try:
        ex = np.linspace(x0, x1, 33)
        ey = np.linspace(y0, y1, 33)
        gx, gy = np.meshgrid(np.linspace(x0, x1, 17), np.linspace(y0, y1, 17))
        xs = np.concatenate([ex, ex, np.full(33, x0), np.full(33, x1), gx.ravel()])
        ys = np.concatenate([np.full(33, y0), np.full(33, y1), ey, ey, gy.ravel()])
        lons, lats = _crs.unproject_xys(xs, ys, epsg=epsg, wkt=wkt)
    except (_crs.CRSError, ValueError, ZeroDivisionError):
        return None
    if not (np.all(np.isfinite(lons)) and np.all(np.isfinite(lats))):
        return None
    left, right = float(lons.min()), float(lons.max())
    bottom, top = float(lats.min()), float(lats.max())
    # a pole strictly inside the box defeats any finite sampling: detect it
    # by latitude saturation and widen to the full polar cap
    if top > 89.0:
        top = 90.0
    if bottom < -89.0:
        bottom = -90.0
    if top >= 90.0 or bottom <= -90.0:
        left, right = -180.0, 180.0
    # pad: residual boundary curvature between samples + epsilon
    pad_lon = 0.005 * (right - left) + 1e-6
    pad_lat = 0.005 * (top - bottom) + 1e-6
    if right - left > 180.0:  # antimeridian wrap: lon estimate is unusable
        left, right = -180.0, 180.0
        pad_lon = 0.0
    return (
        max(-180.0, left - pad_lon),
        max(-90.0, bottom - pad_lat),
        min(180.0, right + pad_lon),
        min(90.0, top + pad_lat),
    )


def derived_wgs84_bounds(ds) -> tuple[float, float, float, float] | None:
    """Dataset's true WGS84 coverage derived from raster/tile extents —
    the engine's version of the reference's advice to hand-set
    wgs84_bounds for multi-dataset performance
    (/root/reference/docs/notes/multiple-datasets.md "Performance
    optimisation", SURVEY.md P4). Conservative by construction (padded);
    None when underivable (stay with config bounds)."""
    from . import geotiff

    try:
        if isinstance(ds, SingleFileDataset):
            r = geotiff.open_raster(ds.tile_path)
            b = r.bounds
            rx, ry = r.res
            pad = 2.0 * max(abs(rx), abs(ry))
            ci = r.crs
            epsg = ci.epsg if ci and ci.epsg else None
            wkt = None if epsg else (ci.wkt if ci else None)
            if epsg is None and wkt is None:
                return None
            return _wgs84_cover_of_projected_box(
                b.left - pad, b.bottom - pad, b.right + pad, b.top + pad,
                epsg=epsg, wkt=wkt,
            )
        if isinstance(ds, TiledDataset):
            if not ds.tile_lookup:
                return None
            size = float(ds.filename_tile_size)
            ns = [float(n) for n, _e in ds.tile_lookup]
            es = [float(e) for _n, e in ds.tile_lookup]
            # tiles extend one tile_size up/right of their corner; pad a
            # bit extra for the SRTM convention ambiguity
            pad = 0.01 * size
            return _wgs84_cover_of_projected_box(
                min(es) - pad, min(ns) - pad,
                max(es) + size + pad, max(ns) + size + pad,
                epsg=int(ds.filename_epsg),
            )
    except (geotiff.RasterOpenError, OSError, ValueError):
        return None
    return None


def dataset_registry_rows(datasets: list[Dataset]) -> list[tuple]:
    """Ordered datasets -> registry rows (priority = position).

    Bounds are the INTERSECTION of the config wgs84_bounds with the
    coverage derived from the rasters themselves: the bbox-candidate join
    (J2) then never fans a point out to a dataset that could only return
    null for it. Output-identical to config-bounds-only (out-of-raster
    points yield null and fall through either way — backend.py:254-266 +
    null propagation), but the shuffle/sampling volume downstream drops
    by the false-candidate fraction."""
    rows = []
    for priority, ds in enumerate(datasets):
        if isinstance(ds, MultiDataset):
            raise ValueError("MultiDataset must be expanded before registry build")
        b = ds.wgs84_bounds
        left, bottom, right, top = (
            float(b.left), float(b.bottom), float(b.right), float(b.top)
        )
        d = derived_wgs84_bounds(ds)
        if d is not None:
            left, bottom = max(left, d[0]), max(bottom, d[1])
            right, top = min(right, d[2]), min(top, d[3])
        if isinstance(ds, SingleFileDataset):
            rows.append(
                (ds.name, priority, "single", left, bottom, right, top,
                 None, None, ds.tile_path)
            )
        else:
            rows.append(
                (ds.name, priority, "tiled", left, bottom, right, top,
                 int(ds.filename_epsg), float(ds.filename_tile_size), None)
            )
    return rows


def tile_index_rows(datasets: list[Dataset]) -> list[tuple]:
    """All tiled datasets' tiles -> (dataset, iy, ix, path) rows.

    iy/ix are exact: corner / tile_size evaluated in Decimal. A corner that
    is not an integer multiple of the tile size keeps the reference's
    behavior implicitly (the floored point key simply never equals it...
    which is also what the dict lookup would do)."""
    rows = []
    for ds in datasets:
        if not isinstance(ds, TiledDataset):
            continue
        size = ds.filename_tile_size
        for (northing, easting), path in ds.tile_lookup.items():
            iy = int(Decimal(northing) / size)
            ix = int(Decimal(easting) / size)
            # verify exactness; non-multiple corners get a sentinel index
            # that can never match a floored point key
            if Decimal(iy) * size != Decimal(northing) or Decimal(ix) * size != Decimal(easting):
                continue
            rows.append((ds.name, iy, ix, path))
    return rows
