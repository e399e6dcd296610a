"""Distributed web-terrain tile export: datasets -> XYZ elevation tiles.

The product shape of Mapbox Terrain-RGB / AWS Terrarium: render a
dataset (any supported raster format, any CRS) into Web Mercator XYZ
tiles with elevation packed into PNG RGB channels, ready to serve from
a CDN or an MBTiles container. This is the inverse of
``mbtiles.open_mbtiles`` and closes the raster -> web loop the way
``rasterize`` closes vector -> raster.

Plan shape (scale-first):
  1. the tile list at the target zoom comes from the dataset's WGS84
     coverage intersected with an optional bbox — driver-side and tiny
     (it is the OUTPUT partition list, like the terrain/overview jobs);
  2. each tile explodes into its ``tile_px**2`` pixel-center sample
     points with pure column expressions (slippy -> Web Mercator ->
     lat/lon inside codegen, no Python);
  3. the points run through the ordinary ``ElevationResolver`` — the
     engine's ONE-exchange sampling pipeline, tile keys threaded via
     ``carry=`` (no extra join);
  4. one grouped ``applyInPandas`` per output tile assembles the pixel
     grid, encodes the PNG, and emits stats + an md5 — tiles are
     independent, so this second exchange is partitioned by the output
     key and each group is exactly ``tile_px**2`` rows.

All-NODATA tiles are dropped (sparse pyramids, like the real
products). The sequential twin for oracle checks renders the same
grids through ``oracle.get_elevation``.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_ORIGIN = 20037508.342789244
_R = 6378137.0

_TILE_SCHEMA = StructType([
    StructField("z", IntegerType()),
    StructField("x", IntegerType()),
    StructField("y", IntegerType()),
    StructField("n_valid", LongType()),
    StructField("min_el", DoubleType()),
    StructField("max_el", DoubleType()),
    StructField("md5", StringType()),
    StructField("tile_data", BinaryType()),
    # packed np.packbits validity bitmap: terrain encodings have no
    # alpha, so holes encode as 0 m in the PNG — the sidecar mask is
    # what lets pyramid rollups EXCLUDE holes instead of averaging
    # fake sea level into parents
    StructField("valid_mask", BinaryType()),
])


def _encode_tile_row(grid: np.ndarray, z: int, x: int, y: int,
                     encoding: str):
    """NaN-holed float grid -> one _TILE_SCHEMA row (None if empty).
    Shared by the distributed encoders AND the sequential twins so the
    md5-exact contract can never drift between them."""
    from opentopodata_spark import mbtiles, png

    valid = np.isfinite(grid)
    n_valid = int(valid.sum())
    if n_valid == 0:
        return None  # sparse pyramid: all-NODATA tiles are dropped
    enc = grid.copy()
    enc[~valid] = 0.0  # terrain encodings have no alpha nodata
    blob = png.encode_png(
        mbtiles._encode_elevation(enc, encoding), filter_type=2)
    return (z, int(x), int(y), n_valid,
            float(np.nanmin(grid)), float(np.nanmax(grid)),
            hashlib.md5(blob).hexdigest(), bytes(blob),
            np.packbits(valid).tobytes())


def _rollup_grid(children, tile_px: int, encoding: str) -> np.ndarray:
    """2x2 NaN-aware average of up to 4 children (x, y, blob, mask)
    into the parent grid — mask-invalid pixels are EXCLUDED from the
    mean (GDAL 'average' overview semantics)."""
    from opentopodata_spark import mbtiles, png

    mosaic = np.full((2 * tile_px, 2 * tile_px), np.nan)
    for x, y, blob, mask in children:
        arr = mbtiles._decode_elevation(
            png.decode_png(bytes(blob)), encoding).astype(np.float64)
        if mask is not None:
            m = np.unpackbits(
                np.frombuffer(bytes(mask), np.uint8),
                count=tile_px * tile_px).reshape(tile_px, tile_px)
            arr[m == 0] = np.nan
        r0 = (int(y) % 2) * tile_px
        c0 = (int(x) % 2) * tile_px
        mosaic[r0:r0 + tile_px, c0:c0 + tile_px] = arr
    quads = mosaic.reshape(tile_px, 2, tile_px, 2)
    counts = np.isfinite(quads).sum(axis=(1, 3))
    sums = np.nansum(quads, axis=(1, 3))
    with np.errstate(invalid="ignore"):
        return np.where(counts > 0, sums / np.maximum(counts, 1), np.nan)


def tile_rect_for_bounds(bounds, zoom: int, bbox=None):
    """Bounding XYZ tile rectangle (x0, x1, y0, y1 inclusive) at
    ``zoom`` for a WGS84 bounds object (left/bottom/right/top), clipped
    to the Web Mercator latitude range and an optional bbox; None when
    empty. The RECTANGLE is the driver-side object — at z14 over a
    continent the key list is millions of rows and must be generated
    on the executors."""
    left, bottom, right, top = (bounds.left, bounds.bottom,
                                bounds.right, bounds.top)
    if bbox is not None:
        left = max(left, bbox[0])
        bottom = max(bottom, bbox[1])
        right = min(right, bbox[2])
        top = min(top, bbox[3])
    if left >= right or bottom >= top:
        return None
    bottom = max(bottom, -85.051128)
    top = min(top, 85.051128)
    if bottom >= top:
        return None
    n = 1 << zoom

    def merc_y(lat):
        return _R * math.log(math.tan(math.pi / 4
                                      + math.radians(lat) / 2))

    x0 = int((left + 180.0) / 360.0 * n)
    x1 = int(min((right + 180.0) / 360.0 * n, n - 1e-9))
    y0 = int((_ORIGIN - merc_y(top)) / (2 * _ORIGIN) * n)
    y1 = int(min((_ORIGIN - merc_y(bottom)) / (2 * _ORIGIN) * n,
                 n - 1e-9))
    return (x0, x1, y0, y1)


def _dataset_tile_rects(datasets, zoom: int, bbox) -> list:
    """Per-dataset bounding tile rectangles: config bounds tightened by
    the DERIVED raster coverage (tiles.derived_wgs84_bounds) — a
    dataset left at the global default bounds must not enumerate the
    whole planet's tile grid at z12."""
    from opentopodata_spark import tiles as _tiles
    from opentopodata_spark.config import Bounds

    rects = []
    for ds in datasets:
        b = ds.wgs84_bounds
        derived = _tiles.derived_wgs84_bounds(ds)
        if derived is not None:
            b = Bounds(max(b.left, derived[0]), max(b.bottom, derived[1]),
                       min(b.right, derived[2]), min(b.top, derived[3]))
        rect = tile_rect_for_bounds(b, zoom, bbox=bbox)
        if rect is not None and rect not in rects:
            rects.append(rect)
    return rects


def _dataset_tile_keys(datasets, zoom: int, bbox) -> list:
    """Materialized key list across datasets (sequential twin)."""
    keys = []
    seen = set()
    for x0, x1, y0, y1 in _dataset_tile_rects(datasets, zoom, bbox):
        for y in range(y0, y1 + 1):
            for x in range(x0, x1 + 1):
                if (x, y) not in seen:
                    seen.add((x, y))
                    keys.append((x, y))
    return keys


def _make_tile_encoder(zoom: int, tile_px: int, encoding: str):
    def encode(pdf):
        import pandas as pd

        out = []
        for (tx, ty), g in pdf.groupby(["tx", "ty"]):
            grid = np.full((tile_px, tile_px), np.nan)
            grid[g["pr"].to_numpy(), g["pc"].to_numpy()] = \
                g["elevation"].to_numpy(dtype=np.float64)
            row = _encode_tile_row(grid, zoom, tx, ty, encoding)
            if row is not None:
                out.append(row)
        cols = [f.name for f in _TILE_SCHEMA.fields]
        return pd.DataFrame(out, columns=cols)

    return encode


def render_terrain_tiles(
    spark: SparkSession,
    datasets,
    zoom: int,
    *,
    encoding: str = "terrarium",
    tile_px: int = 256,
    interpolation: str = "bilinear",
    bbox=None,
) -> DataFrame:
    """Render ``datasets`` (priority-ordered, like the resolver) into
    XYZ terrain tiles at ``zoom``. Returns a DataFrame
    (z, x, y, n_valid, min_el, max_el, md5, tile_data)."""
    from opentopodata_spark.operators.elevation import ElevationResolver

    if encoding not in ("terrarium", "terrain-rgb"):
        raise ValueError("encoding must be terrarium or terrain-rgb")
    rects = _dataset_tile_rects(datasets, zoom, bbox)
    if not rects:
        raise ValueError(f"no tiles intersect the datasets at z{zoom}")

    n = 1 << zoom
    span = 2.0 * _ORIGIN / n
    px = span / tile_px
    # tile keys are generated ON THE EXECUTORS from the driver's tiny
    # rectangle list (spark.range over each rect) — a z14 continental
    # export is millions of keys and must never ride through
    # createDataFrame; overlapping dataset rects dedupe with one
    # key-frame-only exchange (skipped in the single-rect common case)
    tiles = None
    for x0, x1, y0, y1 in rects:
        nx = x1 - x0 + 1
        r = (
            spark.range(nx * (y1 - y0 + 1))
            .select(
                (F.lit(x0) + (F.col("id") % nx)).cast("int").alias("tx"),
                (F.lit(y0) + (F.col("id") / nx).cast("long"))
                .cast("int").alias("ty"),
            )
        )
        tiles = r if tiles is None else tiles.unionByName(r)
    if len(rects) > 1:
        tiles = tiles.dropDuplicates(["tx", "ty"])
    pts = (
        tiles
        .withColumn("pr", F.explode(F.sequence(
            F.lit(0), F.lit(tile_px - 1))))
        .withColumn("pc", F.explode(F.sequence(
            F.lit(0), F.lit(tile_px - 1))))
        .withColumn("point_id",
                    ((F.col("ty").cast("long") * n + F.col("tx"))
                     * tile_px + F.col("pr")) * tile_px + F.col("pc"))
        .withColumn("_mx", F.lit(-_ORIGIN) + F.col("tx") * F.lit(span)
                    + (F.col("pc") + F.lit(0.5)) * F.lit(px))
        .withColumn("_my", F.lit(_ORIGIN) - F.col("ty") * F.lit(span)
                    - (F.col("pr") + F.lit(0.5)) * F.lit(px))
        .withColumn("lon", F.col("_mx") / F.lit(_ORIGIN) * F.lit(180.0))
        .withColumn("lat", F.degrees(
            F.lit(2.0) * F.atan(F.exp(F.col("_my") / F.lit(_R)))
            - F.lit(math.pi / 2)))
        .select("point_id", "lat", "lon", "tx", "ty", "pr", "pc")
    )
    resolver = ElevationResolver(spark, list(datasets), interpolation)
    resolved = resolver.resolve(pts, carry=("tx", "ty", "pr", "pc"))
    return (
        resolved
        .select("tx", "ty", "pr", "pc", "elevation")
        .groupBy("tx", "ty")
        .applyInPandas(_make_tile_encoder(zoom, tile_px, encoding),
                       schema=_TILE_SCHEMA)
    )


def render_terrain_tiles_sequential(datasets, zoom: int, *,
                                    encoding: str = "terrarium",
                                    tile_px: int = 256,
                                    interpolation: str = "bilinear",
                                    bbox=None) -> list:
    """Single-process twin of :func:`render_terrain_tiles` (oracle and
    small-export path): same grids through ``oracle.get_elevation``,
    same encode; returns rows in the tile schema's column order."""
    from opentopodata_spark import oracle

    keys = _dataset_tile_keys(datasets, zoom, bbox)
    n = 1 << zoom
    span = 2.0 * _ORIGIN / n
    pxs = span / tile_px
    rows = []
    for tx, ty in sorted(keys):
        mx = -_ORIGIN + tx * span + (np.arange(tile_px) + 0.5) * pxs
        my = _ORIGIN - ty * span - (np.arange(tile_px) + 0.5) * pxs
        lons = np.repeat(mx[None, :] / _ORIGIN * 180.0, tile_px, axis=0)
        lats = np.repeat(
            np.degrees(2.0 * np.arctan(np.exp(my / _R))
                       - math.pi / 2)[:, None], tile_px, axis=1)
        elev, _ = oracle.get_elevation(
            lats.ravel().tolist(), lons.ravel().tolist(),
            list(datasets), interpolation)
        grid = np.array([np.nan if v is None else float(v)
                         for v in elev]).reshape(tile_px, tile_px)
        row = _encode_tile_row(grid, zoom, tx, ty, encoding)
        if row is not None:
            rows.append(row)
    return rows


def _make_parent_encoder(parent_zoom: int, tile_px: int, encoding: str):
    """Grouped 2x2 rollup: decode up to 4 child PNGs, NaN-aware
    average each 2x2 pixel block (GDAL 'average' overview semantics —
    nodata excluded from the mean), re-encode at the parent zoom."""
    def encode(pdf):
        import pandas as pd

        out = []
        for (px_, py_), g in pdf.groupby(["parent_x", "parent_y"]):
            kids = [(row["x"], row["y"], row["tile_data"],
                     row["valid_mask"]) for _i, row in g.iterrows()]
            grid = _rollup_grid(kids, tile_px, encoding)
            row = _encode_tile_row(grid, parent_zoom, px_, py_, encoding)
            if row is not None:
                out.append(row)
        cols = [f.name for f in _TILE_SCHEMA.fields]
        return pd.DataFrame(out, columns=cols)

    return encode


def build_tile_pyramid(base: DataFrame, *, base_zoom: int, min_zoom: int,
                       tile_px: int = 256,
                       encoding: str = "terrarium") -> DataFrame:
    """Roll a base tile level up into a pyramid (min_zoom..base_zoom).

    Each parent level is one grouped applyInPandas over exactly its 4
    children — encoded PNG bytes are what shuffles (KB-scale per tile),
    never pixel rows, and level z-1 has a quarter of level z's tiles,
    so the whole pyramid costs ~1/3 extra of the base level's bytes
    (the gdaladdo geometry). Returns the union of all levels."""
    if min_zoom > base_zoom:
        raise ValueError("min_zoom must be <= base_zoom")
    levels = [base]
    level = base
    for z in range(base_zoom, min_zoom, -1):
        parent = (
            level
            .select(
                "x", "y", "tile_data", "valid_mask",
                (F.col("x") / 2).cast("int").alias("parent_x"),
                (F.col("y") / 2).cast("int").alias("parent_y"),
            )
            .groupBy("parent_x", "parent_y")
            .applyInPandas(
                _make_parent_encoder(z - 1, tile_px, encoding),
                schema=_TILE_SCHEMA,
            )
        )
        levels.append(parent)
        level = parent
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def build_tile_pyramid_sequential(rows, *, base_zoom: int, min_zoom: int,
                                  tile_px: int = 256,
                                  encoding: str = "terrarium") -> list:
    """Single-process twin of :func:`build_tile_pyramid` over collected
    base rows in _TILE_SCHEMA column order."""
    out = list(rows)
    level = {(r[1], r[2]): (bytes(r[7]), r[8]) for r in rows}
    for z in range(base_zoom, min_zoom, -1):
        parents: dict = {}
        for (x, y), (blob, mask) in level.items():
            parents.setdefault((x // 2, y // 2), []).append(
                (x, y, blob, mask))
        nxt = {}
        for (px_, py_), kids in sorted(parents.items()):
            grid = _rollup_grid(kids, tile_px, encoding)
            row = _encode_tile_row(grid, z - 1, px_, py_, encoding)
            if row is None:
                continue
            nxt[(px_, py_)] = (row[7], row[8])
            out.append(row)
        level = nxt
    return out


def write_tiles_mbtiles(rows, path: str, *, zoom: int,
                        encoding: str = "terrarium",
                        name: str = "terrain") -> None:
    """Assemble collected (z, x, y, ..., tile_data) rows into one
    MBTiles db — the convenience sink for bounded exports (the scale
    sink is the parquet tile-shard DataFrame itself)."""
    from opentopodata_spark import mbtiles

    mbtiles.write_mbtiles_tiles(
        path, [(r[1], r[2], r[7]) for r in rows],
        zoom=zoom, encoding=encoding, name=name)
