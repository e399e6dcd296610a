"""Format transcode: any supported raster tiles -> GeoTIFF tiles.

The distributed equivalent of `gdal_translate -of GTiff` over a tile
catalog — the step the reference's own performance notes prescribe
before serving (/root/reference/docs/notes/performance-optimisation.md
§"Dataset format": convert to a tiled, compressed GeoTIFF). It is also
this engine's scale path for interchange formats whose decode has no
cheap random access (netCDF3, GeoPackage pyramids): pay the decode
ONCE, tile-parallel across the cluster, and serve the hot elevation
path from windowed GeoTIFF reads thereafter.

Per-tile map, zero shuffles. Output tiles keep the SOURCE FILENAME STEM
(N00E010.nc -> N00E010.tif) so tile-corner filename parsing — the
dataset join key (reference config.py:376-409) — survives the
transcode. Atomic rename publish + value checksums in the manifest,
the same resume contract as terrain_tiles/resample_tiles.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

__all__ = ["transcode_tiles"]

MANIFEST_SCHEMA = (
    "src string, path string, width int, height int, n_valid long, "
    "checksum double, error string"
)


def transcode_tiles(
    spark: SparkSession,
    paths: list[str],
    out_dir: str,
    *,
    compression: str = "deflate",
    tile_size: tuple[int, int] | None = (256, 256),
    num_partitions: int | None = None,
    skip_existing: bool = False,
) -> DataFrame:
    """Transcode ``paths`` (any `open_raster` format, local or remote
    URL) into GeoTIFFs under ``out_dir``. Returns the manifest
    DataFrame (not yet materialized)."""
    os.makedirs(out_dir, exist_ok=True)

    def process(batches):
        from .. import geotiff

        for b in batches:
            rows = []
            for t in b.itertuples(index=False):
                src_path = t.src
                stem = os.path.splitext(
                    os.path.basename(src_path.split("?", 1)[0]))[0]
                out = os.path.join(out_dir, f"{stem}.tif")
                try:
                    if skip_existing and os.path.exists(out):
                        done = geotiff.open_raster(out)
                        band = done.read_window(
                            0, done.height, 0, done.width
                        )[0].astype(np.float64)
                        valid = (
                            band != float(done.nodata)
                            if done.nodata is not None
                            else np.isfinite(band)
                        )
                        rows.append((
                            src_path, out, done.width, done.height,
                            int(valid.sum()),
                            round(float(band[valid].sum()), 3), None,
                        ))
                        continue
                    src = geotiff.open_raster(src_path)
                    arr, _ = src.read_window(0, src.height, 0, src.width)
                    arr = np.ascontiguousarray(arr)
                    kind = arr.dtype.kind
                    predictor = 1
                    if compression in ("deflate", "lzw"):
                        predictor = 3 if kind == "f" else 2
                    ts = tile_size
                    if ts and (src.height < ts[0] or src.width < ts[1]):
                        ts = None  # strips for tiles smaller than a block
                    ci = src.crs
                    tmp = out + f".tmp{os.getpid()}"
                    geotiff.write_geotiff(
                        tmp, arr, x0=src.x0, y0=src.y0, sx=src.sx,
                        sy=src.sy,
                        epsg=(ci.epsg if ci else None),
                        wkt=(ci.wkt if ci and not ci.epsg else None),
                        nodata=src.nodata, compression=compression,
                        predictor=predictor, tile_size=ts,
                    )
                    os.replace(tmp, out)
                    band = arr.astype(np.float64)
                    valid = (
                        band != float(src.nodata)
                        if src.nodata is not None
                        else np.isfinite(band)
                    )
                    rows.append((
                        src_path, out, arr.shape[1], arr.shape[0],
                        int(valid.sum()),
                        round(float(band[valid].sum()), 3), None,
                    ))
                except Exception as e:  # noqa: BLE001 — per-tile isolation
                    rows.append((src_path, None, 0, 0, 0, None, str(e)))
            yield pd.DataFrame(
                rows,
                columns=["src", "path", "width", "height", "n_valid",
                         "checksum", "error"],
            )

    pdf = spark.createDataFrame([(p,) for p in paths], "src string")
    n = num_partitions or max(
        1, min(len(paths), spark.sparkContext.defaultParallelism)
    )
    return pdf.repartition(n).mapInPandas(process, MANIFEST_SCHEMA)
