"""Overview / resample builder: raster tiles -> coarser raster tiles.

The distributed equivalent of gdaladdo / `gdal_translate -outsize`, the
tool the reference's own performance notes tell users to run before
serving (/root/reference/docs/notes/performance-optimisation.md
§"Dataset format": resample + retile + compress). At engine scale this
is a per-tile map (zero shuffles): each task reads one source tile,
block-reduces it by an integer factor, and writes the overview tile —
embarrassingly parallel over a 10^6-tile catalog.

Methods (both NaN/NODATA-aware):
  average  mean of the valid pixels in each k x k block (gdaladdo's
           default overview kernel); all-NODATA block -> NODATA
  nearest  top-left pixel of each block (GDAL NEAREST decimation picks
           one source pixel per block)

Geo-referencing: the overview tile keeps the source tile's origin with
sx/sy scaled by k. Ragged edges (tile size not divisible by k) keep the
partial blocks, averaging over the pixels that exist — same as GDAL.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..oracle import _open_cached

__all__ = ["block_reduce", "resample_tiles"]

MANIFEST_SCHEMA = (
    "tile_iy long, tile_ix long, path string, width int, height int, "
    "n_valid long, checksum double, error string, from_overview boolean"
)


def block_reduce(arr: np.ndarray, k: int, method: str) -> np.ndarray:
    """(h, w) float64 with NaN nodata -> (ceil(h/k), ceil(w/k))."""
    if k < 1:
        raise ValueError("factor must be >= 1")
    if method == "nearest":
        return arr[::k, ::k]
    if method != "average":
        raise ValueError(f"Unknown resample method '{method}'.")
    h, w = arr.shape
    H, W = -(-h // k), -(-w // k)
    ph, pw = H * k - h, W * k - w
    if ph or pw:
        arr = np.pad(arr, ((0, ph), (0, pw)), constant_values=np.nan)
    blocks = arr.reshape(H, k, W, k)
    with np.errstate(invalid="ignore"):
        s = np.nansum(blocks, axis=(1, 3))
        n = np.isfinite(blocks).sum(axis=(1, 3))
        out = np.where(n > 0, s / np.maximum(n, 1), np.nan)
    return out


def resample_tiles(
    spark: SparkSession,
    tiles: list[tuple[int, int, str]],
    out_dir: str,
    *,
    factor: int = 2,
    method: str = "average",
    dtype: str = "float32",
    nodata: float = -9999.0,
    num_partitions: int | None = None,
    skip_existing: bool = False,
    use_overviews: bool = False,
) -> DataFrame:
    """Build factor-``factor`` overview tiles for a tile set. ``tiles``:
    (iy, ix, path) rows. Per-tile map, zero shuffles; outputs publish via
    atomic rename with lineage checksums (same resume contract as
    :func:`opentopodata_spark.operators.warp.warp_tiles`).

    use_overviews: serve ``method='average'`` tiles straight from an
    embedded reduced-resolution IFD (COG overview) when the source file
    carries a float-typed level at exactly ``factor`` — the level was
    built with the same NODATA-aware average kernel, so the output is
    bit-identical while reading 1/factor² of the bytes (on remote
    sources, 1/factor² of the byte-range traffic). Files without a
    matching level fall back to the full-resolution reduce; the
    manifest's ``from_overview`` column records which path served each
    tile (null for skip_existing/error rows)."""
    block_reduce(np.zeros((2, 2)), factor, method)  # validate args
    os.makedirs(out_dir, exist_ok=True)

    def process(batches):
        from .. import geotiff

        for b in batches:
            rows = []
            for t in b.itertuples(index=False):
                key = (int(t.tile_iy), int(t.tile_ix))
                out = os.path.join(
                    out_dir, f"ovr{factor}_{key[0]}_{key[1]}.tif"
                )
                try:
                    if skip_existing and os.path.exists(out):
                        done = geotiff.open_raster(out)
                        band = done.read_window(
                            0, done.height, 0, done.width
                        )[0].astype(np.float64)
                        valid = band != float(done.nodata)
                        rows.append((
                            key[0], key[1], out, done.width, done.height,
                            int(valid.sum()),
                            round(float(band[valid].sum()), 3), None, None,
                        ))
                        continue
                    src = _open_cached(t.path)
                    lvl = None
                    if use_overviews and method == "average":
                        want_h = -(-src.height // factor)
                        want_w = -(-src.width // factor)
                        for o in src.overviews:
                            # match by output dims, not scale ratio: on
                            # ragged-edge tiles (1201 % 8 != 0) the
                            # same-extent GDAL convention makes the
                            # level's derived sx 1201/151 = 7.95x, never
                            # exactly `factor`x. The loose ratio bound
                            # only disambiguates stacked levels.
                            if (
                                o.height == want_h
                                and o.width == want_w
                                and abs(o.sx / src.sx - factor) < 0.2 * factor
                                and o.dtype.kind == "f"
                            ):
                                # float levels store the exact block mean;
                                # integer levels are rounded and would
                                # drift from the full-res reduce
                                lvl = o
                                break
                    if lvl is not None:
                        res = lvl.read_block(0, lvl.height, 0, lvl.width)
                    else:
                        res = block_reduce(
                            src.read_block(0, src.height, 0, src.width),
                            factor, method,
                        )
                    finite = np.isfinite(res)
                    arr = np.where(finite, res, nodata).astype(np.dtype(dtype))
                    ci = src.crs
                    tmp = out + f".tmp{os.getpid()}"
                    geotiff.write_geotiff(
                        tmp, arr, x0=src.x0, y0=src.y0,
                        sx=src.sx * factor, sy=src.sy * factor,
                        epsg=(ci.epsg if ci else None),
                        wkt=(ci.wkt if ci and not ci.epsg else None),
                        nodata=nodata,
                    )
                    os.replace(tmp, out)
                    rows.append((
                        key[0], key[1], out, arr.shape[1], arr.shape[0],
                        int(finite.sum()),
                        round(float(arr[finite].astype(np.float64).sum()), 3),
                        None, lvl is not None,
                    ))
                except Exception as e:  # noqa: BLE001 — per-tile isolation
                    rows.append(
                        (key[0], key[1], None, 0, 0, 0, None, str(e), None)
                    )
            yield pd.DataFrame(
                rows,
                columns=["tile_iy", "tile_ix", "path", "width", "height",
                         "n_valid", "checksum", "error", "from_overview"],
            )

    pdf = spark.createDataFrame(
        [(int(iy), int(ix), p) for iy, ix, p in tiles],
        "tile_iy long, tile_ix long, path string",
    )
    n = num_partitions or max(
        1, min(len(tiles), spark.sparkContext.defaultParallelism)
    )
    return pdf.repartition(n).mapInPandas(process, MANIFEST_SCHEMA)
