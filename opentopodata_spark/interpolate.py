"""GDAL-parity raster point sampling: nearest / bilinear / cubic.

Replicates the semantics of the reference's hot path
(/root/reference/opentopodata/backend.py:72-163), which reads a 1x1
boundless masked window at a fractional offset with a GDAL resampling
kernel:

* fractional (row, col) from the dataset transform (``f.index(..., op=noop)``)
* minus 0.5 to convert center-indices to upper-left window offsets
  (backend.py:124-125)
* clipped to [0, size-1] (backend.py:130-131)
* NODATA cells are masked; a masked cell with nonzero kernel weight makes
  the result NaN (the reference's pinned NODATA-adjacency behavior,
  /root/reference/tests/test_backend.py:166-225)
* out-of-bounds points (checked with the half-pixel inset + 1e-8 epsilon,
  backend.py:33-69) return None (encoded here as +/-inf-free ``oob`` mask)
* integer-dtype rasters yield integer-rounded results (GDAL behavior noted
  at /root/reference/docs/api.md:46)

Everything is vectorized numpy over point batches — this module runs
identically in the single-process oracle and inside Spark Arrow UDFs.
"""

from __future__ import annotations

import numpy as np

from .geotiff import Raster

INTERPOLATION_METHODS = ("nearest", "bilinear", "cubic")

# GDAL's cubic resampler is cubic convolution with A = -0.5 (Catmull-Rom-like).
_CUBIC_A = -0.5


def validate_points_lie_within_raster(xs, ys, bounds, res):
    """Boolean in-bounds mask (True = inside), replicating
    /root/reference/opentopodata/backend.py:33-69 (incl. half-pixel inset
    and the 1e-8 epsilon)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    atol = 1e-8
    x_min = min(bounds.left, bounds.right) + abs(res[0]) / 2 - atol
    x_max = max(bounds.left, bounds.right) - abs(res[0]) / 2 + atol
    y_min = min(bounds.top, bounds.bottom) + abs(res[1]) / 2 - atol
    y_max = max(bounds.top, bounds.bottom) - abs(res[1]) / 2 + atol
    return (xs >= x_min) & (xs <= x_max) & (ys >= y_min) & (ys <= y_max)


def _cubic_weights(frac: np.ndarray) -> np.ndarray:
    """4 weights (offsets -1, 0, +1, +2) of cubic convolution, A=-0.5."""
    a = _CUBIC_A
    d = np.stack([frac + 1.0, frac, 1.0 - frac, 2.0 - frac])  # distances >= 0
    w = np.empty_like(d)
    inner = d <= 1.0
    w[inner] = ((a + 2.0) * d[inner] - (a + 3.0)) * d[inner] ** 2 + 1.0
    outer = ~inner
    do = d[outer]
    w[outer] = a * (do**3) - 5.0 * a * do**2 + 8.0 * a * do - 4.0 * a
    return w  # shape (4, n)


def _gather(values: np.ndarray, nodata_mask_fn, rows, cols, height, width, origin):
    """Gather values at integer raster (rows, cols); out-of-raster -> (0,
    masked). ``values`` may be a window of the raster at ``origin``; cells
    inside the raster but outside the window only occur for out-of-bounds
    points, whose results are unspecified by contract."""
    inside = (rows >= 0) & (rows < height) & (cols >= 0) & (cols < width)
    r = np.clip(rows - origin[0], 0, values.shape[0] - 1)
    c = np.clip(cols - origin[1], 0, values.shape[1] - 1)
    v = values[r, c].astype(np.float64, copy=False)
    masked = ~inside | nodata_mask_fn(v)
    v = np.where(masked, 0.0, v)
    return v, masked


def sample_raster_values(
    band: np.ndarray,
    nodata: float | None,
    rows_frac: np.ndarray,
    cols_frac: np.ndarray,
    method: str,
    dtype_kind: str,
    origin: tuple[int, int] = (0, 0),
    full_shape: tuple[int, int] | None = None,
) -> np.ndarray:
    """Sample a band at fractional center-based indices.

    Returns float64 array; NaN where the kernel touches NODATA with nonzero
    weight. Callers handle out-of-bounds separately (-> null).

    ``band`` may be a window of a larger raster: ``origin`` is its (row, col)
    offset and ``full_shape`` the raster's full (height, width). Indices are
    always raster-absolute; clipping semantics stay full-raster so windowed
    and whole-band calls are bit-identical for in-bounds points.
    """
    if method not in INTERPOLATION_METHODS:
        raise ValueError(f"Invalid interpolation method '{method}'.")
    height, width = full_shape if full_shape is not None else band.shape

    # center-index -> upper-left window offset, clipped (backend.py:124-131)
    r_off = np.clip(np.asarray(rows_frac, dtype=np.float64) - 0.5, 0, height - 1)
    c_off = np.clip(np.asarray(cols_frac, dtype=np.float64) - 0.5, 0, width - 1)

    if nodata is None:
        ndval = None

        def nodata_mask(v):
            return np.zeros(v.shape, dtype=bool)
    else:
        ndval = float(nodata)

        def nodata_mask(v):
            return v == ndval

    if method == "nearest":
        # dest pixel center falls at (off + 0.5); source pixel = floor(center)
        rr = np.floor(r_off + 0.5).astype(np.int64)
        cc = np.floor(c_off + 0.5).astype(np.int64)
        v, masked = _gather(band, nodata_mask, rr, cc, height, width, origin)
        out = np.where(masked, np.nan, v)
    else:
        if method == "bilinear":
            i0 = np.floor(r_off).astype(np.int64)
            j0 = np.floor(c_off).astype(np.int64)
            fr = r_off - i0
            fc = c_off - j0
            row_offsets = (0, 1)
            col_offsets = (0, 1)
            wr = np.stack([1.0 - fr, fr])
            wc = np.stack([1.0 - fc, fc])
        else:  # cubic
            i0 = np.floor(r_off).astype(np.int64)
            j0 = np.floor(c_off).astype(np.int64)
            fr = r_off - i0
            fc = c_off - j0
            row_offsets = (-1, 0, 1, 2)
            col_offsets = (-1, 0, 1, 2)
            wr = _cubic_weights(fr)
            wc = _cubic_weights(fc)

        acc = np.zeros(r_off.shape, dtype=np.float64)
        bad = np.zeros(r_off.shape, dtype=bool)
        for ri, dr in enumerate(row_offsets):
            for ci, dc in enumerate(col_offsets):
                w = wr[ri] * wc[ci]
                nz = w != 0.0
                if not nz.any():
                    continue
                v, masked = _gather(
                    band, nodata_mask, i0 + dr, j0 + dc, height, width, origin
                )
                bad |= nz & masked
                acc += np.where(nz, w * v, 0.0)
        out = np.where(bad, np.nan, acc)

    if dtype_kind in "iu":
        # integer source rasters -> integer-rounded interpolated values
        # (round half away from zero, like GDALCopyWord float->int)
        finite = np.isfinite(out)
        out = np.where(finite, np.copysign(np.floor(np.abs(out) + 0.5), out), out)
    return out


def sample_points_on_raster_arrays(raster: Raster, lats, lons, method: str):
    """Array-native read path: reproject -> bounds check -> sample.

    Returns ``(z, in_bounds)``: z float64 (NaN where the kernel touched
    NODATA; value at out-of-bounds positions is unspecified), in_bounds
    bool. This is the hot-path form used inside Spark Arrow UDFs — no
    per-point Python objects.
    """
    from . import crs as _crs

    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    if raster.crs.is_epsg_code:
        xs, ys = _crs.reproject_latlons(lats, lons, epsg=raster.crs.epsg)
    else:
        xs, ys = _crs.reproject_latlons(lats, lons, wkt=raster.crs.wkt)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)

    in_bounds = validate_points_lie_within_raster(xs, ys, raster.bounds, raster.res)
    rows, cols = raster.index(xs, ys)
    if not in_bounds.any():
        return np.full(lats.shape, np.nan), in_bounds

    # Windowed read: decode only the blocks this batch's in-bounds points
    # touch (margin 3 covers the cubic kernel's -1..+2 offsets after the
    # -0.5 center shift). Uncompressed rasters slice a memmap — free;
    # compressed rasters read the executor's spill tier of decoded blocks.
    rr = rows[in_bounds]
    cc = cols[in_bounds]
    margin = 3
    r0 = int(np.floor(rr.min())) - margin
    r1 = int(np.ceil(rr.max())) + margin + 1
    c0 = int(np.floor(cc.min())) - margin
    c1 = int(np.ceil(cc.max())) + margin + 1
    band, origin = raster.read_window(r0, r1, c0, c1)
    z = sample_raster_values(
        band, raster.nodata, rows, cols, method, raster.dtype.kind,
        origin=origin, full_shape=(raster.height, raster.width),
    )
    return z, in_bounds


def sample_points_on_raster(raster: Raster, lats, lons, method: str) -> list:
    """Full single-file read path, list form: None for out-of-bounds points,
    NaN for NODATA — the exact contract of
    /root/reference/opentopodata/backend.py:_get_elevation_from_path.
    """
    z, in_bounds = sample_points_on_raster_arrays(raster, lats, lons, method)
    return [None if not ok else float(v) for ok, v in zip(in_bounds, z)]
