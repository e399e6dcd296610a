"""Esri ASCII grid, gridded XYZ, Esri BIL/EHdr raster readers, and GDAL
VRT mosaics over any of the engine's formats.

The reference opens these through rasterio/GDAL (AAIGrid, XYZ, EHdr and
VRT drivers — /root/reference/opentopodata/backend.py:89 just calls
``rasterio.open``); the engine does not depend on GDAL, so it ships
minimal pure-numpy readers implementing the public format specs:

* **Esri ASCII grid** (``.asc``/``.agr``, GDAL AAIGrid): text header
  (ncols/nrows, xllcorner|xllcenter, cellsize or dx/dy, NODATA_value)
  followed by whitespace-separated samples, row 0 = north. CRS comes
  from a ``.prj`` WKT sidecar when present, else defaults to EPSG:4326
  (elevation .asc tiles are overwhelmingly geographic; the sidecar
  overrides).
* **Esri BIL / EHdr** (``.bil`` + ``.hdr`` sidecar, GDAL EHdr): flat
  binary with a key/value text header. ULXMAP/ULYMAP are the CENTER of
  the upper-left pixel (GDAL frmts/raw/ehdrdataset.cpp semantics), so
  the affine origin is offset by half a cell.

netCDF (classic and netCDF4/HDF5) is not read: ``geotiff.open_raster``
refuses ``.nc``/``.nc4`` by extension (convert to GeoTIFF).

All return the same :class:`opentopodata_spark.geotiff.Raster` the
GeoTIFF/HGT paths produce, so windowed interpolation and bounds
predicates are format-agnostic.

Scale shape: BIL is fixed-stride binary, so reads memory-map — a 4x4
interpolation window touches only the OS pages it needs, the same
property the uncompressed-GeoTIFF path has, and decoded data is never
duplicated per task. ASCII grid is text with no fixed row stride, so it
parses once at open into an in-memory array: .asc tiles are small in
practice (the format predates tiling) and the parse is one vectorized
``np.fromstring``; anything 100 TB-scale should be (and in the wild is)
GeoTIFF.
"""

from __future__ import annotations

import gzip
import os
import re

import numpy as np

from .geotiff import CRSInfo, Raster, RasterOpenError

__all__ = [
    "open_ascii_grid",
    "open_bil",
    "open_xyz",
    "write_ascii_grid",
    "write_bil",
    "write_xyz",
]


# ---------------------------------------------------------------------------
# shared: .prj sidecar -> CRSInfo
# ---------------------------------------------------------------------------

_WKT_EPSG_RE = re.compile(r'AUTHORITY\s*\[\s*"EPSG"\s*,\s*"?(\d+)"?', re.I)


def _crs_from_prj(path: str, default_epsg: int = 4326) -> CRSInfo:
    """CRS from the raster's ``.prj`` WKT sidecar. The top-level
    AUTHORITY node is the LAST one in a WKT string (inner nodes tag the
    datum/spheroid), so the last EPSG match wins. Without a sidecar the
    grid defaults to EPSG:4326 — documented divergence from GDAL (which
    leaves the CRS unset and lets the caller fail later)."""
    prj = os.path.splitext(path)[0] + ".prj"
    if not os.path.exists(prj):
        return CRSInfo(epsg=default_epsg)
    with open(prj, "r", encoding="utf-8", errors="replace") as f:
        wkt = f.read().strip()
    codes = _WKT_EPSG_RE.findall(wkt)
    return CRSInfo(epsg=int(codes[-1]) if codes else None, wkt=wkt or None)


def _read_maybe_gz(path: str) -> bytes:
    if path.lower().endswith(".gz"):
        with gzip.open(path, "rb") as f:
            return f.read()
    with open(path, "rb") as f:
        return f.read()


# ---------------------------------------------------------------------------
# Esri ASCII grid (GDAL AAIGrid)
# ---------------------------------------------------------------------------

_ASC_HEADER_KEYS = {
    "ncols", "nrows", "xllcorner", "yllcorner", "xllcenter", "yllcenter",
    "cellsize", "dx", "dy", "nodata_value",
}


def open_ascii_grid(path: str) -> Raster:
    """Parse an Esri ASCII grid (optionally ``.asc.gz``) into a Raster.

    GDAL's AAIGrid type rule is mirrored: integer-looking data (no '.',
    'e' or nan token in the body) loads as int32, anything else as
    float32 (frmts/aaigrid driver docs)."""
    text = _read_maybe_gz(path).decode("ascii", errors="replace")
    pos = 0
    header: dict[str, float] = {}
    # header: up to ~6 "key value" lines; stop at the first line whose
    # first token is not a known key (the data body)
    for m in re.finditer(r"[^\n]*\n|[^\n]+$", text):
        line = m.group(0)
        parts = line.split()
        if parts and parts[0].lower() in _ASC_HEADER_KEYS and len(parts) >= 2:
            header[parts[0].lower()] = float(parts[1])
            pos = m.end()
            continue
        break
    for req in ("ncols", "nrows"):
        if req not in header:
            raise RasterOpenError(f"'{path}': ASCII grid missing {req}")
    ncols, nrows = int(header["ncols"]), int(header["nrows"])
    if ncols <= 0 or nrows <= 0:
        raise RasterOpenError(f"'{path}': bad ASCII grid dimensions")
    if "dx" in header or "dy" in header:
        sx = float(header.get("dx", header.get("cellsize", 0)))
        sy = float(header.get("dy", header.get("cellsize", 0)))
    else:
        if "cellsize" not in header:
            raise RasterOpenError(f"'{path}': ASCII grid missing cellsize")
        sx = sy = float(header["cellsize"])
    if sx <= 0 or sy <= 0:
        raise RasterOpenError(f"'{path}': bad ASCII grid cell size")
    if "xllcorner" in header:
        x0 = header["xllcorner"]
    elif "xllcenter" in header:
        x0 = header["xllcenter"] - sx / 2.0
    else:
        raise RasterOpenError(f"'{path}': ASCII grid missing xllcorner")
    if "yllcorner" in header:
        yll = header["yllcorner"]
    elif "yllcenter" in header:
        yll = header["yllcenter"] - sy / 2.0
    else:
        raise RasterOpenError(f"'{path}': ASCII grid missing yllcorner")
    y0 = yll + nrows * sy  # top edge

    body = text[pos:]
    is_float = bool(re.search(r"[.eE]|nan|inf", body))
    try:
        data = np.array(body.split(), dtype=np.float64)
    except ValueError:
        raise RasterOpenError(f"'{path}': non-numeric ASCII grid body")
    if data.size != nrows * ncols:
        raise RasterOpenError(
            f"'{path}': ASCII grid body has {data.size} samples, "
            f"expected {nrows * ncols}"
        )
    dtype = np.dtype(np.float32) if is_float else np.dtype(np.int32)
    arr = data.reshape(nrows, ncols).astype(dtype)
    nodata = header.get("nodata_value")
    src = path[:-3] if path.lower().endswith(".gz") else path
    return Raster(
        path=path, width=ncols, height=nrows, dtype=dtype, nodata=nodata,
        crs=_crs_from_prj(src), x0=x0, y0=y0, sx=sx, sy=sy, _data=arr,
    )


def write_ascii_grid(
    path: str,
    array: np.ndarray,
    *,
    x0: float,
    y0: float,
    sx: float,
    sy: float | None = None,
    nodata: float | None = None,
    wkt: str | None = None,
) -> None:
    """Write an Esri ASCII grid (row 0 = north, (x0, y0) = top-left
    EDGE like the engine's GeoTIFF writer; the header stores the
    format's native lower-left corner). sy defaults to sx (the classic
    single-cellsize header; pass sy to emit dx/dy)."""
    a = np.asarray(array)
    if a.ndim != 2:
        raise ValueError("ASCII grid array must be 2-D")
    nrows, ncols = a.shape
    syv = sx if sy is None else sy
    lines = [f"ncols {ncols}", f"nrows {nrows}",
             f"xllcorner {x0!r}", f"yllcorner {y0 - nrows * syv!r}"]
    if sy is None:
        lines.append(f"cellsize {sx!r}")
    else:
        lines += [f"dx {sx!r}", f"dy {syv!r}"]
    if nodata is not None:
        nd = int(nodata) if float(nodata).is_integer() else nodata
        lines.append(f"NODATA_value {nd}")
    body = "\n".join(
        " ".join(repr(v) if a.dtype.kind == "f" else str(int(v)) for v in row)
        for row in a
    )
    with open(path, "w", encoding="ascii") as f:
        f.write("\n".join(lines) + "\n" + body + "\n")
    if wkt is not None:
        with open(os.path.splitext(path)[0] + ".prj", "w") as f:
            f.write(wkt)


# ---------------------------------------------------------------------------
# gridded XYZ (GDAL XYZ driver)
# ---------------------------------------------------------------------------

_XYZ_X_NAMES = ("x", "lon", "long", "longitude", "east", "easting")
_XYZ_Y_NAMES = ("y", "lat", "latitude", "north", "northing")
_XYZ_Z_NAMES = ("z", "alt", "altitude", "height", "elev", "elevation", "value")


def _xyz_pick(names: list[str], candidates: tuple[str, ...], default: int) -> int:
    for i, nm in enumerate(names):
        if nm in candidates:
            return i
    return default


def open_xyz(path: str) -> Raster:
    """Parse a gridded-XYZ DEM (optionally ``.xyz.gz``) into a Raster —
    GDAL's XYZ driver semantics: one ``x y z`` triple per line (space,
    comma, semicolon or tab separated), points on a REGULAR grid with
    coordinates at cell CENTERS, an optional header line naming the
    columns (picked by name, else positional 0/1/2). Both north-first
    and south-first scan orders load; missing cells become NaN (the
    engine's native nodata), forcing a float grid like GDAL's sparse-
    grid handling. Non-grid point clouds are rejected loudly.

    Like .asc this is a text format with no fixed row stride, so it
    parses once at open (one vectorized split); wild XYZ DEM tiles
    (e.g. the Swiss/German state open-data drops) are small per tile.
    """
    text = _read_maybe_gz(path).decode("ascii", errors="replace")
    for sep in (",", ";", "\t"):
        text = text.replace(sep, " ")
    tokens_per_line = None
    ix, iy, iz = 0, 1, 2
    body_start = 0
    for m in re.finditer(r"[^\n]*\n|[^\n]+$", text):
        parts = m.group(0).split()
        if not parts:
            body_start = m.end()
            continue
        try:
            float(parts[0])
        except ValueError:
            names = [p.lower() for p in parts]
            ix = _xyz_pick(names, _XYZ_X_NAMES, 0)
            iy = _xyz_pick(names, _XYZ_Y_NAMES, 1)
            iz = _xyz_pick(names, _XYZ_Z_NAMES, 2)
            tokens_per_line = len(parts)
            body_start = m.end()
            break
        tokens_per_line = len(parts)
        break
    body = text[body_start:]
    try:
        flat = np.array(body.split(), dtype=np.float64)
    except ValueError:
        raise RasterOpenError(f"'{path}': non-numeric XYZ body")
    ncolumns = tokens_per_line or 3
    if ncolumns < 3 or flat.size == 0 or flat.size % ncolumns:
        raise RasterOpenError(f"'{path}': XYZ body is not rows of {ncolumns}")
    vals = flat.reshape(-1, ncolumns)
    x, y, z = vals[:, ix], vals[:, iy], vals[:, iz]
    xs, ys = np.unique(x), np.unique(y)
    nrows, ncols = ys.size, xs.size
    if nrows < 1 or ncols < 1 or len(vals) > nrows * ncols:
        raise RasterOpenError(f"'{path}': XYZ points do not form a grid")
    for nm, c in (("x", xs), ("y", ys)):
        if c.size >= 2:
            steps = np.diff(c)
            if not np.allclose(steps, steps[0], rtol=1e-6, atol=0):
                raise RasterOpenError(
                    f"'{path}': non-uniform {nm} spacing — XYZ points do "
                    "not form a regular grid"
                )
    sx = float(xs[1] - xs[0]) if ncols >= 2 else 1.0
    sy = float(ys[1] - ys[0]) if nrows >= 2 else 1.0
    col = np.searchsorted(xs, x)
    row = (nrows - 1) - np.searchsorted(ys, y)  # row 0 = north
    if np.unique(row * ncols + col).size != len(vals):
        raise RasterOpenError(f"'{path}': duplicate XYZ grid point")
    sparse = len(vals) < nrows * ncols
    integral = not sparse and bool(np.all(z == np.rint(z)))
    dtype = np.dtype(np.int32) if integral else np.dtype(np.float32)
    arr = np.full((nrows, ncols), np.nan, dtype=np.float64)
    arr[row, col] = z
    src = path[:-3] if path.lower().endswith(".gz") else path
    return Raster(
        path=path, width=ncols, height=nrows, dtype=dtype, nodata=None,
        crs=_crs_from_prj(src),
        x0=float(xs[0] - sx / 2.0), y0=float(ys[-1] + sy / 2.0),
        sx=sx, sy=sy, _data=arr.astype(dtype),
    )


def write_xyz(
    path: str,
    array: np.ndarray,
    *,
    x0: float,
    y0: float,
    sx: float,
    sy: float | None = None,
    wkt: str | None = None,
    header: bool = False,
) -> None:
    """Write a gridded XYZ file (north-first scan lines, x ascending,
    cell-center coordinates — the layout GDAL's XYZ writer emits).
    (x0, y0) is the top-left EDGE like the engine's other writers."""
    a = np.asarray(array)
    if a.ndim != 2:
        raise ValueError("XYZ array must be 2-D")
    nrows, ncols = a.shape
    syv = sx if sy is None else sy
    is_f = a.dtype.kind == "f"
    lines = ["x y z"] if header else []
    for r in range(nrows):
        yv = y0 - (r + 0.5) * syv
        for c in range(ncols):
            xv = x0 + (c + 0.5) * sx
            zv = repr(float(a[r, c])) if is_f else str(int(a[r, c]))
            lines.append(f"{xv!r} {yv!r} {zv}")
    with open(path, "w", encoding="ascii") as f:
        f.write("\n".join(lines) + "\n")
    if wkt is not None:
        with open(os.path.splitext(path)[0] + ".prj", "w") as f:
            f.write(wkt)


# ---------------------------------------------------------------------------
# Esri BIL / EHdr (.bil + .hdr sidecar)
# ---------------------------------------------------------------------------

_BIL_DTYPES = {
    # (nbits, pixeltype) -> numpy kind;  EHdr PIXELTYPE defaults SIGNEDINT
    (8, "UNSIGNEDINT"): "u1", (8, "SIGNEDINT"): "i1",
    (16, "UNSIGNEDINT"): "u2", (16, "SIGNEDINT"): "i2",
    (32, "UNSIGNEDINT"): "u4", (32, "SIGNEDINT"): "i4",
    (32, "FLOAT"): "f4", (64, "FLOAT"): "f8",
}


def open_bil(path: str) -> Raster:
    """Open an Esri BIL via its .hdr sidecar. Band-interleaved-by-line
    multi-band files expose band 1 through a strided memmap view (the
    rasterio ``read(1)`` semantics the reference uses) — nothing beyond
    the touched pages is read."""
    base = os.path.splitext(path)[0]
    hdr_path = None
    for cand in (base + ".hdr", base + ".HDR"):  # GTOPO30 ships .HDR
        if os.path.exists(cand):
            hdr_path = cand
            break
    if hdr_path is None:
        raise RasterOpenError(f"'{path}': missing .hdr sidecar")
    kv: dict[str, str] = {}
    with open(hdr_path, "r", encoding="ascii", errors="replace") as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 2:
                kv[parts[0].upper()] = parts[1]
    try:
        nrows = int(kv["NROWS"])
        ncols = int(kv["NCOLS"])
    except KeyError as e:
        raise RasterOpenError(f"'{path}': .hdr missing {e.args[0]}")
    nbands = int(kv.get("NBANDS", "1"))
    nbits = int(kv.get("NBITS", "8"))
    layout = kv.get("LAYOUT", "BIL").upper()
    pixeltype = kv.get("PIXELTYPE", "SIGNEDINT").upper()
    byteorder = "<" if kv.get("BYTEORDER", "I").upper().startswith("I") else ">"
    skip = int(kv.get("SKIPBYTES", "0"))
    if layout not in ("BIL", "BSQ"):
        raise RasterOpenError(f"'{path}': unsupported layout {layout}")
    kind = _BIL_DTYPES.get((nbits, pixeltype))
    if kind is None:
        raise RasterOpenError(
            f"'{path}': unsupported NBITS={nbits} PIXELTYPE={pixeltype}"
        )
    dtype = np.dtype(byteorder + kind)
    # georeferencing: ULXMAP/ULYMAP are the CENTER of the UL pixel
    sx = float(kv.get("XDIM", "1"))
    sy = float(kv.get("YDIM", kv.get("XDIM", "1")))
    ulx = float(kv.get("ULXMAP", str(sx / 2.0)))
    uly = float(kv.get("ULYMAP", str(nrows * sy - sy / 2.0)))
    x0 = ulx - sx / 2.0
    y0 = uly + sy / 2.0
    nodata = float(kv["NODATA"]) if "NODATA" in kv else None

    if layout == "BIL" and nbands > 1:
        mm = np.memmap(path, dtype=dtype, mode="r", offset=skip,
                       shape=(nrows, nbands, ncols))
        data = mm[:, 0, :]
    else:  # single band, or BSQ where band 1 is the leading plane
        mm = np.memmap(path, dtype=dtype, mode="r", offset=skip,
                       shape=(nrows, ncols))
        data = mm
    return Raster(
        path=path, width=ncols, height=nrows, dtype=dtype, nodata=nodata,
        crs=_crs_from_prj(path), x0=x0, y0=y0, sx=sx, sy=sy, _data=data,
    )


def write_bil(
    path: str,
    array: np.ndarray,
    *,
    x0: float,
    y0: float,
    sx: float,
    sy: float | None = None,
    nodata: float | None = None,
    wkt: str | None = None,
    byteorder: str = "<",
) -> None:
    """Write a single-band BIL + .hdr (GDAL EHdr-compatible)."""
    a = np.asarray(array)
    if a.ndim != 2:
        raise ValueError("BIL array must be 2-D")
    syv = sx if sy is None else sy
    kind = a.dtype.kind
    nbits = a.dtype.itemsize * 8
    pixeltype = {"u": "UNSIGNEDINT", "i": "SIGNEDINT", "f": "FLOAT"}.get(kind)
    if pixeltype is None or (nbits, pixeltype) not in _BIL_DTYPES:
        raise ValueError(f"unsupported BIL dtype {a.dtype}")
    a.astype(a.dtype.newbyteorder(byteorder)).tofile(path)
    nrows, ncols = a.shape
    hdr = [
        "BYTEORDER I" if byteorder == "<" else "BYTEORDER M",
        "LAYOUT BIL",
        f"NROWS {nrows}", f"NCOLS {ncols}", "NBANDS 1",
        f"NBITS {nbits}", f"PIXELTYPE {pixeltype}",
        f"ULXMAP {x0 + sx / 2.0!r}", f"ULYMAP {y0 - syv / 2.0!r}",
        f"XDIM {sx!r}", f"YDIM {syv!r}",
    ]
    if nodata is not None:
        hdr.append(f"NODATA {nodata!r}")
    with open(os.path.splitext(path)[0] + ".hdr", "w") as f:
        f.write("\n".join(hdr) + "\n")
    if wkt is not None:
        with open(os.path.splitext(path)[0] + ".prj", "w") as f:
            f.write(wkt)


# ---------------------------------------------------------------------------
# GDAL VRT mosaics (XML virtual rasters over other files)
# ---------------------------------------------------------------------------

_VRT_DTYPES = {
    "Byte": "u1", "Int8": "i1", "UInt16": "u2", "Int16": "i2",
    "UInt32": "u4", "Int32": "i4", "Float32": "f4", "Float64": "f8",
}


class _VRTReader:
    """Windowed reads over a VRT band: overlay each SimpleSource /
    ComplexSource (1:1 scaling only) in document order, GDAL's painter
    semantics. Child rasters open lazily through open_raster (any
    supported format, including nested VRTs and http(s) URLs) and are
    cached per reader; in a worker their blocks come from the spill tier.
    Duck-types geotiff._BlockReader.read."""

    def __init__(self, path: str, dtype: np.dtype, height: int, width: int,
                 sources: list[dict], fill: float):
        self.path = path
        self.dtype = dtype
        self.height = height
        self.width = width
        self.sources = sources
        self.fill = fill
        self._open: dict[str, Raster] = {}

    def _child(self, fn: str) -> Raster:
        r = self._open.get(fn)
        if r is None:
            from .geotiff import open_raster

            r = open_raster(fn)
            self._open[fn] = r
        return r

    def read(self, r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
        native = self.dtype.newbyteorder("=")
        out = np.full((r1 - r0, c1 - c0), native.type(self.fill),
                      dtype=native)
        for s in self.sources:
            dr0, dc0 = s["dst_yoff"], s["dst_xoff"]
            dr1, dc1 = dr0 + s["ysize"], dc0 + s["xsize"]
            orow0, orow1 = max(r0, dr0), min(r1, dr1)
            ocol0, ocol1 = max(c0, dc0), min(c1, dc1)
            if orow0 >= orow1 or ocol0 >= ocol1:
                continue
            child = self._child(s["filename"])
            sr0 = s["src_yoff"] + (orow0 - dr0)
            sc0 = s["src_xoff"] + (ocol0 - dc0)
            win, (gr, gc) = child.read_window(
                sr0, sr0 + (orow1 - orow0), sc0, sc0 + (ocol1 - ocol0)
            )
            if win.size == 0:
                continue
            win = np.asarray(win)
            # child clipping can shrink the window at raster edges
            rr0 = orow0 + (gr - sr0)
            cc0 = ocol0 + (gc - sc0)
            patch = win.astype(native, copy=False)
            tgt = out[rr0 - r0 : rr0 - r0 + win.shape[0],
                      cc0 - c0 : cc0 - c0 + win.shape[1]]
            if s["src_nodata"] is not None:
                mask = patch != native.type(s["src_nodata"])
                np.copyto(tgt, patch, where=mask)
            else:
                tgt[...] = patch
        return out


def build_vrt(out_path: str, paths: list[str]) -> str:
    """Write a GDAL VRT mosaic over ``paths`` — the gdalbuildvrt twin
    (the reference's most-used dataset-prep tool: six call sites in
    /root/reference/docs/datasets/*.md). Driver-side metadata pass only:
    opens each source header, refuses loudly on anything gdalbuildvrt
    would mis-mosaic (mixed CRS, mixed resolution, mixed dtype,
    grid-misaligned origins) instead of warning and guessing. Children
    inside the VRT's directory are referenced relatively (the mosaic
    stays valid when the dataset directory moves); URLs and outside
    paths stay absolute. The result opens through open_raster (and
    therefore serves the elevation pipeline) like any other raster."""
    from .geotiff import open_raster

    if not paths:
        raise ValueError("build_vrt needs at least one source raster")
    metas = [(p, open_raster(p)) for p in paths]
    _p0, r0 = metas[0]
    dt_names = {v: k for k, v in _VRT_DTYPES.items()}
    key0 = r0.dtype.str.lstrip("<>=|")
    if key0 not in dt_names:
        raise ValueError(f"VRT cannot carry dtype {r0.dtype}")
    for p, r in metas:
        if r.crs is None:
            raise ValueError(f"'{p}' has no CRS; cannot mosaic")
        if (r.crs.epsg, r.crs.wkt) != (r0.crs.epsg, r0.crs.wkt):
            raise ValueError(
                f"mixed CRS: '{p}' differs from '{metas[0][0]}'"
            )
        if (abs(r.sx / r0.sx - 1.0) > 1e-9
                or abs(r.sy / r0.sy - 1.0) > 1e-9):
            raise ValueError(
                f"mixed resolution: '{p}' ({r.sx}, {r.sy}) vs"
                f" ({r0.sx}, {r0.sy})"
            )
        if r.dtype.str.lstrip("<>=|") != key0:
            raise ValueError(
                f"mixed dtype: '{p}' {r.dtype} vs {r0.dtype}"
            )
    xmin = min(r.x0 for _p, r in metas)
    ymax = max(r.y0 for _p, r in metas)
    width = height = 0
    rows = []
    for p, r in metas:
        fx = (r.x0 - xmin) / r0.sx
        fy = (ymax - r.y0) / r0.sy
        xoff, yoff = round(fx), round(fy)
        if abs(fx - xoff) > 1e-3 or abs(fy - yoff) > 1e-3:
            raise ValueError(
                f"'{p}' origin is not aligned to the mosaic grid"
                f" (offset {fx:.6f}, {fy:.6f} px)"
            )
        rows.append((p, r, int(xoff), int(yoff)))
        width = max(width, int(xoff) + r.width)
        height = max(height, int(yoff) + r.height)

    from xml.sax.saxutils import escape as _xesc

    ci = r0.crs
    srs = _xesc(f"EPSG:{ci.epsg}" if ci.epsg else ci.wkt)
    base = os.path.dirname(os.path.abspath(out_path))
    xml = [
        f'<VRTDataset rasterXSize="{width}" rasterYSize="{height}">',
        f"  <SRS>{srs}</SRS>",
        "  <GeoTransform>"
        f"{xmin!r}, {r0.sx!r}, 0.0, {ymax!r}, 0.0, {-r0.sy!r}"
        "</GeoTransform>",
        f'  <VRTRasterBand dataType="{dt_names[key0]}" band="1">',
    ]
    if r0.nodata is not None:
        xml.append(f"    <NoDataValue>{float(r0.nodata)!r}</NoDataValue>")
    for p, r, xoff, yoff in rows:
        ap = os.path.abspath(p)
        if p.startswith(("http://", "https://")):
            fn, rel = p, 0
        elif os.path.commonpath([base, ap]) == base:
            fn, rel = os.path.relpath(ap, base), 1
        else:
            fn, rel = ap, 0
        xml.append("    <SimpleSource>")
        xml.append(
            f'      <SourceFilename relativeToVRT="{rel}">{_xesc(fn)}'
            "</SourceFilename>"
        )
        xml.append("      <SourceBand>1</SourceBand>")
        xml.append(
            f'      <SrcRect xOff="0" yOff="0" xSize="{r.width}"'
            f' ySize="{r.height}"/>'
        )
        xml.append(
            f'      <DstRect xOff="{xoff}" yOff="{yoff}"'
            f' xSize="{r.width}" ySize="{r.height}"/>'
        )
        if r.nodata is not None:
            xml.append(f"      <NODATA>{float(r.nodata)!r}</NODATA>")
        xml.append("    </SimpleSource>")
    xml.append("  </VRTRasterBand>")
    xml.append("</VRTDataset>")
    tmp = out_path + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        f.write("\n".join(xml) + "\n")
    os.replace(tmp, out_path)
    return out_path


def open_vrt(path: str) -> Raster:
    """Open a GDAL VRT mosaic (the XML virtual format GDAL builds with
    gdalbuildvrt) as a Raster. Supported: single-band VRTRasterBand with
    SimpleSource / ComplexSource children at 1:1 scale (SrcRect size ==
    DstRect size), north-up GeoTransform, EPSG or WKT SRS. Scaled or
    rotated VRTs and raw-band VRTs are refused loudly."""
    import xml.etree.ElementTree as ET

    try:
        tree = ET.parse(path)
    except ET.ParseError as e:
        raise RasterOpenError(f"'{path}': unparseable VRT XML ({e})")
    root = tree.getroot()
    if root.tag != "VRTDataset":
        raise RasterOpenError(f"'{path}': not a VRTDataset")
    try:
        width = int(root.attrib["rasterXSize"])
        height = int(root.attrib["rasterYSize"])
    except (KeyError, ValueError):
        raise RasterOpenError(f"'{path}': VRT missing raster size")
    gt_el = root.find("GeoTransform")
    if gt_el is None or not gt_el.text:
        raise RasterOpenError(f"'{path}': VRT has no GeoTransform")
    gt = [float(v) for v in gt_el.text.split(",")]
    x0, sx, rot1, y0, rot2, nsy = gt
    if rot1 != 0.0 or rot2 != 0.0 or nsy >= 0 or sx <= 0:
        raise RasterOpenError(
            f"'{path}': only north-up, unrotated VRTs are supported"
        )
    sy = -nsy

    epsg = None
    wkt = None
    srs_el = root.find("SRS")
    if srs_el is not None and srs_el.text:
        txt = srs_el.text.strip()
        m = re.match(r"EPSG:(\d+)$", txt, re.IGNORECASE)
        if m:
            epsg = int(m.group(1))
        elif txt.upper().startswith(("GEOGCS", "PROJCS", "GEOGCRS",
                                     "PROJCRS")):
            wkt = txt
            mw = re.search(
                r'AUTHORITY\[\s*"EPSG"\s*,\s*"?(\d+)"?\s*\]\s*\]\s*$', txt
            )
            if mw:
                epsg = int(mw.group(1))
    if epsg is None and wkt is None:
        raise RasterOpenError(f"'{path}': VRT has no usable SRS")

    bands = root.findall("VRTRasterBand")
    if not bands:
        raise RasterOpenError(f"'{path}': VRT has no raster bands")
    band = bands[0]  # band 1 only, like every other reader here
    if band.attrib.get("subClass") not in (None, "VRTSourcedRasterBand"):
        raise RasterOpenError(
            f"'{path}': VRT band subClass"
            f" '{band.attrib.get('subClass')}' is not supported"
        )
    dt_name = band.attrib.get("dataType", "Float32")
    if dt_name not in _VRT_DTYPES:
        raise RasterOpenError(f"'{path}': VRT dataType {dt_name} unsupported")
    dtype = np.dtype("<" + _VRT_DTYPES[dt_name])
    nd_el = band.find("NoDataValue")
    nodata = float(nd_el.text) if nd_el is not None and nd_el.text else None

    base = os.path.dirname(os.path.abspath(path))
    sources = []
    for src in band:
        if src.tag not in ("SimpleSource", "ComplexSource"):
            continue
        fn_el = src.find("SourceFilename")
        if fn_el is None or not fn_el.text:
            raise RasterOpenError(f"'{path}': VRT source without filename")
        fn = fn_el.text.strip()
        rel = fn_el.attrib.get("relativeToVRT", "0") == "1"
        if rel and not fn.startswith(("http://", "https://")):
            fn = os.path.join(base, fn)
        sr = src.find("SrcRect")
        dr = src.find("DstRect")

        def rect(el, w, h):
            if el is None:
                return 0, 0, w, h
            return (int(float(el.attrib["xOff"])),
                    int(float(el.attrib["yOff"])),
                    int(float(el.attrib["xSize"])),
                    int(float(el.attrib["ySize"])))

        sxo, syo, sxs, sys_ = rect(sr, width, height)
        dxo, dyo, dxs, dys = rect(dr, width, height)
        if (sxs, sys_) != (dxs, dys):
            raise RasterOpenError(
                f"'{path}': scaled VRT sources (SrcRect != DstRect size)"
                " are not supported — regenerate with gdalbuildvrt"
                " without -tr/-outsize"
            )
        nd_src = src.find("NODATA")
        sources.append({
            "filename": fn,
            "src_xoff": sxo, "src_yoff": syo,
            "dst_xoff": dxo, "dst_yoff": dyo,
            "xsize": sxs, "ysize": sys_,
            "src_nodata": float(nd_src.text) if nd_src is not None
            and nd_src.text else None,
        })
    if not sources:
        raise RasterOpenError(f"'{path}': VRT band has no sources")

    blocks = _VRTReader(path, dtype, height, width, sources,
                        nodata if nodata is not None else 0.0)
    return Raster(
        path=path, width=width, height=height, dtype=dtype, nodata=nodata,
        crs=CRSInfo(epsg=epsg, wkt=wkt), x0=x0, y0=y0, sx=sx, sy=sy,
        _blocks=blocks,
    )
