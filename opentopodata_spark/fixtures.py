"""Deterministic synthetic fixtures replaying the reference test corpus.

The reference's binary rasters can't be copied; instead these generators
synthesize rasters with the EXACT same geometry (CRS, transform, size,
dtype, NODATA — documented in /root/repo/FIXTURES.md, extracted from the
reference fixture headers and tests/data/configs/test-config.yaml) so every
golden assertion in the reference's tests/test_backend.py etc. can be
replayed bit-for-bit against this engine.

All values are deterministic (seed 42 / analytic terrain functions). The
4326 and UTM SRTM variants sample the SAME analytic terrain so cross-CRS
equivalence tests hold to interpolation tolerance, mirroring the
reference's gdalwarp-derived UTM fixture.

Also generates the engine's input `documents` table: interleaved text+media
spans with embedded "lat,lon|..." and polyline location strings (per
BASELINE.json input_hint), with a Zipf-clustered hotspot component to
exercise skew handling.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import crs as _crs
from . import geotiff, polyline_codec

EUDEM_NODATA = -3.4028234663852886e38


def terrain_wgs84(lats, lons):
    """Smooth analytic global terrain (meters), deterministic."""
    lat = np.asarray(lats, dtype=np.float64)
    lon = np.asarray(lons, dtype=np.float64)
    return (
        800.0 * np.sin(np.radians(lon) * 2.0) * np.cos(np.radians(lat) * 3.0)
        + 400.0 * np.sin(np.radians(lat * 5.0 + 10.0))
        + 150.0 * np.cos(np.radians(lon * 7.0 - 3.0))
        + 90.0 * np.sin(np.radians(lon * 23.0)) * np.sin(np.radians(lat * 17.0))
        + 1200.0
    )


def terrain_laea(xs, ys):
    """Terrain as a function of EPSG:3035 grid coords (for EU-DEM tiles)."""
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    return (
        500.0
        + 300.0 * np.sin(x / 3.0e5)
        + 200.0 * np.cos(y / 4.0e5)
        + 80.0 * np.sin((x + y) / 1.5e5)
    )


def make_etopo1deg(dir_path: str, **tiff_kwargs) -> str:
    """R1: single-file global GeoTIFF, 361x181 float32, 1-degree pixels,
    pixel centers spanning lon -180..180, lat 90..-90."""
    os.makedirs(dir_path, exist_ok=True)
    path = os.path.join(dir_path, "ETOPO1_synthetic_1deg.tif")
    lons = np.arange(-180, 181, dtype=np.float64)
    lats = np.arange(90, -91, -1, dtype=np.float64)
    grid = terrain_wgs84(lats[:, None], lons[None, :])
    rng = np.random.default_rng(42)
    grid = grid + rng.normal(0, 5.0, grid.shape)
    write = grid.astype(np.float32)
    geotiff.write_geotiff(
        path, write, x0=-180.5, y0=90.5, sx=1.0, sy=1.0, epsg=4326, **tiff_kwargs
    )
    return path


def make_nodata(dir_path: str, **tiff_kwargs) -> str:
    """R2: the fully-pinned 3x3 NODATA fixture
    (values from /root/reference/tests/test_backend.py:166-173)."""
    os.makedirs(dir_path, exist_ok=True)
    path = os.path.join(dir_path, "nodata.geotiff")
    values = np.array(
        [[2, 1, 0], [3, 9999, 9999], [4, 9999, 9999]], dtype=np.float32
    )
    geotiff.write_geotiff(
        path, values, x0=-0.5, y0=2.5, sx=1.0, sy=1.0, epsg=4326, nodata=9999,
        **tiff_kwargs,
    )
    return path


def make_srtm_subset(dir_path: str, **tiff_kwargs) -> list[str]:
    """R3: two SRTM-named 1201x1201 int16 tiles (EPSG:4326), 1-px overlap
    (outer pixel centers on integer degree lines)."""
    os.makedirs(dir_path, exist_ok=True)
    paths = []
    res = 1.0 / 1200.0
    for lon0, name in ((10, "N00E010.tif"), (11, "N00E011.tif")):
        path = os.path.join(dir_path, name)
        lons = lon0 + np.arange(1201) * res
        lats = 1.0 - np.arange(1201) * res
        grid = terrain_wgs84(lats[:, None], lons[None, :])
        arr = np.round(grid).astype(np.int16)
        geotiff.write_geotiff(
            path, arr, x0=lon0 - res / 2, y0=1.0 + res / 2, sx=res, sy=res,
            epsg=4326, nodata=-32768, **tiff_kwargs,
        )
        paths.append(path)
    return paths


def make_srtm_hgt_zip(dir_path: str) -> list[str]:
    """Zipped SRTM ``.hgt.zip`` tiles (1201x1201 big-endian int16) over the
    same analytic terrain — exercises the GDAL-/vsizip/-equivalent container
    path (reference gets this free from GDAL,
    /root/reference/opentopodata/config.py:326-335)."""
    import zipfile

    os.makedirs(dir_path, exist_ok=True)
    paths = []
    side = 1201
    res = 1.0 / (side - 1)
    for lon0, stem in ((10, "N00E010"), (11, "N00E011")):
        lons = lon0 + np.arange(side) * res
        lats = 1.0 - np.arange(side) * res
        grid = terrain_wgs84(lats[:, None], lons[None, :])
        arr = np.round(grid).astype(">i2")
        path = os.path.join(dir_path, f"{stem}.hgt.zip")
        with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_DEFLATED) as zf:
            zf.writestr(f"{stem}.hgt", arr.tobytes())
        paths.append(path)
    return paths


def make_srtm_subset_utm(dir_path: str, **tiff_kwargs) -> list[str]:
    """R4: same terrain on EPSG:32632 grids with the reference fixture's
    exact tiepoints/sizes; mixed filename styles (incl. USGS_13_ prefix and
    lowercase, exercising the classification regex)."""
    os.makedirs(dir_path, exist_ok=True)
    tm = _crs.get_transformer(epsg=32632).proj
    specs = [
        ("N00E010.tif", 611263.66, 110597.86, 92.45, 1205, 1197),
        ("USGS_13_n00e011.tif", 722561.58, 110682.74, 92.51, 1205, 1197),
    ]
    paths = []
    for name, x0, y0, px, w, h in specs:
        path = os.path.join(dir_path, name)
        xs = x0 + (np.arange(w) + 0.5) * px
        ys = y0 - (np.arange(h) + 0.5) * px
        X, Y = np.meshgrid(xs, ys)
        lon, lat = tm.inverse(X.ravel(), Y.ravel())
        z = terrain_wgs84(lat, lon)
        inside = (lat >= -0.002) & (lat <= 1.002) & (lon >= 9.998) & (lon <= 12.002)
        arr = np.where(inside, np.round(z), -32768).astype(np.int16).reshape(h, w)
        geotiff.write_geotiff(
            path, arr, x0=x0, y0=y0, sx=px, sy=px, epsg=32632, nodata=-32768,
            **tiff_kwargs,
        )
        paths.append(path)
    return paths


def make_eudem_subset(dir_path: str, with_epsg: bool = True, **tiff_kwargs) -> list[str]:
    """R5: two 42x42 float32 EPSG:3035 tiles, 25km pixels, buffered 1px
    beyond their nominal 1,000,000 m grid cell; water (incl. the Bay of
    Biscay golden point 44.969186,-3.152424) is NODATA."""
    os.makedirs(dir_path, exist_ok=True)
    paths = []
    px = 25000.0
    # golden water point in EPSG:3035
    bx, by = _crs.reproject_latlons(
        np.array([44.969186]), np.array([-3.152424]), epsg=3035
    )
    bx, by = float(bx[0]), float(by[0])
    for x0, name in ((2975000.0, "N2000000E3000000.TIF"), (3975000.0, "N2000000E4000000.TIF")):
        y0 = 3025000.0
        path = os.path.join(dir_path, name)
        xs = x0 + (np.arange(42) + 0.5) * px
        ys = y0 - (np.arange(42) + 0.5) * px
        X, Y = np.meshgrid(xs, ys)
        grid = terrain_laea(X, Y).astype(np.float32)
        # NODATA patch around the Biscay golden point (3x3 cells)
        col = int(np.floor((bx - x0) / px))
        row = int(np.floor((y0 - by) / px))
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                r, c = row + dr, col + dc
                if 0 <= r < 42 and 0 <= c < 42:
                    grid[r, c] = EUDEM_NODATA
        kwargs = dict(epsg=3035) if with_epsg else dict(epsg=None, wkt=_crs.ETRS89_LAEA_WKT)
        geotiff.write_geotiff(
            path, grid, x0=x0, y0=y0, sx=px, sy=px, nodata=EUDEM_NODATA,
            **kwargs, **tiff_kwargs,
        )
        paths.append(path)
    return paths


TEST_CONFIG_YAML = """\
max_locations_per_request: 100
datasets:
- name: etopo1deg
  path: {root}/test-etopo1-resampled-1deg/

- name: srtm90subset
  path: {root}/test-srtm90m-subset/
  wgs84_bounds:
    left: 10
    right: 12
    bottom: 0
    top: 1

- name: srtm90utm
  path: {root}/test-srtm90m-subset-utm/

- name: nodata
  path: {root}/test-nodata/

- name: eudemsubset
  path: {root}/test-eu-dem-subset/
  filename_epsg: 3035
  filename_tile_size: 1000000

- name: eudemnoepsg
  path: {root}/test-eu-dem-subset-no-epsg/
  filename_epsg: 3035
  filename_tile_size: 1000000

- name: multi_eudem_etopo1
  child_datasets:
  - nodata
  - eudemsubset
  - etopo1deg
"""


# Per-dataset GeoTIFF write styles for the compressed fixture corpus: spans
# DEFLATE + LZW, predictors 2 (int) and 3 (float), tiled and multi-strip
# layouts — the combinations real DEM distributions use (the reference docs
# recommend DEFLATE tiles; /root/reference/docs/notes/performance-optimisation.md).
COMPRESSED_STYLES: dict[str, dict] = {
    "etopo1deg": dict(compression="deflate", predictor=3, tile_size=(64, 64)),
    "nodata": dict(compression="deflate"),
    "srtm90subset": dict(compression="lzw", predictor=2, rows_per_strip=256),
    "srtm90utm": dict(compression="deflate", predictor=2, tile_size=(256, 256)),
    "eudemsubset": dict(compression="deflate", predictor=3, rows_per_strip=16),
    "eudemnoepsg": dict(compression="lzw"),
}

SRTM_HGT_ZIP_CONFIG_EXTRA = """\

- name: srtmhgtzip
  path: {root}/test-srtm90m-hgt-zip/
  wgs84_bounds:
    left: 10
    right: 12
    bottom: 0
    top: 1
"""


def make_all_rasters(
    root: str,
    styles: dict[str, dict] | None = None,
    with_hgt_zip: bool = False,
) -> dict[str, list[str]]:
    """Generate the full fixture corpus + config. Idempotent (skips the
    rasters if the marker file already exists). ``styles`` maps dataset
    name -> extra write_geotiff kwargs (compression/predictor/layout);
    ``with_hgt_zip`` additionally generates a zipped-SRTM dataset and
    registers it. The config names absolute paths under ``root``, so the
    config of a corpus copied or moved from another root is rewritten."""
    styles = styles or {}
    os.makedirs(root, exist_ok=True)
    config_path = os.path.join(root, "test-config.yaml")
    marker = os.path.join(root, ".complete")
    config_text = TEST_CONFIG_YAML.format(root=root)
    if with_hgt_zip:
        config_text += SRTM_HGT_ZIP_CONFIG_EXTRA.format(root=root)
    if os.path.exists(marker):
        with open(config_path) as f:
            elsewhere = f"path: {root}/" not in f.read()
        if elsewhere:
            tmp = f"{config_path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                f.write(config_text)
            os.replace(tmp, config_path)
        return {"config": [config_path]}
    out = {
        "etopo1deg": [
            make_etopo1deg(
                os.path.join(root, "test-etopo1-resampled-1deg"),
                **styles.get("etopo1deg", {}),
            )
        ],
        "nodata": [
            make_nodata(os.path.join(root, "test-nodata"), **styles.get("nodata", {}))
        ],
        "srtm90subset": make_srtm_subset(
            os.path.join(root, "test-srtm90m-subset"), **styles.get("srtm90subset", {})
        ),
        "srtm90utm": make_srtm_subset_utm(
            os.path.join(root, "test-srtm90m-subset-utm"), **styles.get("srtm90utm", {})
        ),
        "eudemsubset": make_eudem_subset(
            os.path.join(root, "test-eu-dem-subset"), **styles.get("eudemsubset", {})
        ),
        "eudemnoepsg": make_eudem_subset(
            os.path.join(root, "test-eu-dem-subset-no-epsg"),
            with_epsg=False,
            **styles.get("eudemnoepsg", {}),
        ),
    }
    if with_hgt_zip:
        out["srtmhgtzip"] = make_srtm_hgt_zip(os.path.join(root, "test-srtm90m-hgt-zip"))
    with open(config_path, "w") as f:
        f.write(config_text)
    out["config"] = [config_path]
    with open(marker, "w") as f:
        f.write("ok\n")
    return out


# ---------------------------------------------------------------------------
# documents table (interleaved text+media spans) — BASELINE.json input_hint
# ---------------------------------------------------------------------------

DOCUMENTS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field(
            "spans",
            pa.list_(
                pa.struct(
                    [
                        pa.field("kind", pa.string()),
                        pa.field("text", pa.string()),
                        pa.field("media_ref", pa.string()),
                        pa.field("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)

_WORDS = (
    "ridge valley summit plateau basin slope scree moraine col couloir "
    "terrace saddle talus cirque arete spur gully crag bluff tor"
).split()


def _random_coords(rng: np.random.Generator, n: int) -> np.ndarray:
    """Mixture of regions covering all fixture datasets + global + hotspot."""
    kind = rng.choice(5, size=n, p=[0.30, 0.20, 0.10, 0.15, 0.25])
    lats = np.empty(n)
    lons = np.empty(n)
    # srtm area
    m = kind == 0
    lats[m] = rng.uniform(0.005, 0.995, m.sum())
    lons[m] = rng.uniform(10.005, 11.995, m.sum())
    # eudem area (central Europe)
    m = kind == 1
    lats[m] = rng.uniform(44.0, 54.0, m.sum())
    lons[m] = rng.uniform(-4.0, 20.0, m.sum())
    # nodata raster area
    m = kind == 2
    lats[m] = rng.uniform(-0.4, 2.4, m.sum())
    lons[m] = rng.uniform(-0.4, 2.4, m.sum())
    # global
    m = kind == 3
    lats[m] = rng.uniform(-89.9, 89.9, m.sum())
    lons[m] = rng.uniform(-179.9, 179.9, m.sum())
    # Zipf-clustered hotspot: one tiny patch inside one SRTM tile (skew!)
    m = kind == 4
    lats[m] = 0.5 + rng.normal(0, 0.01, m.sum()).clip(-0.4, 0.4)
    lons[m] = 10.5 + rng.normal(0, 0.01, m.sum()).clip(-0.4, 0.4)
    return np.round(lats, 6), np.round(lons, 6)


def make_documents(
    out_path: str,
    n_docs: int = 1000,
    seed: int = 42,
    polyline_fraction: float = 0.15,
    n_files: int = 1,
) -> str:
    """Write the interleaved-span documents parquet table.

    ``n_files > 1`` writes a directory of that many parquet files (same
    deterministic doc stream, chunked contiguously) so a Spark scan gets
    that many input splits — small single-file fixtures otherwise collapse
    the whole extraction stage onto one task."""
    rng = np.random.default_rng(seed)
    doc_ids = []
    all_spans = []
    for i in range(n_docs):
        n_spans = int(rng.integers(1, 9))
        spans = []
        offset = 0
        for j in range(n_spans):
            is_media = (j % 2 == 1) and rng.random() < 0.6
            if is_media:
                ref = f"media://blob/{int(rng.integers(0, 2**48)):012x}"
                spans.append(
                    {"kind": "media", "text": None, "media_ref": ref, "offset": offset}
                )
                offset += 1
                continue
            words = " ".join(rng.choice(_WORDS, size=int(rng.integers(2, 7))))
            r = rng.random()
            if r < polyline_fraction:
                npts = int(rng.integers(2, 5))
                lats, lons = _random_coords(rng, npts)
                enc = polyline_codec.encode(list(zip(lats, lons)))
                prefix = "enc:" if rng.random() < 0.5 else ""
                text = f"{prefix}{enc}"
            elif r < 0.75:
                npts = int(rng.integers(1, 4))
                lats, lons = _random_coords(rng, npts)
                locs = "|".join(f"{la},{lo}" for la, lo in zip(lats, lons))
                text = f"{words} {locs} {words.split()[0]}"
            else:
                text = words
            spans.append(
                {"kind": "text", "text": text, "media_ref": None, "offset": offset}
            )
            offset += len(text) + 1
        doc_ids.append(f"doc-{i:08d}")
        all_spans.append(spans)

    table = pa.Table.from_pydict(
        {"doc_id": doc_ids, "spans": all_spans}, schema=DOCUMENTS_SCHEMA
    )
    if n_files <= 1:
        os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
        pq.write_table(table, out_path)
        return out_path
    os.makedirs(out_path, exist_ok=True)
    chunk = -(-n_docs // n_files)
    for i in range(n_files):
        part = table.slice(i * chunk, chunk)
        if part.num_rows == 0:
            break
        pq.write_table(part, os.path.join(out_path, f"part-{i:05d}.parquet"))
    return out_path
