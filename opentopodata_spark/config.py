"""Driver-side config loading + dataset registry.

Replicates the semantics of /root/reference/opentopodata/config.py:
YAML precedence (env CONFIG_PATH -> config.yaml -> example-config.yaml),
validation rules, dataset type classification (single-file vs SRTM-tiled via
filename regex), SRTM filename -> Decimal tile-corner parsing, and
MultiDataset expansion — as plain driver-side Python. The registry is then
materialized into small DataFrames (tile index, dataset registry) that the
Spark pipeline broadcast-joins against (see tiles.py).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from decimal import Decimal
from glob import glob

import numpy as np
import yaml

from . import crs as _crs
from . import geotiff
from .utilmath import decimal_base_floor

CONFIG_PATH = "config.yaml"
EXAMPLE_CONFIG_PATH = "example-config.yaml"
# Same classification regex as /root/reference/opentopodata/config.py:16
FILENAME_TILE_REGEX = r"^.*?([NS][\dx]+_?[WE][\dx]+).*?$"
# Reference list (/root/reference/opentopodata/config.py:17) plus .hdr:
# this engine reads Esri BIL rasters (gridformats.py), whose .hdr text
# sidecar must not be classified as a raster during tile discovery.
AUX_EXTENSIONS = [
    ".tfw", ".aux", ".aux.xml", ".rdd", ".jpw", ".ovr", ".prj", ".tmp", ".hdr",
]

DEFAULTS = {
    "max_locations_per_request": 100,
    "dataset.filename_tile_size": 1,
    "dataset.filename_epsg": _crs.WGS84_LATLON_EPSG,
    "access_control_allow_origin": None,
}

GLOBAL_BOUNDS = (-180.0, -90.0, 180.0, 90.0)  # left, bottom, right, top


class ConfigError(ValueError):
    """Invalid config."""


@dataclass(frozen=True)
class Bounds:
    left: float
    bottom: float
    right: float
    top: float


@dataclass
class MultiDataset:
    name: str
    child_dataset_names: list[str]

    def __post_init__(self):
        if not self.child_dataset_names:
            raise ConfigError(f"child_datasets for {self.name} can't be empty.")


@dataclass
class SingleFileDataset:
    name: str
    tile_path: str
    wgs84_bounds: Bounds = field(default_factory=lambda: Bounds(*GLOBAL_BOUNDS))

    kind = "single"

    def location_paths(self, lats, lons):
        assert len(lats) == len(lons)
        return [self.tile_path] * len(lats)


@dataclass
class TiledDataset:
    name: str
    path: str
    filename_epsg: int
    filename_tile_size: Decimal
    tile_lookup: dict[tuple[Decimal, Decimal], str]
    wgs84_bounds: Bounds = field(default_factory=lambda: Bounds(*GLOBAL_BOUNDS))

    kind = "tiled"

    def location_paths(self, lats, lons):
        """Reference-parity tile assignment
        (/root/reference/opentopodata/config.py:432-451)."""
        lats = np.asarray(lats)
        lons = np.asarray(lons)
        xs, ys = _crs.reproject_latlons(lats, lons, epsg=self.filename_epsg)
        corners = [
            (
                decimal_base_floor(y, self.filename_tile_size),
                decimal_base_floor(x, self.filename_tile_size),
            )
            for x, y in zip(np.asarray(xs, dtype=float), np.asarray(ys, dtype=float))
        ]
        return [self.tile_lookup.get(c) for c in corners]


Dataset = SingleFileDataset | TiledDataset | MultiDataset


def find_config() -> str | None:
    path_from_env = os.environ.get("CONFIG_PATH")
    if path_from_env:
        if os.path.exists(path_from_env):
            return path_from_env
        raise ConfigError(f"Config path '{path_from_env}' from env doesn't exist.")
    if os.path.exists(CONFIG_PATH):
        return CONFIG_PATH
    if os.path.exists(EXAMPLE_CONFIG_PATH):
        return EXAMPLE_CONFIG_PATH
    return None


def load_config(path: str | None = None) -> dict:
    """Read and validate a config file (same rules as
    /root/reference/opentopodata/config.py:93-154, minus CORS which has no
    engine analog)."""
    path = path or find_config()
    if not path:
        raise ConfigError(f"No config file found at {os.path.abspath(CONFIG_PATH)}.")
    try:
        with open(path) as f:
            config = yaml.safe_load(f)
    except Exception as e:
        raise ConfigError(str(e))

    if not config.get("datasets"):
        raise ConfigError("Config must contain at least one dataset.")
    if any("name" not in d for d in config["datasets"]):
        raise ConfigError("All datasets must have a 'name' attribute.")
    if any("path" not in d and "child_datasets" not in d for d in config["datasets"]):
        raise ConfigError("All datasets must have a 'path' attribute.")
    if any("," in d["name"] for d in config["datasets"]):
        raise ConfigError(
            "Dataset can't contain the ',' character, as this is used as a"
            " delimiter for multiple datasets."
        )

    # Child-dataset validation (prevents MultiDataset cycles).
    candidate_names = set()
    child_names = set()
    for d in config["datasets"]:
        if "child_datasets" in d:
            child_names.update(d["child_datasets"])
        else:
            candidate_names.add(d["name"])
    missing = child_names - candidate_names
    if missing:
        all_names = {d["name"] for d in config["datasets"]}
        msg = f"Child datasets {sorted(missing)} not in config."
        if len(missing) > len(missing - all_names):
            msg += " A child dataset can't be a MultiDataset."
        raise ConfigError(msg)

    config["max_locations_per_request"] = config.get(
        "max_locations_per_request", DEFAULTS["max_locations_per_request"]
    )
    return config


def _is_aux_file(path: str) -> bool:
    lower = path.lower()
    if any(lower.endswith(e) for e in AUX_EXTENSIONS):
        return True
    # Spark job sidecars: a directory a Spark job wrote can double as a
    # dataset dir, so _SUCCESS markers, .crc files, and anything inside an
    # underscore-prefixed subdir (e.g. _manifest parquet) are not tiles
    base = os.path.basename(path)
    if base in ("_SUCCESS", "_temporary") or base.startswith("._"):
        return True
    return lower.endswith((".crc", ".parquet"))


def parse_filename_tile_size(filename_tile_size) -> Decimal:
    """Decimal coercion rules from
    /root/reference/opentopodata/config.py:350-365: whole floats collapse to
    int; fractional floats must be given as strings."""
    if isinstance(filename_tile_size, float):
        if filename_tile_size.is_integer():
            filename_tile_size = int(filename_tile_size)
        else:
            raise ConfigError(
                "Non-integer tile sizes should be specified as a string like"
                f" filename_tile_size: '{filename_tile_size}' to avoid floating"
                " point precision issues."
            )
    try:
        return Decimal(filename_tile_size)
    except Exception:
        raise ConfigError(f"Unable to parse filename_tile_size {filename_tile_size}")


_NORTHING_RE = re.compile(r"([NS][\dx]+)_?[WE][\dx]", re.IGNORECASE)
_EASTING_RE = re.compile(r"[NS][\dx]+_?([WE][\dx]+)", re.IGNORECASE)


def filename_to_tile_corner(filename: str) -> tuple[Decimal, Decimal]:
    """SRTM filename -> (northing, easting) Decimal SW corner.

    Parity with /root/reference/opentopodata/config.py:375-409 including the
    'x'-as-decimal-point convention (N50x5W20x25 -> (50.5, -20.25)) and
    case-insensitivity (USGS_13_n00e011.tif).
    """
    filename = os.path.basename(filename)
    northing_str = _NORTHING_RE.search(filename)[1].lower().replace("x", ".")
    easting_str = _EASTING_RE.search(filename)[1].lower().replace("x", ".")
    northing_sign = 1 if northing_str.startswith("n") else -1
    easting_sign = 1 if easting_str.startswith("e") else -1
    northing = northing_sign * Decimal(northing_str[1:])
    easting = easting_sign * Decimal(easting_str[1:])
    return northing, easting


def dataset_from_config(name: str, path: str | None = None, **kwargs) -> Dataset:
    """Classify + build a dataset (parity with
    /root/reference/opentopodata/config.py:186-276).

    Remote datasets (engine extension, no reference analog): ``path``
    may be an http(s) URL. Object stores can't be globbed, so a remote
    TILED dataset must carry an explicit ``tiles:`` list of member
    filenames (relative to the URL base); a URL pointing straight at a
    raster object becomes a SingleFileDataset. Tiles are then read with
    byte-range requests on the executors (geotiff._RangeByteSource)."""
    if "child_datasets" in kwargs:
        return MultiDataset(name, kwargs["child_datasets"])

    if path and path.startswith(("http://", "https://")):
        return _dataset_from_remote(name, path, **kwargs)

    if not path or not os.path.isdir(path):
        raise ConfigError(f"No dataset folder found at location '{path}'")

    pattern = os.path.join(path, "**", "*")
    all_paths = list(glob(pattern, recursive=True))
    all_files = [p for p in all_paths if os.path.isfile(p)]
    all_rasters = sorted(p for p in all_files if not _is_aux_file(p))
    if not all_rasters:
        raise ConfigError(
            f"Dataset folder '{path}' is empty after ignoring folders and aux"
            f" files. {len(all_paths)} paths were found and {len(all_files)} files."
        )

    wgs84_bounds = None
    if "wgs84_bounds" in kwargs:
        b = kwargs["wgs84_bounds"]
        wgs84_bounds = Bounds(b["left"], b["bottom"], b["right"], b["top"])

    if len(all_rasters) == 1:
        tile_path = all_rasters[0]
        try:
            geotiff.open_raster(tile_path)
        except geotiff.RasterOpenError as e:
            raise ConfigError(f"Unsupported filetype for '{tile_path}'. ({e})")
        ds = SingleFileDataset(name, tile_path=tile_path)
        if wgs84_bounds:
            ds.wgs84_bounds = wgs84_bounds
        return ds

    filenames = [os.path.basename(p) for p in all_rasters]
    is_srtm = [re.match(FILENAME_TILE_REGEX, f, re.IGNORECASE) for f in filenames]
    if all(is_srtm):
        filename_epsg = kwargs.get("filename_epsg", DEFAULTS["dataset.filename_epsg"])
        tile_size = parse_filename_tile_size(
            kwargs.get("filename_tile_size", DEFAULTS["dataset.filename_tile_size"])
        )
        corners = [filename_to_tile_corner(p) for p in all_rasters]
        if len(corners) > len(set(corners)):
            raise ConfigError(
                "SRTM-type tile coords must be unique, cannot be the same tile"
                " with different extensions."
            )
        ds = TiledDataset(
            name,
            path=path,
            filename_epsg=filename_epsg,
            filename_tile_size=tile_size,
            tile_lookup=dict(zip(corners, all_rasters)),
        )
        if wgs84_bounds:
            ds.wgs84_bounds = wgs84_bounds
        return ds

    invalid = [fn for fn, ok in zip(filenames, is_srtm) if not ok]
    msg = (
        f"Unknown dataset type for '{name}'. Dataset should either be a single"
        " file, or split into tiles with the lower-left corner coord in the"
        " filename like 'N20W120'."
    )
    if invalid:
        msg += f" Unrecognised filename: '{invalid[0]}'."
    raise ConfigError(msg)


def _dataset_from_remote(name: str, path: str, **kwargs) -> Dataset:
    """Remote (http/https) dataset builder — see dataset_from_config."""
    wgs84_bounds = None
    if "wgs84_bounds" in kwargs:
        b = kwargs["wgs84_bounds"]
        wgs84_bounds = Bounds(b["left"], b["bottom"], b["right"], b["top"])

    tiles = kwargs.get("tiles")
    if not tiles:
        if path.endswith("/"):
            raise ConfigError(
                f"Remote dataset '{name}' points at a URL prefix; object"
                " stores can't be globbed, so list the member rasters"
                " explicitly with a 'tiles:' attribute (filenames relative"
                " to the URL), or point 'path' at a single raster object."
            )
        try:
            geotiff.open_raster(path)
        except geotiff.RasterOpenError as e:
            raise ConfigError(f"Unsupported filetype for '{path}'. ({e})")
        ds = SingleFileDataset(name, tile_path=path)
        if wgs84_bounds:
            ds.wgs84_bounds = wgs84_bounds
        return ds

    base = path if path.endswith("/") else path + "/"
    rasters = sorted(
        base + str(t).lstrip("/") for t in tiles
        if not _is_aux_file(str(t))
    )
    if not rasters:
        raise ConfigError(
            f"Remote dataset '{name}' has an empty 'tiles:' list after"
            " ignoring aux files."
        )
    if len(rasters) == 1:
        try:
            geotiff.open_raster(rasters[0])
        except geotiff.RasterOpenError as e:
            raise ConfigError(f"Unsupported filetype for '{rasters[0]}'. ({e})")
        ds = SingleFileDataset(name, tile_path=rasters[0])
        if wgs84_bounds:
            ds.wgs84_bounds = wgs84_bounds
        return ds

    filenames = [os.path.basename(p) for p in rasters]
    is_srtm = [re.match(FILENAME_TILE_REGEX, f, re.IGNORECASE) for f in filenames]
    if not all(is_srtm):
        bad = [fn for fn, ok in zip(filenames, is_srtm) if not ok][0]
        raise ConfigError(
            f"Unknown dataset type for '{name}'. Remote tiled datasets need"
            " lower-left corner coords in each tile filename like 'N20W120'."
            f" Unrecognised filename: '{bad}'."
        )
    filename_epsg = kwargs.get("filename_epsg", DEFAULTS["dataset.filename_epsg"])
    tile_size = parse_filename_tile_size(
        kwargs.get("filename_tile_size", DEFAULTS["dataset.filename_tile_size"])
    )
    corners = [filename_to_tile_corner(p) for p in rasters]
    if len(corners) > len(set(corners)):
        raise ConfigError(
            "SRTM-type tile coords must be unique, cannot be the same tile"
            " with different extensions."
        )
    ds = TiledDataset(
        name,
        path=base,
        filename_epsg=filename_epsg,
        filename_tile_size=tile_size,
        tile_lookup=dict(zip(corners, rasters)),
    )
    if wgs84_bounds:
        ds.wgs84_bounds = wgs84_bounds
    return ds


def load_datasets(config_path: str | None = None) -> dict[str, Dataset]:
    config = load_config(config_path)
    return {d["name"]: dataset_from_config(**d) for d in config["datasets"]}


def resolve_dataset_names(name: str, all_datasets: dict[str, Dataset]) -> list[Dataset]:
    """Comma-split + MultiDataset expansion + uniqueness checks
    (/root/reference/opentopodata/api.py:421-468)."""
    names = [n.strip() for n in name.strip(",").split(",")]
    names = [n for n in names if n]
    if not names:
        raise ConfigError("No valid dataset names provided.")
    if len(set(names)) < len(names):
        raise ConfigError("Duplicate dataset names provided.")
    unfound = [n for n in names if n not in all_datasets]
    if unfound:
        raise ConfigError(f"Datasets '{', '.join(unfound)}' not in config.")
    datasets: list[Dataset] = []
    for n in names:
        ds = all_datasets[n]
        if isinstance(ds, MultiDataset):
            datasets += [all_datasets[c] for c in ds.child_dataset_names]
        else:
            datasets.append(ds)
    flat_names = [d.name for d in datasets]
    if len(flat_names) > len(set(flat_names)):
        raise ConfigError("Datasets must be unique after resolving MultiDatasets.")
    return datasets
