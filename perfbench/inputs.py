"""Seeded, on-disk-cached benchmark inputs, built with the library's own
``fixtures`` and ``geotiff`` writers.

Every input lives in ``<work>/inputs/<key>/`` and is keyed by what
determines it: (workload kind, seed, size). The directory is built under
a temporary name and renamed into place, with ``meta.json`` written
last, so an interrupted build is never mistaken for a complete one.
Building is not part of any timed or set-up figure.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from opentopodata_spark import fixtures, geotiff, polyline_codec

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# make_documents writes ~2000 documents/s (a per-document Python loop),
# so larger corpora replicate a seeded base corpus under fresh doc ids:
# the coordinate mix, hotspot share and span layout stay those of the
# seed, and every replica's points get their own point ids.
BASE_DOCS = 4000
DOC_FILES = 16

# The SRTM-style mosaic: 1201x1201 int16 tiles with a 1-pixel overlap,
# laid out TILE_COLS wide from (TILE_LAT0, TILE_LON0).
TILE_PX = 1201
TILE_COLS = 12
TILE_LAT0, TILE_LON0 = 30, 0
# white noise (metres) on the smooth analytic terrain: without it a tile
# deflates ~64x and decode is nearly free; with it ~2x, like real DEMs
TILE_NOISE_M = 8.0

# extraction grammar (operators/extract.py), replayed to count the
# coordinates the generated documents carry
_PAIR = re.compile(r"(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?)")
_POLYLINE = re.compile(r"^(enc:)?[\?-~]+$")


def _cached(root: str, key: str, build) -> dict:
    final = os.path.join(root, key)
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    # paths in meta were written relative to the build dir
    return _cached(root, key, build)


def _abs(meta: dict, base: str, *keys: str) -> dict:
    out = dict(meta)
    for k in keys:
        out[k] = os.path.join(base, out[k])
    return out


def fixture_rasters(root: str) -> str:
    """The library's fixture corpus (seed-independent); returns the path
    of its config file, which defines ``multi_eudem_etopo1``."""
    out = fixtures.make_all_rasters(os.path.join(root, "fixture-rasters"))
    return out["config"][0]


def count_coordinates(table: pa.Table) -> tuple[int, int]:
    """(valid points, parsed tokens) that extraction yields for ``table``:
    every lat,lon pair in a text span containing ',' (out-of-range pairs
    are tokens but not points), and every point of a decodable, in-range
    polyline span."""
    valid = tokens = 0
    polylines = []
    for spans in table.column("spans").to_pylist():
        for s in spans or ():
            text = s["text"]
            if s["kind"] != "text" or text is None:
                continue
            if "," in text:
                for la, lo in _PAIR.findall(text):
                    tokens += 1
                    valid += -90 <= float(la) <= 90 and -180 <= float(lo) <= 180
            elif _POLYLINE.match(text):
                polylines.append(text[4:] if text.startswith("enc:") else text)
    for pts in polyline_codec.decode_batch(polylines):
        if pts and all(-90 <= la <= 90 and -180 <= lo <= 180 for la, lo in pts):
            tokens += len(pts)
            valid += len(pts)
    return valid, tokens


def documents(root: str, seed: int, n_docs: int) -> dict:
    """``n_docs`` documents in DOC_FILES parquet files, plus the number of
    valid coordinates and parsed tokens they carry."""

    def build(tmp):
        n_base = min(BASE_DOCS, n_docs)
        base_path = fixtures.make_documents(
            os.path.join(tmp, "base.parquet"), n_docs=n_base, seed=seed
        )
        base = pq.read_table(base_path)
        os.remove(base_path)
        valid, tokens = count_coordinates(base)
        copies = math.ceil(n_docs / n_base)
        parts = []
        for k in range(copies):
            ids = pc.binary_join_element_wise(base["doc_id"], f"-r{k:04d}", "")
            parts.append(base.set_column(0, "doc_id", ids))
        table = pa.concat_tables(parts).slice(0, n_docs)
        full, rest = divmod(n_docs, n_base)
        rest_valid, rest_tokens = count_coordinates(base.slice(0, rest))
        out = os.path.join(tmp, "docs")
        os.makedirs(out)
        per_file = math.ceil(n_docs / DOC_FILES)
        for i in range(DOC_FILES):
            part = table.slice(i * per_file, per_file)
            if part.num_rows:
                pq.write_table(part, os.path.join(out, f"part-{i:05d}.parquet"))
        return {
            "docs": "docs",
            "n_docs": n_docs,
            "n_coords": full * valid + rest_valid,
            "n_tokens": full * tokens + rest_tokens,
        }

    key = f"docs-s{seed}-n{n_docs}"
    return _abs(_cached(root, key, build), os.path.join(root, key), "docs")


def _write_tile(job) -> None:
    path, lat0, lon0 = job
    res = 1.0 / (TILE_PX - 1)
    lats = lat0 + 1 - np.arange(TILE_PX) * res
    lons = lon0 + np.arange(TILE_PX) * res
    grid = fixtures.terrain_wgs84(lats[:, None], lons[None, :])
    rng = np.random.default_rng([lat0 + 90, lon0 + 180])
    grid = grid + rng.normal(0.0, TILE_NOISE_M, grid.shape)
    geotiff.write_geotiff(
        path, np.round(grid).astype(np.int16),
        x0=lon0 - res / 2, y0=lat0 + 1 + res / 2, sx=res, sy=res,
        epsg=4326, nodata=-32768, compression="deflate", predictor=2,
        tile_size=(256, 256),
    )


def _tile_origin(i: int) -> tuple[int, int]:
    return TILE_LAT0 + i // TILE_COLS, TILE_LON0 + i % TILE_COLS


def srtm_tiles(root: str, n_tiles: int, procs: int) -> dict:
    """``n_tiles`` DEFLATE-compressed, internally tiled SRTM-style tiles
    and a config defining them as dataset ``srtm_tiles``. The terrain is
    seed-independent (the points are seeded), so one mosaic serves every
    seed."""

    key = f"srtm-t{n_tiles}"

    def build(tmp):
        os.makedirs(os.path.join(tmp, "srtm"))
        jobs = []
        for i in range(n_tiles):
            lat0, lon0 = _tile_origin(i)
            name = f"N{lat0:02d}E{lon0:03d}.tif"
            jobs.append((os.path.join(tmp, "srtm", name), lat0, lon0))
        # one fresh interpreter per slice of tiles (no fork of a process
        # that may hold threads, no pool helper process left behind)
        env = dict(os.environ, PYTHONPATH=_ROOT)
        workers = [
            subprocess.Popen(
                [sys.executable, "-c",
                 "import json, sys; from perfbench import inputs; "
                 "[inputs._write_tile(j) for j in json.load(sys.stdin)]"],
                stdin=subprocess.PIPE, env=env, text=True)
            for _ in range(max(1, min(procs, n_tiles)))
        ]
        for k, w in enumerate(workers):
            w.stdin.write(json.dumps(jobs[k::len(workers)]))
            w.stdin.close()
        if any(w.wait() for w in workers):
            raise RuntimeError("tile generation failed")
        # the config names the directory the build is renamed to
        with open(os.path.join(tmp, "config.yaml"), "w") as f:
            f.write("datasets:\n- name: srtm_tiles\n"
                    f"  path: {os.path.join(root, key, 'srtm')}/\n")
        return {
            "config": "config.yaml",
            "n_tiles": n_tiles,
            "decoded_mb": n_tiles * TILE_PX * TILE_PX * 2 / 2**20,
        }

    return _abs(_cached(root, key, build), os.path.join(root, key), "config")


def tile_points(root: str, seed: int, n_points: int, n_tiles: int) -> dict:
    """``n_points`` (point_id, lat, lon) rows, uniform over the mosaic."""

    def build(tmp):
        rng = np.random.default_rng(seed)
        tile = rng.integers(0, n_tiles, n_points)
        lat0, lon0 = _tile_origin(tile)
        lat = lat0 + rng.uniform(0.0, 1.0, n_points)
        lon = lon0 + rng.uniform(0.0, 1.0, n_points)
        table = pa.table({
            "point_id": pa.array(np.arange(n_points, dtype=np.int64)),
            "lat": pa.array(np.round(lat, 6)),
            "lon": pa.array(np.round(lon, 6)),
        })
        # several row groups, so the scan splits across tasks
        pq.write_table(table, os.path.join(tmp, "points.parquet"),
                       row_group_size=max(1, n_points // DOC_FILES))
        return {"points": "points.parquet", "n_points": n_points}

    key = f"tilepoints-s{seed}-n{n_points}-t{n_tiles}"
    return _abs(_cached(root, key, build), os.path.join(root, key), "points")


def profile_paths(root: str, seed: int, n_paths: int, box=None) -> dict:
    """``n_paths`` 3-5 waypoint paths with legs of up to 1.5 degrees per
    axis. Without ``box``, half start inside the EU-DEM fixture window (so
    samples reproject to EPSG:3035) and half anywhere between 60S and 60N;
    with ``box`` = (lat0, lat1, lon0, lon1) every waypoint stays inside."""

    def build(tmp):
        rng = np.random.default_rng(seed)
        lats, lons = [], []
        for i in range(n_paths):
            n_way = int(rng.integers(3, 6))
            if box is not None:
                la, lo = rng.uniform(box[0], box[1]), rng.uniform(box[2], box[3])
            elif i % 2 == 0:
                la, lo = rng.uniform(44.0, 54.0), rng.uniform(-4.0, 20.0)
            else:
                la, lo = rng.uniform(-60.0, 60.0), rng.uniform(-170.0, 170.0)
            steps = rng.uniform(-1.5, 1.5, (n_way - 1, 2))
            la_s = la + np.concatenate([[0.0], np.cumsum(steps[:, 0])])
            lo_s = lo + np.concatenate([[0.0], np.cumsum(steps[:, 1])])
            if box is not None:
                la_s = np.clip(la_s, box[0], box[1])
                lo_s = np.clip(lo_s, box[2], box[3])
            lats.append(np.round(la_s, 6).tolist())
            lons.append(np.round(lo_s, 6).tolist())
        table = pa.table({
            "path_id": pa.array(np.arange(n_paths, dtype=np.int64)),
            "lats": pa.array(lats, pa.list_(pa.float64())),
            "lons": pa.array(lons, pa.list_(pa.float64())),
        })
        pq.write_table(table, os.path.join(tmp, "paths.parquet"),
                       row_group_size=max(1, n_paths // DOC_FILES))
        return {"paths": "paths.parquet", "n_paths": n_paths}

    key = f"paths-s{seed}-n{n_paths}" + ("" if box is None else
                                          "-box" + "_".join(map(str, box)))
    return _abs(_cached(root, key, build), os.path.join(root, key), "paths")
