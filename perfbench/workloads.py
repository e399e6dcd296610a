"""The four benchmark workloads, driven through the library's public API.

Each workload owns its inputs, its set-up (dataset load, resolver
construction, salt pre-pass), one complete job (a "rep"), the output
check, and the per-layer steps of a traced run.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import time
import urllib.request
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from opentopodata_spark import config, crs, geodesic, geotiff, interpolate, lineage, oracle
from opentopodata_spark.operators import elevation, extract, paths

from . import inputs

# Full-scale sizes. A rep of a gated workload takes 4-5 s on 4 cores:
# long enough that per-job scheduling is a small share, short enough
# that a 15-second run holds three or four reps. --scale multiplies them.
SIZES = {
    "docs_elevation": {"docs": 100_000},
    "raster_tiles": {"points": 1_000_000, "tiles": 120, "trace_paths": 200},
    "path_profile": {"paths": 800, "samples": 50},
    "checkpoint_write": {"docs": 50_000},
}

# points compared value for value against oracle.get_elevation on the
# untimed check rep
ORACLE_SUBSET = 2000
SALT_SAMPLE = 0.02
KERNEL_POINTS = 250_000
CARRY = ("doc_id", "span_pos", "point_pos")


def _noop(df: DataFrame) -> int:
    """Run ``df`` to the noop sink; return its row count, taken by an
    Observation so the plan is the one a user would run."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
        "noop").mode("overwrite").save()
    return int(obs.get["rows"])


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


def compare_to_oracle(rows, datasets, interpolation: str) -> list[str]:
    """rows: (lat, lon, elevation, dataset) from the engine. Returns one
    message per point whose elevation or dataset differs from the
    single-process oracle."""
    if not rows:
        return ["oracle subset is empty"]
    lats = [r[0] for r in rows]
    lons = [r[1] for r in rows]
    want_z, want_ds = oracle.get_elevation(lats, lons, datasets, interpolation)
    bad = []
    for (la, lo, z, ds), wz, wds in zip(rows, want_z, want_ds):
        if not _same(z, wz) or ds != wds:
            bad.append(f"({la}, {lo}): engine {z!r}/{ds} != oracle {wz!r}/{wds}")
    return bad


def _dataset_rasters(datasets) -> list[str]:
    out = []
    for d in datasets:
        if d.kind == "single":
            out.append(d.tile_path)
        else:
            out.extend(sorted(d.tile_lookup.values()))
    return out


def _group_by_raster(dataset, lats, lons) -> dict[str, np.ndarray]:
    """Indices of the points each raster of ``dataset`` serves, for the
    points inside its wgs84 bounds (the candidate join's rule)."""
    b = dataset.wgs84_bounds
    inside = ((lats >= b.bottom) & (lats <= b.top)
              & (lons >= b.left) & (lons <= b.right)).nonzero()[0]
    if dataset.kind == "single":
        return {dataset.tile_path: inside} if len(inside) else {}
    xs, ys = crs.reproject_latlons(lats[inside], lons[inside],
                                   epsg=dataset.filename_epsg)
    size = float(dataset.filename_tile_size)
    iy = np.floor(np.asarray(ys) / size).astype(np.int64)
    ix = np.floor(np.asarray(xs) / size).astype(np.int64)
    out = {}
    keys = iy * 1_000_003 + ix
    for k in np.unique(keys):
        sel = keys == k
        corner = (Decimal(int(iy[sel][0])) * dataset.filename_tile_size,
                  Decimal(int(ix[sel][0])) * dataset.filename_tile_size)
        path = dataset.tile_lookup.get(corner)
        if path is not None:
            out[path] = inside[sel]
    return out


class StageMetrics:
    """Shuffle bytes and sampling-stage task skew of one job group, read
    from Spark's status REST API (the traced session enables the UI)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def read(self, group: str) -> tuple[float, float]:
        for _ in range(50):  # the listener bus trails the action
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        attempts = []
        for j in jobs:
            for sid in j["stageIds"]:
                try:
                    attempts += [a for a in self._get(f"/stages/{sid}")
                                 if a["status"] == "COMPLETE"]
                except OSError:  # a skipped stage has no data
                    continue
        shuffle = sum(a["shuffleWriteBytes"] for a in attempts)
        readers = [a for a in attempts if a["shuffleReadBytes"] > 0]
        skew = 0.0
        if readers:
            st = max(readers, key=lambda a: a["executorRunTime"])
            tasks = self._get(
                f"/stages/{st['stageId']}/{st['attemptId']}/taskList?length=100000")
            durs = [t["duration"] for t in tasks if t.get("duration")]
            if durs:
                skew = max(durs) / max(1e-9, statistics.median(durs))
        return float(shuffle), skew


class Workload:
    name = ""
    dataset_name = "multi_eudem_etopo1"
    interpolation = "bilinear"

    def __init__(self, work: str, seed: int, scale: float, tracer, procs: int):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.procs = procs
        self.spark = None
        self.resolver = None
        self.datasets = None
        self.sizes: dict = {}
        self.prepare()

    def _size(self, key: str, floor: int = 1) -> int:
        return max(floor, int(SIZES[self.name][key] * self.scale))

    # -- inputs -----------------------------------------------------------
    def prepare(self) -> None:
        """Build or load this seed's inputs (cached on disk)."""
        raise NotImplementedError

    @property
    def n_points(self) -> int:
        """Points resolved by one rep (coordinates or path samples)."""
        raise NotImplementedError

    @property
    def expected_rows(self) -> int:
        return self.n_points

    # -- set-up -----------------------------------------------------------
    def setup(self, spark) -> None:
        self.spark = spark
        t = self.tracer
        t0 = time.monotonic()
        with t.span("config.load_datasets", "config"):
            dsets = config.load_datasets(self.config_path)
            self.datasets = config.resolve_dataset_names(self.dataset_name, dsets)
        t1 = time.monotonic()
        with t.span("elevation.ElevationResolver", "elevation"):
            self.resolver = elevation.ElevationResolver(
                spark, self.datasets, self.interpolation)
        t2 = time.monotonic()
        with t.span("elevation.estimate_cell_salts", "elevation"):
            self.salts = elevation.estimate_cell_salts(
                self.resolver, self.salt_sample(), sample_fraction=SALT_SAMPLE)
            self.resolver.set_cell_salts(self.salts)
        self.setup_times = {
            "config.load_s": t1 - t0,
            "elevation.resolver_init_s": t2 - t1,
            "elevation.salt_prepass_s": time.monotonic() - t2,
        }

    def points(self) -> DataFrame:
        """The resolver's input: (point_id, lat, lon, ...)."""
        raise NotImplementedError

    def salt_sample(self) -> DataFrame:
        raise NotImplementedError

    # -- one rep ----------------------------------------------------------
    def job(self) -> DataFrame:
        return self.resolver.resolve(self.points())

    def rep(self):
        """One complete job (the timed part)."""
        return _noop(self.job())

    def rows(self, result) -> int:
        """Rows the rep produced, from ``rep``'s result (untimed)."""
        return result

    def check_rep(self) -> tuple[int, object]:
        """The first, cold rep: the full job, which also collects a fixed
        seeded subset of its output. Returns (rows, subset)."""
        obs = Observation()
        df = self.job().observe(obs, F.count(F.lit(1)).alias("rows"))
        sub = df.where(F.pmod(F.col("point_id"), F.lit(self._modulus())) == 0)
        got = [tuple(r) for r in
               sub.select("lat", "lon", "elevation", "dataset").collect()]
        return int(obs.get["rows"]), got

    def verify(self, got) -> list[str]:
        """Mismatches of ``check_rep``'s subset against the oracle."""
        return compare_to_oracle(got, self.datasets, self.interpolation)

    def _modulus(self) -> int:
        return max(1, self.n_points // ORACLE_SUBSET)

    def cleanup(self) -> None:
        """Remove what a rep wrote (outside the timed interval)."""

    # -- traced per-layer steps --------------------------------------------
    def trace_layers(self, m: dict, trace_dir: str) -> None:
        """Fill ``m`` with this workload's per-layer metrics."""
        t = self.tracer
        with t.span("elevation.candidates", "plan"):
            cand = _noop(self.resolver.candidates(self.points()))
        m["elevation.candidate_rows_per_point"] = cand / self.n_points
        mat = os.path.join(trace_dir, "points")
        with t.span("materialize points", "plan"):
            self.points().select("point_id", "lat", "lon").write.mode(
                "overwrite").parquet(mat)
        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-resolve", "resolve on materialized points")
        with t.span("elevation.resolve", "elevation"):
            t0 = time.monotonic()
            _noop(self.resolver.resolve(self.spark.read.parquet(mat)))
            m["elevation.resolve_wall_s"] = time.monotonic() - t0
        sc.setJobGroup("perfbench-other", "")
        shuffle, skew = StageMetrics(self.spark).read("perfbench-resolve")
        m["elevation.shuffle_bytes_per_point"] = shuffle / self.n_points
        m["elevation.sample_task_skew"] = skew
        pts = pq.read_table(mat, columns=["lat", "lon"])
        self._kernels(m, pts["lat"].to_numpy(), pts["lon"].to_numpy())

    def _kernels(self, m: dict, lats: np.ndarray, lons: np.ndarray) -> None:
        """geotiff / interpolate / crs timed directly, in this process, on
        the workload's own points and rasters."""
        t = self.tracer
        if len(lats) > KERNEL_POINTS:
            keep = np.random.default_rng(self.seed).choice(
                len(lats), KERNEL_POINTS, replace=False)
            lats, lons = lats[keep], lons[keep]
        paths_ = _dataset_rasters(self.datasets)
        with t.span("geotiff.open_raster", "geotiff"):
            t0 = time.monotonic()
            rasters = {p: geotiff.open_raster(p) for p in paths_}
            m["geotiff.open_ms_per_tile"] = (
                (time.monotonic() - t0) * 1e3 / len(paths_))
        geotiff.clear_block_cache()
        with t.span("geotiff.decode (cold)", "geotiff"):
            t0 = time.monotonic()
            decoded = sum(r.band.nbytes for r in rasters.values())
            m["geotiff.cold_decode_mb_per_s"] = (
                decoded / 2**20 / (time.monotonic() - t0))
        cache_mb = float(os.environ.get("OTDS_BLOCK_CACHE_MB", "256"))
        m["geotiff.decoded_mb_vs_cache_mb"] = decoded / 2**20 / cache_mb

        groups = []  # (raster, idx) per raster the points touch
        for d in self.datasets:
            for p, idx in _group_by_raster(d, lats, lons).items():
                groups.append((rasters[p], idx))
        n = sum(len(idx) for _, idx in groups)
        for epsg in (3035, 4326):
            with t.span(f"crs.reproject_latlons epsg:{epsg}", "crs"):
                t0 = time.monotonic()
                crs.reproject_latlons(lats, lons, epsg=epsg)
                m[f"crs.reproject_us_per_point.epsg{epsg}"] = (
                    (time.monotonic() - t0) * 1e6 / len(lats))
        spent = dict.fromkeys(interpolate.INTERPOLATION_METHODS, 0.0)
        for r, idx in groups:
            if r.crs.is_epsg_code:
                xs, ys = crs.reproject_latlons(lats[idx], lons[idx], epsg=r.crs.epsg)
            else:
                xs, ys = crs.reproject_latlons(lats[idx], lons[idx], wkt=r.crs.wkt)
            rows, cols = r.index(xs, ys)
            band = r.band  # warm: decoded before the kernel is timed
            for method in spent:
                with t.span(f"interpolate.{method}", "interpolate"):
                    t0 = time.monotonic()
                    interpolate.sample_raster_values(
                        band, r.nodata, rows, cols, method, r.dtype.kind)
                    spent[method] += time.monotonic() - t0
        for method, secs in spent.items():
            m[f"interpolate.us_per_point.{method}"] = secs * 1e6 / max(1, n)


class _DocsWorkload(Workload):
    def prepare(self) -> None:
        root = os.path.join(self.work, "inputs")
        self.config_path = inputs.fixture_rasters(root)
        self.docs = inputs.documents(root, self.seed, self._size("docs", 200))
        self.sizes = {"documents": self.docs["n_docs"],
                      "coordinates": self.docs["n_coords"],
                      "parsed_tokens": self.docs["n_tokens"]}

    @property
    def n_points(self) -> int:
        return self.docs["n_coords"]

    def _extract(self, documents: DataFrame) -> DataFrame:
        return extract.with_point_id(extract.extract_points(documents)).where(
            F.col("loc_error").isNull())

    def points(self) -> DataFrame:
        return self._extract(self.spark.read.parquet(self.docs["docs"]))

    def salt_sample(self) -> DataFrame:
        docs = self.spark.read.parquet(self.docs["docs"])
        return self._extract(docs.sample(SALT_SAMPLE, seed=self.seed))

    def _out_dir(self) -> str:
        return os.path.join(self.work, "out", f"{self.name}-{os.getpid()}")

    def cleanup(self) -> None:
        shutil.rmtree(self._out_dir(), ignore_errors=True)

    def trace_layers(self, m: dict, trace_dir: str) -> None:
        with self.tracer.span("extract.extract_points", "extract"):
            obs = Observation()
            docs = self.spark.read.parquet(self.docs["docs"])
            t0 = time.monotonic()
            parsed = extract.with_point_id(extract.extract_points(docs))
            parsed.observe(
                obs, F.count(F.lit(1)).alias("tokens"),
                F.count(F.when(F.col("loc_error").isNull(), 1)).alias("valid"),
            ).write.format("noop").mode("overwrite").save()
            m["extract.wall_s"] = time.monotonic() - t0
        got = obs.get
        m["extract.points_per_s"] = got["valid"] / m["extract.wall_s"]
        m["extract.valid_frac"] = got["valid"] / max(1, got["tokens"])
        # the write path, on this workload's points
        out = self._out_dir()
        self.cleanup()
        with self.tracer.span("lineage.resumable_resolve", "lineage"):
            t0 = time.monotonic()
            lineage.resumable_resolve(
                self.spark, self.resolver, self.points(), out, run_id="perfbench")
            m["lineage.write_wall_s"] = time.monotonic() - t0
        files = [p for p in glob.glob(os.path.join(out, "**"), recursive=True)
                 if os.path.isfile(p)]
        m["lineage.files_written"] = float(len(files))
        m["lineage.bytes_per_point"] = (
            sum(os.path.getsize(p) for p in files) / self.n_points)
        with self.tracer.span("lineage.verify_lineage", "lineage"):
            t0 = time.monotonic()
            lineage.verify_lineage(self.spark, out)
            m["lineage.verify_wall_s"] = time.monotonic() - t0
        self.cleanup()
        super().trace_layers(m, trace_dir)


class DocsElevation(_DocsWorkload):
    """The paper's flagship: documents -> extraction -> resolver."""

    name = "docs_elevation"

    def job(self) -> DataFrame:
        return self.resolver.resolve(self.points(), carry=CARRY)


class CheckpointWrite(_DocsWorkload):
    """The write path: bucketed parquet data, lineage log, verification."""

    name = "checkpoint_write"

    def rep(self) -> bool:
        out = self._out_dir()
        self.cleanup()
        lineage.resumable_resolve(
            self.spark, self.resolver, self.points(), out, run_id="perfbench")
        return lineage.verify_lineage(self.spark, out)

    def rows(self, verified: bool) -> int:
        """Rows the lineage log records; -1 when verification failed."""
        if not verified:
            return -1
        logged = lineage.read_lineage(self.spark, self._out_dir())
        return int(logged.agg(F.sum("n_rows")).first()[0] or 0)

    def check_rep(self) -> tuple[int, object]:
        return self.rows(self.rep()), None

    def verify(self, _got) -> list[str]:
        data = lineage.ParquetTables(self._out_dir()).read_data(self.spark)
        sub = data.where(F.pmod(F.col("point_id"), F.lit(self._modulus())) == 0)
        got = [tuple(r) for r in
               sub.select("lat", "lon", "elevation", "dataset").collect()]
        return compare_to_oracle(got, self.datasets, self.interpolation)


class RasterTiles(Workload):
    """Pre-extracted points over a cache-exceeding compressed mosaic."""

    name = "raster_tiles"
    dataset_name = "srtm_tiles"
    interpolation = "cubic"

    def prepare(self) -> None:
        root = os.path.join(self.work, "inputs")
        n_tiles = self._size("tiles", 2)
        tiles = inputs.srtm_tiles(root, n_tiles, self.procs)
        self.config_path = tiles["config"]
        self.pts = inputs.tile_points(root, self.seed, self._size("points", 1000),
                                      n_tiles)
        cache_mb = float(os.environ.get("OTDS_BLOCK_CACHE_MB", "256"))
        self.sizes = {"points": self.pts["n_points"], "tiles": n_tiles,
                      "decoded_mb": round(tiles["decoded_mb"], 1),
                      "block_cache_mb": cache_mb}

    @property
    def n_points(self) -> int:
        return self.pts["n_points"]

    def points(self) -> DataFrame:
        return self.spark.read.parquet(self.pts["points"])

    def salt_sample(self) -> DataFrame:
        return self.points().sample(SALT_SAMPLE, seed=self.seed)

    def trace_layers(self, m: dict, trace_dir: str) -> None:
        # paths across the mosaic, so the geodesic and paths layers are
        # measured against this workload's rasters too
        lat0, lon0 = inputs.TILE_LAT0, inputs.TILE_LON0
        rows = -(-self.sizes["tiles"] // inputs.TILE_COLS)
        cols = min(self.sizes["tiles"], inputs.TILE_COLS)
        trace_paths = inputs.profile_paths(
            os.path.join(self.work, "inputs"), self.seed,
            self._size("trace_paths", 8),
            box=(lat0, lat0 + rows - 1, lon0, lon0 + cols))
        _trace_paths(self, m, trace_paths["paths"],
                     SIZES["path_profile"]["samples"], trace_dir)
        super().trace_layers(m, trace_dir)


class PathProfile(Workload):
    """Geodesic path sampling, resolution, and the per-path fold."""

    name = "path_profile"

    def prepare(self) -> None:
        root = os.path.join(self.work, "inputs")
        self.config_path = inputs.fixture_rasters(root)
        self.paths = inputs.profile_paths(root, self.seed, self._size("paths", 8))
        self.n_samples = SIZES[self.name]["samples"]
        self.sizes = {"paths": self.paths["n_paths"], "samples": self.n_samples}

    @property
    def n_points(self) -> int:
        return self.paths["n_paths"] * self.n_samples

    @property
    def expected_rows(self) -> int:
        return self.paths["n_paths"]

    def path_frame(self) -> DataFrame:
        return self.spark.read.parquet(self.paths["paths"])

    def _samples(self, path_frame: DataFrame) -> DataFrame:
        return _path_samples(path_frame, self.n_samples)

    def points(self) -> DataFrame:
        return self._samples(self.path_frame())

    def salt_sample(self) -> DataFrame:
        return self._samples(self.path_frame().sample(SALT_SAMPLE, seed=self.seed))

    def job(self) -> DataFrame:
        return paths.elevation_profile(self.resolver, self.path_frame(), self.n_samples)

    def _modulus(self) -> int:
        return max(1, self.paths["n_paths"] * self.n_samples // ORACLE_SUBSET)

    def check_rep(self) -> tuple[int, object]:
        obs = Observation()
        df = self.job().observe(obs, F.count(F.lit(1)).alias("rows"))
        got = df.where(F.pmod("path_id", F.lit(self._modulus())) == 0).collect()
        return int(obs.get["rows"]), got

    def verify(self, got) -> list[str]:
        """Per sample: elevation and dataset of the subset paths' samples
        against the oracle. Per path: the profile fold of the full job
        against a sequential replay over the oracle's elevations."""
        subset = self.path_frame().where(
            F.pmod("path_id", F.lit(self._modulus())) == 0)
        samples = sorted(
            tuple(r) for r in self.resolver.resolve(
                self._samples(subset), carry=("path_id", "sample_pos"))
            .select("path_id", "sample_pos", "lat", "lon", "elevation", "dataset")
            .collect())
        bad = compare_to_oracle([s[2:] for s in samples], self.datasets,
                                self.interpolation)
        want: dict[int, tuple] = {}
        for r in subset.collect():
            la, lo, dist = geodesic.sample_points_with_distance(
                np.asarray(r.lats), np.asarray(r.lons), self.n_samples)
            z, _ = oracle.get_elevation(la, lo, self.datasets, self.interpolation)
            want[r.path_id] = _fold(z, dist)
        for r in got:
            w = want.pop(r.path_id, None)
            g = (r.n_valid, r.total_distance_m, r.elev_min, r.elev_max,
                 r.elev_gain, r.elev_loss)
            if w is None or not all(_same(a, b) for a, b in zip(g, w)):
                bad.append(f"path {r.path_id}: engine {g} != oracle {w}")
        bad += [f"path {p} missing from the profile" for p in want]
        return bad

    def trace_layers(self, m: dict, trace_dir: str) -> None:
        _trace_paths(self, m, self.paths["paths"], self.n_samples, trace_dir)
        super().trace_layers(m, trace_dir)


def _path_samples(path_frame: DataFrame, n_samples: int) -> DataFrame:
    s = paths.sample_paths(path_frame, n_samples, with_distance=True)
    return s.withColumn(
        "point_id", F.col("path_id") * F.lit(1000) + F.col("sample_pos"))


def _trace_paths(w: Workload, m: dict, paths_file: str, n_samples: int,
                 trace_dir: str) -> None:
    """The geodesic and paths layers on the paths in ``paths_file``: the
    sampling job alone, the fold on already-resolved samples, and the
    geodesic sampler over every path, single-process."""
    t = w.tracer
    frame = w.spark.read.parquet(paths_file)
    with t.span("paths.sample_paths", "paths"):
        t0 = time.monotonic()
        _noop(_path_samples(frame, n_samples))
        m["paths.sample_wall_s"] = time.monotonic() - t0
    resolved = os.path.join(trace_dir, "resolved")
    with t.span("materialize resolved samples", "plan"):
        w.resolver.resolve(
            _path_samples(frame, n_samples),
            carry=("path_id", "sample_pos", "distance_m"),
        ).select("path_id", "sample_pos", "distance_m", "elevation").write.mode(
            "overwrite").parquet(resolved)
    with t.span("paths.profile_metrics", "paths"):
        t0 = time.monotonic()
        _noop(paths.profile_metrics(w.spark.read.parquet(resolved)))
        m["paths.fold_wall_s"] = time.monotonic() - t0
    table = pq.read_table(paths_file).to_pydict()
    with t.span("geodesic.sample_points_with_distance", "geodesic"):
        t0 = time.monotonic()
        for la, lo in zip(table["lats"], table["lons"]):
            geodesic.sample_points_with_distance(
                np.asarray(la), np.asarray(lo), n_samples)
        m["geodesic.us_per_sample"] = (
            (time.monotonic() - t0) * 1e6 / (len(table["lats"]) * n_samples))


def _fold(z, dist) -> tuple:
    """Sequential replay of paths.profile_metrics for one path."""
    valid = [v for v in z if v is not None]
    prev, gain, loss = None, 0.0, 0.0
    for v in valid:
        if prev is not None and v > prev:
            gain += v - prev
        elif prev is not None and v < prev:
            loss += prev - v
        prev = v
    return (len(valid), max(dist), min(valid, default=None),
            max(valid, default=None), gain, loss)


WORKLOADS = {w.name: w for w in (DocsElevation, RasterTiles, PathProfile,
                                 CheckpointWrite)}
