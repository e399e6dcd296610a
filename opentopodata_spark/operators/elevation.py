"""The distributed elevation resolver — the engine's flagship pipeline.

Runs the reference's per-request priority loop (opentopodata
backend.py:224-288) as a one-shot Spark plan with exactly ONE wide
exchange, one row per point from scan to output:

    points (point_id, lat, lon, *carry)
      -> THE shuffle: repartition by (spatial cell, point-hash salt)
         via inline expressions
      -> sampler (mapInArrow), per Arrow batch in numpy: for each
         dataset in priority order, the still-unresolved points inside
         its coverage get tile assignment (reproject + floor + broadcast-
         index searchsorted), windowed raster reads per tile and that
         dataset's nodata fill; the batch's rows pass through with
         ``elevation`` and ``dataset`` appended

Semantics parity (verified differentially against oracle.get_elevation):
  * missing tile / out-of-raster-bounds -> null elevation
  * NODATA in kernel footprint -> NaN, then nodata_value fill PER dataset
    (null fill => falls through to next dataset; int/NaN fill => resolves)
  * attribution = the LAST dataset whose config bbox held the point while
    it was unresolved (so the winner, if any), else the final dataset
    name (backend.py:280-286)

Scale design notes:
  * registry boxes and tile index are broadcast metadata probed inside
    the sampler — no join operator, and lower-priority rasters are
    sampled only where the higher ones left points unresolved
  * the shuffle key is the point's spatial cell: tile locality (a task's
    points hit few rasters — the per-executor mmap LRU is the GDAL-block-
    cache analog)
  * per-cell salts from a sampled pre-pass (estimate_cell_salts) split
    Zipf-hot cells; every other cell keeps salt 1 (one task per cell)
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from .. import crs as _crs
from .. import interpolate, tiles
from ..config import Dataset
from ..session import worker_bootstrap

# Edge of the shuffle's spatial cell, in degrees: one SRTM-style 1° tile.
CELL_DEG = 1.0


def _pack_ij(iy, ix):
    """(iy, ix) tile indices -> one sortable uint64 key (offset-binary so
    negative indices order correctly). Works on scalars and arrays."""
    off = np.uint64(1 << 31)
    return (
        ((np.asarray(iy).astype(np.int64).astype(np.uint64) + off) << np.uint64(32))
        | (np.asarray(ix).astype(np.int64).astype(np.uint64) + off)
    )


def _assign_tiles(lats, lons, d) -> np.ndarray:
    """Tile id per point for ONE dataset: reproject to the filename CRS,
    floor to tile indices, and look the packed key up in the dataset's
    sorted index. Vectorized; -1 = no tile.

    Same arithmetic as the reference's TiledDataset.location_paths
    (opentopodata config.py:432-451): float64 projection
    then floor(coord / tile_size), matching decimal_base_floor which
    also divides in float (utils.py:60-65)."""
    if d["single"] >= 0:
        return np.full(len(lats), d["single"], dtype=np.int32)
    tile_id = np.full(len(lats), -1, dtype=np.int32)
    if len(d["keys"]) == 0:
        return tile_id
    xs, ys = _crs.reproject_latlons(lats, lons, epsg=d["epsg"])
    size = d["tile_size"]
    iy = np.floor(np.asarray(ys, dtype=np.float64) / size).astype(np.int64)
    ix = np.floor(np.asarray(xs, dtype=np.float64) / size).astype(np.int64)
    key = _pack_ij(iy, ix)
    pos = np.clip(np.searchsorted(d["keys"], key), 0, len(d["keys"]) - 1)
    hit = d["keys"][pos] == key
    tile_id[hit] = d["tids"][pos[hit]]
    return tile_id


def _sample_dataset(lats, lons, d, interpolation: str, paths):
    """Sample ONE dataset at the given points: one windowed read per
    distinct tile (the reference's per-file batching, backend.py:188-203).
    Returns (z, found): z is NaN at NODATA, found is False for a missing
    tile or a point outside its raster."""
    from ..oracle import _open_cached

    n = len(lats)
    z = np.full(n, np.nan)
    found = np.zeros(n, dtype=bool)
    tile_id = _assign_tiles(lats, lons, d)
    order = np.argsort(tile_id, kind="stable")
    # group boundaries over the PRESENT tile ids only — O(batch log batch),
    # independent of the total tile-index size
    uniq, starts = np.unique(tile_id[order], return_index=True)
    stops = np.append(starts[1:], n)
    for tid, lo, hi in zip(uniq, starts, stops):
        if tid < 0:
            continue
        idx = order[lo:hi]
        z[idx], found[idx] = interpolate.sample_points_on_raster_arrays(
            _open_cached(paths[int(tid)]), lats[idx], lons[idx], interpolation
        )
    return z, found


def _in_box(lats, lons, box) -> np.ndarray:
    """Inclusive bbox test (backend.py:254-266); NaN coordinates miss."""
    left, bottom, right, top = box
    return (lats >= bottom) & (lats <= top) & (lons >= left) & (lons <= right)


def _f64(col) -> np.ndarray:
    """An Arrow numeric column as float64 numpy, nulls as NaN."""
    return col.cast(pa.float64()).to_numpy(zero_copy_only=False)


def _make_sampler(interpolation: str, nodata_value, names, meta_bc, paths_bc):
    """mapInArrow fn running the reference's priority loop
    (backend.py:224-288) on each Arrow batch, in numpy. For each dataset
    in order, only the points still unresolved inside its coverage are
    sampled; its nodata_value fill decides whether a NODATA hit resolves
    (int/NaN fill) or falls through (null fill). Every dataset whose
    config bbox holds a still-unresolved point stamps its name on it, so
    the name is the winner, else the last dataset that tried, else the
    last dataset.

    Input rows pass through untouched (carry columns never become Python
    objects); ``elevation`` (null = unresolved, NaN kept) and ``dataset``
    are appended."""
    nan_fill = isinstance(nodata_value, float) and math.isnan(nodata_value)
    fill = None if nodata_value is None or nan_fill else float(nodata_value)
    names = pa.array(names, pa.string())

    def sample(batches):
        worker_bootstrap()
        meta, paths = meta_bc.value, paths_bc.value
        for batch in batches:
            lats, lons = _f64(batch.column("lat")), _f64(batch.column("lon"))
            n = batch.num_rows
            elev = np.zeros(n)
            unresolved = np.ones(n, dtype=bool)
            attrib = np.full(n, len(meta) - 1, dtype=np.int32)
            for k, d in enumerate(meta):
                attrib[unresolved & _in_box(lats, lons, d["config_box"])] = k
                m = (unresolved & _in_box(lats, lons, d["box"])).nonzero()[0]
                if len(m) == 0:
                    continue
                z, found = _sample_dataset(lats[m], lons[m], d, interpolation, paths)
                nodata = found & np.isnan(z)
                if fill is not None:
                    z[nodata] = fill
                ok = found & ~nodata if nodata_value is None else found
                elev[m[ok]] = z[ok]
                unresolved[m[ok]] = False
            yield pa.RecordBatch.from_arrays(
                [
                    *batch.columns,
                    pa.array(elev, mask=unresolved),
                    names.take(pa.array(attrib)),
                ],
                names=[*batch.schema.names, "elevation", "dataset"],
            )

    return sample


class ElevationResolver:
    """Resolves elevations for a points DataFrame against ordered datasets.
    A cell's shuffle salt is its entry in the plan set_cell_salts installed,
    else 1; only a resolver that never had a plan salts every cell by 4."""

    def __init__(
        self,
        spark: SparkSession,
        datasets: list[Dataset],
        interpolation: str = "bilinear",
        nodata_value=None,
    ):
        if interpolation not in interpolate.INTERPOLATION_METHODS:
            raise ValueError(f"Invalid interpolation method '{interpolation}'.")
        self.spark = spark
        self.datasets = datasets
        self.interpolation = interpolation
        self.nodata_value = nodata_value
        # pre-pass total-point estimate; sizes the shuffle (_plan_partitions)
        self._est_rows: float | None = None
        # The sampler's metadata, broadcast once: per dataset its
        # registry box (config bounds INTERSECT derived raster coverage —
        # points outside it could only sample null), its config box (for
        # attribution), and either one raster or a tile index. Raster
        # paths are ids into one broadcast list. Tile assignment is a
        # packed (iy, ix) -> searchsorted over a sorted uint64 array —
        # vectorized, no per-row Python.
        paths: list[str] = []
        ds_meta = []
        tiled = {
            i: [] for i, d in enumerate(datasets) if d.kind == "tiled"
        }
        for name, iy, ix, path in tiles.tile_index_rows(datasets):
            prio = next(i for i, d in enumerate(datasets) if d.name == name)
            tiled[prio].append((iy, ix, len(paths)))
            paths.append(path)
        for (
            _name, priority, kind, left, bottom, right, top, epsg, tsize, spath
        ), ds in zip(tiles.dataset_registry_rows(datasets), datasets):
            b = ds.wgs84_bounds
            d = {
                "box": (left, bottom, right, top),
                "config_box": tuple(
                    float(v) for v in (b.left, b.bottom, b.right, b.top)
                ),
                "single": -1,
            }
            if kind == "tiled":
                entries = sorted(
                    (_pack_ij(iy, ix), tid) for iy, ix, tid in tiled[priority]
                )
                d["keys"] = np.array([k for k, _t in entries], dtype=np.uint64)
                d["tids"] = np.array([t for _k, t in entries], dtype=np.int32)
                d["epsg"], d["tile_size"] = int(epsg), float(tsize)
            else:
                d["single"] = len(paths)
                paths.append(spath)
            ds_meta.append(d)
        self.registry = spark.createDataFrame(
            [(k, *d["box"]) for k, d in enumerate(ds_meta)],
            "priority int, left double, bottom double, right double, top double",
        )
        self._meta_bc = spark.sparkContext.broadcast(ds_meta)
        self._paths_bc = spark.sparkContext.broadcast(paths)
        # The per-cell salt plan (set_cell_salts). None = no plan was
        # ever installed (no pre-pass ran): every cell takes a mild salt 4
        # so a corpus concentrated in a handful of cells still spreads.
        self._cell_salts: dict[int, int] | None = None

    def candidates(self, points: DataFrame) -> DataFrame:
        """(point, covering dataset) rows, kept only for perfbench's trace."""
        reg = F.broadcast(self.registry)
        cond = (
            (points["lat"] >= reg["bottom"])
            & (points["lat"] <= reg["top"])
            & (points["lon"] >= reg["left"])
            & (points["lon"] <= reg["right"])
        )
        return points.select("point_id", "lat", "lon").join(
            reg, cond, "left"
        ).select("point_id", "lat", "lon", "priority")

    # ~points per shuffle partition in auto sizing. At this size a
    # partition is ~10-20 MB of point rows and a reduce task runs a
    # second or more — well above the fixed start every Python task pays
    # before user code runs (~0.05 s on local[4] with worker_bootstrap,
    # ~0.2 s when this size was set; docs/DATA_PIPELINE.md).
    _ROWS_PER_PARTITION = 200_000

    def _plan_partitions(self) -> int:
        """Partition count for THE shuffle, by one of two rules.

        With a row estimate (installed by estimate_cell_salts with
        sample_fraction): enough partitions for ~_ROWS_PER_PARTITION rows
        each, capped at 4 waves, then rounded UP to whole waves — a
        multiple of defaultParallelism (the execution slots), which is
        also the floor. Every sampler task pays a fixed Python-worker
        start (~0.05 s on local[4] with worker_bootstrap, ~0.2 s when
        this rule was set), so a partial wave buys no parallelism and a
        wave per core of tiny tasks costs that start again; the
        per-cell salts, not finer partitions, keep the tasks of one wave
        even. Without an estimate (unit tests, ad-hoc calls):
        spark.sql.shuffle.partitions, unchanged."""
        if self._est_rows is None:
            return int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        slots = self.spark.sparkContext.defaultParallelism
        want = -(-int(self._est_rows * 1.1) // self._ROWS_PER_PARTITION)
        waves = -(-min(4 * slots, max(want, 1)) // slots)
        return waves * slots

    def set_cell_salts(self, salts: dict[int, int]) -> None:
        """Install per-spatial-cell salt factors (estimate_cell_salts).

        Skew is per-area, not uniform: one Zipf-hot city cell can hold a
        large share of points while most cells hold a handful. A uniform
        salt either under-splits the hot cell or shatters every cold
        cell's tile locality. Per-cell salts split exactly the hot cells
        across ~their fair share of partitions; every other cell (all of
        them, for an empty plan) keeps salt 1."""
        self._cell_salts = {int(c): int(s) for c, s in salts.items() if s > 1}

    def _cell_expr(self):
        """Dataset-independent spatial cell of the point (packed long).
        The sampling shuffle keys on this: points of one area co-locate
        (their rasters too — tile locality for the per-executor LRU)."""
        iy = F.floor(F.col("lat") / F.lit(CELL_DEG)).cast("long")
        ix = F.floor(F.col("lon") / F.lit(CELL_DEG)).cast("long")
        width = int(360.0 / CELL_DEG) + 4
        return (iy * F.lit(width) + ix).alias("_cell")

    # hot cells are by definition FEW (share > 1/(4*partitions) each);
    # past this many entries a literal CASE would bloat the plan, so fall
    # back to a broadcast join
    _SALT_LITERAL_LIMIT = 512

    def _partition_exprs(self, df: DataFrame):
        """Partitioning expressions for THE shuffle: (spatial cell,
        point-hash salt). A cell's salt is its plan entry, else 1 with a
        plan installed and 4 without — a literal CASE, or a broadcast join
        past _SALT_LITERAL_LIMIT entries. Inline expressions (and the
        possibly pre-joined frame) keep them off the shuffle rows — at
        10^10 rows two extra longs are real bytes."""
        cell = self._cell_expr()
        salts = self._cell_salts or {}
        default = F.lit(4 if self._cell_salts is None else 1)
        if len(salts) <= self._SALT_LITERAL_LIMIT:
            factor = default
            for c, s in salts.items():
                factor = F.when(cell == F.lit(c), F.lit(s)).otherwise(factor)
            return df, [cell, F.pmod(F.xxhash64("point_id"), factor)]
        salt_df = F.broadcast(
            self.spark.createDataFrame(list(salts.items()), "_scell long, _sfactor int")
        )
        df = df.withColumn("_cell", cell).join(
            salt_df, F.col("_cell") == salt_df["_scell"], "left"
        )
        return df.drop("_scell"), [
            F.col("_cell"),
            F.pmod(F.xxhash64("point_id"), F.coalesce(F.col("_sfactor"), default)),
        ]

    def resolve(self, points: DataFrame, carry: tuple = ()) -> DataFrame:
        """Full pipeline: one linear plan, ONE wide shuffle, one scan.

        Input needs (point_id, lat, lon). Output: (point_id, lat, lon,
        *carry, elevation, dataset), exactly one row per input row —
        rows sharing a point_id stay separate. ``carry`` names extra
        input columns (e.g. document keys) to thread through.

        Shape: the single exchange repartitions the points by (spatial
        cell, point-hash salt); one mapInArrow sampler then runs the
        priority loop per Arrow batch and emits the final columns."""
        cols = ("point_id", "lat", "lon", *carry)
        df, part_exprs = self._partition_exprs(points.select(*cols))
        df = df.repartition(self._plan_partitions(), *part_exprs).select(*cols)
        schema = StructType(
            [*df.schema.fields,
             StructField("elevation", DoubleType()),
             StructField("dataset", StringType())]
        )
        return df.mapInArrow(
            _make_sampler(
                self.interpolation,
                self.nodata_value,
                [d.name for d in self.datasets],
                self._meta_bc,
                self._paths_bc,
            ),
            schema,
        )


def estimate_cell_salts(
    resolver: "ElevationResolver",
    points_sample: DataFrame,
    sample_fraction: float | None = None,
) -> dict[int, int]:
    """Per-spatial-cell salt factors from a cheap sample of the points.

    ``points_sample`` should be the extraction of a SMALL document sample
    (e.g. ``documents.sample(0.02)`` upstream — sampling documents, not
    the extracted points, keeps the estimation job's UDF work
    proportional to the sample). The returned dict maps each cell id to
    ceil(its share of points x partitions): a cell that would fill
    k partitions is split into ~k point-hash salt buckets; cold cells
    stay at salt 1 and keep their tile locality. Shares are scale-free,
    so the sampling fraction needs no correction for the SALTS. Feed the
    result to ``resolver.set_cell_salts``.

    ``sample_fraction`` (when given) additionally installs a total-point
    estimate (total/fraction) on the resolver — the sampling-driven input
    to ``_plan_partitions``: the same pre-pass that finds the hot cells
    sizes the shuffle. Salts are then computed against the partition
    count the resolve will actually use.

    At cluster scale this is one small pre-pass (every caller samples 2%
    of the documents) that removes the hot-city straggler — the skew case
    AQE cannot fix for a mapInArrow repartition (it is not a join)."""
    cells = points_sample.select(resolver._cell_expr())
    rows = cells.groupBy("_cell").agg(F.count(F.lit(1)).alias("cnt")).collect()
    total = sum(r.cnt for r in rows)
    if total == 0:
        return {}
    if sample_fraction:
        resolver._est_rows = total / sample_fraction
    n_parts = resolver._plan_partitions()
    # 4x oversampling: buckets finer than partitions so hash collisions
    # average out (a hot cell split into exactly its fair share of
    # buckets still lands 2 buckets on one partition now and then —
    # finer buckets turn that 2x straggler into a ~1.25x ripple)
    per_part = max(1.0, total / (4 * n_parts))
    out = {}
    for r in rows:
        salt = min(4 * n_parts, math.ceil(r.cnt / per_part))
        if salt > 1:
            out[r._cell] = salt
    return out
