"""The distributed elevation resolver — the engine's flagship pipeline.

Replaces the reference's per-request loop (/root/reference/opentopodata/
backend.py:224-288) with a one-shot Spark plan that has exactly ONE wide
exchange:

    points (point_id, lat, lon, ...)
      -> J2  candidate datasets: broadcast bbox join against the registry
             (registry bounds = config bounds INTERSECT derived raster
             coverage — false candidates never exist)
      -> A1  THE shuffle: repartition by (spatial cell, point-hash salt)
             via inline expressions, local sort by point_id
      -> S1+S3+J1+S8+S5+J3 pick-sampler (mapInArrow): tile assignment
             (reproject + floor + broadcast-index searchsorted), windowed
             raster reads per tile, per-dataset nodata fill, priority
             pick — one output row per point, no second exchange
      -> J4  carry keys through (no join-back, no global sort)

Semantics parity (verified differentially against oracle.get_elevation):
  * missing tile / out-of-raster-bounds -> null elevation
  * NODATA in kernel footprint -> NaN, then nodata_value fill PER dataset
    (null fill => falls through to next dataset; int/NaN fill => resolves)
  * attribution = winning dataset, else LAST config-bbox-matching dataset
    (static expression), else the final dataset name (backend.py:280-286)

Scale design notes:
  * registry and tile index are broadcast — points never shuffle for joins
  * the shuffle key is the point's spatial cell: tile locality (a task's
    points hit few rasters — the per-executor mmap LRU is the GDAL-block-
    cache analog) AND pick locality (a point's candidates co-locate)
  * per-cell salts from a sampled pre-pass (estimate_cell_salts) split
    Zipf-hot cells; every candidate row of a point shares its salt
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, DoubleType, IntegerType, StructField, StructType

from .. import crs as _crs
from .. import interpolate, tiles
from ..config import Dataset

def _pack_ij(iy, ix):
    """(iy, ix) tile indices -> one sortable uint64 key (offset-binary so
    negative indices order correctly). Works on scalars and arrays."""
    off = np.uint64(1 << 31)
    return (
        ((np.asarray(iy).astype(np.int64).astype(np.uint64) + off) << np.uint64(32))
        | (np.asarray(ix).astype(np.int64).astype(np.uint64) + off)
    )


# state: 0 = value, 1 = NODATA (NaN inside raster), 2 = out-of-coverage.
# An explicit marker column is REQUIRED: a pandas UDF boundary coerces
# NaN to SQL null, so a NaN-vs-null convention would silently merge the
# NODATA and out-of-coverage cases and break nodata_value semantics
# (SURVEY.md §7 hard part 3 — caught by the differential test).
_STATE_VALUE, _STATE_NODATA, _STATE_OOB = 0, 1, 2


def _assign_tiles(prio, lats, lons, meta) -> np.ndarray:
    """S1+S3+J1 fused: per dataset (priority group) reproject to the
    filename CRS, floor to tile indices, and look up the tile id in the
    sorted packed-key index. Vectorized per group; -1 = no tile.

    Same arithmetic as the reference's TiledDataset.location_paths
    (/root/reference/opentopodata/config.py:432-451): float64 projection
    then floor(coord / tile_size), matching decimal_base_floor which
    also divides in float (utils.py:60-65)."""
    tile_id = np.full(len(lats), -1, dtype=np.int32)
    valid = ~np.isnan(prio)
    for p in np.unique(prio[valid]):
        m = (prio == p).nonzero()[0]
        d = meta[int(p)]
        if d["single"] >= 0:
            tile_id[m] = d["single"]
            continue
        if len(d["keys"]) == 0:
            continue
        xs, ys = _crs.reproject_latlons(lats[m], lons[m], epsg=d["epsg"])
        size = d["tile_size"]
        iy = np.floor(np.asarray(ys, dtype=np.float64) / size).astype(np.int64)
        ix = np.floor(np.asarray(xs, dtype=np.float64) / size).astype(np.int64)
        key = _pack_ij(iy, ix)
        pos = np.searchsorted(d["keys"], key)
        pos = np.clip(pos, 0, len(d["keys"]) - 1)
        hit = d["keys"][pos] == key
        tile_id[m[hit]] = d["tids"][pos[hit]]
    return tile_id


def _sample_candidate_arrays(lats, lons, prio, interpolation: str, meta, paths):
    """Candidate-level tile assignment + raster sampling: one windowed
    read per distinct tile id in the batch (the reference's per-file
    batching, backend.py:188-203). Returns (z, state) arrays aligned to
    the inputs. tile_id -1 (missing tile / uncovered) stays OOB."""
    from ..oracle import _open_cached

    n = len(lats)
    z = np.zeros(n, dtype=np.float64)
    state = np.full(n, _STATE_OOB, dtype=np.int8)
    tile_id = _assign_tiles(prio, lats, lons, meta)
    order = np.argsort(tile_id, kind="stable")
    sorted_tids = tile_id[order]
    # group boundaries over the PRESENT tile ids only — O(batch log batch),
    # independent of the total tile-index size (a batch touching 3 tiles
    # of a 10^6-tile index does 3 slices, not a 10^6-wide searchsorted)
    uniq, starts = np.unique(sorted_tids, return_index=True)
    stops = np.append(starts[1:], len(sorted_tids))
    for tid, lo, hi in zip(uniq, starts, stops):
        if tid < 0:
            continue
        idx = order[lo:hi]
        raster = _open_cached(paths[int(tid)])
        vals, in_bounds = interpolate.sample_points_on_raster_arrays(
            raster, lats[idx], lons[idx], interpolation
        )
        st = np.where(
            ~in_bounds,
            _STATE_OOB,
            np.where(np.isnan(vals), _STATE_NODATA, _STATE_VALUE),
        )
        z[idx] = np.where(in_bounds & np.isfinite(vals), vals, 0.0)
        state[idx] = st
    return z, state


# pick-sampler output states (point-level, after the per-dataset
# nodata_value fill and the priority pick):
_OUT_VALUE, _OUT_NAN, _OUT_NULL = 0, 1, 2


def _f64(col) -> np.ndarray:
    """An Arrow numeric column as float64 numpy, nulls as NaN."""
    return col.cast(pa.float64()).to_numpy(zero_copy_only=False)


def _make_pick_sampler(
    interpolation: str, carry: tuple, nodata_value, meta_bc, paths_bc
):
    """mapInArrow fn: sample ALL candidate rows, apply the per-dataset
    nodata fill (S5), and pick each point's winner (J3) — entirely inside
    the partition. Requires input sorted by point_id within the partition
    (a point's candidate rows are then contiguous; the trailing group of
    each Arrow batch is held back as a slice and prepended to the next
    batch, so batch boundaries never split a point).

    Only point_id, lat, lon and priority become numpy arrays; the output
    columns (carry columns included, e.g. string document keys) move by
    ``take`` on the Arrow batch and never become Python objects.

    Emitting one row per point here removes the second wide exchange the
    groupBy-pick needed: mapInArrow output has fresh attribute ids, so
    Catalyst cannot reuse the repartition's hash partitioning for a
    downstream aggregate — the pick must happen before leaving Python.
    """
    out_cols = ["point_id", "lat", "lon", *carry]
    nodata_is_none = nodata_value is None
    nodata_is_nan = isinstance(nodata_value, float) and math.isnan(nodata_value)
    fill = None if (nodata_is_none or nodata_is_nan) else float(nodata_value)

    def process(batch: pa.RecordBatch) -> pa.RecordBatch:
        prio = _f64(batch.column("priority"))  # null -> nan, sorts last
        z, state = _sample_candidate_arrays(
            _f64(batch.column("lat")), _f64(batch.column("lon")), prio,
            interpolation, meta_bc.value, paths_bc.value,
        )
        is_nod = state == _STATE_NODATA
        resolved = (state == _STATE_VALUE) | (is_nod & (not nodata_is_none))
        eff = z.copy()
        if fill is not None:
            eff[is_nod] = fill
        elif nodata_is_nan:
            eff[is_nod] = np.nan
        pid = batch.column("point_id").to_numpy()
        order = np.lexsort((prio, ~resolved, pid))
        spid = pid[order]
        first = np.ones(len(spid), dtype=bool)
        first[1:] = spid[1:] != spid[:-1]
        win = order[first]
        w_res = resolved[win]
        w_eff = eff[win]
        w_nan = np.isnan(w_eff)
        out_state = np.where(
            ~w_res, _OUT_NULL, np.where(w_nan, _OUT_NAN, _OUT_VALUE)
        ).astype(np.int8)
        w_prio = prio[win]  # winner dataset as its priority index
        taken = batch.select(out_cols).take(pa.array(win))
        return pa.RecordBatch.from_arrays(
            [
                *taken.columns,
                pa.array(np.where(w_res & ~w_nan, w_eff, 0.0)),
                pa.array(out_state),
                pa.array(np.where(np.isnan(w_prio), -1, w_prio).astype(np.int32)),
            ],
            names=[*out_cols, "z", "state", "priority"],
        )

    def sample(batches):
        held = None
        for batch in batches:
            if held is not None:
                batch = pa.Table.from_batches([held, batch]).combine_chunks(
                ).to_batches()[0]
            if batch.num_rows == 0:
                continue
            pid = batch.column("point_id").to_numpy()
            not_last = (pid != pid[-1]).nonzero()[0]
            split = int(not_last[-1]) + 1 if len(not_last) else 0
            held = batch.slice(split)
            if split:
                yield process(batch.slice(0, split))
        if held is not None and held.num_rows:
            yield process(held)

    return sample


class ElevationResolver:
    """Resolves elevations for a points DataFrame against ordered datasets."""

    def __init__(
        self,
        spark: SparkSession,
        datasets: list[Dataset],
        interpolation: str = "bilinear",
        nodata_value=None,
        sample_partitions: int | None = None,
        salt: int = 0,
    ):
        if interpolation not in interpolate.INTERPOLATION_METHODS:
            raise ValueError(f"Invalid interpolation method '{interpolation}'.")
        self.spark = spark
        self.datasets = datasets
        self.interpolation = interpolation
        self.nodata_value = nodata_value
        # None = auto: sized at resolve() time by _plan_partitions() —
        # sampling-driven when an estimate exists (estimate_cell_salts
        # with sample_fraction), else spark.sql.shuffle.partitions.
        self.sample_partitions = sample_partitions
        self._est_rows: float | None = None
        # Integer-encode every string the wide shuffle would otherwise
        # carry: raster paths (~70 bytes each) become tile ids into a
        # broadcast list, dataset names become the priority index. This
        # halves shuffle bytes AND keeps the sampler's per-row work on
        # numeric Arrow columns (names are decoded back in the final
        # projection, a K-branch CASE).
        #
        # Tile ASSIGNMENT (reproject + floor + index lookup, SURVEY.md
        # S1+S3+J1) happens inside the pick-sampler, not the plan: the
        # tile index is broadcast metadata either way, and doing it in
        # Python saves a whole ArrowEvalPython round trip of the
        # candidate stream plus a broadcast join. The lookup is a packed
        # (iy, ix) -> searchsorted over a sorted int64 array — O(log n)
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
        reg_rows = []
        for (
            _name, priority, kind, left, bottom, right, top, epsg, tsize, spath
        ) in tiles.dataset_registry_rows(datasets):
            stid = -1
            if spath is not None:
                stid = len(paths)
                paths.append(spath)
            reg_rows.append((priority, left, bottom, right, top))
            if kind == "tiled":
                entries = sorted(
                    (_pack_ij(iy, ix), tid) for iy, ix, tid in tiled[priority]
                )
                keys = np.array([k for k, _t in entries], dtype=np.uint64)
                tids = np.array([t for _k, t in entries], dtype=np.int32)
                ds_meta.append(
                    {"epsg": int(epsg), "tile_size": float(tsize),
                     "keys": keys, "tids": tids, "single": -1}
                )
            else:
                ds_meta.append({"single": stid})
        self.registry = spark.createDataFrame(
            reg_rows,
            "priority int, left double, bottom double, right double, top double",
        )
        self._meta_bc = spark.sparkContext.broadcast(ds_meta)
        self._paths_bc = spark.sparkContext.broadcast(paths)
        self.fallback_name = datasets[-1].name
        # Uniform point-hash salt for the spatial-cell shuffle. salt=0 =
        # auto: 1 when per-cell salts are installed (set_cell_salts — the
        # intended path, they split exactly the hot cells), else a mild 4
        # so a corpus concentrated in a handful of cells still spreads.
        # A point's candidate rows always share a salt value (hashed on
        # point_id), so the in-sampler pick stays partition-local.
        self._salt_arg = salt
        self._cell_salts: dict[int, int] = {}
        self.cell_deg = 1.0

    def candidates(self, points: DataFrame, carry: tuple = ()) -> DataFrame:
        """J2: broadcast bbox coverage join (inclusive bounds, parity with
        backend.py:254-266). LEFT join so uncovered points survive as a
        single null-dataset row — the pipeline stays one linear flow with
        no re-scan of the input subtree."""
        reg = F.broadcast(self.registry)
        cond = (
            (points["lat"] >= reg["bottom"])
            & (points["lat"] <= reg["top"])
            & (points["lon"] >= reg["left"])
            & (points["lon"] <= reg["right"])
        )
        return points.select("point_id", "lat", "lon", *carry).join(
            reg, cond, "left"
        ).select("point_id", "lat", "lon", "priority", *carry)

    # ~candidate rows per shuffle partition in auto sizing. At this size a
    # partition is ~10-20 MB of int-encoded rows and a reduce task runs a
    # second or more — well above the fixed ~0.2 s every Python task pays
    # before user code runs (docs/DATA_PIPELINE.md).
    _ROWS_PER_PARTITION = 200_000

    def _plan_partitions(self) -> int:
        """Partition count for THE shuffle.

        Explicit sample_partitions wins. With a row estimate (installed
        by estimate_cell_salts(sample_fraction=...)): enough partitions
        for ~_ROWS_PER_PARTITION rows each, capped at 4 waves, then
        rounded UP to whole waves — a multiple of defaultParallelism
        (the execution slots), which is also the floor. Every sampler
        task pays a fixed Python-worker start (~0.2 s on local[4]), so a
        partial wave buys no parallelism and a wave per core of tiny
        tasks costs that start again; the per-cell salts, not finer
        partitions, keep the tasks of one wave even. Without an estimate
        (unit tests, ad-hoc calls) the session shuffle setting is used
        unchanged."""
        if self.sample_partitions:
            return self.sample_partitions
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
        across ~their fair share of partitions."""
        self._cell_salts = {int(c): int(s) for c, s in salts.items() if s > 1}

    def _cell_expr(self):
        """Dataset-independent spatial cell of the point (packed long).
        The sampling shuffle keys on this: points of one area co-locate
        (their rasters too — tile locality for the per-executor LRU), and
        ALL candidate rows of a point share the key, so the winner pick
        can happen inside the sampler with no second exchange."""
        iy = F.floor(F.col("lat") / F.lit(self.cell_deg)).cast("long")
        ix = F.floor(F.col("lon") / F.lit(self.cell_deg)).cast("long")
        width = int(360.0 / self.cell_deg) + 4
        return (iy * F.lit(width) + ix).alias("_cell")

    # hot cells are by definition FEW (share > 1/(4*partitions) each);
    # past this many entries a literal CASE would bloat the plan, so fall
    # back to a broadcast join
    _SALT_LITERAL_LIMIT = 512

    def _partition_exprs(self, cand_paths: DataFrame):
        """Partitioning expressions for THE shuffle: (spatial cell,
        point-hash salt). Returned as inline expressions (and an optional
        pre-joined frame) so the shuffle rows don't carry them — at 10^10
        rows two extra longs are real bytes."""
        cell = self._cell_expr()
        salts = self._cell_salts
        if salts and len(salts) <= self._SALT_LITERAL_LIMIT:
            factor = F.lit(1)
            for c, s in salts.items():
                factor = F.when(cell == F.lit(c), F.lit(s)).otherwise(factor)
            return cand_paths, [cell, F.pmod(F.xxhash64("point_id"), factor)]
        if salts:
            salt_df = F.broadcast(
                self.spark.createDataFrame(
                    list(salts.items()), "_scell long, _sfactor int"
                )
            )
            df = cand_paths.withColumn("_cell", cell).join(
                salt_df, F.col("_cell") == salt_df["_scell"], "left"
            )
            return df.drop("_scell"), [
                F.col("_cell"),
                F.pmod(
                    F.xxhash64("point_id"),
                    F.coalesce(F.col("_sfactor"), F.lit(1)),
                ),
            ]
        salt = self._salt_arg if self._salt_arg >= 1 else 4
        return cand_paths, [cell, F.pmod(F.xxhash64("point_id"), F.lit(salt))]

    def resolve(self, points: DataFrame, carry: tuple = ()) -> DataFrame:
        """Full pipeline: one linear plan, ONE wide shuffle, one scan.

        Input needs (point_id, lat, lon). Output: (point_id, lat, lon,
        elevation, dataset), exactly one row per input point_id. ``carry``
        names extra input columns to thread through the pipeline — at
        scale this is strictly cheaper than ``attach``'s join, which
        would shuffle both sides AND recompute the extraction subtree.

        Shape: candidates + tile paths are narrow (broadcast joins); the
        single exchange repartitions by (spatial cell, point-hash salt);
        a partition-local sort by point_id makes each point's candidate
        rows contiguous; the pick-sampler emits one row per point; the
        final projection maps (z, state) to elevation and applies the
        static config-bounds attribution for unresolved points (the
        reference stamps dataset_name on every config-bbox-matched query
        even when it returns None, backend.py:280-286 — config bounds may
        be wider than the derived raster coverage the candidate join
        uses, so this must not come from a candidate row)."""
        carry = tuple(carry)
        cand = self.candidates(points, carry)
        df, part_exprs = self._partition_exprs(cand)
        df = df.repartition(self._plan_partitions(), *part_exprs)
        df = df.sortWithinPartitions("point_id")
        df = df.drop("_cell", "_sfactor")

        schema = StructType(
            [df.schema[c] for c in ("point_id", "lat", "lon")]
            + [df.schema[c] for c in carry]
            + [
                StructField("z", DoubleType()),
                StructField("state", ByteType()),
                StructField("priority", IntegerType()),
            ]
        )
        out = df.mapInArrow(
            _make_pick_sampler(
                self.interpolation,
                carry,
                self.nodata_value,
                self._meta_bc,
                self._paths_bc,
            ),
            schema,
        )

        attrib = F.coalesce(
            *[
                F.when(
                    (F.col("lat") >= float(ds.wgs84_bounds.bottom))
                    & (F.col("lat") <= float(ds.wgs84_bounds.top))
                    & (F.col("lon") >= float(ds.wgs84_bounds.left))
                    & (F.col("lon") <= float(ds.wgs84_bounds.right)),
                    F.lit(ds.name),
                )
                for ds in reversed(self.datasets)
            ],
            F.lit(self.fallback_name),
        )
        # decode winner priority -> dataset name (K-branch CASE; strings
        # re-enter the plan only here, after the per-point collapse)
        winner_name = F.coalesce(
            *[
                F.when(F.col("priority") == i, F.lit(ds.name))
                for i, ds in enumerate(self.datasets)
            ],
            F.lit(None).cast("string"),
        )
        return out.select(
            "point_id",
            "lat",
            "lon",
            *carry,
            F.when(F.col("state") == _OUT_VALUE, F.col("z"))
            .when(F.col("state") == _OUT_NAN, F.lit(float("nan")))
            .otherwise(F.lit(None).cast("double"))
            .alias("elevation"),
            F.when(F.col("state") != _OUT_NULL, winner_name)
            .otherwise(attrib)
            .alias("dataset"),
        )

    @staticmethod
    def attach(points: DataFrame, resolved: DataFrame) -> DataFrame:
        """J4: re-attach resolver output to the full input rows by key
        (no global sort — order is identity, not position)."""
        return points.join(
            resolved.select("point_id", "elevation", "dataset"), "point_id", "left"
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
    ceil(its share of rows x partitions): a cell that would fill
    k partitions is split into ~k point-hash salt buckets; cold cells
    stay at salt 1 and keep their tile locality. Shares are scale-free,
    so the sampling fraction needs no correction for the SALTS. Feed the
    result to ``resolver.set_cell_salts``.

    ``sample_fraction`` (when given) additionally installs a total-row
    estimate (total/fraction) on the resolver — the sampling-driven input
    to ``_plan_partitions``: the same pre-pass that finds the hot cells
    sizes the shuffle. Salts are then computed against the partition
    count the resolve will actually use.

    At cluster scale this is one tiny pre-pass (0.1% of the data) that
    removes the hot-city straggler — the skew case AQE cannot fix for a
    mapInArrow repartition (it is not a join).

    Counts are taken over the sample's CANDIDATE rows (after the
    broadcast registry join), not its points: the shuffle being salted
    and sized carries one row per (point, matching dataset), so a region
    covered by two datasets genuinely weighs twice — sizing on points
    would undershoot partitions by the dataset-multiplicity factor."""
    cells = resolver.candidates(points_sample).select(resolver._cell_expr())
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
