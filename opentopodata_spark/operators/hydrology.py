"""D8 hydrology: flow direction + distributed flow accumulation.

Flow direction is a local 3x3 stencil (``terrain_kernel(kind="flow_dir")``
— ESRI codes, steepest drop RATE, ties to the lowest code) and rides the
existing terrain tile machinery: per-tile work unit, 1-px halo READ from
neighbors, zero shuffles.

Flow accumulation (count of upstream cells draining through each cell,
ESRI convention: self excluded) is GLOBAL — a naive distributed
formulation would shuffle pixels for as many rounds as the longest flow
path. This implementation is the two-level decomposition the parallel-
hydrology literature uses (TauDEM-style), reshaped for Spark:

  phase A (per tile, mapInPandas, zero pixel shuffle):
      local topological peel (numpy) assuming no external inflow;
      emit ONLY border facts: for every exit cell the local outflow
      magnitude + the entry cell it feeds in the neighbor tile, and for
      every ring cell the entry->next-entry routing (terminal of its
      internal path, found by pointer doubling).
  phase B (global, border cells only — thousands of rows per tile, not
      millions of pixels): solve inflow_total(e) = base(e) +
      sum(inflow_total(f) for route(f) == e) over the functional entry
      graph. Strict descent makes it a DAG: a driver-side Kahn peel
      under ``local_threshold`` rows, otherwise iterative small joins
      (rounds = tile-hop diameter of the longest path, the same shape as
      the connected-components loop in operators/polygonize.py).
  phase C (per tile, mapInPandas): re-peel with loads 1 + inflow at the
      entry cells, add inflow(e) at the entries themselves, write
      GeoTIFF tiles + manifest (atomic rename, lineage checksums).

Pixels never shuffle; the only exchanged data is O(border cells).

Semantics (pinned by the mosaic differential in tests/test_hydrology.py):
directions never point into NODATA (kernel guarantee), so water
terminates only at pits/flats (code 0); NODATA cells produce NODATA out;
acc counts strict upstream cells. Requires a non-overlapping uniform
tile grid (asserted via exact affine arithmetic).

The reference has no hydrology ops (it is a point-query service); this
family extends the raster toolbox the way gdaldem/TauDEM extend GDAL.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import _open_cached
from .terrain import D8_CODES, MANIFEST_SCHEMA, _fill_halo, terrain_kernel

__all__ = ["flow_direction_grid", "next_pointers", "peel_accumulate",
           "terminals", "flow_accumulation", "mosaic_flow_accumulation"]

_BORDER_SCHEMA = (
    "rtype string, gy long, gx long, to_gy long, to_gx long, val double"
)


def flow_direction_grid(padded: np.ndarray, sx: float, sy: float,
                        scale: float = 1.0) -> np.ndarray:
    """(h+2, w+2) NaN-padded elevations -> (h, w) D8 codes (float; NaN
    for NODATA centers, 0 for pits/flats)."""
    return terrain_kernel(padded, sx, sy, "flow_dir", scale=scale)


def next_pointers(dirs: np.ndarray) -> np.ndarray:
    """D8 code grid (h, w) -> flat next-cell index per cell; -1 for
    pit/flat/NODATA, -2 for targets outside this grid (exits)."""
    h, w = dirs.shape
    nxt = np.full(h * w, -1, dtype=np.int64)
    rr, cc = np.divmod(np.arange(h * w), w)
    d = dirs.reshape(-1)
    for code, dy, dx in D8_CODES:
        m = d == float(code)
        if not m.any():
            continue
        tr, tc = rr[m] + dy, cc[m] + dx
        inside = (tr >= 0) & (tr < h) & (tc >= 0) & (tc < w)
        nxt[m] = np.where(inside, tr * w + tc, -2)
    return nxt


def peel_accumulate(nxt: np.ndarray, loads: np.ndarray,
                    valid: np.ndarray) -> np.ndarray:
    """acc[i] = sum of ``loads`` over strict upstream cells. Vectorized
    Kahn peel: O(cells) total work, one frontier pass per topological
    level."""
    n = nxt.shape[0]
    acc = np.zeros(n)
    indeg = np.bincount(nxt[nxt >= 0], minlength=n)
    frontier = np.flatnonzero(valid & (indeg == 0))
    while frontier.size:
        t = nxt[frontier]
        ok = t >= 0
        src = frontier[ok]
        np.add.at(acc, t[ok], acc[src] + loads[src])
        np.subtract.at(indeg, t[ok], 1)
        cand = np.unique(t[ok])
        frontier = cand[indeg[cand] == 0]
    return acc


def terminals(nxt: np.ndarray) -> np.ndarray:
    """Terminal cell (pit/flat or exit) of every cell's path, by pointer
    doubling — log2(longest path) rounds of O(n)."""
    n = nxt.shape[0]
    P = np.where(nxt >= 0, nxt, np.arange(n))
    while True:
        P2 = P[P]
        if np.array_equal(P2, P):
            return P
        P = P2


def _tile_context(t):
    """Open a tile and return (raster, NaN-padded elevation array)."""
    own = _open_cached(t.path)
    padded = np.full((own.height + 2, own.width + 2), np.nan)
    padded[1:-1, 1:-1] = own.read_block(0, own.height, 0, own.width)
    return own, padded


def _grid_origin(own, x_ref, y_ref):
    """Integer global grid indices of this tile's top-left cell; asserts
    the tile sits on the shared grid exactly."""
    gc = (own.x0 - x_ref) / own.sx
    gr = (y_ref - own.y0) / own.sy
    gci, gri = round(gc), round(gr)
    if abs(gc - gci) > 1e-6 or abs(gr - gri) > 1e-6:
        raise ValueError(
            f"tile {own.path} is not aligned to the shared grid "
            f"(offsets {gc:.6f}, {gr:.6f} px)"
        )
    return int(gri), int(gci)


def flow_accumulation(
    spark: SparkSession,
    tiles: list[tuple[int, int, str]],
    out_dir: str,
    *,
    scale: float = 1.0,
    dtype: str = "float32",
    nodata: float = -9999.0,
    num_partitions: int | None = None,
    local_threshold: int = 5_000_000,
    skip_existing: bool = False,
) -> DataFrame:
    """D8 flow accumulation over a non-overlapping uniform tile grid.

    ``tiles``: (iy, ix, path) rows (tiles.tile_index_rows shape). Writes
    ``flow_acc_<iy>_<ix>.tif`` under ``out_dir`` and returns the manifest
    DataFrame (tile_iy, tile_ix, path, n_valid, checksum, error).

    Stitched output is IDENTICAL to :func:`mosaic_flow_accumulation` run
    single-process over the whole mosaic (the load-bearing test).
    """
    if not tiles:
        raise ValueError("flow_accumulation needs at least one tile")
    by_key = {(int(iy), int(ix)): p for iy, ix, p in tiles}
    os.makedirs(out_dir, exist_ok=True)
    # one reference tile opened on the driver pins the shared grid origin
    ref = _open_cached(tiles[0][2])
    x_ref, y_ref, sx, sy = ref.x0, ref.y0, ref.sx, ref.sy
    th, tw = ref.height, ref.width

    def check_grid(own):
        """Loud per-tile guard: a 1-px-overlap convention (SRTM shared
        edges) would double-count every shared cell — refuse it."""
        gr0, gc0 = _grid_origin(own, x_ref, y_ref)
        if (own.height != th or own.width != tw
                or gr0 % th or gc0 % tw):
            raise ValueError(
                f"flow_accumulation requires a NON-OVERLAPPING uniform "
                f"tile grid; tile {own.path} ({own.height}x{own.width} at "
                f"grid offset {gr0},{gc0}) does not tile the {th}x{tw} "
                f"lattice. Overlapping conventions (e.g. SRTM shared "
                f"edges) would double-count shared cells."
            )
        return gr0, gc0

    pdf = spark.createDataFrame(
        [(int(iy), int(ix), p) for iy, ix, p in tiles],
        "tile_iy long, tile_ix long, path string",
    )
    n = num_partitions or max(
        1, min(len(tiles), spark.sparkContext.defaultParallelism)
    )
    tile_rows = pdf.repartition(n)

    def neighbor_paths(key):
        return [
            by_key[k]
            for k in (
                (key[0] + dy, key[1] + dx)
                for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                if (dy, dx) != (0, 0)
            )
            if k in by_key
        ]

    # ---- phase A: border facts only ------------------------------------
    def phase_a(batches):
        for b in batches:
            rows = []
            for t in b.itertuples(index=False):
                own, padded = _tile_context(t)
                _fill_halo(padded, own,
                           neighbor_paths((int(t.tile_iy), int(t.tile_ix))))
                dirs = flow_direction_grid(padded, own.sx, own.sy, scale)
                h, w = dirs.shape
                nxt = next_pointers(dirs)
                valid = np.isfinite(padded[1:-1, 1:-1]).reshape(-1)
                acc = peel_accumulate(nxt, valid.astype(np.float64), valid)
                gr0, gc0 = check_grid(own)
                rr, cc = np.divmod(np.arange(h * w), w)
                d = dirs.reshape(-1)

                def target_of(idx):
                    dy, dx = np.zeros(idx.size, np.int64), np.zeros(
                        idx.size, np.int64)
                    for code, cdy, cdx in D8_CODES:
                        m = d[idx] == float(code)
                        dy[m], dx[m] = cdy, cdx
                    return gr0 + rr[idx] + dy, gc0 + cc[idx] + dx

                exits = np.flatnonzero(nxt == -2)
                if exits.size:
                    tg_y, tg_x = target_of(exits)
                    for i, e in enumerate(exits):
                        rows.append(("base", int(tg_y[i]), int(tg_x[i]),
                                     None, None, float(acc[e] + 1.0)))
                ring = np.flatnonzero(
                    valid & ((rr == 0) | (rr == h - 1)
                             | (cc == 0) | (cc == w - 1))
                )
                if ring.size:
                    T = terminals(nxt)
                    term = T[ring]
                    is_exit = nxt[term] == -2
                    if is_exit.any():
                        tg_y, tg_x = target_of(term[is_exit])
                    j = 0
                    for i, e in enumerate(ring):
                        gy, gx = int(gr0 + rr[e]), int(gc0 + cc[e])
                        if is_exit[i]:
                            rows.append(("route", gy, gx, int(tg_y[j]),
                                         int(tg_x[j]), 0.0))
                            j += 1
                        else:
                            rows.append(("route", gy, gx, None, None, 0.0))
            yield pd.DataFrame(
                rows, columns=["rtype", "gy", "gx", "to_gy", "to_gx", "val"]
            )

    border = (
        tile_rows.mapInPandas(phase_a, _BORDER_SCHEMA)
        .persist()
    )
    base = (
        border.where(F.col("rtype") == "base")
        .groupBy("gy", "gx").agg(F.sum("val").alias("val"))
    )
    routes = border.where(F.col("rtype") == "route").select(
        "gy", "gx", "to_gy", "to_gx"
    )

    # ---- phase B: solve the entry graph ---------------------------------
    n_border = border.count()
    if n_border <= local_threshold:
        rmap, bmap = {}, {}
        for r in routes.collect():
            rmap[(r.gy, r.gx)] = (
                (r.to_gy, r.to_gx) if r.to_gy is not None else None
            )
        for r in base.collect():
            bmap[(r.gy, r.gx)] = r.val
        inflow = dict(bmap)
        indeg: dict = {}
        for f, to in rmap.items():
            if to is not None:
                indeg[to] = indeg.get(to, 0) + 1
        frontier = [e for e in rmap if indeg.get(e, 0) == 0]
        while frontier:
            nf = []
            for e in frontier:
                to = rmap.get(e)
                if to is None:
                    continue
                v = inflow.get(e, 0.0)
                if v:
                    inflow[to] = inflow.get(to, 0.0) + v
                indeg[to] -= 1
                if indeg[to] == 0 and to in rmap:
                    nf.append(to)
            frontier = nf
        inflow_rows = [
            (gy, gx, v) for (gy, gx), v in inflow.items() if v > 0.0
        ]
        inflow_df = spark.createDataFrame(
            inflow_rows or [(0, 0, 0.0)], "gy long, gx long, val double"
        )
        if not inflow_rows:
            inflow_df = inflow_df.where(F.lit(False))
    else:
        # iterative small-join rounds over border cells only; rounds =
        # tile-hop diameter. localCheckpoint truncates the growing plan
        # (the dedup CC lesson: lineage growth, not data volume, is the
        # enemy here).
        routed = routes.where(F.col("to_gy").isNotNull())
        total = base
        moving = base
        while True:
            passed = (
                moving.join(routed, ["gy", "gx"])
                .select(F.col("to_gy").alias("gy"),
                        F.col("to_gx").alias("gx"), "val")
                .groupBy("gy", "gx").agg(F.sum("val").alias("val"))
                .localCheckpoint()
            )
            if passed.isEmpty():
                break
            total = (
                total.unionByName(passed)
                .groupBy("gy", "gx").agg(F.sum("val").alias("val"))
                .localCheckpoint()
            )
            moving = passed
        inflow_df = total
    border.unpersist()

    # ---- phase C: final tiles with injected inflow ----------------------
    # Map entries back to owning tiles by integer grid arithmetic against
    # each tile's origin (uniform grid: one tile side in cells).
    th, tw = ref.height, ref.width
    iy_ref, ix_ref = int(tiles[0][0]), int(tiles[0][1])
    gr0_ref, gc0_ref = _grid_origin(ref, x_ref, y_ref)
    # tile (iy, ix) origin: gr0 = gr0_ref + (iy_ref - iy) * th (iy grows
    # northward); gc0 = gc0_ref + (ix - ix_ref) * tw
    tagged = inflow_df.select(
        (F.lit(iy_ref) - F.floor(
            (F.col("gy") - F.lit(gr0_ref)) / F.lit(th)
        )).cast("long").alias("tile_iy"),
        (F.lit(ix_ref) + F.floor(
            (F.col("gx") - F.lit(gc0_ref)) / F.lit(tw)
        )).cast("long").alias("tile_ix"),
        F.struct("gy", "gx", "val").alias("e"),
    )
    per_tile = tagged.groupBy("tile_iy", "tile_ix").agg(
        F.collect_list("e").alias("entries")
    )
    joined = tile_rows.join(per_tile, ["tile_iy", "tile_ix"], "left")

    def phase_c(batches):
        for b in batches:
            rows = []
            for t in b.itertuples(index=False):
                key = (int(t.tile_iy), int(t.tile_ix))
                out = os.path.join(out_dir, f"flow_acc_{key[0]}_{key[1]}.tif")
                try:
                    if skip_existing and os.path.exists(out):
                        # outputs publish via atomic rename, so an
                        # existing file IS a complete tile (same resume
                        # contract as terrain_tiles); re-derive its
                        # manifest row from the stored pixels. Phases
                        # A/B recompute regardless — only the expensive
                        # final peel + write is skipped, and the skip is
                        # sound because the border solve is a pure
                        # function of the INPUT tiles.
                        from .. import geotiff

                        done = geotiff.open_raster(out)
                        band = done.read_window(
                            0, done.height, 0, done.width
                        )[0].astype(np.float64)
                        fin = band != float(done.nodata)
                        rows.append((
                            key[0], key[1], out, int(fin.sum()),
                            round(float(band[fin].sum()), 3), None,
                        ))
                        continue
                    own, padded = _tile_context(t)
                    _fill_halo(padded, own, neighbor_paths(key))
                    dirs = flow_direction_grid(padded, own.sx, own.sy, scale)
                    h, w = dirs.shape
                    nxt = next_pointers(dirs)
                    valid = np.isfinite(padded[1:-1, 1:-1]).reshape(-1)
                    loads = valid.astype(np.float64)
                    extra = np.zeros(h * w)
                    gr0, gc0 = check_grid(own)
                    ent = t.entries
                    if ent is not None and not (
                        isinstance(ent, float) and pd.isna(ent)
                    ):
                        for e in ent:
                            idx = (int(e["gy"]) - gr0) * w + (
                                int(e["gx"]) - gc0)
                            loads[idx] += e["val"]
                            extra[idx] += e["val"]
                    acc = peel_accumulate(nxt, loads, valid) + extra
                    res = np.where(valid, acc, np.nan).reshape(h, w)
                    finite = np.isfinite(res)
                    n_valid = int(finite.sum())
                    arr = np.where(finite, res, nodata).astype(
                        np.dtype(dtype))
                    checksum = round(
                        float(arr[finite].astype(np.float64).sum()), 3
                    )
                    ci = own.crs
                    tmp = out + f".tmp{os.getpid()}"
                    from .. import geotiff

                    geotiff.write_geotiff(
                        tmp, arr, x0=own.x0, y0=own.y0, sx=own.sx,
                        sy=own.sy, epsg=(ci.epsg if ci else None),
                        wkt=(ci.wkt if ci and not ci.epsg else None),
                        nodata=nodata,
                    )
                    os.replace(tmp, out)
                    rows.append((key[0], key[1], out, n_valid, checksum,
                                 None))
                except Exception as e:  # noqa: BLE001 — per-tile isolation
                    rows.append((key[0], key[1], None, 0, None, str(e)))
            yield pd.DataFrame(
                rows, columns=["tile_iy", "tile_ix", "path", "n_valid",
                               "checksum", "error"],
            )

    return joined.mapInPandas(phase_c, MANIFEST_SCHEMA)


def mosaic_flow_accumulation(mosaic: np.ndarray, sx: float, sy: float,
                             scale: float = 1.0) -> np.ndarray:
    """Single-process oracle: accumulation over a whole NaN-padded-free
    mosaic array (NaN = NODATA). Different plumbing (no tiling, no halo,
    no two-level split); the distributed path must stitch to this."""
    h, w = mosaic.shape
    padded = np.full((h + 2, w + 2), np.nan)
    padded[1:-1, 1:-1] = mosaic
    dirs = flow_direction_grid(padded, sx, sy, scale)
    nxt = next_pointers(dirs)
    valid = np.isfinite(mosaic).reshape(-1)
    acc = peel_accumulate(nxt, valid.astype(np.float64), valid)
    return np.where(valid, acc, np.nan).reshape(h, w)
