"""Distributed region labeling: gdal_polygonize's core, Spark-first.

Connected components of equal-CLASS cells (4-connectivity) across a
non-overlapping raster tile grid — the "which contiguous lake / forest
patch / elevation band is this cell in" primitive gdal_polygonize
computes single-process. Class = the integer cell value, or a
``bands`` quantization of a float raster.

Scale shape (the interesting part — a region can span thousands of
tiles, so naive per-cell labeling can't work at catalog scale):

  A. per-tile map: RUN-LENGTH union-find. Each task labels its tile
     locally in (row, run) space — runs of equal class per row,
     vertical unions where runs of the same class touch — so the
     per-tile state is O(runs), never a per-cell label array. Emits
     one row per LOCAL region (O(runs)) plus one row per BORDER CELL
     (O(perimeter)); interior cells never leave the task.
  B. seam edges: every border cell emits its cross-seam (cell, neighbor
     cell) pair under a canonical pair key; a groupBy with exactly two
     rows per key turns matching classes into (region_a, region_b)
     edges. Border rows are O(perimeter x tiles) — tiny next to the
     raster — and the groupBy is the stage's only wide exchange.
  C. global merge: the engine's alternating-star connected components
     (connected_components below — O(log² n) rounds, or one
     in-task union-find below its local_threshold) over the region
     graph, which is orders smaller than the cell grid.
  D. one grouped aggregation -> (region_id, value, n_cells, n_tiles),
     region_id = the region's minimum global cell id (deterministic,
     layout-independent).

Reference note: the reference has no polygonize analog (it delegates
raster analysis to GDAL entirely); it is a beyond-reference
operator. gdal_polygonize semantics:
nodata cells belong to no region; 4-connectivity; regions never cross
class boundaries.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import _open_cached

__all__ = [
    "label_regions", "label_regions_sequential", "classify_array",
    "connected_components",
]


def classify_array(arr: np.ndarray, bands=None) -> np.ndarray:
    """Cell class array (int64; -1 = hole). Float rasters need ``bands``
    (ascending edges; class k = number of edges <= value). Integer
    rasters use the value itself unless bands are given."""
    finite = np.isfinite(arr)
    if bands is not None:
        edges = np.asarray(sorted(float(b) for b in bands))
        if edges.size == 0:
            raise ValueError("bands must be non-empty when given")
        k = np.searchsorted(edges, np.where(finite, arr, 0.0), side="right")
    else:
        vals = arr[finite]
        if vals.size and not np.array_equal(vals, np.floor(vals)):
            raise ValueError(
                "float raster values need `bands` quantization edges"
            )
        k = np.where(finite, arr, 0.0).astype(np.int64)
    return np.where(finite, k, -1).astype(np.int64)


class _UnionFind:
    __slots__ = ("parent",)

    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, a: int) -> int:
        p = self.parent
        root = a
        while p[root] != root:
            root = p[root]
        while p[a] != root:  # path compression
            p[a], a = root, p[a]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            if ra < rb:
                self.parent[rb] = ra
            else:
                self.parent[ra] = rb


def _label_tile(klass: np.ndarray, gy0: int, gx0: int, gw: int):
    """Run-length 4-connected labeling of one tile.

    Returns (regions, border): regions = (region=min_gid, klass,
    n_cells) rows; border = per-edge-cell arrays (gids, klasses,
    roots_gid) for the N/S/W/E tile edges. Global cell id
    gid = gy * gw + gx.
    """
    h, w = klass.shape
    # runs per row, fully vectorized: a run starts at (r, c) when c == 0
    # or the class changes. Row-major raveling keeps rows contiguous, so
    # each run ends at the next start's column (the next start is at
    # col 0 of the following row exactly when the run reaches the row
    # edge, making end - row*w == w there).
    newrun = np.ones((h, w), dtype=bool)
    newrun[:, 1:] = klass[:, 1:] != klass[:, :-1]
    flat = klass.ravel()
    start_flat = np.flatnonzero(newrun.ravel()).astype(np.int64)
    n_runs = len(start_flat)
    end_flat = np.append(start_flat[1:], h * w)
    run_row_a = start_flat // w
    run_start_a = start_flat - run_row_a * w
    run_end_a = end_flat - run_row_a * w
    run_klass_a = flat[start_flat]
    row_first_run = np.searchsorted(run_row_a, np.arange(h + 1))
    uf = _UnionFind(n_runs)
    # vertical unions: runs in row r vs row r-1 overlapping in columns
    # with equal class (two-pointer sweep over the sorted run lists)
    for r in range(1, h):
        i = int(row_first_run[r - 1])
        i_end = int(row_first_run[r])
        j = i_end
        j_end = int(row_first_run[r + 1])
        while i < i_end and j < j_end:
            if run_end_a[i] <= run_start_a[j]:
                i += 1
            elif run_end_a[j] <= run_start_a[i]:
                j += 1
            else:  # column overlap
                if (
                    run_klass_a[i] == run_klass_a[j]
                    and run_klass_a[i] != -1
                ):
                    uf.union(i, j)
                if run_end_a[i] <= run_end_a[j]:
                    i += 1
                else:
                    j += 1
    roots = np.fromiter(
        (uf.find(k) for k in range(n_runs)), dtype=np.int64, count=n_runs
    )
    run_min_gid = (gy0 + run_row_a) * gw + gx0 + run_start_a
    # group runs by root (vectorized): n_cells sum, min gid, class
    valid = run_klass_a != -1
    uniq_root, inv = np.unique(roots[valid], return_inverse=True)
    reg_cells = np.bincount(
        inv, weights=(run_end_a - run_start_a)[valid],
        minlength=len(uniq_root),
    ).astype(np.int64)
    reg_gid = np.full(len(uniq_root), np.iinfo(np.int64).max, np.int64)
    np.minimum.at(reg_gid, inv, run_min_gid[valid])
    reg_klass = np.zeros(len(uniq_root), np.int64)
    reg_klass[inv] = run_klass_a[valid]  # constant within a region
    # region id = min gid of the region (globally unique, deterministic)

    def edge_cells(rr: np.ndarray, cc: np.ndarray, run_idx: np.ndarray):
        gids = (gy0 + rr) * gw + gx0 + cc
        ks = run_klass_a[run_idx]
        keep = ks != -1  # nodata runs' roots are absent from uniq_root
        pos = np.searchsorted(uniq_root, roots[run_idx[keep]])
        return gids[keep], ks[keep], reg_gid[pos]

    # map (row, col) -> run index for the 4 edges
    def row_runs(r: int, cols: np.ndarray) -> np.ndarray:
        lo, hi = int(row_first_run[r]), int(row_first_run[r + 1])
        return lo + np.searchsorted(
            run_start_a[lo:hi], cols, side="right"
        ) - 1

    cols = np.arange(w, dtype=np.int64)
    rows_ = np.arange(h, dtype=np.int64)
    border = {
        "N": edge_cells(np.zeros(w, np.int64), cols, row_runs(0, cols)),
        "S": edge_cells(np.full(w, h - 1, np.int64), cols,
                        row_runs(h - 1, cols)),
        "W": edge_cells(rows_, np.zeros(h, np.int64),
                        row_first_run[:-1].astype(np.int64)),
        "E": edge_cells(rows_, np.full(h, w - 1, np.int64),
                        (row_first_run[1:] - 1).astype(np.int64)),
    }
    out_regions = list(zip(
        reg_gid.tolist(), reg_klass.tolist(), reg_cells.tolist()
    ))  # (region=min_gid, klass, n_cells)
    return out_regions, border


def _normalize_grid(tiles):
    """[(iy, ix, path)] under ANY affine-consistent integer keying ->
    ([(row, col, path)], orig_of): row 0 = the NORTHERNMOST tile row,
    growing southward — the orientation the gid arithmetic of
    polygonize and polyvec assumes — and col 0 = westmost; ``orig_of`` maps
    (row, col) back to the caller's (iy, ix) for output labeling.

    Keys are authoritative for ADJACENCY (key ± 1 = neighbouring
    tile); tile corners decide only the DIRECTION of each axis. This
    makes the operators accept both the engine's canonical iy-up keys
    (tiles.tile_index_rows: iy = northing / tile_size, and
    jobs/raster._tiles_from_globs) and plain row-down keying, instead
    of silently joining the wrong tile edges for one of them."""
    metas = [
        (int(iy), int(ix), p, _open_cached(p).y0, _open_cached(p).x0)
        for iy, ix, p in tiles
    ]
    iys = sorted({m[0] for m in metas})
    ixs = sorted({m[1] for m in metas})
    # iy direction from any column with two rows
    by_ix: dict[int, list] = {}
    for iy, ix, _p, y0, _x0 in metas:
        by_ix.setdefault(ix, []).append((iy, y0))
    iy_up = None
    for col in by_ix.values():
        col.sort()
        for (a_iy, a_y0), (b_iy, b_y0) in zip(col, col[1:]):
            up = b_y0 > a_y0
            if iy_up is None:
                iy_up = up
            elif iy_up != up:
                raise ValueError(
                    "inconsistent tile grid: iy is not monotone in"
                    " northing across the tile list"
                )
    # ix direction (canonical keys go east; validate, flip if mirrored)
    by_iy: dict[int, list] = {}
    for iy, ix, _p, _y0, x0 in metas:
        by_iy.setdefault(iy, []).append((ix, x0))
    ix_east = None
    for row in by_iy.values():
        row.sort()
        for (a_ix, a_x0), (b_ix, b_x0) in zip(row, row[1:]):
            east = b_x0 > a_x0
            if ix_east is None:
                ix_east = east
            elif ix_east != east:
                raise ValueError(
                    "inconsistent tile grid: ix is not monotone in"
                    " easting across the tile list"
                )
    out, orig_of = [], {}
    for iy, ix, p, _y0, _x0 in metas:
        row = (iys[-1] - iy) if iy_up else (iy - iys[0])
        col = (ixs[-1] - ix) if ix_east is False else (ix - ixs[0])
        if (row, col) in orig_of:
            raise ValueError(
                f"duplicate tile grid key for row {row}, col {col}"
            )
        out.append((row, col, p))
        orig_of[(row, col)] = (iy, ix)
    return out, orig_of


def _grid_geometry(tiles):
    """(tile_h, tile_w, grid_w_cells) from the tile list; refuses mixed
    tile sizes (adjacency math needs a uniform grid)."""
    first = _open_cached(tiles[0][2])
    th, tw = first.height, first.width
    for _iy, _ix, p in tiles[1:]:
        r = _open_cached(p)
        if (r.height, r.width) != (th, tw):
            raise ValueError(
                f"mixed tile sizes: '{p}' is {r.width}x{r.height},"
                f" expected {tw}x{th} — polygonize needs a uniform"
                " non-overlapping grid"
            )
    max_ix = max(ix for _iy, ix, _p in tiles)
    return th, tw, (max_ix + 1) * tw


def _min_star(e: DataFrame, large: bool) -> DataFrame:
    """One large-star (large=True) or small-star half-round over an edge
    frame (u, v). Both are a groupBy-min plus a SAME-KEY equi-join — the
    skew-safe formulation: a hub node's neighborhood is never collected
    into one task's memory (no collect_list), it only flows through a
    map-side-combined min and a hash join on u."""
    if large:
        # full neighborhood: both orientations; m = min(Γ(u) ∪ {u});
        # connect every strictly-larger neighbor to m
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        out = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
    else:
        # orient u = max endpoint; m = min of the ≤-neighborhood (v < u
        # strictly, so m = min(v)); connect every small neighbor AND u to m
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        out = (
            o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
        )
    return out.where(F.col("u") != F.col("v")).distinct()


def _local_components(e: DataFrame) -> DataFrame:
    """Single-task union-find over a small edge frame: all edges fold
    through ONE executor task (repartition(1) + mapInPandas accumulating
    across Arrow batches) — still distributed execution, nothing collects
    to the driver. Union-by-min + path compression; output is the same
    (node, component=min of component) set the iterative algorithm
    produces, independent of edge order."""

    def fold(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        seen = False
        for pdf in batches:
            seen = True
            for a, b in zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()):
                ra, rb = find(int(a)), find(int(b))
                if ra != rb:
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        if not seen and not parent:
            return
        nodes = list(parent.keys())
        comps = [find(x) for x in nodes]
        roots = sorted(set(comps))
        yield pd.DataFrame(
            {"node": nodes + roots, "component": comps + roots}
        ).astype("int64")

    return e.repartition(1).mapInPandas(fold, "node long, component long")


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 50,
    local_threshold: int = 2_000_000,
) -> DataFrame:
    """(node, component) for every node in the edge list; component = the
    MIN node id of its connected component — the deterministic canonical
    representative a dedup pass keeps.

    Two regimes, same output:

    * ``|edges| <= local_threshold``: single-task union-find
      (_local_components). Even a 10^12-document corpus with a sane dup
      rate yields a pair graph orders smaller than the corpus, and one
      in-memory union-find beats ~6 shuffle stages × O(log² n) rounds of
      scheduler latency by an order of magnitude (measured 7.7s → ~2s on
      the sf0.1 bench). 2M edges ≈ tens of MB of dict — one task, not
      the driver.
    * bigger: alternating large-star / small-star (Kiveris et al. 2014,
      "Connected Components in MapReduce and Beyond" — public), which
      converges to depth-1 stars rooted at each component's min in
      O(log² n) rounds regardless of component diameter — never an
      O(diameter) label-propagation loop and never a per-node adjacency
      list in memory (the skew-safe groupBy-min + join formulation).

    The iterative loop materializes each round with ``localCheckpoint`` —
    NOT ``persist``: persist caches data but keeps the full logical
    lineage, so round N's plan contains every prior round and Catalyst
    re-analysis grows superlinearly (measured: a 3-round toy graph spent
    12s in round 3's planning alone). Checkpointing truncates the plan to
    a leaf per round, keeping per-round cost constant. (On a real cluster
    use ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` if
    executor loss during the loop must be survivable.) Convergence test:
    the edge set is a fixpoint iff its size and order-insensitive
    xxhash64 checksum both stop changing; each round's shuffle is bounded
    by the current edge count, which only shrinks."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _sig(df: DataFrame):
        # decimal(38,0) sum: a long sum of xxhash64 values overflows (and
        # ANSI mode rightly raises) at row two; decimal is exact at any
        # edge count
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    sig = _sig(e)
    if sig[0] <= local_threshold:
        return _local_components(e)
    for _ in range(max_rounds):
        nxt = _min_star(_min_star(e, large=True), large=False).localCheckpoint()
        nsig = _sig(nxt)
        e.unpersist()
        e = nxt
        if nsig == sig:
            break
        sig = nsig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # fixpoint = depth-1 stars: u -> component root v; roots appear only
    # on the v side and are their own component (the outer distinct
    # already dedups the root rows)
    return e.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    ).distinct()


def label_regions(
    spark: SparkSession,
    tiles: list[tuple[int, int, str]],
    *,
    bands=None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(region_id, value, n_cells, n_tiles) for every 4-connected region
    of equal-class cells across the tile grid. ``tiles``: (iy, ix, path)
    rows of a uniform NON-overlapping grid under either key
    orientation (canonical iy-up northing keys or row-down keys — the
    corners disambiguate, see _normalize_grid). ``bands``: quantization
    edges for float rasters (class = count of edges <= value)."""
    if not tiles:
        raise ValueError("label_regions needs at least one tile")
    tiles, _orig_of = _normalize_grid(tiles)
    th, tw, gw = _grid_geometry(tiles)

    def phase_a(batches):
        for b in batches:
            reg_rows, bor_rows = [], []
            for t in b.itertuples(index=False):
                iy, ix = int(t.tile_iy), int(t.tile_ix)
                r = _open_cached(t.path)
                arr = r.read_block(0, r.height, 0, r.width)
                klass = classify_array(arr, bands=bands)
                gy0, gx0 = iy * th, ix * tw
                regions, border = _label_tile(klass, gy0, gx0, gw)
                for region, k, n in regions:
                    reg_rows.append((iy, ix, region, k, n))
                # cross-seam pairs: this cell + the neighbor cell across
                # the tile edge, keyed by the unordered gid pair
                for side, (gids, ks, rgs) in border.items():
                    if side == "N":
                        ngids = gids - gw
                    elif side == "S":
                        ngids = gids + gw
                    elif side == "W":
                        if gx0 == 0:
                            # global west boundary: gid-1 would WRAP to
                            # the previous row's east column and collide
                            # with a real cell's pair key
                            continue
                        ngids = gids - 1
                    else:
                        if gx0 + tw == gw:
                            continue  # global east boundary (same wrap)
                        ngids = gids + 1
                    lo = np.minimum(gids, ngids)
                    hi = np.maximum(gids, ngids)
                    bor_rows.extend(zip(
                        lo.tolist(), hi.tolist(), gids.tolist(),
                        ks.tolist(), rgs.tolist(),
                    ))
            yield {
                "regions": pd.DataFrame(
                    reg_rows, columns=["tile_iy", "tile_ix", "region",
                                       "klass", "n_cells"],
                ),
                "border": pd.DataFrame(
                    bor_rows, columns=["pair_lo", "pair_hi", "cell",
                                       "klass", "region"],
                ),
            }

    # two outputs from one pass: run phase A twice would re-read every
    # tile, so emit a tagged union instead
    def phase_a_union(batches):
        for out in phase_a(batches):
            reg = out["regions"]
            bor = out["border"]
            yield pd.DataFrame({
                "kind": ["r"] * len(reg) + ["b"] * len(bor),
                "a": pd.concat(
                    [reg["tile_iy"], bor["pair_lo"]], ignore_index=True
                ).astype("int64"),
                "b": pd.concat(
                    [reg["tile_ix"], bor["pair_hi"]], ignore_index=True
                ).astype("int64"),
                "c": pd.concat(
                    [reg["region"], bor["cell"]], ignore_index=True
                ).astype("int64"),
                "d": pd.concat(
                    [reg["klass"], bor["klass"]], ignore_index=True
                ).astype("int64"),
                "e": pd.concat(
                    [reg["n_cells"], bor["region"]], ignore_index=True
                ).astype("int64"),
            })

    pdf = spark.createDataFrame(
        tiles, "tile_iy long, tile_ix long, path string"
    )
    n = num_partitions or max(
        1, min(len(tiles), spark.sparkContext.defaultParallelism)
    )
    raw = pdf.repartition(n).mapInPandas(
        phase_a_union,
        "kind string, a long, b long, c long, d long, e long",
    ).persist()
    regions = raw.where(F.col("kind") == "r").select(
        F.col("a").alias("tile_iy"), F.col("b").alias("tile_ix"),
        F.col("c").alias("region"), F.col("d").alias("klass"),
        F.col("e").alias("n_cells"),
    )
    border = raw.where(F.col("kind") == "b").select(
        F.col("a").alias("pair_lo"), F.col("b").alias("pair_hi"),
        F.col("c").alias("cell"), F.col("d").alias("klass"),
        F.col("e").alias("region"),
    )
    # B: a pair key groups exactly the two facing cells of one seam
    # crossing; equal classes => an edge between their regions
    pairs = (
        border.groupBy("pair_lo", "pair_hi")
        .agg(
            F.count("*").alias("n"),
            F.min("klass").alias("k_min"),
            F.max("klass").alias("k_max"),
            F.min("region").alias("ra"),
            F.max("region").alias("rb"),
        )
        .where(
            (F.col("n") == 2)
            & (F.col("k_min") == F.col("k_max"))
            & (F.col("ra") != F.col("rb"))
        )
        .select("ra", "rb")
        .dropDuplicates()
    )
    comp = connected_components(pairs, src="ra", dst="rb")
    merged = (
        regions.join(
            comp.withColumnRenamed("node", "region"), "region", "left"
        )
        .withColumn(
            "region_id", F.coalesce(F.col("component"), F.col("region"))
        )
        .groupBy("region_id")
        .agg(
            F.min("klass").alias("value"),
            F.sum("n_cells").alias("n_cells"),
            F.countDistinct("tile_iy", "tile_ix").alias("n_tiles"),
            F.min("region").alias("_min_local"),
        )
        # component = min node over the merged regions, but the true
        # region id is the min CELL gid across members, which is the
        # min of the member region ids (each already a min gid)
        .withColumn(
            "region_id", F.least(F.col("region_id"), F.col("_min_local"))
        )
        .select("region_id", "value", "n_cells", "n_tiles")
    )
    return merged


def label_regions_sequential(
    tiles: list[tuple[int, int, str]],
    *,
    bands=None,
) -> list[tuple[int, int, int, int]]:
    """Single-process INDEPENDENT twin: stitch the mosaic and label by
    iterated min-propagation (each cell takes the min label among its
    equal-class 4-neighbors until fixpoint) — a different algorithm from
    the distributed run-length union-find, so a shared bug can't pass
    both. Returns sorted (region_id, value, n_cells, n_tiles)."""
    tiles, _orig_of = _normalize_grid(tiles)
    th, tw, gw = _grid_geometry(tiles)
    n_ty = max(iy for iy, _ix, _p in tiles) + 1
    n_tx = max(ix for _iy, ix, _p in tiles) + 1
    H, W = n_ty * th, n_tx * tw
    klass = np.full((H, W), -1, dtype=np.int64)
    for iy, ix, p in tiles:
        r = _open_cached(p)
        arr = r.read_block(0, r.height, 0, r.width)
        klass[iy * th:(iy + 1) * th, ix * tw:(ix + 1) * tw] = (
            classify_array(arr, bands=bands)
        )
    gid = (np.arange(H, dtype=np.int64)[:, None] * gw
           + np.arange(W, dtype=np.int64)[None, :])
    label = np.where(klass != -1, gid, -1)

    def run_min_sweep(lab: np.ndarray, kls: np.ndarray) -> np.ndarray:
        """One propagation step batched by RUNS: every maximal
        horizontal (then vertical) run of equal-class cells takes the
        run's min label in one segmented reduce — equivalent to
        iterating single-cell min-propagation along that run to
        fixpoint, so the outer loop converges in O(region turns)
        instead of O(region diameter)."""
        for transpose in (False, True):
            l2 = np.ascontiguousarray(lab.T) if transpose else lab
            k2 = np.ascontiguousarray(kls.T) if transpose else kls
            h2, w2 = k2.shape
            newrun = np.ones((h2, w2), dtype=bool)
            newrun[:, 1:] = k2[:, 1:] != k2[:, :-1]
            starts = np.flatnonzero(newrun.ravel())
            mins = np.minimum.reduceat(l2.ravel(), starts)
            counts = np.diff(np.append(starts, h2 * w2))
            l2 = np.repeat(mins, counts).reshape(h2, w2)
            lab = l2.T if transpose else l2
        return lab

    while True:
        new = run_min_sweep(label, klass)
        if np.array_equal(new, label):
            break
        label = new
    out = {}
    tile_of = (gid // gw // th) * n_tx + (gid % gw) // tw
    mask = klass != -1
    for lbl in np.unique(label[mask]):
        sel = label == lbl
        out[int(lbl)] = (
            int(lbl),
            int(klass[sel][0]),
            int(sel.sum()),
            int(np.unique(tile_of[sel]).size),
        )
    return sorted(out.values())
