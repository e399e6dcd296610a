"""Distributed raster sieve: gdal_sieve's core, Spark-first.

Removes connected regions smaller than ``threshold`` cells by merging
them into a neighboring region — GDAL's GDALSieveFilter rule: a small
polygon takes the value of its LARGEST neighbour polygon. A small
region isolated by NODATA (or the mosaic border) has no neighbour and
is kept, like GDAL.

Merge semantics (deterministic, layout-independent — documented
because simultaneous merging of chains is ambiguous in a one-pass
sequential filter):

  rounds until fixpoint; per round, every region below ``threshold``
  that has >= 1 neighbour picks its largest neighbour (ties: smallest
  region id). All picks merge SIMULTANEOUSLY: the undirected pick
  edges are grouped into connected components, and every member of a
  component takes the id + class of the component's largest member
  (ties: smallest id). Sizes re-aggregate and the next round begins.

Scale shape: the merge loop runs on the REGION GRAPH — nodes
O(regions), edges O(region adjacencies) — which is orders of magnitude
smaller than the cell grid. Cells are touched exactly twice: once in
polygonize's per-tile run-length labeling (interior cells never leave
their task) and once in the optional relabel-and-rewrite pass
(``sieve_tiles``), which re-derives local labels per tile and joins
only the O(regions-per-tile) final-class mapping — pixel payloads
never shuffle. Below ``local_threshold`` graph rows the loop runs as
one in-memory pass on the driver (the hydrology/connected-components
pattern); above it, each round is a groupBy-pick + alternating-star CC
+ relabel, all bounded by the shrinking region count.

Reference note: the reference delegates raster cleanup to GDAL
(gdal_sieve sits beside the gdalwarp/gdal_translate prep steps in its
dataset docs, e.g. /root/reference/docs/datasets/nzdem.md); this is
the beyond-reference distributed equivalent.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import _open_cached
from .polygonize import (
    _grid_geometry,
    _label_tile,
    _normalize_grid,
    classify_array,
    connected_components,
)

__all__ = ["sieve_regions", "sieve_tiles", "sieve_sequential"]


def _phase_a(tiles, th, tw, gw, bands, spark, num_partitions):
    """One pass over the tiles -> tagged union DataFrame:
    kind 'r': (tile_iy, tile_ix, region, klass, n_cells)
    kind 'b': (pair_lo, pair_hi, cell, klass, region)  seam border cells
    kind 'a': (region_a, region_b, -, -, -)            in-tile diff-class
    """

    def gen(batches):
        for b in batches:
            rows = []
            for t in b.itertuples(index=False):
                iy, ix = int(t.tile_iy), int(t.tile_ix)
                r = _open_cached(t.path)
                arr = r.read_block(0, r.height, 0, r.width)
                klass = classify_array(arr, bands=bands)
                gy0, gx0 = iy * th, ix * tw
                regions, border, adj = _label_tile(
                    klass, gy0, gx0, gw, with_adjacency=True
                )
                for region, k, n in regions:
                    rows.append(("r", iy, ix, region, k, n))
                for side, (gids, ks, rgs) in border.items():
                    if side == "N":
                        ngids = gids - gw
                    elif side == "S":
                        ngids = gids + gw
                    elif side == "W":
                        if gx0 == 0:
                            continue  # global west edge: gid-1 wraps
                        ngids = gids - 1
                    else:
                        if gx0 + tw == gw:
                            continue  # global east edge
                        ngids = gids + 1
                    lo = np.minimum(gids, ngids)
                    hi = np.maximum(gids, ngids)
                    rows.extend(zip(
                        ("b",) * len(lo), lo.tolist(), hi.tolist(),
                        gids.tolist(), ks.tolist(), rgs.tolist(),
                    ))
                rows.extend(
                    ("a", int(a), int(b2), 0, 0, 0) for a, b2 in adj
                )
            yield pd.DataFrame(
                rows, columns=["kind", "a", "b", "c", "d", "e"],
            ).astype({c: "int64" for c in "abcde"})

    pdf = spark.createDataFrame(
        tiles, "tile_iy long, tile_ix long, path string"
    )
    n = num_partitions or max(
        1, min(len(tiles), spark.sparkContext.defaultParallelism)
    )
    return pdf.repartition(n).mapInPandas(
        gen, "kind string, a long, b long, c long, d long, e long"
    )


def _region_graph(spark, tiles, bands, num_partitions):
    """(members M, regions R, edges E) after the same-class seam merge.

    M: (tile_iy, tile_ix, local_region, n_cells, rid) — one row per
       per-tile local region (CANONICAL row-down keys), rid = merged
       global region id (min gid).
    R: (rid, klass, size)
    E: (a, b) distinct undirected different-class adjacency, a < b.
    Tiles must already be canonical (callers run _normalize_grid).
    """
    th, tw, gw = _grid_geometry(tiles)
    raw = _phase_a(tiles, th, tw, gw, bands, spark, num_partitions)
    raw = raw.persist()
    regions = raw.where(F.col("kind") == "r").select(
        F.col("a").alias("tile_iy"), F.col("b").alias("tile_ix"),
        F.col("c").alias("local_region"), F.col("d").alias("klass"),
        F.col("e").alias("n_cells"),
    )
    border = raw.where(F.col("kind") == "b").select(
        F.col("a").alias("pair_lo"), F.col("b").alias("pair_hi"),
        F.col("d").alias("klass"), F.col("e").alias("region"),
    )
    local_adj = raw.where(F.col("kind") == "a").select(
        F.col("a").alias("ea"), F.col("b").alias("eb")
    )
    seam = border.groupBy("pair_lo", "pair_hi").agg(
        F.count("*").alias("n"),
        F.min("klass").alias("k_min"), F.max("klass").alias("k_max"),
        F.min("region").alias("ra"), F.max("region").alias("rb"),
    ).where(F.col("n") == 2)
    same = seam.where(
        (F.col("k_min") == F.col("k_max")) & (F.col("ra") != F.col("rb"))
    ).select("ra", "rb").dropDuplicates()
    cross = seam.where(F.col("k_min") != F.col("k_max")).select(
        F.col("ra").alias("ea"), F.col("rb").alias("eb")
    )
    comp = connected_components(same, src="ra", dst="rb")
    # rid = min member gid: connected_components' component IS the min
    # node id; un-merged regions keep their own (min-gid) id
    m_map = comp.withColumnRenamed("node", "local_region")
    members = regions.join(m_map, "local_region", "left").withColumn(
        "rid", F.coalesce(F.col("component"), F.col("local_region"))
    ).select("tile_iy", "tile_ix", "local_region", "klass",
             "n_cells", "rid")
    regions_g = members.groupBy("rid").agg(
        F.min("klass").alias("klass"),  # constant within a region
        F.sum("n_cells").alias("size"),
    )
    edges_raw = local_adj.unionByName(cross)
    remap = members.select("local_region", "rid").dropDuplicates()
    edges = (
        edges_raw
        .join(remap.withColumnRenamed("local_region", "ea")
              .withColumnRenamed("rid", "rida"), "ea")
        .join(remap.withColumnRenamed("local_region", "eb")
              .withColumnRenamed("rid", "ridb"), "eb")
        .select(
            F.least("rida", "ridb").alias("a"),
            F.greatest("rida", "ridb").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    return members, regions_g, edges, raw


def _merge_rounds_local(regions, edges, threshold, max_rounds=1000):
    """Driver-side merge loop over collected graph rows.

    regions: {rid: [klass, size]}; edges: set of (a, b) tuples.
    Returns {original rid -> (final_rid,)} final assignment mapping."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    final = {r: r for r in regions}  # current id of each ORIGINAL rid

    for _ in range(max_rounds):
        picks = {}
        for r, (_k, size) in regions.items():
            if size >= threshold or not nbrs.get(r):
                continue
            best = min(
                nbrs[r], key=lambda n: (-regions[n][1], n)
            )
            picks[r] = best
        if not picks:
            break
        # simultaneous merge: components of the undirected pick edges
        uf_parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while uf_parent.get(root, root) != root:
                root = uf_parent[root]
            while uf_parent.get(x, x) != root:
                uf_parent[x], x = root, uf_parent[x]
            return root

        for r, n in picks.items():
            ra, rb = find(r), find(n)
            if ra != rb:
                uf_parent[max(ra, rb)] = min(ra, rb)
        groups: dict[int, list[int]] = {}
        for r in set(picks) | set(picks.values()):
            groups.setdefault(find(r), []).append(r)
        relabel = {}
        for members in groups.values():
            target = min(members, key=lambda m: (-regions[m][1], m))
            tk = regions[target][0]
            tot = sum(regions[m][1] for m in members)
            for m in members:
                if m != target:
                    relabel[m] = target
                    del regions[m]
            regions[target] = [tk, tot]
        # contract: relabel's targets are fixed points within a round
        # (a node is in exactly one pick component), so one level maps
        # everything; rebuild the neighbour sets from the survivors
        cur = lambda x: relabel.get(x, x)  # noqa: E731
        new_nbrs: dict[int, set[int]] = {}
        for a, ns in nbrs.items():
            ca = cur(a)
            for b in ns:
                cb = cur(b)
                if ca != cb:
                    new_nbrs.setdefault(ca, set()).add(cb)
                    new_nbrs.setdefault(cb, set()).add(ca)
        nbrs = new_nbrs
        for orig in final:
            final[orig] = cur(final[orig])
    else:
        raise RuntimeError("sieve merge did not converge")
    return final


def _merge_rounds_distributed(spark, regions, edges, threshold,
                              max_rounds=200):
    """DataFrame twin of _merge_rounds_local: same round semantics, all
    steps bounded by the shrinking region graph. Returns a DataFrame
    (rid, final_rid) covering every original rid."""
    assign = regions.select(
        "rid", F.col("rid").alias("cur")
    ).localCheckpoint()
    R = regions.localCheckpoint()
    E = edges.localCheckpoint()
    for _ in range(max_rounds):
        und = E.unionByName(
            E.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        sizes = R.select(F.col("rid").alias("b"),
                         F.col("size").alias("nbr_size"))
        small = R.where(F.col("size") < threshold).select(
            F.col("rid").alias("a")
        )
        cand = und.join(small, "a").join(sizes, "b")
        # largest neighbour, ties -> smallest id: order by (-size, id)
        picks = cand.groupBy("a").agg(
            F.min(F.struct(
                (-F.col("nbr_size")).alias("neg"), F.col("b").alias("b")
            )).alias("best")
        ).select(F.col("a").alias("src"), F.col("best.b").alias("dst"))
        if picks.isEmpty():
            break
        comp = connected_components(picks, src="src", dst="dst")
        # target per component: largest member, ties smallest id
        msize = R.select(F.col("rid").alias("node"), "size", "klass")
        cm = comp.join(msize, "node")
        tgt = cm.groupBy("component").agg(
            F.min(F.struct(
                (-F.col("size")).alias("neg"), F.col("node").alias("node")
            )).alias("best")
        ).select("component", F.col("best.node").alias("target"))
        relab = cm.join(tgt, "component").select(
            F.col("node").alias("rid"), "target"
        ).where(F.col("rid") != F.col("target")).localCheckpoint()
        # new region table
        full_map = R.select("rid").join(relab, "rid", "left").withColumn(
            "new", F.coalesce(F.col("target"), F.col("rid"))
        ).select("rid", "new").localCheckpoint()
        R = (
            R.join(full_map, "rid")
            .groupBy("new")
            .agg(
                F.sum("size").alias("size"),
                # class of the target member (its own rid == new row)
                F.max(F.when(F.col("rid") == F.col("new"),
                             F.col("klass"))).alias("klass"),
            )
            .select(F.col("new").alias("rid"), "klass", "size")
            .localCheckpoint()
        )
        E = (
            E.join(full_map.withColumnRenamed("rid", "a")
                   .withColumnRenamed("new", "na"), "a")
            .join(full_map.withColumnRenamed("rid", "b")
                  .withColumnRenamed("new", "nb"), "b")
            .select(F.least("na", "nb").alias("a"),
                    F.greatest("na", "nb").alias("b"))
            .where(F.col("a") != F.col("b"))
            .dropDuplicates()
            .localCheckpoint()
        )
        assign = assign.join(
            full_map.withColumnRenamed("rid", "cur"), "cur"
        ).select("rid", F.col("new").alias("cur")).localCheckpoint()
    else:
        raise RuntimeError("sieve merge did not converge")
    return assign.select("rid", F.col("cur").alias("final_rid"))


def _final_assignment(spark, members, regions, edges, threshold,
                      local_threshold):
    """(rid, final_rid, final_klass) DataFrame over every original rid."""
    n_rows = regions.count() + edges.count()
    if n_rows <= local_threshold:
        reg_rows = {
            int(r.rid): [int(r.klass), int(r.size)]
            for r in regions.collect()
        }
        final_klass_src = dict(reg_rows)  # klass survives under target id
        edge_rows = {(int(r.a), int(r.b)) for r in edges.collect()}
        final = _merge_rounds_local(dict(reg_rows), edge_rows, threshold)
        rows = [
            (rid, fin, final_klass_src[fin][0])
            for rid, fin in final.items()
        ]
        return spark.createDataFrame(
            rows, "rid long, final_rid long, final_klass long"
        )
    assign = _merge_rounds_distributed(
        spark, regions, edges, threshold
    )
    k = regions.select(F.col("rid").alias("final_rid"),
                       F.col("klass").alias("final_klass"))
    return assign.join(k, "final_rid").select(
        "rid", "final_rid", "final_klass"
    )


def sieve_regions(
    spark: SparkSession,
    tiles: list[tuple[int, int, str]],
    threshold: int,
    *,
    bands=None,
    num_partitions: int | None = None,
    local_threshold: int = 5_000_000,
) -> DataFrame:
    """(region_id, value, n_cells, n_tiles) AFTER sieving: regions
    smaller than ``threshold`` cells merged into neighbours per the
    module-level round semantics. region_id = the surviving region's
    pre-merge id (min global cell id of its original core)."""
    if not tiles:
        raise ValueError("sieve_regions needs at least one tile")
    if threshold < 1:
        raise ValueError("threshold must be >= 1 cell")
    tiles, _orig_of = _normalize_grid(tiles)
    members, regions, edges, raw = _region_graph(
        spark, tiles, bands, num_partitions
    )
    try:
        assign = _final_assignment(
            spark, members, regions, edges, threshold, local_threshold
        )
        out = (
            members.join(assign, "rid")
            .groupBy(F.col("final_rid").alias("region_id"))
            .agg(
                F.min("final_klass").alias("value"),
                F.sum("n_cells").alias("n_cells"),
                F.countDistinct("tile_iy", "tile_ix").alias("n_tiles"),
            )
        )
        out = out.localCheckpoint()  # raw is unpersisted on return
    finally:
        raw.unpersist()
    return out


def sieve_tiles(
    spark: SparkSession,
    tiles: list[tuple[int, int, str]],
    out_dir: str,
    threshold: int,
    *,
    bands=None,
    num_partitions: int | None = None,
    local_threshold: int = 5_000_000,
) -> DataFrame:
    """gdal_sieve with output rasters: writes one int32 GeoTIFF per
    input tile holding the post-sieve CLASS of every cell (band index
    under ``bands`` quantization, the integer cell value otherwise;
    NODATA preserved as -2147483648). Returns the tile manifest
    (tile_iy, tile_ix, path, n_valid, checksum)."""
    from .. import geotiff

    if not tiles:
        raise ValueError("sieve_tiles needs at least one tile")
    tiles, orig_of = _normalize_grid(tiles)
    th, tw, gw = _grid_geometry(tiles)
    members, regions, edges, raw = _region_graph(
        spark, tiles, bands, num_partitions
    )
    try:
        assign = _final_assignment(
            spark, members, regions, edges, threshold, local_threshold
        )
        # per-tile mapping rows: local region min-gid -> final class
        tile_map = members.join(assign, "rid").select(
            "tile_iy", "tile_ix", "local_region", "final_klass"
        ).localCheckpoint()
    finally:
        raw.unpersist()
    os.makedirs(out_dir, exist_ok=True)
    path_of = {(iy, ix): p for iy, ix, p in tiles}
    bpath = spark.sparkContext.broadcast(path_of)
    borig = spark.sparkContext.broadcast(orig_of)
    NODATA = np.int32(np.iinfo(np.int32).min)

    def rewrite(key, pdf):
        iy, ix = int(key[0]), int(key[1])
        src = bpath.value[(iy, ix)]
        r = _open_cached(src)
        arr = r.read_block(0, r.height, 0, r.width)
        klass = classify_array(arr, bands=bands)
        # cell -> local region min-gid (same ids _label_tile assigned in
        # phase A: both are the min gid of the in-tile component)
        lut = dict(zip(
            pdf["local_region"].astype("int64"),
            pdf["final_klass"].astype("int64"),
        ))
        out = np.full(klass.shape, int(NODATA), dtype=np.int64)
        labels = _local_cell_labels(klass, iy * th, ix * tw, gw)
        valid = klass != -1
        if valid.any():
            flat = labels[valid]
            uniq = np.unique(flat)
            mapped = np.array(
                [lut[int(v)] for v in uniq], dtype=np.int64
            )
            out[valid] = mapped[np.searchsorted(uniq, flat)]
        # outputs carry the CALLER's keys, not the canonical rows
        oiy, oix = borig.value[(iy, ix)]
        dst = os.path.join(
            out_dir, f"sieve_{oiy}_{oix}.tif"
        )
        geotiff.write_geotiff(
            dst, out.astype(np.int32), x0=r.x0, y0=r.y0, sx=r.sx,
            sy=r.sy, epsg=(r.crs.epsg if r.crs else 4326),
            nodata=int(NODATA),
        )
        n_valid = int(valid.sum())
        checksum = float(out[valid].sum()) if n_valid else 0.0
        return pd.DataFrame({
            "tile_iy": [oiy], "tile_ix": [oix], "path": [dst],
            "n_valid": [n_valid], "checksum": [checksum],
        })

    return (
        tile_map.groupBy("tile_iy", "tile_ix")
        .applyInPandas(
            rewrite,
            "tile_iy long, tile_ix long, path string, n_valid long,"
            " checksum double",
        )
    )


def _local_cell_labels(klass: np.ndarray, gy0: int, gx0: int,
                       gw: int) -> np.ndarray:
    """Per-cell LOCAL region id (min gid within this tile) — the same
    labels _label_tile assigns, expanded to cells for the rewrite pass.
    Run-batched min-propagation restricted to one tile."""
    h, w = klass.shape
    gid = ((gy0 + np.arange(h, dtype=np.int64))[:, None] * gw
           + gx0 + np.arange(w, dtype=np.int64)[None, :])
    label = np.where(klass != -1, gid, np.int64(-1))
    while True:
        new = label
        for transpose in (False, True):
            l2 = np.ascontiguousarray(new.T) if transpose else new
            k2 = np.ascontiguousarray(klass.T) if transpose else klass
            h2, w2 = k2.shape
            nr = np.ones((h2, w2), dtype=bool)
            nr[:, 1:] = k2[:, 1:] != k2[:, :-1]
            starts = np.flatnonzero(nr.ravel())
            mins = np.minimum.reduceat(l2.ravel(), starts)
            counts = np.diff(np.append(starts, h2 * w2))
            l2 = np.repeat(mins, counts).reshape(h2, w2)
            new = l2.T if transpose else l2
        if np.array_equal(new, label):
            return label
        label = new


def _twin_merge_rounds(orig_regions: dict, orig_edges: set,
                       threshold: int) -> dict:
    """INDEPENDENT executor of the module-level round semantics for the
    sequential twin: every round rebuilds sizes and adjacency from the
    ORIGINAL graph plus the current assignment (no union-find, no
    incremental contraction — a different implementation shape from
    _merge_rounds_local, so a shared bug can't pass both). Returns
    {original region id -> final region id}."""
    final = {r: r for r in orig_regions}
    for _ in range(1000):
        # current graph from scratch
        size: dict[int, int] = {}
        for r, (_k, s) in orig_regions.items():
            size[final[r]] = size.get(final[r], 0) + s
        nbr: dict[int, set] = {}
        for a, b in orig_edges:
            ca, cb = final[a], final[b]
            if ca != cb:
                nbr.setdefault(ca, set()).add(cb)
                nbr.setdefault(cb, set()).add(ca)
        picks = {}
        for r, s in size.items():
            if s < threshold and nbr.get(r):
                picks[r] = min(nbr[r], key=lambda n: (-size[n], n))
        if not picks:
            return final
        # components over pick edges by iterated min-label sweeps
        lbl = {n: n for n in set(picks) | set(picks.values())}
        changed = True
        while changed:
            changed = False
            for a, b in picks.items():
                m = min(lbl[a], lbl[b])
                if lbl[a] != m or lbl[b] != m:
                    lbl[a] = lbl[b] = m
                    changed = True
        groups: dict[int, list] = {}
        for n in lbl:
            groups.setdefault(lbl[n], []).append(n)
        relabel = {}
        for members in groups.values():
            target = min(members, key=lambda m: (-size[m], m))
            for m in members:
                if m != target:
                    relabel[m] = target
        for orig in final:
            final[orig] = relabel.get(final[orig], final[orig])
    raise RuntimeError("twin sieve merge did not converge")


def sieve_sequential(
    tiles: list[tuple[int, int, str]],
    threshold: int,
    *,
    bands=None,
) -> list[tuple[int, int, int, int]]:
    """Single-process INDEPENDENT twin: stitch the mosaic, label by
    run-batched min-propagation (not union-find), build the region
    graph by whole-array neighbour shifts (not run adjacency), then
    apply the module-level round semantics with plain dicts. Returns
    sorted (region_id, value, n_cells, n_tiles)."""
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
    label = _local_cell_labels(klass, 0, 0, gw)
    mask = klass != -1
    uniq, inv = np.unique(label[mask], return_inverse=True)
    sizes = np.bincount(inv, minlength=len(uniq)).astype(np.int64)
    kls = np.zeros(len(uniq), np.int64)
    kls[inv] = klass[mask]
    regions = {
        int(u): [int(k), int(s)] for u, k, s in zip(uniq, kls, sizes)
    }
    # adjacency via whole-array shifts (east + south neighbour compares)
    edges = set()
    for axis, sl_a, sl_b in (
        (1, (slice(None), slice(None, -1)), (slice(None), slice(1, None))),
        (0, (slice(None, -1), slice(None)), (slice(1, None), slice(None))),
    ):
        ka, kb = klass[sl_a], klass[sl_b]
        la, lb = label[sl_a], label[sl_b]
        m = (ka != -1) & (kb != -1) & (ka != kb)
        pa = np.minimum(la[m], lb[m])
        pb = np.maximum(la[m], lb[m])
        edges.update(zip(pa.tolist(), pb.tolist()))
    final = _twin_merge_rounds(regions, edges, threshold)
    # expand assignment back to cells for n_tiles accounting
    fin_of = np.array([final[int(u)] for u in uniq], dtype=np.int64)
    cell_final = np.full((H, W), -1, np.int64)
    cell_final[mask] = fin_of[inv]
    tile_of = ((np.arange(H)[:, None] // th) * n_tx
               + (np.arange(W)[None, :] // tw))
    out = []
    for fid in np.unique(fin_of):
        sel = cell_final == fid
        out.append((
            int(fid),
            int(regions[int(fid)][0]),
            int(sel.sum()),
            int(np.unique(tile_of[sel]).size),
        ))
    return sorted(out)
