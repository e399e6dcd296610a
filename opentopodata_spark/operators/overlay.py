"""Vector–vector overlay analytics: polygon×polygon spatial join,
distributed convex hull, and Douglas–Peucker line simplification.

The reference resolves *points* against rasters and polygon coverage
(`/root/reference/opentopodata/config.py:432-451` is its only join);
a 100 TB geospatial corpus also needs the polygon-vs-polygon side of
the overlay algebra: "which admin region does each crawl-derived
footprint touch", "collapse each user's GPS trace to its shape".
Everything here is built from the same Spark-first discipline as the
rest of the engine:

``polygon_join``  — a grid-cell equi-join.  Spark plans a raw
    geometric predicate join as BroadcastNestedLoop / cartesian
    (O(|L|·|R|)); instead each
    polygon's bbox explodes to the fixed-width GRID CELLS it covers
    (pure column exprs), the two sides equi-join on the cell key (a
    shuffle hash join Catalyst can re-plan under AQE), a CANONICAL-CELL
    rule dedupes candidate pairs without a ``distinct()`` (a pair is
    tested only in the cell that contains the top-left corner of the
    bbox intersection), and the exact closed-set ``intersects``
    predicate runs as an Arrow-batched pandas UDF over the surviving
    candidates only.  Replication per polygon = its bbox cell count
    (``max_cells`` refuses pathological polygons executor-side with a
    loud error instead of letting one polygon's replication blow up).

``convex_hull``  — two-level distributed hull: per-partition monotone
    chains (mapInPandas, keep-collinear variant) shrink each partition
    to its local hull, then ONE groupBy gathers only those candidates
    for the final chain.  hull(∪ partitions) = hull(∪ local hulls) and
    a point on the global hull boundary is on every containing subset's
    hull boundary, so the keep-collinear chain makes the result
    layout-independent (tested).  The only shuffle carries local-hull
    points, not the input.

``simplify_lines``  — classic stack-based Douglas–Peucker per line via
    applyInPandas (one shuffle on line id).  The retain decision
    compares cross²  >  eps²·len² in int64 — exact for grid-snapped
    coordinates, so the result is bit-stable across layouts and engines
    and a DuckDB *recursive CTE* can replay it as an independent oracle
    (see __spark_entry__._Q_SIMPLIFY_SQL).

Exactness contract (shared with the DuckDB oracles): every geometric
test is sign-of-cross-product arithmetic on coordinate DIFFERENCES.
With inputs snapped to a grid (integers, or multiples of 2^-k) the
doubles are exact as long as single products stay below 2^53 — signs
are never taken of products-of-products.  Ray-cast point-in-polygon
divisions appear only for points strictly off the boundary (the
segment test runs first), where the quotient is bounded away from the
decision threshold by ≥ 1/Δy ≫ 1 ULP.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType


class OverlayError(ValueError):
    pass


# ---------------------------------------------------------------------------
# flat polygon representation: rings array<array<array<double>>> ->
# (vx array<double>, vy array<double>, ring_sizes array<int>) + bbox
# ---------------------------------------------------------------------------


def _flatten_rings(df: DataFrame, rings: str, prefix: str) -> DataFrame:
    vx = F.flatten(F.expr(f"transform({rings}, r -> transform(r, v -> v[0]))"))
    vy = F.flatten(F.expr(f"transform({rings}, r -> transform(r, v -> v[1]))"))
    sizes = F.expr(f"transform({rings}, r -> size(r))")
    return (
        df.withColumn(f"{prefix}vx", vx)
        .withColumn(f"{prefix}vy", vy)
        .withColumn(f"{prefix}rs", sizes)
        .withColumn(f"{prefix}xmin", F.array_min(f"{prefix}vx"))
        .withColumn(f"{prefix}xmax", F.array_max(f"{prefix}vx"))
        .withColumn(f"{prefix}ymin", F.array_min(f"{prefix}vy"))
        .withColumn(f"{prefix}ymax", F.array_max(f"{prefix}vy"))
        .drop(rings)
    )


def _cell_floor(col, width: float):
    # floor() of a double column is exact; width is a positive double.
    return F.floor(col / F.lit(float(width))).cast("long")


def _explode_cells(df: DataFrame, prefix: str, width: float,
                   max_cells: int) -> DataFrame:
    cx_lo = _cell_floor(F.col(f"{prefix}xmin"), width)
    cx_hi = _cell_floor(F.col(f"{prefix}xmax"), width)
    cy_lo = _cell_floor(F.col(f"{prefix}ymin"), width)
    cy_hi = _cell_floor(F.col(f"{prefix}ymax"), width)
    n = (cx_hi - cx_lo + 1) * (cy_hi - cy_lo + 1)
    guard = F.assert_true(
        n <= max_cells,
        F.concat(
            F.lit("polygon_join: a polygon bbox covers "), n.cast("string"),
            F.lit(f" grid cells (> max_cells={max_cells}); raise cell_size "
                  "or max_cells"),
        ),
    )
    df = df.withColumn(
        "_cx", F.explode(F.when(guard.isNull(), F.sequence(cx_lo, cx_hi)))
    )
    return df.withColumn("_cy", F.explode(F.sequence(cy_lo, cy_hi)))


# ---------------------------------------------------------------------------
# exact closed-set intersects predicate (numpy, per candidate pair)
# ---------------------------------------------------------------------------


def _ring_edges(vx, vy, ring_sizes, closed: bool = True):
    """(x1, y1, x2, y2) edge arrays; closed rings wrap, open paths
    (polylines) connect consecutive vertices only.  Edges never connect
    consecutive rings/paths."""
    x1s, y1s, x2s, y2s = [], [], [], []
    off = 0
    for n in ring_sizes:
        n = int(n)
        if n < (3 if closed else 2):
            raise OverlayError(
                "polygon ring with < 3 vertices" if closed
                else "polyline path with < 2 vertices")
        rx, ry = vx[off:off + n], vy[off:off + n]
        if closed:
            x1s.append(rx)
            y1s.append(ry)
            x2s.append(np.roll(rx, -1))
            y2s.append(np.roll(ry, -1))
        else:
            x1s.append(rx[:-1])
            y1s.append(ry[:-1])
            x2s.append(rx[1:])
            y2s.append(ry[1:])
        off += n
    return (np.concatenate(x1s), np.concatenate(y1s),
            np.concatenate(x2s), np.concatenate(y2s))


def _segments_intersect_any(ea, eb) -> bool:
    """True iff any closed segment of ea touches any closed segment of
    eb (proper crossing, endpoint touch, or collinear overlap) —
    vectorized CLRS SEGMENTS-INTERSECT over the nA×nB pair grid.
    Signs are compared, never multiplied: each cross term is a single
    product of coordinate differences, exact below 2^53."""
    p1x, p1y, p2x, p2y = (a[:, None] for a in ea)
    q1x, q1y, q2x, q2y = (b[None, :] for b in eb)

    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    d1 = np.sign(cross(q1x, q1y, q2x, q2y, p1x, p1y))
    d2 = np.sign(cross(q1x, q1y, q2x, q2y, p2x, p2y))
    d3 = np.sign(cross(p1x, p1y, p2x, p2y, q1x, q1y))
    d4 = np.sign(cross(p1x, p1y, p2x, p2y, q2x, q2y))
    straddle = (d1 != d2) & (d1 != 0) & (d2 != 0) \
        & (d3 != d4) & (d3 != 0) & (d4 != 0)
    if straddle.any():
        return True

    def on_seg(ax, ay, bx, by, cx, cy):
        return (np.minimum(ax, bx) <= cx) & (cx <= np.maximum(ax, bx)) \
            & (np.minimum(ay, by) <= cy) & (cy <= np.maximum(ay, by))

    touch = ((d1 == 0) & on_seg(q1x, q1y, q2x, q2y, p1x, p1y)) \
        | ((d2 == 0) & on_seg(q1x, q1y, q2x, q2y, p2x, p2y)) \
        | ((d3 == 0) & on_seg(p1x, p1y, p2x, p2y, q1x, q1y)) \
        | ((d4 == 0) & on_seg(p1x, p1y, p2x, p2y, q2x, q2y))
    return bool(touch.any())


def _point_in_polygon(px: float, py: float, edges) -> bool:
    """Even-odd ray cast over ALL rings (holes subtract).  Only called
    for points strictly off the boundary (segment test ran first)."""
    x1, y1, x2, y2 = edges
    crossing = (y1 > py) != (y2 > py)
    if not crossing.any():
        return False
    x1c, y1c, x2c, y2c = x1[crossing], y1[crossing], x2[crossing], y2[crossing]
    xint = (x2c - x1c) * (py - y1c) / (y2c - y1c) + x1c
    return bool(np.count_nonzero(px < xint) % 2 == 1)


def geoms_intersect(a_vx, a_vy, a_rs, b_vx, b_vy, b_rs,
                    a_closed: bool = True, b_closed: bool = True) -> bool:
    """Closed-set intersects for polygon/polyline pairs.  Polygons are
    rings-with-holes (even-odd interiors); polylines are open vertex
    chains.  Crossing/touch of any segment pair counts; containment is
    tested only against a CLOSED side (a polyline has no interior)."""
    ea = _ring_edges(np.asarray(a_vx, float), np.asarray(a_vy, float),
                     a_rs, a_closed)
    eb = _ring_edges(np.asarray(b_vx, float), np.asarray(b_vy, float),
                     b_rs, b_closed)
    if _segments_intersect_any(ea, eb):
        return True
    if b_closed and _point_in_polygon(float(a_vx[0]), float(a_vy[0]), eb):
        return True
    return a_closed and _point_in_polygon(float(b_vx[0]), float(b_vy[0]), ea)


def polygons_intersect(a_vx, a_vy, a_rs, b_vx, b_vy, b_rs) -> bool:
    """Closed-set intersects for two polygons-with-holes (even-odd
    interiors): boundary crossing/touch, or either's outer-ring anchor
    vertex interior to the other."""
    return geoms_intersect(a_vx, a_vy, a_rs, b_vx, b_vy, b_rs, True, True)


def _edge_stack(vxs, vys, rss, closed: bool):
    """Per-row edge arrays concatenated into one flat (x1,y1,x2,y2)
    stack plus per-row counts — the substrate for whole-batch
    vectorization."""
    parts = []
    counts = np.empty(len(vxs), dtype=np.int64)
    for i in range(len(vxs)):
        e = _ring_edges(np.asarray(vxs[i], float), np.asarray(vys[i], float),
                        rss[i], closed)
        parts.append(np.stack(e, axis=1))
        counts[i] = len(e[0])
    stack = np.concatenate(parts, axis=0) if parts else np.empty((0, 4))
    return stack, counts


def _pairs_intersect_batch(lvx, lvy, lrs, rvx, rvy, rrs,
                           a_closed: bool, b_closed: bool) -> np.ndarray:
    """Vectorized closed-set 'intersects' for a whole candidate batch.

    Instead of a per-pair Python loop (8+ tiny numpy calls per pair —
    measured ~4 ms/pair, the UDF bottleneck at sf0.1), the batch's
    edge×edge products flatten into ONE index-arithmetic construction:
    global product row k belongs to pair pair_of[k], with its left and
    right edge picked by // and % on per-pair right-edge counts.  The
    CLRS sign tests then run once over the flat arrays, pair verdicts
    come back via np.bincount, and the even-odd containment fallback
    runs the same way on the still-undecided subset.  Semantics are
    IDENTICAL to geoms_intersect (the broadcast path still uses the
    scalar form, and the shuffle-vs-broadcast equality test pins the
    two implementations against each other)."""
    P = len(lvx)
    if P == 0:
        return np.empty(0, dtype=bool)
    ea, a_cnt = _edge_stack(lvx, lvy, lrs, a_closed)
    eb, b_cnt = _edge_stack(rvx, rvy, rrs, b_closed)
    a_off = np.concatenate(([0], np.cumsum(a_cnt)[:-1]))
    b_off = np.concatenate(([0], np.cumsum(b_cnt)[:-1]))

    prod = a_cnt * b_cnt
    total = int(prod.sum())
    pair_of = np.repeat(np.arange(P), prod)
    l = np.arange(total) - np.repeat(np.concatenate(([0], np.cumsum(prod)[:-1])), prod)
    b_rep = np.repeat(b_cnt, prod)
    ia = np.repeat(a_off, prod) + l // b_rep
    jb = np.repeat(b_off, prod) + l % b_rep

    p1x, p1y, p2x, p2y = (ea[ia, c] for c in range(4))
    q1x, q1y, q2x, q2y = (eb[jb, c] for c in range(4))

    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    d1 = np.sign(cross(q1x, q1y, q2x, q2y, p1x, p1y))
    d2 = np.sign(cross(q1x, q1y, q2x, q2y, p2x, p2y))
    d3 = np.sign(cross(p1x, p1y, p2x, p2y, q1x, q1y))
    d4 = np.sign(cross(p1x, p1y, p2x, p2y, q2x, q2y))
    hit = (d1 != d2) & (d1 != 0) & (d2 != 0) \
        & (d3 != d4) & (d3 != 0) & (d4 != 0)

    def on_seg(ax, ay, bx, by, cx, cy):
        return (np.minimum(ax, bx) <= cx) & (cx <= np.maximum(ax, bx)) \
            & (np.minimum(ay, by) <= cy) & (cy <= np.maximum(ay, by))

    hit |= (d1 == 0) & on_seg(q1x, q1y, q2x, q2y, p1x, p1y)
    hit |= (d2 == 0) & on_seg(q1x, q1y, q2x, q2y, p2x, p2y)
    hit |= (d3 == 0) & on_seg(p1x, p1y, p2x, p2y, q1x, q1y)
    hit |= (d4 == 0) & on_seg(p1x, p1y, p2x, p2y, q2x, q2y)
    out = np.bincount(pair_of, weights=hit, minlength=P) > 0

    def pip_batch(idx, px, py, estack, ecnt, eoff):
        """Even-odd containment of per-pair anchor points against the
        other side's edge stacks, for the undecided pair subset."""
        cnt = ecnt[idx]
        tot = int(cnt.sum())
        if tot == 0:
            return np.zeros(len(idx), dtype=bool)
        sub_of = np.repeat(np.arange(len(idx)), cnt)
        ll = np.arange(tot) - np.repeat(
            np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt)
        je = np.repeat(eoff[idx], cnt) + ll
        x1, y1, x2, y2 = (estack[je, c] for c in range(4))
        ppx = px[sub_of]
        ppy = py[sub_of]
        crossing = (y1 > ppy) != (y2 > ppy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (ppy - y1) / (y2 - y1) + x1
        c = crossing & (ppx < xint)
        return (np.bincount(sub_of, weights=c,
                            minlength=len(idx)).astype(np.int64) % 2) == 1

    undecided = np.nonzero(~out)[0]
    if len(undecided) and b_closed:
        ax0 = np.array([lvx[i][0] for i in undecided], dtype=float)
        ay0 = np.array([lvy[i][0] for i in undecided], dtype=float)
        inside = pip_batch(undecided, ax0, ay0, eb, b_cnt, b_off)
        out[undecided[inside]] = True
        undecided = undecided[~inside]
    if len(undecided) and a_closed:
        bx0 = np.array([rvx[i][0] for i in undecided], dtype=float)
        by0 = np.array([rvy[i][0] for i in undecided], dtype=float)
        inside = pip_batch(undecided, bx0, by0, ea, a_cnt, a_off)
        out[undecided[inside]] = True
    return out


# ---------------------------------------------------------------------------
# polygon_join
# ---------------------------------------------------------------------------


def polygon_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "l_id",
    right_id: str = "r_id",
    rings: str = "rings",
    *,
    cell_size: float = 256.0,
    on: list[str] | None = None,
    max_cells: int = 4096,
    max_bucket: int | None = None,
    left_kind: str = "polygon",
    right_kind: str = "polygon",
) -> DataFrame:
    """Pairs (left_id, right_id) of geometries whose closed point sets
    intersect (boundary touch counts; holes are even-odd interior).

    ``rings`` column on BOTH inputs: array<array<array<double>>> —
    ring -> vertex -> [x, y], first ring the outer boundary, later
    rings holes, vertices NOT closed (first != last).  ``cell_size``
    is the bucketing grid width in coordinate units — pick it near the
    median polygon bbox edge so replication stays O(1) per polygon.

    ``left_kind`` / ``right_kind``: 'polygon' (default) or 'line' —
    a 'line' side's rings are OPEN polyline paths (roads, GPS traces):
    segments don't wrap, and containment is only tested against a
    polygon side (a polyline has no interior).  line×polygon is the
    roads-per-region shape; line×line the network-crossing shape.

    Scale shape: one cell-explode + shuffle per side, one equi-join on
    (``on``…, cell), pure-expression canonical-cell + bbox filters,
    then the exact predicate only on surviving candidates.  No
    cartesian, no nested loop, no distinct (plan-shape pinned in
    tests/test_overlay.py).

    ``max_bucket`` (opt-in, one extra aggregate per side): refuse a hot
    grid cell holding more than this many polygons on EITHER side
    before the per-cell candidate product goes quadratic: a loud
    error, never a silent quadratic join.  A refused cell means
    cell_size is too coarse for that region's polygon density; shrink
    it (or salt the dense region upstream).
    """
    for k in (left_kind, right_kind):
        if k not in ("polygon", "line"):
            raise OverlayError(f"unknown geometry kind {k!r}")
    a_closed, b_closed = left_kind == "polygon", right_kind == "polygon"
    on = list(on or [])
    lf = _flatten_rings(
        left.select(F.col(left_id).alias("_lid"), *on, rings), rings, "_l")
    rf = _flatten_rings(
        right.select(F.col(right_id).alias("_rid"), *on, rings), rings, "_r")
    lf = _explode_cells(lf, "_l", cell_size, max_cells)
    rf = _explode_cells(rf, "_r", cell_size, max_cells)
    if max_bucket is not None:
        for side in (lf, rf):
            hot = (
                side.groupBy(*on, "_cx", "_cy").count()
                .where(F.col("count") > max_bucket)
                .select("_cx", "_cy", "count").limit(1).collect()
            )
            if hot:
                r = hot[0]
                raise OverlayError(
                    f"polygon_join: grid cell ({r['_cx']}, {r['_cy']}) holds "
                    f"{r['count']} polygons (> max_bucket={max_bucket}); "
                    "shrink cell_size or salt the dense region")

    cand = lf.join(rf, on + ["_cx", "_cy"])
    # canonical cell: the one containing the top-left (min-x, min-y)
    # corner of the bbox intersection — inside both bboxes, so exactly
    # one surviving copy per candidate pair.
    cand = cand.where(
        (F.col("_cx") == _cell_floor(F.greatest("_lxmin", "_rxmin"), cell_size))
        & (F.col("_cy") == _cell_floor(F.greatest("_lymin", "_rymin"), cell_size))
    )
    cand = cand.where(
        (F.col("_lxmin") <= F.col("_rxmax")) & (F.col("_rxmin") <= F.col("_lxmax"))
        & (F.col("_lymin") <= F.col("_rymax")) & (F.col("_rymin") <= F.col("_lymax"))
    )

    @F.pandas_udf(BooleanType())
    def hit(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        for pdf in it:
            yield pd.Series(_pairs_intersect_batch(
                pdf["_lvx"].values, pdf["_lvy"].values, pdf["_lrs"].values,
                pdf["_rvx"].values, pdf["_rvy"].values, pdf["_rrs"].values,
                a_closed, b_closed))

    struct_cols = F.struct("_lvx", "_lvy", "_lrs", "_rvx", "_rvy", "_rrs")
    # pandas_udf over multiple array columns: pass via struct iterator
    cand = cand.withColumn("_hit", hit(struct_cols))
    out = cand.where("_hit").select(
        F.col("_lid").alias(left_id), F.col("_rid").alias(right_id), *on
    )
    return out


def polygon_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "l_id",
    right_id: str = "r_id",
    rings: str = "rings",
    *,
    cell_size: float = 256.0,
    max_broadcast_rows: int = 100_000,
    left_kind: str = "polygon",
    right_kind: str = "polygon",
) -> DataFrame:
    """Shuffle-free twin of :func:`polygon_join` for a dimension-sized
    right side (admin regions, country borders — the common overlay
    shape at corpus scale): the right polygons collect to the driver
    (loud ``max_broadcast_rows`` refusal), a cell→candidates grid index
    ships inside the mapInPandas closure, and every left partition
    resolves its pairs locally — ZERO exchanges in the plan (pinned in
    tests).  Same closed-set semantics as polygon_join; equality with
    the shuffle path is a test invariant."""
    for k in (left_kind, right_kind):
        if k not in ("polygon", "line"):
            raise OverlayError(f"unknown geometry kind {k!r}")
    a_closed, b_closed = left_kind == "polygon", right_kind == "polygon"
    rrows = right.select(F.col(right_id).alias("_rid"), rings).collect()
    if len(rrows) > max_broadcast_rows:
        raise OverlayError(
            f"polygon_join_broadcast: right side has {len(rrows)} rows "
            f"(> max_broadcast_rows={max_broadcast_rows}); use polygon_join")
    r_ids, r_flat, r_bbox = [], [], []
    grid: dict[tuple[int, int], list[int]] = {}
    w = float(cell_size)
    for i, row in enumerate(rrows):
        rr = row[1]
        vx = np.array([v[0] for ring in rr for v in ring], dtype=float)
        vy = np.array([v[1] for ring in rr for v in ring], dtype=float)
        rs = [len(ring) for ring in rr]
        r_ids.append(row[0])
        r_flat.append((vx, vy, rs))
        bb = (vx.min(), vx.max(), vy.min(), vy.max())
        r_bbox.append(bb)
        for cx in range(int(np.floor(bb[0] / w)), int(np.floor(bb[1] / w)) + 1):
            for cy in range(int(np.floor(bb[2] / w)),
                            int(np.floor(bb[3] / w)) + 1):
                grid.setdefault((cx, cy), []).append(i)

    id_t = dict(left.dtypes)[left_id]
    rid_t = dict(right.dtypes)[right_id]
    schema = f"`{left_id}` {id_t}, `{right_id}` {rid_t}"
    lf = _flatten_rings(
        left.select(F.col(left_id).alias("_lid"), rings), rings, "_l")

    def resolve(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_l, out_r = [], []
            for row in pdf.itertuples(index=False):
                lvx = np.asarray(row[1], dtype=float)
                lvy = np.asarray(row[2], dtype=float)
                lrs = list(row[3])
                bb = (lvx.min(), lvx.max(), lvy.min(), lvy.max())
                cands: set[int] = set()
                for cx in range(int(np.floor(bb[0] / w)),
                                int(np.floor(bb[1] / w)) + 1):
                    for cy in range(int(np.floor(bb[2] / w)),
                                    int(np.floor(bb[3] / w)) + 1):
                        cands.update(grid.get((cx, cy), ()))
                for i in sorted(cands):
                    rb = r_bbox[i]
                    if bb[0] > rb[1] or rb[0] > bb[1] \
                            or bb[2] > rb[3] or rb[2] > bb[3]:
                        continue
                    rvx, rvy, rrs = r_flat[i]
                    if geoms_intersect(lvx, lvy, lrs, rvx, rvy, rrs,
                                       a_closed, b_closed):
                        out_l.append(row[0])
                        out_r.append(r_ids[i])
            yield pd.DataFrame({left_id: out_l, right_id: out_r})

    sel = lf.select(F.col("_lid").alias("_0"), F.col("_lvx").alias("_1"),
                    F.col("_lvy").alias("_2"), F.col("_lrs").alias("_3"))
    return sel.mapInPandas(resolve, schema=schema)


# ---------------------------------------------------------------------------
# polygon metrics — pure column expressions, zero Python, zero shuffle
# ---------------------------------------------------------------------------


def polygon_metrics(df: DataFrame, poly_id: str = "poly_id",
                    rings: str = "rings", decimals: int = 6) -> DataFrame:
    """(poly_id, area, perimeter, cx, cy) per polygon-with-holes —
    entirely whole-stage-codegen column expressions (aggregate/transform
    HOFs): no UDF, no exchange, scan-wide throughput at 10^12 rows.

    area: |shoelace(outer)| − Σ|shoelace(hole)| (orientation-free);
    perimeter: all rings (holes included, the OGC convention);
    centroid: ring-area-weighted, holes subtract.  Results rounded to
    ``decimals`` so the cross-engine compare is ULP-robust."""
    ring_cross = (
        "transform({r}, (v, i) -> v[0] * element_at({r}, "
        "CAST((i+1) % size({r}) AS INT) + 1)[1] - element_at({r}, "
        "CAST((i+1) % size({r}) AS INT) + 1)[0] * v[1])"
    )
    ring_a2 = ("aggregate(" + ring_cross + ", CAST(0.0 AS DOUBLE),"
               " (acc, c) -> acc + c)")

    def per_ring(expr: str) -> str:
        # expr uses {r} for the ring; evaluates it per ring
        return "transform(" + "{rings}" + ", r0 -> " + \
            expr.replace("{r}", "r0") + ")"

    a2s = per_ring(ring_a2).format(rings=rings)
    # ring centroid numerators Σ(x_i+x_j)·cross_i and Σ(y_i+y_j)·cross_i
    _nxt = "element_at({r}, CAST((i+1) % size({r}) AS INT) + 1)"
    _cross_i = f"(v[0] * {_nxt}[1] - {_nxt}[0] * v[1])"
    ring_cx_num = (
        "aggregate(transform({r}, (v, i) -> "
        f"(v[0] + {_nxt}[0]) * {_cross_i}), "
        "CAST(0.0 AS DOUBLE), (acc, c) -> acc + c)")
    ring_cy_num = (
        "aggregate(transform({r}, (v, i) -> "
        f"(v[1] + {_nxt}[1]) * {_cross_i}), "
        "CAST(0.0 AS DOUBLE), (acc, c) -> acc + c)")
    cxs = per_ring(ring_cx_num).format(rings=rings)
    cys = per_ring(ring_cy_num).format(rings=rings)
    ring_per = (
        "aggregate(transform({r}, (v, i) -> sqrt("
        "pow(v[0] - element_at({r}, CAST((i+1) % size({r}) AS INT) + 1)[0], 2)"
        " + pow(v[1] - element_at({r}, CAST((i+1) % size({r}) AS INT) + 1)[1],"
        " 2))), CAST(0.0 AS DOUBLE), (acc, c) -> acc + c)")
    pers = per_ring(ring_per).format(rings=rings)

    out = df.select(
        F.col(poly_id),
        F.expr(a2s).alias("_a2"),
        F.expr(cxs).alias("_cxn"),
        F.expr(cys).alias("_cyn"),
        F.expr(pers).alias("_per"),
    )
    # signed weight per ring: +|a2| for ring 0, −|a2| for holes; ring
    # centroid = num / (3·a2) (orientation cancels)
    out = out.selectExpr(
        poly_id,
        "aggregate(transform(_a2, (a, i) -> CASE WHEN i = 0 THEN abs(a) "
        "ELSE -abs(a) END), CAST(0.0 AS DOUBLE), (acc, a) -> acc + a) / 2 "
        "AS _area",
        "aggregate(_per, CAST(0.0 AS DOUBLE), (acc, p) -> acc + p) "
        "AS _perimeter",
        # Σ_r ±|a2_r| · (num_r / (3·a2_r))  /  Σ_r ±|a2_r|
        "aggregate(transform(_a2, (a, i) -> (CASE WHEN i = 0 THEN abs(a) "
        "ELSE -abs(a) END) * (_cxn[i] / (3 * a))), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v) AS _cxw",
        "aggregate(transform(_a2, (a, i) -> (CASE WHEN i = 0 THEN abs(a) "
        "ELSE -abs(a) END) * (_cyn[i] / (3 * a))), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v) AS _cyw",
        "aggregate(transform(_a2, (a, i) -> CASE WHEN i = 0 THEN abs(a) "
        "ELSE -abs(a) END), CAST(0.0 AS DOUBLE), (acc, a) -> acc + a) "
        "AS _w2",
    )
    d = decimals
    return out.select(
        F.col(poly_id),
        F.round("_area", d).alias("area"),
        F.round("_perimeter", d).alias("perimeter"),
        F.round(F.col("_cxw") / F.col("_w2"), d).alias("cx"),
        F.round(F.col("_cyw") / F.col("_w2"), d).alias("cy"),
    )


_SPHERE_R_KM = 6371.0088  # IUGG mean Earth radius


def sphere_polygon_metrics(df: DataFrame, poly_id: str = "poly_id",
                           rings: str = "rings",
                           decimals: int = 3) -> DataFrame:
    """(poly_id, area_km2, perimeter_km) for lat/lon polygons on the
    sphere — the geodesy-side twin of :func:`polygon_metrics`.

    ``rings``: array<array<array<double>>> of [lon, lat] DEGREE pairs
    (GeoJSON axis order), first ring outer, later rings holes, edges
    follow great circles.  Implementation is again PURE column
    expressions (trig + aggregate/transform HOFs — zero UDF, zero
    exchange):

    * ring area: the polygon's spherical excess summed as signed
      north-pole fan triangles, each by the van Oosterom–Strackee
      formula tan(E/2) = det(A,B,N) / (1 + A·B + B·N + N·A) on unit
      vectors (exact, no l'Huilier triangulation order issues);
      |outer| − Σ|holes|, × R².  Polygons must not ENCLOSE a pole
      (fan winding around N shifts the sum by 4π) nor cross the
      antimeridian — split such geometries upstream (the same contract
      the S2 cover front door documents).
    * perimeter: Σ great-circle arcs atan2(|A×B|, A·B) · R over all
      rings.

    Sphere, not ellipsoid: results match the S2/turf spherical model
    (R = 6371.0088 km); the reference's pyproj-backed geod areas are
    ellipsoidal and differ by ≤0.5%.  Rounded to ``decimals`` so the
    JVM-vs-C libm trig ULP spread can never flip a compare."""
    vecs = (
        "transform({rings}, r0 -> transform(r0, v -> array("
        "cos(radians(v[1])) * cos(radians(v[0])), "
        "cos(radians(v[1])) * sin(radians(v[0])), "
        "sin(radians(v[1])))))"
    ).format(rings=rings)
    nxt = "element_at(rv, CAST((i+1) % size(rv) AS INT) + 1)"
    exc_term = (
        f"2 * atan2(v[0] * {nxt}[1] - v[1] * {nxt}[0], "
        f"1.0D + v[0]*{nxt}[0] + v[1]*{nxt}[1] + v[2]*{nxt}[2] "
        f"+ v[2] + {nxt}[2])"
    )
    arc_term = (
        f"atan2(sqrt(pow(v[1]*{nxt}[2] - v[2]*{nxt}[1], 2) "
        f"+ pow(v[2]*{nxt}[0] - v[0]*{nxt}[2], 2) "
        f"+ pow(v[0]*{nxt}[1] - v[1]*{nxt}[0], 2)), "
        f"v[0]*{nxt}[0] + v[1]*{nxt}[1] + v[2]*{nxt}[2])"
    )

    def per_ring_sum(term: str) -> str:
        return ("transform(_vecs, rv -> aggregate(transform(rv, (v, i) -> "
                + term + "), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")

    out = df.select(F.col(poly_id), F.expr(vecs).alias("_vecs"))
    out = out.select(
        poly_id,
        F.expr(per_ring_sum(exc_term)).alias("_exc"),
        F.expr(per_ring_sum(arc_term)).alias("_arc"),
    )
    r2 = _SPHERE_R_KM * _SPHERE_R_KM
    return out.selectExpr(
        poly_id,
        f"round(aggregate(transform(_exc, (e, i) -> CASE WHEN i = 0 "
        f"THEN abs(e) ELSE -abs(e) END), CAST(0.0 AS DOUBLE), "
        f"(acc, e) -> acc + e) * {r2!r}, {decimals}) AS area_km2",
        f"round(aggregate(_arc, CAST(0.0 AS DOUBLE), (acc, a) -> acc + a)"
        f" * {_SPHERE_R_KM!r}, {decimals}) AS perimeter_km",
    )


# ---------------------------------------------------------------------------
# Sutherland–Hodgman clip against a convex window
# ---------------------------------------------------------------------------


def _clip_ring(rx: np.ndarray, ry: np.ndarray, clip: list) -> tuple:
    """Clip one ring against a convex CCW clip polygon; returns
    (xs, ys) arrays of the clipped ring (possibly empty)."""
    n = len(clip)
    for i in range(n):
        if not len(rx):
            break
        ax, ay = clip[i]
        bx, by = clip[(i + 1) % n]
        ex, ey = bx - ax, by - ay
        d = ex * (ry - ay) - ey * (rx - ax)   # >=0: inside half-plane
        nx, ny = [], []
        m = len(rx)
        for j in range(m):
            k = (j + 1) % m
            cur_in, nxt_in = d[j] >= 0, d[k] >= 0
            if cur_in:
                nx.append(rx[j])
                ny.append(ry[j])
            if cur_in != nxt_in:
                t = d[j] / (d[j] - d[k])
                nx.append(rx[j] + t * (rx[k] - rx[j]))
                ny.append(ry[j] + t * (ry[k] - ry[j]))
        rx = np.asarray(nx, dtype=float)
        ry = np.asarray(ny, dtype=float)
        d = None
    return rx, ry


def _shoelace2(xs: np.ndarray, ys: np.ndarray) -> float:
    if len(xs) < 3:
        return 0.0
    return float(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys))


def clip_polygons(df: DataFrame, clip: list, poly_id: str = "poly_id",
                  rings: str = "rings", decimals: int = 6,
                  emit_rings: bool = False) -> DataFrame:
    """Clip every polygon to a convex window (Sutherland–Hodgman per
    ring; holes clip independently and subtract — valid because a hole
    stays inside its outer, so area(clip∩poly) = area(clip∩outer) −
    Σ area(clip∩hole)).  Emits only polygons with positive clipped
    area: (poly_id, clip_area, xmin, xmax, ymin, ymax of the clipped
    outer).  ``clip``: [[x, y], …] convex, CCW, driver-side (a clip
    window is O(1) — it ships in the UDF closure, no join).

    ``emit_rings=True`` adds the clipped geometry itself as a
    ``rings`` column (outer first, surviving holes after, open rings —
    the ogr2ogr -clipsrc shape; S-H bridge slivers on concave
    subjects stay in the ring, which is the standard S-H contract)."""
    cl = [(float(x), float(y)) for x, y in clip]
    if len(cl) < 3:
        raise OverlayError("clip window needs >= 3 vertices")
    if _shoelace2(np.array([p[0] for p in cl]),
                  np.array([p[1] for p in cl])) <= 0:
        raise OverlayError("clip window must be convex CCW (got area <= 0)")
    id_t = dict(df.dtypes)[poly_id]
    schema = (f"`{poly_id}` {id_t}, clip_area double, xmin double, "
              "xmax double, ymin double, ymax double")
    if emit_rings:
        schema += ", rings array<array<array<double>>>"
    d = decimals

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_rows: dict[str, list] = {
                poly_id: [], "clip_area": [], "xmin": [], "xmax": [],
                "ymin": [], "ymax": []}
            if emit_rings:
                out_rows["rings"] = []
            for row in pdf.itertuples(index=False):
                rr = row[1]
                area2 = 0.0
                outer = None
                kept_rings = []
                for ri, ring in enumerate(rr):
                    rx = np.array([v[0] for v in ring], dtype=float)
                    ry = np.array([v[1] for v in ring], dtype=float)
                    cx, cy = _clip_ring(rx, ry, cl)
                    a2 = abs(_shoelace2(cx, cy))
                    area2 += a2 if ri == 0 else -a2
                    if ri == 0:
                        outer = (cx, cy)
                    if emit_rings and len(cx) >= 3 and (ri == 0 or a2 > 0):
                        kept_rings.append(
                            [[float(x), float(y)] for x, y in zip(cx, cy)])
                if area2 > 0 and outer is not None and len(outer[0]):
                    out_rows[poly_id].append(row[0])
                    out_rows["clip_area"].append(round(area2 / 2.0, d))
                    out_rows["xmin"].append(round(float(outer[0].min()), d))
                    out_rows["xmax"].append(round(float(outer[0].max()), d))
                    out_rows["ymin"].append(round(float(outer[1].min()), d))
                    out_rows["ymax"].append(round(float(outer[1].max()), d))
                    if emit_rings:
                        out_rows["rings"].append(kept_rings)
            pdf_out = pd.DataFrame(
                {k: v for k, v in out_rows.items() if k != "rings"})
            if emit_rings:
                # nested lists must ride an object Series — a numpy-
                # inferred column trips Arrow's NumPyConverter
                pdf_out["rings"] = pd.Series(out_rows["rings"],
                                             dtype=object)
            yield pdf_out

    return df.select(poly_id, rings).mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# convex hull (distributed, keep-collinear — boundary points are vertices)
# ---------------------------------------------------------------------------


def _chain(px: np.ndarray, py: np.ndarray):
    """Monotone chain keeping collinear boundary points.  Input must be
    deduplicated.  Returns hull vertex indices in CCW order starting at
    the lexicographically smallest point; for degenerate (all-collinear)
    input returns the sorted segment run."""
    order = np.lexsort((py, px))
    px, py = px[order], py[order]
    n = len(px)
    if n <= 2:
        return order[:n]

    def half(rng):
        h = []
        for i in rng:
            while len(h) >= 2:
                ax, ay = px[h[-2]], py[h[-2]]
                bx, by = px[h[-1]], py[h[-1]]
                if (bx - ax) * (py[i] - ay) - (by - ay) * (px[i] - ax) < 0:
                    h.pop()
                else:
                    break
            h.append(i)
        return h

    lower = half(range(n))
    upper = half(range(n - 1, -1, -1))
    idx = lower[:-1] + upper[:-1]
    # all-collinear degenerate: lower+upper retrace the same segment;
    # collapse to the unique sorted run
    if len(idx) != len(set(idx)):
        seen, uniq = set(), []
        for i in idx:
            if i not in seen:
                seen.add(i)
                uniq.append(i)
        idx = uniq
    return order[np.asarray(idx, dtype=np.int64)]


def _hull_pdf(pdf: pd.DataFrame, by: list[str], final: bool) -> pd.DataFrame:
    px = pdf["x"].values.astype(float)
    py = pdf["y"].values.astype(float)
    pts = np.stack([px, py], axis=1)
    uniq, uidx = np.unique(pts, axis=0, return_index=True)
    idx = uidx[_chain(uniq[:, 0], uniq[:, 1])]
    out = pdf.iloc[idx][by + ["x", "y"]].reset_index(drop=True)
    if final:
        hx, hy = out["x"].values, out["y"].values
        # shoelace over the CCW chain; ×2 keeps it integral for
        # integer-grid inputs (order-independent checksum for oracles)
        area2 = float(np.sum(hx * np.roll(hy, -1) - np.roll(hx, -1) * hy))
        out = out.assign(hull_n=len(out), hull_area2=area2)
    return out


def convex_hull(points: DataFrame, x: str = "x", y: str = "y",
                by: list[str] | None = None) -> DataFrame:
    """Per-group convex hull vertex rows
    (by…, x, y, hull_n, hull_area2).  Collinear boundary points ARE
    vertices (the minimal-edge convention the SQL oracle can state
    pair-wise); hull_area2 is the doubled shoelace area — exact for
    grid-snapped inputs.

    Two-level plan: per-input-partition local chains first (mapInPandas
    — no shuffle, output is each partition's hull only), then one
    groupBy gathers just those candidates for the final chain.  The
    exchange therefore carries O(partitions × local hull size), not the
    input; the classic all-points-on-a-circle adversary degrades the
    final gather to the true hull size, which is the output size —
    inherent, not a plan defect."""
    by = list(by or [])
    base = points.select(*by, F.col(x).cast("double").alias("x"),
                         F.col(y).cast("double").alias("y"))
    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in points.select(*by).dtypes]
        + ["x double", "y double"])
    final_schema = out_schema + ", hull_n int, hull_area2 double"

    def local(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            if by:
                for _, g in pdf.groupby(by, sort=False):
                    yield _hull_pdf(g, by, final=False)
            else:
                yield _hull_pdf(pdf, by, final=False)

    cands = base.mapInPandas(local, schema=out_schema)

    if by:
        return cands.groupBy(*by).applyInPandas(
            lambda pdf: _hull_pdf(pdf, by, final=True), schema=final_schema)

    def final_all(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in it if len(p)]
        if parts:
            yield _hull_pdf(pd.concat(parts, ignore_index=True), by, final=True)

    return cands.coalesce(1).mapInPandas(final_all, schema=final_schema)


# ---------------------------------------------------------------------------
# Douglas–Peucker line simplification
# ---------------------------------------------------------------------------


def _dp_keep(xs: np.ndarray, ys: np.ndarray, eps2_num,
             exact: bool = True) -> np.ndarray:
    """Kept-index boolean mask.  A point is far when
    cross((b-a),(p-a))² > eps²·|b-a|²; with ``exact`` (int64 on grid
    coordinates) both sides are integral and the decision is
    bit-stable across engines.  Farthest point wins; ties break to the
    smallest index (the pinned rule the recursive-CTE oracle
    replays)."""
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    dt = np.int64 if exact else np.float64
    xs = xs.astype(dt)
    ys = ys.astype(dt)
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        ax, ay, bx, by = xs[lo], ys[lo], xs[hi], ys[hi]
        dx, dy = bx - ax, by - ay
        seg_len2 = dx * dx + dy * dy
        mx = xs[lo + 1:hi]
        my = ys[lo + 1:hi]
        cross = dx * (my - ay) - dy * (mx - ax)
        d2num = cross * cross
        if seg_len2 == 0:
            # degenerate closed segment: distance to the point itself
            d2num = ((mx - ax) ** 2 + (my - ay) ** 2)
            far = d2num > eps2_num
            thresh = eps2_num
        else:
            far = d2num > eps2_num * seg_len2
            thresh = eps2_num * seg_len2
        del thresh
        if not far.any():
            continue
        k = int(np.argmax(np.where(far, d2num,
                                   np.iinfo(np.int64).min if exact
                                   else -np.inf)))
        # np.argmax returns the FIRST max — the smallest-index tiebreak
        k += lo + 1
        keep[k] = True
        stack.append((lo, k))
        stack.append((k, hi))
    return keep


def simplify_lines(lines: DataFrame, eps: float, *,
                   line_id: str = "line_id", seq: str = "seq",
                   x: str = "x", y: str = "y",
                   exact: bool = True) -> DataFrame:
    """Douglas–Peucker per line: keep endpoints plus, recursively, the
    farthest point whose perpendicular distance to the current chord
    exceeds ``eps``.  One shuffle on the line id (applyInPandas); the
    per-line pass is a vectorized stack loop, exact in int64 for
    grid-snapped coordinates (eps² must be integral after scaling —
    callers pass integer eps for integer grids).  ``exact=False``
    switches to float64 for ungridded coordinates (lon/lat layers):
    same algorithm, no integrality contract, deterministic for a given
    input but not engine-exact."""
    eps2 = eps * eps
    if exact:
        eps2_num = int(round(eps2))
        if abs(eps2 - eps2_num) > 1e-12:
            raise OverlayError(
                "simplify_lines: eps² must be integral in grid units for "
                "the exact-arithmetic contract (got eps=%r); pass "
                "exact=False for ungridded coordinates" % (eps,))
    else:
        eps2_num = float(eps2)
    id_t = dict(lines.dtypes)[line_id]
    schema = f"`{line_id}` {id_t}, `{seq}` long, x double, y double"

    dt = np.int64 if exact else np.float64

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq, kind="mergesort").reset_index(drop=True)
        xs = pdf[x].values.astype(dt)
        ys = pdf[y].values.astype(dt)
        if len(pdf) <= 2:
            mask = np.ones(len(pdf), dtype=bool)
        else:
            mask = _dp_keep(xs, ys, eps2_num, exact=exact)
        return pd.DataFrame({
            line_id: pdf[line_id][mask].values,
            seq: pdf[seq][mask].values.astype("int64"),
            "x": xs[mask].astype(float),
            "y": ys[mask].astype(float),
        })

    base = lines.select(line_id, F.col(seq).cast("long").alias(seq),
                        F.col(x).cast("double").alias(x),
                        F.col(y).cast("double").alias(y))
    return base.groupBy(line_id).applyInPandas(lambda p: one(p), schema=schema)
