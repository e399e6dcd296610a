"""Polygon dissolve: merge-by-key union of edge-sharing polygon layers.

The `ogr2ogr -dissolve` / grouped ST_Union twin for the case that
actually appears in tiled geo corpora: a layer PARTITIONED into
non-overlapping polygons that share edges exactly (admin hierarchies,
grid/quadkey footprints, polygonize output), dissolved to one
(multi)polygon per key. The reference has no vector algebra at all
(its only join is point-vs-coverage, `/root/reference/opentopodata/
config.py:432-451`); this completes the overlay family next to
polygon_join / clip_polygons / convex_hull.

Spark-first shape — the union is ALGEBRA, not geometry search:

  1. every ring becomes directed edges in INT64 quanta (coordinates
     snapped to ``quantize`` degrees) through pure column expressions —
     ring orientation is normalized by its exact integer shoelace sign
     (first ring of a polygon CCW=shell, the rest CW=holes; a
     wrong-way input ring is fixed by swapping each edge's endpoints,
     no vertex-list reversal needed), so every emitted edge walks with
     the polygon INTERIOR ON ITS LEFT;
  2. interior edges CANCEL in one map-side-combined aggregation on the
     undirected edge key: net = sum(+1/-1 direction). In a fine tiling
     almost every edge is interior, so the per-key stitcher only ever
     sees the dissolved BOUNDARY. |net| > 1 means overlapping or
     duplicated geometry and raises executor-side (raise_error), the
     loud-refusal discipline — never a silently wrong union;
  3. surviving edges stitch into closed rings per key (applyInPandas,
     leftmost-turn face walk with EXACT integer cross/dot turn ranking
     — no angle floats), shells/holes classified by integer shoelace
     sign. The union identity sum(output ring areas) == sum(input
     polygon areas) is enforced through the output's key column
     (raise_error on mismatch — not prunable), so a stitching bug
     surfaces as an error, never as geometry.

Exactness: with vertices snapped to ``quantize`` (default 2^-20 deg,
~0.1 m), all edge keys, turn tests, and shoelace sums are int64/
Python-int arithmetic — results are bit-stable across layouts and
engines, and a DuckDB oracle can replay the cancellation + area
algebra as plain integer SQL (the ring STITCH is pinned by the
sequential twin instead — ring decomposition is not SQL-expressible).

Scale: shuffles carry (key, 4xint64) edge rows; per-key state is the
dissolved boundary only. ``max_boundary_edges`` refuses a key whose
boundary exceeds the cap loudly (overlay's max_cells contract).
Closed (GeoJSON, first==last) and open rings are both accepted — the
modular closing edge of a closed ring is degenerate and drops out.
"""

from __future__ import annotations

from functools import cmp_to_key

import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = ["dissolve_polygons", "dissolve_sequential"]


def _ring_exprs(rings_col: str, quantize: float) -> tuple[str, str]:
    """(edges_expr, area2_expr) SQL strings over ``rings_col``.

    Both normalize orientation by exact integer shoelace sign: ring 0
    is forced CCW (shell), later rings CW (holes) — a wrong-way ring
    contributes endpoint-swapped edges and a negated shoelace."""
    inv = 1.0 / quantize
    q = (
        f"transform({rings_col}, r -> transform(r, v -> "
        f"struct(CAST(round(v[0] * {inv!r}) AS BIGINT) AS x, "
        f"CAST(round(v[1] * {inv!r}) AS BIGINT) AS y)))"
    )
    shoelace = (
        "aggregate(sequence(0, size(r) - 1), 0L, (acc, j) -> "
        "acc + r[j].x * r[(j + 1) % size(r)].y "
        "- r[(j + 1) % size(r)].x * r[j].y)"
    )
    edges = f"""
    flatten(transform({q}, (r, ri) ->
      CASE WHEN size(r) < 3
           THEN CAST(array() AS
                array<struct<ax:bigint,ay:bigint,bx:bigint,by:bigint>>)
           WHEN ({shoelace} > 0L) = (ri = 0)
           THEN transform(sequence(0, size(r) - 1), i ->
                struct(r[i].x AS ax, r[i].y AS ay,
                       r[(i + 1) % size(r)].x AS bx,
                       r[(i + 1) % size(r)].y AS by))
           ELSE transform(sequence(0, size(r) - 1), i ->
                struct(r[(i + 1) % size(r)].x AS ax,
                       r[(i + 1) % size(r)].y AS ay,
                       r[i].x AS bx, r[i].y AS by))
      END))
    """
    area2 = f"""
    aggregate(transform({q}, (r, ri) ->
        CASE WHEN size(r) < 3 THEN 0L
             WHEN ({shoelace} > 0L) = (ri = 0) THEN {shoelace}
             ELSE -{shoelace}
        END), 0L, (acc, x) -> acc + x)
    """
    return edges, area2


def _turn_cmp(d_in, da, db) -> int:
    """Exact angular comparator for the leftmost-turn face walk: sort
    out-directions by DESCENDING counterclockwise angle from the
    reversed incoming direction (u-turns last, can't occur on a
    cancelled boundary). Integer cross/dot sign tests only."""
    rx, ry = -d_in[0], -d_in[1]

    def band(d) -> int:
        c = rx * d[1] - ry * d[0]
        t = rx * d[0] + ry * d[1]
        if c == 0:
            return 3 if t > 0 else 1  # u-turn last; straight-through mid
        return 0 if c < 0 else 2      # ccw angle in (180,360) first

    ba, bb = band(da), band(db)
    if ba != bb:
        return -1 if ba < bb else 1
    c = da[0] * db[1] - da[1] * db[0]
    if c == 0:
        return 0
    return -1 if c < 0 else 1  # within a half-plane: bigger ccw angle first


def _stitch(edges: list[tuple[int, int, int, int]]):
    """Directed interior-left boundary edges -> closed rings
    (leftmost-turn face decomposition, exact integer turn ranking).
    Returns (rings, area2_sum): rings as open [(x, y), ...] vertex
    lists with their twice-areas; shells CCW (positive), holes CW."""
    out_of: dict[tuple[int, int], list[int]] = {}
    for i, (ax, ay, _bx, _by) in enumerate(edges):
        out_of.setdefault((ax, ay), []).append(i)
    used = [False] * len(edges)
    rings = []
    area2_sum = 0
    for start in range(len(edges)):
        if used[start]:
            continue
        first = (edges[start][0], edges[start][1])
        ring = [first]
        cur = start
        used[cur] = True
        while True:
            ax, ay, bx, by = edges[cur]
            if (bx, by) == first:
                break
            ring.append((bx, by))
            d_in = (bx - ax, by - ay)
            cands = [i for i in out_of.get((bx, by), []) if not used[i]]
            if not cands:
                raise ValueError(
                    "dissolve: open boundary chain — the input layer is "
                    "not an edge-sharing tiling at the given quantize"
                )
            cands.sort(key=cmp_to_key(
                lambda i, j: _turn_cmp(
                    d_in,
                    (edges[i][2] - edges[i][0], edges[i][3] - edges[i][1]),
                    (edges[j][2] - edges[j][0], edges[j][3] - edges[j][1]),
                )
            ))
            cur = cands[0]
            used[cur] = True
        a2 = 0
        n = len(ring)
        for k in range(n):
            x0, y0 = ring[k]
            x1, y1 = ring[(k + 1) % n]
            a2 += x0 * y1 - x1 * y0
        area2_sum += a2
        rings.append((ring, a2))
    return rings, area2_sum


def dissolve_polygons(
    polys: DataFrame,
    key_col: str,
    rings_col: str = "rings",
    quantize: float = 2.0 ** -20,
    max_boundary_edges: int = 2_000_000,
) -> DataFrame:
    """Dissolve an edge-sharing polygon layer to one (multi)polygon per
    key.

    Input: one row per polygon part — ``key_col`` plus ``rings_col`` as
    array<array<array<double>>> ([x, y] vertex lists; first ring the
    shell, later rings holes; open or closed, either orientation).

    Output: (key, n_parts, n_shells, n_holes, perim_edges, area2_q,
    rings) — area2_q is EXACTLY twice the dissolved area in quanta^2
    (int64, equal to the summed input part areas by the union
    identity, which the job enforces), rings the dissolved geometry
    (shells CCW, holes CW, coordinates back in degrees).
    """
    if quantize <= 0:
        raise ValueError("quantize must be positive")
    edges_expr, area2_expr = _ring_exprs(rings_col, quantize)
    edges = (
        polys.select(
            F.col(key_col).cast("string").alias("key"),
            F.explode(F.expr(edges_expr)).alias("e"),
        )
        .select(
            "key",
            F.col("e.ax").alias("ax"), F.col("e.ay").alias("ay"),
            F.col("e.bx").alias("bx"), F.col("e.by").alias("by"),
        )
        .where(~((F.col("ax") == F.col("bx")) & (F.col("ay") == F.col("by"))))
    )
    fwd = F.struct(
        F.col("ax").alias("f1"), F.col("ay").alias("f2"),
        F.col("bx").alias("f3"), F.col("by").alias("f4"),
    )
    rev = F.struct(
        F.col("bx").alias("f1"), F.col("by").alias("f2"),
        F.col("ax").alias("f3"), F.col("ay").alias("f4"),
    )
    canon = edges.select(
        "key",
        F.least(fwd, rev).alias("u"),
        F.when(fwd <= rev, F.lit(1)).otherwise(F.lit(-1)).alias("dir"),
    )
    net = (
        canon.groupBy("key", "u")
        .agg(F.sum("dir").alias("net"))
        .where(F.col("net") != 0)
        .select(
            "key",
            F.when(
                F.abs(F.col("net")) > 1,
                F.raise_error(
                    "dissolve: an edge appears more than once in the "
                    "same direction — overlapping or duplicated "
                    "geometry in the input layer"
                ).cast("long"),
            ).otherwise(F.col("net")).alias("net"),
            F.col("u.f1").alias("ax"), F.col("u.f2").alias("ay"),
            F.col("u.f3").alias("bx"), F.col("u.f4").alias("by"),
        )
        .select(
            "key",
            F.when(F.col("net") > 0, F.col("ax")).otherwise(F.col("bx")).alias("sax"),
            F.when(F.col("net") > 0, F.col("ay")).otherwise(F.col("by")).alias("say"),
            F.when(F.col("net") > 0, F.col("bx")).otherwise(F.col("ax")).alias("sbx"),
            F.when(F.col("net") > 0, F.col("by")).otherwise(F.col("ay")).alias("sby"),
        )
    )
    areas = (
        polys.select(
            F.col(key_col).cast("string").alias("key"),
            F.expr(area2_expr).alias("a2"),
        )
        .groupBy("key")
        .agg(F.count("*").alias("n_parts"), F.sum("a2").alias("area2_q"))
    )

    out_schema = (
        "key string, n_shells long, n_holes long, perim_edges long, "
        "stitched_area2 long, rings array<array<array<double>>>"
    )

    def assemble(key_tuple, pdf):
        if len(pdf) > max_boundary_edges:
            raise ValueError(
                f"dissolve: key {key_tuple[0]!r} has {len(pdf)} boundary "
                f"edges > max_boundary_edges={max_boundary_edges}"
            )
        es = sorted(
            (int(a), int(b), int(c), int(d))
            for a, b, c, d in zip(pdf["sax"], pdf["say"], pdf["sbx"], pdf["sby"])
        )  # pinned walk order: layout independence
        rings, a2 = _stitch(es)
        geo = [
            [[x * quantize, y * quantize] for x, y in ring]
            for ring, _ in rings
        ]
        return pd.DataFrame({
            "key": [key_tuple[0]],
            "n_shells": [sum(1 for _, a in rings if a > 0)],
            "n_holes": [sum(1 for _, a in rings if a < 0)],
            "perim_edges": [len(es)],
            "stitched_area2": [a2],
            "rings": [geo],
        })

    stitched = net.groupBy("key").applyInPandas(assemble, out_schema)
    # union-identity check rides on the key column (never pruned).
    # LEFT join from areas: a key whose directed edges fully cancel (a
    # zero-area sliver at this quantize) produces no stitched row, and an
    # inner join would silently drop it — counter to the module's loud
    # discipline.  Such a key is legal exactly when its summed input area
    # is also zero; it gets an explicit empty-geometry row.  A cancelled
    # boundary with NONZERO input area is a real violation and raises.
    return areas.join(stitched, "key", "left").select(
        F.when(
            F.coalesce(F.col("stitched_area2"), F.lit(0))
            != F.col("area2_q"),
            F.raise_error(
                "dissolve: stitched boundary area != summed input area "
                "— union identity violated"
            ),
        ).otherwise(F.col("key")).alias("key"),
        "n_parts",
        F.coalesce(F.col("n_shells"), F.lit(0)).alias("n_shells"),
        F.coalesce(F.col("n_holes"), F.lit(0)).alias("n_holes"),
        F.coalesce(F.col("perim_edges"), F.lit(0)).alias("perim_edges"),
        "area2_q",
        F.coalesce(
            F.col("rings"),
            F.expr("cast(array() as array<array<array<double>>>)"),
        ).alias("rings"),
    )


def dissolve_sequential(
    rows: list[tuple[str, list]],
    quantize: float = 2.0 ** -20,
) -> dict[str, dict]:
    """Sequential twin: [(key, rings)] -> {key: {...}} with the same
    output fields as :func:`dissolve_polygons`. DIFFERENT bookkeeping
    on purpose (Counter multiset cancellation instead of the canonical
    undirected-key aggregation), same integer algebra — the oracle
    builder and differential partner."""
    from collections import Counter, defaultdict

    by_key: dict[str, Counter] = defaultdict(Counter)
    parts: Counter = Counter()
    area2: Counter = Counter()
    for key, rings in rows:
        key = str(key)
        parts[key] += 1
        for ri, ring in enumerate(rings):
            pts = [
                (round(x / quantize), round(y / quantize)) for x, y in ring
            ]
            if len(pts) < 3:
                continue
            a2 = 0
            n = len(pts)
            for k in range(n):
                x0, y0 = pts[k]
                x1, y1 = pts[(k + 1) % n]
                a2 += x0 * y1 - x1 * y0
            fwd = (a2 > 0) == (ri == 0)
            area2[key] += a2 if fwd else -a2
            for k in range(n):
                a, b = pts[k], pts[(k + 1) % n]
                if a == b:
                    continue
                by_key[key][(a + b) if fwd else (b + a)] += 1
    out = {}
    for key, c in by_key.items():
        survivors = []
        for (ax, ay, bx, by), cnt in c.items():
            keep = cnt - min(cnt, c.get((bx, by, ax, ay), 0))
            if keep > 1:
                raise ValueError(
                    "dissolve (sequential twin): overlapping geometry"
                )
            if keep == 1:
                survivors.append((ax, ay, bx, by))
        survivors.sort()
        rings, a2 = _stitch(survivors)
        if a2 != area2[key]:
            raise ValueError(
                "dissolve (sequential twin): union identity violated"
            )
        out[key] = {
            "n_parts": parts[key],
            "n_shells": sum(1 for _, a in rings if a > 0),
            "n_holes": sum(1 for _, a in rings if a < 0),
            "perim_edges": len(survivors),
            "area2_q": area2[key],
            "rings": [
                [[x * quantize, y * quantize] for x, y in ring]
                for ring, _ in rings
            ],
        }
    return out
