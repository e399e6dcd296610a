"""Spatial kNN join (SURVEY.md J5, north-rule requirement).

k nearest spatial anchors (tile centers, dataset seeds, POIs) for every
query point. Two plans:

* ``knn_join``: broadcast the anchor table (it is a tile index — small),
  score every (point, anchor) pair with a codegen'd distance expression,
  window top-k per point. No shuffle on the points side except the
  window's hash partition on point id — at 10^12 points that is one
  exchange, unavoidable for an exact per-point top-k.
* ``knn_join_gridded``: the scale path when anchors are NOT broadcastable:
  both sides key by a degree grid cell (the same floor math as tile
  assignment, SURVEY.md S3); points probe their cell + 8 neighbors
  (k-ring expansion via explode), equi-join on cell, then exact distance
  + top-k. This is the H3 k-ring pattern with a lat/lon grid as the
  deterministic, dependency-free cell function.

Distances: squared equirectangular degrees by default (monotonic with
true distance for small extents, bit-reproducible) or haversine meters.

``range_join`` is the third member of the spatial-join family (with
point-in-polygon and kNN): every (point, anchor) pair within a fixed
haversine radius, grid-blocked so the only exchange is one equi-join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "sq_degree_dist",
    "haversine_m",
    "knn_join",
    "knn_join_gridded",
    "grid_cell",
    "range_join",
]

EARTH_RADIUS_M = 6371008.8


def sq_degree_dist(lat1, lon1, lat2, lon2):
    return (lat1 - lat2) * (lat1 - lat2) + (lon1 - lon2) * (lon1 - lon2)


def haversine_m(lat1, lon1, lat2, lon2):
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) ** 2
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def knn_join(
    points: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    point_id: str = "point_id",
    anchor_id: str = "anchor_id",
    metric: str = "sqdeg",
    round_to: int = 6,
    max_broadcast_anchors: int = 2_000_000,
) -> DataFrame:
    """(point_id, anchor_id, rank, dist) — k nearest anchors per point.

    points: (point_id, lat, lon); anchors: (anchor_id, lat, lon),
    broadcast. Ties break on anchor_id.

    The anchor side is broadcast AND cross-joined against every point, so
    it must be genuinely small; above ``max_broadcast_anchors`` rows this
    refuses loudly (one bounded count on the small side) and points the
    caller at :func:`knn_join_gridded`, the scale path — a silent 10^8-row
    broadcast would OOM every executor before the first task finished.
    """
    dist_fn = sq_degree_dist if metric == "sqdeg" else haversine_m
    n_anchors = anchors.limit(max_broadcast_anchors + 1).count()
    if n_anchors > max_broadcast_anchors:
        raise ValueError(
            f"knn_join: anchor side has > {max_broadcast_anchors} rows — "
            "too large to broadcast+cross-join; use knn_join_gridded "
            "(grid-blocked, no broadcast) or raise max_broadcast_anchors "
            "only if the executors genuinely have the memory"
        )
    a = F.broadcast(
        anchors.select(
            F.col(anchor_id).alias("anchor_id"),
            F.col("lat").alias("alat"),
            F.col("lon").alias("alon"),
        )
    )
    p = points.select(
        F.col(point_id).alias("point_id"), "lat", "lon"
    )
    scored = p.crossJoin(a).withColumn(
        "dist",
        F.round(dist_fn(F.col("lat"), F.col("lon"), F.col("alat"), F.col("alon")), round_to),
    )
    w = Window.partitionBy("point_id").orderBy(
        F.col("dist").asc(), F.col("anchor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("point_id", "anchor_id", "rank", "dist")
    )


def grid_cell(lat, lon, cell_deg: float):
    """Deterministic lat/lon grid cell id (single long). The poor-man's
    H3: floor to a cell_deg grid, pack (iy, ix) into one long."""
    iy = F.floor(lat / F.lit(cell_deg)).cast("long")
    ix = F.floor(lon / F.lit(cell_deg)).cast("long")
    return (iy + F.lit(100000)) * F.lit(1000000) + (ix + F.lit(100000))


def knn_join_gridded(
    points: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    cell_deg: float = 1.0,
    point_id: str = "point_id",
    anchor_id: str = "anchor_id",
    metric: str = "sqdeg",
    round_to: int = 6,
) -> DataFrame:
    """Grid-blocked kNN for non-broadcastable anchor sets.

    Each point probes its cell's 3x3 k-ring; correctness requires the
    true k-th neighbor within cell_deg of the point (choose cell_deg >=
    expected kNN radius; enlarge ring for sparse anchor sets).
    """
    dist_fn = sq_degree_dist if metric == "sqdeg" else haversine_m
    a = anchors.select(
        F.col(anchor_id).alias("anchor_id"),
        F.col("lat").alias("alat"),
        F.col("lon").alias("alon"),
        grid_cell(F.col("lat"), F.col("lon"), cell_deg).alias("cell"),
    )
    ring = F.array(*[F.lit(dy * 1000000 + dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
    p = points.select(
        F.col(point_id).alias("point_id"),
        "lat",
        "lon",
        F.explode(
            F.transform(
                ring,
                lambda d: grid_cell(F.col("lat"), F.col("lon"), cell_deg) + d,
            )
        ).alias("cell"),
    )
    scored = p.join(a, ["cell"]).withColumn(
        "dist",
        F.round(dist_fn(F.col("lat"), F.col("lon"), F.col("alat"), F.col("alon")), round_to),
    )
    w = Window.partitionBy("point_id").orderBy(
        F.col("dist").asc(), F.col("anchor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("point_id", "anchor_id", "rank", "dist")
    )


# degrees of latitude per meter on the sphere the reference's haversine uses
M_PER_DEG = math.pi * EARTH_RADIUS_M / 180.0


def range_join(
    points: DataFrame,
    anchors: DataFrame,
    radius_m: float,
    point_id: str = "point_id",
    anchor_id: str = "anchor_id",
    cell_deg: float | None = None,
    round_to: int = 1,
) -> DataFrame:
    """All (point, anchor) pairs within ``radius_m`` meters (haversine).

    The within-distance spatial join — third member of the spatial-join
    family next to point-in-polygon and kNN. Neither side needs to be
    broadcastable; this is the 10^12 x 10^9 shape (every crawl document
    coordinate against every POI/tile seed within R).

    Plan: both sides key on a longitude-WRAPPED lat/lon grid whose cell
    edge is >= the radius expressed in degrees of latitude; the anchor
    lands in exactly one cell, the point explodes into a probe ring —
    one cell each way in latitude, and in longitude as many cells as the
    cosine shrink at the point's own latitude requires (derived from the
    exact haversine bound ``|sin(dlon/2)| <= sin(r/2R)/cos(phi_max)``,
    degrading to the full ring inside a polar cap). The ring is built
    with sequence/transform/flatten — pure column expressions — and the
    ONLY exchange in the whole plan is the cell equi-join. No crossJoin,
    no window. Hotspot cells (urban coordinate skew) are AQE skew-join
    territory; pass a smaller ``cell_deg`` to dilute them at the cost of
    a wider ring.

    Longitude cells per 360 deg is forced to an integer K (cell edge
    360/K) so antimeridian wrap is an exact ``pmod`` — a point at lon
    179.9 probes the cell holding an anchor at -179.9. Haversine itself
    is wrap-correct (sin^2(dlon/2) has period 360), so the filter needs
    no special-casing and neither does a brute-force oracle.

    Returns (point_id, anchor_id, dist_m) with dist_m rounded to
    ``round_to`` decimals; the radius predicate compares the ROUNDED
    value so an independent oracle rounds identically at the boundary.
    """
    radius_deg = radius_m / M_PER_DEG
    want = cell_deg if cell_deg is not None else max(radius_deg, 1e-6)
    k_lon = max(2, int(math.floor(360.0 / want)))
    s = 360.0 / k_lon
    ny = max(1, int(math.ceil(radius_deg / s)))
    # sin(r / 2R), clamped: radius >= half the circumference means "everything"
    sin_half = math.sin(min(math.pi, radius_m / EARTH_RADIUS_M) / 2.0)

    def _iy(lat):
        return F.floor((lat + F.lit(90.0)) / F.lit(s)).cast("long")

    def _ix_raw(lon):
        return F.floor((lon + F.lit(180.0)) / F.lit(s)).cast("long")

    def _cell(iy, ixw):
        # iy in [0, 180/s], ixw in [0, K): collision-free linear pack
        return iy * F.lit(k_lon) + ixw

    a = anchors.select(
        F.col(anchor_id).alias("anchor_id"),
        F.col("lat").alias("alat"),
        F.col("lon").alias("alon"),
    )
    a = a.withColumn(
        "cell", _cell(_iy(F.col("alat")), F.pmod(_ix_raw(F.col("alon")), F.lit(k_lon)))
    )

    # per-point longitude ring half-width in cells (column expression)
    phi_max = F.least(F.lit(89.999), F.abs(F.col("lat")) + F.lit(radius_deg))
    max_dlon_deg = F.degrees(
        F.lit(2.0)
        * F.asin(F.least(F.lit(1.0), F.lit(sin_half) / F.cos(F.radians(phi_max))))
    )
    nx = F.least(
        F.ceil(max_dlon_deg / F.lit(s)).cast("int"), F.lit(k_lon // 2 + 1)
    )
    iy0 = _iy(F.col("lat"))
    ix0 = _ix_raw(F.col("lon"))
    # Ring via two generator explodes — no transform() lambdas at all
    # (a `lambda d, dy=dy:` default-arg capture inside transform() is the
    # binary (element, INDEX) form and silently binds dy to the index).
    # The lon probe count is capped at the full ring (K cells), with the
    # start shifted so each wrapped residue appears exactly once — no
    # duplicate pairs, no dedup needed.
    lon_steps = F.least(F.lit(2) * nx, F.lit(k_lon - 1))
    p = (
        points.select(F.col(point_id).alias("point_id"), "lat", "lon")
        .withColumn(
            "_dy", F.explode(F.array(*[F.lit(dy) for dy in range(-ny, ny + 1)]))
        )
        .withColumn("_i", F.explode(F.sequence(F.lit(0), lon_steps)))
        .withColumn(
            "cell",
            _cell(
                iy0 + F.col("_dy").cast("long"),
                F.pmod(ix0 - nx.cast("long") + F.col("_i").cast("long"), F.lit(k_lon)),
            ),
        )
        .drop("_dy", "_i")
    )
    dist = F.round(
        haversine_m(F.col("lat"), F.col("lon"), F.col("alat"), F.col("alon")),
        round_to,
    )
    return (
        p.join(a, ["cell"])
        .withColumn("dist_m", dist)
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
        .select("point_id", "anchor_id", "dist_m")
    )
