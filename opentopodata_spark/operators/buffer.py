"""Geodesic point buffers: distance-based geofence polygons.

The reference resolves points against FIXED polygon coverage
(`/root/reference/opentopodata/config.py:432-451`); the complementary
primitive a pipeline needs is the inverse construction — "the polygon
within ``radius_m`` of each site" — so that every existing polygon
front door (operators/spatial.point_in_polygon_join, zonal, rasterize
burn) can answer
WITHIN-DISTANCE questions without a dedicated distance join.

Each anchor becomes a regular ``n_vertices``-gon whose vertices are
EXACT Karney direct solutions (geodesic.py — the same solver behind
sample_points_on_path) at ``radius_m``, walked counter-clockwise
(RFC 7946 orientation). The polygon inscribes the true geodesic circle:
containment is exact for the polygon, and the circle approximation
error is bounded by the sagitta radius_m * (1 - cos(pi/n)) — callers
that need "definitely covers the circle" pass
``radius_m / cos(pi / n_vertices)`` (the circumscribed radius) instead.

Vertices are snapped to multiples of ``quantize`` degrees (default
2^-20 ≈ 0.1 m) so the overlay/PIP exactness contract (sign tests on
grid-snapped doubles) holds downstream, and so a sequential twin
rebuilds bit-identical rings regardless of partitioning.

Scale shape: one mapInPandas over the anchor table — no shuffle, no
driver round-trip; each row costs n_vertices scalar Karney line setups
(the distance axis is where the vectorized solver pays off, and a
buffer has one distance), so this is a DIMENSION-side operator by
design, matching polygons_from_df's 100k-polygon broadcast cap.

Contract: no antimeridian wrap and no pole in the buffer disk —
longitudes are emitted normalized to (-180, 180], so a buffer crossing
either would produce a self-inconsistent planar ring; such anchors
raise loudly (|lat| + radius reaching the pole, or a vertex span > 180°
after normalization).
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .. import geodesic

__all__ = ["buffer_points", "buffer_rings_sequential"]

_OUT_SCHEMA = (
    "polygon_id string, lats array<double>, lons array<double>"
)


def _ring(lat: float, lon: float, radius_m: float, n: int,
          quantize: float) -> tuple[list[float], list[float]]:
    """One CCW buffer ring (open, n vertices), quantized. Pure driver/
    executor-agnostic math — the distributed path and the sequential
    twin both call exactly this."""
    # reaching the pole makes azimuth-ring geometry degenerate
    if abs(lat) * 111_132.0 + radius_m >= 89.95 * 111_132.0:
        raise ValueError(
            f"buffer disk at ({lat}, {lon}) r={radius_m} m reaches a pole"
        )
    la_out, lo_out = [], []
    for k in range(n):
        # CCW in lon/lat: azimuth steps N -> W -> S -> E
        az = (360.0 - 360.0 * k / n) % 360.0
        g = geodesic.direct(lat, lon, az, radius_m)
        lo = math.remainder(g["lon2"], 360.0)
        if lo <= -180.0:
            lo += 360.0
        la_out.append(round(g["lat2"] / quantize) * quantize)
        lo_out.append(round(lo / quantize) * quantize)
    if max(lo_out) - min(lo_out) > 180.0:
        raise ValueError(
            f"buffer at ({lat}, {lon}) r={radius_m} m crosses the "
            "antimeridian — not representable as a planar lon/lat ring"
        )
    return la_out, lo_out


def buffer_points(
    points: DataFrame,
    radius_m: float,
    n_vertices: int = 32,
    id_col: str = "point_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    quantize: float = 2.0 ** -20,
) -> DataFrame:
    """(id, lat, lon) anchors -> (polygon_id, lats, lons) buffer rings,
    directly consumable by point_in_polygon_join / polygons_from_df and
    every other polygon front door."""
    if radius_m <= 0:
        raise ValueError("radius_m must be positive")
    if n_vertices < 3:
        raise ValueError("n_vertices must be >= 3")
    if quantize <= 0:
        raise ValueError("quantize must be positive")
    src = points.selectExpr(
        f"CAST({id_col} AS STRING) AS polygon_id",
        f"CAST({lat_col} AS DOUBLE) AS lat",
        f"CAST({lon_col} AS DOUBLE) AS lon",
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, lats_o, lons_o = [], [], []
            for pid, la, lo in zip(b["polygon_id"], b["lat"], b["lon"]):
                ring_la, ring_lo = _ring(
                    float(la), float(lo), radius_m, n_vertices, quantize
                )
                ids.append(pid)
                lats_o.append(ring_la)
                lons_o.append(ring_lo)
            yield pd.DataFrame(
                {"polygon_id": ids, "lats": lats_o, "lons": lons_o}
            )

    return src.mapInPandas(gen, _OUT_SCHEMA)


def buffer_rings_sequential(
    rows: list[tuple],
    radius_m: float,
    n_vertices: int = 32,
    quantize: float = 2.0 ** -20,
) -> list[tuple[str, list[float], list[float]]]:
    """Sequential twin: [(id, lat, lon)] -> [(polygon_id, lats, lons)],
    bit-identical to buffer_points (same _ring, same quantization) —
    the oracle builder for the contract query."""
    out = []
    for pid, la, lo in rows:
        ring_la, ring_lo = _ring(
            float(la), float(lo), radius_m, n_vertices, quantize
        )
        out.append((str(pid), ring_la, ring_lo))
    return out
