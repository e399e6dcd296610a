"""Geodesic point buffers: vertex exactness, orientation, quantization,
distributed/sequential bit-equality, PIP composition, loud contracts."""

from __future__ import annotations

import math

import pytest

from opentopodata_spark import geodesic
from opentopodata_spark.operators import buffer, spatial

ANCHORS = [
    ("a", 40.05, -100.05),
    ("b", -33.95, 151.05),
    ("c", 51.55, -0.05),
]
R = 250_000.0
K = 16


@pytest.fixture(scope="module")
def rings(spark):
    df = spark.createDataFrame(ANCHORS, "point_id string, lat double, lon double")
    return {
        r.polygon_id: (list(r.lats), list(r.lons))
        for r in buffer.buffer_points(df, R, n_vertices=K).collect()
    }


def test_vertices_at_radius_and_quantized(rings):
    q = 2.0 ** -20
    for pid, la0, lo0 in ANCHORS:
        las, los = rings[pid]
        assert len(las) == K == len(los)
        for la, lo in zip(las, los):
            # snapped to the quantize grid exactly
            assert la == round(la / q) * q and lo == round(lo / q) * q
            d = geodesic.inverse(la0, lo0, la, lo)["s12"]
            # quantization moves a vertex by at most ~0.16 m
            assert abs(d - R) < 0.5, (pid, la, lo, d)


def test_ccw_orientation(rings):
    for pid, *_ in ANCHORS:
        las, los = rings[pid]
        shoelace = sum(
            los[i] * las[(i + 1) % K] - los[(i + 1) % K] * las[i]
            for i in range(K)
        )
        assert shoelace > 0, pid


def test_distributed_equals_sequential(spark, rings):
    seq = buffer.buffer_rings_sequential(ANCHORS, R, n_vertices=K)
    assert {pid: (la, lo) for pid, la, lo in seq} == rings


def test_pip_composition(spark, rings):
    # inradius of the inscribed K-gon: points inside it MUST be inside
    inr = R * math.cos(math.pi / K)
    rows = []
    for i, (pid, la0, lo0) in enumerate(ANCHORS):
        g_in = geodesic.direct(la0, lo0, 37.0 + 40 * i, 0.9 * inr)
        g_out = geodesic.direct(la0, lo0, 211.0 + 40 * i, 1.02 * R)
        rows.append((f"in-{pid}", g_in["lat2"], g_in["lon2"]))
        rows.append((f"out-{pid}", g_out["lat2"], g_out["lon2"]))
        rows.append((f"ctr-{pid}", la0, lo0))
    pts = spark.createDataFrame(rows, "name string, lat double, lon double")
    polys = [
        {"polygon_id": pid, "lats": rings[pid][0], "lons": rings[pid][1]}
        for pid, *_ in ANCHORS
    ]
    got = {
        (r.name, r.polygon_id)
        for r in spatial.point_in_polygon_join(pts, polys, level=8).collect()
    }
    want = set()
    for pid, *_ in ANCHORS:
        want.add((f"in-{pid}", pid))
        want.add((f"ctr-{pid}", pid))
    assert got == want  # every out-* point matched nothing


def test_loud_contracts(spark):
    df = spark.createDataFrame(
        [("p", 89.0, 10.0)], "point_id string, lat double, lon double"
    )
    with pytest.raises(Exception, match="pole"):
        buffer.buffer_points(df, 300_000.0).collect()
    am = spark.createDataFrame(
        [("q", 0.0, 179.9)], "point_id string, lat double, lon double"
    )
    with pytest.raises(Exception, match="antimeridian"):
        buffer.buffer_points(am, 100_000.0).collect()
    with pytest.raises(ValueError):
        buffer.buffer_points(df, -5.0)
    with pytest.raises(ValueError):
        buffer.buffer_points(df, 10.0, n_vertices=2)


def test_circumscribed_radius_covers_circle(spark):
    """radius/cos(pi/n) makes the polygon CONTAIN the true circle: a
    point at exactly R along a vertex-gap azimuth (the worst case) is
    inside."""
    df = spark.createDataFrame(
        [("z", 10.0, 20.0)], "point_id string, lat double, lon double"
    )
    ring = buffer.buffer_points(
        df, R / math.cos(math.pi / K), n_vertices=K
    ).collect()[0]
    polys = [{"polygon_id": "z", "lats": list(ring.lats), "lons": list(ring.lons)}]
    # mid-gap azimuth: vertices sit at az = -360k/K from north
    g = geodesic.direct(10.0, 20.0, 360.0 / (2 * K), R * 0.999)
    pts = spark.createDataFrame(
        [("m", g["lat2"], g["lon2"])], "name string, lat double, lon double"
    )
    assert spatial.point_in_polygon_join(pts, polys, level=8).count() == 1
