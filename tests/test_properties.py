"""Property-based tests (hypothesis) for the pure-numpy kernels.

The golden/differential suites pin known cases; these search the input
space for violations of the invariants the engine depends on:

* PNG: decode(encode(x)) == x for every supported shape/filter.
* CRS: project -> unproject round-trips to < 1e-6 deg inside each
  projection's domain of validity (the reference delegates this
  contract to pyproj; we must earn it).
* decimal_base_floor: reference float-division floor contract (reference
  utils.py:60-65 semantics) — <= x, on the base grid, within base of x.
* Geodesics: inverse distance is symmetric; path sampling hits the
  endpoints exactly and distances are non-negative and ordered.

No Spark — everything here runs in-process in milliseconds.
"""

from decimal import Decimal

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import assume as _assume  # noqa: E402
from hypothesis import given, settings, strategies as st  # noqa: E402
from hypothesis.extra.numpy import arrays  # noqa: E402

from opentopodata_spark import crs, geodesic, png, utilmath  # noqa: E402


# ---------------------------------------------------------------------------
# PNG codec
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    c=st.sampled_from([1, 2, 3, 4]),
    filt=st.sampled_from([0, 1, 2, 3, 4, "mixed"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_round_trip_property(h, w, c, filt, seed):
    arr = np.random.default_rng(seed).integers(0, 256, (h, w, c)).astype(np.uint8)
    back = png.decode_png(png.encode_png(arr, filter_type=filt))
    assert back.shape == arr.shape
    np.testing.assert_array_equal(back, arr)


# ---------------------------------------------------------------------------
# CRS round-trips (each EPSG constrained to its domain of validity)
# ---------------------------------------------------------------------------

# (epsg, lat_range, lon_range)
_CRS_DOMAINS = [
    (32633, (-0.5, 84.0), (9.0, 21.0)),     # UTM 33N, wide overlap
    (32733, (-80.0, 0.5), (9.0, 21.0)),     # UTM 33S
    (25832, (35.0, 72.0), (3.0, 15.0)),     # ETRS89 / UTM 32N
    (26910, (20.0, 84.0), (-129.0, -117.0)),  # NAD83 / UTM 10N
    (28355, (-55.0, -8.0), (141.0, 153.0)),   # GDA94 / MGA 55
    (2193, (-47.5, -34.0), (166.0, 178.5)),   # NZTM2000
    (27700, (49.8, 60.9), (-8.8, 1.8)),       # British National Grid
    (3035, (30.0, 72.0), (-10.0, 35.0)),      # ETRS89-LAEA Europe
    (3857, (-85.0, 85.0), (-179.9, 179.9)),   # WebMercator
    (4326, (-90.0, 90.0), (-180.0, 180.0)),   # identity
    (4269, (-90.0, 90.0), (-180.0, 180.0)),   # NAD83 geographic ~ identity
]


@settings(max_examples=25, deadline=None)
@given(data=st.data(), dom=st.sampled_from(_CRS_DOMAINS))
def test_crs_round_trip_property(data, dom):
    epsg, (lat0, lat1), (lon0, lon1) = dom
    lats = np.array(
        [data.draw(st.floats(lat0, lat1, allow_nan=False)) for _ in range(4)]
    )
    lons = np.array(
        [data.draw(st.floats(lon0, lon1, allow_nan=False)) for _ in range(4)]
    )
    xs, ys = crs.reproject_latlons(lats, lons, epsg=epsg)
    back_lons, back_lats = crs.unproject_xys(xs, ys, epsg=epsg)  # (lons, lats)
    np.testing.assert_allclose(back_lats, lats, atol=1e-6)
    np.testing.assert_allclose(back_lons, lons, atol=1e-6)


# ---------------------------------------------------------------------------
# decimal_base_floor (reference utils.py semantics)
# ---------------------------------------------------------------------------

@settings(max_examples=80, deadline=None)
@given(
    x=st.floats(-1e6, 1e6, allow_nan=False),
    base=st.sampled_from([1, 5, Decimal("0.5"), Decimal("0.25"), Decimal("2.5")]),
)
def test_decimal_base_floor_property(x, base):
    # Domain: tile corners / coordinates (|x| up to 1e6). Subnormals like
    # -5e-324 are excluded — there the reference's own float-division
    # contract (math.floor(x / float(base)), utils.py:60-65) rounds the
    # quotient to -0.0 and "floors" to 0, and we match the reference, not
    # ideal Decimal floor.
    hyp.assume(x == 0.0 or abs(x) > 1e-9)
    got = utilmath.decimal_base_floor(x, base)
    b = Decimal(str(base))
    X = Decimal(repr(x))
    # on the grid, and got <= x < got + base — comparisons only (Decimal
    # compare is exact; a subtraction would round 5 - 8.8e-29 to 5 at any
    # finite precision and false-fail the strict bound)
    assert got % b == 0
    assert got <= X
    assert X < got + b


# ---------------------------------------------------------------------------
# Geodesics
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    lat1=st.floats(-89.0, 89.0, allow_nan=False),
    lon1=st.floats(-179.0, 179.0, allow_nan=False),
    lat2=st.floats(-89.0, 89.0, allow_nan=False),
    lon2=st.floats(-179.0, 179.0, allow_nan=False),
)
def test_geodesic_inverse_symmetry(lat1, lon1, lat2, lon2):
    d_ab = geodesic.inverse(lat1, lon1, lat2, lon2)["s12"]
    d_ba = geodesic.inverse(lat2, lon2, lat1, lon1)["s12"]
    assert d_ab >= 0
    assert abs(d_ab - d_ba) <= 1e-6 * max(d_ab, 1.0)


@settings(max_examples=25, deadline=None)
@given(
    lats=st.lists(st.floats(-80.0, 80.0, allow_nan=False), min_size=2, max_size=4),
    n=st.integers(2, 9),
)
def test_path_sampling_endpoints_exact(lats, n):
    lons = [(i * 37.0) % 140.0 - 70.0 for i in range(len(lats))]
    s_lats, s_lons = geodesic.sample_points_on_path(lats, lons, n)
    assert len(s_lats) == n
    assert (s_lats[0], s_lons[0]) == (lats[0], lons[0])
    assert (s_lats[-1], s_lons[-1]) == (lats[-1], lons[-1])


# ---------------------------------------------------------------------------
# raster-ops kernels (round-2 raster<->vector wave)
# ---------------------------------------------------------------------------

@given(
    h=st.integers(1, 40), w=st.integers(1, 40), k=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_block_reduce_properties(h, w, k, seed):
    from opentopodata_spark.operators import resample

    rng = np.random.default_rng(seed)
    arr = rng.normal(0.0, 100.0, (h, w))
    out = resample.block_reduce(arr, k, "average")
    assert out.shape == (-(-h // k), -(-w // k))
    # global mean is preserved under full-block-only inputs
    if h % k == 0 and w % k == 0:
        assert out.mean() == pytest.approx(arr.mean(), rel=1e-12)
    # every output is within the range of its block
    assert np.nanmin(out) >= arr.min() - 1e-9
    assert np.nanmax(out) <= arr.max() + 1e-9
    # nearest is a pure subsample
    nearest = resample.block_reduce(arr, k, "nearest")
    assert np.array_equal(nearest, arr[::k, ::k])


@given(
    lat=st.floats(-89.0, 89.0), lon=st.floats(-179.0, 179.0),
    n=st.integers(3, 10), r=st.floats(0.1, 5.0),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_pip_mask_convex_polygon_center(lat, lon, n, r, seed):
    """The centroid of a regular convex polygon is always inside; a point
    2r away never is."""
    from opentopodata_spark.operators.spatial import points_in_polygon_mask

    ang = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    pla = np.clip(lat + r * np.sin(ang), -90.0, 90.0)
    plo = np.clip(lon + r * np.cos(ang), -180.0, 180.0)
    _assume(len(np.unique(pla)) > 1)  # clipping can flatten the polygon
    inside = points_in_polygon_mask(
        np.array([lat, min(lat + 2 * r, 90.0) + 0.5]),
        np.array([lon, lon]), pla, plo,
    )
    assert bool(inside[0]) is True
    assert bool(inside[1]) is False


@given(
    arrays(
        np.int16,
        (7, 9),
        elements=st.integers(min_value=-32767, max_value=32767),
    )
)
@settings(max_examples=40, deadline=None)
def test_dted_roundtrip_property(grid):
    """Any in-range int16 lattice round-trips DTED bit-exactly (7x9 is
    deliberately NOT a 1-degree-legal shape for the spans, so scale the
    lattice to a legal 1-degree grid via tiling)."""
    import tempfile

    from opentopodata_spark import dted
    from opentopodata_spark.geotiff import open_raster

    full = np.tile(grid, (18, 9))[:121, :73]  # 121 x 73: both divide 1 deg
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/N00E010.dt1"
        dted.write_dted(p, full, lat0=0.0, lon0=10.0)
        r = open_raster(p)
        assert np.array_equal(r.band, full)


@given(
    arrays(
        np.float64,
        (4, 4),
        elements=st.floats(min_value=-9999.0, max_value=9000.0,
                           allow_nan=False),  # terrain-rgb floor: -10 km
    ),
    st.sampled_from(["terrarium", "terrain-rgb"]),
)
@settings(max_examples=60, deadline=None)
def test_terrain_encoding_quantization_property(block, encoding):
    """decode(encode(x)) is within the encoding's quantum everywhere:
    1/256 m for terrarium, 0.1 m for terrain-rgb; integers are EXACT
    under terrarium."""
    from opentopodata_spark import mbtiles

    rgb = mbtiles._encode_elevation(block, encoding)
    dec = mbtiles._decode_elevation(rgb, encoding)
    q = (1.0 / 256.0) if encoding == "terrarium" else 0.1
    assert np.abs(dec - block).max() <= q / 2 + 1e-4
    ints = np.round(block)
    dec_i = mbtiles._decode_elevation(
        mbtiles._encode_elevation(ints, "terrarium"), "terrarium")
    assert np.array_equal(dec_i, ints.astype(np.float32))


# ---------------------------------------------------------------------------
# Vector codecs (WKB / shapefile record bytes)
# ---------------------------------------------------------------------------

_coord = st.floats(min_value=-180.0, max_value=180.0,
                   allow_nan=False, allow_infinity=False, width=64)


def _ring_strategy(min_pts=3, max_pts=8):
    return st.lists(st.tuples(_coord, _coord), min_size=min_pts,
                    max_size=max_pts).map(
        lambda pts: [[x, y] for x, y in pts])


@settings(max_examples=60, deadline=None)
@given(kind=st.sampled_from(["Point", "LineString", "MultiPoint"]),
       pts=_ring_strategy(1, 10))
def test_wkb_roundtrip_simple(kind, pts):
    from opentopodata_spark import vector

    if kind == "Point":
        geom = {"type": "Point", "coordinates": pts[0]}
    else:
        geom = {"type": kind, "coordinates": pts}
    out = vector.geometry_from_wkb(vector.geometry_to_wkb(geom))
    assert out == geom  # doubles survive bit-exactly


@settings(max_examples=40, deadline=None)
@given(rings=st.lists(_ring_strategy(3, 8), min_size=1, max_size=4),
       z=st.booleans())
def test_wkb_roundtrip_polygon(rings, z):
    from opentopodata_spark import vector

    if z:
        rings = [[[x, y, float(i)] for i, (x, y) in enumerate(
            (p[0], p[1]) for p in ring)] for ring in rings]
    geom = {"type": "Polygon", "coordinates": rings}
    out = vector.geometry_from_wkb(vector.geometry_to_wkb(geom))
    assert out == geom


@settings(max_examples=30, deadline=None)
@given(parts=st.lists(_ring_strategy(2, 6), min_size=1, max_size=4))
def test_shp_record_roundtrip_polyline(parts, tmp_path_factory):
    """write_shapefile -> read_shapefile preserves every PolyLine
    vertex bit-exactly (lines are never reoriented or regrouped)."""
    from opentopodata_spark import vector

    tmp = tmp_path_factory.mktemp("shp_prop")
    geom = ({"type": "LineString", "coordinates": parts[0]}
            if len(parts) == 1 else
            {"type": "MultiLineString", "coordinates": parts})
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "geometry": geom, "properties": {"k": 1}}]}
    path = str(tmp / "l.shp")
    vector.write_shapefile(path, fc)
    got = vector.read_shapefile(path)["features"][0]["geometry"]
    want_parts = parts if len(parts) > 1 else [parts[0]]
    got_parts = (got["coordinates"] if got["type"] == "MultiLineString"
                 else [got["coordinates"]])
    assert got_parts == want_parts


@settings(max_examples=30, deadline=None)
@given(
    cells=st.sets(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1, max_size=30,
    ),
    keybits=st.integers(0, 2 ** 30),
)
def test_dissolve_sequential_properties(cells, keybits):
    """Random unit-cell subsets with random 2-key assignments: the
    sequential dissolve twin must (a) conserve area per key exactly,
    (b) produce a boundary whose directed edges appear exactly once,
    (c) close every ring (the stitcher raises otherwise — exercised
    here over arbitrary hole/multi-part topologies), (d) count shells
    minus holes consistently with per-key 4-connected components minus
    enclosed hole components (checked implicitly by area + closure on
    these small grids)."""
    from opentopodata_spark.operators import dissolve

    rows = []
    for i, (x, y) in enumerate(sorted(cells)):
        key = "A" if (keybits >> i) & 1 else "B"
        rows.append((key, [[[float(x), float(y)], [float(x + 1), float(y)],
                            [float(x + 1), float(y + 1)],
                            [float(x), float(y + 1)]]]))
    out = dissolve.dissolve_sequential(rows)
    per_key = {}
    for k, _ in rows:
        per_key[k] = per_key.get(k, 0) + 1
    for k, info in out.items():
        # (a) union identity: area == n_cells (in quanta^2)
        assert info["area2_q"] == 2 * per_key[k] * (2 ** 40)
        assert info["n_parts"] == per_key[k]
        # (b, c) every ring closed over grid vertices, edges unique
        seen = set()
        for ring in info["rings"]:
            n = len(ring)
            assert n >= 4
            for j in range(n):
                a = (round(ring[j][0]), round(ring[j][1]))
                b = (round(ring[(j + 1) % n][0]),
                     round(ring[(j + 1) % n][1]))
                assert a != b
                assert (a, b) not in seen
                seen.add((a, b))
        assert len(seen) == info["perim_edges"]
        assert info["n_shells"] >= 1
