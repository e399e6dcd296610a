"""vector.py: Shapefile / GeoPackage-vector / WKB ingestion.

Independence axes (no round-trip-only evidence):
* WKB golden hex literals written out by hand from the OGC spec.
* A shapefile assembled inline with struct.pack in the test (spec
  layout, independent of vector.write_shapefile).
* GeoPackages written by the STDLIB sqlite3 engine and read by the
  pure-python reader, and vice versa (two unrelated SQLite
  implementations agreeing on the same bytes).
* Projected .prj layers checked against the analytic source latlons.
* Front-door differential: the same features as GeoJSON / .shp / .gpkg
  must produce identical PIP polygon lists and identical burn grids.
"""

import json
import math
import os
import sqlite3
import struct

import numpy as np
import pytest

from opentopodata_spark import vector
from opentopodata_spark.vector import (
    VectorError,
    geometry_from_wkb,
    geometry_to_wkb,
    load_features,
    read_gpkg_features,
    read_shapefile,
    write_gpkg_features,
    write_shapefile,
)


# ---------------------------------------------------------------------------
# WKB
# ---------------------------------------------------------------------------


def test_wkb_point_golden():
    # POINT(1 2), little endian — canonical example bytes
    buf = bytes.fromhex(
        "0101000000000000000000F03F0000000000000040")
    assert geometry_from_wkb(buf) == {
        "type": "Point", "coordinates": [1.0, 2.0]}
    assert geometry_to_wkb(
        {"type": "Point", "coordinates": [1.0, 2.0]}) == buf


def test_wkb_point_big_endian():
    # same point, big endian
    buf = bytes.fromhex(
        "00000000013FF00000000000004000000000000000")
    assert geometry_from_wkb(buf) == {
        "type": "Point", "coordinates": [1.0, 2.0]}


def test_wkb_linestring_golden():
    # LINESTRING(0 0, 1 1) little endian
    buf = bytes.fromhex(
        "010200000002000000"
        "00000000000000000000000000000000"
        "000000000000F03F000000000000F03F")
    g = geometry_from_wkb(buf)
    assert g == {"type": "LineString",
                 "coordinates": [[0.0, 0.0], [1.0, 1.0]]}
    assert geometry_to_wkb(g) == buf


def test_wkb_polygon_with_hole_roundtrip():
    g = {"type": "Polygon", "coordinates": [
        [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
        [[2, 2], [2, 4], [4, 4], [4, 2], [2, 2]],
    ]}
    out = geometry_from_wkb(geometry_to_wkb(g))
    assert out["type"] == "Polygon"
    assert out["coordinates"] == [
        [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],
        [[2.0, 2.0], [2.0, 4.0], [4.0, 4.0], [4.0, 2.0], [2.0, 2.0]],
    ]


def test_wkb_iso_z_code():
    # POINT Z via ISO code 1001
    buf = (b"\x01" + struct.pack("<I", 1001)
           + struct.pack("<3d", 3.0, 4.0, 5.0))
    assert geometry_from_wkb(buf) == {
        "type": "Point", "coordinates": [3.0, 4.0, 5.0]}
    # writer emits ISO Z for 3-part coordinates
    assert geometry_to_wkb(
        {"type": "Point", "coordinates": [3.0, 4.0, 5.0]}) == buf


def test_wkb_ewkb_flags_and_srid():
    # EWKB: Z flag + SRID flag (PostGIS style)
    code = 1 | 0x80000000 | 0x20000000
    buf = (b"\x01" + struct.pack("<I", code) + struct.pack("<i", 4326)
           + struct.pack("<3d", 1.0, 2.0, 3.0))
    assert geometry_from_wkb(buf) == {
        "type": "Point", "coordinates": [1.0, 2.0, 3.0]}


def test_wkb_m_dropped():
    # ISO PointM (2001): M is parsed past but not kept
    buf = (b"\x01" + struct.pack("<I", 2001)
           + struct.pack("<3d", 1.0, 2.0, 99.0))
    assert geometry_from_wkb(buf) == {
        "type": "Point", "coordinates": [1.0, 2.0]}


def test_wkb_multipolygon_and_collection():
    g = {"type": "MultiPolygon", "coordinates": [
        [[[0, 0], [1, 0], [1, 1], [0, 0]]],
        [[[5, 5], [6, 5], [6, 6], [5, 5]]],
    ]}
    assert geometry_from_wkb(geometry_to_wkb(g))["coordinates"][1][0][1] \
        == [6.0, 5.0]
    gc = {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [1, 2]},
        {"type": "LineString", "coordinates": [[0, 0], [1, 1]]},
    ]}
    out = geometry_from_wkb(geometry_to_wkb(gc))
    assert [x["type"] for x in out["geometries"]] == [
        "Point", "LineString"]


def test_wkb_garbage_raises():
    with pytest.raises(VectorError):
        geometry_from_wkb(b"\x02\x01\x00\x00\x00")
    with pytest.raises(VectorError):
        geometry_from_wkb(b"\x01" + struct.pack("<I", 99)
                          + b"\x00" * 16)


# ---------------------------------------------------------------------------
# Shapefile: hand-assembled bytes (independent of the writer)
# ---------------------------------------------------------------------------


def _hand_shapefile(tmp_path):
    """One polygon-with-hole record, assembled from the ESRI spec by
    hand: outer ring CW, hole CCW, rings closed."""
    outer = [(0.0, 0.0), (0.0, 8.0), (8.0, 8.0), (8.0, 0.0), (0.0, 0.0)]
    hole = [(2.0, 2.0), (5.0, 2.0), (5.0, 5.0), (2.0, 5.0), (2.0, 2.0)]
    pts = outer + hole
    rec = struct.pack("<i", 5)                          # shape type 5
    rec += struct.pack("<4d", 0.0, 0.0, 8.0, 8.0)       # bbox
    rec += struct.pack("<2i", 2, len(pts))              # nparts npoints
    rec += struct.pack("<2i", 0, len(outer))            # part offsets
    for x, y in pts:
        rec += struct.pack("<2d", x, y)
    content = struct.pack(">2i", 1, len(rec) // 2) + rec
    hdr = struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
    hdr += struct.pack(">i", (100 + len(content)) // 2)
    hdr += struct.pack("<2i", 1000, 5)
    hdr += struct.pack("<4d", 0.0, 0.0, 8.0, 8.0)
    hdr += struct.pack("<4d", 0, 0, 0, 0)
    shp = tmp_path / "hand.shp"
    shp.write_bytes(hdr + content)
    # minimal dbf: one C field NAME=alpha
    dbf = bytearray()
    dbf += struct.pack("<B3BIHH20x", 0x03, 126, 1, 1, 1, 32 + 32 + 1,
                       1 + 5)
    dbf += b"NAME".ljust(11, b"\x00") + b"C" + b"\x00" * 4 \
        + bytes([5, 0]) + b"\x00" * 14
    dbf += b"\x0d"
    dbf += b" " + b"alpha"
    dbf += b"\x1a"
    (tmp_path / "hand.dbf").write_bytes(bytes(dbf))
    return str(shp)


def test_hand_shapefile_parses(tmp_path):
    fc = read_shapefile(_hand_shapefile(tmp_path))
    assert len(fc["features"]) == 1
    f = fc["features"][0]
    assert f["properties"] == {"NAME": "alpha"}
    g = f["geometry"]
    assert g["type"] == "Polygon"
    assert len(g["coordinates"]) == 2
    outer, hole = g["coordinates"]
    # RFC 7946 orientation out: outer CCW (positive area), hole CW
    def area(r):
        xs = np.array([p[0] for p in r])
        ys = np.array([p[1] for p in r])
        return 0.5 * float(np.sum(
            xs * np.roll(ys, -1) - np.roll(xs, -1) * ys))
    assert area(outer) > 0 > area(hole)
    assert {tuple(p) for p in outer} == {
        (0, 0), (0, 8), (8, 8), (8, 0)}
    assert {tuple(p) for p in hole} == {
        (2, 2), (5, 2), (5, 5), (2, 5)}


def test_hand_shapefile_bad_filecode(tmp_path):
    p = tmp_path / "bad.shp"
    p.write_bytes(b"\x00" * 100)
    with pytest.raises(VectorError):
        read_shapefile(str(p))


# ---------------------------------------------------------------------------
# Writer round trips + cross-implementation checks
# ---------------------------------------------------------------------------


def _sample_fc():
    return {"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": 0,
         "geometry": {"type": "Polygon", "coordinates": [
             [[13.0, 52.0], [13.5, 52.0], [13.5, 52.4], [13.0, 52.4],
              [13.0, 52.0]],
             [[13.1, 52.1], [13.1, 52.2], [13.2, 52.2], [13.2, 52.1],
              [13.1, 52.1]],
         ]},
         "properties": {"name": "berlin", "pop": 3700000,
                        "area_km2": 891.7, "capital": True}},
        {"type": "Feature", "id": 1,
         "geometry": {"type": "MultiPolygon", "coordinates": [
             [[[2.2, 48.8], [2.5, 48.8], [2.5, 49.0], [2.2, 48.8]]],
             [[[2.6, 48.7], [2.8, 48.7], [2.8, 48.9], [2.6, 48.7]]],
         ]},
         "properties": {"name": "paris", "pop": 2100000,
                        "area_km2": 105.4, "capital": True}},
        {"type": "Feature", "id": 2,
         "geometry": {"type": "Polygon", "coordinates": [
             [[-0.5, 51.3], [0.3, 51.3], [0.3, 51.7], [-0.5, 51.7],
              [-0.5, 51.3]],
         ]},
         "properties": {"name": "london", "pop": 8800000,
                        "area_km2": 1572.0, "capital": False}},
    ]}


def _geom_close(a, b, tol=0.0):
    assert a["type"] == b["type"]
    ca = np.array(list(vector._iter_points(a)), dtype=float)
    cb = np.array(list(vector._iter_points(b)), dtype=float)
    assert ca.shape == cb.shape
    if tol == 0.0:
        np.testing.assert_array_equal(ca, cb)
    else:
        np.testing.assert_allclose(ca, cb, atol=tol)


def test_shapefile_roundtrip(tmp_path):
    fc = _sample_fc()
    path = str(tmp_path / "cities.shp")
    write_shapefile(path, fc)
    for side in (".shx", ".dbf", ".prj"):
        assert os.path.exists(path[:-4] + side)
    back = read_shapefile(path)
    assert len(back["features"]) == 3
    for orig, got in zip(fc["features"], back["features"]):
        p = got["properties"]
        assert p["name"] == orig["properties"]["name"]
        assert p["pop"] == orig["properties"]["pop"]
        assert p["area_km2"] == pytest.approx(
            orig["properties"]["area_km2"], abs=1e-9)
        assert p["capital"] == orig["properties"]["capital"]
        _geom_close(got["geometry"], orig["geometry"])


def test_gpkg_roundtrip_and_stdlib_sqlite_reads_it(tmp_path):
    fc = _sample_fc()
    path = str(tmp_path / "cities.gpkg")
    write_gpkg_features(path, fc, layer="cities")
    back = read_gpkg_features(path)
    assert len(back["features"]) == 3
    for orig, got in zip(fc["features"], back["features"]):
        assert got["properties"]["name"] == orig["properties"]["name"]
        _geom_close(got["geometry"], orig["geometry"])

    # the STDLIB sqlite3 engine (an independent implementation) must
    # read the pure-python writer's pages
    con = sqlite3.connect(path)
    rows = con.execute(
        'SELECT "cities_pk", "name", "pop", geom FROM cities '
        "ORDER BY 1").fetchall()
    con.close()
    assert [r[1] for r in rows] == ["berlin", "paris", "london"]
    assert rows[0][2] == 3700000
    # GPB header + WKB parse out of the stdlib-read blob
    g = geometry_from_wkb(bytes(rows[0][3]), 8)
    _geom_close(g, fc["features"][0]["geometry"])

    # the same features through GeoJSON -> .shp -> a named .gpkg layer
    # keep their order and properties, and the writer's own
    # "cities_pk" column does not leak into the properties read back
    gj = tmp_path / "cities.geojson"
    gj.write_text(json.dumps(fc))
    shp = str(tmp_path / "via.shp")
    write_shapefile(shp, load_features(str(gj)))
    via = str(tmp_path / "via.gpkg")
    write_gpkg_features(via, load_features(shp), layer="cities")
    back = read_gpkg_features(via, layer="cities")
    assert [f["properties"]["name"] for f in back["features"]] == [
        "berlin", "paris", "london"]
    for orig, got in zip(fc["features"], back["features"]):
        assert got["properties"] == orig["properties"]
        _geom_close(got["geometry"], orig["geometry"])


def test_stdlib_sqlite_written_gpkg_reads_back(tmp_path):
    """A GeoPackage created entirely with stdlib sqlite3 (independent
    writer) must parse through the pure-python B-tree reader."""
    path = str(tmp_path / "stdlib.gpkg")
    con = sqlite3.connect(path)
    con.executescript("""
      CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT, srs_id INTEGER,
        organization TEXT, organization_coordsys_id INTEGER,
        definition TEXT, description TEXT);
      CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT,
        identifier TEXT, description TEXT, last_change TEXT,
        min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
        srs_id INTEGER);
      CREATE TABLE gpkg_geometry_columns (table_name TEXT,
        column_name TEXT, geometry_type_name TEXT, srs_id INTEGER,
        z TINYINT, m TINYINT);
      CREATE TABLE zones (fid INTEGER PRIMARY KEY, geom BLOB,
        label TEXT, score REAL);
    """)
    con.execute("INSERT INTO gpkg_spatial_ref_sys VALUES "
                "('WGS 84', 4326, 'EPSG', 4326, ?, NULL)",
                (vector._WGS84_WKT,))
    con.execute("INSERT INTO gpkg_contents VALUES ('zones', 'features',"
                "'zones', NULL, '2026-01-01', 0, 0, 1, 1, 4326)")
    con.execute("INSERT INTO gpkg_geometry_columns VALUES "
                "('zones', 'geom', 'POLYGON', 4326, 0, 0)")
    tri = {"type": "Polygon", "coordinates": [
        [[0.0, 0.0], [1.0, 0.0], [0.5, 1.0], [0.0, 0.0]]]}
    blob = (b"GP\x00\x01" + struct.pack("<i", 4326)
            + geometry_to_wkb(tri))
    con.execute("INSERT INTO zones VALUES (7, ?, 'tri', 0.25)",
                (blob,))
    # a NULL-geometry row survives ingestion with geometry None
    con.execute("INSERT INTO zones VALUES (8, NULL, 'empty', 0.5)")
    con.commit()
    con.close()

    fc = read_gpkg_features(path)
    assert [f["id"] for f in fc["features"]] == [7, 8]
    f7 = fc["features"][0]
    assert f7["properties"]["label"] == "tri"
    assert f7["properties"]["score"] == 0.25
    assert f7["properties"]["fid"] == 7  # pk column backfilled from rowid
    _geom_close(f7["geometry"], tri)
    assert fc["features"][1]["geometry"] is None


def test_gpkg_layer_selection(tmp_path):
    path = str(tmp_path / "two.gpkg")
    con = sqlite3.connect(path)
    con.executescript("""
      CREATE TABLE gpkg_geometry_columns (table_name TEXT,
        column_name TEXT, geometry_type_name TEXT, srs_id INTEGER,
        z TINYINT, m TINYINT);
      CREATE TABLE a (fid INTEGER PRIMARY KEY, geom BLOB);
      CREATE TABLE b (fid INTEGER PRIMARY KEY, geom BLOB);
      INSERT INTO gpkg_geometry_columns VALUES
        ('a','geom','POINT',4326,0,0), ('b','geom','POINT',4326,0,0);
    """)
    pt = (b"GP\x00\x01" + struct.pack("<i", 4326) + geometry_to_wkb(
        {"type": "Point", "coordinates": [5.0, 6.0]}))
    con.execute("INSERT INTO a VALUES (1, ?)", (pt,))
    con.commit()
    con.close()
    assert vector.list_gpkg_layers(path) == ["a", "b"]
    with pytest.raises(VectorError, match="2 layers"):
        read_gpkg_features(path)
    fc = read_gpkg_features(path, layer="a")
    assert fc["features"][0]["geometry"]["coordinates"] == [5.0, 6.0]
    with pytest.raises(VectorError, match="no layer"):
        read_gpkg_features(path, layer="zzz")


# ---------------------------------------------------------------------------
# Projected layers (.prj / gpkg srs) unproject through crs.py
# ---------------------------------------------------------------------------

_UTM33_WKT = (
    'PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Transverse_Mercator"],'
    'PARAMETER["latitude_of_origin",0],'
    'PARAMETER["central_meridian",15],'
    'PARAMETER["scale_factor",0.9996],'
    'PARAMETER["false_easting",500000],'
    'PARAMETER["false_northing",0],UNIT["metre",1]]'
)


def _project_utm33(lats, lons):
    from opentopodata_spark import crs
    return crs.reproject_latlons(
        np.asarray(lats, float), np.asarray(lons, float),
        wkt=_UTM33_WKT)


def test_shapefile_prj_unprojects(tmp_path):
    lats = [52.0, 52.0, 52.3, 52.0]
    lons = [13.0, 13.6, 13.3, 13.0]
    xs, ys = _project_utm33(lats, lons)
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "geometry": {
            "type": "Polygon",
            "coordinates": [[[float(x), float(y)]
                             for x, y in zip(xs, ys)]]},
         "properties": {"zone": "utm"}},
    ]}
    path = str(tmp_path / "proj.shp")
    write_shapefile(path, fc)
    with open(path[:-4] + ".prj", "w") as f:
        f.write(_UTM33_WKT)  # overwrite the writer's WGS84 prj
    back = read_shapefile(path)
    ring = back["features"][0]["geometry"]["coordinates"][0]
    got = np.array(ring[:-1] if ring[0] == ring[-1] else ring)
    want = np.array([[lo, la] for la, lo in zip(lats[:3], lons[:3])])
    # closing vertex may or may not be retained; compare first three
    np.testing.assert_allclose(got[:3], want, atol=1e-8)


def test_gpkg_projected_srs_unprojects(tmp_path):
    lats = [48.0, 48.0, 48.5]
    lons = [16.0, 16.5, 16.2]
    xs, ys = _project_utm33(lats, lons)
    path = str(tmp_path / "proj.gpkg")
    con = sqlite3.connect(path)
    con.executescript("""
      CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT, srs_id INTEGER,
        organization TEXT, organization_coordsys_id INTEGER,
        definition TEXT, description TEXT);
      CREATE TABLE gpkg_geometry_columns (table_name TEXT,
        column_name TEXT, geometry_type_name TEXT, srs_id INTEGER,
        z TINYINT, m TINYINT);
      CREATE TABLE tri (fid INTEGER PRIMARY KEY, geom BLOB);
      INSERT INTO gpkg_geometry_columns VALUES
        ('tri','geom','POLYGON',32633,0,0);
    """)
    con.execute("INSERT INTO gpkg_spatial_ref_sys VALUES "
                "('UTM33N', 32633, 'EPSG', 32633, ?, NULL)",
                (_UTM33_WKT,))
    ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
    ring.append(ring[0])
    blob = (b"GP\x00\x01" + struct.pack("<i", 32633) + geometry_to_wkb(
        {"type": "Polygon", "coordinates": [ring]}))
    con.execute("INSERT INTO tri VALUES (1, ?)", (blob,))
    con.commit()
    con.close()
    fc = read_gpkg_features(path)
    got = np.array(fc["features"][0]["geometry"]["coordinates"][0][:3])
    want = np.array([[lo, la] for la, lo in zip(lats, lons)])
    np.testing.assert_allclose(got, want, atol=1e-8)


# ---------------------------------------------------------------------------
# dbf field types
# ---------------------------------------------------------------------------


def test_dbf_types_roundtrip(tmp_path):
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
         "properties": {"s": "héllo", "i": -42, "f": 3.5,
                        "b": False, "none": None}},
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [3.0, 4.0]},
         "properties": {"s": "x", "i": 7, "f": -0.125, "b": True,
                        "none": None}},
    ]}
    path = str(tmp_path / "attrs.shp")
    write_shapefile(path, fc)
    back = read_shapefile(path)
    p0, p1 = (f["properties"] for f in back["features"])
    assert p0["s"] == "héllo" and p1["s"] == "x"
    assert p0["i"] == -42 and p1["i"] == 7
    assert p0["f"] == pytest.approx(3.5, abs=1e-12)
    assert p1["f"] == pytest.approx(-0.125, abs=1e-12)
    assert p0["b"] is False and p1["b"] is True
    assert p0["none"] in (None, "")


def test_dbf_date_and_blank_numeric(tmp_path):
    # hand-build a dbf with D and blank N fields
    dbf = bytearray()
    rec_size = 1 + 8 + 6
    dbf += struct.pack("<B3BIHH20x", 0x03, 126, 1, 1, 2,
                       32 + 64 + 1, rec_size)
    dbf += b"DT".ljust(11, b"\x00") + b"D" + b"\x00" * 4 \
        + bytes([8, 0]) + b"\x00" * 14
    dbf += b"NUM".ljust(11, b"\x00") + b"N" + b"\x00" * 4 \
        + bytes([6, 0]) + b"\x00" * 14
    dbf += b"\x0d"
    dbf += b" " + b"20260820" + b"   123"
    dbf += b" " + b"        " + b"      "
    dbf += b"\x1a"
    p = tmp_path / "d.dbf"
    p.write_bytes(bytes(dbf))
    rows = vector._read_dbf(str(p), "latin-1")
    assert rows[0] == {"DT": "2026-08-20", "NUM": 123}
    assert rows[1] == {"DT": None, "NUM": None}


# ---------------------------------------------------------------------------
# Multipolygon hole-grouping from mixed shapefile rings
# ---------------------------------------------------------------------------


def test_two_outers_one_hole_grouping():
    def cw(r):
        return r if vector._ring_signed_area(r) < 0 else r[::-1]

    def ccw(r):
        return r if vector._ring_signed_area(r) > 0 else r[::-1]

    big = cw([[0, 0], [0, 10], [10, 10], [10, 0]])
    small = cw([[20, 20], [20, 24], [24, 24], [24, 20]])
    hole_in_big = ccw([[4, 4], [4, 6], [6, 6], [6, 4]])
    g = vector._shp_rings_to_geojson([big, small, hole_in_big])
    assert g["type"] == "MultiPolygon"
    polys = g["coordinates"]
    assert len(polys) == 2
    with_hole = [p for p in polys if len(p) == 2]
    assert len(with_hole) == 1
    # the hole landed inside the big square, not the far small one
    hx = [pt[0] for pt in with_hole[0][1]]
    assert max(hx) <= 10


# ---------------------------------------------------------------------------
# Front-door differential: geojson == shp == gpkg through PIP and burn
# ---------------------------------------------------------------------------


def _plain_polys_fc():
    return {"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "geometry": {"type": "Polygon", "coordinates": [
             [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0],
              [0.0, 0.0]]]},
         "properties": {"polygon_id": "west"}},
        {"type": "Feature",
         "geometry": {"type": "Polygon", "coordinates": [
             [[5.0, 1.0], [9.0, 1.0], [9.0, 3.0], [5.0, 3.0],
              [5.0, 1.0]]]},
         "properties": {"polygon_id": "east"}},
    ]}


def test_pip_front_door_equivalence(tmp_path):
    from opentopodata_spark.operators.spatial import polygons_from_geojson

    fc = _plain_polys_fc()
    gj = tmp_path / "p.geojson"
    gj.write_text(json.dumps(fc))
    shp = str(tmp_path / "p.shp")
    write_shapefile(shp, fc)
    gpk = str(tmp_path / "p.gpkg")
    write_gpkg_features(gpk, fc, layer="polys")

    base = polygons_from_geojson(str(gj))

    def canon(polys):
        out = []
        for p in polys:
            pts = sorted(zip(p["lons"], p["lats"]))
            out.append((p["polygon_id"], tuple(pts)))
        return sorted(out)

    assert canon(polygons_from_geojson(shp)) == canon(base)
    assert canon(polygons_from_geojson(gpk)) == canon(base)


def test_burn_front_door_equivalence(tmp_path):
    from opentopodata_spark.operators.rasterize import (
        GridSpec,
        burn_sequential,
        features_from_geojson,
    )

    poly_fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "geometry": {"type": "Polygon", "coordinates": [
             [[0.5, 0.5], [7.5, 0.5], [7.5, 6.5], [0.5, 6.5],
              [0.5, 0.5]],
             [[2.0, 2.0], [2.0, 4.0], [4.0, 4.0], [4.0, 2.0],
              [2.0, 2.0]]]},
         "properties": {"v": 3.0}},
        {"type": "Feature",
         "geometry": {"type": "Polygon", "coordinates": [
             [[5.0, 5.0], [9.0, 5.0], [9.0, 7.5], [5.0, 7.5],
              [5.0, 5.0]]]},
         "properties": {"v": 7.0}},
    ]}
    line_fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "geometry": {"type": "LineString",
                      "coordinates": [[0.0, 7.5], [9.5, 0.2]]},
         "properties": {"v": 9.0}},
    ]}
    grid = GridSpec(x0=0.0, y0=8.0, sx=0.5, sy=0.5, width=20, height=16)

    for fc, kind in ((poly_fc, "polygon"), (line_fc, "line")):
        gj = tmp_path / f"{kind}.geojson"
        gj.write_text(json.dumps(fc))
        shp = str(tmp_path / f"{kind}.shp")
        write_shapefile(shp, fc)
        gpk = str(tmp_path / f"{kind}.gpkg")
        write_gpkg_features(gpk, fc, layer=kind)

        base = burn_sequential(
            features_from_geojson(str(gj), burn_attr="v"), grid,
            geometry=kind)
        for alt in (shp, gpk):
            got = burn_sequential(
                features_from_geojson(alt, burn_attr="v"), grid,
                geometry=kind)
            assert got == base, f"{kind} via {alt} diverges"


def test_load_features_dispatch(tmp_path):
    fc = _plain_polys_fc()
    assert load_features(fc) is fc
    gj = tmp_path / "x.json"
    gj.write_text(json.dumps(fc))
    assert load_features(str(gj))["type"] == "FeatureCollection"


def test_shp_z_roundtrip(tmp_path):
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "geometry": {"type": "LineString",
                      "coordinates": [[1.0, 2.0, 100.0],
                                      [3.0, 4.0, 200.0]]},
         "properties": {}},
    ]}
    path = str(tmp_path / "z.shp")
    write_shapefile(path, fc)
    back = read_shapefile(path)
    g = back["features"][0]["geometry"]
    assert g["coordinates"] == [[1.0, 2.0, 100.0], [3.0, 4.0, 200.0]]


def test_null_shape_keeps_attribute_row(tmp_path):
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "geometry": None,
         "properties": {"name": "ghost"}},
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [1.0, 1.0]},
         "properties": {"name": "real"}},
    ]}
    path = str(tmp_path / "n.shp")
    write_shapefile(path, fc)
    back = read_shapefile(path)
    assert back["features"][0]["geometry"] is None
    assert back["features"][0]["properties"]["name"] == "ghost"
    assert back["features"][1]["geometry"]["coordinates"] == [1.0, 1.0]


def test_zonal_cli_accepts_gpkg_polygons(tmp_path):
    """jobs/raster zonal --polygons zones.gpkg == the same polygon as
    engine JSON (CLI front-door differential over a real raster)."""
    import json as _json

    from opentopodata_spark.jobs import raster as rjob

    lats = [0.3, 0.7, 0.7, 0.3]
    lons = [10.8, 10.8, 11.2, 11.2]
    eng = str(tmp_path / "p.json")
    with open(eng, "w") as f:
        _json.dump([{"polygon_id": "B", "lats": lats, "lons": lons}], f)
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "geometry": {"type": "Polygon", "coordinates": [
             [[lo, la] for lo, la in zip(lons, lats)]
             + [[lons[0], lats[0]]]]},
         "properties": {"polygon_id": "B"}},
    ]}
    gpk = str(tmp_path / "p.gpkg")
    write_gpkg_features(gpk, fc, layer="p")
    shp = str(tmp_path / "p.shp")
    write_shapefile(shp, fc)
    def canon(polys):
        # ring DIRECTION may legitimately flip through the shapefile
        # orientation round trip; the polygon itself is unchanged
        return sorted(
            (p["polygon_id"], tuple(sorted(zip(p["lons"], p["lats"]))))
            for p in polys)

    assert canon(rjob._load_polygons(eng)) == canon(
        rjob._load_polygons(gpk))
    assert canon(rjob._load_polygons(eng)) == canon(
        rjob._load_polygons(shp))
