"""Vector feature ingestion: ESRI Shapefile, GeoPackage features, WKB.

The reference delegates all vector IO to GDAL/OGR. Real dataset
boundaries and zone layers mostly ship as .shp or .gpkg, so this module
implements the two formats from their public specifications:

* **ESRI Shapefile** (ESRI whitepaper, July 1998): `.shp` geometry
  (Point / PolyLine / Polygon / MultiPoint incl. Z and M variants),
  `.dbf` dBase III attributes (C/N/F/L/D fields), `.prj` WKT (projected
  layers are unprojected to WGS84 through crs.py), `.cpg` encoding.
  `.shx` is not required — records are walked sequentially.
* **GeoPackage features** (OGC 12-128r19 §2.1.3 + ISO WKB): vector
  layers in a SQLite container, walked by gpkg.py's B-tree reader —
  `gpkg_geometry_columns` discovery, GPB geometry-blob
  headers, standard/ISO/EWKB geometry decode, srs unprojection.
* **WKB** both byte orders, 2D/Z/M/ZM, ISO (+1000-style) and EWKB
  (flag-bit) type codes, nested collections.

Everything decodes to a plain GeoJSON FeatureCollection mapping, so
every consumer (PIP coverage join, zonal stats, rasterize/burn) accepts
any format through its front door
(`operators/spatial.polygons_from_geojson`,
`operators/rasterize.features_from_geojson`), which dispatches on the
file extension. Scale note: vector layers are the SMALL side of every
join in this engine (they broadcast as cover cells or burn features);
ingestion is deliberately driver-side, same as the GeoJSON path, and the
existing `max_polygons` guards still apply.

Writers (`write_shapefile`, `write_gpkg_features`) exist so fixtures and
differential tests have deterministic real bytes without external
tools. The GPKG writer reuses gpkg.py's pure-python SQLite page
builder; tests verify its output with the STDLIB sqlite3 engine (an
independent implementation), and conversely read stdlib-sqlite3-written
GeoPackages with gpkg.py's pure-python B-tree reader.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np

from . import crs as _crs
from .gpkg import (
    GpkgError,
    _assemble_sqlite,
    _DbWriter,
    _SQLite,
    _table_dicts,
)
from .geotiff import _ByteSource

__all__ = [
    "VectorError",
    "load_features",
    "read_shapefile",
    "read_gpkg_features",
    "list_gpkg_layers",
    "write_shapefile",
    "write_gpkg_features",
    "geometry_from_wkb",
    "geometry_to_wkb",
]


class VectorError(ValueError):
    pass


# ---------------------------------------------------------------------------
# WKB (ISO 19125 / OGC 06-103r4 well-known binary)
# ---------------------------------------------------------------------------

_WKB_BASE = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
    7: "GeometryCollection",
}
_WKB_CODE = {v: k for k, v in _WKB_BASE.items()}

# EWKB flag bits (PostGIS extension; GPKG blobs in the wild carry both
# ISO +1000 codes and EWKB flags, so accept either)
_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000


def _parse_wkb(buf: bytes, pos: int) -> tuple[dict, int]:
    """One WKB geometry at ``pos`` -> (GeoJSON geometry dict, new pos)."""
    if pos >= len(buf):
        raise VectorError("WKB truncated (no byte-order byte)")
    bo = buf[pos]
    if bo not in (0, 1):
        raise VectorError(f"WKB bad byte order {bo}")
    end = "<" if bo == 1 else ">"
    (code,) = struct.unpack_from(end + "I", buf, pos + 1)
    pos += 5
    has_z = bool(code & _EWKB_Z)
    has_m = bool(code & _EWKB_M)
    if code & _EWKB_SRID:
        pos += 4  # embedded SRID: the GPB header's srs_id wins
    code &= 0x0FFFFFFF
    # ISO type codes: base + 1000*k, k in {1:Z, 2:M, 3:ZM}
    k, base = divmod(code, 1000)
    if k == 1:
        has_z = True
    elif k == 2:
        has_m = True
    elif k == 3:
        has_z = has_m = True
    elif k != 0:
        raise VectorError(f"WKB unsupported type code {code}")
    gtype = _WKB_BASE.get(base)
    if gtype is None:
        raise VectorError(f"WKB unsupported geometry type {base}")
    dims = 2 + has_z + has_m

    def _coords(n: int, p: int):
        nt = n * dims
        arr = np.frombuffer(buf, dtype=end + "f8", count=nt, offset=p)
        p += nt * 8
        pts = arr.reshape(n, dims)
        if has_z:
            out = [[float(x), float(y), float(z)]
                   for x, y, z in pts[:, :3]]
        else:
            out = [[float(x), float(y)] for x, y in pts[:, :2]]
        return out, p

    if gtype == "Point":
        pts, pos = _coords(1, pos)
        c = pts[0]
        if all(math.isnan(v) for v in c[:2]):  # POINT EMPTY convention
            return {"type": "Point", "coordinates": []}, pos
        return {"type": "Point", "coordinates": c}, pos
    if gtype in ("LineString", "MultiPoint"):
        (n,) = struct.unpack_from(end + "I", buf, pos)
        pos += 4
        if gtype == "LineString":
            pts, pos = _coords(n, pos)
            return {"type": "LineString", "coordinates": pts}, pos
        # MultiPoint: n nested point geometries, each with its own header
        coords = []
        for _ in range(n):
            g, pos = _parse_wkb(buf, pos)
            if g["type"] != "Point":
                raise VectorError("WKB MultiPoint member is not a Point")
            coords.append(g["coordinates"])
        return {"type": "MultiPoint", "coordinates": coords}, pos
    if gtype == "Polygon":
        (nr,) = struct.unpack_from(end + "I", buf, pos)
        pos += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(end + "I", buf, pos)
            pos += 4
            pts, pos = _coords(n, pos)
            rings.append(pts)
        return {"type": "Polygon", "coordinates": rings}, pos
    # Multi* / collection: nested full geometries
    (n,) = struct.unpack_from(end + "I", buf, pos)
    pos += 4
    member = {"MultiLineString": "LineString",
              "MultiPolygon": "Polygon"}.get(gtype)
    if gtype == "GeometryCollection":
        geoms = []
        for _ in range(n):
            g, pos = _parse_wkb(buf, pos)
            geoms.append(g)
        return {"type": "GeometryCollection", "geometries": geoms}, pos
    coords = []
    for _ in range(n):
        g, pos = _parse_wkb(buf, pos)
        if g["type"] != member:
            raise VectorError(
                f"WKB {gtype} member is {g['type']}, expected {member}")
        coords.append(g["coordinates"])
    return {"type": gtype, "coordinates": coords}, pos


def geometry_from_wkb(buf: bytes, pos: int = 0) -> dict:
    geom, end_pos = _parse_wkb(bytes(buf), pos)
    return geom


def geometry_to_wkb(geom: dict) -> bytes:
    """GeoJSON geometry -> little-endian ISO WKB (Z written when any
    coordinate carries a third value; M never written)."""
    t = geom["type"]
    if t == "GeometryCollection":
        parts = [geometry_to_wkb(g) for g in geom["geometries"]]
        return (b"\x01" + struct.pack("<I", 7)
                + struct.pack("<I", len(parts)) + b"".join(parts))
    coords = geom["coordinates"]

    def _depth_first_point(c):
        while c and isinstance(c[0], (list, tuple)):
            c = c[0]
        return c

    probe = _depth_first_point(coords) if coords else []
    has_z = len(probe) >= 3
    dims = 3 if has_z else 2
    code = _WKB_CODE[t] + (1000 if has_z else 0)

    def _pts(pts) -> bytes:
        arr = np.asarray(
            [[p[0], p[1], p[2]] if has_z else [p[0], p[1]] for p in pts],
            dtype="<f8",
        ).reshape(-1, dims)
        return arr.tobytes()

    hdr = b"\x01" + struct.pack("<I", code)
    if t == "Point":
        if not coords:
            return hdr + struct.pack("<d", math.nan) * dims
        return hdr + _pts([coords])
    if t == "LineString":
        return hdr + struct.pack("<I", len(coords)) + _pts(coords)
    if t == "Polygon":
        out = [hdr, struct.pack("<I", len(coords))]
        for ring in coords:
            out.append(struct.pack("<I", len(ring)) + _pts(ring))
        return b"".join(out)
    member = {"MultiPoint": "Point", "MultiLineString": "LineString",
              "MultiPolygon": "Polygon"}[t]
    parts = [geometry_to_wkb({"type": member, "coordinates": c})
             for c in coords]
    return hdr + struct.pack("<I", len(parts)) + b"".join(parts)


# ---------------------------------------------------------------------------
# GeoPackage features (OGC 12-128r19 §2.1.3: GPB blob + gpkg_geometry_columns)
# ---------------------------------------------------------------------------

_GPB_ENVELOPE_BYTES = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}


def _parse_gpb(blob: bytes) -> tuple[int, int, bool]:
    """GeoPackage geometry blob header -> (srs_id, wkb offset, empty)."""
    if len(blob) < 8 or blob[:2] != b"GP":
        raise VectorError("not a GeoPackage geometry blob (no GP magic)")
    version = blob[2]
    if version != 0:
        raise VectorError(f"GPB version {version} unsupported")
    flags = blob[3]
    if flags & 0x20:
        raise VectorError("GPB extended-geometry flag set (unsupported)")
    little = bool(flags & 0x01)
    env = (flags >> 1) & 0x07
    if env not in _GPB_ENVELOPE_BYTES:
        raise VectorError(f"GPB invalid envelope indicator {env}")
    empty = bool(flags & 0x10)
    (srs_id,) = struct.unpack_from("<i" if little else ">i", blob, 4)
    return srs_id, 8 + _GPB_ENVELOPE_BYTES[env], empty


def _make_gpb(srs_id: int) -> bytes:
    # little-endian header, no envelope
    return b"GP\x00\x01" + struct.pack("<i", srs_id)


def list_gpkg_layers(path: str) -> list[str]:
    db = _SQLite(_ByteSource(path))
    tables = db.tables()
    return sorted(
        row["table_name"]
        for _rid, row in _table_dicts(db, tables, "gpkg_geometry_columns")
    )


def _srs_definitions(db, tables) -> dict[int, str]:
    out = {}
    for _rid, row in _table_dicts(db, tables, "gpkg_spatial_ref_sys"):
        if row.get("srs_id") is not None:
            out[int(row["srs_id"])] = row.get("definition") or ""
    return out


def _unproject_geom(geom: dict, wkt: str) -> dict:
    """Projected GeoJSON geometry -> WGS84 lon/lat (Z carried through)."""
    def conv(coords, depth_points: bool):
        if depth_points:
            pts = coords
            xs = np.array([p[0] for p in pts], dtype=np.float64)
            ys = np.array([p[1] for p in pts], dtype=np.float64)
            lons, lats = _crs.unproject_xys(xs, ys, wkt=wkt)
            out = []
            for p, lo, la in zip(pts, lons, lats):
                out.append([float(lo), float(la)] + list(p[2:]))
            return out
        return [conv(c, _is_point_list(c)) for c in coords]

    def _is_point_list(c):
        return bool(c) and not isinstance(c[0], (list, tuple))

    t = geom["type"]
    if t == "GeometryCollection":
        return {"type": t,
                "geometries": [_unproject_geom(g, wkt)
                               for g in geom["geometries"]]}
    c = geom["coordinates"]
    if not c:
        return geom
    if t == "Point":
        return {"type": t, "coordinates": conv([c], True)[0]}
    if t in ("LineString", "MultiPoint"):
        return {"type": t, "coordinates": conv(c, True)}
    if t in ("Polygon", "MultiLineString"):
        return {"type": t, "coordinates": [conv(r, True) for r in c]}
    # MultiPolygon
    return {"type": t,
            "coordinates": [[conv(r, True) for r in poly] for poly in c]}


def _wkt_is_geographic(wkt: str) -> bool:
    head = wkt.lstrip().upper()
    return head.startswith("GEOGCS") or head.startswith("GEOGCRS") \
        or head.startswith("GEOGRAPHICCRS")


def read_gpkg_features(path: str, layer: str | None = None) -> dict:
    """GeoPackage vector layer -> GeoJSON FeatureCollection (WGS84).

    Layer discovery through ``gpkg_geometry_columns``; a multi-layer
    package with no ``layer`` argument raises loudly, listing layers.
    Feature ids are the SQLite rowids (OGR's fid for gpkg). Projected
    layers (srs definition PROJCS) are unprojected through crs.py;
    geographic srs pass through; srs_id 0 / -1 ("undefined") pass
    through, matching OGR's behavior of serving coordinates as stored.
    """
    db = _SQLite(_ByteSource(path))
    tables = db.tables()
    layers = {}
    for _rid, row in _table_dicts(db, tables, "gpkg_geometry_columns"):
        layers[row["table_name"]] = row
    if not layers:
        raise VectorError(f"'{path}' has no vector layers "
                          "(gpkg_geometry_columns empty or missing)")
    if layer is None:
        if len(layers) > 1:
            raise VectorError(
                f"'{path}' has {len(layers)} layers "
                f"({', '.join(sorted(layers))}); pass layer=")
        layer = next(iter(layers))
    if layer not in layers:
        raise VectorError(
            f"'{path}' has no layer '{layer}' "
            f"(layers: {', '.join(sorted(layers))})")
    if layer not in tables:
        raise VectorError(f"'{path}': layer table '{layer}' missing")
    geom_col = layers[layer]["column_name"]
    srs_defs = _srs_definitions(db, tables)

    feats = []
    own_pk = f"{layer}_pk"  # this engine's writer artifact == the rowid
    for rowid, row in _table_dicts(db, tables, layer):
        blob = row.get(geom_col)
        props = {k: v for k, v in row.items()
                 if k != geom_col and k != own_pk}
        # the INTEGER PRIMARY KEY column is the rowid and decodes as NULL
        # in the record body (SQLite stores it only in the cell key)
        for k, v in list(props.items()):
            if v is None and k.lower() in ("fid", "id", "ogc_fid"):
                props[k] = rowid
        geom = None
        if blob is not None:
            srs_id, off, empty = _parse_gpb(bytes(blob))
            if not empty:
                geom = geometry_from_wkb(bytes(blob), off)
                wkt = srs_defs.get(srs_id, "")
                if srs_id not in (0, -1, 4326) and wkt \
                        and not _wkt_is_geographic(wkt):
                    geom = _unproject_geom(geom, wkt)
        feats.append({"type": "Feature", "id": rowid,
                      "geometry": geom, "properties": props})
    return {"type": "FeatureCollection", "features": feats}


# ---------------------------------------------------------------------------
# ESRI Shapefile (.shp + .dbf + .prj; spec: ESRI whitepaper July 1998)
# ---------------------------------------------------------------------------

_SHP_POINT = {1, 11, 21}
_SHP_POLYLINE = {3, 13, 23}
_SHP_POLYGON = {5, 15, 25}
_SHP_MULTIPOINT = {8, 18, 28}
_SHP_HAS_Z = {11, 13, 15, 18}
_SHP_HAS_M = {21, 23, 25, 28} | _SHP_HAS_Z


def _ring_signed_area(ring: list) -> float:
    xs = np.array([p[0] for p in ring], dtype=np.float64)
    ys = np.array([p[1] for p in ring], dtype=np.float64)
    return 0.5 * float(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys))


def _point_in_ring(x: float, y: float, ring: list) -> bool:
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[(i + 1) % n][0], ring[(i + 1) % n][1]
        if (y1 > y) != (y2 > y):
            if x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
                inside = not inside
    return inside


def _shp_rings_to_geojson(rings: list[list]) -> dict:
    """Shapefile polygon rings (mixed outer/hole, spec orientation:
    outer clockwise, holes counter-clockwise) -> GeoJSON Polygon /
    MultiPolygon with RFC 7946 orientation (outer CCW, holes CW) and
    hole-to-outer containment assignment (OGR's organizePolygons)."""
    outers: list[tuple[list, list]] = []  # (ring, holes)
    holes: list[list] = []
    for ring in rings:
        if _ring_signed_area(ring) <= 0:  # CW in x-east/y-north = outer
            outers.append((ring, []))
        else:
            holes.append(ring)
    if not outers:
        # degenerate file: orientation lied; treat all as outers
        outers = [(r, []) for r in holes]
        holes = []
    for hole in holes:
        hx, hy = hole[0][0], hole[0][1]
        chosen = None
        chosen_area = math.inf
        for i, (outer, _hs) in enumerate(outers):
            if _point_in_ring(hx, hy, outer):
                area = abs(_ring_signed_area(outer))
                if area < chosen_area:
                    chosen, chosen_area = i, area
        if chosen is None:
            outers.append((hole, []))  # promote orphan hole (leniency)
        else:
            outers[chosen][1].append(hole)

    def _close(ring: list) -> list:
        if ring and ring[0] != ring[-1]:
            return ring + [ring[0]]
        return ring

    polys = []
    for outer, hs in outers:
        o = _close(outer)
        if _ring_signed_area(o) < 0:
            o = o[::-1]  # RFC 7946: outer CCW
        ringset = [o]
        for h in hs:
            hc = _close(h)
            if _ring_signed_area(hc) > 0:
                hc = hc[::-1]  # holes CW
            ringset.append(hc)
        polys.append(ringset)
    if len(polys) == 1:
        return {"type": "Polygon", "coordinates": polys[0]}
    return {"type": "MultiPolygon", "coordinates": polys}


def _read_dbf(path: str, encoding: str) -> list[dict]:
    with open(path, "rb") as f:
        buf = f.read()
    if len(buf) < 32:
        raise VectorError(f"'{path}': truncated dbf header")
    n_rec = struct.unpack_from("<I", buf, 4)[0]
    hdr_size = struct.unpack_from("<H", buf, 8)[0]
    rec_size = struct.unpack_from("<H", buf, 10)[0]
    fields = []
    pos = 32
    while pos < hdr_size - 1 and buf[pos] != 0x0D:
        name = buf[pos:pos + 11].split(b"\x00", 1)[0].decode(
            encoding, "replace")
        ftype = chr(buf[pos + 11])
        flen = buf[pos + 16]
        fdec = buf[pos + 17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    out = []
    pos = hdr_size
    for _ in range(n_rec):
        if pos + rec_size > len(buf):
            break
        rec = buf[pos:pos + rec_size]
        pos += rec_size
        if rec[:1] == b"*":  # deleted
            continue
        props = {}
        off = 1
        for name, ftype, flen, fdec in fields:
            raw = rec[off:off + flen]
            off += flen
            if ftype == "C":
                props[name] = raw.decode(encoding, "replace").rstrip()
            elif ftype in ("N", "F"):
                s = raw.decode("ascii", "replace").strip()
                if not s or s.lstrip("*") == "":
                    props[name] = None
                elif ftype == "N" and fdec == 0 and "." not in s \
                        and "e" not in s.lower():
                    props[name] = int(s)
                else:
                    props[name] = float(s)
            elif ftype == "L":
                c = raw[:1].decode("ascii", "replace").upper()
                props[name] = (True if c in "TY"
                               else False if c in "FN" else None)
            elif ftype == "D":
                s = raw.decode("ascii", "replace").strip()
                props[name] = (f"{s[0:4]}-{s[4:6]}-{s[6:8]}"
                               if len(s) == 8 and s.isdigit() else None)
            else:
                props[name] = raw.hex()  # unknown field type: raw bytes
        out.append(props)
    return out


def read_shapefile(path: str) -> dict:
    """ESRI Shapefile -> GeoJSON FeatureCollection (WGS84).

    ``path`` is the ``.shp``; sidecars ``.dbf`` (attributes), ``.prj``
    (CRS — PROJCS layers unproject through crs.py), ``.cpg`` (dbf
    encoding) are picked up when present. Feature ids are 0-based
    record indexes (OGR's shapefile FID convention). Null shapes keep
    their attribute row with geometry null.
    """
    with open(path, "rb") as f:
        buf = f.read()
    if len(buf) < 100 or struct.unpack_from(">i", buf, 0)[0] != 9994:
        raise VectorError(f"'{path}' is not a shapefile (bad file code)")
    file_len = struct.unpack_from(">i", buf, 24)[0] * 2
    version, gtype = struct.unpack_from("<ii", buf, 28)
    if version != 1000:
        raise VectorError(f"'{path}': shapefile version {version}")

    base = path[:-4] if path.lower().endswith(".shp") else path
    encoding = "latin-1"
    cpg = base + ".cpg"
    if os.path.exists(cpg):
        with open(cpg, "r", encoding="ascii", errors="replace") as f:
            enc = f.read().strip()
        if enc:
            encoding = enc
    attrs: list[dict] = []
    dbf = base + ".dbf"
    if os.path.exists(dbf):
        attrs = _read_dbf(dbf, encoding)
    prj_wkt = None
    prj = base + ".prj"
    if os.path.exists(prj):
        with open(prj, "r", encoding="utf-8", errors="replace") as f:
            prj_wkt = f.read().strip()
        if not prj_wkt or _wkt_is_geographic(prj_wkt):
            prj_wkt = None  # geographic: serve as stored

    feats = []
    pos = 100
    idx = 0
    end_at = min(len(buf), file_len)
    while pos + 8 <= end_at:
        _recno, clen = struct.unpack_from(">ii", buf, pos)
        pos += 8
        rec_end = pos + clen * 2
        if rec_end > len(buf):
            raise VectorError(f"'{path}': record {idx} overruns file")
        (stype,) = struct.unpack_from("<i", buf, pos)
        geom = _parse_shp_record(buf, pos, rec_end, stype, path, idx)
        props = dict(attrs[idx]) if idx < len(attrs) else {}
        if geom is not None and prj_wkt is not None:
            geom = _unproject_geom(geom, prj_wkt)
        feats.append({"type": "Feature", "id": idx,
                      "geometry": geom, "properties": props})
        pos = rec_end
        idx += 1
    return {"type": "FeatureCollection", "features": feats}


def _parse_shp_record(buf, pos, rec_end, stype, path, idx):
    if stype == 0:
        return None
    has_z = stype in _SHP_HAS_Z

    def _xy_block(p, n):
        arr = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=p)
        return arr.reshape(n, 2), p + 16 * n

    if stype in _SHP_POINT:
        x, y = struct.unpack_from("<2d", buf, pos + 4)
        c = [x, y]
        if has_z:
            (z,) = struct.unpack_from("<d", buf, pos + 20)
            c.append(z)
        return {"type": "Point", "coordinates": [float(v) for v in c]}

    if stype in _SHP_MULTIPOINT:
        (n,) = struct.unpack_from("<i", buf, pos + 36)
        pts, p = _xy_block(pos + 40, n)
        zs = None
        if has_z and p + 16 + 8 * n <= rec_end:
            zs = np.frombuffer(buf, dtype="<f8", count=n, offset=p + 16)
        coords = [[float(x), float(y)] + ([float(zs[i])] if zs is not None
                                          else [])
                  for i, (x, y) in enumerate(pts)]
        return {"type": "MultiPoint", "coordinates": coords}

    if stype in _SHP_POLYLINE or stype in _SHP_POLYGON:
        nparts, npoints = struct.unpack_from("<2i", buf, pos + 36)
        parts = list(struct.unpack_from(f"<{nparts}i", buf, pos + 44))
        p = pos + 44 + 4 * nparts
        pts, p = _xy_block(p, npoints)
        zs = None
        if has_z and p + 16 + 8 * npoints <= rec_end:
            zs = np.frombuffer(buf, dtype="<f8", count=npoints,
                               offset=p + 16)
        bounds = parts + [npoints]
        rings = []
        for k in range(nparts):
            a, b = bounds[k], bounds[k + 1]
            ring = [[float(x), float(y)] + ([float(zs[i])]
                                            if zs is not None else [])
                    for i, (x, y) in zip(range(a, b), pts[a:b])]
            rings.append(ring)
        if stype in _SHP_POLYLINE:
            if len(rings) == 1:
                return {"type": "LineString", "coordinates": rings[0]}
            return {"type": "MultiLineString", "coordinates": rings}
        return _shp_rings_to_geojson(rings)

    raise VectorError(f"'{path}' record {idx}: shape type {stype} "
                      "unsupported (PointM/PatchTypes beyond spec subset)")


# ---------------------------------------------------------------------------
# Writers
# ---------------------------------------------------------------------------

_WGS84_WKT = (
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
    '298.257223563]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433]]'
)


def _fc_features(fc) -> list[dict]:
    if isinstance(fc, dict) and fc.get("type") == "FeatureCollection":
        return fc["features"]
    raise VectorError("writer expects a GeoJSON FeatureCollection dict")


def _geom_class(geoms: list[dict]) -> str:
    kinds = set()
    for g in geoms:
        if g is None:
            continue
        t = g["type"]
        if t in ("Point",):
            kinds.add("point")
        elif t in ("MultiPoint",):
            kinds.add("multipoint")
        elif t in ("LineString", "MultiLineString"):
            kinds.add("line")
        elif t in ("Polygon", "MultiPolygon"):
            kinds.add("polygon")
        else:
            raise VectorError(f"shapefile cannot store {t}")
    if len(kinds) > 1:
        raise VectorError(
            f"shapefile layers are single-type; got {sorted(kinds)}")
    return kinds.pop() if kinds else "point"


def write_shapefile(path: str, fc: dict) -> None:
    """FeatureCollection -> .shp/.shx/.dbf/.prj (WGS84, 2D or Z).

    Polygons are written in spec orientation (outer CW, holes CCW);
    properties become dbf fields (str -> C, int -> N(18,0),
    float -> N(24,15), bool -> L), names truncated to the dbf's
    10-char limit with uniqueness enforced loudly.
    """
    feats = _fc_features(fc)
    geoms = [f.get("geometry") for f in feats]
    cls = _geom_class(geoms)
    any_z = any(
        g is not None and _has_z(g) for g in geoms
    )
    stype = {"point": 1, "multipoint": 8, "line": 3, "polygon": 5}[cls]
    if any_z:
        stype = {1: 11, 8: 18, 3: 13, 5: 15}[stype]

    records = []
    for f in feats:
        records.append(_shp_record_bytes(f.get("geometry"), stype))

    allc = [c for g in geoms if g is not None
            for c in _iter_points(g)]
    if allc:
        xs = [c[0] for c in allc]
        ys = [c[1] for c in allc]
        bbox = (min(xs), min(ys), max(xs), max(ys))
        zs = [c[2] for c in allc if len(c) > 2]
        zrange = (min(zs), max(zs)) if zs else (0.0, 0.0)
    else:
        bbox = (0.0, 0.0, 0.0, 0.0)
        zrange = (0.0, 0.0)

    base = path[:-4] if path.lower().endswith(".shp") else path
    total = 100 + sum(8 + len(r) for r in records)

    def _header(length_bytes: int) -> bytes:
        h = struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
        h += struct.pack(">i", length_bytes // 2)
        h += struct.pack("<ii", 1000, stype)
        h += struct.pack("<4d", *bbox)
        h += struct.pack("<4d", zrange[0], zrange[1], 0.0, 0.0)
        return h

    with open(base + ".shp", "wb") as f:
        f.write(_header(total))
        for i, r in enumerate(records):
            f.write(struct.pack(">ii", i + 1, len(r) // 2))
            f.write(r)
    with open(base + ".shx", "wb") as f:
        f.write(_header(100 + 8 * len(records)))
        off = 100
        for r in records:
            f.write(struct.pack(">ii", off // 2, len(r) // 2))
            off += 8 + len(r)
    _write_dbf(base + ".dbf", [f.get("properties") or {} for f in feats])
    with open(base + ".cpg", "w", encoding="ascii") as f:
        f.write("UTF-8")  # _write_dbf encodes C fields as utf-8
    with open(base + ".prj", "w", encoding="ascii") as f:
        f.write(_WGS84_WKT)


def _has_z(g: dict) -> bool:
    for c in _iter_points(g):
        return len(c) > 2
    return False


def _iter_points(g: dict):
    t = g["type"]
    c = g.get("coordinates")
    if t == "GeometryCollection":
        for sub in g["geometries"]:
            yield from _iter_points(sub)
        return
    if not c:
        return
    if t == "Point":
        yield c
    elif t in ("LineString", "MultiPoint"):
        yield from c
    elif t in ("Polygon", "MultiLineString"):
        for ring in c:
            yield from ring
    else:
        for poly in c:
            for ring in poly:
                yield from ring


def _shp_record_bytes(geom: dict | None, stype: int) -> bytes:
    if geom is None:
        return struct.pack("<i", 0)
    has_z = stype in _SHP_HAS_Z
    t = geom["type"]

    def _bbox(pts):
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        return struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))

    def _zblock(pts):
        zs = [(p[2] if len(p) > 2 else 0.0) for p in pts]
        return (struct.pack("<2d", min(zs), max(zs))
                + struct.pack(f"<{len(zs)}d", *zs))

    if t == "Point":
        c = geom["coordinates"]
        out = struct.pack("<i2d", stype, c[0], c[1])
        if has_z:
            out += struct.pack("<d", c[2] if len(c) > 2 else 0.0)
        return out
    if t == "MultiPoint":
        pts = geom["coordinates"]
        out = (struct.pack("<i", stype) + _bbox(pts)
               + struct.pack("<i", len(pts)))
        for p in pts:
            out += struct.pack("<2d", p[0], p[1])
        if has_z:
            out += _zblock(pts)
        return out

    if t in ("LineString", "MultiLineString"):
        parts = ([geom["coordinates"]] if t == "LineString"
                 else list(geom["coordinates"]))
    else:
        polys = ([geom["coordinates"]] if t == "Polygon"
                 else list(geom["coordinates"]))
        parts = []
        for rings in polys:
            for j, ring in enumerate(rings):
                r = list(ring)
                area = _ring_signed_area(r)
                # spec orientation: outer CW (negative), holes CCW
                if (j == 0 and area > 0) or (j > 0 and area < 0):
                    r = r[::-1]
                parts.append(r)
    flat = [p for part in parts for p in part]
    out = (struct.pack("<i", stype) + _bbox(flat)
           + struct.pack("<2i", len(parts), len(flat)))
    start = 0
    for part in parts:
        out += struct.pack("<i", start)
        start += len(part)
    for p in flat:
        out += struct.pack("<2d", p[0], p[1])
    if has_z:
        out += _zblock(flat)
    return out


def _write_dbf(path: str, rows: list[dict]) -> None:
    keys: list[str] = []
    for r in rows:
        for k in r:
            if k not in keys:
                keys.append(k)
    fields = []
    used = set()
    for k in keys:
        name = k[:10]
        if name.upper() in used:
            raise VectorError(
                f"dbf field name collision at 10 chars: '{k}'")
        used.add(name.upper())
        vals = [r.get(k) for r in rows if r.get(k) is not None]
        if all(isinstance(v, bool) for v in vals) and vals:
            fields.append((k, name, "L", 1, 0))
        elif all(isinstance(v, int) and not isinstance(v, bool)
                 for v in vals) and vals:
            fields.append((k, name, "N", 18, 0))
        elif all(isinstance(v, (int, float)) and not isinstance(v, bool)
                 for v in vals) and vals:
            fields.append((k, name, "N", 24, 15))
        else:
            width = max([len(str(v).encode("utf-8")) for v in vals] + [1])
            fields.append((k, name, "C", min(width, 254), 0))
    rec_size = 1 + sum(fl for _k, _n, _t, fl, _d in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += struct.pack("<B3BIHH20x", 0x03, 126, 1, 1, len(rows),
                       hdr_size, rec_size)
    for _k, name, ftype, flen, fdec in fields:
        out += name.encode("ascii", "replace")[:11].ljust(11, b"\x00")
        out += ftype.encode("ascii")
        out += b"\x00" * 4
        out += bytes([flen, fdec])
        out += b"\x00" * 14
    out += b"\x0d"
    for r in rows:
        out += b" "
        for k, _name, ftype, flen, fdec in fields:
            v = r.get(k)
            if ftype == "L":
                out += (b"?" if v is None else b"T" if v else b"F")
            elif ftype == "N":
                if v is None:
                    out += b" " * flen
                elif fdec == 0:
                    out += f"{int(v):>{flen}d}".encode("ascii")[-flen:]
                else:
                    out += f"{float(v):>{flen}.{fdec}f}".encode(
                        "ascii")[-flen:]
            else:
                s = ("" if v is None else str(v)).encode("utf-8")[:flen]
                out += s.ljust(flen, b" ")
    out += b"\x1a"
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(bytes(out))
    os.replace(tmp, path)


_GEOM_COLS_SQL = (
    "CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name "
    "TEXT, geometry_type_name TEXT, srs_id INTEGER, z TINYINT, m TINYINT)"
)
_V_SRS_SQL = (
    "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT, srs_id INTEGER, "
    "organization TEXT, organization_coordsys_id INTEGER, definition "
    "TEXT, description TEXT)"
)
_V_CONTENTS_SQL = (
    "CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT, "
    "identifier TEXT, description TEXT, last_change TEXT, min_x DOUBLE, "
    "min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"
)


def write_gpkg_features(path: str, fc: dict, *, layer: str = "features",
                        srs_id: int = 4326) -> None:
    """FeatureCollection -> GeoPackage vector layer (GPB + ISO WKB,
    little endian, no envelope). Property columns are derived from the
    union of feature properties (str -> TEXT, bool/int -> INTEGER,
    float -> REAL); feature ids become rowids (and the ``fid`` pk)."""
    feats = _fc_features(fc)
    keys: list[str] = []
    for f in feats:
        for k in (f.get("properties") or {}):
            if k not in keys:
                keys.append(k)
    reserved = {"fid", "geom"}
    for k in keys:
        if k.lower() in reserved:
            raise VectorError(f"property name '{k}' collides with the "
                              "fid/geom columns")

    def _sqltype(k):
        vals = [
            (f.get("properties") or {}).get(k) for f in feats
            if (f.get("properties") or {}).get(k) is not None
        ]
        if vals and all(isinstance(v, bool) for v in vals):
            return "INTEGER"
        if vals and all(isinstance(v, int) and not isinstance(v, bool)
                        for v in vals):
            return "INTEGER"
        if vals and all(isinstance(v, (int, float))
                        and not isinstance(v, bool) for v in vals):
            return "REAL"
        return "TEXT"

    cols_sql = ", ".join(
        [f'"{layer}_pk" INTEGER'] + [f'"geom" BLOB']
        + [f'"{k}" {_sqltype(k)}' for k in keys]
    )
    # NOTE: the pure-python reader maps columns positionally from the
    # CREATE sql; a real INTEGER PRIMARY KEY column stores NULL in the
    # body. We emit an ordinary first column holding the fid VALUE so
    # both gpkg.py's reader and stdlib sqlite3 see it.
    layer_sql = f'CREATE TABLE "{layer}" ({cols_sql})'

    # rowid plan: keep the collection's own integer ids when they form a
    # valid unique >=1 set (OGR's 1-based gpkg fids); otherwise enumerate
    fids = [f.get("id") for f in feats]
    use_own = (
        all(isinstance(v, int) and not isinstance(v, bool) and v >= 1
            for v in fids)
        and len(set(fids)) == len(fids) and fids
    )
    rows = []
    gtypes = set()
    xs: list[float] = []
    ys: list[float] = []
    for i, f in enumerate(feats):
        geom = f.get("geometry")
        rowid = int(fids[i]) if use_own else i + 1
        props = f.get("properties") or {}
        if geom is None:
            blob = None
        else:
            gtypes.add(geom["type"])
            blob = _make_gpb(srs_id) + geometry_to_wkb(geom)
            for c in _iter_points(geom):
                xs.append(c[0])
                ys.append(c[1])
        vals = [rowid, blob]
        for k in keys:
            v = props.get(k)
            if isinstance(v, bool):
                v = int(v)
            vals.append(v)
        rows.append((rowid, vals))
    rows.sort(key=lambda rv: rv[0])
    if len({r for r, _v in rows}) != len(rows):
        raise VectorError("duplicate feature ids for gpkg rowids")

    gtype_name = gtypes.pop().upper() if len(gtypes) == 1 else "GEOMETRY"
    bbox = ((min(xs), min(ys), max(xs), max(ys)) if xs
            else (0.0, 0.0, 0.0, 0.0))
    srs_def = _WGS84_WKT if srs_id == 4326 else "undefined"
    tables = [
        ("gpkg_spatial_ref_sys", _V_SRS_SQL, [
            (1, [f"EPSG:{srs_id}", srs_id, "EPSG", srs_id, srs_def,
                 None]),
        ]),
        ("gpkg_contents", _V_CONTENTS_SQL, [
            (1, [layer, "features", layer, None,
                 "2026-01-01T00:00:00Z", bbox[0], bbox[1], bbox[2],
                 bbox[3], srs_id]),
        ]),
        ("gpkg_geometry_columns", _GEOM_COLS_SQL, [
            (1, [layer, "geom", gtype_name, srs_id, 0, 0]),
        ]),
        (layer, layer_sql, rows),
    ]
    max_payload = max(
        (sum(len(v) if isinstance(v, (bytes, bytearray)) else 32
             for v in vals) for _r, vals in rows), default=0)
    page_size = 4096
    while page_size < max_payload + 200 and page_size < 65536:
        page_size *= 2
    _assemble_sqlite(path, _DbWriter(page_size), tables)


# ---------------------------------------------------------------------------
# Front-door dispatch
# ---------------------------------------------------------------------------


def load_features(path_or_obj, layer: str | None = None):
    """Any vector input -> GeoJSON FeatureCollection mapping.

    * mapping: passed through untouched (already GeoJSON)
    * ``*.shp``: ESRI Shapefile (+ .dbf/.prj/.cpg sidecars)
    * ``*.gpkg``: GeoPackage vector layer (``layer=`` for multi-layer)
    * anything else: parsed as a GeoJSON file
    """
    if isinstance(path_or_obj, dict):
        return path_or_obj
    p = os.fspath(path_or_obj)
    if isinstance(p, bytes):
        p = p.decode("utf-8")
    low = p.lower()
    if low.endswith(".shp"):
        return read_shapefile(p)
    if low.endswith(".gpkg"):
        return read_gpkg_features(p, layer=layer)
    import json as _json
    with open(p) as f:
        return _json.load(f)
