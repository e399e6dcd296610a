"""Vectorized S2 cell ids in pure numpy (north rule: H3/S2 spatial index).

Implements the public S2 geometry cell-id scheme (s2geometry.io docs,
"S2 Cell Hierarchy"): lat/lon -> unit sphere -> cube face (u,v) ->
quadratic (s,t) -> leaf (i,j) -> 64-bit Hilbert-curve cell id. The
Hilbert position is built with the same 8x4-bit lookup-table recursion
the reference C++ library uses, here applied to whole numpy arrays at
once — no per-row Python, suitable for Arrow-batched pandas UDFs.

Cell ids are hierarchy-encoded: a level-L id is the leaf id with the
trailing bits replaced by a single 1 "sentinel" bit at position
2*(30-L)-1. Parent/child is pure bit arithmetic; equal ids at level L
group points into ~equal-area cells — the spatial-join / kNN bucket key.

Self-validating design (tests/test_s2.py): encode/decode round-trips,
hierarchy containment, sentinel-bit structure, monotone locality.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_POS_BITS = 2 * MAX_LEVEL + 1

# ---------------------------------------------------------------------------
# Hilbert curve lookup tables (standard construction: 4 orientations x
# 256 ij-pairs -> position + new orientation). Built once at import.
# ---------------------------------------------------------------------------

_SWAP_MASK = 0x01
_INVERT_MASK = 0x02

# order in which the Hilbert curve visits the 4 quadrants per orientation,
# and the orientation adjustment for each quadrant (s2geometry constants)
_IJ_TO_POS = np.array(
    [
        [0, 1, 3, 2],  # canonical
        [0, 3, 1, 2],  # swap
        [2, 3, 1, 0],  # invert
        [2, 1, 3, 0],  # swap | invert
    ],
    dtype=np.uint64,
)
_POS_TO_IJ = np.array(
    [
        [0, 1, 3, 2],
        [0, 2, 3, 1],
        [3, 2, 0, 1],
        [3, 1, 0, 2],
    ],
    dtype=np.uint64,
)
_POS_TO_ORIENTATION = np.array(
    [_SWAP_MASK, 0, 0, _INVERT_MASK | _SWAP_MASK], dtype=np.uint64
)


def _build_lookup():
    """lookup[(ij << 2) | orientation] = (pos << 2) | new_orientation,
    for 4-bit i x 4-bit j blocks (the per-byte recursion step)."""
    lookup_pos = np.zeros(1 << 10, dtype=np.uint64)
    lookup_ij = np.zeros(1 << 10, dtype=np.uint64)

    def init(level, i, j, orig_orientation, pos, orientation):
        if level == 4:
            ij = (i << 4) | j
            lookup_pos[(ij << 2) | orig_orientation] = (pos << 2) | orientation
            lookup_ij[(pos << 2) | orig_orientation] = (ij << 2) | orientation
            return
        for sub_pos in range(4):
            ij = int(_POS_TO_IJ[orientation][sub_pos])
            init(
                level + 1,
                (i << 1) | (ij >> 1),
                (j << 1) | (ij & 1),
                orig_orientation,
                (pos << 2) | sub_pos,
                orientation ^ int(_POS_TO_ORIENTATION[sub_pos]),
            )

    for orientation in range(4):
        init(0, 0, 0, orientation, 0, orientation)
    return lookup_pos, lookup_ij

_LOOKUP_POS, _LOOKUP_IJ = _build_lookup()


# ---------------------------------------------------------------------------
# lat/lon -> face (i, j)
# ---------------------------------------------------------------------------

def _xyz_from_latlon(lats, lons):
    phi = np.radians(np.asarray(lats, dtype=np.float64))
    theta = np.radians(np.asarray(lons, dtype=np.float64))
    cos_phi = np.cos(phi)
    return cos_phi * np.cos(theta), cos_phi * np.sin(theta), np.sin(phi)


def _face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    face = face + np.where(
        np.stack([x, y, z], 0)[face, np.arange(face.size)] < 0, 3, 0
    )
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve, we) in enumerate(
        [
            (lambda: y / x, lambda: z / x, None),   # face 0: +x
            (lambda: -x / y, lambda: z / y, None),  # face 1: +y
            (lambda: -x / z, lambda: -y / z, None), # face 2: +z
            (lambda: z / x, lambda: y / x, None),   # face 3: -x
            (lambda: z / y, lambda: -x / y, None),  # face 4: -y
            (lambda: -y / z, lambda: -x / z, None), # face 5: -z
        ]
    ):
        m = face == f
        if not m.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            u[m] = ue()[m]
            v[m] = ve()[m]
    return face.astype(np.uint64), u, v


def _st_from_uv(u):
    """S2's quadratic projection: more uniform cell areas than linear."""
    with np.errstate(invalid="ignore"):  # np.where evaluates both branches
        return np.where(
            u >= 0.0,
            0.5 * np.sqrt(1.0 + 3.0 * u),
            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u),
        )


def _ij_from_st(s):
    return np.clip(
        (s * float(1 << MAX_LEVEL)).astype(np.int64), 0, (1 << MAX_LEVEL) - 1
    ).astype(np.uint64)


# ---------------------------------------------------------------------------
# (face, i, j) <-> 64-bit cell id
# ---------------------------------------------------------------------------

def _pos_from_ij(face, i, j):
    """Hilbert position from leaf (i, j), byte-at-a-time via lookup."""
    n = np.zeros(face.shape, dtype=np.uint64)
    bits = face & np.uint64(_SWAP_MASK)  # initial orientation per face
    for k in range(7, -1, -1):
        mask = np.uint64((1 << 4) - 1)
        i_bits = (i >> np.uint64(k * 4)) & mask
        j_bits = (j >> np.uint64(k * 4)) & mask
        key = (((i_bits << np.uint64(4)) | j_bits) << np.uint64(2)) | bits
        val = _LOOKUP_POS[key]
        n = (n << np.uint64(8)) | (val >> np.uint64(2))
        bits = val & np.uint64(3)
    return n


def _ij_from_pos(face, pos):
    """Inverse of _pos_from_ij (for decode/round-trip tests)."""
    i = np.zeros(face.shape, dtype=np.uint64)
    j = np.zeros(face.shape, dtype=np.uint64)
    bits = face & np.uint64(_SWAP_MASK)
    for k in range(7, -1, -1):
        mask = np.uint64((1 << 8) - 1)
        pos_bits = (pos >> np.uint64(k * 8)) & mask
        key = (pos_bits << np.uint64(2)) | bits
        val = _LOOKUP_IJ[key]
        ij = val >> np.uint64(2)
        i = (i << np.uint64(4)) | (ij >> np.uint64(4))
        j = (j << np.uint64(4)) | (ij & np.uint64(0xF))
        bits = val & np.uint64(3)
    return i, j


def leaf_ids(lats, lons) -> np.ndarray:
    """Level-30 (leaf) S2 cell ids, vectorized. uint64 array."""
    x, y, z = _xyz_from_latlon(lats, lons)
    face, u, v = _face_uv(x, y, z)
    i = _ij_from_st(_st_from_uv(u))
    j = _ij_from_st(_st_from_uv(v))
    pos = _pos_from_ij(face, i, j)
    return (face << np.uint64(_POS_BITS)) | (pos << np.uint64(1)) | np.uint64(1)


def cell_ids(lats, lons, level: int = 12) -> np.ndarray:
    """S2 cell ids at the given level (0..30), vectorized."""
    return parent(leaf_ids(lats, lons), level)


def parent(ids, level: int) -> np.ndarray:
    """Ancestor id at a coarser level: zero trailing bits, set sentinel."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    ids = np.asarray(ids, dtype=np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return (ids & ~(lsb - np.uint64(1))) | lsb


def level_of(ids) -> np.ndarray:
    """Level encoded in the sentinel (position of lowest set bit)."""
    ids = np.asarray(ids, dtype=np.uint64)
    low = (ids & (~ids + np.uint64(1))).astype(np.uint64)
    # log2 of a power of two, via float is exact below 2^53
    return (MAX_LEVEL - (np.log2(low.astype(np.float64)) / 2)).astype(np.int64)


def face_of(ids) -> np.ndarray:
    return (np.asarray(ids, dtype=np.uint64) >> np.uint64(_POS_BITS)).astype(
        np.int64
    )


def token(ids) -> list[str]:
    """Hex tokens (trailing zeros stripped) — the canonical S2 string form."""
    out = []
    for v in np.asarray(ids, dtype=np.uint64):
        s = f"{int(v):016x}".rstrip("0")
        out.append(s or "X")
    return out


# ---------------------------------------------------------------------------
# inverse geometry (cell -> lat/lon) + hierarchical region coverer
# ---------------------------------------------------------------------------

def _uv_from_st(s):
    """Inverse of the quadratic _st_from_uv."""
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5, (4.0 * s * s - 1.0) / 3.0, (1.0 - 4.0 * (1.0 - s) ** 2) / 3.0
    )


def _xyz_from_face_uv(face, u, v):
    """Standard S2 face->xyz table (consistent with _face_uv above)."""
    one = np.ones_like(u)
    xs = [one, -u, -u, -one, v, v]
    ys = [u, one, -v, -v, -one, u]
    zs = [v, v, one, -u, -u, -one]
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f in range(6):
        m = face == f
        if m.any():
            x[m], y[m], z[m] = xs[f][m], ys[f][m], zs[f][m]
    return x, y, z


def _latlon_from_face_uv(face, u, v):
    x, y, z = _xyz_from_face_uv(face, u, v)
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def _cell_id_from_face_ij(face, i, j, level: int) -> np.ndarray:
    pos = _pos_from_ij(face.astype(np.uint64), i.astype(np.uint64), j.astype(np.uint64))
    leaf = (face.astype(np.uint64) << np.uint64(_POS_BITS)) | (
        pos << np.uint64(1)
    ) | np.uint64(1)
    return parent(leaf, level)


def _frontier_bounds(faces, ii, jj, lvl):
    """Conservative lat/lon bounds for every frontier cell: a 3x3 (s,t)
    sample grid per cell, expanded by the largest adjacent-sample
    separation — strictly conservative, so a cell containing any region
    point is never classified disjoint. Returns
    (cl_lo, cl_hi, co_lo, co_hi, full_lon): a lat band plus a circular
    lon interval [co_lo, co_hi] (co_hi may exceed 180); full_lon marks
    cells whose interval is the whole circle (pole caps)."""
    fr = (np.pi / 180.0)
    size = np.uint64(1) << np.uint64(MAX_LEVEL - lvl)  # leaf units per cell
    offs = np.array([0.0, 0.5, 1.0])
    s = (ii[:, None].astype(np.float64) + offs[None, :] * float(size)) / float(
        1 << MAX_LEVEL
    )  # (N, 3)
    t = (jj[:, None].astype(np.float64) + offs[None, :] * float(size)) / float(
        1 << MAX_LEVEL
    )
    u = _uv_from_st(s)[:, :, None] * np.ones((1, 1, 3))  # (N,3,3)
    v = _uv_from_st(t)[:, None, :] * np.ones((1, 3, 1))
    f3 = faces[:, None, None] * np.ones((1, 3, 3), dtype=np.uint64)
    lat, lon = _latlon_from_face_uv(f3.reshape(-1), u.reshape(-1), v.reshape(-1))
    lat = lat.reshape(-1, 3, 3)
    lon = lon.reshape(-1, 3, 3)

    # conservative margin: the largest angular separation between
    # adjacent samples (chord in lat / lon*cos(lat) space)
    coslat = np.cos(np.abs(lat) * fr)

    def _circ(d):
        d = np.abs(d)
        return np.minimum(d, 360.0 - d)

    dh = np.hypot(
        np.diff(lat, axis=1),
        _circ(np.diff(lon, axis=1))
        * np.minimum(coslat[:, :-1, :], coslat[:, 1:, :]),
    ).max(axis=(1, 2))
    dv = np.hypot(
        np.diff(lat, axis=2),
        _circ(np.diff(lon, axis=2))
        * np.minimum(coslat[:, :, :-1], coslat[:, :, 1:]),
    ).max(axis=(1, 2))
    margin = np.maximum(dh, dv)

    cl_lo = lat.min(axis=(1, 2)) - margin
    cl_hi = lat.max(axis=(1, 2)) + margin

    # minimal circular lon interval containing the samples: sort and
    # take the complement of the largest gap
    lo_sorted = np.sort(lon.reshape(len(ii), 9), axis=1)
    gaps = np.diff(lo_sorted, axis=1)
    wrap_gap = (lo_sorted[:, 0] + 360.0) - lo_sorted[:, -1]
    all_gaps = np.concatenate([gaps, wrap_gap[:, None]], axis=1)
    gmax = np.argmax(all_gaps, axis=1)
    width = 360.0 - all_gaps[np.arange(len(ii)), gmax]
    # interval start = the sample after the largest gap
    start = lo_sorted[np.arange(len(ii)), (gmax + 1) % 9]
    min_cos = np.maximum(
        np.cos(np.minimum(np.maximum(np.abs(cl_lo), np.abs(cl_hi)), 90.0) * fr),
        1e-9,
    )
    lon_margin = np.minimum(margin / min_cos, 360.0)
    full_lon = (width + 2 * lon_margin >= 360.0) | (cl_hi >= 90.0 - 1e-9) | (
        cl_lo <= -90.0 + 1e-9
    )
    co_lo = start - lon_margin
    co_hi = start + width + lon_margin
    return cl_lo, cl_hi, co_lo, co_hi, full_lon


def _cover_by(level: int, classify):
    """Generic recursive region coverer: subdivide from the 6 face cells,
    classifying each frontier cell's conservative bounds with
    ``classify(cl_lo, cl_hi, co_lo, co_hi, full_lon) -> (keep, inside)``.
    ``keep`` = may intersect the region (superset), ``inside`` = the
    whole cell is proven inside (subtree expanded arithmetically — keeps
    the per-level frontier O(perimeter) instead of O(area)). Returns
    (boundary (faces, ii, jj) at the target level, inside_roots list of
    (faces, ii, jj, lvl))."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    faces = np.arange(6, dtype=np.uint64)
    ii = np.zeros(6, dtype=np.uint64)
    jj = np.zeros(6, dtype=np.uint64)
    inside_roots: list[tuple[np.ndarray, np.ndarray, np.ndarray, int]] = []

    for lvl in range(level + 1):
        cl_lo, cl_hi, co_lo, co_hi, full_lon = _frontier_bounds(faces, ii, jj, lvl)
        keep, inside = classify(cl_lo, cl_hi, co_lo, co_hi, full_lon)
        inside = keep & inside
        if inside.any():
            inside_roots.append((faces[inside], ii[inside], jj[inside], lvl))
            keep = keep & ~inside

        faces, ii, jj = faces[keep], ii[keep], jj[keep]
        if lvl == level or len(faces) == 0:
            break
        # subdivide into 4 children
        half = np.uint64(1) << np.uint64(MAX_LEVEL - lvl - 1)
        di = np.array([0, 1, 0, 1], dtype=np.uint64) * half
        dj = np.array([0, 0, 1, 1], dtype=np.uint64) * half
        faces = np.repeat(faces, 4)
        ii = (np.repeat(ii, 4).reshape(-1, 4) + di).reshape(-1)
        jj = (np.repeat(jj, 4).reshape(-1, 4) + dj).reshape(-1)

    return faces, ii, jj, inside_roots


def _expand_roots(inside_roots, level: int) -> list[np.ndarray]:
    """Inside-subtree roots -> all their level-``level`` descendant ids,
    arithmetically (no geometry tests)."""
    parts = []
    for rf, ri, rj, rlvl in inside_roots:
        n = 1 << (level - rlvl)  # children per axis at the target level
        leaf = np.uint64(1) << np.uint64(MAX_LEVEL - level)
        off = np.arange(n, dtype=np.uint64) * leaf
        ef = np.repeat(rf, n * n)
        ei = (ri[:, None, None] + off[None, :, None] + np.uint64(0) * off[None, None, :]).reshape(-1)
        ej = (rj[:, None, None] + np.uint64(0) * off[None, :, None] + off[None, None, :]).reshape(-1)
        parts.append(_cell_id_from_face_ij(ef, ei, ej, level))
    return parts


def region_cover_cells(lat_lo, lat_hi, lon_lo, lon_hi, level: int) -> np.ndarray:
    """All level-``level`` cell ids whose cells may intersect the lat/lon
    rectangle — a guaranteed SUPERSET cover, built by recursive subdivision
    from the 6 face cells (the classic S2 region-coverer shape, vectorized
    over the whole frontier per level; no dense point grid, so memory is
    O(|cover|), not O((extent/cell)^2)). The rectangle is assumed
    non-antimeridian-wrapping (lon_lo <= lon_hi).
    """

    def classify(cl_lo, cl_hi, co_lo, co_hi, full_lon):
        lat_ok = (cl_hi >= lat_lo) & (cl_lo <= lat_hi)
        # circular interval [co_lo, co_hi] vs [lon_lo, lon_hi]: shift the
        # query into the interval's frame
        q_lo = (lon_lo - co_lo) % 360.0
        q_hi = q_lo + (lon_hi - lon_lo)
        span = co_hi - co_lo
        lon_ok = full_lon | (q_lo <= span) | (q_hi >= 360.0)
        keep = lat_ok & lon_ok
        # full containment (conservative bounds inside the query): the
        # whole subtree intersects — no more geometry tests needed
        shift = (co_lo - lon_lo) % 360.0
        lon_in = ~full_lon & (shift + span <= (lon_hi - lon_lo) + 1e-12)
        inside = (cl_lo >= lat_lo) & (cl_hi <= lat_hi) & lon_in
        return keep, inside

    faces, ii, jj, inside_roots = _cover_by(level, classify)
    parts = []
    if len(faces):
        parts.append(_cell_id_from_face_ij(faces, ii, jj, level))
    parts.extend(_expand_roots(inside_roots, level))
    if not parts:
        return np.empty(0, dtype=np.uint64)
    return np.unique(np.concatenate(parts))


def _corners_in_polygon(lats, lons, py, px) -> np.ndarray:
    """Vectorized even-odd ray cast: (n points) x (one polygon) -> bool.
    Same crossing rule as operators.spatial.points_in_polygon_mask."""
    y1, x1 = py, px
    y2, x2 = np.roll(py, -1), np.roll(px, -1)
    lats = lats[:, None]  # (n, 1) vs (V,)
    lons = lons[:, None]
    nz = y1 != y2
    with np.errstate(invalid="ignore", divide="ignore"):
        xint = (x2 - x1) * (lats - y1) / np.where(nz, y2 - y1, 1.0) + x1
    crosses = nz & ((y1 > lats) != (y2 > lats)) & (lons < xint)
    return (crosses.sum(axis=1) % 2).astype(bool)


def _edges_hit_rects(a, b, lo, hi, py, px) -> np.ndarray:
    """Liang-Barsky segment-vs-rect, vectorized (n rects) x (V polygon
    edges) -> bool per rect: does ANY edge touch the rect [a,b]x[lo,hi]?
    Boundary touches count as hits (conservative for the inside test)."""
    x1, y1 = px, py
    dx, dy = np.roll(px, -1) - px, np.roll(py, -1) - py
    n = len(a)
    t0 = np.zeros((n, len(px)))
    t1 = np.ones((n, len(px)))
    ok = np.ones((n, len(px)), dtype=bool)
    for p, q in (
        (-dx, x1 - a[:, None]),
        (dx, b[:, None] - x1),
        (-dy, y1 - lo[:, None]),
        (dy, hi[:, None] - y1),
    ):
        pz = p == 0.0  # (V,) parallel to this boundary
        ok &= ~(pz[None, :] & (q < 0.0))  # parallel AND outside: no hit
        with np.errstate(invalid="ignore", divide="ignore"):
            t = q / np.where(pz, 1.0, p)[None, :]
        neg = (p < 0.0)[None, :] & ~pz[None, :]
        pos = (p > 0.0)[None, :]
        t0 = np.where(neg, np.maximum(t0, t), t0)
        t1 = np.where(pos, np.minimum(t1, t), t1)
    ok &= t0 <= t1
    return ok.any(axis=1)


def polygon_cover_cells(poly_lats, poly_lons, level: int) -> tuple[np.ndarray, np.ndarray]:
    """Level-``level`` cells that may intersect the polygon (outer ring,
    unclosed, lons in [-180, 180], non-antimeridian-wrapping) ->
    (cell_ids, interior_mask). A guaranteed superset of every cell
    containing a polygon point; ``interior_mask`` marks cells PROVEN
    fully inside the polygon — their points need no exact point-in-
    polygon refinement. vs a bbox cover this drops cells disjoint from a
    concave polygon (lower candidate fan-out) and pre-answers the
    interior ones (VERDICT r02 #9).

    Classification per frontier cell (conservative lat/lon rect bounds):
    disjoint unless a polygon vertex is in the rect, a polygon edge hits
    the rect (Liang-Barsky), or a rect corner is in the polygon; fully
    inside iff no vertex in rect, no edge hit, and the corner is inside
    (then the rect is uniformly inside). Frontier work is O(perimeter *
    V) per level, chunked to bound memory."""
    py = np.asarray(poly_lats, dtype=np.float64)
    px = np.asarray(poly_lons, dtype=np.float64)
    if px.max() - px.min() > 180.0:
        # likely antimeridian-wrapping input; the ray-cast semantics
        # (shared with the SQL oracle) are frame-naive, so fall back to
        # the always-correct bbox cover with no interior claims
        ids = region_cover_cells(
            float(py.min()), float(py.max()), float(px.min()), float(px.max()),
            level,
        )
        return ids, np.zeros(len(ids), dtype=bool)
    py_min, py_max = float(py.min()), float(py.max())
    px_min, px_max = float(px.min()), float(px.max())

    def classify(cl_lo, cl_hi, co_lo, co_hi, full_lon):
        n = len(cl_lo)
        # pole caps (whole-circle lon interval): geometry tests don't
        # apply — keep on lat overlap alone, never claim interior
        keep = full_lon & (cl_hi >= py_min) & (cl_lo <= py_max)
        inside = np.zeros(n, dtype=bool)
        lat_ok = (cl_hi >= py_min) & (cl_lo <= py_max) & ~full_lon
        # the cell's lon interval lives on the circle; test the polygon
        # (fixed in [-180, 180]) against the interval shifted into frame
        for shift in (-360.0, 0.0, 360.0):
            a, b = co_lo + shift, co_hi + shift
            cand = lat_ok & (b >= px_min) & (a <= px_max)
            if not cand.any():
                continue
            idx = np.flatnonzero(cand)
            for s in range(0, len(idx), 16384):  # bound the (n, V) temps
                sub = idx[s:s + 16384]
                ra, rb = a[sub], b[sub]
                rlo, rhi = cl_lo[sub], cl_hi[sub]
                vert_in = (
                    (px >= ra[:, None]) & (px <= rb[:, None])
                    & (py >= rlo[:, None]) & (py <= rhi[:, None])
                ).any(axis=1)
                edge_hit = _edges_hit_rects(ra, rb, rlo, rhi, py, px)
                corner_in = _corners_in_polygon(rlo, ra, py, px)
                keep[sub] |= vert_in | edge_hit | corner_in
                inside[sub] |= corner_in & ~vert_in & ~edge_hit
        return keep, inside

    faces, ii, jj, inside_roots = _cover_by(level, classify)
    parts, flags = [], []
    if len(faces):
        bd = _cell_id_from_face_ij(faces, ii, jj, level)
        parts.append(bd)
        flags.append(np.zeros(len(bd), dtype=bool))
    for p in _expand_roots(inside_roots, level):
        parts.append(p)
        flags.append(np.ones(len(p), dtype=bool))
    if not parts:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=bool)
    ids = np.concatenate(parts)
    interior = np.concatenate(flags)
    order = np.argsort(ids, kind="stable")
    ids, interior = ids[order], interior[order]
    uniq = np.ones(len(ids), dtype=bool)
    uniq[1:] = ids[1:] != ids[:-1]
    return ids[uniq], interior[uniq]
