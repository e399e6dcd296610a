"""Google encoded-polyline decode/encode (pure Python, public algorithm).

The reference accepts polyline-encoded location strings, optionally with the
Google Maps ``enc:`` prefix (/root/reference/opentopodata/api.py:302-340,
via the ``polyline`` package, which is unavailable here). Precision is 1e-5
degrees, deltas are zigzag + base-32 varint encoded with an offset of 63.

``decode`` is the scalar reference implementation; ``decode_flat`` is the
vectorized hot path used by the Arrow extraction pass: one numpy pass over
a batch of strings stored back to back (segmented varint reduceat +
per-string delta cumsum), with per-string fallback to the scalar decoder
only for varints long enough to overflow int64 (keeps Python's big-int
semantics bit-exact). ``decode_batch`` wraps it for lists of strings.
Parity is pinned by tests/test_polyline.py (random + adversarial strings).
"""

from __future__ import annotations

import numpy as np


def decode(expression: str, precision: int = 5) -> list[tuple[float, float]]:
    """Decode a polyline string into a list of (lat, lon) tuples."""
    factor = 10.0**precision
    coords: list[tuple[float, float]] = []
    lat = lon = 0
    i = 0
    n = len(expression)
    while i < n:
        values = []
        for _ in range(2):
            shift = result = 0
            while True:
                if i >= n:
                    raise ValueError("truncated polyline")
                b = ord(expression[i]) - 63
                if b < 0:
                    raise ValueError("invalid polyline character")
                i += 1
                result |= (b & 0x1F) << shift
                shift += 5
                if b < 0x20:
                    break
            values.append(~(result >> 1) if result & 1 else result >> 1)
        lat += values[0]
        lon += values[1]
        coords.append((lat / factor, lon / factor))
    return coords


def _decode_or_none(s: str, precision: int) -> list[tuple[float, float]] | None:
    try:
        return decode(s, precision)
    except (ValueError, OverflowError):  # big-int deltas past float range
        return None


def decode_batch(strings, precision: int = 5) -> list:
    """Decode many polyline strings at once; returns one entry per input:
    a list of (lat, lon) tuples, or None where ``decode`` would raise
    (truncated varint, invalid character) or the input is None/empty."""
    out: list = [None] * len(strings)
    ids = [i for i, s in enumerate(strings) if isinstance(s, str) and s]
    if not ids:
        return out
    try:
        buf = "".join(strings[i] for i in ids).encode("latin-1")
    except UnicodeEncodeError:
        for i in ids:
            out[i] = _decode_or_none(strings[i], precision)
        return out
    ends = np.cumsum([len(strings[i]) for i in ids])
    lat, lon, counts = decode_flat(np.frombuffer(buf, dtype=np.uint8), ends,
                                   precision)
    offsets = np.concatenate([[0], np.cumsum(np.maximum(counts, 0))])
    lat, lon = lat.tolist(), lon.tolist()
    for k, i in enumerate(ids):
        if counts[k] >= 0:
            lo, hi = offsets[k], offsets[k + 1]
            out[i] = list(zip(lat[lo:hi], lon[lo:hi]))
    return out


def decode_flat(raw: np.ndarray, ends: np.ndarray, precision: int = 5):
    """Decode non-empty polylines stored back to back in one uint8 array.

    ``ends[k]`` is the exclusive end offset of string k in ``raw``.
    Returns ``(lat, lon, counts)``: the coordinates of every decodable
    string, flat and in string order, and each string's point count,
    -1 where ``decode`` would fail (those strings add no coordinates).

    Vectorization: varint groups are delimited with reduceat (string
    boundaries force group breaks so one string's garbage can never leak
    into the next); zigzag + per-string segmented cumsum produce the
    coordinates. Strings containing a varint longer than 12 chars (>60
    bits — would overflow int64, while the scalar path promotes to
    Python big ints) are decoded by the scalar reference instead, so
    results are identical in every case.
    """
    factor = 10.0**precision
    n_str = len(ends)
    n_chars = int(ends[-1])

    bad = np.zeros(n_str, dtype=bool)  # per-string: decode() would raise
    if raw.min() < 63:
        # invalid character(s): map char positions -> string ids lazily
        bad[np.unique(np.searchsorted(ends, np.flatnonzero(raw < 63), "right"))] = True
    # a string whose final char is a continuation byte is truncated
    # (scalar semantics: varint ends iff (ord-63) < 32, i.e. ord < 95)
    bad |= raw[ends - 1] >= 95

    term = raw < 95
    # varint groups: break after a terminal OR at a string boundary
    new_group = np.empty(n_chars, dtype=bool)
    new_group[0] = True
    new_group[1:] = term[:-1]
    new_group[ends[:-1]] = True
    gstart = np.flatnonzero(new_group)
    glens = np.diff(np.append(gstart, n_chars))
    pos = (np.arange(n_chars, dtype=np.int32)
           - np.repeat(gstart.astype(np.int32), glens))
    # a 12th varint char shifts by 55 -> contrib < 2^60, still safe in
    # int64; anything longer goes to the scalar (big-int) path
    if int(glens.max()) > 12:
        overflow = np.flatnonzero(pos > 11)
        over_strings = np.unique(np.searchsorted(ends, overflow, "right"))
        np.minimum(pos, 11, out=pos)
    else:
        over_strings = np.empty(0, dtype=np.int64)
    # 5-bit payloads in uint8 first (1-byte passes), widen once for shifts
    contrib = (((raw - 63) & 0x1F)).astype(np.int64)
    contrib <<= 5 * pos
    vals = np.add.reduceat(contrib, gstart)
    deltas = np.where(vals & 1, ~(vals >> 1), vals >> 1)

    g_sid = np.searchsorted(ends, gstart, "right")
    counts = np.bincount(g_sid, minlength=n_str)
    bad |= counts % 2 == 1  # odd varint count: lat without lon

    # per-string group position -> lat (even) / lon (odd) alternation
    g_first = np.concatenate([[0], np.cumsum(counts)[:-1]])
    gpos = np.arange(len(gstart)) - g_first[g_sid]
    skip = bad[g_sid]
    is_lat = (gpos & 1 == 0) & ~skip
    is_lon = (gpos & 1 == 1) & ~skip

    def segmented_cumsum(d, s_of):
        if len(d) == 0:
            return np.empty(0, dtype=np.float64)
        c = np.cumsum(d)
        seg_first = np.ones(len(d), dtype=bool)
        seg_first[1:] = s_of[1:] != s_of[:-1]
        starts = np.flatnonzero(seg_first)
        seg_lens = np.diff(np.append(starts, len(d)))
        prefix = np.where(starts > 0, c[starts - 1], 0)
        return c - np.repeat(prefix, seg_lens)

    lat = segmented_cumsum(deltas[is_lat], g_sid[is_lat]) / factor
    lon = segmented_cumsum(deltas[is_lon], g_sid[is_lon]) / factor
    counts = np.bincount(g_sid[is_lat], minlength=n_str)
    counts[bad] = -1
    over_strings = over_strings[~bad[over_strings]]

    # overwrite the overflowing strings' points with the scalar decode
    # (same varint groups, so the same point count, unless the big ints
    # do not fit a float)
    offsets = np.concatenate([[0], np.cumsum(np.maximum(counts, 0))])
    keep = np.ones(len(lat), dtype=bool)
    for k in over_strings:
        lo, hi = offsets[k], offsets[k + 1]
        start = ends[k - 1] if k else 0
        pts = _decode_or_none(raw[start:ends[k]].tobytes().decode("latin-1"),
                              precision)
        if pts is None:
            counts[k] = -1
            keep[lo:hi] = False
        else:
            lat[lo:hi], lon[lo:hi] = zip(*pts)
    return lat[keep], lon[keep], counts


def encode(coords, precision: int = 5) -> str:
    """Encode (lat, lon) pairs into a polyline string."""
    factor = 10.0**precision
    out = []
    prev_lat = prev_lon = 0

    def emit(delta: int):
        v = ~(delta << 1) if delta < 0 else delta << 1
        while v >= 0x20:
            out.append(chr((0x20 | (v & 0x1F)) + 63))
            v >>= 5
        out.append(chr(v + 63))

    for lat, lon in coords:
        ilat = int(round(lat * factor))
        ilon = int(round(lon * factor))
        emit(ilat - prev_lat)
        emit(ilon - prev_lon)
        prev_lat, prev_lon = ilat, ilon
    return "".join(out)
