"""Minimal pure-numpy baseline JPEG codec (decode + encode).

GeoTIFF's JPEG compression (and the JPEG-in-TIFF rasters it reads)
needs a JPEG codec, and the engine depends on no PIL/libjpeg. Like
png.py, the codec is implemented from the
public specification (ITU-T T.81 / ISO 10918-1): marker segment
parsing, canonical Huffman entropy coding, 8x8 DCT-II with the standard
zigzag scan, YCbCr <-> RGB (JFIF/BT.601 full-range), and 4:4:4 / 4:2:2 /
4:2:0 chroma subsampling.

Scope (deliberately the baseline web subset):

* baseline sequential DCT (SOF0; SOF1 extended-sequential accepted — the
  decode path is identical for 8-bit), 8-bit samples
* progressive DCT (SOF2): all four T.81 G.2 scan procedures — DC/AC
  first passes and DC/AC successive-approximation refinements, spectral
  selection, EOB runs, per-scan DHT replacement, restarts
* 1-component (grayscale) and 3-component (YCbCr) images
* sampling factors up to 2x2 (covers 4:4:4, 4:2:2, 4:2:0)
* restart markers (DRI / RSTn), 0xFF00 byte stuffing
* arithmetic-coded sequential DCT (SOF9 + DAC) via jpeg_arith.py's
  T.81 Annex D QM-coder
* 12-bit, hierarchical, progressive-arithmetic (SOF10), and CMYK raise
  JpegError with a message naming the feature — they are resolvable
  seams, not silent corruption.

The encoder exists so fixtures and differential tests have deterministic
real JPEG bytes without external tools. It is two-pass: symbol
frequencies are counted, then per-table canonical Huffman codes are
built from the actual data (any spec-conformant decoder reads the DHT
segments it emits, so the stream is fully standard) — this avoids
shipping the Annex K typical tables from memory while producing
*smaller* files than they would.

Decode structure: the per-bit Huffman walk is a Python loop (entropy
coding is inherently sequential), but everything after it — dequantize,
un-zigzag, IDCT, level shift, chroma upsampling, color transform — runs
as one vectorized numpy pass over ALL blocks of a component at once, so
batch featurization of many small crawl images stays cheap.

Reference: ITU-T T.81 (public); no reference-repo analog (opentopodata
has no media path).
"""

from __future__ import annotations

import heapq
import itertools
import struct

import numpy as np

__all__ = ["JpegError", "decode_jpeg", "encode_jpeg", "is_jpeg"]


class JpegError(ValueError):
    """Malformed or unsupported JPEG payload."""


def is_jpeg(data: bytes) -> bool:
    return len(data) > 3 and bytes(data[:3]) == b"\xff\xd8\xff"


# --------------------------------------------------------------------------
# shared tables


def _zigzag_pairs() -> list[tuple[int, int]]:
    """(row, col) in zigzag scan order, generated (not transcribed):
    anti-diagonals s = r+c in increasing order; even diagonals walk
    bottom-left -> top-right, odd ones top-right -> bottom-left."""
    out: list[tuple[int, int]] = []
    for s in range(15):
        diag = [(r, s - r) for r in range(8) if 0 <= s - r < 8]
        if s % 2 == 0:
            diag.reverse()
        out.extend(diag)
    return out


_ZZ = _zigzag_pairs()
# raster index (row*8+col) for each zigzag position
_ZZ_RASTER = np.array([r * 8 + c for r, c in _ZZ], dtype=np.int64)
# zigzag position for each raster index (the inverse permutation)
_ZZ_POS = np.argsort(_ZZ_RASTER)

# Annex K.1/K.2 example quantization tables (the de-facto web defaults)
_QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.float64)
_QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.float64)


def _dct_basis() -> np.ndarray:
    """8x8 DCT-II basis C with C[u, x] = a(u) cos((2x+1)u pi/16):
    coef = C @ block @ C.T, block = C.T @ coef @ C (orthonormal)."""
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    c = np.cos((2 * x + 1) * u * np.pi / 16.0)
    c[0] *= np.sqrt(0.5)
    return c * 0.5


_C = _dct_basis()


def _idct_blocks(coef: np.ndarray) -> np.ndarray:
    """(n, 8, 8) dequantized coefficients -> (n, 8, 8) spatial samples
    (still level-shifted by -128)."""
    return np.einsum("ux,nuv,vy->nxy", _C, coef, _C, optimize=True)


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    return np.einsum("ux,nxy,vy->nuv", _C, blocks, _C, optimize=True)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's quality -> quant table convention."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000.0 / quality if quality < 50 else 200.0 - 2.0 * quality
    return np.clip(np.floor((table * scale + 50.0) / 100.0), 1, 255)


# --------------------------------------------------------------------------
# decoder


def _build_huff_decoder(counts: list[int], symbols: bytes) -> dict:
    """DHT (BITS, HUFFVAL) -> {(length, code): symbol} canonical map."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    it = iter(symbols)
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = next(it)
            code += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over de-stuffed entropy bytes."""

    __slots__ = ("bits", "pos", "n")

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8)).tolist()
        self.pos = 0
        self.n = len(self.bits)

    def read_huff(self, table: dict) -> int:
        code = 0
        pos = self.pos
        bits = self.bits
        n = self.n
        for length in range(1, 17):
            if pos >= n:
                raise JpegError("JPEG entropy stream truncated")
            code = (code << 1) | bits[pos]
            pos += 1
            sym = table.get((length, code))
            if sym is not None:
                self.pos = pos
                return sym
        raise JpegError("invalid JPEG Huffman code")

    def read_bit(self) -> int:
        if self.pos >= self.n:
            raise JpegError("JPEG entropy stream truncated")
        b = self.bits[self.pos]
        self.pos += 1
        return b

    def read_bits(self, t: int) -> int:
        """t raw bits, MSB first (EOBRUN extension bits — no EXTEND)."""
        if self.pos + t > self.n:
            raise JpegError("JPEG entropy stream truncated")
        v = 0
        bits = self.bits
        pos = self.pos
        for _ in range(t):
            v = (v << 1) | bits[pos]
            pos += 1
        self.pos = pos
        return v

    def receive_extend(self, t: int) -> int:
        if t == 0:
            return 0
        pos = self.pos
        if pos + t > self.n:
            raise JpegError("JPEG entropy stream truncated")
        v = 0
        bits = self.bits
        for _ in range(t):
            v = (v << 1) | bits[pos]
            pos += 1
        self.pos = pos
        if v < (1 << (t - 1)):  # EXTEND: negative branch
            v -= (1 << t) - 1
        return v


def _split_scan(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded bytes from `start` split at RSTn markers, with 0xFF00
    stuffing removed in each interval. Returns (intervals, pos_of_marker)
    where the marker at pos is the first non-RST marker (EOI/next seg)."""
    intervals: list[bytes] = []
    buf = bytearray()
    i = start
    n = len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            buf.append(b)
            i += 1
            continue
        if i + 1 >= n:
            break
        m = data[i + 1]
        if m == 0x00:  # stuffed FF
            buf.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # restart marker
            intervals.append(bytes(buf))
            buf = bytearray()
            i += 2
        else:  # real marker: scan over
            break
    intervals.append(bytes(buf))
    return intervals, i


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> (height, width, channels) uint8 (channels 1 or 3).

    Raises JpegError on anything outside the baseline subset.
    """
    data = bytes(data)
    if not is_jpeg(data):
        raise JpegError("not a JPEG (bad signature)")
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    dc_arith_cond: dict[int, tuple] = {}
    ac_arith_cond: dict[int, int] = {}
    frame = None
    restart_interval = 0
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise JpegError("JPEG marker sync lost")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI: progressive frames finish here
            if frame is not None and frame.get("coef_ready"):
                return _finish_progressive(frame, quant)
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise JpegError("truncated JPEG segment")
        if marker == 0xDB:  # DQT (possibly several tables)
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                j += 1
                if pq == 0:
                    tbl = np.frombuffer(body[j : j + 64], dtype=np.uint8)
                    j += 64
                else:
                    tbl = np.frombuffer(body[j : j + 128], dtype=">u2")
                    j += 128
                q = np.zeros(64, dtype=np.float64)
                q[_ZZ_RASTER] = tbl  # stored in zigzag order
                quant[tq] = q.reshape(8, 8)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9):
            # baseline / ext seq / progressive / arithmetic sequential
            precision = body[0]
            if precision not in (8, 12):
                raise JpegError(f"unsupported JPEG precision {precision}")
            if precision == 12 and marker == 0xC0:
                raise JpegError("baseline JPEG (SOF0) is 8-bit only")
            if precision == 12 and marker == 0xC2:
                raise JpegError("12-bit progressive JPEG is not supported")
            h, w = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            if ncomp not in (1, 3):
                raise JpegError(f"unsupported JPEG component count {ncomp}")
            if precision == 12 and ncomp != 1:
                raise JpegError(
                    "12-bit JPEG is supported for single-component "
                    "(grayscale raster) streams only"
                )
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise JpegError(f"unsupported sampling factors {hi}x{vi}")
                comps.append({"id": cid, "h": hi, "v": vi, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps,
                     "progressive": marker == 0xC2,
                     "arith": marker == 0xC9,
                     "precision": precision}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xCA, 0xCB, 0xCD,
                        0xCE, 0xCF):
            raise JpegError(f"unsupported JPEG SOF marker 0xFF{marker:02X}")
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            from .jpeg_arith import parse_dac

            parse_dac(body, dc_arith_cond, ac_arith_cond)
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                counts = list(body[j + 1 : j + 17])
                total = sum(counts)
                symbols = body[j + 17 : j + 17 + total]
                tbl = _build_huff_decoder(counts, symbols)
                (huff_dc if tc == 0 else huff_ac)[th] = tbl
                j += 17 + total
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("JPEG SOS before SOF")
            ns = body[0]
            scan_comps = []
            for c in range(ns):
                cs, tds = body[1 + 2 * c : 3 + 2 * c]
                comp = next(
                    (cc for cc in frame["comps"] if cc["id"] == cs), None
                )
                if comp is None:
                    raise JpegError("JPEG scan references unknown component")
                comp["dc"] = tds >> 4
                comp["ac"] = tds & 0x0F
                scan_comps.append(comp)
            scan_start = pos + 2 + seglen
            if frame.get("progressive"):
                ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
                ahal = body[3 + 2 * ns]
                pos = _decode_prog_scan(
                    data, scan_start, frame, scan_comps, quant, huff_dc,
                    huff_ac, restart_interval, ss, se, ahal >> 4,
                    ahal & 0x0F,
                )
                continue
            if len(scan_comps) != len(frame["comps"]):
                raise JpegError("partial JPEG scans not supported")
            if frame.get("arith"):
                from .jpeg_arith import decode_scan_arith

                return decode_scan_arith(
                    data, scan_start, frame, quant, dc_arith_cond,
                    ac_arith_cond, restart_interval,
                )
            return _decode_scan(
                data, scan_start, frame, quant, huff_dc, huff_ac,
                restart_interval,
            )
        # APPn / COM / anything else: skip
        pos += 2 + seglen
    # EOI right at EOF leaves fewer than 4 bytes for the loop guard
    if frame is not None and frame.get("coef_ready"):
        return _finish_progressive(frame, quant)
    raise JpegError("JPEG missing SOS")


def _prog_alloc(frame):
    """Per-component int64 coefficient planes shared across the scans of
    a progressive frame, plus the block-grid geometry both interleaved
    (DC) and single-component (AC) scans index into."""
    if frame.get("coef_ready"):
        return
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    if w == 0 or h == 0:
        raise JpegError("empty JPEG")
    if len(comps) == 1:
        comps[0]["h"] = comps[0]["v"] = 1
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    frame["hmax"], frame["vmax"] = hmax, vmax
    frame["mcux"] = -(-w // (8 * hmax))
    frame["mcuy"] = -(-h // (8 * vmax))
    for c in comps:
        c["bw"] = frame["mcux"] * c["h"]  # padded (interleaved) grid
        c["bh"] = frame["mcuy"] * c["v"]
        cw = -(-w * c["h"] // hmax)  # actual component samples
        chh = -(-h * c["v"] // vmax)
        c["cbx"] = -(-cw // 8)  # used blocks (non-interleaved scans)
        c["cby"] = -(-chh // 8)
        c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int64)
    frame["coef_ready"] = True


def _decode_prog_scan(data, start, frame, scan_comps, quant, huff_dc,
                      huff_ac, restart_interval, ss, se, ah, al):
    """One progressive scan (T.81 G.2): DC first/refine (possibly
    interleaved), AC first/refine (single component, EOB runs). Updates
    the frame's coefficient planes and returns the stream position of
    the next marker."""
    _prog_alloc(frame)
    intervals, endpos = _split_scan(data, start)
    if ss == 0:
        if se != 0:
            raise JpegError("JPEG progressive DC scan with Se != 0")
        _prog_dc_scan(intervals, frame, scan_comps, huff_dc,
                      restart_interval, ah, al)
    else:
        if len(scan_comps) != 1:
            raise JpegError("JPEG progressive AC scan must be one component")
        if not (1 <= ss <= se <= 63):
            raise JpegError("JPEG bad spectral selection")
        _prog_ac_scan(intervals, scan_comps[0], huff_ac, restart_interval,
                      ss, se, ah, al)
    return endpos


def _prog_dc_scan(intervals, frame, scan_comps, huff_dc, restart_interval,
                  ah, al):
    mcux, mcuy = frame["mcux"], frame["mcuy"]
    interleaved = len(scan_comps) > 1
    if interleaved:
        n_units = mcux * mcuy
    else:
        c0 = scan_comps[0]
        n_units = c0["cbx"] * c0["cby"]
    per = restart_interval if restart_interval else n_units
    unit = 0
    for ivl in intervals:
        if unit >= n_units:
            break
        reader = _BitReader(ivl)
        pred = {id(c): 0 for c in scan_comps}
        for _ in range(min(per, n_units - unit)):
            for c in scan_comps:
                if interleaved:
                    my, mx = divmod(unit, mcux)
                    blocks = [
                        (my * c["v"] + by) * c["bw"] + (mx * c["h"] + bx)
                        for by in range(c["v"]) for bx in range(c["h"])
                    ]
                else:
                    by, bx = divmod(unit, c["cbx"])
                    blocks = [by * c["bw"] + bx]
                for idx in blocks:
                    coef = c["coef"][idx]
                    if ah == 0:  # first pass: DC diff at precision al
                        t = reader.read_huff(huff_dc[c["dc"]])
                        if t > 11:
                            raise JpegError("invalid JPEG DC category")
                        pred[id(c)] += reader.receive_extend(t)
                        coef[0] = pred[id(c)] << al
                    else:  # refinement: one bit per block
                        if reader.read_bit():
                            coef[0] |= 1 << al
            unit += 1
    if unit != n_units:
        raise JpegError("JPEG truncated: missing DC units")


def _prog_ac_scan(intervals, c, huff_ac, restart_interval, ss, se, ah, al):
    n_units = c["cbx"] * c["cby"]
    per = restart_interval if restart_interval else n_units
    act = huff_ac[c["ac"]]
    unit = 0
    for ivl in intervals:
        if unit >= n_units:
            break
        reader = _BitReader(ivl)
        eobrun = 0
        for _ in range(min(per, n_units - unit)):
            by, bx = divmod(unit, c["cbx"])
            coef = c["coef"][by * c["bw"] + bx]
            if ah == 0:
                eobrun = _ac_first_block(reader, act, coef, ss, se, al,
                                         eobrun)
            else:
                eobrun = _ac_refine_block(reader, act, coef, ss, se, al,
                                          eobrun)
            unit += 1
    if unit != n_units:
        raise JpegError("JPEG truncated: missing AC units")


def _ac_first_block(reader, act, coef, ss, se, al, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.read_huff(act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise JpegError("JPEG AC run overflow")
        coef[k] = reader.receive_extend(s) << al
        k += 1
    return eobrun


def _ac_refine_block(reader, act, coef, ss, se, al, eobrun):
    """Successive-approximation AC refinement (T.81 G.1.2.3): newly
    nonzero coefficients arrive as +-1 at bit ``al``; coefficients
    already nonzero from earlier scans each receive one correction bit
    (history positions don't count toward the zero-run)."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.read_huff(act)
            r, s = rs >> 4, rs & 0x0F
            if s:
                if s != 1:
                    raise JpegError("invalid JPEG AC refinement size")
                s = p1 if reader.read_bit() else m1
            else:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                # r == 15 (ZRL): skip 16 zero-history positions, s == 0
            while k <= se:
                if coef[k] != 0:
                    if reader.read_bit():
                        if (int(coef[k]) & p1) == 0:
                            coef[k] += p1 if coef[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                coef[k] = s
            k += 1
    if eobrun > 0:
        while k <= se:  # correction bits continue through the EOB run
            if coef[k] != 0:
                if reader.read_bit():
                    if (int(coef[k]) & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _finish_progressive(frame, quant):
    comps = frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    w, h = frame["w"], frame["h"]
    planes = []
    for c in comps:
        if c["tq"] not in quant:
            raise JpegError("JPEG quant table missing")
        q = quant[c["tq"]].reshape(64)[_ZZ_RASTER]  # zigzag-ordered
        coef_zz = c["coef"].astype(np.float64) * q
        coef = np.zeros_like(coef_zz)
        coef[:, _ZZ_RASTER] = coef_zz
        spatial = _idct_blocks(coef.reshape(-1, 8, 8)) + 128.0
        plane = spatial.reshape(c["bh"], c["bw"], 8, 8).transpose(
            0, 2, 1, 3
        ).reshape(c["bh"] * 8, c["bw"] * 8)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        planes.append(plane[:h, :w])
    return _planes_to_image(planes)


def _planes_to_image(planes):
    if len(planes) == 1:
        out = planes[0][:, :, None]
    else:
        y, cb, cr = planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        out = np.stack([r, g, b], axis=2)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _decode_scan(data, start, frame, quant, huff_dc, huff_ac,
                 restart_interval):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    if w == 0 or h == 0:
        raise JpegError("empty JPEG")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if len(comps) == 1:
        # single-component scans are not interleaved: the MCU is one block
        hmax = vmax = comps[0]["h"] = comps[0]["v"] = 1
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    n_mcu = mcux * mcuy
    intervals, _ = _split_scan(data, start)

    for c in comps:
        if c["tq"] not in quant:
            raise JpegError("JPEG quant table missing")
        if c["dc"] not in huff_dc or c["ac"] not in huff_ac:
            raise JpegError("JPEG Huffman table missing")
        c["blocks"] = np.zeros(
            (n_mcu * c["h"] * c["v"], 64), dtype=np.float64
        )

    expected_per_interval = (
        restart_interval if restart_interval else n_mcu
    )
    mcu = 0
    for ivl in intervals:
        if mcu >= n_mcu:
            break
        reader = _BitReader(ivl)
        pred = {id(c): 0 for c in comps}
        for _ in range(min(expected_per_interval, n_mcu - mcu)):
            for c in comps:
                dct, act = huff_dc[c["dc"]], huff_ac[c["ac"]]
                nblk = c["h"] * c["v"]
                base = mcu * nblk
                for b in range(nblk):
                    coefs = c["blocks"][base + b]
                    t = reader.read_huff(dct)
                    if t > (15 if frame.get("precision", 8) == 12
                            else 11):
                        raise JpegError("invalid JPEG DC category")
                    diff = reader.receive_extend(t)
                    pred[id(c)] += diff
                    coefs[0] = pred[id(c)]
                    k = 1
                    while k < 64:
                        rs = reader.read_huff(act)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:  # ZRL: 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise JpegError("JPEG AC run overflow")
                        coefs[k] = reader.receive_extend(s)
                        k += 1
            mcu += 1
    if mcu != n_mcu:
        raise JpegError("JPEG truncated: missing MCUs")
    return _assemble_image(frame, quant, mcux, mcuy, hmax, vmax)


def _assemble_image(frame, quant, mcux, mcuy, hmax, vmax):
    """Vectorized tail shared by the Huffman and arithmetic sequential
    decoders: dequantize + un-zigzag + IDCT per component, stitch MCU
    block grids into planes, upsample, color-convert."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    shift = 2048.0 if frame.get("precision", 8) == 12 else 128.0
    planes = []
    for c in comps:
        q = quant[c["tq"]].reshape(64)[_ZZ_RASTER]  # zigzag-ordered
        coef_zz = c["blocks"] * q
        coef = np.zeros_like(coef_zz)
        coef[:, _ZZ_RASTER] = coef_zz
        spatial = _idct_blocks(coef.reshape(-1, 8, 8)) + shift
        ch, cv = c["h"], c["v"]
        # blocks are stored MCU-major, then v-major then h within the MCU
        grid = spatial.reshape(mcuy, mcux, cv, ch, 8, 8)
        plane = grid.transpose(0, 2, 4, 1, 3, 5).reshape(
            mcuy * cv * 8, mcux * ch * 8
        )
        # upsample to full resolution (sample replication)
        ry, rx = vmax // cv, hmax // ch
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        out = planes[0][:, :, None]
    else:
        y, cb, cr = planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        out = np.stack([r, g, b], axis=2)
    if shift == 2048.0:
        return np.clip(np.round(out), 0, 4095).astype(np.uint16)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# encoder


def _bit_category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _build_huff_encoder(freqs: dict[int, int]) -> tuple[list[int], bytes, dict]:
    """Symbol frequencies -> (BITS counts, HUFFVAL symbols, {sym: (code,
    len)}) canonical Huffman. Uses a plain Huffman tree (depth > 16 can't
    occur at our block counts; guarded anyway by a fixed-length fallback
    that is also spec-valid)."""
    syms = sorted(freqs)
    if len(syms) == 1:
        # a single symbol still needs a 1-bit code
        lengths = {syms[0]: 1}
    else:
        heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
        heapq.heapify(heap)
        counter = itertools.count(len(heap))
        depth: dict[int, int] = {s: 0 for s in syms}
        while len(heap) > 1:
            f1, _, g1 = heapq.heappop(heap)
            f2, _, g2 = heapq.heappop(heap)
            for s in g1 + g2:
                depth[s] += 1
            heapq.heappush(heap, (f1 + f2, next(counter), g1 + g2))
        lengths = depth
        if max(lengths.values()) > 16:  # pragma: no cover - needs 2^16 blocks
            L = max(1, (len(syms)).bit_length())
            lengths = {s: L for s in syms}
    # canonical assignment: shorter codes first, symbol order within length
    order = sorted(syms, key=lambda s: (lengths[s], s))
    counts = [0] * 16
    for s in order:
        counts[lengths[s] - 1] += 1
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = lengths[order[0]]
    for s in order:
        code <<= lengths[s] - prev_len
        prev_len = lengths[s]
        codes[s] = (code, lengths[s])
        code += 1
    return counts, bytes(order), codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill padding per spec
        return bytes(self.out)


def _component_ac_symbols(coef_zz: np.ndarray):
    """Quantized zigzag coefficients (n_blocks, 64) -> per-block AC
    symbol streams [(rs, ac_val), ...] (run/size coding + ZRL + EOB)."""
    out = []
    for i in range(coef_zz.shape[0]):
        acs = []
        run = 0
        row = coef_zz[i]
        nz = np.nonzero(row[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(row[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                acs.append((0xF0, 0))  # ZRL
                run -= 16
            acs.append(((run << 4) | _bit_category(v), v))
            run = 0
        if last < 63:
            acs.append((0x00, 0))  # EOB
        out.append(acs)
    return out


def _dc_diffs(raw_dc: np.ndarray, blocks_per_mcu: int,
              restart_interval: int) -> np.ndarray:
    """Per-block DC differences in scan order, with the predictor reset
    at every restart boundary (exactly what the decoder will undo)."""
    prev = np.concatenate([[0], raw_dc[:-1]])
    if restart_interval:
        n_mcu = len(raw_dc) // blocks_per_mcu
        resets = np.arange(restart_interval, n_mcu, restart_interval)
        prev[resets * blocks_per_mcu] = 0
    return raw_dc - prev


def encode_jpeg(array: np.ndarray, quality: int = 85,
                subsampling: str = "444",
                restart_interval: int = 0,
                progressive: bool = False,
                arithmetic: bool = False) -> bytes:
    """(h, w) or (h, w, 1|3) uint8 -> baseline (or progressive) JFIF bytes.

    subsampling: "444" (no chroma subsampling) or "420" (2x2). Grayscale
    input emits a single-component stream. restart_interval > 0 emits a
    DRI segment and RSTn markers every that many MCUs (DC predictors
    reset, bitstream byte-aligned) — what real encoders do for error
    resilience, and what exercises the decoder's interval splitting.
    progressive=True emits an SOF2 stream with a 4-stage scan script
    (DC first at Al=1, per-component AC first at Al=1, DC refinement,
    per-component AC refinement) exercising every T.81 G.1.2 procedure;
    the quantized coefficients are identical to the baseline encoding of
    the same input, so both decodes must produce identical pixels.
    arithmetic=True emits an SOF9 sequential stream entropy-coded with
    the T.81 Annex D QM-coder (explicit DAC segment with the default
    conditioning); quantized coefficients are identical to the Huffman
    encoding of the same input, so both decodes must produce identical
    pixels. A uint16 input (values < 4096, single channel) selects
    12-bit extended-sequential coding (SOF1, or SOF9 with arithmetic) —
    the deep-sample grayscale mode GDAL uses for 12-bit JPEG-in-TIFF
    rasters. Deterministic: same input -> same bytes (Huffman tables
    are derived from the data, canonically)."""
    array = np.asarray(array)
    precision = 12 if array.dtype == np.uint16 else 8
    if precision == 12:
        if array.max(initial=0) > 4095:
            raise JpegError("12-bit JPEG input must be < 4096")
        if progressive:
            raise JpegError("12-bit progressive JPEG is not supported")
    else:
        array = array.astype(np.uint8)
    if array.ndim == 2:
        array = array[:, :, None]
    if array.ndim != 3 or array.shape[2] not in (1, 3):
        raise JpegError(f"unsupported array shape {array.shape}")
    if precision == 12 and array.shape[2] != 1:
        raise JpegError(
            "12-bit JPEG is supported for single-channel input only"
        )
    if subsampling not in ("444", "420"):
        raise JpegError(f"unsupported subsampling '{subsampling}'")
    h, w, nchan = array.shape
    if h == 0 or w == 0:
        raise JpegError("empty image")
    if progressive:
        if restart_interval or arithmetic:
            raise JpegError(
                "restart markers / arithmetic coding in progressive "
                "output are not supported"
            )
        return _encode_progressive(array, quality, subsampling)

    gray = nchan == 1
    if gray:
        planes = [array[:, :, 0].astype(np.float64)]
        samps = [(1, 1)]
        qids = [0]
    else:
        rgb = array.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsampling == "420":
            samps = [(2, 2), (1, 1), (1, 1)]
            # chroma planes: average 2x2 neighborhoods (pad to even first)
            def ds(p):
                ph = p if p.shape[0] % 2 == 0 else np.vstack([p, p[-1:]])
                ph = ph if ph.shape[1] % 2 == 0 else np.hstack(
                    [ph, ph[:, -1:]]
                )
                return 0.25 * (
                    ph[0::2, 0::2] + ph[0::2, 1::2]
                    + ph[1::2, 0::2] + ph[1::2, 1::2]
                )
            planes = [y, ds(cb), ds(cr)]
        else:
            samps = [(1, 1), (1, 1), (1, 1)]
            planes = [y, cb, cr]
        qids = [0, 1, 1]

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    qtables = {0: _quality_scale(_QUANT_LUMA, quality)}
    if not gray:
        qtables[1] = _quality_scale(_QUANT_CHROMA, quality)

    # per component: pad plane to the MCU grid, FDCT, quantize, zigzag
    comp_zz = []
    for plane, (sh, sv), qid in zip(planes, samps, qids):
        ph, pw = mcuy * sv * 8, mcux * sh * 8
        padded = np.empty((ph, pw), dtype=np.float64)
        padded[: plane.shape[0], : plane.shape[1]] = plane
        padded[plane.shape[0]:, : plane.shape[1]] = plane[-1:, :]
        padded[:, plane.shape[1]:] = padded[:, plane.shape[1] - 1 : plane.shape[1]]
        # MCU-major, v-major then h inside the MCU (the scan block order)
        blocks = (
            padded.reshape(mcuy, sv, 8, mcux, sh, 8)
            .transpose(0, 3, 1, 4, 2, 5)
            .reshape(-1, 8, 8)
        ) - (2048.0 if precision == 12 else 128.0)
        coef = _fdct_blocks(blocks)
        q = qtables[qid]
        qz = np.round(coef / q).astype(np.int64).reshape(-1, 64)
        comp_zz.append(qz[:, _ZZ_RASTER])  # raster -> zigzag order
    comp_acs = (
        [] if arithmetic else
        [_component_ac_symbols(zz) for zz in comp_zz]
    )
    nblk = [sh * sv for sh, sv in samps]
    comp_dc = [
        _dc_diffs(zz[:, 0], nb, restart_interval)
        for zz, nb in zip(comp_zz, nblk)
    ]

    # entropy table classes: 0 = luma (component 0), 1 = chroma (1, 2)
    table_of = [0] + ([1, 1] if not gray else [])
    huff = {}
    if not arithmetic:
        dc_freq: dict[int, dict[int, int]] = {0: {}, 1: {}}
        ac_freq: dict[int, dict[int, int]] = {0: {}, 1: {}}
        for ci in range(len(comp_zz)):
            t = table_of[ci]
            for d in comp_dc[ci]:
                dcat = _bit_category(int(d))
                dc_freq[t][dcat] = dc_freq[t].get(dcat, 0) + 1
            for acs in comp_acs[ci]:
                for rs, _ in acs:
                    ac_freq[t][rs] = ac_freq[t].get(rs, 0) + 1

        for t in (0, 1):
            if dc_freq[t]:
                huff[("dc", t)] = _build_huff_encoder(dc_freq[t])
            if ac_freq[t]:
                huff[("ac", t)] = _build_huff_encoder(ac_freq[t])

    # ---- emit segments
    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    if precision == 8:  # JFIF is defined for 8-bit samples only
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in qtables.items():
        zz = q.reshape(64)[_ZZ_RASTER].astype(np.uint8)
        out += seg(0xDB, bytes([tq]) + zz.tobytes())
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samps[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, qids[ci]])
    if arithmetic:
        sof_marker = 0xC9
    else:
        sof_marker = 0xC1 if precision == 12 else 0xC0
    out += seg(sof_marker, sof)
    if arithmetic:
        from . import jpeg_arith

        low, up = jpeg_arith.DC_COND_DEFAULT
        dac = b""
        for t in sorted(set(table_of)):
            dac += bytes([t, (up << 4) | low])
            dac += bytes([0x10 | t, jpeg_arith.AC_COND_DEFAULT])
        out += seg(0xCC, dac)
    else:
        for (kind, t), (counts, symbols, _) in sorted(huff.items()):
            tc = 0 if kind == "dc" else 1
            out += seg(
                0xC4, bytes([(tc << 4) | t]) + bytes(counts) + symbols
            )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = table_of[ci]
        sos += bytes([ci + 1, (t << 4) | t])
    sos += b"\x00\x3f\x00"  # Ss=0, Se=63, Ah/Al=0
    out += seg(0xDA, sos)

    if arithmetic:
        n_mcu = mcux * mcuy
        segments = jpeg_arith.encode_entropy_arith(
            comp_zz, comp_dc, nblk, table_of, n_mcu, restart_interval,
            {t: jpeg_arith.DC_COND_DEFAULT for t in set(table_of)},
            {t: jpeg_arith.AC_COND_DEFAULT for t in set(table_of)},
        )
        for si, segdata in enumerate(segments):
            if si:
                out += bytes([0xFF, 0xD0 + ((si - 1) % 8)])
            out += segdata
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    # ---- entropy-coded data: interleave components per MCU
    writer = _BitWriter()
    n_mcu = mcux * mcuy
    idx = [0] * ncomp
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            out += writer.flush()  # byte-align before the marker
            writer = _BitWriter()
            out += bytes([0xFF, 0xD0 + ((m // restart_interval - 1) % 8)])
        for ci in range(ncomp):
            t = table_of[ci]
            _, _, dc_codes = huff[("dc", t)]
            _, _, ac_codes = huff[("ac", t)]
            for _b in range(nblk[ci]):
                d = int(comp_dc[ci][idx[ci]])
                acs = comp_acs[ci][idx[ci]]
                idx[ci] += 1
                dcat = _bit_category(d)
                code, ln = dc_codes[dcat]
                writer.write(code, ln)
                if dcat:
                    v = d if d >= 0 else d + (1 << dcat) - 1
                    writer.write(v, dcat)
                for rs, av in acs:
                    code, ln = ac_codes[rs]
                    writer.write(code, ln)
                    s = rs & 0x0F
                    if s:
                        v = av if av >= 0 else av + (1 << s) - 1
                        writer.write(v, s)
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# progressive encoder (SOF2; T.81 G.1.2 scan procedures)


class _SymCounter:
    """Counting emitter: first pass over a scan collects Huffman symbol
    frequencies; raw bits are ignored."""

    def __init__(self):
        self.freq: dict[int, int] = {}

    def sym(self, s: int):
        self.freq[s] = self.freq.get(s, 0) + 1

    def bits(self, v: int, n: int):
        pass


class _SymWriter:
    def __init__(self, codes: dict):
        self.writer = _BitWriter()
        self.codes = codes

    def sym(self, s: int):
        code, ln = self.codes[s]
        self.writer.write(code, ln)

    def bits(self, v: int, n: int):
        if n:
            self.writer.write(v, n)


def _enc_dc_first(em, ncomp, grids, order, table_of, al):
    """Interleaved DC-first scan: diffs of (dc >> al), MCU order.
    Symbols are (huff-table class, category) pairs so the two-pass scan
    writer can build one DC table per class."""
    pred = [0] * ncomp
    for ci, idx in order:
        v = int(grids[ci][idx, 0]) >> al  # arithmetic shift, like the spec
        diff = v - pred[ci]
        pred[ci] = v
        cat = _bit_category(diff)
        em.sym((table_of[ci], cat))
        if cat:
            em.bits(diff if diff >= 0 else diff + (1 << cat) - 1, cat)


def _enc_dc_refine(em, grids, order, al):
    for ci, idx in order:
        em.bits((int(grids[ci][idx, 0]) >> al) & 1, 1)


def _enc_ac_first(em, blocks, ss, se, al):
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            nbits = eobrun.bit_length() - 1
            em.sym(nbits << 4)
            em.bits(eobrun - (1 << nbits), nbits)
            eobrun = 0

    for coef in blocks:
        temp = []
        for k in range(ss, se + 1):
            v = int(coef[k])
            t = abs(v) >> al
            temp.append(t if v >= 0 else -t)
        nz = [i for i, t in enumerate(temp) if t]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        for i in range(nz[-1] + 1):
            t = temp[i]
            if t == 0:
                run += 1
                continue
            while run > 15:
                em.sym(0xF0)  # ZRL
                run -= 16
            s = _bit_category(t)
            em.sym((run << 4) | s)
            em.bits(t if t >= 0 else t + (1 << s) - 1, s)
            run = 0
        if nz[-1] < se - ss:
            eobrun = 1  # this block's trailing zeros start an EOB run
    flush_eob()


def _enc_ac_refine(em, blocks, ss, se, al):
    """T.81 G.1.2.3 AC refinement: newly-nonzero (+-1 at bit al) coded
    with s=1 symbols; history coefficients emit one buffered correction
    bit each, appended after the symbol (or EOBn) that flushes them."""
    eobrun = 0
    pending: list[int] = []  # correction bits owned by the open EOB run

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            nbits = eobrun.bit_length() - 1
            em.sym(nbits << 4)
            em.bits(eobrun - (1 << nbits), nbits)
            eobrun = 0
        for b in pending:
            em.bits(b, 1)
        pending.clear()

    for coef, orig in blocks:
        absv = []
        eob = -1
        for i, k in enumerate(range(ss, se + 1)):
            t = abs(int(coef[k])) >> al
            absv.append(t)
            if t == 1:
                eob = i
        run = 0
        br: list[int] = []  # correction bits since the last emitted symbol
        for i in range(len(absv)):
            t = absv[i]
            if t == 0:
                run += 1
                continue
            while run > 15 and i <= eob:
                flush_eob()
                em.sym(0xF0)
                run -= 16
                for b in br:
                    em.bits(b, 1)
                br = []
            if t > 1:  # history coefficient: one correction bit
                br.append(t & 1)
                continue
            flush_eob()
            em.sym((run << 4) | 1)
            em.bits(1 if int(orig[ss + i]) >= 0 else 0, 1)
            for b in br:
                em.bits(b, 1)
            br = []
            run = 0
        if run > 0 or br:  # trailing zeros / history-only tail -> EOB run
            eobrun += 1
            pending.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _encode_progressive(array: np.ndarray, quality: int,
                        subsampling: str) -> bytes:
    h, w, nchan = array.shape
    gray = nchan == 1
    if gray:
        planes = [array[:, :, 0].astype(np.float64)]
        samps = [(1, 1)]
        qids = [0]
    else:
        rgb = array.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsampling == "420":
            samps = [(2, 2), (1, 1), (1, 1)]

            def ds(p):
                ph = p if p.shape[0] % 2 == 0 else np.vstack([p, p[-1:]])
                ph = ph if ph.shape[1] % 2 == 0 else np.hstack(
                    [ph, ph[:, -1:]]
                )
                return 0.25 * (
                    ph[0::2, 0::2] + ph[0::2, 1::2]
                    + ph[1::2, 0::2] + ph[1::2, 1::2]
                )

            planes = [y, ds(cb), ds(cr)]
        else:
            samps = [(1, 1), (1, 1), (1, 1)]
            planes = [y, cb, cr]
        qids = [0, 1, 1]

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    qtables = {0: _quality_scale(_QUANT_LUMA, quality)}
    if not gray:
        qtables[1] = _quality_scale(_QUANT_CHROMA, quality)

    # per component: ROW-MAJOR padded block grid (bh, bw) of zigzag
    # coefficients — the layout progressive scans index — plus the used
    # (non-interleaved) block dims
    grids, used = [], []
    for plane, (sh, sv), qid in zip(planes, samps, qids):
        bh, bw = mcuy * sv, mcux * sh
        padded = np.empty((bh * 8, bw * 8), dtype=np.float64)
        padded[: plane.shape[0], : plane.shape[1]] = plane
        padded[plane.shape[0]:, : plane.shape[1]] = plane[-1:, :]
        padded[:, plane.shape[1]:] = padded[
            :, plane.shape[1] - 1 : plane.shape[1]
        ]
        blocks = (
            padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        ) - 128.0
        qz = np.round(_fdct_blocks(blocks) / qtables[qid]).astype(
            np.int64
        ).reshape(-1, 64)
        grids.append(qz[:, _ZZ_RASTER])
        used.append((-(-plane.shape[1] // 8), -(-plane.shape[0] // 8), bw))

    ncomp = len(planes)
    table_of = [0] + ([1, 1] if not gray else [])
    # interleaved MCU traversal order as (component, grid row index)
    dc_order = []
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci in range(ncomp):
            sh, sv = samps[ci]
            for by in range(sv):
                for bx in range(sh):
                    dc_order.append(
                        (ci, (my * sv + by) * (mcux * sh) + (mx * sh + bx))
                    )

    def used_blocks(ci):
        cbx, cby, bw = used[ci]
        return [grids[ci][by * bw + bx]
                for by in range(cby) for bx in range(cbx)]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in qtables.items():
        zz = q.reshape(64)[_ZZ_RASTER].astype(np.uint8)
        out += seg(0xDB, bytes([tq]) + zz.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samps[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, qids[ci]])
    out += seg(0xC2, sof)

    def run_scan(enc, tc, table_ids, scan_members, ss, se, ah, al,
                 needs_huff=True):
        """Two passes: count symbols -> optimal DHT + entropy bytes.
        ``enc`` takes an emitter; symbols may be (table_id, raw) pairs
        for interleaved DC scans using per-class tables."""
        if needs_huff:
            counter = _SymCounter()
            enc(counter)
            # split counts per table class
            per_tbl: dict[int, dict[int, int]] = {}
            for s, f in counter.freq.items():
                t, raw = s if isinstance(s, tuple) else (table_ids[0], s)
                per_tbl.setdefault(t, {})[raw] = (
                    per_tbl.setdefault(t, {}).get(raw, 0) + f
                )
            tables = {t: _build_huff_encoder(fr) for t, fr in per_tbl.items()}
            for t, (counts, symbols, _) in sorted(tables.items()):
                out.extend(seg(0xC4, bytes([(tc << 4) | t]) + bytes(counts)
                               + symbols))
            codes = {}
            for s in counter.freq:
                t, raw = s if isinstance(s, tuple) else (table_ids[0], s)
                codes[s] = tables[t][2][raw]
            wr = _SymWriter(codes)
        else:
            wr = _SymWriter({})
        sos = bytes([len(scan_members)])
        for ci in scan_members:
            t = table_of[ci]
            sos += bytes([ci + 1, (t << 4) | t])
        sos += bytes([ss, se, (ah << 4) | al])
        out.extend(seg(0xDA, sos))
        enc(wr)
        out.extend(wr.writer.flush())

    all_comps = list(range(ncomp))
    # scan 1: DC first, interleaved, Al=1 (symbols carry the table class)
    run_scan(
        lambda em: _enc_dc_first(em, ncomp, grids, dc_order, table_of, 1),
        0, [0], all_comps, 0, 0, 0, 1,
    )
    # scans 2..: AC first per component, Al=1
    for ci in all_comps:
        blocks = used_blocks(ci)
        run_scan(
            lambda em, b=blocks: _enc_ac_first(em, b, 1, 63, 1),
            1, [table_of[ci]], [ci], 1, 63, 0, 1,
        )
    # DC refinement (no Huffman symbols, raw bits only)
    run_scan(
        lambda em: _enc_dc_refine(em, grids, dc_order, 0),
        0, [0], all_comps, 0, 0, 1, 0, needs_huff=False,
    )
    # AC refinement per component
    for ci in all_comps:
        blocks = [(b, b) for b in used_blocks(ci)]
        run_scan(
            lambda em, b=blocks: _enc_ac_refine(em, b, 1, 63, 0),
            1, [table_of[ci]], [ci], 1, 63, 1, 0,
        )
    out += b"\xff\xd9"
    return bytes(out)
