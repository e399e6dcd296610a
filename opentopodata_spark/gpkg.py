"""The SQLite file-format walker and writer behind GeoPackage feature
layers (vector.py reads and writes ``.gpkg`` polygons and points).

A GeoPackage is a SQLite database with OGC-standard tables. This module
implements the slice of the public SQLite file format those tables use:

Read: database header, table B-trees (leaf + interior pages), record
decoding (all serial types), overflow-page chains for large blobs,
sqlite_master discovery, naive CREATE TABLE column mapping.

Write: leaf B-trees with one interior root when rows overflow a page,
overflow chains for oversized payloads, and sqlite_master on page 1;
stdlib sqlite3 reads the result.

GeoPackage rasters are not read: ``geotiff.open_raster`` refuses
``.gpkg`` (convert to GeoTIFF).
"""

from __future__ import annotations

import os
import struct

from .geotiff import RasterOpenError, _ByteSource


class GpkgError(RasterOpenError):
    pass


# ---------------------------------------------------------------------------
# SQLite structure reader
# ---------------------------------------------------------------------------


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    """SQLite big-endian varint at pos -> (value, new_pos)."""
    v = 0
    for i in range(8):
        b = buf[pos + i]
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            return v, pos + i + 1
    return (v << 8) | buf[pos + 8], pos + 9


class _SQLite:
    def __init__(self, source: _ByteSource):
        self.src = source
        head = source.read_at(0, 100)
        if head[:16] != b"SQLite format 3\x00":
            raise GpkgError(f"'{source.path}' is not a SQLite database")
        ps = struct.unpack(">H", head[16:18])[0]
        self.page_size = 65536 if ps == 1 else ps
        if not 512 <= self.page_size <= 65536 or (
            self.page_size & (self.page_size - 1)
        ):
            raise GpkgError(
                f"'{source.path}': bad SQLite page size {ps} (not a power"
                " of two in 512..65536)"
            )
        self.reserved = head[20]
        self.usable = self.page_size - self.reserved
        enc = struct.unpack(">I", head[56:60])[0]
        if enc not in (0, 1):  # 0 = never-written db
            raise GpkgError(f"'{source.path}': non-UTF8 text encoding {enc}")

    def _page(self, n: int) -> bytes:
        return self.src.read_at((n - 1) * self.page_size, self.page_size)

    def _payload(self, page: bytes, pos: int, plen: int) -> bytes:
        """Inline + overflow-chain payload of a table-leaf cell whose
        payload begins at pos."""
        u = self.usable
        max_local = u - 35
        if plen <= max_local:
            return page[pos : pos + plen]
        min_local = ((u - 12) * 32) // 255 - 23
        local = min_local + (plen - min_local) % (u - 4)
        if local > max_local:
            local = min_local
        out = bytearray(page[pos : pos + local])
        next_pg = struct.unpack(">I", page[pos + local : pos + local + 4])[0]
        remaining = plen - local
        while remaining > 0 and next_pg:
            pg = self._page(next_pg)
            next_pg = struct.unpack(">I", pg[:4])[0]
            take = min(remaining, u - 4)
            out += pg[4 : 4 + take]
            remaining -= take
        if remaining:
            raise GpkgError(f"'{self.src.path}': truncated overflow chain")
        return bytes(out)

    def rows(self, rootpage: int):
        """Yield (rowid, values) for every row of the table at rootpage.
        Values decode per SQLite serial types; NULL -> None, blobs ->
        bytes, text -> str."""
        stack = [rootpage]
        while stack:
            page = self._page(stack.pop())
            # page 1 (sqlite_master) carries the 100-byte db header
            base = 100 if page[:16] == b"SQLite format 3\x00" else 0
            ptype = page[base]
            ncells = struct.unpack(">H", page[base + 3 : base + 5])[0]
            if ptype == 5:  # interior table
                right = struct.unpack(">I", page[base + 8 : base + 12])[0]
                arr = base + 12
                for i in range(ncells):
                    off = struct.unpack(
                        ">H", page[arr + 2 * i : arr + 2 * i + 2])[0]
                    child = struct.unpack(">I", page[off : off + 4])[0]
                    stack.append(child)
                stack.append(right)
            elif ptype == 13:  # leaf table
                arr = base + 8
                for i in range(ncells):
                    off = struct.unpack(
                        ">H", page[arr + 2 * i : arr + 2 * i + 2])[0]
                    plen, p = _varint(page, off)
                    rowid, p = _varint(page, p)
                    payload = self._payload(page, p, plen)
                    yield rowid, _record(payload)
            else:
                raise GpkgError(
                    f"'{self.src.path}': unexpected page type {ptype}"
                )

    def tables(self) -> dict[str, tuple[int, str]]:
        """name -> (rootpage, create_sql) from sqlite_master."""
        out = {}
        for _rowid, vals in self.rows(1):
            if len(vals) >= 5 and vals[0] == "table":
                out[vals[1]] = (int(vals[3]), vals[4] or "")
        return out


def _record(payload: bytes) -> list:
    hlen, p = _varint(payload, 0)
    serials = []
    while p < hlen:
        s, p = _varint(payload, p)
        serials.append(s)
    vals = []
    for s in serials:
        if s == 0:
            vals.append(None)
        elif s in (1, 2, 3, 4, 5, 6):
            n = {1: 1, 2: 2, 3: 3, 4: 4, 5: 6, 6: 8}[s]
            vals.append(int.from_bytes(payload[p : p + n], "big",
                                       signed=True))
            p += n
        elif s == 7:
            vals.append(struct.unpack(">d", payload[p : p + 8])[0])
            p += 8
        elif s == 8:
            vals.append(0)
        elif s == 9:
            vals.append(1)
        elif s >= 12 and s % 2 == 0:
            n = (s - 12) // 2
            vals.append(payload[p : p + n])
            p += n
        elif s >= 13:
            n = (s - 13) // 2
            vals.append(payload[p : p + n].decode("utf-8", "replace"))
            p += n
        else:
            raise GpkgError(f"reserved SQLite serial type {s}")
    return vals


def _columns(create_sql: str) -> list[str]:
    """Naive column-name extraction from CREATE TABLE sql."""
    inner = create_sql[create_sql.index("(") + 1 : create_sql.rindex(")")]
    cols = []
    depth = 0
    token = []
    parts = []
    for ch in inner:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(token))
            token = []
        else:
            token.append(ch)
    parts.append("".join(token))
    for part in parts:
        name = part.strip().split()[0].strip('"`[]')
        up = name.upper()
        if up in ("PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT"):
            continue
        cols.append(name)
    return cols


def _table_dicts(db: _SQLite, tables, name: str):
    if name not in tables:
        return
    root, sql = tables[name]
    cols = _columns(sql)
    for rowid, vals in db.rows(root):
        yield rowid, dict(zip(cols, vals))


# ---------------------------------------------------------------------------
# SQLite writer
# ---------------------------------------------------------------------------


def _enc_varint(v: int) -> bytes:
    if v == 0:
        return b"\x00"
    out = []
    while v:
        out.append(v & 0x7F)
        v >>= 7
    out.reverse()
    b = bytearray(x | 0x80 for x in out)
    b[-1] &= 0x7F
    return bytes(b)


def _enc_record(vals: list) -> bytes:
    serials = []
    body = bytearray()
    for v in vals:
        if v is None:
            serials.append(0)
        elif isinstance(v, bool):
            serials.append(9 if v else 8)
        elif isinstance(v, int):
            serials.append(6)
            body += struct.pack(">q", v)
        elif isinstance(v, float):
            serials.append(7)
            body += struct.pack(">d", v)
        elif isinstance(v, (bytes, bytearray)):
            serials.append(12 + 2 * len(v))
            body += bytes(v)
        else:
            b = str(v).encode("utf-8")
            serials.append(13 + 2 * len(b))
            body += b
    ser = b"".join(_enc_varint(s) for s in serials)
    for extra in (1, 2):
        hdr = _enc_varint(len(ser) + extra)
        if len(hdr) == extra:
            return hdr + ser + bytes(body)
    raise GpkgError("record header too large")


class _DbWriter:
    """Emit a SQLite db from (create_sql, rows) table definitions.
    Leaf-only B-trees with a single interior root when rows overflow one
    page; oversized payloads spill to standard overflow chains."""

    def __init__(self, page_size: int):
        self.page_size = page_size
        self.pages: list[bytearray] = []

    def _new_page(self) -> int:
        self.pages.append(bytearray(self.page_size))
        return len(self.pages)

    def _leaf(self, cells: list[bytes], first: bool = False) -> int:
        n = self._new_page()
        page = self.pages[n - 1]
        base = 100 if first else 0
        content = self.page_size
        offs = []
        for c in cells:
            content -= len(c)
            page[content : content + len(c)] = c
            offs.append(content)
        page[base] = 13
        struct.pack_into(">HHHB", page, base + 1, 0, len(cells),
                         content & 0xFFFF, 0)
        arr = base + 8
        for i, o in enumerate(offs):
            struct.pack_into(">H", page, arr + 2 * i, o)
        return n

    def _overflow(self, tail: bytes) -> int:
        """Write ``tail`` to a chain of overflow pages; returns the
        first page number."""
        u = self.page_size
        chunks = [tail[i : i + u - 4] for i in range(0, len(tail), u - 4)]
        pagenos = [self._new_page() for _ in chunks]
        for i, (pg, chunk) in enumerate(zip(pagenos, chunks)):
            page = self.pages[pg - 1]
            nxt = pagenos[i + 1] if i + 1 < len(pagenos) else 0
            struct.pack_into(">I", page, 0, nxt)
            page[4 : 4 + len(chunk)] = chunk
        return pagenos[0]

    def table(self, rows: list[tuple[int, list]], first: bool = False) -> int:
        """rows: (rowid, values). Returns rootpage number. Payloads
        larger than the inline limit spill to overflow chains (the
        standard SQLite split: min_local + remainder mod (usable-4))."""
        base_overhead = 108 if first else 8
        u = self.page_size
        max_local = u - 35
        min_local = ((u - 12) * 32) // 255 - 23
        cells = []
        for rowid, vals in rows:
            payload = _enc_record(vals)
            plen = len(payload)
            if plen <= max_local:
                cells.append(_enc_varint(plen) + _enc_varint(rowid)
                             + payload)
                continue
            local = min_local + (plen - min_local) % (u - 4)
            if local > max_local:
                local = min_local
            first_ovfl = self._overflow(payload[local:])
            cells.append(_enc_varint(plen) + _enc_varint(rowid)
                         + payload[:local]
                         + struct.pack(">I", first_ovfl))
        # greedy leaf packing
        leaves: list[tuple[int, int]] = []  # (pageno, max_rowid)
        cur: list[bytes] = []
        cur_bytes = 0
        cur_rows: list[int] = []
        idx = 0
        for (rowid, _), cell in zip(rows, cells):
            if cur and base_overhead + cur_bytes + len(cell) + 2 * (
                len(cur) + 1
            ) > self.page_size:
                leaves.append((self._leaf(cur, first and not leaves),
                               cur_rows[-1]))
                cur, cur_bytes, cur_rows = [], 0, []
            cur.append(cell)
            cur_bytes += len(cell)
            cur_rows.append(rowid)
            idx += 1
        leaves.append((self._leaf(cur, first and not leaves),
                       cur_rows[-1] if cur_rows else 0))
        if len(leaves) == 1:
            return leaves[0][0]
        if first:
            raise GpkgError("sqlite_master spilled one page (writer limit)")
        # one interior root
        n = self._new_page()
        page = self.pages[n - 1]
        page[0] = 5
        body_cells = []
        for pageno, maxrow in leaves[:-1]:
            body_cells.append(struct.pack(">I", pageno)
                              + _enc_varint(maxrow))
        content = self.page_size
        offs = []
        for c in body_cells:
            content -= len(c)
            page[content : content + len(c)] = c
            offs.append(content)
        struct.pack_into(">HHHB", page, 1, 0, len(body_cells),
                         content & 0xFFFF, 0)
        struct.pack_into(">I", page, 8, leaves[-1][0])
        for i, o in enumerate(offs):
            struct.pack_into(">H", page, 12 + 2 * i, o)
        return n

    def finish(self) -> bytes:
        buf = bytearray().join(self.pages)
        hdr = bytearray(100)
        hdr[:16] = b"SQLite format 3\x00"
        struct.pack_into(">H", hdr, 16,
                         1 if self.page_size == 65536 else self.page_size)
        hdr[18] = hdr[19] = 1  # file format versions
        hdr[21], hdr[22], hdr[23] = 64, 32, 32  # payload fractions
        struct.pack_into(">I", hdr, 28, len(self.pages))  # page count
        struct.pack_into(">I", hdr, 44, 4)  # schema format
        struct.pack_into(">I", hdr, 56, 1)  # utf-8
        struct.pack_into(">I", hdr, 96, 3045001)  # sqlite version number
        buf[:100] = hdr
        return bytes(buf)


def _assemble_sqlite(path: str, dbw: _DbWriter,
                     tables: list[tuple[str, str, list]]) -> None:
    """Build the user tables into ``dbw``, write sqlite_master on page 1,
    and atomically emit the finished database file (vector.py's
    GeoPackage feature writer)."""
    page_size = dbw.page_size
    # page 1 must be sqlite_master; write a placeholder first, build the
    # user tables, then rebuild page 1 with the real rootpages
    dbw.pages.append(bytearray(page_size))  # reserve page 1
    roots = {}
    for name, _sql, rows in tables:
        roots[name] = dbw.table(rows)
    master_rows = []
    for i, (name, sql, _rows) in enumerate(tables, start=1):
        master_rows.append((i, ["table", name, name, roots[name], sql]))
    master_cells = []
    for rowid, vals in master_rows:
        payload = _enc_record(vals)
        master_cells.append(
            _enc_varint(len(payload)) + _enc_varint(rowid) + payload)
    page1 = dbw.pages[0]
    content = page_size
    offs = []
    for c in master_cells:
        content -= len(c)
        page1[content : content + len(c)] = c
        offs.append(content)
    page1[100] = 13
    struct.pack_into(">HHHB", page1, 101, 0, len(master_cells),
                     content & 0xFFFF, 0)
    for i, o in enumerate(offs):
        struct.pack_into(">H", page1, 108 + 2 * i, o)

    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(dbw.finish())
    os.replace(tmp, path)
