"""GeoPackage: the SQLite walker that vector.py's feature layers use,
and the refusal of GeoPackage rasters.

``open_raster`` refuses a ``.gpkg`` by extension, local or remote,
before any byte is read or fetched, with a RasterOpenError naming
"GeoPackage raster" and "convert to GeoTIFF"; a single-file dataset
carries that reason in its ConfigError, a VRT naming a ``.gpkg`` child
is refused at open, and so is a valid feature-only GeoPackage. The walker and writer tests round-trip a
multi-page table through stdlib sqlite3 and read a hand-crafted database
whose one row spills across an overflow-page chain.
"""

from __future__ import annotations

import struct

import pytest

from opentopodata_spark import config, geotiff, gpkg
from opentopodata_spark.geotiff import RasterOpenError, _ByteSource, open_raster


def _assert_refused(msg: str):
    assert "GeoPackage raster is not supported" in msg
    assert "convert to GeoTIFF" in msg


def _refusal(path: str, *paths: str) -> str:
    """The RasterOpenError message of open_raster(path), every path
    removed from it."""
    with pytest.raises(RasterOpenError) as e:
        open_raster(path)
    msg = str(e.value)
    for p in (path,) + paths:
        msg = msg.replace(p, "")
    return msg


class TestRoundTrip:
    def test_multi_leaf_btree(self, tmp_path):
        """Enough rows that the table spills to several leaf pages under
        one interior root, plus one row past the inline limit that
        spills to an overflow chain: the walker and stdlib sqlite3 both
        read back what the writer wrote."""
        import sqlite3

        rows = [(i, [f"r{i}", bytes([i % 251]) * 40]) for i in range(1, 301)]
        rows.append((301, ["big", bytes(range(256)) * 40]))
        p = str(tmp_path / "t.db")
        gpkg._assemble_sqlite(p, gpkg._DbWriter(1024), [
            ("t", "CREATE TABLE t (name TEXT, b BLOB)", rows)])
        db = gpkg._SQLite(_ByteSource(p))
        assert sorted(db.rows(db.tables()["t"][0])) == rows
        con = sqlite3.connect(p)
        try:
            got = con.execute("SELECT rowid, name, b FROM t ORDER BY rowid")
            assert got.fetchall() == [(r, *v) for r, v in rows]
        finally:
            con.close()


class TestSqliteStructure:
    def test_overflow_chain(self, tmp_path):
        """Hand-crafted db: one row whose payload spills across two
        overflow pages (page_size 512) — real GeoPackages do this for
        every nontrivial tile blob."""
        page_size = 512
        usable = page_size
        blob = bytes(range(256)) * 6  # 1536 bytes
        payload = gpkg._enc_record(["x", blob])
        plen = len(payload)
        max_local = usable - 35
        min_local = ((usable - 12) * 32) // 255 - 23
        local = min_local + (plen - min_local) % (usable - 4)
        if local > max_local:
            local = min_local
        # pages: 1 = sqlite_master, 2 = table leaf, 3.. = overflow chain
        cell = (gpkg._enc_varint(plen) + gpkg._enc_varint(1)
                + payload[:local] + struct.pack(">I", 3))
        rest = payload[local:]
        chunks = [rest[i : i + usable - 4]
                  for i in range(0, len(rest), usable - 4)]
        assert len(chunks) >= 2  # really exercises the chain

        def leaf_page(cells, base):
            page = bytearray(page_size)
            content = page_size
            offs = []
            for c in cells:
                content -= len(c)
                page[content : content + len(c)] = c
                offs.append(content)
            page[base] = 13
            struct.pack_into(">HHHB", page, base + 1, 0, len(cells),
                             content, 0)
            for i, o in enumerate(offs):
                struct.pack_into(">H", page, base + 8 + 2 * i, o)
            return page

        master_payload = gpkg._enc_record(
            ["table", "t", "t", 2, "CREATE TABLE t (name TEXT, b BLOB)"])
        master_cell = (gpkg._enc_varint(len(master_payload))
                       + gpkg._enc_varint(1) + master_payload)
        page1 = leaf_page([master_cell], base=100)
        hdr = bytearray(100)
        hdr[:16] = b"SQLite format 3\x00"
        struct.pack_into(">H", hdr, 16, page_size)
        struct.pack_into(">I", hdr, 28, 4)
        struct.pack_into(">I", hdr, 56, 1)
        page1[:100] = hdr
        page2 = leaf_page([cell], base=0)
        ov_pages = []
        for i, ch in enumerate(chunks):
            pg = bytearray(page_size)
            nxt = 3 + i + 1 if i + 1 < len(chunks) else 0
            struct.pack_into(">I", pg, 0, nxt)
            pg[4 : 4 + len(ch)] = ch
            ov_pages.append(pg)
        p = str(tmp_path / "ov.db")
        with open(p, "wb") as f:
            f.write(bytes(page1 + page2 + b"".join(ov_pages)))

        db = gpkg._SQLite(_ByteSource(p))
        rows = list(db.rows(db.tables()["t"][0]))
        assert rows == [(1, ["x", blob])]

    def test_not_sqlite_is_loud(self, tmp_path):
        p = str(tmp_path / "x.gpkg")
        with open(p, "wb") as f:
            f.write(b"not a database at all" * 10)
        _assert_refused(_refusal(p))

    def test_bad_page_size_is_loud(self, tmp_path):
        """A header page size that is not a power of two in 512..65536
        is refused with a GpkgError naming the file, before any page is
        read (a zero page size used to fail with a bare IndexError)."""
        from opentopodata_spark.vector import load_features

        p = str(tmp_path / "z.gpkg")
        for ps in (0, 256, 1000):
            head = bytearray(b"SQLite format 3\x00" + bytes(4080))
            struct.pack_into(">H", head, 16, ps)
            with open(p, "wb") as f:
                f.write(head)
            with pytest.raises(gpkg.GpkgError) as e:
                load_features(p)
            assert p in str(e.value) and f"page size {ps}" in str(e.value)

    def test_no_raster_content_is_loud(self, tmp_path):
        """A valid GeoPackage holding only a feature layer (the kind
        vector.py writes and reads) is refused as a raster too."""
        from opentopodata_spark.vector import load_features, write_gpkg_features

        p = str(tmp_path / "d.gpkg")
        fc = {"type": "FeatureCollection", "features": [{
            "type": "Feature", "id": 1, "properties": {"name": "a"},
            "geometry": {"type": "Point", "coordinates": [10.5, 0.5]},
        }]}
        write_gpkg_features(p, fc, layer="pts")
        assert len(load_features(p)["features"]) == 1
        _assert_refused(_refusal(p))


def test_remote_gpkg_range_reads(tmp_path):
    """A .gpkg served over HTTP is refused before any request: the
    range server sees none."""
    from test_remote_raster import _serve

    with open(tmp_path / "dem.gpkg", "wb") as f:
        f.write(b"SQLite format 3\x00" + bytes(4096))
    srv, base = _serve(str(tmp_path))
    try:
        requests = geotiff.range_request_count()
        _assert_refused(_refusal(f"{base}/dem.gpkg?sig=1"))
        assert srv.requests == []
        assert geotiff.range_request_count() == requests
    finally:
        srv.shutdown()


def test_single_file_gpkg_dataset_says_why(tmp_path):
    d = tmp_path / "gp"
    d.mkdir()
    (d / "dem.gpkg").write_bytes(b"SQLite format 3\x00" + bytes(4096))
    with pytest.raises(config.ConfigError) as e:
        config.dataset_from_config("g", path=str(d))
    msg = str(e.value).replace(str(d / "dem.gpkg"), "")
    assert msg.startswith("Unsupported filetype for ")
    _assert_refused(msg)


def test_vrt_with_gpkg_child_refused_at_open(tmp_path):
    """A VRT opens its children lazily, at the first read; a .gpkg child
    is refused when the VRT itself is opened."""
    child = str(tmp_path / "dem.gpkg")
    with open(child, "wb") as f:
        f.write(b"SQLite format 3\x00" + bytes(4096))
    vrt = str(tmp_path / "m.vrt")
    with open(vrt, "w") as f:
        f.write(
            '<VRTDataset rasterXSize="64" rasterYSize="64">'
            "<SRS>EPSG:4326</SRS>"
            "<GeoTransform>10.0, 0.01, 0, 1.0, 0, -0.01</GeoTransform>"
            '<VRTRasterBand dataType="Float32" band="1"><SimpleSource>'
            '<SourceFilename relativeToVRT="1">dem.gpkg</SourceFilename>'
            "<SourceBand>1</SourceBand></SimpleSource>"
            "</VRTRasterBand></VRTDataset>"
        )
    _assert_refused(_refusal(vrt, child))
