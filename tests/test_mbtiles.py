"""MBTiles rasters are refused; SQLite tile tables stay readable.

``open_raster`` refuses a ``.mbtiles`` by extension, local or remote,
before any byte is read or fetched, with a RasterOpenError naming
"MBTiles" and "convert to GeoTIFF".

An MBTiles file is a SQLite database. The stdlib ``sqlite3`` module is a
REAL SQLite build, so it stays an independent oracle for the SQLite
walker and writer in gpkg.py (behind vector.py's GeoPackage layers) in
both directions: databases sqlite3 writes in the MBTiles layouts (the
``tiles`` table, the ``map``+``images`` tables behind a view, blobs on
overflow chains, NULL blobs) read back through the walker, and the
writer's output parses with sqlite3.
"""

import socket
import sqlite3

import numpy as np
import pytest

from opentopodata_spark import geotiff, gpkg
from opentopodata_spark.geotiff import RasterOpenError, _ByteSource, open_raster

TILES_SQL = ("CREATE TABLE tiles (zoom_level INTEGER, tile_column"
             " INTEGER, tile_row INTEGER, tile_data BLOB)")


def _terrain(h, w, seed=5):
    rng = np.random.default_rng(seed)
    return rng.integers(-100, 4000, size=(h, w)).astype(np.float64)


def _tile_blob(value: float, ts: int = 64) -> bytes:
    """A raw big-endian float32 tile: 16 KiB at 64 px, past one 4 KiB
    page, so every blob row also walks an overflow chain."""
    return np.full((ts, ts), value, dtype=">f4").tobytes()


def _blob_value(blob: bytes) -> np.ndarray:
    return np.frombuffer(blob, dtype=">f4")


def _walk(path: str) -> tuple[gpkg._SQLite, dict]:
    db = gpkg._SQLite(_ByteSource(path))
    return db, db.tables()


def _table(path: str, name: str) -> list[dict]:
    db, tables = _walk(path)
    return [d for _rowid, d in gpkg._table_dicts(db, tables, name)]


def _refusal(path: str) -> str:
    with pytest.raises(RasterOpenError) as e:
        open_raster(path)
    msg = str(e.value).replace(path, "")
    assert "MBTiles is not supported" in msg and "convert to GeoTIFF" in msg
    return msg


class TestRoundTrip:
    def test_written_db_parses_with_real_sqlite(self, tmp_path):
        p = str(tmp_path / "t.mbtiles")
        n = 1 << 9
        blobs = [_terrain(128, 128, seed=s).astype(">f4").tobytes()
                 for s in (1, 2)]
        gpkg._assemble_sqlite(p, gpkg._DbWriter(4096), [
            ("metadata", "CREATE TABLE metadata (name TEXT, value TEXT)",
             [(1, ["format", "f32"]), (2, ["encoding", "terrarium"])]),
            ("tiles", TILES_SQL,
             [(i + 1, [9, 5 + i, n - 1 - 7, b]) for i, b in enumerate(blobs)]),
        ])
        con = sqlite3.connect(p)
        meta = dict(con.execute(
            "select name, value from metadata").fetchall())
        assert meta["format"] == "f32"
        assert meta["encoding"] == "terrarium"
        rows = con.execute(
            "select zoom_level, tile_column, tile_row, tile_data"
            " from tiles order by tile_column").fetchall()
        con.close()
        assert len(rows) == 2
        assert rows[0][:3] == (9, 5, n - 1 - 7)
        assert [bytes(r[3]) for r in rows] == blobs


class TestRealSqliteDbs:
    """Databases written by the REAL sqlite3 library."""

    def test_tiles_schema_and_zoom_selection(self, tmp_path):
        p = str(tmp_path / "real.mbtiles")
        con = sqlite3.connect(p)
        con.execute("CREATE TABLE metadata (name TEXT, value TEXT)")
        con.execute(TILES_SQL)
        con.executemany("INSERT INTO metadata VALUES (?, ?)",
                        [("name", "x"), ("format", "f32"),
                         ("encoding", "terrarium")])
        # two zooms: the finest (z=4) is picked by column name
        for z, val in ((3, 100.0), (4, 250.0)):
            n = 1 << z
            con.execute("INSERT INTO tiles VALUES (?, ?, ?, ?)",
                        (z, 2, n - 1 - 3, _tile_blob(val)))
        con.commit()
        con.close()
        meta = {d["name"]: d["value"] for d in _table(p, "metadata")}
        assert meta == {"name": "x", "format": "f32",
                        "encoding": "terrarium"}
        tiles = _table(p, "tiles")
        assert sorted(d["zoom_level"] for d in tiles) == [3, 4]
        finest = max(tiles, key=lambda d: d["zoom_level"])
        assert (finest["tile_column"], finest["tile_row"]) == (2, 16 - 1 - 3)
        assert np.all(_blob_value(finest["tile_data"]) == 250.0)
        z3 = min(tiles, key=lambda d: d["zoom_level"])
        assert np.all(_blob_value(z3["tile_data"]) == 100.0)

    def test_map_images_schema(self, tmp_path):
        """tippecanoe/mb-util layout: 'tiles' is a VIEW (no B-tree);
        the map + images base tables hold the rows."""
        p = str(tmp_path / "dedup.mbtiles")
        con = sqlite3.connect(p)
        con.execute("CREATE TABLE metadata (name TEXT, value TEXT)")
        con.execute("CREATE TABLE map (zoom_level INTEGER, tile_column"
                    " INTEGER, tile_row INTEGER, tile_id TEXT)")
        con.execute("CREATE TABLE images (tile_id TEXT, tile_data BLOB)")
        con.execute("CREATE VIEW tiles AS SELECT map.zoom_level,"
                    " map.tile_column, map.tile_row, images.tile_data"
                    " FROM map JOIN images ON images.tile_id ="
                    " map.tile_id")
        con.executemany("INSERT INTO metadata VALUES (?, ?)",
                        [("format", "f32"), ("encoding", "terrarium")])
        n = 1 << 5
        # two map rows sharing one deduplicated image
        con.execute("INSERT INTO images VALUES ('a', ?)",
                    (_tile_blob(77.0),))
        for col in (10, 11):
            con.execute("INSERT INTO map VALUES (5, ?, ?, 'a')",
                        (col, n - 1 - 12))
        con.commit()
        con.close()
        _db, tables = _walk(p)
        assert set(tables) == {"metadata", "map", "images"}
        images = {d["tile_id"]: d["tile_data"] for d in _table(p, "images")}
        joined = sorted(
            (d["zoom_level"], d["tile_column"], d["tile_row"],
             images[d["tile_id"]]) for d in _table(p, "map"))
        assert [r[:3] for r in joined] == [(5, 10, n - 1 - 12),
                                           (5, 11, n - 1 - 12)]
        for r in joined:
            assert np.all(_blob_value(r[3]) == 77.0)

    def test_large_db_with_overflow_pages(self, tmp_path):
        """A 256-px tile exceeds one 1 KiB SQLite page many times over:
        the payload spans an overflow chain the walker must follow."""
        p = str(tmp_path / "big.mbtiles")
        con = sqlite3.connect(p)
        con.execute("PRAGMA page_size = 1024")
        con.execute("CREATE TABLE metadata (name TEXT, value TEXT)")
        con.execute(TILES_SQL)
        con.executemany("INSERT INTO metadata VALUES (?, ?)",
                        [("format", "f32"), ("encoding", "terrarium")])
        t = _terrain(256, 256, seed=11)
        blob = t.astype(">f4").tobytes()
        assert len(blob) > 4096  # must overflow the 1 KiB pages
        n = 1 << 6
        con.execute("INSERT INTO tiles VALUES (6, 30, ?, ?)",
                    (n - 1 - 20, blob))
        con.commit()
        con.close()
        db, _tables = _walk(p)
        assert db.page_size == 1024
        [row] = _table(p, "tiles")
        assert (row["zoom_level"], row["tile_column"], row["tile_row"]) == (
            6, 30, n - 1 - 20)
        assert row["tile_data"] == blob
        assert np.array_equal(_blob_value(row["tile_data"]).reshape(t.shape),
                              t.astype(np.float32))


class TestErrors:
    def test_not_sqlite(self, tmp_path):
        p = str(tmp_path / "x.mbtiles")
        with open(p, "wb") as f:
            f.write(b"GIF89a" + b"\x00" * 600)
        _refusal(p)


def test_remote_mbtiles_refused_without_connection(monkeypatch):
    """Nothing listens on the discard port, and no socket may connect:
    the refusal comes from the extension alone."""

    def no_connection(*_a, **_k):
        raise AssertionError("open_raster tried to connect")

    monkeypatch.setattr(socket, "create_connection", no_connection)
    requests = geotiff.range_request_count()
    _refusal("http://127.0.0.1:9/x.mbtiles")
    assert geotiff.range_request_count() == requests


def test_open_is_lazy_no_blob_materialization(tmp_path, monkeypatch):
    """Refusing a real MBTiles database opens no byte source and walks
    no SQLite page: the extension alone decides."""
    p = str(tmp_path / "big.mbtiles")
    con = sqlite3.connect(p)
    con.execute(TILES_SQL)
    con.execute("INSERT INTO tiles VALUES (11, 100, 100, ?)",
                (_tile_blob(5.0, ts=128),))
    con.commit()
    con.close()
    opened = []
    real_source = geotiff._ByteSource.__init__
    real_rows = gpkg._SQLite.rows

    def counting_source(self, *a, **k):
        opened.append(a)
        return real_source(self, *a, **k)

    def counting_rows(self, root):
        opened.append(root)
        return real_rows(self, root)

    monkeypatch.setattr(geotiff._ByteSource, "__init__", counting_source)
    monkeypatch.setattr(gpkg._SQLite, "rows", counting_rows)
    _refusal(p)
    assert opened == []


def test_null_tile_data_rows_read_as_holes(tmp_path):
    """NULL tile_data placeholder rows (legal SQLite, written by some
    tools) read back as None, distinct from an empty blob, including
    when the NULL row comes first."""
    p = str(tmp_path / "nulls.mbtiles")
    con = sqlite3.connect(p)
    con.execute(TILES_SQL)
    n = 1 << 5
    blob = _tile_blob(123.0)
    # NULL row FIRST
    con.execute("INSERT INTO tiles VALUES (5, 10, ?, NULL)", (n - 1 - 3,))
    con.execute("INSERT INTO tiles VALUES (5, 11, ?, ?)",
                (n - 1 - 3, blob))
    con.execute("INSERT INTO tiles VALUES (5, 12, ?, ?)", (n - 1 - 3, b""))
    con.commit()
    con.close()
    by_col = {d["tile_column"]: d["tile_data"] for d in _table(p, "tiles")}
    assert by_col[10] is None
    assert by_col[11] == blob
    assert by_col[12] == b""
    assert np.all(_blob_value(by_col[11]) == 123.0)
