"""The web-terrain tile exporter is gone (DEMs arrive prepared); the
SQLite writer its MBTiles sink used stays, behind vector.py's GeoPackage
layers, and keeps the sink's oversized-tile regression."""

import sqlite3

import numpy as np

from opentopodata_spark import gpkg
from opentopodata_spark.geotiff import _ByteSource


def test_mbtiles_sink_handles_oversized_tiles(tmp_path):
    """Regression: a payload past 64 KiB spills to SQLite overflow
    chains in the writer at the largest page size (65536, stored as 1
    in the header) — the sink previously refused such tiles."""
    rng = np.random.default_rng(17)
    grid = rng.uniform(-100.0, 4000.0, size=(256, 256))  # fractional m
    blob = grid.astype(">f4").tobytes()
    assert len(blob) > 65536
    p = str(tmp_path / "big.mbtiles")
    gpkg._assemble_sqlite(p, gpkg._DbWriter(65536), [
        ("tiles",
         "CREATE TABLE tiles (zoom_level INTEGER, tile_column INTEGER,"
         " tile_row INTEGER, tile_data BLOB)",
         [(1, [10, 5, 6, blob])]),
    ])
    con = sqlite3.connect(p)
    got = con.execute("select tile_data from tiles").fetchone()[0]
    con.close()
    assert bytes(got) == blob  # real SQLite follows our chains
    db = gpkg._SQLite(_ByteSource(p))
    assert db.page_size == 65536
    [(_rowid, vals)] = db.rows(db.tables()["tiles"][0])
    assert vals == [10, 5, 6, blob]
    back = np.frombuffer(vals[3], dtype=">f4").reshape(grid.shape)
    assert np.abs(back - grid).max() <= 1 / 512
