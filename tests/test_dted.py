"""DTED cells (``.dt0``/``.dt1``/``.dt2``) are refused.

``open_raster`` refuses them by extension, local or remote, before any
byte is read or fetched, with a RasterOpenError naming DTED and
"convert to GeoTIFF".
"""

import socket

import pytest

from opentopodata_spark import geotiff
from opentopodata_spark.geotiff import RasterOpenError, open_raster


def _assert_refused(path: str, *paths: str):
    with pytest.raises(RasterOpenError) as e:
        open_raster(path)
    msg = str(e.value)
    for p in (path,) + paths:
        msg = msg.replace(p, "")
    assert "DTED is not supported" in msg and "convert to GeoTIFF" in msg


class TestErrors:
    def test_not_dted(self, tmp_path):
        p = str(tmp_path / "x.dt0")
        with open(p, "wb") as f:
            f.write(b"II*\x00" + b"\x00" * 4000)
        _assert_refused(p)


def test_each_extension_refused_locally(tmp_path):
    """A user header label (the first bytes of a real cell) under every
    DTED level's name, in any case."""
    for name in ("N00E010.dt0", "N00E010.dt1", "N00E010.dt2",
                 "S01W001.DT1"):
        p = str(tmp_path / name)
        with open(p, "wb") as f:
            f.write(b"UHL1" + b"0100000E0000000N" + bytes(3500))
        _assert_refused(p)


def test_remote_dted_refused_before_any_request(monkeypatch):
    """A remote .dt1 is refused before a connection is even attempted."""
    attempts = []

    def no_network(*args, **kwargs):
        attempts.append(args)
        raise OSError("network disabled in this test")

    monkeypatch.setattr(socket, "create_connection", no_network)
    requests = geotiff.range_request_count()
    _assert_refused("http://127.0.0.1:9/e010/n00.dt1?sig=1")
    assert attempts == []
    assert geotiff.range_request_count() == requests
