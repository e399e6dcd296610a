"""netCDF (classic and netCDF4) and HDF5 rasters are refused.

``open_raster`` refuses ``.nc``, ``.nc4``, ``.h5`` and ``.hdf5`` by
extension, local or remote, before any byte is read or fetched, with a
RasterOpenError naming the format and "convert to GeoTIFF". One
extension names both netCDF wire formats (classic ``CDF`` and netCDF4 =
HDF5), so the magic bytes are never read. A single-file dataset carries
that reason in its ConfigError, and a VRT naming a ``.nc`` child is
refused at open.
"""

from __future__ import annotations

import socket

import pytest

from opentopodata_spark import config, geotiff
from opentopodata_spark.geotiff import RasterOpenError, open_raster

_HDF5_MAGIC = b"\x89HDF\r\n\x1a\n"


def _refusal(path: str, *paths: str) -> str:
    """The RasterOpenError message of open_raster(path), every path
    removed from it."""
    with pytest.raises(RasterOpenError) as e:
        open_raster(path)
    msg = str(e.value)
    for p in (path,) + paths:
        msg = msg.replace(p, "")
    return msg


def _assert_refused(msg: str, fmt: str):
    assert f"{fmt} is not supported" in msg
    assert "convert to GeoTIFF" in msg


class TestCacheAndStructure:
    def test_not_hdf5_is_loud(self, tmp_path):
        p = str(tmp_path / "x.h5")
        with open(p, "wb") as f:
            f.write(b"definitely not hdf5 content")
        _assert_refused(_refusal(p), "HDF5")


def test_each_extension_refused_locally(tmp_path):
    """Valid-looking headers under every cut name, in any case."""
    for name, fmt in (("a.nc", "netCDF"), ("b.nc4", "netCDF"),
                      ("C.NC", "netCDF"), ("d.h5", "HDF5"),
                      ("e.hdf5", "HDF5")):
        for magic in (_HDF5_MAGIC, b"CDF\x01"):
            p = str(tmp_path / name)
            with open(p, "wb") as f:
                f.write(magic + bytes(512))
            _assert_refused(_refusal(p), fmt)


def test_remote_netcdf_refused_before_any_request(monkeypatch):
    """A remote .nc is refused before a connection is even attempted."""
    attempts = []

    def no_network(*args, **kwargs):
        attempts.append(args)
        raise OSError("network disabled in this test")

    monkeypatch.setattr(socket, "create_connection", no_network)
    requests = geotiff.range_request_count()
    for url, fmt in (("http://127.0.0.1:9/dem.nc?sig=1", "netCDF"),
                     ("https://127.0.0.1:9/dem.hdf5", "HDF5")):
        _assert_refused(_refusal(url), fmt)
    assert attempts == []
    assert geotiff.range_request_count() == requests


def test_vrt_with_netcdf_child_refused_at_open(tmp_path):
    """A VRT opens its children lazily, at the first read; a .nc child
    is refused when the VRT itself is opened."""
    child = str(tmp_path / "dem.nc")
    with open(child, "wb") as f:
        f.write(b"CDF\x01" + bytes(512))
    vrt = str(tmp_path / "m.vrt")
    with open(vrt, "w") as f:
        f.write(
            '<VRTDataset rasterXSize="64" rasterYSize="64">'
            "<SRS>EPSG:4326</SRS>"
            "<GeoTransform>10.0, 0.01, 0, 1.0, 0, -0.01</GeoTransform>"
            '<VRTRasterBand dataType="Float32" band="1"><SimpleSource>'
            '<SourceFilename relativeToVRT="1">dem.nc</SourceFilename>'
            "<SourceBand>1</SourceBand></SimpleSource>"
            "</VRTRasterBand></VRTDataset>"
        )
    _assert_refused(_refusal(vrt, child), "netCDF")


def test_single_file_netcdf_dataset_says_why(tmp_path):
    d = tmp_path / "nc"
    d.mkdir()
    (d / "etopo1.nc").write_bytes(b"CDF\x01" + bytes(512))
    with pytest.raises(config.ConfigError) as e:
        config.dataset_from_config("n", path=str(d))
    msg = str(e.value).replace(str(d / "etopo1.nc"), "")
    assert msg.startswith("Unsupported filetype for ")
    _assert_refused(msg, "netCDF")
