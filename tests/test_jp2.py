"""JPEG 2000 (.jp2 GeoJP2 containers and raw .j2k codestreams) is refused
by ``open_raster`` before the file is read: valid, truncated, unsupported
and non-JPEG-2000 bytes under those names all give the same
RasterOpenError naming the format and "convert to GeoTIFF".
"""

import struct

import pytest

from opentopodata_spark.geotiff import RasterOpenError, open_raster


def _codestream(h=32, w=32, components=1, layers=1, transform=1) -> bytes:
    """Main-header skeleton of a T.800 codestream: SOC, SIZ, COD, EOC."""
    siz = struct.pack(">HIIIIIIIIH", 0, w, h, 0, 0, w, h, 0, 0, components)
    siz += bytes([15, 1, 1]) * components  # 16-bit signed, no subsampling
    cod = struct.pack(">BBHBBBBBB", 0, 0, layers, 0, 3, 4, 4, 0, transform)
    return (b"\xff\x4f"
            + b"\xff\x51" + struct.pack(">H", 2 + len(siz)) + siz
            + b"\xff\x52" + struct.pack(">H", 2 + len(cod)) + cod
            + b"\xff\xd9")


def _box(kind: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + kind + body


def _jp2(cs: bytes) -> bytes:
    return (_box(b"jP  ", b"\r\n\x87\n")
            + _box(b"ftyp", b"jp2 \x00\x00\x00\x00jp2 ")
            + _box(b"jp2c", cs))


def _refused(path, blob: bytes):
    with open(path, "wb") as f:
        f.write(blob)
    with pytest.raises(RasterOpenError) as e:
        open_raster(str(path))
    msg = str(e.value).replace(str(path), "")
    assert "JPEG 2000 is not supported" in msg and "convert to GeoTIFF" in msg


class TestCodestreamLossless:
    def test_truncated_body_raises(self, tmp_path):
        _refused(tmp_path / "t.jp2", _jp2(_codestream())[:-9])


class TestJp2Container:
    def test_open_raster_dispatch(self, tmp_path):
        _refused(tmp_path / "d.jp2", _jp2(_codestream()))

    def test_raw_codestream_without_geo_rejected(self, tmp_path):
        _refused(tmp_path / "raw.j2k", _codestream(16, 16))

    def test_not_a_jp2(self, tmp_path):
        _refused(tmp_path / "n.jp2", b"PK\x03\x04 definitely not a jp2 file")


class TestUnsupportedLoud:
    def test_multicomponent_rejected(self, tmp_path):
        _refused(tmp_path / "c.jp2", _jp2(_codestream(components=3)))

    def test_97_transform_rejected(self, tmp_path):
        _refused(tmp_path / "i.jp2", _jp2(_codestream(transform=0)))

    def test_multilayer_rejected(self, tmp_path):
        _refused(tmp_path / "l.jp2", _jp2(_codestream(layers=2)))
