"""Arithmetic-coded JPEG (SOF9, with DAC conditioning segments) is not
decoded: a compression-7 TIFF carrying it is refused at open, before any
DAC segment is parsed, so even invalid DAC tables give the same message
naming the format.
"""

import struct

from tests.conftest import assert_jpeg_tiff_refused, jpeg_stream, strip_tiff_bytes


def _dac(body: bytes) -> bytes:
    return b"\xff\xcc" + struct.pack(">H", 2 + len(body)) + body


class TestDacValidation:
    def _refused(self, tmp_path, dac_body: bytes):
        stream = jpeg_stream(16, 16, sof=0xC9, segments=_dac(dac_body))
        blob = strip_tiff_bytes(16, 16, stream, compression=7)
        assert_jpeg_tiff_refused(str(tmp_path / "a.tif"), blob)

    def test_bad_kx(self, tmp_path):
        self._refused(tmp_path, bytes([0x10, 0]))

    def test_l_greater_than_u(self, tmp_path):
        self._refused(tmp_path, bytes([0x00, 0x0F]))

    def test_odd_length(self, tmp_path):
        self._refused(tmp_path, b"\x00")
