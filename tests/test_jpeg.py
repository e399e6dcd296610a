"""JPEG streams are not decoded: the engine has no JPEG codec.

Each malformed or unsupported stream that a decoder would have to reject
(bad precision, 12-bit baseline, arithmetic progressive, truncation, a
missing scan, no JPEG at all) is carried in a compression-7 TIFF strip,
and the TIFF is refused when it is opened, with the same message naming
the format, whatever the stream holds.
"""

from tests.conftest import assert_jpeg_tiff_refused, jpeg_stream, strip_tiff_bytes


def _refused(tmp_path, stream: bytes, bits: int = 8):
    blob = strip_tiff_bytes(16, 16, stream, compression=7, bits=bits)
    assert_jpeg_tiff_refused(str(tmp_path / "j.tif"), blob)


def test_bad_precision_rejected(tmp_path):
    _refused(tmp_path, jpeg_stream(16, 16, sof=0xC1, precision=10), bits=10)


def test_12bit_baseline_sof0_rejected(tmp_path):
    _refused(tmp_path, jpeg_stream(16, 16, sof=0xC0, precision=12), bits=12)


def test_progressive_arithmetic_sof_rejected(tmp_path):
    _refused(tmp_path, jpeg_stream(16, 16, sof=0xCA))


def test_progressive_truncated_raises(tmp_path):
    _refused(tmp_path, jpeg_stream(16, 16, sof=0xC2)[:-6])


def test_truncated_raises(tmp_path):
    _refused(tmp_path, jpeg_stream(16, 16)[:40])


def test_missing_sos(tmp_path):
    _refused(tmp_path, jpeg_stream(16, 16, sos=False))


def test_not_a_jpeg(tmp_path):
    _refused(tmp_path, b"PK\x03\x04 definitely not a jpeg stream")
