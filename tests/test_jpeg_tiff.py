"""JPEG-compressed TIFF (compression 6 old-style, 7 TIFF TechNote 2) is
lossy and refused when the IFD is read, whatever the stream, the sample
depth or the JPEGTables tag; the writer has no JPEG mode.
"""

import numpy as np
import pytest

from opentopodata_spark.geotiff import write_geotiff
from tests.conftest import assert_jpeg_tiff_refused, jpeg_stream, strip_tiff_bytes


class TestWriterRoundTrip:
    def test_writer_rejects_non_uint8(self, tmp_path):
        for comp in ("jpeg", "jpeg-arith"):
            with pytest.raises(ValueError,
                               match=f"unsupported compression '{comp}'"):
                write_geotiff(str(tmp_path / "x.tif"),
                              np.zeros((8, 8), dtype=np.int16),
                              x0=0, y0=1, sx=0.1, sy=0.1, epsg=4326,
                              compression=comp)


def test_jpegtables_abbreviated_stream(tmp_path):
    """Tables hoisted into tag 347, an abbreviated stream in the strip."""
    tables = jpeg_stream(48, 64, sos=False)
    scan = jpeg_stream(48, 64, tables=False)
    blob = strip_tiff_bytes(48, 64, scan, compression=7, jpeg_tables=tables)
    assert_jpeg_tiff_refused(str(tmp_path / "abbrev.tif"), blob)


def test_old_style_jpeg_rejected(tmp_path):
    blob = strip_tiff_bytes(16, 16, jpeg_stream(16, 16), compression=6)
    assert_jpeg_tiff_refused(str(tmp_path / "old.tif"), blob, compression=6)


def test_14bit_jpeg_rejected(tmp_path):
    stream = jpeg_stream(16, 16, sof=0xC1, precision=14)
    blob = strip_tiff_bytes(16, 16, stream, compression=7, bits=14)
    assert_jpeg_tiff_refused(str(tmp_path / "b14.tif"), blob)


class TestJpeg12InTiff:
    """GDAL's JPEG12 (BitsPerSample=12 in a uint16 container): refused at
    open, and the writer cannot produce it."""

    def test_writer_rejects_overrange(self, tmp_path):
        with pytest.raises(ValueError, match="unsupported compression 'jpeg'"):
            write_geotiff(str(tmp_path / "x.tif"),
                          np.full((8, 8), 5000, dtype=np.uint16),
                          x0=0, y0=1, sx=0.1, sy=0.1, epsg=4326,
                          compression="jpeg")
        stream = jpeg_stream(8, 8, sof=0xC1, precision=12)
        blob = strip_tiff_bytes(8, 8, stream, compression=7, bits=12)
        assert_jpeg_tiff_refused(str(tmp_path / "d12.tif"), blob)
