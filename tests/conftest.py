"""Shared fixtures: synthetic raster corpus, dataset registry, SparkSession."""

from __future__ import annotations

import os

import pytest

FIXTURE_ROOT = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".fixture_cache")


@pytest.fixture(scope="session")
def raster_root() -> str:
    from opentopodata_spark import fixtures

    fixtures.make_all_rasters(FIXTURE_ROOT)
    return FIXTURE_ROOT


@pytest.fixture(scope="session")
def compressed_raster_root() -> str:
    """Same corpus written DEFLATE/LZW-compressed, tiled/stripped, with
    predictors, plus a zipped-SRTM dataset (see fixtures.COMPRESSED_STYLES)."""
    from opentopodata_spark import fixtures

    root = FIXTURE_ROOT + "_compressed"
    fixtures.make_all_rasters(
        root, styles=fixtures.COMPRESSED_STYLES, with_hgt_zip=True
    )
    return root


@pytest.fixture(scope="session")
def datasets(raster_root):
    from opentopodata_spark import config

    return config.load_datasets(os.path.join(raster_root, "test-config.yaml"))


@pytest.fixture(scope="session")
def documents_path(raster_root) -> str:
    from opentopodata_spark import fixtures

    path = os.path.join(raster_root, "documents_test.parquet")
    if not os.path.exists(path):
        fixtures.make_documents(path, n_docs=400, seed=42)
    return path


@pytest.fixture(scope="session")
def spark():
    from opentopodata_spark.session import get_spark

    spark = get_spark(app_name="opentopodata-spark-tests", cores=4, shuffle_partitions=8)
    yield spark


def run_via_spark_submit(tmp_path, job_module: str, job_args: list[str]):
    """Launch a jobs/<module> CLI through a REAL `spark-submit --py-files`
    subprocess: fresh JVM, cwd outside the repo, PYTHONPATH stripped so
    the package resolves only from the archive, get_spark deferring to
    spark-submit's --master. Returns the CompletedProcess."""
    import shutil
    import subprocess

    from opentopodata_spark.session import package_zip

    launcher = tmp_path / f"launch_{job_module}.py"
    launcher.write_text(
        "import sys\n"
        f"from opentopodata_spark.jobs import {job_module}\n"
        f"sys.exit({job_module}.main(sys.argv[1:]))\n"
    )
    zip_path = str(tmp_path / "otds.zip")
    shutil.copyfile(package_zip(), zip_path)
    env = {k: v for k, v in os.environ.items()}
    env.pop("PYTHONPATH", None)
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    return subprocess.run(
        [spark_submit, "--master", "local[2]", "--py-files", zip_path,
         str(launcher), *job_args, "--master", "external"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300,
    )


def jpeg_stream(h: int, w: int, *, sof: int = 0xC0, precision: int = 8,
                segments: bytes = b"", tables: bool = True,
                sos: bool = True) -> bytes:
    """Marker skeleton of a one-component JPEG: SOI, DQT (unless
    ``tables`` is False, as in an abbreviated TIFF stream), SOFn with the
    given marker and precision, ``segments`` (e.g. a DAC), SOS (unless
    ``sos`` is False), a few entropy-coded bytes and EOI."""
    import struct

    out = b"\xff\xd8"
    if tables:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
    out += bytes([0xFF, sof]) + struct.pack(
        ">HBHHBBBB", 11, precision, h, w, 1, 1, 0x11, 0)
    out += segments
    if sos:
        out += b"\xff\xda" + struct.pack(">HBBBBBB", 8, 1, 1, 0, 0, 63, 0)
        out += b"\x12\x34\x56\x78"
    return out + b"\xff\xd9"


def strip_tiff_bytes(h: int, w: int, strip: bytes, *, compression: int,
                     bits: int = 8, jpeg_tables: bytes | None = None) -> bytes:
    """Hand-assemble a little-endian single-strip EPSG:4326 GeoTIFF whose
    one strip is ``strip`` stored verbatim under the given Compression
    tag, with JPEGTables (tag 347) when ``jpeg_tables`` is given.
    Independent of the package's writer."""
    import struct

    entries = []  # (tag, ftype, count, inline payload or trailer offset)
    trailer = bytearray()

    def add(tag, ftype, count, payload: bytes):
        entries.append((tag, ftype, count, payload))

    def add_outline(tag, ftype, count, data: bytes):
        add(tag, ftype, count, b"OFF_" + struct.pack("<I", len(trailer)))
        trailer.extend(data + b"\x00" * (len(data) % 2))

    add(256, 3, 1, struct.pack("<HH", w, 0))            # width
    add(257, 3, 1, struct.pack("<HH", h, 0))            # height
    add(258, 3, 1, struct.pack("<HH", bits, 0))         # bits per sample
    add(259, 3, 1, struct.pack("<HH", compression, 0))  # compression
    add(262, 3, 1, struct.pack("<HH", 1, 0))            # photometric
    add(273, 4, 1, b"")                                 # strip offset
    add(277, 3, 1, struct.pack("<HH", 1, 0))            # samples/pixel
    add(278, 3, 1, struct.pack("<HH", h, 0))            # rows/strip
    add(279, 4, 1, struct.pack("<I", len(strip)))       # strip byte count
    if jpeg_tables is not None:
        add_outline(347, 7, len(jpeg_tables), jpeg_tables)
    add_outline(33550, 12, 3, struct.pack("<3d", 0.01, 0.01, 0.0))
    add_outline(33922, 12, 6, struct.pack("<6d", 0, 0, 0, 10.0, 1.0, 0.0))
    add_outline(34735, 3, 16,
                struct.pack("<16H", 1, 1, 0, 3,
                            1024, 0, 1, 2,      # ModelType = geographic
                            1025, 0, 1, 1,      # RasterType
                            2048, 0, 1, 4326))  # GeographicType

    entries.sort(key=lambda e: e[0])
    trailer_at = 8 + 2 + len(entries) * 12 + 4
    strip_at = trailer_at + len(trailer)
    ifd = struct.pack("<H", len(entries))
    for tag, ftype, count, payload in entries:
        if payload.startswith(b"OFF_"):
            (rel,) = struct.unpack("<I", payload[4:])
            payload = struct.pack("<I", trailer_at + rel)
        if tag == 273:
            payload = struct.pack("<I", strip_at)
        ifd += struct.pack("<HHI", tag, ftype, count) + payload.ljust(4, b"\x00")
    ifd += struct.pack("<I", 0)
    header = struct.pack("<2sHI", b"II", 42, 8)
    return header + ifd + bytes(trailer) + strip


def assert_jpeg_tiff_refused(path: str, blob: bytes, compression: int = 7):
    """Write ``blob`` to ``path`` and check that opening it raises the
    JPEG-in-TIFF refusal (the message, not the path, is matched)."""
    from opentopodata_spark.geotiff import RasterOpenError, open_raster

    with open(path, "wb") as f:
        f.write(blob)
    with pytest.raises(RasterOpenError) as e:
        open_raster(path)
    msg = str(e.value).replace(path, "")
    assert f"JPEG-compressed TIFF (compression {compression})" in msg
    assert "convert to GeoTIFF" in msg
