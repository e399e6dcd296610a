"""Pure-numpy PNG codec: round-trips, filter coverage, malformed inputs.

No reference analog (opentopodata has no media path); the spec is the
public W3C PNG standard. The decoder backs the terrain-tile and
GeoPackage/MBTiles readers, so the contract here is exactness:
decode(encode(x)) == x for every supported shape/filter, and clean
PngError (never a misparse) elsewhere.
"""

import struct
import zlib

import numpy as np
import pytest

from opentopodata_spark import png


def _img(shape, seed=0):
    return np.random.default_rng(seed).integers(0, 256, size=shape).astype(np.uint8)


SHAPES = [(1, 1, 1), (7, 5, 3), (33, 17, 4), (64, 64, 1), (20, 31, 2), (2, 2, 3)]


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4, "mixed"])
def test_round_trip(shape, filter_type):
    arr = _img(shape, seed=sum(shape))
    back = png.decode_png(png.encode_png(arr, filter_type=filter_type))
    assert back.shape == shape
    np.testing.assert_array_equal(back, arr)


def test_2d_input_becomes_grayscale():
    arr = _img((9, 13, 1), seed=3)
    data = png.encode_png(arr[:, :, 0])
    np.testing.assert_array_equal(png.decode_png(data), arr)


def test_mixed_exercises_all_filters():
    """'mixed' must emit every filter type so decoders hit all five
    unfilter paths."""
    arr = _img((10, 8, 3), seed=9)
    data = png.encode_png(arr, filter_type="mixed")
    # IDAT payload: find the chunk and decompress to read filter bytes
    i = data.index(b"IDAT")
    (length,) = struct.unpack(">I", data[i - 4 : i])
    raw = zlib.decompress(data[i + 4 : i + 4 + length])
    stride = 8 * 3
    filters = {raw[y * (stride + 1)] for y in range(10)}
    assert filters == {0, 1, 2, 3, 4}


def test_is_png():
    assert png.is_png(png.encode_png(_img((4, 4, 3))))
    assert not png.is_png(b"")
    assert not png.is_png(b"\xff\xd8\xff\xe0JFIF padding")


@pytest.mark.parametrize(
    "mutate,match",
    [
        (lambda d: d[:20], "truncated|missing"),
        (lambda d: d.replace(b"IHDR", b"XXDR", 1), "missing IHDR"),
        (lambda d: d[:8] + b"\x00" * 4, "signature|truncated|missing"),
    ],
)
def test_malformed(mutate, match):
    data = png.encode_png(_img((6, 6, 3)))
    with pytest.raises(png.PngError, match=match):
        png.decode_png(mutate(data))


def test_unsupported_bit_depth():
    data = bytearray(png.encode_png(_img((4, 4, 1))))
    # IHDR body starts at offset 16; bit depth is byte 8 of the body
    # (8 and 16 are supported since the GeoPackage DEM work; 4 is not)
    assert data[12:16] == b"IHDR"
    data[16 + 8] = 4
    with pytest.raises(png.PngError, match="bit depth"):
        png.decode_png(bytes(data))


def test_16bit_gray_round_trip():
    rng = np.random.RandomState(3)
    a = rng.randint(0, 65536, (23, 31), dtype=np.uint16)
    for ft in (0, 1, 2, 3, 4, "mixed"):
        out = png.decode_png(png.encode_png(a, filter_type=ft))
        assert out.dtype == np.uint16 and out.shape == (23, 31, 1)
        assert np.array_equal(out[:, :, 0], a)


def test_interlaced_rejected():
    data = bytearray(png.encode_png(_img((4, 4, 1))))
    data[16 + 12] = 1  # interlace flag in IHDR
    with pytest.raises(png.PngError, match="Adam7|interlaced"):
        png.decode_png(bytes(data))


def test_pixel_length_mismatch():
    """A wrong-length zlib stream is a clean error, not a reshape crash."""
    body = zlib.compress(b"\x00" + bytes(3))  # 1 filter byte + 3 px for a 4-wide row

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    crafted = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", body)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(png.PngError, match="length mismatch"):
        png.decode_png(crafted)
