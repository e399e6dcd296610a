"""Pure-numpy baseline JPEG codec: round-trips, subsampling, restart
markers, malformed/unsupported inputs, and the mixed-media decode path.

No reference analog (opentopodata has no media path); the spec is the
public ITU-T T.81 standard. JPEG is lossy, so the round-trip contract is
bounded error, not equality — with two exact anchors: a solid-color
image is DC-only and must reconstruct exactly, and the spatial layout of
a block-aligned step image must survive (position errors like swapped
blocks shift it by whole 8px tiles, far past the tolerance).
"""

import struct

import numpy as np
import pytest

from opentopodata_spark import jpeg


def _gradient(h, w, channels=3, seed=0):
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 255 // max(h - 1, 1) + xx * 255 // max(w - 1, 1)) // 2
    rng = np.random.default_rng(seed)
    if channels == 1:
        return (base + rng.integers(-10, 11, size=(h, w))).clip(0, 255).astype(np.uint8)
    img = base[:, :, None] + rng.integers(-10, 11, size=(h, w, channels))
    return img.clip(0, 255).astype(np.uint8)


def test_solid_color_exact():
    """Solid color = DC-only blocks: quantization cannot disturb it."""
    for v in (0, 128, 200, 255):
        img = np.full((24, 24, 3), v, dtype=np.uint8)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
        assert dec.shape == (24, 24, 3)
        assert int(np.abs(dec.astype(int) - v).max()) <= 1


SIZES = [(8, 8), (16, 16), (17, 23), (40, 56), (1, 1), (9, 64)]


@pytest.mark.parametrize("size", SIZES)
@pytest.mark.parametrize("subsampling", ["444", "420"])
def test_round_trip_error_bounded(size, subsampling):
    h, w = size
    img = _gradient(h, w, seed=h * 100 + w)
    dec = jpeg.decode_jpeg(
        jpeg.encode_jpeg(img, quality=90, subsampling=subsampling)
    )
    assert dec.shape == img.shape
    err = np.abs(dec.astype(float) - img.astype(float))
    assert err.mean() < 6.0, err.mean()


def test_grayscale_round_trip():
    img = _gradient(21, 33, channels=1, seed=4)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=92))
    assert dec.shape == (21, 33, 1)
    assert np.abs(dec[:, :, 0].astype(float) - img.astype(float)).mean() < 4.0


def test_block_layout_anchor():
    """A block-aligned step image: each 8x8 tile is a distinct constant.
    Any MCU/block ordering or placement bug relocates whole tiles, which
    this catches exactly (tile means must match to ~quantization)."""
    tiles = np.arange(16).reshape(4, 4) * 16 + 8
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1).astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95))[:, :, 0]
    for ty in range(4):
        for tx in range(4):
            got = dec[ty * 8 : ty * 8 + 8, tx * 8 : tx * 8 + 8].mean()
            assert abs(got - tiles[ty, tx]) < 3.0, (ty, tx, got)


def test_block_layout_anchor_420():
    """Same anchor through the 4:2:0 path (2x2 Y blocks per MCU — the
    ordering that actually bit during development)."""
    tiles = np.arange(36).reshape(6, 6) * 7 + 5
    gray = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1).astype(np.uint8)
    img = np.stack([gray, gray, gray], axis=2)
    dec = jpeg.decode_jpeg(
        jpeg.encode_jpeg(img, quality=95, subsampling="420")
    )
    g = dec.astype(float).mean(axis=2)
    for ty in range(6):
        for tx in range(6):
            got = g[ty * 8 : ty * 8 + 8, tx * 8 : tx * 8 + 8].mean()
            assert abs(got - tiles[ty, tx]) < 3.0, (ty, tx, got)


@pytest.mark.parametrize("ri", [1, 2, 5])
def test_restart_markers(ri):
    img = _gradient(32, 48, seed=ri)
    data = jpeg.encode_jpeg(img, quality=90, restart_interval=ri)
    assert b"\xff\xdd" in data  # DRI segment present
    assert any(bytes([0xFF, 0xD0 + k]) in data for k in range(8))
    dec = jpeg.decode_jpeg(data)
    err = np.abs(dec.astype(float) - img.astype(float))
    assert err.mean() < 6.0


def test_deterministic():
    img = _gradient(20, 20, seed=1)
    assert jpeg.encode_jpeg(img, quality=80) == jpeg.encode_jpeg(img, quality=80)


def test_is_jpeg():
    assert jpeg.is_jpeg(jpeg.encode_jpeg(_gradient(8, 8)))
    assert not jpeg.is_jpeg(b"")
    assert not jpeg.is_jpeg(b"\x89PNG\r\n\x1a\n...")


def test_quality_orders_file_size():
    img = _gradient(64, 64, seed=2)
    sizes = [len(jpeg.encode_jpeg(img, quality=q)) for q in (30, 60, 90)]
    assert sizes[0] < sizes[1] < sizes[2]


def test_truncated_raises():
    data = jpeg.encode_jpeg(_gradient(24, 24))
    with pytest.raises(jpeg.JpegError, match="truncated|missing"):
        jpeg.decode_jpeg(data[: len(data) // 2])


def test_progressive_arithmetic_sof_rejected():
    data = bytearray(jpeg.encode_jpeg(_gradient(16, 16)))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 1] = 0xCA  # SOF0 -> SOF10 (arithmetic progressive)
    with pytest.raises(jpeg.JpegError, match="SOF"):
        jpeg.decode_jpeg(bytes(data))


@pytest.mark.parametrize("size,subsampling", [
    ((16, 16), "444"), ((16, 16), "420"), ((13, 21), "420"),
    ((31, 9), "444"), ((40, 56), "420"), ((7, 7), "444"),
])
def test_progressive_matches_baseline(size, subsampling):
    """The strongest cross-check two independent entropy paths allow:
    progressive encoding quantizes to the SAME coefficients as baseline,
    so the SOF2 decode (DC/AC first + refinement scans, EOB runs) must
    produce pixel-identical output to the SOF0 decode."""
    h, w = size
    img = _gradient(h, w)
    for q in (60, 85, 95):
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=q,
                                                 subsampling=subsampling))
        prog_bytes = jpeg.encode_jpeg(img, quality=q,
                                      subsampling=subsampling,
                                      progressive=True)
        # really SOF2, with more than one scan
        assert b"\xff\xc2" in prog_bytes and prog_bytes.count(b"\xff\xda") > 1
        prog = jpeg.decode_jpeg(prog_bytes)
        np.testing.assert_array_equal(prog, base)


def test_progressive_grayscale_matches_baseline():
    g = _gradient(19, 27)[:, :, 0]
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=80))
    prog = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=80, progressive=True))
    np.testing.assert_array_equal(prog, base)


def test_progressive_noise_stress():
    """High-entropy input exercises long zero runs, ZRL-in-refinement,
    EOB-run buffered correction bits, and every Huffman table shape."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(33, 18, 3)).astype(np.uint8)
    for q in (40, 90):
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=q))
        prog = jpeg.decode_jpeg(
            jpeg.encode_jpeg(img, quality=q, progressive=True)
        )
        np.testing.assert_array_equal(prog, base)


def test_progressive_truncated_raises():
    data = jpeg.encode_jpeg(_gradient(24, 24), progressive=True)
    with pytest.raises(jpeg.JpegError, match="truncated|missing|Huffman"):
        jpeg.decode_jpeg(data[: len(data) // 2])


def test_bad_precision_rejected():
    data = bytearray(jpeg.encode_jpeg(_gradient(16, 16)))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 4] = 16  # precision byte of SOF (12 is now supported)
    with pytest.raises(jpeg.JpegError, match="precision"):
        jpeg.decode_jpeg(bytes(data))


def test_12bit_baseline_sof0_rejected():
    # 12-bit samples are legal in SOF1/SOF9 only
    data = bytearray(jpeg.encode_jpeg(_gradient(16, 16)))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 4] = 12
    with pytest.raises(jpeg.JpegError, match="8-bit"):
        jpeg.decode_jpeg(bytes(data))


def test_not_a_jpeg():
    with pytest.raises(jpeg.JpegError, match="signature"):
        jpeg.decode_jpeg(b"not an image at all........")


def test_missing_sos():
    data = jpeg.encode_jpeg(_gradient(8, 8))
    i = data.index(b"\xff\xda")
    with pytest.raises(jpeg.JpegError, match="SOS|truncated"):
        jpeg.decode_jpeg(data[:i] + b"\xff\xd9")


def test_zigzag_is_the_standard_order():
    """First entries of the zigzag scan per T.81 figure 5; a generated
    table that started walking the wrong diagonal direction would break
    interop with every real JPEG."""
    got = [(r, c) for r, c in jpeg._zigzag_pairs()[:10]]
    assert got == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
        (2, 1), (3, 0),
    ]


def test_dqt_16bit_tables_read():
    """Pq=1 (16-bit) quant tables parse (some encoders emit them)."""
    data = bytearray(jpeg.encode_jpeg(_gradient(8, 8, channels=1), quality=90))
    i = bytes(data).index(b"\xff\xdb")
    (seglen,) = struct.unpack(">H", bytes(data[i + 2 : i + 4]))
    assert seglen == 2 + 1 + 64
    vals = bytes(data[i + 5 : i + 5 + 64])
    wide = b"".join(struct.pack(">H", v) for v in vals)
    patched = (
        bytes(data[:i])
        + b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128)
        + bytes([0x10])  # Pq=1, Tq=0
        + wide
        + bytes(data[i + 2 + seglen :])
    )
    dec = jpeg.decode_jpeg(patched)
    ref = jpeg.decode_jpeg(bytes(data))
    np.testing.assert_array_equal(dec, ref)
