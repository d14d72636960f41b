"""Geometry, codec, and imagery golden tests (FIXTURES.md §F4)."""

import struct

import numpy as np
import pytest

from geotrellis_spark.core import codecs, geom, imagery


# ------------------------------------------------------------------ WKB

def test_wkb_polygon_roundtrip():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    wkb = geom.wkb_write_polygon([ring])
    kind, rings = geom.wkb_read(wkb)
    assert kind == "polygon"
    assert rings[0].shape == (5, 2)  # auto-closed
    np.testing.assert_allclose(rings[0][:4], ring)


def test_wkb_point_roundtrip():
    # little-endian byte order flag, type 1 = Point, then x, y
    kind, (x, y) = geom.wkb_read(struct.pack("<BIdd", 1, 1, 1.5, -2.5))
    assert kind == "point" and (x, y) == (1.5, -2.5)


# ------------------------------------------------------------------ PIP

def test_pip_square():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    wkb = geom.wkb_write_polygon([ring])
    px = np.array([5.0, 15.0, -1.0, 9.99])
    py = np.array([5.0, 5.0, 5.0, 0.01])
    np.testing.assert_array_equal(
        geom.points_in_polygon(px, py, wkb), [True, False, False, True]
    )


def test_pip_with_hole():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]], dtype=float)
    wkb = geom.wkb_write_polygon([outer, hole])
    px = np.array([5.0, 2.0])
    py = np.array([5.0, 2.0])
    np.testing.assert_array_equal(
        geom.points_in_polygon(px, py, wkb), [False, True]
    )


def test_pip_concave():
    # C-shape; point in the notch is outside
    ring = np.array(
        [[0, 0], [10, 0], [10, 3], [3, 3], [3, 7], [10, 7], [10, 10], [0, 10]],
        dtype=float,
    )
    wkb = geom.wkb_write_polygon([ring])
    px = np.array([6.0, 1.5, 6.0])
    py = np.array([5.0, 5.0, 1.0])
    np.testing.assert_array_equal(
        geom.points_in_polygon(px, py, wkb), [False, True, True]
    )


def test_pip_degenerate_on_vertex_and_horizontal_edge():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    wkb = geom.wkb_write_polygon([ring])
    # half-open (ymin, ymax] rule: boundary points fall SOUTH (the
    # floor((90-lat)/180*n) key-row convention) — bottom edge and
    # bottom-left vertex are outside, top edge is inside
    px = np.array([0.0, 5.0, 5.0])
    py = np.array([0.0, 0.0, 10.0])
    res = geom.points_in_polygon(px, py, wkb)
    assert not res[0] and not res[1] and res[2]


# --------------------------------------------------------------- codecs

@pytest.mark.parametrize("shape", [(1, 1), (7, 3), (64, 64), (256, 256)])
def test_png_roundtrip_uint16(shape):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 65536, size=shape, dtype=np.uint16)
    assert np.array_equal(codecs.png_decode_gray(codecs.png_encode_gray(img)), img)


def test_png_roundtrip_uint8():
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(33, 17), dtype=np.uint8)
    assert np.array_equal(codecs.png_decode_gray(codecs.png_encode_gray(img)), img)


def test_tile_codec_raw16_and_png():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 65536, size=(32, 48), dtype=np.uint16)
    for fmt in ("raw16", "png"):
        data = codecs.encode_tile(img, fmt)
        out = codecs.decode_tile(data, 48, 32, fmt)
        assert np.array_equal(out, img)
        assert imagery.psnr(out, img) == float("inf")  # lossless => >=40dB


# -------------------------------------------------------------- imagery

def test_phash_deterministic_goldens():
    imgs = [imagery.synth_pixels(i, 64, 64) for i in (1, 2, 3)]
    hashes = [int(imagery.phash64(im)) for im in imgs]
    assert hashes == [int(imagery.phash64(imagery.synth_pixels(i, 64, 64)))
                      for i in (1, 2, 3)]
    # gradient image (i=1): bottom half brighter -> known structure
    assert hashes[0] != hashes[1] != hashes[2]


def test_phash_gradient_structure():
    # vertical gradient: top 4 block-rows below mean, bottom 4 above
    g = np.linspace(0, 60000, 64)[:, None] * np.ones((1, 64))
    h = int(imagery.phash64(g.astype(np.uint16)))
    assert h & 0xFFFFFFFF00000000 == 0  # top rows (MSBs) all zero
    assert h & 0x00000000FFFFFFFF == 0x00000000FFFFFFFF


def test_hamming():
    assert imagery.hamming64(0, 0b1011)[()] == 3


def test_synth_holes_have_nodata():
    img = imagery.synth_pixels(4, 64, 64)  # pattern 'holes'
    assert (img == 0).sum() > 0
    img = imagery.synth_pixels(3, 64, 64)  # 'noise' avoids sentinel
    assert (img == 0).sum() == 0
