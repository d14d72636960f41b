"""Geometry, codec, and imagery golden tests (FIXTURES.md §F4)."""

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
    kind, (x, y) = geom.wkb_read(geom.wkb_write_point(1.5, -2.5))
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


def test_clip_polygon_to_rect():
    ring = np.array([[-5, -5], [15, -5], [15, 15], [-5, 15]], dtype=float)
    clipped = geom.clip_polygon_to_rect(ring, 0, 0, 10, 10)
    assert clipped is not None
    assert geom.shoelace_area(clipped) == pytest.approx(100.0)
    assert geom.clip_polygon_to_rect(ring, 100, 100, 110, 110) is None


def test_area_centroid():
    ring = np.array([[0, 0], [4, 0], [4, 2], [0, 2]], dtype=float)
    assert geom.shoelace_area(ring) == pytest.approx(8.0)

def test_point_segment_distance():
    d = geom.point_segment_distance(
        np.array([0.0, 5.0]), np.array([5.0, 5.0]), 0, 0, 10, 0
    )
    np.testing.assert_allclose(d, [5.0, 5.0])


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



# ------------------------------------------------- Douglas-Peucker

def test_simplify_line_collinear_and_tol():
    import numpy as np

    from geotrellis_spark.core import geom

    # collinear interior points vanish at any tolerance
    line = np.array([[0, 0], [1, 0], [2, 0], [3, 0]], dtype=float)
    out = geom.simplify_line(line, 0.0)
    assert out.tolist() == [[0, 0], [3, 0]]
    # a real corner survives a small tol, dies under a big one
    bend = np.array([[0, 0], [5, 1], [10, 0]], dtype=float)
    assert len(geom.simplify_line(bend, 0.5)) == 3
    assert len(geom.simplify_line(bend, 2.0)) == 2
    # endpoints always kept
    assert geom.simplify_line(bend, 100.0).tolist() == [[0, 0], [10, 0]]


def test_simplify_ring_preserves_shape():
    import numpy as np

    from geotrellis_spark.core import geom

    # a square with redundant mid-edge vertices simplifies back to 4
    sq = np.array(
        [[0, 0], [1, 0], [2, 0], [2, 1], [2, 2], [1, 2], [0, 2], [0, 1]],
        dtype=float,
    )
    out = geom.simplify_ring(sq, 0.01)
    assert len(out) == 4
    assert abs(abs(geom.shoelace_area(out)) - 4.0) < 1e-12
    # roundtrip through WKB keeps polygon type + area
    wkb = geom.wkb_write_polygon([sq])
    simp = geom.simplify_wkb(wkb, 0.01)
    rings = geom._poly_list(simp)[0]  # reader returns CLOSED rings
    assert len(rings[0]) == 5 and (rings[0][0] == rings[0][-1]).all()


def test_affine_wkb_rotate_translate():
    import numpy as np

    from geotrellis_spark.core import geom

    sq = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], dtype=float)
    wkb = geom.wkb_write_polygon([sq])
    # translate
    t = geom._poly_list(geom.affine_wkb(wkb, xoff=10, yoff=-5))[0][0]
    assert t[:, 0].min() == 10 and t[:, 1].max() == -3
    # rotate 90 deg CCW about origin: (x,y) -> (-y, x); area preserved
    r = geom._poly_list(geom.affine_wkb(wkb, a=0, b=-1, d=1, e=0))[0][0]
    assert abs(abs(geom.shoelace_area(r[:-1])) - 4.0) < 1e-12
    assert r[:, 0].min() == -2.0 and r[:, 0].max() == 0.0
    # scale changes area by |det|
    s = geom._poly_list(geom.affine_wkb(wkb, a=3, e=2))[0][0]
    assert abs(abs(geom.shoelace_area(s[:-1])) - 24.0) < 1e-12
