"""SFC golden tests (FIXTURES.md §F4; reference spec role:
``store/src/test/.../index/zcurve/Z2Spec.scala``,
``hilbert/HilbertSpatialKeyIndexSpec.scala``, ``MergeQueueSpec.scala``)."""

import numpy as np
import pytest

from geotrellis_spark.core import sfc


def test_zorder_golden_table():
    cases = {(0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3, (2, 2): 12, (7, 5): 55}
    for (c, r), expect in cases.items():
        assert int(sfc.zorder(c, r)) == expect


def test_zorder_roundtrip_random():
    rng = np.random.default_rng(42)
    c = rng.integers(0, 2**30, 1000)
    r = rng.integers(0, 2**30, 1000)
    z = sfc.zorder(c, r)
    dc, dr = sfc.zorder_decode(z)
    np.testing.assert_array_equal(dc, c)
    np.testing.assert_array_equal(dr, r)
    assert z.dtype == np.int64
    assert (z >= 0).all()


def test_zorder_parent_is_prefix():
    # pyramid_up groups a level's tiles by ``cell_id >> 2``: the parent key
    rng = np.random.default_rng(2)
    c = np.concatenate([[0, 1, 13, 200], rng.integers(0, 2**30, 500)])
    r = np.concatenate([[0, 1, 7, 31], rng.integers(0, 2**30, 500)])
    assert (sfc.zorder(c, r) >> 2 == sfc.zorder(c // 2, r // 2)).all()


def test_z3_roundtrip():
    rng = np.random.default_rng(1)
    c = rng.integers(0, 2**20, 500)
    r = rng.integers(0, 2**20, 500)
    t = rng.integers(0, 2**20, 500)
    dc, dr, dt = sfc.z3_decode(sfc.z3(c, r, t))
    np.testing.assert_array_equal(dc, c)
    np.testing.assert_array_equal(dr, r)
    np.testing.assert_array_equal(dt, t)


def test_z3_golden():
    # (1,0,0)->1, (0,1,0)->2, (0,0,1)->4, (1,1,1)->7
    assert int(sfc.z3(1, 0, 0)) == 1
    assert int(sfc.z3(0, 1, 0)) == 2
    assert int(sfc.z3(0, 0, 1)) == 4
    assert int(sfc.z3(1, 1, 1)) == 7


@pytest.mark.parametrize("order", [2, 3, 5, 10])
def test_hilbert_bijection(order):
    n = 1 << order
    xs, ys = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    d = sfc.hilbert_xy2d(order, xs.ravel(), ys.ravel())
    assert sorted(d.tolist()) == list(range(n * n))  # bijective
    rx, ry = sfc.hilbert_d2xy(order, d)
    np.testing.assert_array_equal(rx, xs.ravel())
    np.testing.assert_array_equal(ry, ys.ravel())


def test_hilbert_adjacency():
    # consecutive indexes are grid neighbors (the locality property)
    order = 6
    d = np.arange((1 << order) ** 2)
    x, y = sfc.hilbert_d2xy(order, d)
    step = np.abs(np.diff(x)) + np.abs(np.diff(y))
    assert (step == 1).all()


def test_hilbert_4x4_golden():
    # canonical 4x4 curve: d=0 at (0,0); d=15 at (3,0)
    assert int(sfc.hilbert_xy2d(2, 0, 0)) == 0
    assert int(sfc.hilbert_xy2d(2, 3, 0)) == 15


def test_rowmajor():
    assert int(sfc.rowmajor(3, 2, 10)) == 23


def test_zorder_ranges_exact_cover():
    # 3x3 KeyBounds starting at (1,1): ranges must cover exactly those cells
    lo_c, hi_c, lo_r, hi_r = 1, 3, 1, 3
    ranges = sfc.zorder_ranges(lo_c, hi_c, lo_r, hi_r)
    cells = set()
    for a, b in ranges:
        cells.update(range(a, b + 1))
    expect = {
        int(sfc.zorder(c, r))
        for c in range(lo_c, hi_c + 1)
        for r in range(lo_r, hi_r + 1)
    }
    assert cells == expect
    # coalesced: sorted, non-overlapping, non-adjacent
    for i in range(len(ranges) - 1):
        assert ranges[i][1] + 1 < ranges[i + 1][0]


def test_zorder_ranges_cap_superset():
    ranges = sfc.zorder_ranges(3, 200, 5, 177, max_ranges=8)
    assert len(ranges) <= 8
    cells = np.array(
        [int(sfc.zorder(c, r)) for c in [3, 100, 200] for r in [5, 90, 177]]
    )
    assert all(any(a <= v <= b for a, b in ranges) for v in cells)


def test_children_cells():
    kids = sfc.children_cells(np.array([3]))
    np.testing.assert_array_equal(kids, [12, 13, 14, 15])
