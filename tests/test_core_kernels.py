"""Kernel golden tests (FIXTURES.md §F4; reference spec role:
``raster/src/test/.../mapalgebra/focal/*Spec.scala``,
``rasterize/polygon/PolygonRasterizerSpec.scala``, merge specs)."""

import numpy as np
import pytest

from geotrellis_spark.core import geom, kernels
from geotrellis_spark.core.layout import Extent, TileLayout, LayoutDefinition


def test_local_binary_nodata_propagates():
    a = np.array([[2, 0], [3, 4]], dtype=np.uint16)
    b = np.array([[5, 5], [0, 1]], dtype=np.uint16)
    out = kernels.local_binary("add", a, b)
    np.testing.assert_array_equal(out, [[7, 0], [0, 5]])
    out = kernels.local_binary("multiply", a, 3)
    np.testing.assert_array_equal(out, [[6, 0], [9, 12]])


def test_local_compare_and_unary():
    a = np.array([[2.0, np.nan], [5.0, 1.0]])
    gt = kernels.local_binary("greater", a, 1.5)
    np.testing.assert_array_equal(gt, [[1.0, np.nan], [1.0, 0.0]])
    defined = kernels.local_unary("defined", a)
    np.testing.assert_array_equal(defined, [[1, 0], [1, 1]])


def test_local_stack_stats():
    stack = np.array(
        [[[1.0, np.nan]], [[3.0, 4.0]], [[5.0, np.nan]]]
    )  # 3 tiles of 1x2
    np.testing.assert_allclose(
        kernels.local_stack_stats(stack, "mean"), [[3.0, 4.0]]
    )
    np.testing.assert_allclose(
        kernels.local_stack_stats(stack, "variety"), [[3.0, 1.0]]
    )
    maj = kernels.local_stack_stats(
        np.array([[[1.0]], [[1.0]], [[2.0]]]), "majority"
    )
    np.testing.assert_allclose(maj, [[1.0]])


FIVE = np.array(
    [
        [1, 2, 3, 4, 5],
        [6, 7, 8, 9, 10],
        [11, 12, 13, 14, 15],
        [16, 17, 18, 19, 20],
        [21, 22, 23, 24, 25],
    ],
    dtype=np.float64,
)


def test_focal_goldens_5x5():
    mean = kernels.focal_mean(FIVE, 1)
    # interior cell (2,2): mean of 3x3 block centered at 13 = 13
    assert mean[2, 2] == pytest.approx(13.0)
    # corner (0,0): mean of [1,2,6,7] = 4
    assert mean[0, 0] == pytest.approx(4.0)
    s = kernels.focal_sum(FIVE, 1)
    assert s[2, 2] == pytest.approx(117.0)
    assert kernels.focal_min(FIVE, 1)[0, 0] == 1.0
    assert kernels.focal_max(FIVE, 1)[4, 4] == 25.0
    assert kernels.focal_median(FIVE, 1)[2, 2] == 13.0


def test_focal_nodata_excluded():
    t = FIVE.copy()
    t[2, 2] = np.nan
    m = kernels.focal_mean(t, 1)
    # window of (2,2) excludes the NaN center: (117-13)/8
    assert m[2, 2] == pytest.approx((117.0 - 13.0) / 8.0)


def test_focal_mode():
    t = np.array([[1, 1, 2], [1, 3, 2], [4, 4, 2]], dtype=np.float64)
    assert kernels.focal_mode(t, 1)[1, 1] == 1.0


def test_pyramid_quadrant_golden():
    # FIXTURES §F4: 4 children 4x4 @z=2 -> parent 4x4 @z=1 via NN decimate
    children = {
        (0, 0): np.full((4, 4), 1, dtype=np.uint16),
        (1, 0): np.full((4, 4), 2, dtype=np.uint16),
        (0, 1): np.full((4, 4), 3, dtype=np.uint16),
        (1, 1): np.full((4, 4), 4, dtype=np.uint16),
    }
    parent = np.zeros((4, 4), dtype=np.uint16)
    for (qc, qr), child in children.items():
        d = kernels.decimate2(child)
        parent[qr * 2 : qr * 2 + 2, qc * 2 : qc * 2 + 2] = d
    np.testing.assert_array_equal(
        parent, [[1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4]]
    )
    # decimation keeps the top-left pixel of each 2x2 block
    t = np.arange(16, dtype=np.uint16).reshape(4, 4)
    np.testing.assert_array_equal(kernels.decimate2(t), [[0, 2], [8, 10]])


def test_rasterize_triangle_8x8_golden():
    # unit grid: cells centers at 0.5..7.5; triangle (0,0)-(8,0)-(0,8)
    ld = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(1, 1, 8, 8))
    xs, ys = ld.cell_lattice(0, 0)
    tri = [np.array([[0, 0], [8, 0], [0, 8]], dtype=float)]
    mask = kernels.rasterize_polygon(tri, xs, ys)
    # property: mask == PIP of cell centers
    gx, gy = np.meshgrid(xs, ys)
    pip = geom.points_in_rings(gx.ravel(), gy.ravel(), tri).reshape(8, 8)
    np.testing.assert_array_equal(mask, pip)
    # diagonal cells: center (c+0.5, r'), inside iff x + y < 8
    assert mask.sum() == sum(
        1 for r in range(8) for c in range(8) if (c + 0.5) + (7.5 - r) < 8
    )


def test_rasterize_concave_equals_pip():
    ring = np.array(
        [[0, 0], [8, 0], [8, 3], [3, 3], [3, 5], [8, 5], [8, 8], [0, 8]],
        dtype=float,
    )
    ld = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(1, 1, 8, 8))
    xs, ys = ld.cell_lattice(0, 0)
    mask = kernels.rasterize_polygon([ring], xs, ys)
    gx, gy = np.meshgrid(xs, ys)
    pip = geom.points_in_rings(gx.ravel(), gy.ravel(), [ring]).reshape(8, 8)
    np.testing.assert_array_equal(mask, pip)


# ------------------------------------------------------------ hydrology

def test_flow_direction_inclined_plane():
    import numpy as np

    from geotrellis_spark.core import kernels as K

    # plane dipping east: every interior cell flows E (code 1)
    dem = np.tile(np.arange(8, 0, -1, dtype=float), (5, 1))
    fd = K.flow_direction(dem)
    assert (fd[:, :-1] == 1).all()
    # east edge has no downslope neighbor (edge-padded): pit code 0
    assert (fd[:, -1] == 0).all()


def test_min_label_components_matches_bfs():
    """Vectorized components == a plain BFS labelling each node with
    the minimum id it reaches: seeded random graphs, a long path (many
    hook rounds), one dense clique and isolated pairs."""

    def bfs(a, b):
        adj = {}
        for x, y in zip(a.tolist(), b.tolist()):
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        label = {}
        for start in sorted(adj):
            if start in label:
                continue
            label[start], todo = start, [start]
            while todo:
                for nb in adj[todo.pop()]:
                    if nb not in label:
                        label[nb] = start
                        todo.append(nb)
        return label

    rng = np.random.default_rng(5)
    graphs = []
    for n, e in [(2, 1), (30, 12), (200, 150), (500, 900)]:
        ids = rng.choice(10 ** 9, n, replace=False).astype(np.int64)
        graphs.append((ids[rng.integers(0, n, e)], ids[rng.integers(0, n, e)]))
    path = np.arange(1000, dtype=np.int64)
    graphs.append((path[:-1], path[1:]))
    perm = rng.permutation(1000).astype(np.int64)
    graphs.append((perm[:-1], perm[1:]))  # same path, scrambled ids
    qa, qb = np.triu_indices(40, 1)
    graphs.append((qa.astype(np.int64) + 7, qb.astype(np.int64) + 7))
    pairs = np.arange(0, 200, 2, dtype=np.int64)
    graphs.append((pairs + 1, pairs))
    for a, b in graphs:
        ids, label = kernels.min_label_components(a, b)
        want = bfs(a, b)
        assert ids.tolist() == sorted(want)
        assert label.tolist() == [want[i] for i in ids.tolist()]
