"""Round-2 operator oracles: Convolve/neighborhoods/TargetCell,
Euclidean distance, vector x vector join, temporal stack stats
(reference spec roles: ``focal/ConvolveSpec``, ``distance/
EuclideanDistanceTileSpec``, ``join/VectorJoinSpec`` — SURVEY.md §5)."""

import numpy as np
import pytest

from geotrellis_spark.core import geom as G
from geotrellis_spark.core import kernels as K


# ----------------------------------------------------------- kernels

def test_convolve_golden_5x5():
    tile = np.arange(1, 26, dtype=np.uint16).reshape(5, 5)
    k = np.array([[0, 1, 0], [1, 2, 1], [0, 1, 0]], dtype=float)
    got = K.convolve(tile, k)
    # hand-computed interior cell (2,2): v=13; N=8 E=14 S=18 W=12
    assert got[2, 2] == 2 * 13 + 8 + 14 + 18 + 12
    # corner (0,0): v=1 (w2), E=2, S=6 -> 2+2+6=10
    assert got[0, 0] == 10


def test_convolve_skips_nodata():
    tile = np.full((3, 3), 5, dtype=np.uint16)
    tile[1, 1] = 0  # NoData
    got = K.convolve(tile, np.ones((3, 3)))
    assert got[0, 0] == 15  # 4 neighbors in window minus the NoData center
    assert np.isnan(got[1, 1]) or got[1, 1] == 40  # center: 8 data cells
    assert got[1, 1] == 40


def test_neighborhood_circle_and_annulus_focal():
    tile = np.ones((7, 7), dtype=np.uint16)
    # circle r=2 has 13 cells; annulus default inner=1 drops the center
    c = K.focal_stat(tile, "sum", 2, neighborhood="circle")
    assert c[3, 3] == 13
    a = K.focal_stat(tile, "sum", 2, neighborhood="annulus")
    assert a[3, 3] == 12
    assert K.neighborhood_mask("annulus", 2, inner=2).sum() == 4
    n = K.focal_stat(tile, "sum", 2, neighborhood="nesw")
    assert n[3, 3] == 9  # two arms of 2 x 4 directions + center


def test_target_cell():
    tile = np.array([[1, 0], [3, 4]], dtype=np.uint16)  # 0 = NoData
    res = K.focal_stat(tile, "sum", 1, target="data")
    assert np.isnan(res[0, 1])  # NoData center untouched (stays NaN)
    res2 = K.focal_stat(tile, "sum", 1, target="nodata")
    assert res2[0, 0] == 1.0  # data centers keep original value
    assert res2[0, 1] == 8.0  # NoData center gets the focal result


def test_euclidean_distance_exact_vs_brute():
    rng = np.random.default_rng(9)
    mask = rng.random((20, 23)) < 0.05
    mask[0, 0] = True
    d = K.euclidean_distance(mask)
    yy, xx = np.mgrid[0:20, 0:23]
    fy, fx = np.nonzero(mask)
    brute = np.sqrt(
        ((yy[..., None] - fy) ** 2 + (xx[..., None] - fx) ** 2).min(axis=-1)
    )
    assert np.allclose(d, brute)


def test_stack_majority_minority_vectorized():
    a = np.array([[1, 2]], dtype=np.uint16)
    b = np.array([[1, 3]], dtype=np.uint16)
    c = np.array([[4, 3]], dtype=np.uint16)
    stack = np.stack([a, b, c])
    maj = K.local_stack_stats(stack, "majority")
    mino = K.local_stack_stats(stack, "minority")
    assert maj[0, 0] == 1 and maj[0, 1] == 3
    assert mino[0, 0] == 4 and mino[0, 1] == 2


def test_polygons_intersect_cases():
    sq = lambda x0, y0, s: G.wkb_write_polygon(
        [np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]])]
    )
    assert G.polygons_intersect(sq(0, 0, 4), sq(2, 2, 4))      # overlap
    assert G.polygons_intersect(sq(0, 0, 10), sq(3, 3, 2))     # contains
    assert G.polygons_intersect(sq(3, 3, 2), sq(0, 0, 10))     # within
    assert not G.polygons_intersect(sq(0, 0, 2), sq(5, 5, 2))  # disjoint
    assert G.polygons_intersect(sq(0, 0, 2), sq(2, 0, 2))      # touching edge
    # crossing without any vertex inside the other (plus shape)
    horiz = G.wkb_write_polygon(
        [np.array([[-5.0, 1.0], [5.0, 1.0], [5.0, 2.0], [-5.0, 2.0]])]
    )
    vert = G.wkb_write_polygon(
        [np.array([[1.0, -5.0], [2.0, -5.0], [2.0, 5.0], [1.0, 5.0]])]
    )
    assert G.polygons_intersect(horiz, vert)


# ------------------------------------------------------- spark layers

@pytest.fixture(scope="module")
def small_layer(spark):
    from geotrellis_spark import synth
    from geotrellis_spark.operators import tiling

    images = synth.synth_images(spark, 60, partitions=4)
    return tiling.tile_images(images, 5, 256).cache()


def test_focal_convolve_layer(spark, small_layer):
    from geotrellis_spark.core import codecs
    from geotrellis_spark.operators import tiling

    k = np.ones((3, 3)) / 9.0
    conv = tiling.focal_tiles(small_layer, "mean", kernel=k)
    mean = tiling.focal_tiles(small_layer, "mean", radius=1)
    got = {r["cell_id"]: bytes(r["tile"]) for r in conv.collect()}
    assert len(got) > 0
    # convolve with a uniform 1/9 kernel != NaN-aware mean only where a
    # window holds NoData; on all-data windows they agree. Check one
    # all-data tile pixel-wise against the mean stencil.
    for r in mean.collect():
        m = codecs.decode_tile(bytes(r["tile"]), 256, 256, r["fmt"])
        c = codecs.decode_tile(got[r["cell_id"]], 256, 256, r["fmt"])
        interior_equal = (m[1:-1, 1:-1] == c[1:-1, 1:-1])
        assert interior_equal.mean() > 0.5  # most windows are all-data
        break


def test_euclidean_distance_layer(spark, small_layer):
    from geotrellis_spark.core import codecs
    from geotrellis_spark.operators import algebra

    out = algebra.euclidean_distance_layer(small_layer.limit(4))
    for r in out.collect():
        t = codecs.decode_tile(bytes(r["tile"]), 256, 256, r["fmt"])
        assert t.shape == (256, 256)


def test_temporal_stack_stats(spark):
    from geotrellis_spark.core import codecs
    from geotrellis_spark.operators import algebra
    from geotrellis_spark.operators.tiling import TILE_SCHEMA
    import pandas as pd

    def tile_row(t_ord, value):
        px = np.full((8, 8), value, dtype=np.uint16)
        return {
            "layer": "t", "zoom": 3, "key_col": 1, "key_row": 1,
            "cell_id": 3, "tile": codecs.encode_tile(px, "raw16"),
            "fmt": "raw16", "w": 8, "h": 8, "cell_type": "uint16ud0",
            "t_ord": t_ord,
        }

    pdf = pd.DataFrame([tile_row(t, 10 * (t + 1)) for t in range(5)])
    sdf = spark.createDataFrame(pdf)
    out = algebra.temporal_stack_stats(sdf, "mean", t_min=1, t_max=3)
    rows = out.collect()
    assert len(rows) == 1
    t = codecs.decode_tile(bytes(rows[0]["tile"]), 8, 8, rows[0]["fmt"])
    assert (t == 30).all()  # mean of 20,30,40


def test_vector_join_spark(spark):
    sq = lambda x0, y0, s: bytearray(G.wkb_write_polygon(
        [np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]])]
    ))
    from geotrellis_spark.operators import spatial

    a = spark.createDataFrame(
        [(1, sq(0.0, 0.0, 20.0)), (2, sq(100.0, 40.0, 10.0))],
        "a_id long, wkb binary",
    )
    b = spark.createDataFrame(
        [(10, sq(15.0, 15.0, 20.0)), (11, sq(-50.0, -50.0, 5.0)),
         (12, sq(104.0, 44.0, 2.0))],
        "b_id long, wkb binary",
    )
    got = sorted((r["a_id"], r["b_id"])
                 for r in spatial.vector_join(a, b, zoom=4).collect())
    assert got == [(1, 10), (2, 12)]


def test_bitwise_and_if_cell():
    a = np.array([[6, 0], [5, 12]], dtype=np.uint16)
    b = np.array([[3, 3], [1, 10]], dtype=np.uint16)
    r = K.local_binary("and", a, b)
    assert r[0, 0] == 2 and r[1, 0] == 1 and r[1, 1] == 8
    assert r[0, 1] == 0  # NoData propagates
    assert K.local_binary("xor", a, b)[1, 1] == 6
    assert K.local_binary("or", a, b)[0, 0] == 7


def test_band_math_ndvi(spark):
    from geotrellis_spark.core import codecs
    from geotrellis_spark.operators import algebra
    import pandas as pd

    def row(band, value):
        px = np.full((8, 8), value, dtype=np.uint16)
        return {
            "layer": "mb", "zoom": 3, "key_col": 1, "key_row": 1,
            "cell_id": 3, "tile": codecs.encode_tile(px, "raw16"),
            "fmt": "raw16", "w": 8, "h": 8, "cell_type": "uint16ud0",
            "band": band,
        }

    sdf = spark.createDataFrame(pd.DataFrame([row(0, 100), row(1, 300)]))
    # scaled NDVI-ish: (b1-b0)/(b1+b0) * 1000
    out = algebra.band_math(
        sdf, lambda s: (s[1] - s[0]) / (s[1] + s[0]) * 1000.0
    ).collect()
    assert len(out) == 1
    t = codecs.decode_tile(bytes(out[0]["tile"]), 8, 8, out[0]["fmt"])
    assert (t == 500).all()


def test_minhash_bucket_cap(spark):
    from geotrellis_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated verbatim") for i in range(30)]
        + [(100 + i, f"unique document number {i} with words {i * 7}")
           for i in range(5)],
        "doc_id long, text string",
    )
    exact = dedup.minhash_candidates(docs)
    capped = dedup.minhash_candidates(docs, max_bucket=5)
    n_exact = exact.count()
    n_capped = capped.count()
    assert n_exact >= 30 * 29 // 2  # quadratic blowup of the hot bucket
    assert n_capped <= 5 * 4 // 2 * 4 + 20  # bounded by cap per band
    # cluster preservation: every boilerplate doc still pairs with the
    # bucket representative (min id 0)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    reachable = {a for a, b in pairs if b <= 4} | {b for a, b in pairs if a <= 4}
    assert len(reachable) >= 4
