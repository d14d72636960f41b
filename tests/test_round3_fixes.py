"""Round-3 regression tests for the ADVICE findings: hole-ring
intersection in polygons_intersect, viewshed NoData NaN poisoning on
grid-line samples."""

import struct

import numpy as np
import pytest

from geotrellis_spark.core import geom, raster_ops
from geotrellis_spark.operators import spatial


# --------------------------------------- polygons_intersect hole rings

def _c_hole():
    """Polygon A = big square with a C-shaped (concave) hole: the hole
    spans [2,8]x[2,8] minus a notch [4,6]x[2,5] of A-material jutting
    up into it from the hole's bottom edge."""
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    hole = np.array(
        [[2, 2], [4, 2], [4, 5], [6, 5], [6, 2], [8, 2], [8, 8], [2, 8]],
        dtype=float,
    )
    return geom.wkb_write_polygon([outer, hole])


def test_intersect_across_hole_notch():
    # Triangle B sits entirely inside the hole cavity by vertices, but
    # its bottom edge crosses the notch (real A-material at x in [4,6],
    # y < 5): the pair DOES intersect.
    a = _c_hole()
    tri = np.array([[3, 4], [7, 4], [5, 7]], dtype=float)
    b = geom.wkb_write_polygon([tri])
    assert geom.polygons_intersect(a, b)
    assert geom.polygons_intersect(b, a)


def test_no_intersect_fully_inside_hole():
    # Triangle fully inside the hole cavity, clear of the notch: disjoint.
    a = _c_hole()
    tri = np.array([[6.5, 5.5], [7.5, 5.5], [7.0, 7.5]], dtype=float)
    b = geom.wkb_write_polygon([tri])
    assert not geom.polygons_intersect(a, b)
    assert not geom.polygons_intersect(b, a)


# ---------------------------------------------- viewshed NoData corner

def test_viewshed_nodata_zero_weight_no_nan_poison():
    # Rays along the viewpoint's own row sample exactly ON the row-2
    # grid line (fy == 0), so the row-3 bilinear corners get weight 0.
    # A NoData cell at (3,4) therefore contributes inf * 0 — which the
    # old weighted sum turned into NaN, silencing the genuine finite
    # wall at (2,4) in the SAME window and wrongly marking cells past
    # it visible. Per-corner masking must keep the wall blocking.
    nodata = 65535
    dem = np.zeros((5, 9), dtype=np.uint16) + 10
    dem[3, 4] = nodata          # zero-weight NoData corner
    dem[2, 4] = 1000            # finite wall in the same window
    vs = raster_ops.viewshed(dem, 2, 0, observer_height=1.0, nodata=nodata)
    assert vs[2, 0] and vs[2, 3]        # viewpoint + cells before wall
    assert not vs[2, 6] and not vs[2, 8]  # wall still blocks past col 4


def test_viewshed_zero_weight_nodata_does_not_block():
    # Same geometry but NO wall: the zero-weight NoData corner alone
    # must not block (it never participates in the interpolation).
    nodata = 65535
    dem = np.zeros((5, 9), dtype=np.uint16) + 10
    dem[3, 4] = nodata
    vs = raster_ops.viewshed(dem, 2, 0, observer_height=1.0, nodata=nodata)
    assert vs[2, :].all()
    assert not vs[3, 4]                 # the NoData cell itself


# ------------------------------------------- batched geometry kernels

def test_polygons_intersect_batch_matches_scalar():
    rng = np.random.default_rng(7)

    def rand_poly(nv, cx, cy, r):
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.3 * r, r, nv)
        ring = np.column_stack(
            [cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
        )
        return geom.wkb_write_polygon([ring])

    was, wbs = [], []
    for _ in range(400):
        was.append(rand_poly(int(rng.integers(3, 9)), rng.uniform(-5, 5),
                             rng.uniform(-5, 5), rng.uniform(0.5, 3)))
        wbs.append(rand_poly(int(rng.integers(3, 9)), rng.uniform(-5, 5),
                             rng.uniform(-5, 5), rng.uniform(0.5, 3)))
    # holed pairs exercise the scalar fallback inside the batch
    wh = _c_hole()
    for _ in range(20):
        was.append(wh)
        wbs.append(rand_poly(4, rng.uniform(-2, 12), rng.uniform(-2, 12), 3.0))
    batch = geom.polygons_intersect_batch(was, wbs)
    scalar = np.array(
        [geom.polygons_intersect(a, b) for a, b in zip(was, wbs)]
    )
    np.testing.assert_array_equal(batch, scalar)
    assert 0 < scalar.sum() < len(scalar)  # both outcomes exercised


def test_clip_ring_to_rects_batch_matches_scalar():
    rng = np.random.default_rng(3)
    for _ in range(50):
        nv = int(rng.integers(3, 10))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(1, 5, nv)
        ring = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
        k = 20
        xmin = rng.uniform(-6, 4, k)
        ymin = rng.uniform(-6, 4, k)
        xmax = xmin + rng.uniform(0.5, 4, k)
        ymax = ymin + rng.uniform(0.5, 4, k)
        pts, cnt = geom.clip_ring_to_rects_batch(ring, xmin, ymin, xmax, ymax)
        for j in range(k):
            want = geom.clip_polygon_to_rect(
                ring, xmin[j], ymin[j], xmax[j], ymax[j]
            )
            if want is None:
                assert cnt[j] == 0
            else:
                np.testing.assert_array_equal(pts[j, : cnt[j]], want[:-1])


# -------------------------------------- pip_join broadcast size guard

def test_pip_join_world_polygon_falls_back(spark, monkeypatch):
    """A world-spanning polygon whose cover-cell enumeration exceeds the
    broadcast cap must fall back to the distributed path and still be
    exact (VERDICT r2 'what's wrong' #2)."""
    from geotrellis_spark.functions import exprs

    pts = spark.range(300).selectExpr(
        "id",
        f"{exprs.lon_sql('id * 13')} as lon",
        f"{exprs.lat_sql('id * 29')} as lat",
    )
    world = geom.wkb_write_polygon([np.array(
        [[-179.9, -89.9], [179.9, -89.9], [179.9, 89.9], [-179.9, 89.9]]
    )])
    small = geom.wkb_write_polygon([np.array(
        [[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0]]
    )])
    polys = spark.createDataFrame(
        [(1, bytearray(world)), (2, bytearray(small))],
        "geom_id long, wkb binary",
    )
    with monkeypatch.context() as m:
        # world at zoom 6 = 4096 cells > cap -> distributed path
        m.setattr(spatial, "MAX_BROADCAST_CELLS", 1000)
        out = spatial.pip_join(pts, polys, zoom=6)
        got = sorted((r["id"], r["geom_id"]) for r in out.collect())
    lon, lat = exprs.lonlat_np(np.arange(300) * 13, np.arange(300) * 29)
    expect = []
    for gid, wkb in ((1, world), (2, small)):
        inside = geom.points_in_polygon(lon, lat, wkb)
        expect += [(int(i), gid) for i in np.arange(300)[inside]]
    assert got == sorted(expect)
    # same query under the default caps (broadcast path) is identical
    out2 = spatial.pip_join(pts, polys, zoom=6)
    assert sorted((r["id"], r["geom_id"]) for r in out2.collect()) == got


def _open_ring_wkb(ring):
    """Single-ring polygon WKB whose ring is NOT closed (the last
    vertex differs from the first); wkb_write_polygon always closes."""
    ring = np.asarray(ring, dtype="<f8")
    return (
        struct.pack("<BIII", 1, 3, 1, ring.shape[0]) + ring.tobytes()
    )


@pytest.mark.parametrize("path", ["broadcast", "distributed", "indexed"])
def test_pip_mixed_geometries_every_refine_path(spark, monkeypatch,
                                                tmp_path, path):
    """Closed and unclosed single rings of different vertex counts, a
    concave hole and a two-part multipolygon, through every PIP refine
    entry point: each must equal points_in_polygon per polygon."""
    polys = [
        (1, geom.wkb_write_polygon([np.array(
            [[20.0, 0.0], [30.0, 0.0], [30.0, 10.0], [20.0, 10.0]]
        )])),
        (2, _open_ring_wkb(
            [[-10.0, 0.0], [-2.0, 1.0], [-1.0, 8.0], [-6.0, 11.0], [-9.5, 6.0]]
        )),
        (3, _c_hole()),
        (4, geom.wkt_read(
            "MULTIPOLYGON (((0 -12, 9 -12, 4 -3, 0 -12)), "
            "((14 -12, 26 -12, 26 -2, 14 -2, 14 -12), "
            "(17 -9, 23 -9, 23 -5, 17 -5, 17 -9)))"
        )),
    ]
    gx, gy = np.meshgrid(np.arange(-12.0, 32.0, 0.25),
                         np.arange(-14.0, 13.0, 0.25))
    lon, lat = gx.ravel(), gy.ravel()
    pts = spark.createDataFrame(
        list(zip(range(lon.size), lon.tolist(), lat.tolist())),
        "id long, lon double, lat double",
    )
    polys_df = spark.createDataFrame(
        [(g, bytearray(w)) for g, w in polys], "geom_id long, wkb binary"
    )
    if path == "indexed":
        base = str(tmp_path / "vindex")
        spatial.write_vector_index(polys_df, base, zoom=6)
        out = spatial.pip_join_indexed(spark, base, pts)
    else:
        if path == "distributed":
            monkeypatch.setattr(spatial, "MAX_BROADCAST_CELLS", 0)
        out = spatial.pip_join(pts, polys_df, zoom=6)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("MapInPandas" in plan) == (path == "distributed")
    got = sorted((r["id"], r["geom_id"]) for r in out.collect())
    want = sorted(
        (int(i), g) for g, w in polys
        for i in np.nonzero(geom.points_in_polygon(lon, lat, w))[0]
    )
    assert got == want
    assert {g for _, g in got} == {1, 2, 3, 4}


def test_vector_join_with_holes(spark):
    """vector_join refine now goes through the batched kernel; pairs
    whose intersection is only visible across a hole ring must appear
    (the ADVICE hole-notch case, end-to-end through Spark)."""
    a_polys = [(1, bytearray(_c_hole()))]
    tri_in = np.array([[3.0, 4.0], [7.0, 4.0], [5.0, 7.0]])      # crosses notch
    tri_out = np.array([[6.5, 5.5], [7.5, 5.5], [7.0, 7.5]])     # inside hole
    b_polys = [
        (10, bytearray(geom.wkb_write_polygon([tri_in]))),
        (20, bytearray(geom.wkb_write_polygon([tri_out]))),
    ]
    a = spark.createDataFrame(a_polys, "a_id long, wkb binary")
    b = spark.createDataFrame(b_polys, "b_id long, wkb binary")
    out = spatial.vector_join(a, b, zoom=6)
    got = sorted((r["a_id"], r["b_id"]) for r in out.collect())
    assert got == [(1, 10)]


# ----------------------------------------------- universal kriging RV8

def test_universal_kriging_exact_and_drift():
    px = np.array([2.0, 8.0, 5.0])
    py = np.array([2.0, 3.0, 8.0])
    xs = np.arange(10) + 0.5
    ys = (9 - np.arange(10)) + 0.5
    gx, gy = np.meshgrid(xs, ys)
    # (1) exact interpolator: evaluate on a lattice that contains the
    # sample locations and read the prediction at each sample
    pv = np.array([10.0, 30.0, 17.0])
    zs = raster_ops.universal_kriging(px, py, pv, px, py, rng=6.0, sill=2.0)
    # the (i, i) lattice cell is sample i's own (x, y)
    np.testing.assert_allclose(np.diag(zs), pv, atol=1e-9)
    # (2) a pure linear trend is reproduced EXACTLY everywhere (the
    # property ordinary kriging lacks — it reverts to the mean)
    trend = lambda x, y: 3.0 + 2.0 * x - 1.5 * y  # noqa: E731
    pvt = trend(px, py)
    zt = raster_ops.universal_kriging(px, py, pvt, xs, ys, rng=6.0, sill=2.0)
    np.testing.assert_allclose(zt, trend(gx, gy), atol=1e-8)
    zo = raster_ops.ordinary_kriging(px, py, pvt, xs, ys, rng=6.0, sill=2.0)
    assert np.abs(zo - trend(gx, gy)).max() > 1.0  # OK genuinely differs far away
    # (3) drift='constant' degenerates to ordinary kriging
    zc = raster_ops.universal_kriging(
        px, py, pv, xs, ys, rng=6.0, sill=2.0, drift="constant"
    )
    zo2 = raster_ops.ordinary_kriging(px, py, pv, xs, ys, rng=6.0, sill=2.0)
    np.testing.assert_allclose(zc, zo2, atol=1e-10)


# ------------------------------------ minhash cap + multi-probe recall

def test_minhash_dedup_cap_preserves_clusters(spark):
    """The production entry caps hot buckets but every kept doc still
    pairs with the bucket representative: duplicate clusters survive."""
    import pandas as pd
    from geotrellis_spark.operators import dedup

    docs = pd.DataFrame({
        "doc_id": range(40),
        "text": ["the same boilerplate text repeated verbatim here"] * 30
                + [f"unique document number {i} with its own words" for i in range(10)],
    })
    df = spark.createDataFrame(docs)
    capped = dedup.minhash_dedup(df, max_bucket=5)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    exact = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_candidates(df).collect()}
    assert pairs <= exact
    # far fewer pairs than the quadratic exact enumeration...
    assert len(pairs) < len(exact)
    # ...but every duplicate doc is still reachable from doc 0 (the
    # bucket representative): cluster connectivity preserved
    linked = {b for a, b in pairs if a == 0} | {0}
    assert linked >= set(range(1, 5))  # at least the kept bucket members


def test_multiprobe_recall_not_below_bucketed(spark):
    """Flip-1 probing can only ADD candidates, so per-query recall vs
    the exact top-k is >= the single-bucket LSH's recall."""
    from geotrellis_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["q_id"], r["vec_id"])
             for r in similarity.cosine_topk(emb).collect()}
    single = {(r["q_id"], r["vec_id"])
              for r in similarity.lsh_topk(emb).collect()}
    multi = {(r["q_id"], r["vec_id"])
             for r in similarity.multiprobe_topk(emb).collect()}
    rec_single = len(single & exact) / len(exact)
    rec_multi = len(multi & exact) / len(exact)
    assert rec_multi >= rec_single


def test_geo_kriging_custom_basis():
    """GeoKriging role: a caller-supplied drift basis reproduces a
    surface built from those covariates exactly, everywhere."""
    px = np.array([1.0, 6.0, 3.0, 8.0])
    py = np.array([2.0, 1.0, 7.0, 8.0])
    surf = lambda x, y: 5.0 + 2.0 * np.sin(0.3 * x) - 0.7 * y  # noqa: E731
    basis = lambda x, y: np.stack(  # noqa: E731
        [np.ones_like(x), np.sin(0.3 * x), y], axis=-1
    )
    xs = np.arange(10) + 0.5
    ys = (9 - np.arange(10)) + 0.5
    z = raster_ops.universal_kriging(
        px, py, surf(px, py), xs, ys, rng=4.0, sill=1.5, basis_fn=basis
    )
    gx, gy = np.meshgrid(xs, ys)
    np.testing.assert_allclose(z, surf(gx, gy), atol=1e-8)
