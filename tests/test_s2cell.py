"""S2-style cube-face cell ids (core/s2cell.py).

Invariant-gated (no reference implementation exists in the sandbox, so
the contract is the published construction's properties, not Google's
bit layout): center round-trips at every level, parents are pure
shifts that agree with direct coarse assignment, descendant id ranges
contain the fine cells, the quadratic ST visibly evens cell areas vs
the linear transform, poles and the antimeridian are ordinary points,
and the Spark ``s2_assign`` operator equals the numpy kernel.
"""

import numpy as np
import pytest

from geotrellis_spark.core import s2cell as s2


def _sphere_points(n, seed=1):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    return lon, lat


def test_roundtrip_all_levels():
    lon, lat = _sphere_points(20000)
    for lvl in (0, 1, 2, 8, 16, 30):
        c = s2.s2_cell(lon, lat, lvl)
        assert c.min() >= 0 and c.max() < 6 * (1 << (2 * lvl))
        clon, clat = s2.s2_center(c, lvl)
        assert (s2.s2_cell(clon, clat, lvl) == c).all()


def test_parent_is_shift_and_matches_coarse_assignment():
    lon, lat = _sphere_points(20000, seed=2)
    for lvl, d in ((12, 1), (12, 5), (30, 10), (20, 20)):
        fine = s2.s2_cell(lon, lat, lvl)
        assert (
            s2.s2_parent(fine, lvl, d) == s2.s2_cell(lon, lat, lvl - d)
        ).all()
    with pytest.raises(ValueError):
        s2.s2_parent(np.array([0]), 5, 6)


def test_descendant_ranges_contain_fine_cells():
    lon, lat = _sphere_points(20000, seed=3)
    fine = s2.s2_cell(lon, lat, 18)
    coarse = s2.s2_cell(lon, lat, 10)
    lo, hi = s2.s2_range(coarse, 10, 18)
    assert ((fine >= lo) & (fine < hi)).all()
    # a coarse cover becomes ranges totalling exactly 4^dk ids per cell
    assert ((hi - lo) == 1 << 16).all()


def test_quadratic_evens_areas_vs_linear():
    """Empirical cell-area uniformity at level 3 via uniform-on-sphere
    sampling: the quadratic transform's max/min per-cell hit ratio must
    beat a linear (s = (u+1)/2) variant decisively — the published ~2.1
    vs ~5.2 area-ratio gap is the reason S2 uses the quadratic."""
    rng = np.random.default_rng(4)
    m = 1_500_000
    lon = rng.uniform(-180.0, 180.0, m)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, m)))
    x, y, z = s2._lonlat_to_xyz(lon, lat)
    face, u, v = s2._face_uv(x, y, z)
    n = 1 << 3

    def counts(su, sv):
        i = np.clip((su * n).astype(np.int64), 0, n - 1)
        j = np.clip((sv * n).astype(np.int64), 0, n - 1)
        return np.bincount(
            (face * n + i) * n + j, minlength=6 * n * n
        )

    cq = counts(s2._u_to_s(u), s2._u_to_s(v))
    cl = counts((u + 1.0) / 2.0, (v + 1.0) / 2.0)
    assert (cq > 0).all() and (cl > 0).all()
    rq = cq.max() / cq.min()
    rl = cl.max() / cl.min()
    assert rq < 2.6          # quadratic: ~2.1 + sampling noise
    assert rl > rq * 1.7     # linear is decisively worse (~5.2)


def test_poles_and_antimeridian_are_ordinary():
    lvl = 12
    # both poles round-trip and land on the +z / -z faces
    c = s2.s2_cell(np.array([0.0, 120.0]), np.array([90.0, 90.0]), lvl)
    assert (s2.s2_decode(c, lvl)[0] == 2).all()
    c = s2.s2_cell(np.array([0.0]), np.array([-90.0]), lvl)
    assert s2.s2_decode(c, lvl)[0][0] == 5
    # antimeridian: +/-180 are the same meridian up to one ulp of
    # sin(pi) (+/-1.2e-16), so they land in the same or a grid-adjacent
    # cell on the same face — never on different faces or far apart
    ca = s2.s2_cell(np.array([180.0]), np.array([10.0]), lvl)
    cb = s2.s2_cell(np.array([-180.0]), np.array([10.0]), lvl)
    fa, ia, ja = s2.s2_decode(ca, lvl)
    fb, ib, jb = s2.s2_decode(cb, lvl)
    assert fa[0] == fb[0]
    assert abs(int(ia[0] - ib[0])) + abs(int(ja[0] - jb[0])) <= 1
    # pole-adjacent cells stay near-uniform in area: a 0.1-degree polar
    # cap circle crosses a bounded RING of level-12 cells (radius ~4.5
    # cells -> ~30-50 distinct), not one degenerate key row like a
    # lat/lng lattice and not thousands of polar slivers
    lonr = np.linspace(-180.0, 180.0, 4000)
    cap = s2.s2_cell(lonr, np.full(4000, 89.9), lvl)
    assert 20 <= len(np.unique(cap)) <= 200


def test_level_bounds_and_level0():
    with pytest.raises(ValueError):
        s2.s2_cell(0.0, 0.0, 31)
    lon, lat = _sphere_points(1000, seed=5)
    c = s2.s2_cell(lon, lat, 0)
    assert set(np.unique(c)) <= set(range(6))
    f, i, j = s2.s2_decode(c, 0)
    assert (f == c).all() and (i == 0).all()


def test_spark_s2_assign_matches_kernel(spark):
    from geotrellis_spark.operators import spatial

    lon, lat = _sphere_points(500, seed=6)
    df = spark.createDataFrame(
        [(int(k), float(lon[k]), float(lat[k])) for k in range(500)],
        "id long, lon double, lat double",
    )
    got = {
        r["id"]: r["s2_cell"]
        for r in spatial.s2_assign(df, "lon", "lat", 12).collect()
    }
    want = s2.s2_cell(lon, lat, 12)
    assert got == {k: int(want[k]) for k in range(500)}


@pytest.mark.parametrize("bbox", [
    (-10.0, 40.0, 25.0, 60.0),     # mid-latitudes, crosses faces
    (160.0, -40.0, 180.0, -10.0),  # touches the antimeridian
    (-180.0, 70.0, 180.0, 90.0),   # full north polar cap
    (-1.0, -1.0, 1.0, 1.0),        # equator, face center
    (-120.0, -89.9, -60.0, -80.0),  # south polar neighborhood
])
def test_cover_is_superset(bbox):
    """The conservative-cover contract that prune-then-refine relies
    on: EVERY point inside the box must land in a cover cell."""
    rng = np.random.default_rng(11)
    for lvl in (2, 5, 8):
        cover = set(s2.s2_cover(bbox, lvl).tolist())
        assert cover
        lon = rng.uniform(bbox[0], bbox[2], 15000)
        lat = rng.uniform(bbox[1], bbox[3], 15000)
        cells = np.unique(s2.s2_cell(lon, lat, lvl))
        assert not (set(cells.tolist()) - cover)


def test_cover_is_reasonably_tight():
    # conservative, but not the whole sphere: a 2x2-degree box at
    # level 8 (cells ~0.35 deg) must stay within a few x of the ideal
    cover = s2.s2_cover((-1.0, -1.0, 1.0, 1.0), 8)
    assert len(cover) < 200       # ideal ~33, sphere = 393k
    with pytest.raises(ValueError):
        s2.s2_cover((170.0, 0.0, -170.0, 10.0), 5)  # wrapping box


def test_spark_s2_range_filter_prune_equals_brute(spark):
    from geotrellis_spark.operators import spatial

    rng = np.random.default_rng(12)
    lon = rng.uniform(-180.0, 180.0, 4000)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 4000)))
    df = spark.createDataFrame(
        [(int(k), float(lon[k]), float(lat[k])) for k in range(4000)],
        "id long, lon double, lat double",
    )
    keyed = spatial.s2_assign(df, "lon", "lat", 8).cache()
    try:
        for bbox in ((-10.0, 40.0, 25.0, 60.0), (-180.0, 70.0, 180.0, 90.0)):
            got = sorted(
                r["id"] for r in spatial.s2_range_filter(
                    keyed, 8, *bbox
                ).collect()
            )
            want = sorted(
                int(k) for k in range(4000)
                if bbox[0] <= lon[k] <= bbox[2]
                and bbox[1] <= lat[k] <= bbox[3]
            )
            assert got == want and got
    finally:
        keyed.unpersist()


def test_cell_ranges_pred_admits_exactly_the_cover(spark):
    """The merged ranges of s2_prune's level-8 box cover admit the
    cover's ids and no other: every level-8 id goes through the
    predicate."""
    from geotrellis_spark.operators import spatial

    cover = s2.s2_cover((-10.0, 40.0, 25.0, 60.0), 8)
    ids = spark.range(6 * 4 ** 8).withColumnRenamed("id", "s2_cell")
    got = ids.where(spatial._cell_ranges_pred(cover, "s2_cell"))
    assert sorted(r[0] for r in got.collect()) == cover.tolist()


@pytest.mark.parametrize("cap", [
    (10.0, 50.0, 3.0),      # mid-latitude small cap
    (0.0, 89.5, 2.0),       # cap containing the north pole
    (179.0, -20.0, 5.0),    # cap straddling the antimeridian
    (-60.0, 0.0, 20.0),     # big equatorial cap
])
def test_cap_cover_is_superset(cap):
    lonc, latc, r = cap
    rng = np.random.default_rng(13)
    for lvl in (3, 6, 9):
        cover = set(s2.s2_cover_cap(lonc, latc, r, lvl).tolist())
        assert cover
        # rejection-sample points inside the cap (uniform on sphere)
        lon = rng.uniform(-180.0, 180.0, 400000)
        lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 400000)))
        d = s2.angular_distance(lonc, latc, lon, lat)
        lon, lat = lon[d <= r], lat[d <= r]
        assert len(lon) > 50
        cells = np.unique(s2.s2_cell(lon, lat, lvl))
        assert not (set(cells.tolist()) - cover)


def test_cap_cover_reasonably_tight():
    # 3-degree cap at level 9 (cells ~0.18 deg): disc ~ pi*(3/0.176)^2
    # ~ 900 ideal; conservative ring stays within a few x
    cover = s2.s2_cover_cap(10.0, 50.0, 3.0, 9)
    assert 200 < len(cover) < 6000


def test_spark_s2_radius_filter_equals_brute(spark):
    from geotrellis_spark.operators import spatial

    rng = np.random.default_rng(14)
    lon = rng.uniform(-180.0, 180.0, 4000)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 4000)))
    df = spark.createDataFrame(
        [(int(k), float(lon[k]), float(lat[k])) for k in range(4000)],
        "id long, lon double, lat double",
    )
    keyed = spatial.s2_assign(df, "lon", "lat", 7).cache()
    try:
        for lonc, latc, r in ((10.0, 50.0, 8.0), (179.0, -20.0, 6.0),
                              (0.0, 88.0, 4.0)):
            got = sorted(
                x["id"] for x in spatial.s2_radius_filter(
                    keyed, 7, lonc, latc, r
                ).collect()
            )
            d = s2.angular_distance(lonc, latc, lon, lat)
            want = sorted(int(k) for k in range(4000) if d[k] <= r)
            assert got == want
    finally:
        keyed.unpersist()


def _brute_knn(qlon, qlat, lon, lat, ids, k):
    d = s2.angular_distance(qlon, qlat, lon, lat)
    order = np.lexsort((ids, d))
    return [int(ids[j]) for j in order[:k]]


def test_spark_s2_knn_pole_and_antimeridian(spark):
    """s2_knn_join is exact where the planar metric breaks: queries at
    both poles (every direction is 'south', or 'north') and on the
    antimeridian (nearest neighbors straddle the lon=+-180 seam), and a
    query on a point with exact duplicates (ties broken by pid)."""
    from geotrellis_spark.operators import spatial

    rng = np.random.default_rng(21)
    lon = rng.uniform(-180.0, 180.0, 3000)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 3000)))
    # guarantee near-seam and near-pole neighbors exist
    lon[:20] = rng.uniform(179.0, 180.0, 20)
    lat[:20] = rng.uniform(-25.0, -15.0, 20)
    lon[20:40] = rng.uniform(-180.0, -179.0, 20)
    lat[20:40] = rng.uniform(-25.0, -15.0, 20)
    lat[40:60] = rng.uniform(88.0, 90.0, 20)
    lat[60:80] = rng.uniform(-90.0, -88.0, 20)
    # 12 copies of one point, more than k: the k-set is a pid tie-break
    lon[80:92], lat[80:92] = 33.3, 44.4
    ids = np.arange(3000)
    pts = spark.createDataFrame(
        [(int(i), float(lon[i]), float(lat[i])) for i in ids],
        "pid long, lon double, lat double",
    )
    queries = [(0, 179.9, -20.0), (1, 0.0, 90.0), (2, -179.95, -20.5),
               (3, 10.0, -90.0), (4, 33.3, 44.4)]
    qdf = spark.createDataFrame(
        queries, "q_id long, q_lon double, q_lat double"
    )
    out = spatial.s2_knn_join(
        pts, qdf, k=7, level=5,
        point_cols=("pid", "lon", "lat"),
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["q_id"], []).append((r["rank"], r["pid"]))
    for qid, qlon, qlat in queries:
        want = _brute_knn(qlon, qlat, lon, lat, ids, 7)
        assert [p for _, p in sorted(got[qid])] == want
    assert [p for _, p in sorted(got[4])] == list(range(80, 87))
    # the antimeridian query's k-set must straddle the seam: both
    # lon signs present (this is exactly what planar rings miss)
    seam = [p for _, p in sorted(got[0])]
    assert any(lon[p] > 0 for p in seam) and any(lon[p] < 0 for p in seam)


def test_spark_s2_knn_k_over_n_and_empty_queries(spark):
    """k above the point count makes every cell a candidate: each query
    gets every point, in haversine order. An empty queries side gives
    zero rows with the usual schema."""
    from geotrellis_spark.operators import spatial

    rng = np.random.default_rng(22)
    lon = rng.uniform(-180.0, 180.0, 40)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 40)))
    ids = np.arange(40)
    pts = spark.createDataFrame(
        [(int(i), float(lon[i]), float(lat[i])) for i in ids],
        "pid long, lon double, lat double",
    )
    queries = [(0, 10.0, 50.0), (1, -170.0, -60.0)]
    qdf = spark.createDataFrame(
        queries, "q_id long, q_lon double, q_lat double"
    )
    out = spatial.s2_knn_join(
        pts, qdf, k=60, level=5, point_cols=("pid", "lon", "lat"),
    )
    rows = out.collect()
    for qid, qlon, qlat in queries:
        got = [r["pid"] for r in sorted(
            (r for r in rows if r["q_id"] == qid), key=lambda r: r["rank"]
        )]
        assert got == _brute_knn(qlon, qlat, lon, lat, ids, 60)
        assert len(got) == 40

    empty = spatial.s2_knn_join(
        pts, qdf.limit(0), k=5, level=5, point_cols=("pid", "lon", "lat"),
    )
    assert empty.collect() == []
    assert empty.schema.simpleString() == out.schema.simpleString()
    assert empty.columns == ["q_id", "pid", "lon", "lat", "dist", "rank"]


def test_s2_store_prune_layers_and_equality(spark, tmp_path):
    """write_s2_store/read_s2_store: result == brute bbox filter, and
    the read plan shows all three prune layers — PartitionFilters on
    the coarse parent, pushed s2_cell bounds, pushed lon/lat refine."""
    import re

    from geotrellis_spark.operators import spatial

    rng = np.random.default_rng(31)
    lon = rng.uniform(-180.0, 180.0, 5000)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 5000)))
    df = spark.createDataFrame(
        [(int(i), float(lon[i]), float(lat[i])) for i in range(5000)],
        "id long, lon double, lat double",
    )
    base = str(tmp_path / "s2store")
    spatial.write_s2_store(df, base, level=8, coarse_level=3)

    for box in ((-10.0, 40.0, 25.0, 60.0), (160.0, -30.0, 180.0, -5.0)):
        out = spatial.read_s2_store(spark, base, *box)
        got = sorted(r["id"] for r in out.collect())
        x0, y0, x1, y1 = box
        want = sorted(
            int(i) for i in range(5000)
            if x0 <= lon[i] <= x1 and y0 <= lat[i] <= y1
        )
        assert got == want and got

    plan = spatial.read_s2_store(
        spark, base, -10.0, 40.0, 25.0, 60.0
    )._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*s2_part", plan), \
        plan[-2000:]
    assert re.search(r"PushedFilters: \[[^\]]*s2_cell", plan), \
        plan[-2000:]
    assert re.search(r"PushedFilters: \[[^\]]*lon", plan), plan[-2000:]


def _hexring():
    return np.array([
        (30.0, -10.0), (45.0, -4.0), (47.0, 12.0),
        (36.0, 20.0), (24.0, 14.0), (22.0, -2.0),
    ])


def test_polygon_cover_is_superset():
    from geotrellis_spark.core import geom as G

    ring = _hexring()
    closed = np.vstack([ring, ring[:1]])
    rng = np.random.default_rng(41)
    for lvl in (4, 6, 8):
        cover = set(s2.s2_cover_polygon(ring, lvl).tolist())
        assert cover
        lon = rng.uniform(20.0, 50.0, 200000)
        lat = rng.uniform(-12.0, 22.0, 200000)
        inside = G.points_in_rings(lon, lat, [closed])
        lon, lat = lon[inside], lat[inside]
        assert len(lon) > 1000
        cells = np.unique(s2.s2_cell(lon, lat, lvl))
        assert not (set(cells.tolist()) - cover)
    # tighter than the bbox cover (the polygon is ~55% of its bbox)
    bbox_cover = s2.s2_cover((22.0, -10.0, 47.0, 20.0), 8)
    assert len(s2.s2_cover_polygon(ring, 8)) < len(bbox_cover)


def test_spark_s2_convex_region_equals_brute(spark):
    from geotrellis_spark.core import geom as G
    from geotrellis_spark.operators import spatial

    ring = _hexring()
    closed = np.vstack([ring, ring[:1]])
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180.0, 180.0, 4000)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 4000)))
    # densify inside the hexagon's bbox so the filter has signal
    lon[:1500] = rng.uniform(20.0, 50.0, 1500)
    lat[:1500] = rng.uniform(-12.0, 22.0, 1500)
    df = spark.createDataFrame(
        [(int(i), float(lon[i]), float(lat[i])) for i in range(4000)],
        "id long, lon double, lat double",
    )
    keyed = spatial.s2_assign(df, "lon", "lat", 7)
    got = sorted(
        r["id"] for r in spatial.s2_convex_region_filter(
            keyed, 7, ring
        ).collect()
    )
    # brute half-plane replication (same arithmetic, boundary-exact)
    keep = np.ones(4000, bool)
    n = len(ring)
    for k in range(n):
        x0, y0 = ring[k]
        x1, y1 = ring[(k + 1) % n]
        keep &= ((x1 - x0) * (lat - y0) - (y1 - y0) * (lon - x0)) >= 0
    want = sorted(int(i) for i in np.flatnonzero(keep))
    assert got == want and len(got) > 300
    # sanity: half-plane set == ray-cast interior (away from edges)
    inside = G.points_in_rings(lon, lat, [closed])
    assert set(np.flatnonzero(inside)) == set(want)

    with pytest.raises(ValueError, match="convex"):
        spatial.s2_convex_region_filter(
            keyed, 7, np.array([(0, 0), (10, 0), (10, 10), (0, 10)])[::-1]
        )
    with pytest.raises(ValueError, match="convex"):
        spatial.s2_convex_region_filter(
            keyed, 7,
            np.array([(0.0, 0.0), (10.0, 0.0), (5.0, 4.0),
                      (10.0, 10.0), (0.0, 10.0)]),
        )


# ------------------------------------------------ frozen cover reference
# The per-cell stack walks the level-by-level frontier replaced, kept
# verbatim (module helpers qualified with ``s2.``) so the frontier is
# checked against an independent copy of the old arithmetic, not
# against its own box kernel.

def _ref_cell_lonlat_box(cell: int, level: int, samples: int = 9):
    n = 1 << level
    fa, ia, ja = s2.s2_decode(np.array([cell], dtype=np.int64), level)
    face, i, j = int(fa[0]), int(ia[0]), int(ja[0])
    t = np.linspace(0.0, 1.0, samples)
    per = np.concatenate([
        np.stack([i + t, np.full_like(t, float(j))], 1),
        np.stack([np.full_like(t, i + 1.0), j + t], 1),
        np.stack([i + 1.0 - t, np.full_like(t, j + 1.0)], 1),
        np.stack([np.full_like(t, float(i)), j + 1.0 - t], 1),
    ])
    u = s2._s_to_u(per[:, 0] / n)
    v = s2._s_to_u(per[:, 1] / n)
    x, y, z = s2._uv_from_face(np.full(len(per), face, np.int64), u, v)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    # dilation: max angular step between neighboring samples
    dlat = np.abs(np.diff(lat)).max()
    dlon = np.abs((np.diff(lon) + 180.0) % 360.0 - 180.0).max()
    pad = float(max(dlat, dlon))
    # a cell containing a pole (the (s,t)=(0.5,0.5) point of face 2 or
    # 5) spans every longitude; its boundary lats bound the other edge
    if face in (2, 5) and i <= n / 2 <= i + 1 and j <= n / 2 <= j + 1:
        if face == 2:
            return -180.0, float(lat.min()) - pad, 180.0, 90.0
        return -180.0, -90.0, 180.0, float(lat.max()) + pad
    if np.abs(np.diff(lon)).max() > 180.0:  # crosses the antimeridian:
        # express lons in [0, 360) — the caller's +/-360 shifts match
        lonw = np.where(lon < 0.0, lon + 360.0, lon)
        return (
            float(lonw.min()) - pad, float(lat.min()) - pad,
            float(lonw.max()) + pad, float(lat.max()) + pad,
        )
    return (
        float(lon.min()) - pad, float(lat.min()) - pad,
        float(lon.max()) + pad, float(lat.max()) + pad,
    )


def _ref_s2_cover(bbox, level):
    lon0, lat0, lon1, lat1 = (float(v) for v in bbox)
    if lon0 > lon1:
        raise ValueError("antimeridian-wrapping bbox: split it first")
    out: list[int] = []
    stack: list[tuple[int, int]] = [(f, 0) for f in range(6)]
    while stack:
        cell, lvl = stack.pop()
        cx0, cy0, cx1, cy1 = _ref_cell_lonlat_box(cell, lvl)
        # lon overlap with 360-wrap candidates
        lon_hit = any(
            cx0 + s <= lon1 and cx1 + s >= lon0
            for s in (-360.0, 0.0, 360.0)
        )
        if not (lon_hit and cy0 <= lat1 and cy1 >= lat0):
            continue
        if lvl == level:
            out.append(int(cell))
        else:
            stack.extend(
                (cell * 4 + k, lvl + 1) for k in range(4)
            )
    return np.array(sorted(out), dtype=np.int64)


def _ref_s2_cover_polygon(ring, level):
    from geotrellis_spark.core import geom as G

    ext = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(ext[0], ext[-1]):
        ext = np.vstack([ext, ext[:1]])
    poly_wkb = G.wkb_write_polygon([ext])
    px0, py0 = ext.min(axis=0)
    px1, py1 = ext.max(axis=0)
    out: list[int] = []
    stack: list[tuple[int, int]] = [(f, 0) for f in range(6)]
    while stack:
        cell, lvl = stack.pop()
        cx0, cy0, cx1, cy1 = _ref_cell_lonlat_box(cell, lvl)
        hit = False
        for s in (-360.0, 0.0, 360.0):
            if cx0 + s > px1 or cx1 + s < px0 or cy0 > py1 or cy1 < py0:
                continue
            box = np.array([
                [cx0 + s, cy0], [cx1 + s, cy0],
                [cx1 + s, cy1], [cx0 + s, cy1], [cx0 + s, cy0],
            ])
            if G.polygons_intersect(
                G.wkb_write_polygon([box]), poly_wkb
            ):
                hit = True
                break
        if not hit:
            continue
        if lvl == level:
            out.append(int(cell))
        else:
            stack.extend((cell * 4 + k, lvl + 1) for k in range(4))
    return np.array(sorted(out), dtype=np.int64)


def _ref_s2_cover_cap(lon, lat, radius_deg, level):
    lon, lat = float(lon), float(lat)
    out: list[int] = []
    stack: list[tuple[int, int]] = [(f, 0) for f in range(6)]
    while stack:
        cell, lvl = stack.pop()
        cx0, cy0, cx1, cy1 = _ref_cell_lonlat_box(cell, lvl)
        # clamp with the +-360 lon candidates (boxes may be in [0,360))
        best = None
        for s in (-360.0, 0.0, 360.0):
            cl = min(max(lon, cx0 + s), cx1 + s)
            cp = min(max(lat, cy0), cy1)
            d = float(s2.angular_distance(lon, lat, cl, cp))
            best = d if best is None else min(best, d)
        diag = float(np.hypot(cx1 - cx0, cy1 - cy0))
        if best > radius_deg + diag:
            continue
        if lvl == level:
            out.append(int(cell))
        else:
            stack.extend((cell * 4 + k, lvl + 1) for k in range(4))
    return np.array(sorted(out), dtype=np.int64)


_NEAR_AM_QUAD = [(172.0, -8.0), (179.5, -6.0), (179.0, 4.0), (170.0, 2.0)]


@pytest.mark.parametrize("kind,args,level", [
    ("box", ((-10.0, 40.0, 25.0, 60.0),), 8),        # s2_prune's box
    ("box", ((-179.0, -85.0, 179.0, 85.0),), 4),     # near-global
    ("box", ((-70.0, -50.0, -40.0, -20.0),), 7),     # southern
    ("box", ((-180.0, 85.0, 180.0, 90.0),), 9),      # north pole
    ("box", ((-120.0, -89.9, -60.0, -80.0),), 8),    # south polar
    ("cap", (-170.0, 10.0, 25.0), 6),                # s2_radius's cap
    ("cap", (0.0, 89.5, 2.0), 8),                    # contains the pole
    ("cap", (-60.0, 0.0, 40.0), 5),                  # 40-degree cap
    ("cap", (100.0, -30.0, 4.0), 6),                 # small cap
    ("cap", (100.0, -30.0, 64.0), 6),                # 64-degree cap
    ("polygon", (_hexring(),), 7),                   # s2_region's ring
    ("polygon", (_hexring(),), 4),
    ("polygon", (np.array(_NEAR_AM_QUAD),), 6),      # near-antimeridian
])
def test_frontier_cover_equals_stack_walk_reference(kind, args, level):
    """The level-by-level frontier returns exactly the cells (same ids,
    same sorted order) of the per-cell stack walk it replaced."""
    new, ref = {
        "box": (s2.s2_cover, _ref_s2_cover),
        "cap": (s2.s2_cover_cap, _ref_s2_cover_cap),
        "polygon": (s2.s2_cover_polygon, _ref_s2_cover_polygon),
    }[kind]
    got, want = new(*args, level), ref(*args, level)
    assert len(want) and np.array_equal(got, want)
