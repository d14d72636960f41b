"""Spatial join / kNN / pruning e2e vs numpy oracles (reference spec
role: ``spark/src/test/.../join/VectorJoinSpec``, ``knn/KNearestSpec``,
``partition/SpacePartitionerSpec`` — SURVEY.md §5)."""

import numpy as np
import pytest

from geotrellis_spark.core import geom as G
from geotrellis_spark.core import s2cell
from geotrellis_spark.core import sfc
from geotrellis_spark.functions import exprs
from geotrellis_spark.operators import spatial
from geotrellis_spark.session import local_df

N_POINTS = 2000


@pytest.fixture(scope="module")
def points_df(spark):
    df = spark.range(N_POINTS).selectExpr(
        "id",
        f"{exprs.lon_sql('id')} as lon",
        f"{exprs.lat_sql('id')} as lat",
    )
    return df.cache()


def _oracle_lonlat():
    return exprs.lonlat_np(np.arange(N_POINTS), np.arange(N_POINTS))


def test_assign_cells_matches_sql_formula(spark, points_df):
    out = spatial.assign_cells(points_df, "lon", "lat", 8)
    got = {r["id"]: (r["key_col"], r["key_row"], r["cell_id"]) for r in out.collect()}
    sql = points_df.selectExpr(
        "id",
        f"{exprs.key_col_sql('lon', 8)} as kc",
        f"{exprs.key_row_sql('lat', 8)} as kr",
    ).selectExpr("id", "kc", "kr", f"{exprs.zorder_sql('kc', 'kr', 8)} as cell")
    for r in sql.collect():
        assert got[r["id"]] == (r["kc"], r["kr"], r["cell"]), r["id"]


def test_cell_range_filter_equals_rectangle(spark, points_df, tmp_path):
    rect = (-60.0, -30.0, 70.0, 55.0)
    # stored layer (cell_id a parquet column): prune + refine;
    # JVM-keyed layer (cell_id an expression): the refine alone
    keyed = spatial.assign_cells(points_df, "lon", "lat", 6)
    keyed.write.parquet(str(tmp_path / "layer"))
    stored = spark.read.parquet(str(tmp_path / "layer"))
    inputs = {
        "cell_range_filter": spatial.cell_range_filter(stored, 6, *rect),
        "key_rect_filter": spatial.key_rect_filter(keyed, 6, *rect),
    }
    lon, lat = _oracle_lonlat()
    col, row = exprs.key_np(lon, lat, 6)
    c0, _ = exprs.key_np(np.array([-60.0]), np.array([0.0]), 6)
    c1, _ = exprs.key_np(np.array([70.0]), np.array([0.0]), 6)
    _, r0 = exprs.key_np(np.array([0.0]), np.array([55.0]), 6)
    _, r1 = exprs.key_np(np.array([0.0]), np.array([-30.0]), 6)
    keep = (col >= c0[0]) & (col <= c1[0]) & (row >= r0[0]) & (row <= r1[0])
    want = sorted(np.arange(N_POINTS)[keep].tolist())
    for name, pruned in inputs.items():
        assert sorted(r["id"] for r in pruned.collect()) == want, name


@pytest.mark.parametrize("hc,hr", [(0, 0), (1, 2), (5, 3), (9, 9)])
def test_rect_cells_equal_numpy_enumeration(spark, hc, hr):
    # n=8 grid; queries at a corner, on an edge and in the interior
    zoom, n = 3, 8
    qc = np.array([0, 7, 3], dtype=np.int64)
    qr = np.array([0, 4, 5], dtype=np.int64)
    df = local_df(
        spark,
        [(i, int(c), int(r)) for i, (c, r) in enumerate(zip(qc, qr))],
        "q_id bigint, qc bigint, qr bigint",
    )
    got = [
        (r["q_id"], r["cell_id"])
        for r in spatial._rect_cells(
            df, zoom, f"qc - {hc}", f"qc + {hc}", f"qr - {hr}", f"qr + {hr}"
        ).collect()
    ]
    want = []
    for i, (c, r) in enumerate(zip(qc, qr)):
        cols = np.arange(max(c - hc, 0), min(c + hc, n - 1) + 1)
        rows = np.arange(max(r - hr, 0), min(r + hr, n - 1) + 1)
        cc, rr = np.meshgrid(cols, rows)
        want += [(i, int(z)) for z in sfc.zorder(cc.ravel(), rr.ravel())]
    assert sorted(got) == sorted(want)


_PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas",
)


@pytest.fixture(scope="module")
def sf_tiny(tmp_path_factory):
    """The events and nation columns the read-path queries use, at the
    sf0.001 row counts (1000 events, 25 nations)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("sf_tiny")
    ids = np.arange(1000, dtype=np.int64)
    ts = np.datetime64("2024-01-01") + ids * np.timedelta64(2591, "s")
    pq.write_table(pa.table({
        "event_id": ids, "ts": ts.astype("datetime64[us]"),
        "user_id": ids * 7 % 389, "value": ids % 97 * 1.25,
    }), d / "events.parquet")
    pq.write_table(
        pa.table({"n_nationkey": np.arange(25, dtype=np.int32)}),
        d / "nation.parquet",
    )
    return str(d)


@pytest.mark.parametrize("name", [
    "range_query", "zonal_stats", "knn",
    "tile_assign", "cell_agg", "cell_extent", "spacetime_cell",
])
def test_read_path_queries_run_without_python_nodes(spark, sf_tiny, name):
    """Every plan a query executes is JVM-only: a Python node costs a
    fixed ~0.2 CPU s per task even when no rows reach it."""
    from geotrellis_spark.plans import driver_queries as dq

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return {
            e.executionId(): e.physicalPlanDescription()
            for e in (seq.apply(i) for i in range(seq.size()))
        }

    before = executions()
    dq.QUERIES[name][0](spark, sf_tiny).collect()
    plans = [p for i, p in executions().items() if i not in before]
    assert plans
    for plan in plans:
        assert not [n for n in _PY_NODES if n in plan], plan


def _diamond(cx, cy, rx, ry):
    return G.wkb_write_polygon(
        [np.array([[cx - rx, cy], [cx, cy - ry], [cx + rx, cy], [cx, cy + ry]])]
    )


def test_pip_join_diamonds(spark, points_df):
    polys = [(i, _diamond(-150.0 + i * 15.0, -60.0 + i * 7.0, 12.0, 9.0))
             for i in range(20)]
    polys_df = spark.createDataFrame(polys, ["geom_id", "wkb"])
    out = spatial.pip_join(points_df, polys_df, zoom=5)
    got = sorted((r["id"], r["geom_id"]) for r in out.collect())
    lon, lat = _oracle_lonlat()
    expect = []
    for gid, wkb in polys:
        inside = G.points_in_polygon(lon, lat, wkb)
        expect += [(int(i), gid) for i in np.arange(N_POINTS)[inside]]
    assert got == sorted(expect)
    assert len(got) > 20  # non-trivial join


def test_knn_exact(spark, points_df):
    queries = [(i, -170.0 + i * 40.0, -70.0 + i * 17.0) for i in range(8)]
    qdf = spark.createDataFrame(queries, ["q_id", "q_lon", "q_lat"])
    out = spatial.knn_join(
        points_df, qdf, k=5, zoom=5, point_cols=("id", "lon", "lat")
    )
    got = {(r["q_id"], r["rank"]): r["id"] for r in out.collect()}
    lon, lat = _oracle_lonlat()
    for qid, qlon, qlat in queries:
        d = np.hypot(lon - qlon, lat - qlat)
        order = np.lexsort((np.arange(N_POINTS), d))[:5]
        for rank, pid in enumerate(order, start=1):
            assert got[(qid, rank)] == int(pid), (qid, rank)
    assert len(got) == 8 * 5


def test_knn_many_queries_bounded_actions(spark, points_df):
    """A 400-query table completes exactly in the same one plan (the
    J4 scale contract: no per-query actions)."""
    qn = 400
    qdf = spark.range(qn).selectExpr(
        "id as q_id",
        f"{exprs.lon_sql('(id + 3) * 41')} as q_lon",
        f"{exprs.lat_sql('(id + 7) * 59')} as q_lat",
    )
    out = spatial.knn_join(
        points_df, qdf, k=3, zoom=5, point_cols=("id", "lon", "lat"),
    )
    got = {(r["q_id"], r["rank"]): r["id"] for r in out.collect()}
    assert len(got) == qn * 3
    lon, lat = _oracle_lonlat()
    qlon, qlat = exprs.lonlat_np((np.arange(qn) + 3) * 41, (np.arange(qn) + 7) * 59)
    for qid in range(0, qn, 37):  # spot-check a deterministic sample
        d = np.hypot(lon - qlon[qid], lat - qlat[qid])
        order = np.lexsort((np.arange(N_POINTS), d))[:3]
        for rank, pid in enumerate(order, start=1):
            assert got[(qid, rank)] == int(pid), (qid, rank)


def _knn_fixture(name):
    """(points (id, lon, lat), queries (q_id, q_lon, q_lat), k) at
    zoom 3, where a cell is 45 x 22.5 degrees."""
    rng = np.random.default_rng(9)
    corners = [(-180.0, -90.0), (180.0, 90.0), (-180.0, 90.0), (180.0, -90.0)]
    if name == "one_cell":  # every point in cell (4, 2); queries far away
        pts = np.column_stack([rng.uniform(1, 44, 60), rng.uniform(23, 44, 60)])
        return pts, corners + [(-100.0, -50.0)], 5
    if name == "sparse":  # one point in every other cell: k > any count
        c, r = np.meshgrid(np.arange(0, 8, 2), np.arange(8))
        lon = -180 + 45 * (c.ravel() + rng.uniform(0.05, 0.95, c.size))
        lat = 90 - 22.5 * (r.ravel() + rng.uniform(0.05, 0.95, r.size))
        return np.column_stack([lon, lat]), corners + [(3.0, 4.0)], 6
    if name == "k_over_n":  # fewer points than k: each query gets all
        pts = np.array([[10.0, 10.0], [-120.0, 60.0], [170.0, -80.0]])
        return pts, [(0.0, 0.0), (-180.0, 90.0)], 7
    if name == "ties":  # each location three times: distances tie
        base = np.column_stack([rng.uniform(-60, 60, 10), rng.uniform(-40, 40, 10)])
        return np.repeat(base, 3, axis=0), [(0.0, 0.0), (45.0, 22.5)], 8
    if name == "bound":  # nearest points 2 columns / 3 rows away
        # query at the NE corner of cell (4, 4); the k points of its own
        # cell sit at the SW corner, farther than points in cells
        # (6, 4) and (4, 1) just past the search rectangle's inner part
        pts = np.array([[0.5, -22.0]] * 3 + [[90.1, -0.5], [44.5, 45.1]])
        return pts, [(44.5, -0.5)], 3
    # "edges": points and queries exactly on cell edges and grid corners
    lon, lat = np.meshgrid(np.arange(-180.0, 181.0, 45.0), np.arange(-90.0, 91.0, 22.5))
    pts = np.column_stack([lon.ravel(), lat.ravel()])
    return pts, corners + [(0.0, 0.0), (45.0, 22.5), (-135.0, -67.5)], 4


@pytest.mark.parametrize(
    "fixture", ["one_cell", "sparse", "k_over_n", "ties", "edges", "bound"]
)
def test_knn_matches_brute_force(spark, fixture):
    """Exact against a numpy brute force (ties broken by id) where the
    count-sized search rectangle is stressed: all points in one cell
    with far queries, k above every cell's count, k above the point
    count, tied distances, coordinates on cell edges, and neighbours
    that only the bound's full width reaches."""
    pts, queries, k = _knn_fixture(fixture)
    pdf = local_df(
        spark, [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id bigint, lon double, lat double",
    )
    qdf = local_df(
        spark, [(i, x, y) for i, (x, y) in enumerate(queries)],
        "q_id bigint, q_lon double, q_lat double",
    )
    out = spatial.knn_join(pdf, qdf, k=k, zoom=3, point_cols=("id", "lon", "lat"))
    got = sorted((r["q_id"], r["rank"], r["id"], r["dist"]) for r in out.collect())
    want = []
    for qid, (qx, qy) in enumerate(queries):
        dx, dy = pts[:, 0] - qx, pts[:, 1] - qy
        d = np.sqrt(dx * dx + dy * dy)
        order = np.lexsort((np.arange(len(pts)), d))[:k]
        want += [(qid, rank, int(i), float(d[i]))
                 for rank, i in enumerate(order, start=1)]
    assert got == sorted(want)


# (operator, its cell-level keyword, the metric it ranks by)
KNN_OPERATORS = {
    "knn_join": (spatial.knn_join, "zoom",
                 lambda qx, qy, lon, lat: np.hypot(lon - qx, lat - qy)),
    "s2_knn_join": (spatial.s2_knn_join, "level", s2cell.angular_distance),
}


@pytest.mark.parametrize("op", sorted(KNN_OPERATORS))
def test_knn_join_builds_without_a_job(spark, points_df, op):
    """The kNN operators only build a plan: no count, collect or
    checkpoint runs until the caller's action."""
    fn, level_kw, _ = KNN_OPERATORS[op]
    qdf = spark.range(30).selectExpr(
        "id as q_id",
        f"{exprs.lon_sql('(id + 3) * 41')} as q_lon",
        f"{exprs.lat_sql('(id + 7) * 59')} as q_lat",
    )
    sc = spark.sparkContext
    group = f"{op}_build"  # the tracker keeps a group's jobs: one per op
    sc.setJobGroup(group, f"{op} build")
    try:
        out = fn(
            points_df, qdf, k=3, point_cols=("id", "lon", "lat"), **{level_kw: 5},
        )
        built = list(sc.statusTracker().getJobIdsForGroup(group))
        assert out.count() == 30 * 3
        ran = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert built == []
    assert ran  # the tracker does see this group's jobs


@pytest.mark.parametrize("op", sorted(KNN_OPERATORS))
def test_knn_join_reads_a_rewritten_file(spark, tmp_path, op):
    """A second kNN join over a Parquet file that was rewritten (outside
    Spark, which would have refreshed its cache) with other points
    returns the new file's neighbours, not rows a session cache kept
    from the first call."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fn, level_kw, metric = KNN_OPERATORS[op]
    path = str(tmp_path / "pts.parquet")
    queries = [(10.0, 20.0), (-70.0, -15.0), (120.0, 40.0)]
    qdf = local_df(
        spark, [(i, x, y) for i, (x, y) in enumerate(queries)],
        "q_id bigint, q_lon double, q_lat double",
    )
    rng = np.random.default_rng(5)
    for _ in range(2):
        pts = np.column_stack([rng.uniform(-180, 180, 500), rng.uniform(-90, 90, 500)])
        pq.write_table(pa.table({
            "id": np.arange(len(pts)), "lon": pts[:, 0], "lat": pts[:, 1],
        }), path)
        out = fn(
            spark.read.parquet(path), qdf, k=3,
            point_cols=("id", "lon", "lat"), **{level_kw: 3},
        )
        got = sorted((r["q_id"], r["rank"], r["id"]) for r in out.collect())
        want = []
        for qid, (qx, qy) in enumerate(queries):
            d = metric(qx, qy, pts[:, 0], pts[:, 1])
            order = np.lexsort((np.arange(len(pts)), d))[:3]
            want += [(qid, rank, int(i)) for rank, i in enumerate(order, start=1)]
        assert got == sorted(want)


@pytest.mark.parametrize("bad", ["point", "query"])
def test_knn_join_rejects_coordinates_outside_the_envelope(spark, bad):
    """Keys clamp at the grid edge, where the search bound would not
    hold: a coordinate outside lon/lat range fails the query loudly."""
    lon = 200.0 if bad == "point" else 10.0
    pdf = local_df(spark, [(0, lon, 0.0), (1, 5.0, 5.0)],
                   "id bigint, lon double, lat double")
    q_lat = -95.0 if bad == "query" else 0.0
    qdf = local_df(spark, [(0, 0.0, q_lat)], "q_id bigint, q_lon double, q_lat double")
    with pytest.raises(Exception, match="outside lon"):
        spatial.knn_join(pdf, qdf, k=1, zoom=3).collect()


def test_assign_cells_equals_numpy_kernel(spark):
    # the JVM keys must be bit-identical to the numpy kernels
    # (exprs.key_np + sfc.zorder), clamp edges included
    ids = np.arange(2000, dtype=np.int64)
    lon = ((ids * 2654435761) % 4294967296) / 4294967296 * 360.0 - 180.0
    lat = ((ids * 40503) % 65536) / 65536 * 180.0 - 90.0
    lon = np.concatenate([lon, [180.0, 180.0, -180.0]])
    lat = np.concatenate([lat, [90.0, -90.0, -90.0]])
    pts = local_df(
        spark, list(zip(range(len(lon)), lon.tolist(), lat.tolist())),
        "id bigint, lon double, lat double",
    )
    got = sorted(
        tuple(r) for r in spatial.assign_cells(pts, "lon", "lat", 7)
        .select("id", "key_col", "key_row", "cell_id").collect()
    )
    col, row = exprs.key_np(lon, lat, 7)
    want = list(zip(
        range(len(lon)), col.tolist(), row.tolist(),
        sfc.zorder(col, row).tolist(),
    ))
    assert got == want


