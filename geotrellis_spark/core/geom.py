"""Vector geometry — from-scratch numpy (no shapely/JTS available).

Covers the subset of GeoTrellis's vector surface the engine needs
(reference, upstream 3.x layout — SURVEY.md §0: ``vector/src/main/scala/
geotrellis/vector/{Geometry,Extent}.scala``, ``io/wkb/WKB.scala``,
``methods/`` predicate sugar; the heavy lifting upstream is JTS):

- WKB read/write for Point / LineString / Polygon / MultiPolygon
  (little-endian, the public OGC spec).
- ``points_in_polygon`` — vectorized even-odd ray casting of a point
  batch against one polygon (with holes). Edge convention matches the
  classic crossing rule GeoTrellis inherits from JTS for cell-center
  tests: a point exactly on a horizontal edge is handled by the
  half-open (ymin, ymax] crossing test (boundary points fall SOUTH,
  matching the floor((90-lat)/180*n) key-row convention).
- ``clip_polygon_to_rect`` — Sutherland–Hodgman rectangle clip
  (ClipToGrid's per-cell clip, ``spark/.../clip/ClipToGrid.scala``).
- bbox / shoelace area, polygon-pair intersection tests, and WKT /
  GeoJSON text I/O.
- Douglas–Peucker simplification, affine transform and convex hull,
  which no entry point calls yet.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "wkb_write_polygon",
    "wkb_write_point",
    "wkb_read",
    "points_in_polygon",
    "points_in_coded_polygons",
    "points_in_rings",
    "clip_polygon_to_rect",
    "polygon_bbox",
    "shoelace_area",
    "polygons_intersect",
    "polygons_intersect_batch",
    "clip_ring_to_rects_batch",
    "wkt_read",
    "wkt_write",
    "geojson_read",
    "geojson_write",
]

_GEOM_POINT = 1
_GEOM_LINESTRING = 2
_GEOM_POLYGON = 3
_GEOM_MULTIPOINT = 4
_GEOM_MULTILINESTRING = 5
_GEOM_MULTIPOLYGON = 6


def wkb_write_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, _GEOM_POINT, x, y)


def wkb_write_polygon(rings: list[np.ndarray]) -> bytes:
    """rings: list of (n,2) float64 arrays, first = exterior; rings are
    closed automatically if the last vertex != first."""
    out = [struct.pack("<BII", 1, _GEOM_POLYGON, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", ring.shape[0]))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def _read_ring(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    pts = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return pts.astype(np.float64), off + 16 * n


def wkb_read(wkb: bytes):
    """Parse WKB -> (kind, payload).

    kind 'point' -> (x, y); 'linestring' -> (n,2) array;
    'polygon' -> list[(n,2)] rings; 'multipolygon' -> list[list[rings]].
    """
    buf = memoryview(wkb)
    byte_order, gtype = struct.unpack_from("<BI", buf, 0)
    if byte_order != 1:
        raise ValueError("big-endian WKB not supported")
    gtype &= 0xFF  # strip SRID/Z flags
    off = 5
    if gtype == _GEOM_POINT:
        x, y = struct.unpack_from("<dd", buf, off)
        return "point", (x, y)
    if gtype == _GEOM_LINESTRING:
        pts, _ = _read_ring(buf, off)
        return "linestring", pts
    if gtype == _GEOM_POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings = []
        for _ in range(nrings):
            ring, off = _read_ring(buf, off)
            rings.append(ring)
        return "polygon", rings
    if gtype == _GEOM_MULTIPOINT:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        pts = []
        for _ in range(n):
            x, y = struct.unpack_from("<dd", buf, off + 5)
            pts.append((x, y))
            off += 21
        return "multipoint", pts
    if gtype == _GEOM_MULTILINESTRING:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        lines = []
        for _ in range(n):
            off += 5  # member byte order + type
            pts, off = _read_ring(buf, off)
            lines.append(pts)
        return "multilinestring", lines
    if gtype == _GEOM_MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, off)
        off += 4
        polys = []
        for _ in range(npolys):
            _, ptype = struct.unpack_from("<BI", buf, off)
            if (ptype & 0xFF) != _GEOM_POLYGON:
                raise ValueError("multipolygon member is not a polygon")
            off += 5
            (nrings,) = struct.unpack_from("<I", buf, off)
            off += 4
            rings = []
            for _ in range(nrings):
                ring, off = _read_ring(buf, off)
                rings.append(ring)
            polys.append(rings)
        return "multipolygon", polys
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def _crossings(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing parity of each point vs one ring. Vectorized
    over points; loops over edges (rings are small, point batches big)."""
    inside = np.zeros(px.shape, dtype=bool)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    for i in range(x0.shape[0]):
        a, b, c, d = x0[i], y0[i], x1[i], y1[i]
        if b == d:
            continue  # horizontal edge never crosses the half-open test
        # half-open (ymin, ymax]: a point exactly on a horizontal
        # boundary falls in the SOUTH polygon, matching the
        # floor((90-lat)/180*n) key-row convention and the SQL oracles
        cond = (py > min(b, d)) & (py <= max(b, d))
        if not cond.any():
            continue
        # x coordinate where the edge crosses the point's horizontal ray
        t = (py - b) / (d - b)
        xc = a + t * (c - a)
        inside ^= cond & (px < xc)
    return inside


def points_in_rings(px, py, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd PIP of a point batch vs a polygon given as ring list
    (exterior + holes). Returns bool mask."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        inside ^= _crossings(px, py, ring)
    return inside


def points_in_coded_polygons(px, py, codes, wkbs) -> np.ndarray:
    """Even-odd PIP where point i is tested against ``wkbs[codes[i]]``
    (the pip_join refine kernel). Each polygon a batch references is
    parsed once. Single-ring polygons are grouped by closed vertex
    count, and each group is decided in ONE numpy pass, each row
    against its own ring (no per-polygon python loop). Holes and
    multipolygons fall back to points_in_polygon per polygon."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    codes = np.asarray(codes, dtype=np.int64)
    out = np.zeros(px.shape, dtype=bool)
    by_nv: dict[int, list[tuple[int, np.ndarray]]] = {}
    for u in np.unique(codes).tolist():
        kind, payload = wkb_read(wkbs[u])
        if kind == "polygon" and len(payload) == 1:
            ring = _close(payload[0])
            by_nv.setdefault(ring.shape[0], []).append((u, ring))
        else:
            m = codes == u
            out[m] = _points_in_parsed(px[m], py[m], kind, payload)
    for group in by_nv.values():
        lut = np.full(int(codes.max()) + 1, -1, dtype=np.int64)
        lut[[u for u, _ in group]] = np.arange(len(group))
        pos = lut[codes]
        m = pos >= 0
        rings = np.stack([ring for _, ring in group])
        # one point per ring: the (k, p)-batch kernel with p = 1
        out[m] = _pts_in_own_rings_multi(
            px[m, None], py[m, None], rings[pos[m]]
        )[:, 0]
    return out


def points_in_polygon(px, py, wkb: bytes) -> np.ndarray:
    return _points_in_parsed(px, py, *wkb_read(wkb))


def _points_in_parsed(px, py, kind: str, payload) -> np.ndarray:
    if kind == "polygon":
        return points_in_rings(px, py, payload)
    if kind == "multipolygon":
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        inside = np.zeros(px.shape, dtype=bool)
        for rings in payload:
            inside |= points_in_rings(px, py, rings)
        return inside
    raise ValueError(f"PIP needs polygonal geometry, got {kind}")


def clip_polygon_to_rect(
    ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> np.ndarray | None:
    """Sutherland–Hodgman clip of one (convex or concave) ring against an
    axis-aligned rectangle. Returns the clipped ring (closed) or None."""
    pts = np.asarray(ring, dtype=np.float64)
    if np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]

    def clip_edge(poly: list, inside_fn, intersect_fn) -> list:
        out = []
        n = len(poly)
        for i in range(n):
            cur, nxt = poly[i], poly[(i + 1) % n]
            cin, nin = inside_fn(cur), inside_fn(nxt)
            if cin:
                out.append(cur)
                if not nin:
                    out.append(intersect_fn(cur, nxt))
            elif nin:
                out.append(intersect_fn(cur, nxt))
        return out

    def ix(p, q, x):
        t = (x - p[0]) / (q[0] - p[0])
        return (x, p[1] + t * (q[1] - p[1]))

    def iy(p, q, y):
        t = (y - p[1]) / (q[1] - p[1])
        return (p[0] + t * (q[0] - p[0]), y)

    poly = [tuple(p) for p in pts]
    for inside_fn, intersect_fn in (
        (lambda p: p[0] >= xmin, lambda p, q: ix(p, q, xmin)),
        (lambda p: p[0] <= xmax, lambda p, q: ix(p, q, xmax)),
        (lambda p: p[1] >= ymin, lambda p, q: iy(p, q, ymin)),
        (lambda p: p[1] <= ymax, lambda p, q: iy(p, q, ymax)),
    ):
        poly = clip_edge(poly, inside_fn, intersect_fn)
        if not poly:
            return None
    arr = np.asarray(poly, dtype=np.float64)
    return np.vstack([arr, arr[:1]])


def polygon_bbox(wkb: bytes) -> tuple[float, float, float, float]:
    kind, payload = wkb_read(wkb)
    if kind == "polygon":
        ext = payload[0]
    elif kind == "multipolygon":
        ext = np.vstack([rings[0] for rings in payload])
    elif kind == "linestring":
        ext = payload
    elif kind == "point":
        x, y = payload
        return x, y, x, y
    else:  # pragma: no cover
        raise ValueError(kind)
    return (
        float(ext[:, 0].min()),
        float(ext[:, 1].min()),
        float(ext[:, 0].max()),
        float(ext[:, 1].max()),
    )


def shoelace_area(ring: np.ndarray) -> float:
    """Signed area (positive = counter-clockwise)."""
    r = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    x, y = r[:-1, 0], r[:-1, 1]
    x1, y1 = r[1:, 0], r[1:, 1]
    return float(0.5 * np.sum(x * y1 - x1 * y))


def _edges(ring: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    r = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    return r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]


def _segments_cross_any(ring_a: np.ndarray, ring_b: np.ndarray) -> bool:
    """Any edge of ring_a properly or improperly intersects any edge of
    ring_b (standard orientation + on-segment tests, vectorized over
    ring_b's edges per ring_a edge)."""
    ax0, ay0, ax1, ay1 = _edges(ring_a)
    bx0, by0, bx1, by1 = _edges(ring_b)

    def orient(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    for i in range(ax0.shape[0]):
        p0x, p0y, p1x, p1y = ax0[i], ay0[i], ax1[i], ay1[i]
        d1 = orient(p0x, p0y, p1x, p1y, bx0, by0)
        d2 = orient(p0x, p0y, p1x, p1y, bx1, by1)
        d3 = orient(bx0, by0, bx1, by1, p0x, p0y)
        d4 = orient(bx0, by0, bx1, by1, p1x, p1y)
        proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & \
                 (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
        if proper.any():
            return True
        # collinear / endpoint-touching cases
        for dv, qx, qy in ((d1, bx0, by0), (d2, bx1, by1)):
            on = (dv == 0) & (np.minimum(p0x, p1x) <= qx) & (qx <= np.maximum(p0x, p1x)) \
                 & (np.minimum(p0y, p1y) <= qy) & (qy <= np.maximum(p0y, p1y))
            if on.any():
                return True
        for dv, qx, qy in ((d3, p0x, p0y), (d4, p1x, p1y)):
            on = (dv == 0) & (np.minimum(bx0, bx1) <= qx) & (qx <= np.maximum(bx0, bx1)) \
                 & (np.minimum(by0, by1) <= qy) & (qy <= np.maximum(by0, by1))
            if np.asarray(on).any():
                return True
    return False


def _poly_list(wkb: bytes) -> list[list[np.ndarray]]:
    kind, payload = wkb_read(wkb)
    if kind == "polygon":
        return [payload]
    if kind == "multipolygon":
        return payload
    raise ValueError(f"intersects needs polygonal geometry, got {kind}")


def polygons_intersect(wkb_a: bytes, wkb_b: bytes) -> bool:
    """J2 geom-x-geom predicate: two polygonal geometries intersect iff
    a vertex of one lies inside the other, or any boundary edges cross
    (covers overlap, containment, and touching). Bbox reject first."""
    axmin, aymin, axmax, aymax = polygon_bbox(wkb_a)
    bxmin, bymin, bxmax, bymax = polygon_bbox(wkb_b)
    if axmax < bxmin or bxmax < axmin or aymax < bymin or bymax < aymin:
        return False
    pa = _poly_list(wkb_a)
    pb = _poly_list(wkb_b)
    for rings_a in pa:
        ext_a = rings_a[0]
        for rings_b in pb:
            ext_b = rings_b[0]
            if points_in_rings(ext_a[:, 0], ext_a[:, 1], rings_b).any():
                return True
            if points_in_rings(ext_b[:, 0], ext_b[:, 1], rings_a).any():
                return True
            # Boundary-boundary crossings must consider hole rings too: a
            # B edge that crosses the notch of a hole in A passes through
            # A-material even when every B vertex lies inside the hole.
            for ring_a in rings_a:
                for ring_b in rings_b:
                    if _segments_cross_any(ring_a, ring_b):
                        return True
    return False


# Chunk budget for the batched (pairs x edges_a x edges_b) tensors —
# keeps peak memory ~100 MB regardless of batch/ring size.
_BATCH_CELLS = 1 << 22


def _pts_in_own_rings_multi(px, py, rings_closed):
    """Even-odd PIP where each of k pairs has p points tested against
    its OWN closed ring: px/py (k, p), rings_closed (k, V+1, 2). Same
    half-open (ymin, ymax] crossing rule as points_in_rings."""
    x0 = rings_closed[:, None, :-1, 0]
    y0 = rings_closed[:, None, :-1, 1]
    x1 = rings_closed[:, None, 1:, 0]
    y1 = rings_closed[:, None, 1:, 1]
    pxn = px[:, :, None]
    pyn = py[:, :, None]
    nonh = y0 != y1
    cond = (pyn > np.minimum(y0, y1)) & (pyn <= np.maximum(y0, y1)) & nonh
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (pyn - y0) / np.where(nonh, y1 - y0, 1.0)
        xc = x0 + t * (x1 - x0)
    cross = cond & (pxn < xc)
    return (cross.sum(axis=2) % 2).astype(bool)


def _edges_cross_batch(ra: np.ndarray, rb: np.ndarray) -> np.ndarray:
    """Any boundary-boundary intersection per pair: ra (k, Va+1, 2) and
    rb (k, Vb+1, 2) closed rings. All (edge_a, edge_b) combinations in
    one orientation pass, with the same proper-crossing + collinear
    on-segment rules as _segments_cross_any. Returns (k,) bool."""
    p0x = ra[:, :-1, 0][:, :, None]
    p0y = ra[:, :-1, 1][:, :, None]
    p1x = ra[:, 1:, 0][:, :, None]
    p1y = ra[:, 1:, 1][:, :, None]
    q0x = rb[:, :-1, 0][:, None, :]
    q0y = rb[:, :-1, 1][:, None, :]
    q1x = rb[:, 1:, 0][:, None, :]
    q1y = rb[:, 1:, 1][:, None, :]

    def orient(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    d1 = orient(p0x, p0y, p1x, p1y, q0x, q0y)
    d2 = orient(p0x, p0y, p1x, p1y, q1x, q1y)
    d3 = orient(q0x, q0y, q1x, q1y, p0x, p0y)
    d4 = orient(q0x, q0y, q1x, q1y, p1x, p1y)
    hit = (
        ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    )
    a_xlo, a_xhi = np.minimum(p0x, p1x), np.maximum(p0x, p1x)
    a_ylo, a_yhi = np.minimum(p0y, p1y), np.maximum(p0y, p1y)
    b_xlo, b_xhi = np.minimum(q0x, q1x), np.maximum(q0x, q1x)
    b_ylo, b_yhi = np.minimum(q0y, q1y), np.maximum(q0y, q1y)
    for dv, qx, qy in ((d1, q0x, q0y), (d2, q1x, q1y)):
        hit |= (dv == 0) & (a_xlo <= qx) & (qx <= a_xhi) \
            & (a_ylo <= qy) & (qy <= a_yhi)
    for dv, qx, qy in ((d3, p0x, p0y), (d4, p1x, p1y)):
        hit |= (dv == 0) & (b_xlo <= qx) & (qx <= b_xhi) \
            & (b_ylo <= qy) & (qy <= b_yhi)
    return hit.any(axis=(1, 2))


def polygons_intersect_batch(wa: list[bytes], wb: list[bytes]) -> np.ndarray:
    """Pairwise ``polygons_intersect`` over two aligned WKB lists — the
    vector_join (J2) refine kernel. Semantics identical to the scalar
    predicate; execution is batched per the north rule (no per-row
    geometry python on the hot path):

    - each DISTINCT wkb is parsed once (factorize);
    - bbox reject is one vectorized pass over all pairs;
    - pairs where both sides are single-ring polygons (the dominant
      shape) are grouped by (Va, Vb) vertex-count class and each class
      is decided in one numpy pass: cross vertex-in-polygon tests +
      all-(edge_a, edge_b) orientation/on-segment tests, chunked to a
      fixed memory budget;
    - multi-ring / multipolygon pairs fall back to the exact scalar
      predicate, once per distinct pair.
    """
    m = len(wa)
    out = np.zeros(m, dtype=bool)
    if m == 0:
        return out
    ca, ua = _factorize_bytes(wa)
    cb, ub = _factorize_bytes(wb)
    pa = [_poly_list(w) for w in ua]
    pb = [_poly_list(w) for w in ub]
    bba = np.array([polygon_bbox(w) for w in ua], dtype=np.float64)
    bbb = np.array([polygon_bbox(w) for w in ub], dtype=np.float64)
    A, B = bba[ca], bbb[cb]
    alive = ~(
        (A[:, 2] < B[:, 0]) | (B[:, 2] < A[:, 0])
        | (A[:, 3] < B[:, 1]) | (B[:, 3] < A[:, 1])
    )

    def closed(r: np.ndarray) -> np.ndarray:
        return r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])

    simple_a = [
        closed(p[0][0]) if len(p) == 1 and len(p[0]) == 1 else None for p in pa
    ]
    simple_b = [
        closed(p[0][0]) if len(p) == 1 and len(p[0]) == 1 else None for p in pb
    ]
    classes: dict[tuple[int, int], list[int]] = {}
    scalar_rows: list[int] = []
    for i in np.nonzero(alive)[0]:
        ra, rb = simple_a[ca[i]], simple_b[cb[i]]
        if ra is None or rb is None:
            scalar_rows.append(int(i))
        else:
            classes.setdefault((ra.shape[0], rb.shape[0]), []).append(int(i))
    for (na, nb), rows_ in classes.items():
        rows = np.asarray(rows_)
        step = max(_BATCH_CELLS // max(na * nb, 1), 1)
        for s in range(0, rows.shape[0], step):
            rr = rows[s : s + step]
            ra = np.stack([simple_a[j] for j in ca[rr]])
            rb = np.stack([simple_b[j] for j in cb[rr]])
            res = _pts_in_own_rings_multi(
                ra[:, :-1, 0], ra[:, :-1, 1], rb
            ).any(axis=1)
            res |= _pts_in_own_rings_multi(
                rb[:, :-1, 0], rb[:, :-1, 1], ra
            ).any(axis=1)
            todo = ~res
            if todo.any():
                res[todo] = _edges_cross_batch(ra[todo], rb[todo])
            out[rr] = res
    if scalar_rows:
        pair_cache: dict[tuple[int, int], bool] = {}
        for i in scalar_rows:
            key = (int(ca[i]), int(cb[i]))
            if key not in pair_cache:
                pair_cache[key] = polygons_intersect(ua[key[0]], ub[key[1]])
            out[i] = pair_cache[key]
    return out


def _factorize_bytes(ws: list[bytes]) -> tuple[np.ndarray, list[bytes]]:
    ix: dict[bytes, int] = {}
    codes = np.empty(len(ws), dtype=np.int64)
    uniq: list[bytes] = []
    for i, w in enumerate(ws):
        w = bytes(w)
        j = ix.get(w)
        if j is None:
            j = ix[w] = len(uniq)
            uniq.append(w)
        codes[i] = j
    return codes, uniq


def clip_ring_to_rects_batch(
    ring: np.ndarray,
    xmin: np.ndarray,
    ymin: np.ndarray,
    xmax: np.ndarray,
    ymax: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland–Hodgman clip of ONE ring against k axis-aligned
    rectangles in one vectorized pass (ClipToGrid's per-cell clip,
    batched over the polygon's cover-cell list). Returns
    ``(pts (k, maxv, 2), cnt (k,))`` — open rings; ``cnt == 0`` means
    the ring vanished in that rect. Emission order matches the scalar
    ``clip_polygon_to_rect`` exactly (cur, then crossing, per edge)."""
    pts = np.asarray(ring, dtype=np.float64)
    if np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    k = xmin.shape[0]
    cur = np.broadcast_to(pts[None, :, :], (k, pts.shape[0], 2)).copy()
    cnt = np.full(k, pts.shape[0], dtype=np.int64)
    for bound, axis, keep_ge in (
        (np.asarray(xmin, dtype=np.float64), 0, True),
        (np.asarray(xmax, dtype=np.float64), 0, False),
        (np.asarray(ymin, dtype=np.float64), 1, True),
        (np.asarray(ymax, dtype=np.float64), 1, False),
    ):
        cur, cnt = _clip_halfplane_batch(cur, cnt, bound, axis, keep_ge)
        if cur.shape[1] == 0:
            break
    return cur, cnt


def _clip_halfplane_batch(pts, cnt, bound, axis, keep_ge):
    k, mv, _ = pts.shape
    ar = np.arange(mv)
    valid = ar[None, :] < cnt[:, None]
    nxt_idx = np.where(ar[None, :] + 1 < cnt[:, None], ar[None, :] + 1, 0)
    nxt = np.take_along_axis(pts, nxt_idx[:, :, None], axis=1)
    b = bound[:, None]
    if keep_ge:
        cin = pts[:, :, axis] >= b
        nin = nxt[:, :, axis] >= b
    else:
        cin = pts[:, :, axis] <= b
        nin = nxt[:, :, axis] <= b
    denom = nxt[:, :, axis] - pts[:, :, axis]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (b - pts[:, :, axis]) / np.where(denom != 0, denom, 1.0)
    other = 1 - axis
    ixpt = np.empty_like(pts)
    ixpt[:, :, axis] = b
    ixpt[:, :, other] = pts[:, :, other] + t * (
        nxt[:, :, other] - pts[:, :, other]
    )
    emit0 = cin & valid                 # emit cur when inside
    emit1 = (cin != nin) & valid        # emit crossing when sides differ
    cand = np.stack([pts, ixpt], axis=2).reshape(k, 2 * mv, 2)
    emit = np.stack([emit0, emit1], axis=2).reshape(k, 2 * mv)
    new_cnt = emit.sum(axis=1)
    out_m = int(new_cnt.max()) if k else 0
    out = np.zeros((k, out_m, 2), dtype=np.float64)
    rows, cols = np.nonzero(emit)
    pos = np.cumsum(emit, axis=1) - 1
    out[rows, pos[rows, cols]] = cand[rows, cols]
    return out, new_cnt


# ------------------------------------------------------- WKT / GeoJSON

def wkt_write(wkb: bytes, prec: int = 12) -> str:
    """WKB -> WKT (S8 vector interchange, ``vector/.../io/wkt`` role)."""
    kind, payload = wkb_read(wkb)

    def ring_s(r):
        return "(" + ", ".join(f"{x:.{prec}g} {y:.{prec}g}" for x, y in r) + ")"

    if kind == "point":
        x, y = payload
        return f"POINT ({x:.{prec}g} {y:.{prec}g})"
    if kind == "linestring":
        return "LINESTRING " + ring_s(payload)
    if kind == "polygon":
        return "POLYGON (" + ", ".join(ring_s(_close(r)) for r in payload) + ")"
    if kind == "multipolygon":
        return "MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(ring_s(_close(r)) for r in rings) + ")"
            for rings in payload
        ) + ")"
    raise ValueError(kind)


def _close(r: np.ndarray) -> np.ndarray:
    r = np.asarray(r, dtype=np.float64)
    return r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])


def wkt_read(wkt: str) -> bytes:
    """WKT -> WKB for POINT / LINESTRING / POLYGON / MULTIPOLYGON."""
    s = wkt.strip()
    head = s.split("(", 1)[0].strip().upper()

    def parse_ring(txt: str) -> np.ndarray:
        pts = [
            [float(v) for v in pair.split()]
            for pair in txt.strip().split(",")
        ]
        return np.asarray(pts, dtype=np.float64)

    body = s[s.index("(") :]
    if head == "POINT":
        x, y = (float(v) for v in body.strip("() \t").split())
        return wkb_write_point(x, y)
    if head == "LINESTRING":
        return wkb_write_linestring(parse_ring(body.strip("()")))
    if head == "POLYGON":
        rings = _split_groups(body)
        return wkb_write_polygon([parse_ring(r) for r in rings])
    if head == "MULTIPOLYGON":
        import struct as _st

        polys = [
            [parse_ring(r) for r in _split_groups(f"({g})")]
            for g in _split_groups(body)
        ]
        out = [_st.pack("<BII", 1, _GEOM_MULTIPOLYGON, len(polys))]
        for rings in polys:
            out.append(wkb_write_polygon(rings))
        return b"".join(out)
    raise ValueError(f"unsupported WKT type {head}")


def _split_groups(txt: str) -> list[str]:
    """Split '(a), (b), ...' (one nesting level) into ['a', 'b', ...]."""
    txt = txt.strip()
    assert txt[0] == "(" and txt[-1] == ")"
    txt = txt[1:-1]
    groups, depth, start = [], 0, None
    for i, ch in enumerate(txt):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(txt[start:i])
    return groups if groups else [txt]


def wkb_write_linestring(pts: np.ndarray) -> bytes:
    pts = np.asarray(pts, dtype=np.float64)
    return (
        struct.pack("<BII", 1, _GEOM_LINESTRING, pts.shape[0])
        + pts.astype("<f8").tobytes()
    )


def geojson_write(wkb: bytes) -> str:
    """WKB -> GeoJSON geometry string (S8; RFC 7946 coordinate order)."""
    import json

    kind, payload = wkb_read(wkb)
    if kind == "point":
        return json.dumps({"type": "Point", "coordinates": list(payload)})
    if kind == "linestring":
        return json.dumps(
            {"type": "LineString", "coordinates": payload.tolist()}
        )
    if kind == "polygon":
        return json.dumps(
            {"type": "Polygon",
             "coordinates": [_close(r).tolist() for r in payload]}
        )
    if kind == "multipolygon":
        return json.dumps(
            {"type": "MultiPolygon",
             "coordinates": [[_close(r).tolist() for r in rings]
                             for rings in payload]}
        )
    raise ValueError(kind)


def geojson_read(txt: str) -> bytes:
    """GeoJSON geometry (or Feature) -> WKB."""
    import json

    obj = json.loads(txt)
    if obj.get("type") == "Feature":
        obj = obj["geometry"]
    t = obj["type"]
    c = obj["coordinates"]
    if t == "Point":
        return wkb_write_point(float(c[0]), float(c[1]))
    if t == "LineString":
        return wkb_write_linestring(np.asarray(c, dtype=np.float64))
    if t == "Polygon":
        return wkb_write_polygon([np.asarray(r, dtype=np.float64) for r in c])
    if t == "MultiPolygon":
        out = [struct.pack("<BII", 1, _GEOM_MULTIPOLYGON, len(c))]
        for rings in c:
            out.append(
                wkb_write_polygon([np.asarray(r, dtype=np.float64) for r in rings])
            )
        return b"".join(out)
    raise ValueError(f"unsupported GeoJSON type {t}")


def convex_hull(pts: np.ndarray) -> np.ndarray:
    """RV9 convexHull: Andrew's monotone chain (textbook public-domain
    formulation). Input (n,2); returns the hull ring CCW, closed."""
    p = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    if p.shape[0] <= 2:
        return np.vstack([p, p[:1]]) if p.shape[0] else p
    order = np.lexsort((p[:, 1], p[:, 0]))
    p = p[order]

    def half(points):
        h: list[np.ndarray] = []
        for q in points:
            while len(h) >= 2 and (
                (h[-1][0] - h[-2][0]) * (q[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (q[0] - h[-2][0])
            ) <= 0:
                h.pop()
            h.append(q)
        return h

    lower = half(p)
    upper = half(p[::-1])
    hull = np.asarray(lower[:-1] + upper[:-1])
    return np.vstack([hull, hull[:1]])


def point_segment_distance(px, py, ax, ay, bx, by) -> np.ndarray:
    """Distance from point batch to one segment."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 == 0:
        return np.hypot(px - ax, py - ay)
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / L2, 0.0, 1.0)
    return np.hypot(px - (ax + t * dx), py - (ay + t * dy))


def simplify_line(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker polyline simplification (reference role:
    geotrellis.vector Simplify via JTS DouglasPeuckerSimplifier —
    upstream layout; reimplemented from the published algorithm).
    Keeps endpoints; drops interior vertices whose max deviation from
    the current chord is <= ``tol``. Iterative stack, numpy distance
    batch per segment — no recursion-depth limit."""
    pts = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return pts.copy()
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        seg = pts[i + 1 : j]
        d = point_segment_distance(
            seg[:, 0], seg[:, 1], pts[i, 0], pts[i, 1], pts[j, 0], pts[j, 1]
        )
        kmax = int(np.argmax(d))
        if d[kmax] > tol:
            split = i + 1 + kmax
            keep[split] = True
            stack.append((i, split))
            stack.append((split, j))
    return pts[keep]


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker for a polygon ring (open vertex list): anchor
    the chord at vertex 0 and the farthest vertex from it (a stable
    diameter-ish split), simplify both halves, re-join. Degenerate
    results (< 3 vertices) return the original ring unchanged."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) <= 3:
        return ring.copy()
    far = int(
        np.argmax((ring[:, 0] - ring[0, 0]) ** 2 + (ring[:, 1] - ring[0, 1]) ** 2)
    )
    if far == 0:  # all points coincident
        return ring.copy()
    a = simplify_line(ring[: far + 1], tol)
    b = simplify_line(np.vstack([ring[far:], ring[:1]]), tol)
    out = np.vstack([a[:-1], b[:-1]])
    return out if len(out) >= 3 else ring.copy()


def simplify_wkb(wkb: bytes, tol: float) -> bytes:
    """Simplify every ring of a WKB polygon/multipolygon with
    Douglas–Peucker."""
    import struct as _st

    geoms = _poly_list(wkb)
    if len(geoms) == 1:
        return wkb_write_polygon([simplify_ring(r, tol) for r in geoms[0]])
    out = [_st.pack("<BII", 1, _GEOM_MULTIPOLYGON, len(geoms))]
    for rings in geoms:
        out.append(
            wkb_write_polygon([simplify_ring(r, tol) for r in rings])
        )
    return b"".join(out)


def affine_wkb(
    wkb: bytes, a: float = 1.0, b: float = 0.0, d: float = 0.0,
    e: float = 1.0, xoff: float = 0.0, yoff: float = 0.0,
) -> bytes:
    """Affine transformation of a WKB polygon/multipolygon (reference
    role: geotrellis.vector affine methods over JTS
    AffineTransformation): x' = a*x + b*y + xoff; y' = d*x + e*y +
    yoff. Compose translate/scale/rotate/shear by choosing the
    coefficients."""
    import struct as _st

    geoms = _poly_list(wkb)

    def tx(r: np.ndarray) -> np.ndarray:
        out = np.empty_like(r)
        out[:, 0] = a * r[:, 0] + b * r[:, 1] + xoff
        out[:, 1] = d * r[:, 0] + e * r[:, 1] + yoff
        return out

    if len(geoms) == 1:
        return wkb_write_polygon([tx(r) for r in geoms[0]])
    out = [_st.pack("<BII", 1, _GEOM_MULTIPOLYGON, len(geoms))]
    for rings in geoms:
        out.append(wkb_write_polygon([tx(r) for r in rings]))
    return b"".join(out)
