"""Vector geometry — from-scratch numpy (no shapely/JTS available).

Covers the subset of GeoTrellis's vector surface the engine needs
(reference, upstream 3.x layout — SURVEY.md §0: ``vector/src/main/scala/
geotrellis/vector/{Geometry,Extent}.scala``, ``io/wkb/WKB.scala``,
``methods/`` predicate sugar; the heavy lifting upstream is JTS):

- WKB polygon write, and WKB read of Point / LineString / Polygon /
  MultiPoint / MultiLineString / MultiPolygon (little-endian, the
  public OGC spec).
- ``points_in_polygon`` — vectorized even-odd ray casting of a point
  batch against one polygon (with holes). Edge convention matches the
  classic crossing rule GeoTrellis inherits from JTS for cell-center
  tests: a point exactly on a horizontal edge is handled by the
  half-open (ymin, ymax] crossing test (boundary points fall SOUTH,
  matching the floor((90-lat)/180*n) key-row convention).
- bbox and polygon-pair intersection tests.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "wkb_write_polygon",
    "wkb_read",
    "points_in_polygon",
    "points_in_coded_polygons",
    "points_in_rings",
    "polygon_bbox",
    "polygons_intersect",
    "polygons_intersect_batch",
]

_GEOM_POINT = 1
_GEOM_LINESTRING = 2
_GEOM_POLYGON = 3
_GEOM_MULTIPOINT = 4
_GEOM_MULTILINESTRING = 5
_GEOM_MULTIPOLYGON = 6


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

    simple_a = [
        _close(p[0][0]) if len(p) == 1 and len(p[0]) == 1 else None for p in pa
    ]
    simple_b = [
        _close(p[0][0]) if len(p) == 1 and len(p[0]) == 1 else None for p in pb
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


def _close(r: np.ndarray) -> np.ndarray:
    r = np.asarray(r, dtype=np.float64)
    return r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
