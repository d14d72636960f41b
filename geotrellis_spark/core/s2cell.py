"""S2-style cube-face cell IDs — the pole-free global index family
the north-star spec names ("SpaceTimeKey/SpatialKey Z-order and
Hilbert indexing re-expressed as H3/S2 cell IDs").

Reference role: geotrellis.layer key indexes (``ZSpatialKeyIndex``,
``HilbertSpatialKeyIndex``) operate on a lat/lng or mercator lattice,
which degenerates at the poles (cells shrink, key ranges fragment).
This module implements the published S2 construction from scratch —
cube-face decomposition, central projection to face (u, v), the
quadratic (u -> s) re-parameterization that evens out cell areas, and
a Hilbert curve position within the face — giving a global 63-bit id
``face * 4^level + hilbert_pos`` whose cells are near-uniform in area
everywhere on the sphere, with prefix-nesting parents and contiguous
descendant ranges (the range-prune primitive, T13's role globally).

This is the S2 GEOMETRY (faces, projection, quadratic ST, Hilbert
locality), not a bit-for-bit clone of Google's id layout: without a
reference implementation in the sandbox, id-compatibility would be
an unverifiable claim, so the honest contract is the construction +
its invariants (round-trip, nesting, range contiguity, area
uniformity, locality), all pytest-gated.

Pure vectorized numpy; float64 throughout.
"""

from __future__ import annotations

import numpy as np

from .sfc import hilbert_d2xy, hilbert_xy2d

MAX_LEVEL = 30  # 3 bits face + 60 bits position = 63 bits


def _lonlat_to_xyz(lon, lat):
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    cl = np.cos(lat)
    return cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)


def _face_uv(x, y, z):
    """Cube face (0..5: +x,+y,+z,-x,-y,-z by dominant axis) and the
    central-projection (u, v) in [-1, 1] on that face (published S2
    face/axis conventions)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az), np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4),
                 np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ufn, vfn) in enumerate((
        (lambda: y / x, lambda: z / x),        # +x
        (lambda: -x / y, lambda: z / y),       # +y
        (lambda: -x / z, lambda: -y / z),      # +z
        (lambda: z / x, lambda: y / x),        # -x
        (lambda: z / y, lambda: -x / y),       # -y
        (lambda: -y / z, lambda: -x / z),      # -z
    )):
        m = face == f
        if m.any():
            with np.errstate(divide="ignore", invalid="ignore"):
                u[m] = ufn()[m]
                v[m] = vfn()[m]
    return face, u, v


def _uv_from_face(face, u, v):
    """Inverse of :func:`_face_uv`: unit-sphere direction (unnormalized
    is fine for lon/lat extraction)."""
    one = np.ones_like(u)
    xs = [one, -u, -u, -one, v, v]
    ys = [u, one, -v, -v, -one, u]
    zs = [v, v, one, -u, -u, -one]
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    face = np.asarray(face)
    for f in range(6):
        m = face == f
        if m.any():
            x[m], y[m], z[m] = xs[f][m], ys[f][m], zs[f][m]
    return x, y, z


def _u_to_s(u):
    """S2's quadratic re-parameterization: linear-in-u cells are ~5.2x
    larger at face centers than corners; the quadratic evens the areas
    (max/min ~2.1)."""
    return np.where(
        u >= 0.0,
        0.5 * np.sqrt(np.maximum(0.0, 1.0 + 3.0 * u)),
        1.0 - 0.5 * np.sqrt(np.maximum(0.0, 1.0 - 3.0 * u)),
    )


def _s_to_u(s):
    return np.where(
        s >= 0.5,
        (4.0 * s * s - 1.0) / 3.0,
        (1.0 - 4.0 * (1.0 - s) * (1.0 - s)) / 3.0,
    )


def s2_cell(lon, lat, level: int) -> np.ndarray:
    """Cell id at ``level``: face * 4^level + hilbert_position."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be 0..{MAX_LEVEL}, got {level}")
    x, y, z = _lonlat_to_xyz(lon, lat)
    face, u, v = _face_uv(x, y, z)
    n = np.int64(1) << level
    i = np.clip((_u_to_s(u) * n).astype(np.int64), 0, n - 1)
    j = np.clip((_u_to_s(v) * n).astype(np.int64), 0, n - 1)
    if level == 0:
        return face
    return face * (np.int64(1) << (2 * level)) + hilbert_xy2d(level, i, j)


def s2_decode(cell, level: int):
    """(face, i, j) of a cell id."""
    cell = np.asarray(cell, dtype=np.int64)
    if level == 0:
        z = np.zeros_like(cell)
        return cell, z, z
    face = cell >> (2 * level)
    pos = cell & ((np.int64(1) << (2 * level)) - 1)
    i, j = hilbert_d2xy(level, pos)
    return face, i, j


def s2_center(cell, level: int):
    """(lon, lat) of the cell center."""
    face, i, j = s2_decode(cell, level)
    n = float(1 << level)
    u = _s_to_u((np.asarray(i, dtype=np.float64) + 0.5) / n)
    v = _s_to_u((np.asarray(j, dtype=np.float64) + 0.5) / n)
    x, y, z = _uv_from_face(face, u, v)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return lon, lat


def s2_parent(cell, level: int, delta: int = 1) -> np.ndarray:
    """Parent id ``delta`` levels up — a pure shift, because the
    Hilbert position prefix-nests (each parent's four children are
    consecutive on the curve)."""
    if delta < 0 or delta > level:
        raise ValueError(f"delta must be 0..{level}, got {delta}")
    return np.asarray(cell, dtype=np.int64) >> (2 * delta)


# points sampled per cell edge by _cell_lonlat_boxes
_BOX_SAMPLES = 9


def _cell_lonlat_boxes(cells, level: int):
    """Conservative lon/lat bounding boxes (x0, y0, x1, y1 arrays) of
    the cells at ``level``: each ij-perimeter sampled ``_BOX_SAMPLES``
    points per edge, dilated by the largest gap between adjacent
    samples (the smooth boundary cannot wander further between samples
    than their spacing at these curvatures).  A cell whose samples
    reach a pole gets the full longitude range; a cell crossing the
    antimeridian gets its lons in [0, 360) (the callers' +/-360 shifts
    match)."""
    n = 1 << level
    face, i, j = s2_decode(cells, level)
    i, j = (a.astype(np.float64)[:, None] for a in (i, j))
    t = np.linspace(0.0, 1.0, _BOX_SAMPLES)
    shape = (len(face), _BOX_SAMPLES)
    per_i = np.concatenate([
        i + t, np.broadcast_to(i + 1.0, shape),
        (i + 1.0) - t, np.broadcast_to(i, shape),
    ], 1)
    per_j = np.concatenate([
        np.broadcast_to(j, shape), j + t,
        np.broadcast_to(j + 1.0, shape), (j + 1.0) - t,
    ], 1)
    x, y, z = _uv_from_face(
        np.broadcast_to(face[:, None], per_i.shape),
        _s_to_u(per_i / n), _s_to_u(per_j / n),
    )
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    # dilation: max angular step between neighboring samples
    dlat = np.abs(np.diff(lat, axis=1)).max(1)
    dlon = np.abs((np.diff(lon, axis=1) + 180.0) % 360.0 - 180.0).max(1)
    pad = np.maximum(dlat, dlon)
    wrap = np.abs(np.diff(lon, axis=1)).max(1) > 180.0
    lon = np.where(wrap[:, None] & (lon < 0.0), lon + 360.0, lon)
    x0, x1 = lon.min(1) - pad, lon.max(1) + pad
    y0, y1 = lat.min(1) - pad, lat.max(1) + pad
    # a cell containing a pole (the (s,t)=(0.5,0.5) point of face 2 or
    # 5) spans every longitude; its boundary lats bound the other edge
    c, i, j = n / 2, i[:, 0], j[:, 0]
    pole = (i <= c) & (c <= i + 1) & (j <= c) & (c <= j + 1)
    north, south = pole & (face == 2), pole & (face == 5)
    return (
        np.where(north | south, -180.0, x0), np.where(south, -90.0, y0),
        np.where(north | south, 180.0, x1), np.where(north, 90.0, y1),
    )


# the +-360 lon shifts a box is tried at, as a column: x0 + _SHIFTS is
# (3, cells)
_SHIFTS = np.array([-360.0, 0.0, 360.0])[:, None]


def _refine(level: int, keep) -> np.ndarray:
    """The level-by-level frontier every cover shares: from the six
    faces, keep the cells whose dilated boxes pass ``keep(x0, y0, x1,
    y1)`` (one numpy pass per level), then step to their four children.
    Children of sorted parents are consecutive, so the cover comes out
    sorted."""
    cells = np.arange(6, dtype=np.int64)
    for lvl in range(level + 1):
        cells = cells[keep(*_cell_lonlat_boxes(cells, lvl))]
        if lvl < level:
            cells = (cells[:, None] * 4 + np.arange(4)).ravel()
    return cells


def s2_cover(
    bbox: tuple[float, float, float, float], level: int
) -> np.ndarray:
    """Cells at ``level`` conservatively covering a lon/lat box
    (lon0, lat0, lon1, lat1), found by a level-by-level frontier from
    the six faces with a dilated-bbox intersection test (tried at the
    three +-360 lon shifts) — the CellUnion role: feed
    :func:`s2_range`/``merge_ranges`` for a prune-then-refine scan
    (T13's MergeQueue on the sphere).  Conservative (superset) by
    construction; the pytest gate proves empirically that every point
    inside the box lands in a cover cell.  No antimeridian-wrapping
    query boxes (split the box first)."""
    lon0, lat0, lon1, lat1 = (float(v) for v in bbox)
    if lon0 > lon1:
        raise ValueError("antimeridian-wrapping bbox: split it first")

    def keep(x0, y0, x1, y1):
        lon_hit = ((x0 + _SHIFTS <= lon1) & (x1 + _SHIFTS >= lon0)).any(0)
        return lon_hit & (y0 <= lat1) & (y1 >= lat0)

    return _refine(level, keep)


def s2_cover_polygon(ring, level: int) -> np.ndarray:
    """Cells at ``level`` conservatively covering a simple lon/lat
    polygon (exterior ring, (n,2) array) — the polygon twin of
    :func:`s2_cover`/:func:`s2_cover_cap`. Each frontier level keeps a
    cell when its dilated lon/lat box EXACTLY intersects the polygon
    (the box rectangle at the three +-360 lon shifts, bbox-prefiltered,
    then core.geom.polygons_intersect_batch): the dilated box is a
    superset of the true cell region, so the cover is a superset of
    the truly-intersecting cells — refine downstream pays for the
    slack. Holes never widen a polygon, so covering the exterior ring
    is conservative for any polygon-with-holes. No antimeridian-
    wrapping rings (split first, like s2_cover)."""
    from . import geom as G

    ext = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(ext[0], ext[-1]):
        ext = np.vstack([ext, ext[:1]])
    poly_wkb = G.wkb_write_polygon([ext])
    px0, py0 = ext.min(axis=0)
    px1, py1 = ext.max(axis=0)

    def keep(x0, y0, x1, y1):
        a, b = x0 + _SHIFTS, x1 + _SHIFTS
        s, k = np.nonzero(~((a > px1) | (b < px0) | (y0 > py1) | (y1 < py0)))
        a, b, c, d = a[s, k], b[s, k], y0[k], y1[k]
        rings = np.stack([np.stack([a, b, b, a, a], 1),
                          np.stack([c, c, d, d, c], 1)], 2)
        hit = np.zeros(len(x0), dtype=bool)
        np.logical_or.at(hit, k, G.polygons_intersect_batch(
            [G.wkb_write_polygon([r]) for r in rings], [poly_wkb] * len(k),
        ))
        return hit

    return _refine(level, keep)


def angular_distance(lon1, lat1, lon2, lat2):
    """Great-circle angular distance in DEGREES (haversine)."""
    p1 = np.radians(np.asarray(lat1, dtype=np.float64))
    p2 = np.radians(np.asarray(lat2, dtype=np.float64))
    dl = np.radians(
        np.asarray(lon2, dtype=np.float64)
        - np.asarray(lon1, dtype=np.float64)
    )
    a = (
        np.sin((p2 - p1) / 2.0) ** 2
        + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2
    )
    return np.degrees(
        2.0 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
    )


def s2_cover_cap(
    lon: float, lat: float, radius_deg: float, level: int
) -> np.ndarray:
    """Cells at ``level`` conservatively covering the spherical cap of
    angular radius ``radius_deg`` around (lon, lat) — the circle twin
    of :func:`s2_cover` (radius queries, geofences, kNN seeds), on the
    same level-by-level frontier.

    Conservative inclusion: a cell is kept when the haversine distance
    from the cap center to its dilated lon/lat box's clamped point
    (nearest over the three +-360 lon shifts) is <= radius + the box's
    degree-diagonal.  Any point of an intersecting cell is within diag
    of the clamped point, so intersecting cells can never be excluded
    (plain-degree diagonal over-estimates the angular diagonal — safe);
    the cost is one ring of extra cells, and the exact refine
    downstream pays for it."""
    lon, lat = float(lon), float(lat)

    def keep(x0, y0, x1, y1):
        cp = np.minimum(np.maximum(lat, y0), y1)
        cl = np.minimum(np.maximum(lon, x0 + _SHIFTS), x1 + _SHIFTS)
        best = angular_distance(lon, lat, cl, cp).min(0)
        return best <= radius_deg + np.hypot(x1 - x0, y1 - y0)

    return _refine(level, keep)


def s2_range(cell, level: int, to_level: int):
    """[lo, hi) of the descendants of ``cell`` (at ``level``) at the
    finer ``to_level`` — contiguous, so a cover of S2 cells turns into
    a handful of id ranges the scan can prune on (T13's MergeQueue
    role on the sphere)."""
    if to_level < level:
        raise ValueError("to_level must be >= level")
    cell = np.asarray(cell, dtype=np.int64)
    shift = 2 * (to_level - level)
    return cell << shift, (cell + 1) << shift
