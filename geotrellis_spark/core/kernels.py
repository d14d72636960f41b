"""Per-tile numeric kernels — pure numpy, executed inside pandas/Arrow
UDFs by the Spark operators (never per-row Python; north_rule).

Reference semantics reimplemented (upstream 3.x layout, SURVEY.md §0):

- local ops:  ``raster/.../mapalgebra/local/*.scala`` — elementwise,
  NoData-propagating (any NoData operand => NoData result).
- focal ops:  ``raster/.../mapalgebra/focal/*.scala`` — Square(r)
  neighborhood stencils over buffered tiles; NoData cells excluded from
  the neighborhood statistic (GeoTrellis skips non-data cells).
- resample:   ``raster/.../resample/`` — 2x block decimation (pyramid
  downsample) and nearest/bilinear point sampling for reprojection.
- rasterize:  ``raster/.../rasterize/polygon/PolygonRasterizer.scala`` —
  scanline even-odd fill over cell centers.
- hydrology:  ``raster/.../hydrology/FlowDirection.scala`` — D8 flow
  direction.

NoData convention (D3): float tiles use NaN; integer tiles use an
explicit sentinel (default 0 for uint16 image payloads).
"""

from __future__ import annotations

import numpy as np

NODATA_U16 = 0  # uint16 sentinel (UserDefinedNoData(0))

__all__ = [
    "local_binary",
    "local_unary",
    "local_stack_stats",
    "neighborhood_mask",
    "focal_stat",
    "focal_mean",
    "focal_sum",
    "focal_min",
    "focal_max",
    "focal_median",
    "focal_std",
    "focal_mode",
    "convolve",
    "decimate2",
    "euclidean_distance",
    "rasterize_polygon",
    "min_label_components",
    "NODATA_U16",
]


def _to_float(a: np.ndarray, nodata) -> np.ndarray:
    """Lift to float64 with NaN NoData (kernel-internal representation)."""
    f = a.astype(np.float64)
    if not np.issubdtype(a.dtype, np.floating):
        f[a == nodata] = np.nan
    return f


def _from_float(f: np.ndarray, like_dtype, nodata) -> np.ndarray:
    if np.issubdtype(np.dtype(like_dtype), np.floating):
        return f.astype(like_dtype)
    out = np.where(np.isnan(f), float(nodata), np.rint(f))
    info = np.iinfo(like_dtype)
    return np.clip(out, info.min, info.max).astype(like_dtype)


_BINARY = {
    "add": np.add,
    "subtract": np.subtract,
    "multiply": np.multiply,
    "divide": np.divide,
    "pow": np.power,
    "min": np.fmin,
    "max": np.fmax,
    # bitwise int ops (local/{And,Or,Xor}.scala semantics: operate on
    # the integer cell values; NoData propagates like every local op)
    "and": lambda a, b: np.bitwise_and(a.astype(np.int64), np.int64(b) if np.isscalar(b) else b.astype(np.int64)).astype(np.float64),
    "or": lambda a, b: np.bitwise_or(a.astype(np.int64), np.int64(b) if np.isscalar(b) else b.astype(np.int64)).astype(np.float64),
    "xor": lambda a, b: np.bitwise_xor(a.astype(np.int64), np.int64(b) if np.isscalar(b) else b.astype(np.int64)).astype(np.float64),
    "equal": lambda a, b: (a == b).astype(np.float64),
    "unequal": lambda a, b: (a != b).astype(np.float64),
    "greater": lambda a, b: (a > b).astype(np.float64),
    "greaterorequal": lambda a, b: (a >= b).astype(np.float64),
    "less": lambda a, b: (a < b).astype(np.float64),
    "lessorequal": lambda a, b: (a <= b).astype(np.float64),
}

_UNARY = {
    "negate": np.negative,
    "abs": np.abs,
    "ceil": np.ceil,
    "floor": np.floor,
    "round": np.rint,
    "log": np.log,
    "log10": np.log10,
    "sqrt": np.sqrt,
    "exp": np.exp,
    "not": lambda a: (a == 0).astype(np.float64),
    "defined": None,  # special-cased
    "undefined": None,
}


def local_binary(op: str, a: np.ndarray, b, nodata=NODATA_U16) -> np.ndarray:
    """Binary local op; b is a tile or a scalar. NoData propagates."""
    fa = _to_float(a, nodata)
    fb = _to_float(np.asarray(b), nodata) if isinstance(b, np.ndarray) else float(b)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = _BINARY[op](fa, fb)
    mask = np.isnan(fa)
    if isinstance(fb, np.ndarray):
        mask = mask | np.isnan(fb)
    r = np.where(mask, np.nan, r)
    return _from_float(r, a.dtype, nodata)


def local_unary(op: str, a: np.ndarray, nodata=NODATA_U16) -> np.ndarray:
    fa = _to_float(a, nodata)
    if op == "defined":
        return (~np.isnan(fa)).astype(np.uint8)
    if op == "undefined":
        return np.isnan(fa).astype(np.uint8)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = _UNARY[op](fa)
    return _from_float(np.where(np.isnan(fa), np.nan, r), a.dtype, nodata)


def local_stack_stats(stack: np.ndarray, stat: str, nodata=NODATA_U16) -> np.ndarray:
    """N-ary local stat over a (n, h, w) stack: mean/variance/variety/
    majority/minority/min/max/sum (NoData-aware)."""
    f = np.stack([_to_float(t, nodata) for t in stack])
    with np.errstate(invalid="ignore"):
        if stat == "mean":
            return np.nanmean(f, axis=0)
        if stat == "sum":
            return np.nansum(f, axis=0)
        if stat == "min":
            return np.nanmin(f, axis=0)
        if stat == "max":
            return np.nanmax(f, axis=0)
        if stat == "variance":
            return np.nanvar(f, axis=0, ddof=1)
        if stat == "variety":
            srt = np.sort(f, axis=0)
            uniq = np.sum(
                (srt[1:] != srt[:-1]) & ~np.isnan(srt[1:]), axis=0
            ) + (~np.isnan(srt[0])).astype(np.int64)
            return uniq.astype(np.float64)
        if stat in ("majority", "minority"):
            h, w = f.shape[1:]
            stack_lastaxis = np.moveaxis(f, 0, -1)  # (h, w, n)
            return _window_mode(
                stack_lastaxis, (h, w), pick="max" if stat == "majority" else "min"
            )
    raise ValueError(f"unknown stack stat {stat}")


# ---------------------------------------------------------------- focal

def _windows(padded: np.ndarray, radius: int) -> np.ndarray:
    """(h, w, k, k) sliding windows over a NaN-padded array."""
    k = 2 * radius + 1
    return np.lib.stride_tricks.sliding_window_view(padded, (k, k))


def neighborhood_mask(kind: str, radius: int, **kw) -> np.ndarray:
    """Boolean (k, k) mask selecting the cells of a GeoTrellis
    Neighborhood (``raster/.../mapalgebra/focal/Neighborhood.scala``
    role): square | circle | annulus(inner=) | nesw | wedge(start=,
    end= degrees, counter-clockwise from east)."""
    k = 2 * radius + 1
    dy, dx = np.mgrid[-radius : radius + 1, -radius : radius + 1]
    if kind == "square":
        return np.ones((k, k), dtype=bool)
    if kind == "circle":
        return dx * dx + dy * dy <= radius * radius
    if kind == "annulus":
        inner = float(kw.get("inner", 1.0))
        d2 = dx * dx + dy * dy
        return (d2 >= inner * inner) & (d2 <= radius * radius)
    if kind == "nesw":  # plus shape: N/E/S/W arms + center
        return (dx == 0) | (dy == 0)
    if kind == "wedge":
        start = float(kw.get("start", 0.0))
        end = float(kw.get("end", 90.0))
        ang = np.degrees(np.arctan2(-dy, dx)) % 360.0  # CCW from east
        inside = (
            ((ang - start) % 360.0) <= ((end - start) % 360.0)
            if start != end
            else np.ones((k, k), dtype=bool)
        )
        inside = inside & (dx * dx + dy * dy <= radius * radius)
        inside[radius, radius] = True  # center always participates
        return inside
    raise ValueError(f"unknown neighborhood {kind!r}")


def _apply_target(
    result: np.ndarray, tile_f: np.ndarray, target: str
) -> np.ndarray:
    """TargetCell semantics (``focal/TargetCell.scala`` role): compute
    only where the center cell is data ('data') / NoData ('nodata');
    other cells keep their original value."""
    if target == "all":
        return result
    if target == "data":
        return np.where(np.isnan(tile_f), tile_f, result)
    if target == "nodata":
        return np.where(np.isnan(tile_f), result, tile_f)
    raise ValueError(f"unknown target {target!r}")


def focal_stat(
    tile: np.ndarray,
    stat: str,
    radius: int = 1,
    nodata=NODATA_U16,
    neighborhood: str | np.ndarray = "square",
    target: str = "all",
) -> np.ndarray:
    """Focal statistic over any Neighborhood (Square/Circle/Annulus/
    Nesw/Wedge or an explicit (k,k) bool mask); NoData cells excluded
    from the neighborhood; result float64 with NaN where no data cell
    in window. ``target`` gives TargetCell semantics.

    ``tile`` may already be a buffered tile — the caller crops back to
    the center region (BufferTiles contract, SURVEY.md §2.F).
    """
    f = _to_float(tile, nodata)
    padded = np.pad(f, radius, constant_values=np.nan)
    w = _windows(padded, radius).reshape(f.shape + (-1,))
    if isinstance(neighborhood, np.ndarray):
        mask = neighborhood.astype(bool)
    else:
        mask = neighborhood_mask(neighborhood, radius)
    if not mask.all():
        w = np.where(mask.ravel()[None, None, :], w, np.nan)

    def _done(res):
        return _apply_target(res, f, target)

    with np.errstate(invalid="ignore"), np.testing.suppress_warnings() as sup:
        sup.filter(RuntimeWarning)
        if stat == "mean":
            return _done(np.nanmean(w, axis=-1))
        if stat == "sum":
            return _done(np.nansum(w, axis=-1))
        if stat == "min":
            return _done(np.nanmin(w, axis=-1))
        if stat == "max":
            return _done(np.nanmax(w, axis=-1))
        if stat == "median":
            return _done(np.nanmedian(w, axis=-1))
        if stat == "std":
            return _done(np.nanstd(w, axis=-1))
        if stat == "mode":
            return _done(_window_mode(w, f.shape))
    raise ValueError(f"unknown focal stat {stat}")


def _window_mode(
    w: np.ndarray, shape: tuple[int, int], pick: str = "max"
) -> np.ndarray:
    """Vectorized per-window mode/anti-mode (smallest value wins count
    ties, the np.unique/argmax convention): sort each window, run-length
    via boundary diffs — no per-pixel python loop. ``pick='min'`` gives
    the minority (least frequent) value instead."""
    s = np.sort(w, axis=-1)  # NaNs sort to the end
    m = s.shape[-1]
    # run id of each sorted slot (new run where value changes)
    new_run = np.ones(s.shape, dtype=np.int64)
    new_run[..., 1:] = (s[..., 1:] != s[..., :-1]).astype(np.int64)
    run_id = np.cumsum(new_run, axis=-1) - 1  # 0-based run index per slot
    valid = ~np.isnan(s)
    # accumulate run lengths: scatter-add 1 for each valid slot
    flat_counts = np.zeros(s.shape, dtype=np.int64).reshape(-1, m)
    flat_run = run_id.reshape(-1, m)
    flat_valid = valid.reshape(-1, m)
    rows = np.repeat(np.arange(flat_run.shape[0]), m).reshape(-1, m)
    np.add.at(flat_counts, (rows[flat_valid], flat_run[flat_valid]), 1)
    if pick == "max":
        best_run = np.argmax(flat_counts, axis=-1)  # first max = smallest value
    else:  # minority: least frequent existing run (0-count runs excluded)
        best_run = np.argmin(
            np.where(flat_counts > 0, flat_counts, np.iinfo(np.int64).max),
            axis=-1,
        )
    # first slot of each run: where run_id == best_run first occurs
    first_slot = np.argmax(flat_run == best_run[:, None], axis=-1)
    out = s.reshape(-1, m)[np.arange(flat_run.shape[0]), first_slot]
    out = np.where(flat_valid.any(axis=-1), out, np.nan)
    return out.reshape(shape)


def focal_mean(tile, radius=1, nodata=NODATA_U16):
    return focal_stat(tile, "mean", radius, nodata)


def focal_sum(tile, radius=1, nodata=NODATA_U16):
    return focal_stat(tile, "sum", radius, nodata)


def focal_min(tile, radius=1, nodata=NODATA_U16):
    return focal_stat(tile, "min", radius, nodata)


def focal_max(tile, radius=1, nodata=NODATA_U16):
    return focal_stat(tile, "max", radius, nodata)


def focal_median(tile, radius=1, nodata=NODATA_U16):
    return focal_stat(tile, "median", radius, nodata)


def focal_std(tile, radius=1, nodata=NODATA_U16):
    return focal_stat(tile, "std", radius, nodata)


def focal_mode(tile, radius=1, nodata=NODATA_U16):
    return focal_stat(tile, "mode", radius, nodata)


def convolve(
    tile: np.ndarray,
    kernel: np.ndarray,
    nodata=NODATA_U16,
    target: str = "all",
) -> np.ndarray:
    """Focal convolution (``focal/{Convolve,Kernel}.scala`` role):
    weighted sum of the window, NoData cells skipped (their weight
    contributes nothing — GeoTrellis Kernel semantics). ``kernel`` is a
    (k, k) float array, k odd. Result float64, NaN where the window has
    no data cell."""
    kernel = np.asarray(kernel, dtype=np.float64)
    kh, kw = kernel.shape
    if kh != kw or kh % 2 == 0:
        raise ValueError("convolve kernel must be square with odd size")
    radius = kh // 2
    f = _to_float(tile, nodata)
    padded = np.pad(f, radius, constant_values=np.nan)
    w = _windows(padded, radius).reshape(f.shape + (-1,))
    kv = kernel.ravel()[None, None, :]
    with np.errstate(invalid="ignore"):
        terms = w * kv
        res = np.nansum(terms, axis=-1)
        res = np.where(np.isnan(w).all(axis=-1), np.nan, res)
    return _apply_target(res, f, target)


# ------------------------------------------------------------- resample

def bilinear_sample(
    tile: np.ndarray, u: np.ndarray, v: np.ndarray, nodata=NODATA_U16
) -> np.ndarray:
    """Sample ``tile`` at fractional pixel coords (u = col, v = row,
    pixel centers at integers). Out-of-bounds or any-NoData-corner
    samples return NaN. Used by the reproject warp (G1)."""
    f = _to_float(tile, nodata)
    h, w = f.shape
    out = np.full(u.shape, np.nan)
    ok = (u >= -0.5) & (u <= w - 0.5) & (v >= -0.5) & (v <= h - 0.5)
    if not ok.any():
        return out
    uu = np.clip(u[ok], 0, w - 1)
    vv = np.clip(v[ok], 0, h - 1)
    x0 = np.floor(uu).astype(np.int64)
    y0 = np.floor(vv).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    wx = uu - x0
    wy = vv - y0
    val = (
        f[y0, x0] * (1 - wy) * (1 - wx)
        + f[y0, x1] * (1 - wy) * wx
        + f[y1, x0] * wy * (1 - wx)
        + f[y1, x1] * wy * wx
    )
    out[ok] = val
    return out


def nearest_sample(
    tile: np.ndarray, u: np.ndarray, v: np.ndarray, nodata=NODATA_U16
) -> np.ndarray:
    """NearestNeighbor variant of :func:`bilinear_sample`."""
    f = _to_float(tile, nodata)
    h, w = f.shape
    out = np.full(u.shape, np.nan)
    ok = (u >= -0.5) & (u <= w - 0.5) & (v >= -0.5) & (v <= h - 0.5)
    x = np.clip(np.rint(u[ok]).astype(np.int64), 0, w - 1)
    y = np.clip(np.rint(v[ok]).astype(np.int64), 0, h - 1)
    out[ok] = f[y, x]
    return out


def euclidean_distance(mask: np.ndarray, cw: float = 1.0, ch: float = 1.0) -> np.ndarray:
    """Exact Euclidean distance transform: distance from every cell
    center to the nearest True cell (RV7 ``distance/EuclideanDistance
    Tile`` role, computed per tile). Felzenszwalb & Huttenlocher's
    two-pass separable lower-envelope algorithm (O(n) per scanline,
    public domain formulation). Cells with no feature anywhere -> inf."""

    def _edt1d(frow: np.ndarray) -> np.ndarray:
        n = frow.shape[0]
        d = np.full(n, np.inf)
        v = np.zeros(n, dtype=np.int64)  # locations of parabolas
        zb = np.full(n + 1, np.inf)  # boundaries
        zb[0] = -np.inf
        k = 0
        first = True
        for q in range(n):
            if frow[q] == np.inf:
                continue
            if first:
                v[0] = q
                zb[0], zb[1] = -np.inf, np.inf
                k = 0
                first = False
                continue
            while True:
                p = v[k]
                s = ((frow[q] + q * q) - (frow[p] + p * p)) / (2 * q - 2 * p)
                if s <= zb[k]:
                    k -= 1
                else:
                    break
            k += 1
            v[k] = q
            zb[k] = s
            zb[k + 1] = np.inf
        if first:
            return d
        k = 0
        for q in range(n):
            while zb[k + 1] < q:
                k += 1
            p = v[k]
            d[q] = (q - p) * (q - p) + frow[p]
        return d

    h, w = mask.shape
    f = np.where(mask, 0.0, np.inf)
    # column pass then row pass, with anisotropic cell size folded in
    # by scaling coordinates (distance in cw/ch units)
    tmp = np.empty((h, w))
    for x in range(w):
        tmp[:, x] = _edt1d(f[:, x]) * (ch * ch)
    out = np.empty((h, w))
    for y in range(h):
        out[y, :] = _edt1d(tmp[y, :] / (cw * cw)) * (cw * cw)
    return np.sqrt(out)


def decimate2(tile: np.ndarray) -> np.ndarray:
    """2x downsample by NearestNeighbor (pyramid default: top-left of
    each 2x2 block — matches NN at the parent cell center convention
    used for pyramid tests in FIXTURES.md §F4)."""
    return tile[::2, ::2]


# ------------------------------------------------------------ rasterize

def rasterize_polygon(
    rings: list[np.ndarray],
    xs: np.ndarray,
    ys: np.ndarray,
) -> np.ndarray:
    """Even-odd scanline fill over cell centers.

    xs: cell-center x coords (ascending, tile_cols), ys: cell-center y
    coords (descending, tile_rows). Returns (rows, cols) bool mask.
    Equivalent to PIP of every cell center (the property the reference
    tests assert: rasterized mask == PIP(cell centers))."""
    cols = xs.shape[0]
    rows = ys.shape[0]
    mask = np.zeros((rows, cols), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        x0, y0 = r[:-1, 0], r[:-1, 1]
        x1, y1 = r[1:, 0], r[1:, 1]
        nz = y0 != y1
        x0, y0, x1, y1 = x0[nz], y0[nz], x1[nz], y1[nz]
        if x0.size == 0:
            continue
        ymin = np.minimum(y0, y1)[None, :]
        ymax = np.maximum(y0, y1)[None, :]
        yc = ys[:, None]
        # half-open (ymin, ymax] crossing rule — must match
        # geom._crossings so rasterize == PIP-of-centers holds exactly
        active = (yc > ymin) & (yc <= ymax)
        t = (yc - y0[None, :]) / (y1 - y0)[None, :]
        xc = x0[None, :] + t * (x1 - x0)[None, :]
        # parity of crossings right of each cell center
        cross = active[:, None, :] & (xs[None, :, None] < xc[:, None, :])
        mask ^= (cross.sum(axis=2) % 2).astype(bool)
    return mask


# ---------------------------------------------------------- components

def min_label_components(
    a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of the undirected graph with edges
    ``(a[i], b[i])``: the sorted distinct ids, and per id the minimum
    id of its component. Ids are made dense with ``np.unique`` (so a
    smaller index is a smaller id); each round pointer-jumps the label
    forest until every node points at its root, then hooks every root
    under the smallest root across its edges (``np.minimum.at``). It
    stops when no root moves."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a):]
    lab = np.arange(len(ids))
    while True:
        while not np.array_equal(lab[lab], lab):
            lab = lab[lab]
        ra, rb = lab[ea], lab[eb]
        hooked = lab.copy()
        np.minimum.at(hooked, ra, rb)
        np.minimum.at(hooked, rb, ra)
        if np.array_equal(hooked, lab):
            return ids, ids[lab]
        lab = hooked


# ----------------------------------------------------------- hydrology
# Reference role: raster/src/main/scala/geotrellis/raster/hydrology/
# FlowDirection.scala (upstream layout; mount empty) — reimplemented
# from the published D8 algorithm.

_D8_OFF = (  # (dr, dc, esri_code)
    (0, 1, 1), (1, 1, 2), (1, 0, 4), (1, -1, 8),
    (0, -1, 16), (-1, -1, 32), (-1, 0, 64), (-1, 1, 128),
)


def flow_direction(dem: np.ndarray, cw: float = 1.0, ch: float = 1.0) -> np.ndarray:
    """D8 flow direction (ESRI encoding E=1 SE=2 S=4 SW=8 W=16 NW=32
    N=64 NE=128): the neighbor with the steepest positive drop
    (drop / distance; distance is the true per-direction step —
    cw east-west, ch north-south, hypot(cw, ch) diagonal — so
    anisotropic cells rank directions correctly); ties and flats
    resolve to the LOWEST code (deterministic). Cells with no
    downslope neighbor (pits) get 0."""
    z = dem.astype(np.float64)
    p = np.pad(z, 1, mode="edge")
    best = np.zeros_like(z)
    code = np.zeros(z.shape, dtype=np.int32)
    for dr, dc, c in _D8_OFF:
        d = float(np.hypot(dc * cw, dr * ch))
        drop = (z - p[1 + dr : 1 + dr + z.shape[0],
                      1 + dc : 1 + dc + z.shape[1]]) / d
        better = drop > best
        best = np.where(better, drop, best)
        code = np.where(better, c, code)
    return code
