"""Deterministic-coordinate and cell-id expression builders.

Single source of truth for the integer math that BOTH the Spark engine
and the DuckDB oracles evaluate (FIXTURES.md §F1: the test tables carry
no geometry, so spatial queries derive coordinates deterministically
from integer keys). Every builder returns an ANSI-SQL string valid in
both Spark SQL and DuckDB. The engine evaluates the same strings with
``F.expr(...)`` (cell keying, Z-order and Z3 ids: JVM expressions, no
Python worker), so engine and oracle share one definition. The numpy
twins (``key_np``, ``lonlat_np``) serve the Python-side kernels that
have no SQL form — the Hilbert index, cover-cell enumeration — and the
tests.

All arithmetic stays exact: intermediate values < 2^53 so float64 math
is integer-exact, and multiplications stay < 2^63 in int64 engines.

Key/cell math here uses the LatLng (EPSG:4326) ZoomedLayoutScheme
(linear formulas — exactly reproducible in SQL). The WebMercator slippy
path (transcendental) is exercised by pytest goldens instead
(tests/test_core_layout.py).
"""

from __future__ import annotations

import numpy as np

# Knuth multiplicative-hash constants (public domain)
LON_MULT = 2654435761  # 2^32 * golden ratio conjugate
LAT_MULT = 2246822519  # xxhash PRIME32_2
M32 = 4294967296  # 2^32


def lon_sql(id_col: str) -> str:
    """Deterministic longitude in [-180, 180) from an integer id.

    The CAST keeps the arithmetic in float64 in both dialects (Spark
    parses bare decimal literals as DECIMAL, which would poison the
    expression's type)."""
    return (
        f"(cast(({id_col} * {LON_MULT}) % {M32} as double) / {M32} "
        f"* 360 - 180)"
    )


def lat_sql(id_col: str) -> str:
    """Deterministic latitude in [-85, 85) (WebMercator-safe clamp)."""
    return (
        f"(cast(({id_col} * {LAT_MULT}) % {M32} as double) / {M32} "
        f"* 170 - 85)"
    )


def lonlat_np(lon_id, lat_id) -> tuple[np.ndarray, np.ndarray]:
    """Numpy twin of lon_sql/lat_sql (used inside pandas UDF kernels)."""
    lon_id = np.asarray(lon_id, dtype=np.int64)
    lat_id = np.asarray(lat_id, dtype=np.int64)
    lon = ((lon_id * LON_MULT) % M32) / M32 * 360.0 - 180.0
    lat = ((lat_id * LAT_MULT) % M32) / M32 * 170.0 - 85.0
    return lon, lat


HOT_LON, HOT_LAT = 10.0, 45.0  # images hot-spot box corner (0.5 x 0.5 deg)
HOT_EVERY = 10  # every 10th image lands in the box (real spatial skew)


def image_lonlat_np(ordinal) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic image geolocation WITH the hot-spot cluster: every
    HOT_EVERY-th image maps into one 0.5 x 0.5 degree box — the skew
    the salting / AQE / map-side-combine machinery must handle."""
    i = np.asarray(ordinal, dtype=np.int64)
    lon, lat = lonlat_np(i, i)
    hot = (i % HOT_EVERY) == 0
    frac_lon = ((i * LON_MULT) % M32) / M32
    frac_lat = ((i * LAT_MULT) % M32) / M32
    lon = np.where(hot, HOT_LON + frac_lon * 0.5, lon)
    lat = np.where(hot, HOT_LAT + frac_lat * 0.5, lat)
    return lon, lat


def image_lon_sql(id_col: str) -> str:
    """SQL twin of image_lonlat_np's longitude (exact: same op order)."""
    frac = f"(cast(({id_col} * {LON_MULT}) % {M32} as double) / {M32})"
    return (
        f"(CASE WHEN ({id_col}) % {HOT_EVERY} = 0 "
        f"THEN {HOT_LON} + {frac} * 0.5 ELSE {frac} * 360 - 180 END)"
    )


def image_lat_sql(id_col: str) -> str:
    frac = f"(cast(({id_col} * {LAT_MULT}) % {M32} as double) / {M32})"
    return (
        f"(CASE WHEN ({id_col}) % {HOT_EVERY} = 0 "
        f"THEN {HOT_LAT} + {frac} * 0.5 ELSE {frac} * 170 - 85 END)"
    )


def key_col_sql(lon_expr: str, zoom: int) -> str:
    """LatLng ZoomedLayoutScheme key column: floor((lon+180)/360 * 2^z),
    clamped to the grid (far-east edge lands in the last tile)."""
    n = 1 << zoom
    return (
        f"least(greatest(cast(floor((({lon_expr}) + 180) / 360 * {n}) "
        f"as bigint), 0), {n - 1})"
    )


def key_row_sql(lat_expr: str, zoom: int) -> str:
    """Key row with row 0 = north: floor((90 - lat)/180 * 2^z), clamped."""
    n = 1 << zoom
    return (
        f"least(greatest(cast(floor((90 - ({lat_expr})) / 180 * {n}) "
        f"as bigint), 0), {n - 1})"
    )


def key_np(lon, lat, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Numpy twin of key_col_sql/key_row_sql."""
    n = 1 << zoom
    col = np.floor((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64)
    row = np.floor((90.0 - np.asarray(lat)) / 180.0 * n).astype(np.int64)
    return np.clip(col, 0, n - 1), np.clip(row, 0, n - 1)


def zorder_sql(col_expr: str, row_expr: str, bits: int) -> str:
    """Morton interleave as a finite bit-term sum (SQL-expressible twin
    of core.sfc.zorder): sum_i [bit_i(col) * 4^i + bit_i(row) * 2*4^i].
    """
    terms = []
    for i in range(bits):
        p2, p4 = 1 << i, 1 << (2 * i)
        terms.append(
            f"cast(floor(({col_expr}) / {p2}) % 2 as bigint) * {p4}"
        )
        terms.append(
            f"cast(floor(({row_expr}) / {p2}) % 2 as bigint) * {2 * p4}"
        )
    return "(" + " + ".join(terms) + ")"


def z3_sql(col_expr: str, row_expr: str, t_expr: str, bits_xy: int, bits_t: int) -> str:
    """3-D Morton (SpaceTimeKey index) as a finite bit-term sum — twin
    of core.sfc.z3: col at bit 0, row at bit 1, time at bit 2 of each
    3-bit group."""
    terms = []
    for i in range(bits_xy):
        p2, p8 = 1 << i, 1 << (3 * i)
        terms.append(f"cast(floor(({col_expr}) / {p2}) % 2 as bigint) * {p8}")
        terms.append(f"cast(floor(({row_expr}) / {p2}) % 2 as bigint) * {2 * p8}")
    for i in range(bits_t):
        p2, p8 = 1 << i, 1 << (3 * i)
        terms.append(f"cast(floor(({t_expr}) / {p2}) % 2 as bigint) * {4 * p8}")
    return "(" + " + ".join(terms) + ")"


def key_to_extent_sql(key_expr: str, axis: str, zoom: int) -> str:
    """Inverse key math (MapKeyTransform.keyToExtent) on the LatLng grid:
    axis in {xmin, xmax, ymin, ymax}."""
    n = 1 << zoom
    if axis == "xmin":
        return f"cast(-180 + ({key_expr}) * 360 / {n} as double)"
    if axis == "xmax":
        return f"cast(-180 + (({key_expr}) + 1) * 360 / {n} as double)"
    if axis == "ymax":
        return f"cast(90 - ({key_expr}) * 180 / {n} as double)"
    if axis == "ymin":
        return f"cast(90 - (({key_expr}) + 1) * 180 / {n} as double)"
    raise ValueError(axis)
