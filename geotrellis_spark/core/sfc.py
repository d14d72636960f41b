"""Space-filling-curve cell IDs — vectorized numpy, no per-row Python.

Re-expression of GeoTrellis key indexes (reference:
``store/src/main/scala/geotrellis/store/index/zcurve/{Z2,Z3}.scala``,
``hilbert/HilbertSpatialKeyIndex.scala``,
``rowmajor/RowMajorSpatialKeyIndex.scala`` — upstream 3.x layout; see
SURVEY.md §0 for citation provenance) as S2/H3-style int64 cell IDs:

- ``zorder(col, row)``    — Morton interleave; the quad-tree property
  ``parent(cell) == cell >> 2`` holds (S2-style hierarchy).
- ``hilbert_xy2d / d2xy`` — Hilbert curve position (better locality for
  range partitioning; same parent-prefix property).
- ``z3(col, row, t)``     — 3-D Morton for SpaceTimeKey layers.
- ``zorder_ranges(...)``  — decompose a key rectangle into contiguous
  Z-index ranges (GeoTrellis ``Z2.zdivide`` + ``MergeQueue`` role): the
  planner turns these into ``cell_id BETWEEN lo AND hi`` predicates that
  Parquet/Iceberg min-max statistics prune on.

The zoom level is *not* packed into the cell id (it is a separate
partition column), so col/row may each use up to 31 bits.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "zorder",
    "zorder_decode",
    "z3",
    "z3_decode",
    "hilbert_xy2d",
    "hilbert_d2xy",
    "rowmajor",
    "zorder_ranges",
    "merge_ranges",
    "children_cells",
]


def _spread2(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v onto even bit positions (0,2,4,...)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unspread2(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def zorder(col, row) -> np.ndarray:
    """Morton Z-order index: bit-interleave (col, row), col in bit 0.

    Matches GeoTrellis ``Z2(col, row)`` semantics: (0,0)->0, (1,0)->1,
    (0,1)->2, (1,1)->3, (2,2)->12, (7,5)->55.
    """
    col = np.asarray(col)
    row = np.asarray(row)
    return (_spread2(col) | (_spread2(row) << np.uint64(1))).astype(np.int64)


def zorder_decode(cell) -> tuple[np.ndarray, np.ndarray]:
    cell = np.asarray(cell).astype(np.uint64)
    return (
        _unspread2(cell).astype(np.int64),
        _unspread2(cell >> np.uint64(1)).astype(np.int64),
    )


def _spread3(v: np.ndarray) -> np.ndarray:
    """Spread low 21 bits onto every third bit position."""
    v = v.astype(np.uint64) & np.uint64(0x1FFFFF)
    v = (v | (v << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    v = (v | (v << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    v = (v | (v << np.uint64(2))) & np.uint64(0x1249249249249249)
    return v


def _unspread3(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x1249249249249249)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x10C30C30C30C30C3)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x100F00F00F00F00F)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x1F0000FF0000FF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x1F00000000FFFF)
    v = (v | (v >> np.uint64(32))) & np.uint64(0x1FFFFF)
    return v


def z3(col, row, t) -> np.ndarray:
    """3-D Morton (SpaceTimeKey): col bit 0, row bit 1, time bit 2.

    GeoTrellis ``Z3(col, row, t)`` role; ``t`` is a binned time ordinal
    (e.g. days since epoch), 21 bits each.
    """
    return (
        _spread3(np.asarray(col))
        | (_spread3(np.asarray(row)) << np.uint64(1))
        | (_spread3(np.asarray(t)) << np.uint64(2))
    ).astype(np.int64)


def z3_decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell).astype(np.uint64)
    return (
        _unspread3(c).astype(np.int64),
        _unspread3(c >> np.uint64(1)).astype(np.int64),
        _unspread3(c >> np.uint64(2)).astype(np.int64),
    )


def rowmajor(col, row, layout_cols: int) -> np.ndarray:
    """RowMajorSpatialKeyIndex: row * layoutCols + col."""
    return (np.asarray(row).astype(np.int64) * int(layout_cols)) + np.asarray(
        col
    ).astype(np.int64)


# ---------------------------------------------------------------- Hilbert

def hilbert_xy2d(order: int, col, row) -> np.ndarray:
    """Hilbert curve distance of (col, row) on a 2^order x 2^order grid.

    Iterative public-domain algorithm (Hamilton / Wikipedia ``xy2d``),
    vectorized over numpy batches. Role of GeoTrellis
    ``HilbertSpatialKeyIndex`` (which delegates to uzaygezen's compact
    Hilbert curve).
    """
    x = np.asarray(col).astype(np.int64).copy()
    y = np.asarray(row).astype(np.int64).copy()
    d = np.zeros_like(x, dtype=np.int64)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, y_f, x_f), np.where(swap, x_f, y_f)
        s >>= 1
    return d


def hilbert_d2xy(order: int, d) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`hilbert_xy2d`."""
    d = np.asarray(d).astype(np.int64)
    t = d.copy()
    x = np.zeros_like(d)
    y = np.zeros_like(d)
    s = np.int64(1)
    n = np.int64(1) << order
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, y_f, x_f), np.where(swap, x_f, y_f)
        x = x + s * rx
        y = y + s * ry
        t //= 4
        s <<= 1
    return x, y


# ------------------------------------------------- range decomposition

def zorder_ranges(
    col_min: int, col_max: int, row_min: int, row_max: int, max_ranges: int = 512
) -> list[tuple[int, int]]:
    """Decompose a key rectangle (inclusive bounds) into contiguous
    Z-order index ranges.

    Role of GeoTrellis ``Z2.zdivide`` / ``KeyIndex.indexRanges`` +
    ``MergeQueue``: the ranges are *exact* (their union is precisely the
    rectangle's cells) so a scan with ``cell_id BETWEEN lo AND hi``
    predicates reads no false positives. Implemented by quad-tree
    decomposition: an aligned 2^k x 2^k block is a single contiguous
    Z range; maximal aligned blocks inside the rectangle are emitted and
    adjacent ranges coalesced. ``max_ranges`` caps the list by coalescing
    nearest-gap ranges (admits false positives, never false negatives).
    """
    ranges: list[tuple[int, int]] = []

    def block(c0: int, r0: int, size: int) -> None:
        # aligned size x size block fully inside the query rectangle?
        if (
            c0 >= col_min
            and r0 >= row_min
            and c0 + size - 1 <= col_max
            and r0 + size - 1 <= row_max
        ):
            lo = int(zorder(np.int64(c0), np.int64(r0)))
            ranges.append((lo, lo + size * size - 1))
            return
        # no overlap?
        if c0 > col_max or r0 > row_max or c0 + size - 1 < col_min or r0 + size - 1 < row_min:
            return
        half = size // 2
        if half == 0:
            return
        # recurse in Z order so emitted ranges come out sorted
        block(c0, r0, half)
        block(c0 + half, r0, half)
        block(c0, r0 + half, half)
        block(c0 + half, r0 + half, half)

    span = max(col_max + 1, row_max + 1, 1)
    size = 1
    while size < span:
        size <<= 1
    block(0, 0, size)
    ranges.sort()
    merged = merge_ranges(ranges)
    while len(merged) > max_ranges:
        # coalesce the pair with the smallest gap (false positives OK)
        gaps = [
            (merged[i + 1][0] - merged[i][1], i) for i in range(len(merged) - 1)
        ]
        gaps.sort()
        keep = {i for _, i in gaps[: len(merged) - max_ranges]}
        out: list[tuple[int, int]] = []
        for i, r in enumerate(merged):
            if out and (i - 1) in keep:
                out[-1] = (out[-1][0], r[1])
            else:
                out.append(r)
        merged = out
    return merged


def merge_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Coalesce sorted, possibly-adjacent inclusive ranges (MergeQueue)."""
    out: list[tuple[int, int]] = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def children_cells(cell, delta_z: int = 1) -> np.ndarray:
    """All 4^delta_z child cell ids of each input cell, flattened."""
    cell = np.atleast_1d(np.asarray(cell).astype(np.int64))
    k = 4**delta_z
    base = cell << (2 * delta_z)
    return (base[:, None] + np.arange(k, dtype=np.int64)[None, :]).ravel()
