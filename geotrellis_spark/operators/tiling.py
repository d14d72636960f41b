"""Tiling pipeline: images -> layout tiles -> pyramid -> focal.

Spark-first re-expression of the GeoTrellis ingest spine (upstream 3.x
layout, SURVEY.md §0 / §3.E1):

- ``cut_images``   — T5 ``tileToLayout``/``CutTiles`` (``spark/.../
  tiling/{CutTiles,Tiler}.scala``): every image is sliced against the
  layout tiles it overlaps inside ``mapInPandas`` (Arrow batches, numpy
  slicing — no per-row Python).
- ``merge_tiles``  — T7 ``Tile.merge`` first-non-NoData-wins, made
  order-independent by a per-cell winner-ordinal plane: lower source
  ordinal wins where both have data. One shuffle groups each cell's
  pieces.
- ``pyramid_up``   — T6 ``Pyramid.up`` (``spark/.../pyramid/
  Pyramid.scala``): parent key (c/2, r/2), child quadrant (c%2, r%2),
  NN 2x decimation; one shuffle per level.
- ``focal_tiles``  — T10+2.F ``BufferTiles`` + ``FocalOperation``
  (``spark/.../buffer/BufferTiles.scala``): each tile emits itself plus
  8 directional border strips; one shuffle groups them; the stencil
  runs on the padded assembly and crops back to center.

Geometry model: an image's center (lon, lat) is derived from its
ordinal (FIXTURES.md §F2); the image is anchored to the global pixel
lattice of the target zoom (integer pixel space), so cutting is exact
integer slicing and a pure-python oracle can reproduce every tile.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core import codecs, grouped, kernels, sfc
from ..functions import exprs

NODATA = kernels.NODATA_U16

# piece payloads are zlib-1-packed for the cut->merge shuffle: the
# pattern-heavy share of real imagery compresses 2-50x for ~1ms/128KB
# CPU, directly attacking the measured DRAM-bandwidth ceiling at high
# local parallelism (BENCH/BASELINE.md). Level 1: the shuffle is
# bandwidth-bound, not entropy-bound.
import zlib as _zlib


def _pack_piece(arr: np.ndarray) -> bytes:
    return _zlib.compress(np.ascontiguousarray(arr, dtype="<u2").tobytes(), 1)


def _unpack_piece(data: bytes, ph: int, pw: int) -> np.ndarray:
    return np.frombuffer(_zlib.decompress(data), dtype="<u2").reshape(ph, pw)

PIECE_SCHEMA = StructType(
    [
        StructField("cell_id", LongType()),
        StructField("key_col", LongType()),
        StructField("key_row", LongType()),
        StructField("salt", IntegerType()),
        StructField("src_ord", LongType()),
        StructField("r0", IntegerType()),
        StructField("c0", IntegerType()),
        StructField("ph", IntegerType()),
        StructField("pw", IntegerType()),
        StructField("piece", BinaryType()),
    ]
)

_ORD_SENTINEL = np.uint32(0xFFFFFFFF)

TILE_SCHEMA = StructType(
    [
        StructField("layer", StringType()),
        StructField("zoom", IntegerType()),
        StructField("key_col", LongType()),
        StructField("key_row", LongType()),
        StructField("cell_id", LongType()),
        StructField("tile", BinaryType()),
        StructField("fmt", StringType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("cell_type", StringType()),
    ]
)


def image_anchor(ordinal: np.ndarray, w: np.ndarray, h: np.ndarray, zoom: int, tile_size: int):
    """Top-left corner of each image on the global pixel lattice at
    ``zoom`` (LatLng scheme): center from the deterministic lon/lat
    formulas INCLUDING the hot-spot cluster (every 10th image in one
    0.5-degree box — real spatial skew the merge must absorb), snapped
    to integer pixels, clamped inside the world."""
    lon, lat = exprs.image_lonlat_np(ordinal)
    n = (1 << zoom) * tile_size  # world size in pixels
    gx = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64) - w // 2
    gy = np.floor((90.0 - lat) / 180.0 * n).astype(np.int64) - h // 2
    gx = np.clip(gx, 0, n - w)
    gy = np.clip(gy, 0, n - h)
    return gx, gy


def cut_images(
    images: DataFrame, zoom: int, tile_size: int = 256, salt_buckets: int = 8
) -> DataFrame:
    """Slice each image into per-layout-tile pieces (T5 flatMap side).

    Expects columns image_id('img%012d'), bytes, w, h, fmt. Emits one
    row per (image, overlapping tile) with integer placement."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in PIECE_SCHEMA.fields}
            ords = (
                pdf["image_id"].str.slice(3).astype(np.int64).to_numpy()
            )
            ws = pdf["w"].to_numpy(dtype=np.int64)
            hs = pdf["h"].to_numpy(dtype=np.int64)
            gxs, gys = image_anchor(ords, ws, hs, zoom, tile_size)
            for i in range(len(pdf)):
                img = codecs.decode_tile(
                    bytes(pdf["bytes"].iloc[i]),
                    int(ws[i]),
                    int(hs[i]),
                    pdf["fmt"].iloc[i],
                )
                gx, gy, w, h = int(gxs[i]), int(gys[i]), int(ws[i]), int(hs[i])
                t0c, t1c = gx // tile_size, (gx + w - 1) // tile_size
                t0r, t1r = gy // tile_size, (gy + h - 1) // tile_size
                for tc in range(t0c, t1c + 1):
                    for tr in range(t0r, t1r + 1):
                        x0 = max(gx, tc * tile_size)
                        x1 = min(gx + w, (tc + 1) * tile_size)
                        y0 = max(gy, tr * tile_size)
                        y1 = min(gy + h, (tr + 1) * tile_size)
                        piece = img[y0 - gy : y1 - gy, x0 - gx : x1 - gx]
                        out["cell_id"].append(int(sfc.zorder(tc, tr)))
                        out["key_col"].append(tc)
                        out["key_row"].append(tr)
                        out["salt"].append(int(ords[i]) % salt_buckets)
                        out["src_ord"].append(int(ords[i]))
                        out["r0"].append(y0 - tr * tile_size)
                        out["c0"].append(x0 - tc * tile_size)
                        out["ph"].append(y1 - y0)
                        out["pw"].append(x1 - x0)
                        out["piece"].append(_pack_piece(piece))
            yield pd.DataFrame(out)

    return images.mapInPandas(gen, PIECE_SCHEMA)


def merge_tiles(
    pieces: DataFrame,
    zoom: int,
    tile_size: int = 256,
    layer: str = "images",
    fmt: str = "raw16",
) -> DataFrame:
    """T7 merge: assemble pieces into tiles with ONE shuffle
    (repartition by cell_id, sorted within partitions). Where pieces
    overlap, the lower source ordinal wins, so the tile does not depend
    on piece order. A hot cell's group is bounded by
    (pieces_per_cell x piece_size); measured on the 10%-hot-spot
    fixture this is tens of MB — one long task, which AQE schedules
    alongside the small ones."""
    T = tile_size

    def merge_group(cell: int, kc: int, kr: int, items: list[tuple]) -> dict:
        """items: (r0, c0, ph, pw, packed piece, src_ord)."""
        canvas = np.full((T, T), NODATA, dtype=np.uint16)
        ords = np.full((T, T), _ORD_SENTINEL, dtype=np.uint32)
        for r0, c0, ph, pw, pb, so in items:
            px = _unpack_piece(pb, ph, pw)
            od = np.where(px != NODATA, np.uint32(so), _ORD_SENTINEL).astype(
                np.uint32
            )
            vc = canvas[r0 : r0 + ph, c0 : c0 + pw]
            vo = ords[r0 : r0 + ph, c0 : c0 + pw]
            win = od < vo
            vc[win] = px[win]
            vo[win] = od[win]
        return {
            "layer": layer, "zoom": zoom, "key_col": kc, "key_row": kr,
            "cell_id": cell, "tile": codecs.encode_tile(canvas, fmt),
            "fmt": fmt, "w": T, "h": T, "cell_type": "uint16ud0",
        }

    # Manual grouped-map: repartition+sort co-locates each cell's rows
    # contiguously, then ONE mapInPandas processes many groups per Arrow
    # batch. applyInPandas costs ~20ms of pandas/Arrow overhead PER
    # GROUP (measured: it dominated the whole pipeline at ~30k tiny
    # groups); this amortizes that to per-batch.
    cols = ["cell_id", "key_col", "key_row", "r0", "c0", "ph", "pw",
            "piece", "src_ord"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tail_cell = None
        tail_meta = (0, 0)
        tail_items: list[tuple] = []
        out: list[dict] = []

        def emit_tail():
            if tail_cell is not None:
                out.append(
                    merge_group(tail_cell, tail_meta[0], tail_meta[1], tail_items)
                )

        for pdf in batches:
            cells = pdf["cell_id"].to_numpy(np.int64)
            kcs = pdf["key_col"].to_numpy(np.int64)
            krs = pdf["key_row"].to_numpy(np.int64)
            r0s = pdf["r0"].to_numpy(np.int64)
            c0s = pdf["c0"].to_numpy(np.int64)
            phs = pdf["ph"].to_numpy(np.int64)
            pws = pdf["pw"].to_numpy(np.int64)
            pbs = pdf["piece"].to_numpy()
            sos = pdf["src_ord"].to_numpy(np.int64)
            for i in range(len(pdf)):
                cell = int(cells[i])
                if cell != tail_cell:
                    emit_tail()
                    tail_cell = cell
                    tail_meta = (int(kcs[i]), int(krs[i]))
                    tail_items = []
                tail_items.append(
                    (int(r0s[i]), int(c0s[i]), int(phs[i]), int(pws[i]),
                     bytes(pbs[i]), int(sos[i]))
                )
            if len(out) >= 64:
                yield pd.DataFrame(out, columns=[f.name for f in TILE_SCHEMA.fields])
                out = []
        emit_tail()
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in TILE_SCHEMA.fields])

    n_part = int(
        pieces.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    arranged = (
        pieces.select(cols)
        .repartition(n_part, "cell_id")
        .sortWithinPartitions("cell_id")
    )
    return arranged.mapInPandas(gen, TILE_SCHEMA)


def tile_images(
    images: DataFrame,
    zoom: int,
    tile_size: int = 256,
    salt_buckets: int = 8,
    layer: str = "images",
    fmt: str = "raw16",
) -> DataFrame:
    """E1 ingest spine: cut -> single-shuffle grouped merge.

    ``fmt='png'`` stores tiles zlib-compressed — the realistic
    production choice (3-5x smaller payloads through the sink and any
    downstream shuffle, at parallel CPU cost)."""
    pieces = cut_images(images, zoom, tile_size, salt_buckets)
    return merge_tiles(pieces, zoom, tile_size, layer, fmt)


def pyramid_up(tiles: DataFrame, from_zoom: int, tile_size: int = 256) -> DataFrame:
    """One pyramid level z -> z-1 (T6). Children (c,r) land in parent
    (c/2, r/2) quadrant (c%2, r%2), NN-decimated 2x. One shuffle via
    the manual grouped-map (amortized Arrow overhead; see core.grouped)."""
    T = tile_size
    half = T // 2
    to_zoom = from_zoom - 1

    def assemble(parent: int, pdf: pd.DataFrame) -> dict:
        canvas = np.full((T, T), NODATA, dtype=np.uint16)
        for i in range(len(pdf)):
            child = codecs.decode_tile(
                bytes(pdf["tile"].iloc[i]), T, T, pdf["fmt"].iloc[i]
            )
            qc = int(pdf["key_col"].iloc[i]) % 2
            qr = int(pdf["key_row"].iloc[i]) % 2
            canvas[qr * half : (qr + 1) * half, qc * half : (qc + 1) * half] = (
                kernels.decimate2(child)
            )
        pc = int(pdf["key_col"].iloc[0]) // 2
        pr = int(pdf["key_row"].iloc[0]) // 2
        return {
            "layer": pdf["layer"].iloc[0],
            "zoom": to_zoom,
            "key_col": pc,
            "key_row": pr,
            "cell_id": int(sfc.zorder(pc, pr)),
            "tile": codecs.encode_tile(canvas, pdf["fmt"].iloc[0]),
            "fmt": pdf["fmt"].iloc[0],
            "w": T,
            "h": T,
            "cell_type": pdf["cell_type"].iloc[0],
        }

    withp = tiles.withColumn("parent_cell", F.shiftright(F.col("cell_id"), 2))
    return grouped.grouped_rows(withp, "parent_cell", assemble, TILE_SCHEMA)


def build_pyramid(
    tiles: DataFrame, from_zoom: int, to_zoom: int = 0, tile_size: int = 256
) -> list[tuple[int, DataFrame]]:
    """Pyramid.levelStream: list of (zoom, tiles) down to ``to_zoom``."""
    levels = [(from_zoom, tiles)]
    cur = tiles
    for z in range(from_zoom, to_zoom, -1):
        cur = pyramid_up(cur, z, tile_size)
        levels.append((z - 1, cur))
    return levels


_DIRS = [(-1, -1), (0, -1), (1, -1), (-1, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]



def focal_tiles(
    tiles: DataFrame,
    stat: str,
    radius: int = 1,
    zoom: int | None = None,
    tile_size: int = 256,
    neighborhood: str = "square",
    target: str = "all",
    kernel: np.ndarray | None = None,
) -> DataFrame:
    """BufferTiles + focal stencil, one shuffle (T10 + 2.F).

    Each tile emits (target_cell, part) for itself and its 8 neighbors
    — only the border strip a neighbor actually needs travels. The
    group kernel assembles a (T+2r, T+2r) padded canvas (NaN outside),
    runs the stencil, crops the center back, and re-encodes. Output
    tiles are float64 rounded back to uint16 (NoData where the window
    held no data).

    ``neighborhood`` selects Square/Circle/Annulus/Nesw/Wedge cells
    within ``radius``; ``target`` gives TargetCell semantics; passing
    ``kernel`` (odd square float array) runs Convolve instead of
    ``stat`` (``focal/{Convolve,Kernel}.scala`` role) with radius taken
    from the kernel size."""
    if kernel is not None:
        kernel = np.asarray(kernel, dtype=np.float64)
        radius = kernel.shape[0] // 2
    T, r = tile_size, radius

    strip_schema = StructType(
        [
            StructField("cell_id", LongType()),
            StructField("key_col", LongType()),
            StructField("key_row", LongType()),
            StructField("dx", IntegerType()),
            StructField("dy", IntegerType()),
            StructField("part", BinaryType()),
            StructField("fmt", StringType()),
            StructField("layer", StringType()),
            StructField("zoom", IntegerType()),
            StructField("cell_type", StringType()),
        ]
    )

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in strip_schema.fields}
            for i in range(len(pdf)):
                tile = codecs.decode_tile(
                    bytes(pdf["tile"].iloc[i]), T, T, pdf["fmt"].iloc[i]
                )
                kc = int(pdf["key_col"].iloc[i])
                kr = int(pdf["key_row"].iloc[i])
                meta = (
                    pdf["fmt"].iloc[i],
                    pdf["layer"].iloc[i],
                    int(pdf["zoom"].iloc[i]),
                    pdf["cell_type"].iloc[i],
                )

                def emit(tc, tr, dx, dy, part):
                    out["cell_id"].append(int(sfc.zorder(tc, tr)))
                    out["key_col"].append(tc)
                    out["key_row"].append(tr)
                    out["dx"].append(dx)
                    out["dy"].append(dy)
                    out["part"].append(_pack_piece(part))
                    for name, v in zip(("fmt", "layer", "zoom", "cell_type"), meta):
                        out[name].append(v)

                emit(kc, kr, 0, 0, tile)
                n = 1 << int(pdf["zoom"].iloc[i])
                for dx, dy in _DIRS:
                    tc, tr = kc + dx, kr + dy
                    if not (0 <= tc < n and 0 <= tr < n):
                        continue
                    # strip of THIS tile that neighbor (tc,tr) needs:
                    # relative to the neighbor we are at (-dx, -dy)
                    rows = slice(T - r, T) if dy == 1 else (slice(0, r) if dy == -1 else slice(0, T))
                    cols = slice(T - r, T) if dx == 1 else (slice(0, r) if dx == -1 else slice(0, T))
                    emit(tc, tr, -dx, -dy, tile[rows, cols])
            yield pd.DataFrame(out)

    def stencil(cell: int, pdf: pd.DataFrame) -> dict | None:
        pad = np.full((T + 2 * r, T + 2 * r), np.nan)
        fmt = layer = ctype = None
        zoom_v = 0
        kc = kr = 0
        has_center = False
        for i in range(len(pdf)):
            dx, dy = int(pdf["dx"].iloc[i]), int(pdf["dy"].iloc[i])
            if dx == 0 and dy == 0:
                has_center = True
                kc, kr = int(pdf["key_col"].iloc[i]), int(pdf["key_row"].iloc[i])
                fmt, layer = pdf["fmt"].iloc[i], pdf["layer"].iloc[i]
                zoom_v, ctype = int(pdf["zoom"].iloc[i]), pdf["cell_type"].iloc[i]
                t = _unpack_piece(bytes(pdf["part"].iloc[i]), T, T).astype(np.float64)
                t[t == NODATA] = np.nan
                pad[r : T + r, r : T + r] = t
        if not has_center:
            return None
        for i in range(len(pdf)):
            dx, dy = int(pdf["dx"].iloc[i]), int(pdf["dy"].iloc[i])
            if dx == 0 and dy == 0:
                continue
            h_ = T if dy == 0 else r
            w_ = T if dx == 0 else r
            part = _unpack_piece(bytes(pdf["part"].iloc[i]), h_, w_).astype(
                np.float64
            )
            part[part == NODATA] = np.nan
            rs = 0 if dy == -1 else (T + r if dy == 1 else r)
            cs = 0 if dx == -1 else (T + r if dx == 1 else r)
            pad[rs : rs + h_, cs : cs + w_] = part
        if kernel is not None:
            res = kernels.convolve(pad, kernel, target=target)
        elif stat == "flowdir":
            # D8 flow direction as a focal op (1-px halo is all it
            # needs). NaN margins (layer edge / NoData) are never
            # steepest (NaN comparisons are False), matching the
            # whole-array op's edge-padding outcome exactly.
            res = kernels.flow_direction(pad).astype(np.float64)
        else:
            res = kernels.focal_stat(
                pad, stat, r, neighborhood=neighborhood, target=target
            )
        res = res[r : T + r, r : T + r]
        out = np.where(np.isnan(res), float(NODATA), np.rint(np.clip(res, 0, 65535)))
        return {
            "layer": layer,
            "zoom": zoom_v,
            "key_col": kc,
            "key_row": kr,
            "cell_id": cell,
            "tile": codecs.encode_tile(out.astype(np.uint16), fmt),
            "fmt": fmt,
            "w": T,
            "h": T,
            "cell_type": ctype,
        }

    strips = tiles.mapInPandas(explode, strip_schema)
    return grouped.grouped_rows(strips, "cell_id", stencil, TILE_SCHEMA)
