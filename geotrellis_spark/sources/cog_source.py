"""Cloud-Optimized GeoTIFF raster source: a parquet catalog of COG
blobs with bbox metadata columns, plus the windowed-read ingest path
that builds a tile layer for ONE query extent without decoding any
raster (or any COG tile) outside it.

Reference role: geotrellis.raster.RasterSource +
geotrellis.raster.io.geotiff.GeoTiffReader — windowed GeoTIFF reads
are the reference's primary ingestion path
(`RasterSource.read(extent)` -> `tileToLayout`).

100 TB shape, three pruning layers deep:
1. CATALOG prune — the store carries (xmin, ymin, xmax, ymax) as plain
   columns, so the bbox intersect filter is ordinary codegen that
   parquet row-group min/max stats serve BEFORE any blob bytes load.
2. HEADER prune — each surviving COG opens with ONE bounded prefix
   fetch (the COG layout contract: every IFD precedes the first tile
   byte); no pixel data moves yet.
3. TILE prune — only the internal COG tiles intersecting the query
   window are fetched and inflated (on object storage these are HTTP
   range requests; here the fetch protocol records the ranges so the
   contract is unit-testable).
The decoded windows then enter the standard cut -> map-side combine ->
single-shuffle merge spine from operators/tiling.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core import geotiff, sfc
from ..operators import tiling

COG_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("xmin", DoubleType()),
        StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("ymax", DoubleType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("cog", BinaryType()),
    ]
)


def lattice_extent(
    gx: int, gy: int, w: int, h: int, zoom: int, tile_size: int
) -> tuple[float, float, float, float]:
    """LatLng extent of a (gx, gy, w, h) box on the global pixel
    lattice at ``zoom`` (row 0 = north). 360/n and 180/n are dyadic
    rationals for power-of-two lattices, so the arithmetic is EXACT in
    float64 and the geo transform round-trips to integer pixels."""
    n = (1 << zoom) * tile_size
    rx, ry = 360.0 / n, 180.0 / n
    return (
        -180.0 + gx * rx,
        90.0 - (gy + h) * ry,
        -180.0 + (gx + w) * rx,
        90.0 - gy * ry,
    )


def images_to_cogs(
    images: DataFrame,
    zoom: int,
    tile_size: int = 256,
    cog_tile: int = 64,
    compression: str = "deflate",
) -> DataFrame:
    """Transcode the images table into georeferenced COG blobs. Each
    image keeps its deterministic anchor on the zoom lattice (the same
    `tiling.image_anchor` placement the ingest spine uses), expressed
    as a real GeoTIFF geo transform (EPSG:4326) instead of an implicit
    formula — the payload becomes self-describing, readable by any
    GeoTIFF consumer."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core import codecs

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in COG_SCHEMA.fields}
            ords = pdf["image_id"].str.slice(3).astype(np.int64).to_numpy()
            ws = pdf["w"].to_numpy(dtype=np.int64)
            hs = pdf["h"].to_numpy(dtype=np.int64)
            gxs, gys = tiling.image_anchor(ords, ws, hs, zoom, tile_size)
            for i in range(len(pdf)):
                w, h = int(ws[i]), int(hs[i])
                px = codecs.decode_tile(
                    bytes(pdf["bytes"].iloc[i]), w, h, pdf["fmt"].iloc[i]
                )
                ext = lattice_extent(
                    int(gxs[i]), int(gys[i]), w, h, zoom, tile_size
                )
                blob = geotiff.geotiff_encode(
                    px[None],
                    ext,
                    epsg=4326,
                    tile_size=cog_tile,
                    compression=compression,
                )
                out["image_id"].append(pdf["image_id"].iloc[i])
                out["xmin"].append(ext[0])
                out["ymin"].append(ext[1])
                out["xmax"].append(ext[2])
                out["ymax"].append(ext[3])
                out["w"].append(w)
                out["h"].append(h)
                out["cog"].append(blob)
            yield pd.DataFrame(out)

    return images.mapInPandas(gen, COG_SCHEMA)


def write_cog_store(
    images: DataFrame, zoom: int, path: str, tile_size: int = 256, **kw
) -> None:
    """Materialize the COG catalog as parquet: bbox columns first so
    row-group stats prune non-intersecting rasters at scan time."""
    images_to_cogs(images, zoom, tile_size, **kw).write.mode(
        "overwrite"
    ).parquet(path)


def _bbox_filter(extent: tuple[float, float, float, float]):
    qx0, qy0, qx1, qy1 = extent
    return (
        (F.col("xmin") < F.lit(qx1))
        & (F.col("xmax") > F.lit(qx0))
        & (F.col("ymin") < F.lit(qy1))
        & (F.col("ymax") > F.lit(qy0))
    )


def cog_window_pieces(
    cogs: DataFrame,
    extent: tuple[float, float, float, float],
    zoom: int,
    tile_size: int = 256,
) -> DataFrame:
    """Decode ONLY the query window of each intersecting COG and emit
    layout-tile pieces (tiling.PIECE_SCHEMA) re-anchored on the global
    lattice. Catalog-level bbox prune happens in codegen before the
    Python stage sees a row; inside the UDF the Cog reader touches only
    intersecting internal tiles."""
    n = (1 << zoom) * tile_size
    rx, ry = 360.0 / n, 180.0 / n
    qx0, qy0, qx1, qy1 = (float(v) for v in extent)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                f.name: [] for f in tiling.PIECE_SCHEMA.fields
            }
            for i in range(len(pdf)):
                ordinal = int(pdf["image_id"].iloc[i][3:])
                cog = geotiff.Cog(
                    geotiff.RecordingFetch(bytes(pdf["cog"].iloc[i]))
                )
                win, (px0, py0) = cog.read_extent((qx0, qy0, qx1, qy1))
                if win.shape[1] == 0 or win.shape[2] == 0:
                    continue
                # image anchor on the global lattice, exact (dyadic)
                ix0, iy1 = cog.tiepoint
                gx = int(round((ix0 + 180.0) / rx)) + px0
                gy = int(round((90.0 - iy1) / ry)) + py0
                piece_full = win[0]
                h, w = piece_full.shape
                t0c, t1c = gx // tile_size, (gx + w - 1) // tile_size
                t0r, t1r = gy // tile_size, (gy + h - 1) // tile_size
                for tc in range(t0c, t1c + 1):
                    for tr in range(t0r, t1r + 1):
                        x0 = max(gx, tc * tile_size)
                        x1 = min(gx + w, (tc + 1) * tile_size)
                        y0 = max(gy, tr * tile_size)
                        y1 = min(gy + h, (tr + 1) * tile_size)
                        piece = piece_full[
                            y0 - gy : y1 - gy, x0 - gx : x1 - gx
                        ]
                        out["cell_id"].append(int(sfc.zorder(tc, tr)))
                        out["key_col"].append(tc)
                        out["key_row"].append(tr)
                        out["salt"].append(ordinal % 8)
                        out["src_ord"].append(ordinal)
                        out["r0"].append(y0 - tr * tile_size)
                        out["c0"].append(x0 - tc * tile_size)
                        out["ph"].append(y1 - y0)
                        out["pw"].append(x1 - x0)
                        out["piece"].append(tiling._pack_piece(piece))
            yield pd.DataFrame(out)

    return cogs.where(_bbox_filter(extent)).mapInPandas(
        gen, tiling.PIECE_SCHEMA
    )


def cog_prune_stats(
    cogs: DataFrame,
    extent: tuple[float, float, float, float],
    zoom: int,
    tile_size: int = 256,
) -> DataFrame:
    """Per intersecting COG: the clipped window size and the number of
    internal tiles a windowed read FETCHES (counted from the recorded
    byte ranges of the real reader, not re-derived from the formula) —
    the oracle-checkable face of the three-layer pruning story. Output:
    (img, win_w, win_h, n_tiles), all exact integers on the lattice."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import geotrellis_spark.core.geotiff as gt

        for pdf in batches:
            out: dict[str, list] = {
                "img": [], "win_w": [], "win_h": [], "n_tiles": []
            }
            for i in range(len(pdf)):
                fetch = gt.RecordingFetch(bytes(pdf["cog"].iloc[i]))
                cog = gt.Cog(fetch)
                n_open = len(fetch.ranges)
                win, _ = cog.read_extent(extent)
                if win.shape[1] == 0 or win.shape[2] == 0:
                    continue
                out["img"].append(int(pdf["image_id"].iloc[i][3:]))
                out["win_w"].append(win.shape[2])
                out["win_h"].append(win.shape[1])
                out["n_tiles"].append(len(fetch.ranges) - n_open)
            yield pd.DataFrame(out)

    return cogs.where(_bbox_filter(extent)).mapInPandas(
        gen, "img long, win_w long, win_h long, n_tiles long"
    )


def read_cog_layer(
    spark: SparkSession,
    store_path: str,
    extent: tuple[float, float, float, float],
    zoom: int,
    tile_size: int = 256,
    layer: str = "images",
    fmt: str = "raw16",
) -> DataFrame:
    """RasterSource.read(extent) -> tileToLayout, end to end: scan the
    COG catalog with the bbox filter pushed to parquet, window-read the
    survivors, and merge the pieces into layer tiles for the query
    extent only."""
    cogs = spark.read.parquet(store_path)
    pieces = cog_window_pieces(cogs, extent, zoom, tile_size)
    return tiling.merge_tiles(pieces, zoom, tile_size, layer, fmt)
