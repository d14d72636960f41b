"""Local map algebra over tile layers (2.L lifted to layers, J6) and
rasterization of feature layers (RV2).

Reference re-expressions (upstream 3.x layout, SURVEY.md §0):

- ``local_binary_layers`` — ``spark/.../mapalgebra/local/
  LocalTileRDDMethods.scala``: key-equi-join two layers, elementwise
  NoData-propagating numpy kernel per tile pair.
- ``local_unary_layer`` / ``local_scalar_layer`` — narrow (no shuffle).
- ``local_stats_layers`` — multi-layer Mean/Variance/Variety/Majority/
  Minority: n-way union + groupBy(cell_id) stack kernel.
- ``rasterize_features`` — RV2 ``spark/.../rasterize/RasterizeRDD.scala``:
  features explode to their bbox cover cells (``spatial.cover_cells``),
  groupBy cell, burn in z-index priority order (higher zindex wins
  overlaps).
- ``band_math``, ``euclidean_distance_layer``, ``temporal_stack_stats``
  — per-tile numpy kernels over one or more layers.

No entry point (query registry, jobs, benchmark) runs this module; it
is kept as the named GeoTrellis map-algebra and rasterize capability,
with its own tests (``tests/test_entry_reach.py`` lists the modules
kept without an entry point).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core import codecs, geom as G, grouped, kernels
from ..core.layout import LayoutDefinition
from .spatial import cover_cells
from .tiling import TILE_SCHEMA


def _decode(pdf: pd.DataFrame, i: int, tile_col: str, fmt_col: str) -> np.ndarray:
    return codecs.decode_tile(
        bytes(pdf[tile_col].iloc[i]), int(pdf["w"].iloc[i]),
        int(pdf["h"].iloc[i]), pdf[fmt_col].iloc[i],
    )


def local_binary_layers(a: DataFrame, b: DataFrame, op: str) -> DataFrame:
    """c = a <op> b per cell; NoData propagates (2.L semantics).
    Join on (zoom, cell_id); inner join == both-defined tiles (the
    reference's ``combineValues``)."""
    left = a.select("layer", "zoom", "key_col", "key_row", "cell_id",
                    F.col("tile").alias("ta"), F.col("fmt").alias("fa"),
                    "w", "h", "cell_type")
    right = b.select("zoom", "cell_id", F.col("tile").alias("tb"),
                     F.col("fmt").alias("fb"))
    joined = left.join(right, ["zoom", "cell_id"])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in TILE_SCHEMA.fields}
            for i in range(len(pdf)):
                ta = _decode(pdf, i, "ta", "fa")
                tb = _decode(pdf, i, "tb", "fb")
                res = kernels.local_binary(op, ta, tb)
                out["layer"].append(f"{pdf['layer'].iloc[i]}_{op}")
                out["zoom"].append(int(pdf["zoom"].iloc[i]))
                out["key_col"].append(int(pdf["key_col"].iloc[i]))
                out["key_row"].append(int(pdf["key_row"].iloc[i]))
                out["cell_id"].append(int(pdf["cell_id"].iloc[i]))
                out["tile"].append(codecs.encode_tile(res, pdf["fa"].iloc[i]))
                out["fmt"].append(pdf["fa"].iloc[i])
                out["w"].append(int(pdf["w"].iloc[i]))
                out["h"].append(int(pdf["h"].iloc[i]))
                out["cell_type"].append(pdf["cell_type"].iloc[i])
            yield pd.DataFrame(out)

    return joined.mapInPandas(kernel, TILE_SCHEMA)


def local_scalar_layer(a: DataFrame, op: str, scalar: float) -> DataFrame:
    """tile <op> scalar — narrow, no shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            tiles = []
            for i in range(len(pdf)):
                t = _decode(pdf, i, "tile", "fmt")
                res = kernels.local_binary(op, t, scalar)
                tiles.append(codecs.encode_tile(res, pdf["fmt"].iloc[i]))
            pdf["tile"] = tiles
            yield pdf

    return a.mapInPandas(kernel, a.schema)


def local_unary_layer(a: DataFrame, op: str) -> DataFrame:
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            tiles = []
            for i in range(len(pdf)):
                t = _decode(pdf, i, "tile", "fmt")
                res = kernels.local_unary(op, t)
                if res.dtype != np.uint16:
                    res = res.astype(np.uint16)
                tiles.append(codecs.encode_tile(res, pdf["fmt"].iloc[i]))
            pdf["tile"] = tiles
            yield pdf

    return a.mapInPandas(kernel, a.schema)


def local_stats_layers(layers: list[DataFrame], stat: str) -> DataFrame:
    """Multi-layer per-cell stat (Mean/Variance/Variety/...): union all
    layers, groupBy cell, stack kernel. Output tiles are float64 values
    rounded back to the payload celltype."""
    u = layers[0]
    for other in layers[1:]:
        u = u.unionByName(other)

    def kernel(cell: int, pdf: pd.DataFrame) -> dict:
        stack = np.stack(
            [_decode(pdf, i, "tile", "fmt") for i in range(len(pdf))]
        )
        res = kernels.local_stack_stats(stack, stat)
        out_t = np.where(np.isnan(res), 0.0, np.rint(np.clip(res, 0, 65535)))
        row = pdf.iloc[0]
        return {
            "layer": f"stats_{stat}", "zoom": int(row["zoom"]),
            "key_col": int(row["key_col"]), "key_row": int(row["key_row"]),
            "cell_id": cell,
            "tile": codecs.encode_tile(out_t.astype(np.uint16), row["fmt"]),
            "fmt": row["fmt"], "w": int(row["w"]), "h": int(row["h"]),
            "cell_type": row["cell_type"],
        }

    return grouped.grouped_rows(u, "cell_id", kernel, TILE_SCHEMA)


def band_math(
    tiles: DataFrame, fn, band_col: str = "band", layer: str = "band_math"
) -> DataFrame:
    """D2 MultibandTile surface: a multiband layer is the tile table
    plus an integer ``band`` column (one row per band per cell — the
    table-native normalization of ``ArrayMultibandTile``).
    ``fn(stack) -> tile`` combines the (n_bands, h, w) NaN-lifted float
    stack per cell (e.g. NDVI-style ratios — MultibandTile.combine
    role). One shuffle via the manual grouped-map."""

    def kernel(cell: int, pdf: pd.DataFrame) -> dict:
        order = pdf.sort_values(band_col)
        stack = np.stack(
            [
                kernels._to_float(
                    _decode(order, i, "tile", "fmt"), kernels.NODATA_U16
                )
                for i in range(len(order))
            ]
        )
        res = fn(stack)
        out_t = np.where(np.isnan(res), 0.0, np.rint(np.clip(res, 0, 65535)))
        row = pdf.iloc[0]
        return {
            "layer": layer, "zoom": int(row["zoom"]),
            "key_col": int(row["key_col"]), "key_row": int(row["key_row"]),
            "cell_id": cell,
            "tile": codecs.encode_tile(out_t.astype(np.uint16), row["fmt"]),
            "fmt": row["fmt"], "w": int(row["w"]), "h": int(row["h"]),
            "cell_type": row["cell_type"],
        }

    return grouped.grouped_rows(tiles, "cell_id", kernel, TILE_SCHEMA)


def euclidean_distance_layer(
    a: DataFrame, cw: float = 1.0, ch: float = 1.0, cap: float = 65534.0
) -> DataFrame:
    """RV7 EuclideanDistance per tile: each cell gets the distance (in
    cw/ch units) to the nearest DATA cell of its tile — narrow map, no
    shuffle (exact Felzenszwalb EDT kernel). Distances are clipped to
    ``cap`` and stored +1 so 0 stays the NoData sentinel; tiles with no
    data cells come back all-NoData."""

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            tiles = []
            for i in range(len(pdf)):
                t = _decode(pdf, i, "tile", "fmt")
                d = kernels.euclidean_distance(t != kernels.NODATA_U16, cw, ch)
                enc = np.where(
                    np.isinf(d), 0.0, np.rint(np.minimum(d, cap)) + 1.0
                ).astype(np.uint16)
                tiles.append(codecs.encode_tile(enc, pdf["fmt"].iloc[i]))
            pdf["tile"] = tiles
            yield pdf

    return a.mapInPandas(kern, a.schema)


def temporal_stack_stats(
    tiles: DataFrame, stat: str, t_col: str = "t_ord",
    t_min: int | None = None, t_max: int | None = None,
) -> DataFrame:
    """L-t per-pixel temporal statistic: reduce a SpaceTimeKey layer's
    time stack to one tile per spatial cell over the [t_min, t_max]
    window (``spark/.../mapalgebra/local/temporal`` role). The time
    filter is an ordinary pushed-down predicate; then one shuffle and
    the stack kernel — identical machinery to local_stats_layers."""
    f = tiles
    if t_min is not None:
        f = f.where(F.col(t_col) >= t_min)
    if t_max is not None:
        f = f.where(F.col(t_col) <= t_max)
    return local_stats_layers([f.drop(t_col)], stat)


def rasterize_features(
    feats: DataFrame, layout: LayoutDefinition, zoom: int,
    value_col: str = "burn_value", zindex_col: str | None = None,
    wkb_col: str = "wkb", tile_size: int = 256, layer: str = "rasterized",
) -> DataFrame:
    """RV2: burn a feature layer into a tile layer. Within a tile,
    features burn in ascending z-index so HIGHER zindex wins overlaps
    (CellValue.zindex semantics); without zindex, higher value wins
    deterministically."""
    cells = cover_cells(feats, zoom, wkb_col)

    def burn(cell: int, pdf: pd.DataFrame) -> dict:
        kc, kr = int(pdf["key_col"].iloc[0]), int(pdf["key_row"].iloc[0])
        xs, ys = layout.cell_lattice(kc, kr)
        canvas = np.zeros((tile_size, tile_size), dtype=np.uint16)
        order = (
            pdf.sort_values(zindex_col) if zindex_col
            else pdf.sort_values(value_col)
        )
        for i in range(len(order)):
            kind, payload = G.wkb_read(bytes(order[wkb_col].iloc[i]))
            rings = payload if kind == "polygon" else [
                r for poly in payload for r in poly
            ]
            mask = kernels.rasterize_polygon(rings, xs, ys)
            canvas[mask] = np.uint16(order[value_col].iloc[i])
        return {
            "layer": layer, "zoom": zoom, "key_col": kc, "key_row": kr,
            "cell_id": cell,
            "tile": codecs.encode_tile(canvas, "raw16"),
            "fmt": "raw16", "w": tile_size, "h": tile_size,
            "cell_type": "uint16ud0",
        }

    return grouped.grouped_rows(cells, "cell_id", burn, TILE_SCHEMA)
