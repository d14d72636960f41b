"""Zonal & polygonal summaries over tile layers (Z1/Z2/Z3/Z4).

Reference re-expressions (upstream 3.x layout, SURVEY.md §0):

- ``zonal_stats_tiles``    — Z1 ``raster/.../mapalgebra/zonal/``: value
  tile x integer zone tile -> per-zone stats. Per-tile numpy bincount
  partials (map-side combine) -> Catalyst hash-agg final. Joins the two
  layers on cell_id first (J6 shape).
- ``polygonal_summary``    — Z2 ``raster/.../summary/polygonal/
  PolygonalSummary.scala`` + ClipToGrid: polygons explode to covering
  cells, join tiles on cell_id, per-(tile, polygon) numpy rasterize
  mask -> partial (count,sum,min,max) -> groupBy(geom_id) final. The
  reference's monoid combine IS Spark's two-phase aggregation.
- ``layer_histogram``      — Z3 StreamingHistogram as a mergeable
  two-phase agg over tile payloads; ``class_breaks`` (Z4) from the
  merged sketch.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core import codecs, geom as G, kernels
from ..core.histogram import StreamingHistogram
from ..core.layout import LayoutDefinition
from .spatial import cover_cells

_PARTIAL_SCHEMA = (
    "cell_id long, zone long, cnt long, s double, mn double, mx double"
)


def zonal_stats_tiles(values: DataFrame, zones: DataFrame) -> DataFrame:
    """Per-zone stats of a value layer under an integer zone layer
    (same layout). Output: zone, count, sum, min, max, mean."""
    v = values.select("cell_id", F.col("tile").alias("vt"),
                      F.col("fmt").alias("vf"), "w", "h")
    z = zones.select("cell_id", F.col("tile").alias("zt"),
                     F.col("fmt").alias("zf"))
    joined = v.join(z, "cell_id")

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("cell_id", "zone", "cnt", "s", "mn", "mx")}
            for i in range(len(pdf)):
                w, h = int(pdf["w"].iloc[i]), int(pdf["h"].iloc[i])
                vt = codecs.decode_tile(bytes(pdf["vt"].iloc[i]), w, h,
                                        pdf["vf"].iloc[i])
                zt = codecs.decode_tile(bytes(pdf["zt"].iloc[i]), w, h,
                                        pdf["zf"].iloc[i])
                for zone, (cnt, s, mn, mx) in kernels.zonal_partials(
                    vt, zt.astype(np.int64)
                ).items():
                    out["cell_id"].append(int(pdf["cell_id"].iloc[i]))
                    out["zone"].append(zone)
                    out["cnt"].append(cnt)
                    out["s"].append(s)
                    out["mn"].append(mn)
                    out["mx"].append(mx)
            yield pd.DataFrame(out)

    p = joined.mapInPandas(partials, _PARTIAL_SCHEMA)
    return p.groupBy("zone").agg(
        F.sum("cnt").alias("count"),
        F.sum("s").alias("sum"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        (F.sum("s") / F.sum("cnt")).alias("mean"),
    )


def polygonal_summary(
    tiles: DataFrame, polys: DataFrame, layout: LayoutDefinition, zoom: int,
    wkb_col: str = "wkb", geom_id_col: str = "geom_id",
) -> DataFrame:
    """Stats of raster cells under each polygon (Z2). Per-tile visit =
    rasterize the CLIPPED polygon (ClipToGrid per-cell clip — scanline
    cost proportional to geometry inside the cell, not the whole
    polygon) over the tile's cell-center lattice (numpy scanline, ==
    PIP of cell centers), NoData excluded."""
    cells = (
        cover_cells(polys, zoom, wkb_col, clip=True)
        .where(F.col("clipped_wkb").isNotNull())
        .select(geom_id_col, F.col("clipped_wkb").alias(wkb_col), "cell_id")
    )
    joined = tiles.join(F.broadcast(cells), "cell_id")
    tl = layout.tile_layout

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("geom_id", "cnt", "s", "mn", "mx")}
            for i in range(len(pdf)):
                w, h = int(pdf["w"].iloc[i]), int(pdf["h"].iloc[i])
                tile = codecs.decode_tile(bytes(pdf["tile"].iloc[i]), w, h,
                                          pdf["fmt"].iloc[i])
                xs, ys = layout.cell_lattice(
                    int(pdf["key_col"].iloc[i]), int(pdf["key_row"].iloc[i])
                )
                kind, payload = G.wkb_read(bytes(pdf[wkb_col].iloc[i]))
                rings = payload if kind == "polygon" else [
                    r for poly in payload for r in poly
                ]
                mask = kernels.rasterize_polygon(rings, xs, ys)
                vals = kernels._to_float(tile, kernels.NODATA_U16)[mask]
                vals = vals[~np.isnan(vals)]
                if vals.size == 0:
                    continue
                out["geom_id"].append(int(pdf[geom_id_col].iloc[i]))
                out["cnt"].append(int(vals.size))
                out["s"].append(float(vals.sum()))
                out["mn"].append(float(vals.min()))
                out["mx"].append(float(vals.max()))
            yield pd.DataFrame(out)

    p = joined.mapInPandas(partials, "geom_id long, cnt long, s double, mn double, mx double")
    return p.groupBy("geom_id").agg(
        F.sum("cnt").alias("count"),
        F.sum("s").alias("sum"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        (F.sum("s") / F.sum("cnt")).alias("mean"),
    )


def time_series_polygonal(
    tiles: DataFrame, polys: DataFrame, layout: LayoutDefinition, zoom: int,
    t_col: str = "t_ord", wkb_col: str = "wkb", geom_id_col: str = "geom_id",
) -> DataFrame:
    """TS1 TimeSeries: per-polygon stat PER TIME STEP over a
    SpaceTimeKey layer (``spark/.../timeseries`` role) — the Z2
    polygonal-summary machinery grouped by (geom_id, t). One broadcast
    of the polygon cover, one shuffle for the final hash-agg."""
    cells = (
        cover_cells(polys, zoom, wkb_col, clip=True)
        .where(F.col("clipped_wkb").isNotNull())
        .select(geom_id_col, F.col("clipped_wkb").alias(wkb_col), "cell_id")
    )
    joined = tiles.join(F.broadcast(cells), "cell_id")
    tl = layout.tile_layout

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("geom_id", "t_ord", "cnt", "s", "mn", "mx")}
            for i in range(len(pdf)):
                w, h = int(pdf["w"].iloc[i]), int(pdf["h"].iloc[i])
                tile = codecs.decode_tile(bytes(pdf["tile"].iloc[i]), w, h,
                                          pdf["fmt"].iloc[i])
                xs, ys = layout.cell_lattice(
                    int(pdf["key_col"].iloc[i]), int(pdf["key_row"].iloc[i])
                )
                kind, payload = G.wkb_read(bytes(pdf[wkb_col].iloc[i]))
                rings = payload if kind == "polygon" else [
                    r for poly in payload for r in poly
                ]
                mask = kernels.rasterize_polygon(rings, xs, ys)
                vals = kernels._to_float(tile, kernels.NODATA_U16)[mask]
                vals = vals[~np.isnan(vals)]
                if vals.size == 0:
                    continue
                out["geom_id"].append(int(pdf[geom_id_col].iloc[i]))
                out["t_ord"].append(int(pdf[t_col].iloc[i]))
                out["cnt"].append(int(vals.size))
                out["s"].append(float(vals.sum()))
                out["mn"].append(float(vals.min()))
                out["mx"].append(float(vals.max()))
            yield pd.DataFrame(out)

    p = joined.mapInPandas(
        partials,
        "geom_id long, t_ord long, cnt long, s double, mn double, mx double",
    )
    return p.groupBy("geom_id", "t_ord").agg(
        F.sum("cnt").alias("count"),
        F.sum("s").alias("sum"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
        (F.sum("s") / F.sum("cnt")).alias("mean"),
    )


def layer_histogram(
    tiles: DataFrame, size: int = 80, merge_fanin: int = 32
) -> StreamingHistogram:
    """Z3: mergeable StreamingHistogram over all tile pixels — per-tile
    partial sketches (pandas UDF), a distributed TREE-MERGE round
    (groupBy(partition_id % merge_fanin): each group folds its sketches
    into one), then a driver merge of at most ``merge_fanin`` rows.
    The driver-side collect is bounded by the fan-in regardless of tile
    count — at 100 TB the millions of per-batch partials never leave
    the executors."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            h = StreamingHistogram(size)
            for i in range(len(pdf)):
                tile = codecs.decode_tile(
                    bytes(pdf["tile"].iloc[i]), int(pdf["w"].iloc[i]),
                    int(pdf["h"].iloc[i]), pdf["fmt"].iloc[i],
                )
                h.update(kernels._to_float(tile, kernels.NODATA_U16))
            c, n = h.to_arrays()
            yield pd.DataFrame({"centers": [c.tolist()], "counts": [n.tolist()]})

    p = tiles.mapInPandas(
        partials, "centers array<double>, counts array<double>"
    ).withColumn(
        "_mk", F.pmod(F.spark_partition_id(), F.lit(merge_fanin)).cast("long")
    )

    # StreamingHistogram.merge is order-dependent (bin collapse picks
    # the argmin gap), so every fold below sorts its inputs by content
    # first — the result is then a function of the SET of partials,
    # not of shuffle arrival order (deterministic run-to-run).
    def _content_key(centers, counts):
        return (tuple(centers), tuple(counts))

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(
            (
                (list(r["centers"]), list(r["counts"]))
                for _, r in pdf.iterrows()
            ),
            key=lambda cn: _content_key(*cn),
        )
        h = StreamingHistogram(size)
        for centers, counts in rows:
            h = h.merge(StreamingHistogram.from_arrays(centers, counts, size))
        c, n = h.to_arrays()
        return pd.DataFrame({"centers": [c.tolist()], "counts": [n.tolist()]})

    pre = p.groupBy("_mk").applyInPandas(
        merge_group, "centers array<double>, counts array<double>"
    ).collect()  # <= merge_fanin rows
    merged = StreamingHistogram(size)
    for row in sorted(
        pre, key=lambda r: _content_key(r["centers"], r["counts"])
    ):
        merged = merged.merge(
            StreamingHistogram.from_arrays(row["centers"], row["counts"], size)
        )
    return merged


def class_breaks(tiles: DataFrame, n_breaks: int, size: int = 80) -> list[float]:
    """Z4 classBreaks: n-quantile boundaries of the layer's pixels."""
    return layer_histogram(tiles, size).quantile_breaks(n_breaks)


def kernel_density(
    pts,
    zoom: int,
    radius: int = 2,
    weight_expr: str = "1",
    lon_col: str = "lon",
    lat_col: str = "lat",
    kernel: str = "pyramid",
    sigma: float | None = None,
):
    """Kernel density surface (reference role spark/.../density/
    RDDKernelDensityMethods + raster/.../density — upstream layout):
    every point stamps a kernel onto the cells within Chebyshev
    ``radius`` of its cell and stamps sum per cell.

    Kernels:
    - ``"pyramid"`` (default): integer contribution =
      weight * (radius + 1 - max(|di|,|dj|)) — integer arithmetic is
      exact cross-engine, so this is the oracle-checked default;
      output ``density`` is bigint.
    - ``"gaussian"``: the reference ``Kernel``'s usual shape —
      contribution = weight * exp(-(di^2+dj^2) / (2*sigma^2)) with
      double weights (sigma defaults to radius/2); output ``density``
      is double.

    Plan (both kernels): codegen key assignment -> ONE
    sequence-explode of the (2r+1)^2 stamp offsets (narrow; bounded by
    the kernel, not the data) -> hash-aggregate on the target cell.
    One shuffle; at 100 TB this is the same shape as the tiling
    shuffle and AQE-skew-splittable. Output: (key_col, key_row,
    cell_id, density).
    """
    from pyspark.sql import functions as F

    from ..functions import exprs
    from ..operators import spatial

    if kernel not in ("pyramid", "gaussian"):
        raise ValueError(f"unknown kernel {kernel!r}")
    n = 1 << zoom
    keyed = spatial.assign_cells(pts, lon_col, lat_col, zoom)
    r = radius
    if kernel == "pyramid":
        w_cast = f"cast({weight_expr} as bigint) as _w"
        contrib = f"_w * ({r} + 1 - greatest(abs(di), abs(dj))) as contrib"
    else:
        s = float(sigma) if sigma is not None else radius / 2.0
        w_cast = f"cast({weight_expr} as double) as _w"
        contrib = (
            f"_w * exp(-(di * di + dj * dj) / ({2.0 * s * s!r})) as contrib"
        )
    stamped = keyed.selectExpr(
        w_cast, "key_col", "key_row"
    ).selectExpr(
        "_w",
        f"explode(sequence(-{r}, {r})) as di",
        "key_col", "key_row",
    ).selectExpr(
        "_w", "di",
        f"explode(sequence(-{r}, {r})) as dj",
        "key_col", "key_row",
    ).selectExpr(
        "key_col + di as kc",
        "key_row + dj as kr",
        contrib,
    ).where(
        f"kc >= 0 and kc < {n} and kr >= 0 and kr < {n}"
    )
    out_type = "long" if kernel == "pyramid" else "double"
    out = stamped.groupBy("kc", "kr").agg(
        F.sum("contrib").cast(out_type).alias("density")
    )
    return out.select(
        F.col("kc").alias("key_col"),
        F.col("kr").alias("key_row"),
        F.expr(exprs.zorder_sql("kc", "kr", zoom)).alias("cell_id"),
        "density",
    )
