"""Layer summaries over tile layers (Z3/Z4) and point density.

Reference re-expressions (upstream 3.x layout, SURVEY.md §0):

- ``layer_histogram``      — Z3 StreamingHistogram as a mergeable
  two-phase agg over tile payloads; ``class_breaks`` (Z4) from the
  merged sketch.
- ``kernel_density``       — point density surface: one explode of the
  kernel's stamp offsets, one hash-aggregate on the target cell.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core import codecs, kernels
from ..core.histogram import StreamingHistogram

# groups of layer_histogram's tree-merge round, so the driver collects
# at most this many sketches
HISTOGRAM_MERGE_FANIN = 32


def layer_histogram(tiles: DataFrame, size: int = 80) -> StreamingHistogram:
    """Z3: mergeable StreamingHistogram over all tile pixels — per-tile
    partial sketches (pandas UDF), a distributed TREE-MERGE round
    (groupBy(partition_id % HISTOGRAM_MERGE_FANIN): each group folds its
    sketches into one), then a driver merge of at most
    ``HISTOGRAM_MERGE_FANIN`` rows. The driver-side collect is bounded
    by the fan-in regardless of tile count — at 100 TB the millions of
    per-batch partials never leave the executors."""

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
        "_mk",
        F.pmod(F.spark_partition_id(), F.lit(HISTOGRAM_MERGE_FANIN)).cast("long"),
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
    ).collect()  # <= HISTOGRAM_MERGE_FANIN rows
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
