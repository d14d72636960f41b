"""Layer reprojection between LatLng and WebMercator (G1).

Reference re-expression (upstream 3.x layout, SURVEY.md §0):
``spark/.../reproject/TileRDDReproject.scala`` +
``raster/.../reproject/RasterRegionReproject.scala``. The reference
buffers tiles, warps per tile, re-keys to the target layout, merges.
Here the shape is target-driven in one shuffle:

1. every source tile computes (numpy, closed-form CRS math) which
   TARGET tiles its extent overlaps and emits one copy per target key
   (the BufferTiles role — the copies ARE the buffer);
2. groupBy(target cell) assembles the source mosaic and inverse-maps
   each target pixel center back to source coordinates, sampling
   bilinear (or NN); first-non-NaN wins across sources.

Registered CRS transforms (core/proj.py): LatLng, WebMercator, and
WGS84 UTM zones via the Krüger-series ellipsoidal Transverse Mercator
— the r5 slice of the reference's proj4 generality (SURVEY.md §2.G1).
ZoomedLayoutScheme pairs keep the zoom-preserving contract; UTM
targets get a FloatingLayoutScheme fit to the warped data extent
(``reproject_layer_utm``), the reference's scheme for projected
native-resolution layers.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..core import codecs, grouped, kernels, sfc
from ..core.layout import ZoomedLayoutScheme
from .tiling import TILE_SCHEMA

_SRC_SCHEMA = StructType(
    [
        StructField("cell_id", LongType()),       # target cell
        StructField("key_col", LongType()),
        StructField("key_row", LongType()),
        StructField("src_xmin", DoubleType()),    # source-CRS extent
        StructField("src_ymax", DoubleType()),
        StructField("src_cw", DoubleType()),
        StructField("src_ch", DoubleType()),
        StructField("tile", BinaryType()),
        StructField("fmt", StringType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("layer", StringType()),
        StructField("cell_type", StringType()),
    ]
)


def _crs_pair(from_crs: str, to_crs: str):
    """Compose src->dst and dst->src transforms through lon/lat from
    the core/proj registry."""
    from ..core.proj import crs_transforms

    src_from_ll, src_to_ll = crs_transforms(from_crs)
    dst_from_ll, dst_to_ll = crs_transforms(to_crs)

    def fwd(x, y):
        return dst_from_ll(*src_to_ll(x, y))

    def inv(x, y):
        return src_from_ll(*dst_to_ll(x, y))

    return fwd, inv


def reproject_layer(
    tiles: DataFrame,
    zoom: int,
    from_crs: str = "latlng",
    to_crs: str = "webmercator",
    tile_size: int = 256,
    method: str = "bilinear",
) -> DataFrame:
    """Warp a tile layer to the other CRS's ZoomedLayoutScheme at the
    same zoom. Output layer name gets a ``_{to_crs}`` suffix."""
    if {from_crs, to_crs} != {"latlng", "webmercator"}:
        raise ValueError("supported CRS pair: latlng <-> webmercator")
    src_ld = ZoomedLayoutScheme(from_crs, tile_size).level_for_zoom(zoom)
    dst_ld = ZoomedLayoutScheme(to_crs, tile_size).level_for_zoom(zoom)
    fwd, inv = _crs_pair(from_crs, to_crs)
    return _reproject(
        tiles, src_ld, dst_ld, fwd, inv, zoom, to_crs, tile_size, method
    )


def reproject_layer_utm(
    tiles: DataFrame,
    zoom: int,
    zone: int,
    south: bool = False,
    from_crs: str = "latlng",
    tile_size: int = 256,
    method: str = "bilinear",
    cell_size: tuple[float, float] | None = None,
) -> DataFrame:
    """Warp a ZoomedLayoutScheme tile layer into a WGS84 UTM zone on a
    FloatingLayoutScheme grid — see :func:`reproject_layer_floating`."""
    from ..core.proj import utm_central_meridian

    utm_central_meridian(zone)  # validate
    return reproject_layer_floating(
        tiles, zoom, f"utm:{zone}{'s' if south else 'n'}",
        from_crs=from_crs, tile_size=tile_size, method=method,
        cell_size=cell_size,
    )


def reproject_layer_floating(
    tiles: DataFrame,
    zoom: int,
    to_crs: str,
    from_crs: str = "latlng",
    tile_size: int = 256,
    method: str = "bilinear",
    cell_size: tuple[float, float] | None = None,
) -> DataFrame:
    """Warp a ZoomedLayoutScheme tile layer into any registered
    projected CRS (utm:<zone><n|s>, polar:<n|s>, webmercator) on a
    FloatingLayoutScheme grid fit to the warped data extent — the
    reference's projected native-resolution layer shape
    (``TileRDDReproject`` with a ``FloatingLayoutScheme``).

    The target grid needs the DATA extent, which is one bounded 4-value
    aggregate over the layer's keys (never a per-row collect): corner
    keys -> source extent -> :func:`fit_floating_layout`'s dense warp
    sample (projected extremes can sit at interior critical points, so
    corners alone under-cover).  ``cell_size`` defaults to the source
    cell size warped at the data extent's center, preserving native
    resolution."""
    from pyspark.sql import functions as F

    src_ld = ZoomedLayoutScheme(from_crs, tile_size).level_for_zoom(zoom)
    fwd, inv = _crs_pair(from_crs, to_crs)

    lo = tiles.agg(
        F.min("key_col"), F.max("key_col"),
        F.min("key_row"), F.max("key_row"),
    ).collect()[0]
    if lo[0] is None:
        raise ValueError("reproject_layer_floating: empty layer")
    x0, _, _, y1 = src_ld.key_to_extent(int(lo[0]), int(lo[2]))
    _, y0, x1, _ = src_ld.key_to_extent(int(lo[1]), int(lo[3]))
    dst_ld = fit_floating_layout(
        (float(x0), float(y0), float(x1), float(y1)),
        fwd, src_ld.cell_width, src_ld.cell_height, tile_size, cell_size,
    )
    return _reproject(
        tiles, src_ld, dst_ld, fwd, inv, 0, to_crs, tile_size, method
    )


def fit_floating_layout(
    src_extent: tuple[float, float, float, float],
    fwd,
    src_cw: float,
    src_ch: float,
    tile_size: int,
    cell_size: tuple[float, float] | None = None,
):
    """FloatingLayoutScheme layout covering ``src_extent`` warped
    through ``fwd``.  Uses a DENSE 33x33 sample grid, not just corners
    or the boundary: projected extremes can sit at interior critical
    points (polar stereographic x peaks at one specific longitude of a
    wide ring — a 3x3 sample of a full-ring layer collapses the bbox
    to ~0).  33 samples per axis bound the bbox underestimate at <0.5%
    of span for the registered CRS family; a 1%-plus-one-tile margin
    covers the remainder (margin tiles get no source pieces and simply
    never materialize)."""
    from ..core.layout import Extent, FloatingLayoutScheme

    x0, y0, x1, y1 = src_extent
    gx, gy = np.meshgrid(np.linspace(x0, x1, 33), np.linspace(y0, y1, 33))
    tx, ty = fwd(gx.ravel(), gy.ravel())
    if cell_size is None:
        cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
        px, py = fwd(
            np.array([cx, cx + src_cw, cx]),
            np.array([cy, cy, cy + src_ch]),
        )
        cell_size = (
            float(np.hypot(px[1] - px[0], py[1] - py[0])),
            float(np.hypot(px[2] - px[0], py[2] - py[0])),
        )
    mx = 0.01 * float(tx.max() - tx.min()) + tile_size * cell_size[0]
    my = 0.01 * float(ty.max() - ty.min()) + tile_size * cell_size[1]
    return FloatingLayoutScheme(tile_size).level_for(
        Extent(tx.min() - mx, ty.min() - my, tx.max() + mx, ty.max() + my),
        cell_size[0], cell_size[1],
    )


def _reproject(
    tiles: DataFrame,
    src_ld,
    dst_ld,
    fwd,
    inv,
    out_zoom: int,
    to_crs: str,
    tile_size: int,
    method: str,
) -> DataFrame:
    ncols = dst_ld.tile_layout.layout_cols
    nrows = dst_ld.tile_layout.layout_rows
    T = tile_size

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in _SRC_SCHEMA.fields}
            for i in range(len(pdf)):
                kc, kr = int(pdf["key_col"].iloc[i]), int(pdf["key_row"].iloc[i])
                sxmin, symin, sxmax, symax = (
                    float(x) for x in src_ld.key_to_extent(kc, kr)
                )
                # source extent boundary -> target CRS bbox. 3x3 grid
                # (corners + edge midpoints): TM northing is not
                # monotone in longitude across the central meridian,
                # so corners alone can under-cover by a sliver
                cx, cy = np.meshgrid(
                    np.array([sxmin, (sxmin + sxmax) / 2.0, sxmax]),
                    np.array([symin, (symin + symax) / 2.0, symax]),
                )
                tx, ty = fwd(cx.ravel(), cy.ravel())
                c0, r0, c1, r1 = dst_ld.extent_to_key_range(
                    type(dst_ld.extent)(tx.min(), ty.min(), tx.max(), ty.max())
                )
                for tc in range(max(c0, 0), min(c1, ncols - 1) + 1):
                    for tr in range(max(r0, 0), min(r1, nrows - 1) + 1):
                        out["cell_id"].append(int(sfc.zorder(tc, tr)))
                        out["key_col"].append(tc)
                        out["key_row"].append(tr)
                        out["src_xmin"].append(sxmin)
                        out["src_ymax"].append(symax)
                        out["src_cw"].append(src_ld.cell_width)
                        out["src_ch"].append(src_ld.cell_height)
                        out["tile"].append(bytes(pdf["tile"].iloc[i]))
                        out["fmt"].append(pdf["fmt"].iloc[i])
                        out["w"].append(int(pdf["w"].iloc[i]))
                        out["h"].append(int(pdf["h"].iloc[i]))
                        out["layer"].append(pdf["layer"].iloc[i])
                        out["cell_type"].append(pdf["cell_type"].iloc[i])
            yield pd.DataFrame(out)

    sample = kernels.bilinear_sample if method == "bilinear" else kernels.nearest_sample

    def warp(cell: int, pdf: pd.DataFrame) -> dict:
        tc, tr = int(pdf["key_col"].iloc[0]), int(pdf["key_row"].iloc[0])
        xs, ys = dst_ld.cell_lattice(tc, tr)
        gx, gy = np.meshgrid(xs, ys)
        slon, slat = inv(gx.ravel(), gy.ravel())  # target centers -> source CRS
        acc = np.full(T * T, np.nan)
        for i in range(len(pdf)):
            src = codecs.decode_tile(
                bytes(pdf["tile"].iloc[i]), int(pdf["w"].iloc[i]),
                int(pdf["h"].iloc[i]), pdf["fmt"].iloc[i],
            )
            u = (slon - pdf["src_xmin"].iloc[i]) / pdf["src_cw"].iloc[i] - 0.5
            v = (pdf["src_ymax"].iloc[i] - slat) / pdf["src_ch"].iloc[i] - 0.5
            vals = sample(src, u, v)
            take = np.isnan(acc) & ~np.isnan(vals)
            acc[take] = vals[take]
        out = np.where(np.isnan(acc), 0.0, np.rint(np.clip(acc, 0, 65535)))
        row = pdf.iloc[0]
        return {
            "layer": f"{row['layer']}_{to_crs}", "zoom": out_zoom,
            "key_col": tc, "key_row": tr, "cell_id": cell,
            "tile": codecs.encode_tile(out.reshape(T, T).astype(np.uint16),
                                       row["fmt"]),
            "fmt": row["fmt"], "w": T, "h": T,
            "cell_type": row["cell_type"],
        }

    exploded = tiles.mapInPandas(explode, _SRC_SCHEMA)
    return grouped.grouped_rows(exploded, "cell_id", warp, TILE_SCHEMA)
