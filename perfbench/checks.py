"""Expected outputs, computed without Spark, and the comparisons the
workloads use to count wrong results.

- spatial queries: the engine's own DuckDB twins (``oracle_sql()``),
  run once per seed before the timed loop;
- ingest: the tile cover of the image window from the anchor formula,
  and tile pixels painted image by image (the rule of
  ``synth.paint_region``, over a window of ordinals instead of a prefix);
- curation: stage counts from the DuckDB twins of the quality gate,
  exact dedup and MinHash banding, with components by union-find.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from geotrellis_spark.core import imagery
from geotrellis_spark.operators import dedup, text, tiling

TILE = 256


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive exact equality of two result tables."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df[cols].copy()
        for c in cols:
            kind = df[c].dtype.kind
            if kind in "iu":
                df[c] = df[c].astype(np.int64)
            elif kind == "f":
                df[c] = df[c].astype(np.float64)
            elif kind == "b":
                df[c] = df[c].astype(bool)
            else:
                df[c] = df[c].astype(object)
        return df.sort_values(cols).reset_index(drop=True)

    return norm(got).equals(norm(want))


# ------------------------------------------------------------- ingest

def _image_dims(ordinals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    sizes = np.array([64, 128, 256], dtype=np.int64)  # synth._SIZES
    return sizes[(ordinals * 7) % 3], sizes[(ordinals * 13) % 3]


def tile_cover(ordinals: np.ndarray, zoom: int) -> set[tuple[int, int]]:
    """(key_col, key_row) of every layout tile the images overlap."""
    ws, hs = _image_dims(ordinals)
    gx, gy = tiling.image_anchor(ordinals, ws, hs, zoom, TILE)
    keys = set()
    for x, y, w, h in zip(gx, gy, ws, hs):
        for tc in range(int(x) // TILE, (int(x) + int(w) - 1) // TILE + 1):
            for tr in range(int(y) // TILE, (int(y) + int(h) - 1) // TILE + 1):
                keys.add((tc, tr))
    return keys


def paint_tile(ordinals: np.ndarray, zoom: int, tc: int, tr: int) -> np.ndarray:
    """Expected uint16 pixels of tile (tc, tr): first non-NoData value
    wins, lower ordinal first; 0 (NoData) where no image has data."""
    ws, hs = _image_dims(ordinals)
    gx, gy = tiling.image_anchor(ordinals, ws, hs, zoom, TILE)
    x0, y0 = tc * TILE, tr * TILE
    canvas = np.full((TILE, TILE), np.nan)
    for k in np.argsort(ordinals, kind="stable"):
        ix0, iy0, w, h = int(gx[k]), int(gy[k]), int(ws[k]), int(hs[k])
        rx0, rx1 = max(ix0, x0), min(ix0 + w, x0 + TILE)
        ry0, ry1 = max(iy0, y0), min(iy0 + h, y0 + TILE)
        if rx0 >= rx1 or ry0 >= ry1:
            continue
        px = imagery.synth_pixels(int(ordinals[k]), w, h)
        piece = px[ry0 - iy0 : ry1 - iy0, rx0 - ix0 : rx1 - ix0].astype(np.float64)
        view = canvas[ry0 - y0 : ry1 - y0, rx0 - x0 : rx1 - x0]
        win = np.isnan(view) & (piece != 0)
        view[win] = piece[win]
    return np.nan_to_num(canvas, nan=0.0).astype(np.uint16)


# ------------------------------------------------------------ curation

def curate_counts(con, per_stratum: int) -> dict[str, int]:
    """Expected ``curate`` stage counts over the ``documents`` view."""
    q = text.quality_score_sql("documents")
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE gated AS SELECT d.* FROM documents d "
        f"JOIN ({q}) q ON d.doc_id = q.doc_id WHERE q.is_quality"
    )
    ex = dedup.exact_dedup_sql("gated")
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE exact AS SELECT g.* FROM gated g "
        f"JOIN ({ex}) e ON g.doc_id = e.min_doc"
    )
    ids = con.execute("SELECT doc_id FROM exact ORDER BY doc_id").fetchnumpy()["doc_id"]
    pairs = con.execute(dedup.minhash_candidates_sql("exact")).fetchall()
    index = {int(v): i for i, v in enumerate(ids)}
    parent = list(range(len(ids)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = find(index[int(a)]), find(index[int(b)])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # ids are sorted, so each root is its component's smallest id
    keep = np.array([find(i) == i for i in range(len(ids))])
    strata = con.execute("SELECT doc_id, lang, source FROM exact ORDER BY doc_id").df()
    per = strata[keep].groupby(["lang", "source"]).size()
    return {
        "input": int(con.execute("SELECT count(*) FROM documents").fetchone()[0]),
        "quality.kept": int(con.execute("SELECT count(*) FROM gated").fetchone()[0]),
        "exact_dedup.kept": len(ids),
        "neardup.kept": int(keep.sum()),
        "sample.kept": int(np.minimum(per.to_numpy(), per_stratum).sum()),
    }
