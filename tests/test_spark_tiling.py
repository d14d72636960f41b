"""Distributed tiling e2e vs a pure-python oracle (reference spec role:
``spark/src/test/.../tiling``, ``pyramid/PyramidSpec``,
``buffer/BufferTilesSpec`` — SURVEY.md §5)."""

import numpy as np
import pytest

from geotrellis_spark import synth
from geotrellis_spark.core import codecs, kernels, sfc
from geotrellis_spark.operators import tiling

N_IMAGES = 120
ZOOM = 3  # 8x8 world grid @256px: images overlap heavily -> real merges
T = 256


def oracle_tiles(n: int, zoom: int, tile_size: int) -> dict:
    """Independent sequential reimplementation: paint images in
    ascending ordinal with first-non-NoData-wins."""
    canvases: dict[tuple[int, int], np.ndarray] = {}
    for i in range(n):
        row = synth.make_row(i)
        img = codecs.decode_tile(row["bytes"], row["w"], row["h"], row["fmt"])
        gx, gy = tiling.image_anchor(
            np.array([i]), np.array([row["w"]]), np.array([row["h"]]), zoom, tile_size
        )
        gx, gy = int(gx[0]), int(gy[0])
        w, h = row["w"], row["h"]
        for tc in range(gx // tile_size, (gx + w - 1) // tile_size + 1):
            for tr in range(gy // tile_size, (gy + h - 1) // tile_size + 1):
                x0, x1 = max(gx, tc * tile_size), min(gx + w, (tc + 1) * tile_size)
                y0, y1 = max(gy, tr * tile_size), min(gy + h, (tr + 1) * tile_size)
                piece = img[y0 - gy : y1 - gy, x0 - gx : x1 - gx]
                canvas = canvases.setdefault(
                    (tc, tr), np.zeros((tile_size, tile_size), dtype=np.uint16)
                )
                view = canvas[
                    y0 - tr * tile_size : y1 - tr * tile_size,
                    x0 - tc * tile_size : x1 - tc * tile_size,
                ]
                fill = (view == kernels.NODATA_U16) & (piece != kernels.NODATA_U16)
                view[fill] = piece[fill]
    return canvases


@pytest.fixture(scope="module")
def tiles_df(spark):
    images = synth.synth_images(spark, N_IMAGES, partitions=4)
    df = tiling.tile_images(images, ZOOM, T, salt_buckets=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle():
    return oracle_tiles(N_IMAGES, ZOOM, T)


def test_tile_cut_merge_exact(tiles_df, oracle):
    got = {
        (r["key_col"], r["key_row"]): codecs.decode_tile(
            bytes(r["tile"]), r["w"], r["h"], r["fmt"]
        )
        for r in tiles_df.collect()
    }
    assert set(got) == set(oracle)
    for key in oracle:
        np.testing.assert_array_equal(got[key], oracle[key], err_msg=str(key))


def test_tile_cell_ids(tiles_df):
    for r in tiles_df.select("key_col", "key_row", "cell_id").collect():
        assert r["cell_id"] == int(sfc.zorder(r["key_col"], r["key_row"]))


def test_pyramid_level(tiles_df, oracle):
    up = tiling.pyramid_up(tiles_df, ZOOM, T)
    got = {
        (r["key_col"], r["key_row"]): codecs.decode_tile(
            bytes(r["tile"]), T, T, r["fmt"]
        )
        for r in up.collect()
    }
    # oracle: decimate each child into its parent quadrant
    expect: dict[tuple[int, int], np.ndarray] = {}
    half = T // 2
    for (tc, tr), canvas in oracle.items():
        parent = expect.setdefault(
            (tc // 2, tr // 2), np.zeros((T, T), dtype=np.uint16)
        )
        d = kernels.decimate2(canvas)
        parent[(tr % 2) * half : (tr % 2 + 1) * half,
               (tc % 2) * half : (tc % 2 + 1) * half] = d
    assert set(got) == set(expect)
    for key in expect:
        np.testing.assert_array_equal(got[key], expect[key], err_msg=str(key))


def test_focal_mean_cross_tile(tiles_df, oracle):
    """Focal mean over buffered tiles == focal mean on a stitched world
    raster, cropped per tile (the BufferTiles contract)."""
    out = tiling.focal_tiles(tiles_df, "mean", radius=1, tile_size=T)
    got = {
        (r["key_col"], r["key_row"]): codecs.decode_tile(
            bytes(r["tile"]), T, T, r["fmt"]
        )
        for r in out.collect()
    }
    n = 1 << ZOOM
    world = np.full((n * T, n * T), np.nan)
    for (tc, tr), canvas in oracle.items():
        f = canvas.astype(np.float64)
        f[f == 0] = np.nan
        world[tr * T : (tr + 1) * T, tc * T : (tc + 1) * T] = f
    fm = kernels.focal_stat(world, "mean", 1)
    for (tc, tr), tile in got.items():
        expect = fm[tr * T : (tr + 1) * T, tc * T : (tc + 1) * T]
        expect_u16 = np.where(
            np.isnan(expect), 0.0, np.rint(np.clip(expect, 0, 65535))
        ).astype(np.uint16)
        np.testing.assert_array_equal(tile, expect_u16, err_msg=str((tc, tr)))
