"""Layer map algebra + rasterize e2e vs numpy oracles (reference spec
roles: ``LocalTileRDDMethods`` specs, ``RasterizeRDDSpec`` — SURVEY.md
§5)."""

import numpy as np
import pytest

from geotrellis_spark import synth
from geotrellis_spark.core import codecs, geom as G, kernels
from geotrellis_spark.core.layout import ZoomedLayoutScheme
from geotrellis_spark.operators import algebra, tiling
from tests.test_spark_tiling import oracle_tiles

ZOOM = 3
T = 256
LAYOUT = ZoomedLayoutScheme("latlng", T).level_for_zoom(ZOOM)


@pytest.fixture(scope="module")
def tiles_df(spark):
    images = synth.synth_images(spark, 100, partitions=4)
    df = tiling.tile_images(images, ZOOM, T, salt_buckets=2).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle():
    return oracle_tiles(100, ZOOM, T)


def test_local_scalar_and_binary(spark, tiles_df, oracle):
    plus = algebra.local_scalar_layer(tiles_df, "add", 10)
    got = {
        (r["key_col"], r["key_row"]): codecs.decode_tile(bytes(r["tile"]), T, T, r["fmt"])
        for r in plus.collect()
    }
    for key, canvas in oracle.items():
        expect = kernels.local_binary("add", canvas, 10)
        np.testing.assert_array_equal(got[key], expect, err_msg=str(key))

    # layer + layer: (a+10) - a == 10 where data (and a+10 doesn't
    # clip at the uint16 ceiling), NoData propagates
    diff = algebra.local_binary_layers(plus, tiles_df, "subtract")
    for r in diff.collect():
        tile = codecs.decode_tile(bytes(r["tile"]), T, T, r["fmt"])
        canvas = oracle[(r["key_col"], r["key_row"])]
        data = (canvas != 0) & (canvas <= 65525)
        assert set(np.unique(tile[data])) <= {10}
        assert (tile[canvas == 0] == 0).all()

    # unary: "defined" is 1 where the layer has data, else 0 (NoData)
    defined = algebra.local_unary_layer(tiles_df, "defined")
    for r in defined.collect():
        tile = codecs.decode_tile(bytes(r["tile"]), T, T, r["fmt"])
        canvas = oracle[(r["key_col"], r["key_row"])]
        np.testing.assert_array_equal(tile, (canvas != 0).astype(np.uint16))


def test_local_stats_layers(spark, tiles_df):
    doubled = algebra.local_scalar_layer(tiles_df, "multiply", 2)
    mean = algebra.local_stats_layers([tiles_df, doubled], "mean")
    row = mean.limit(1).collect()[0]
    base = {
        (r["key_col"], r["key_row"]): codecs.decode_tile(bytes(r["tile"]), T, T, r["fmt"])
        for r in tiles_df.collect()
    }[(row["key_col"], row["key_row"])]
    got = codecs.decode_tile(bytes(row["tile"]), T, T, row["fmt"])
    data = base != 0
    # mean(x, 2x(clipped)) == 1.5x rounded (rint) where no clipping
    ok = data & (base.astype(np.int64) * 2 <= 65535)
    np.testing.assert_array_equal(
        got[ok], np.rint(base[ok].astype(np.float64) * 1.5).astype(np.uint16)
    )


def test_rasterize_features(spark):
    # two overlapping aligned rectangles; higher zindex wins
    e1 = LAYOUT.key_to_extent(2, 2)
    half_w = (e1[2] - e1[0]) / 2
    r1 = np.array([[e1[0], e1[1]], [e1[2], e1[1]], [e1[2], e1[3]], [e1[0], e1[3]]])
    r2 = np.array([[e1[0] + half_w, e1[1]], [e1[2], e1[1]],
                   [e1[2], e1[3]], [e1[0] + half_w, e1[3]]])
    feats = spark.createDataFrame(
        [
            (1, 100, 1, bytearray(G.wkb_write_polygon([r1]))),
            (2, 200, 2, bytearray(G.wkb_write_polygon([r2]))),
        ],
        "fid long, burn_value long, zidx long, wkb binary",
    )
    out = algebra.rasterize_features(
        feats, LAYOUT, ZOOM, value_col="burn_value", zindex_col="zidx"
    )
    tiles = {(r["key_col"], r["key_row"]): r for r in out.collect()}
    t22 = codecs.decode_tile(bytes(tiles[(2, 2)]["tile"]), T, T, "raw16")
    # left half = 100, right half = 200 (z-index priority)
    assert (t22[:, : T // 2] == 100).all()
    assert (t22[:, T // 2 :] == 200).all()
