"""Multimodal pipeline tests: image features, augmentation and
quality gate — real Spark plumbing over the deterministic in-repo
codecs; external codecs stay marked stubs."""

import numpy as np
import pandas as pd
import pytest

from geotrellis_spark.core import codecs, imagery
from geotrellis_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def images_df(spark):
    rows = []
    for i in range(12):
        px = imagery.synth_pixels(i, 32, 24)
        rows.append({
            "image_id": i, "img": codecs.encode_tile(px, "png"),
            "w": 32, "h": 24, "fmt": "png",
        })
    return spark.createDataFrame(pd.DataFrame(rows)).cache()


def test_image_features_phash_invariant(spark, images_df):
    feats = {r["image_id"]: r for r in mm.image_features(images_df).collect()}
    for i in range(12):
        px = imagery.synth_pixels(i, 32, 24).astype(np.float64)
        assert feats[i]["phash"] == int(imagery.phash64(px))
        assert feats[i]["mean_milli"] == int(np.floor(px.mean() * 1000))


def test_external_image_codec_is_stub():
    # jpeg is REAL now (core/jpeg.py) — a truncated stream errors as
    # a malformed bitstream, not a stub
    with pytest.raises((ValueError, IndexError)):
        mm.decode_image(b"\xff\xd8\xff", 8, 8, "jpeg")
    with pytest.raises(NotImplementedError, match="STUB"):
        mm.decode_image(b"", 8, 8, "webp")


def test_augment_pixels_hand_golden():
    """Hand-computable 3x4 array: crop -> flip -> rot90 each verified
    against explicitly written expected arrays."""
    px = np.arange(12, dtype=np.uint16).reshape(3, 4)
    # [[ 0  1  2  3]
    #  [ 4  5  6  7]
    #  [ 8  9 10 11]]
    got = mm.augment_pixels(px, cx=1, cy=0, c=2, flip=0, rot=0)
    assert got.tolist() == [[1, 2], [5, 6]]
    got = mm.augment_pixels(px, cx=1, cy=0, c=2, flip=1, rot=0)
    assert got.tolist() == [[2, 1], [6, 5]]
    # rot90 k=1 is counter-clockwise: last column becomes first row
    got = mm.augment_pixels(px, cx=1, cy=0, c=2, flip=0, rot=1)
    assert got.tolist() == [[2, 6], [1, 5]]
    got = mm.augment_pixels(px, cx=2, cy=1, c=2, flip=1, rot=2)
    # crop [[6,7],[10,11]] -> flip [[7,6],[11,10]] -> rot180 [[10,11],[6,7]]
    assert got.tolist() == [[10, 11], [6, 7]]


def test_augment_params_ranges_and_determinism():
    i = np.arange(500, dtype=np.int64)
    w = np.full(500, 64, np.int64)
    h = np.full(500, 32, np.int64)
    p = mm.augment_params(i, w, h, crop=24, salt=9)
    assert (p["crop_size"] == 24).all()
    assert (p["crop_x"] >= 0).all() and (p["crop_x"] <= 64 - 24).all()
    assert (p["crop_y"] >= 0).all() and (p["crop_y"] <= 32 - 24).all()
    assert set(np.unique(p["flip"])) <= {0, 1}
    assert set(np.unique(p["rot"])) <= {0, 1, 2, 3}
    # parameters actually vary and a different salt moves them
    assert len(np.unique(p["crop_x"])) > 10
    q = mm.augment_params(i, w, h, crop=24, salt=10)
    assert (p["crop_x"] != q["crop_x"]).any()
    # crop larger than the image degrades to the full short side
    r = mm.augment_params(i[:1], w[:1], h[:1], crop=999, salt=0)
    assert r["crop_size"][0] == 32 and r["crop_x"][0] <= 32


def test_augment_images_spark_matches_local(spark, images_df):
    """The Spark operator == decode + augment_params + augment_pixels
    applied locally, byte-exact, and is repartition-invariant."""
    out = {
        r["id"]: r
        for r in mm.augment_images(
            images_df, crop=16, salt=4, id_col="image_id"
        ).collect()
    }
    out2 = {
        r["id"]: r
        for r in mm.augment_images(
            images_df.repartition(7), crop=16, salt=4, id_col="image_id"
        ).collect()
    }
    assert len(out) == 12
    p = mm.augment_params(
        np.arange(12, dtype=np.int64),
        np.full(12, 32, np.int64), np.full(12, 24, np.int64),
        crop=16, salt=4,
    )
    for i in range(12):
        px = imagery.synth_pixels(i, 32, 24)
        want = mm.augment_pixels(
            px, int(p["crop_x"][i]), int(p["crop_y"][i]), 16,
            int(p["flip"][i]), int(p["rot"][i]),
        )
        r = out[i]
        assert (r["crop_x"], r["crop_y"], r["flip"], r["rot"]) == (
            p["crop_x"][i], p["crop_y"][i], p["flip"][i], p["rot"][i]
        )
        assert r["w"] == r["h"] == 16
        got = codecs.decode_tile(bytes(r["img"]), 16, 16, "raw16")
        assert np.array_equal(got, want)
        r2 = out2[i]
        assert bytes(r2["img"]) == bytes(r["img"])


def test_image_quality_gate_flags(spark):
    """Constructed corpus: a near-black image, a flat constant image,
    a blown-out image, and textured synth images — the junk and the
    genuinely-flat synth crops are flagged, textured ones pass, with
    thresholds honored on the exact integer stats."""
    rows = []
    for i in range(6):
        px = imagery.synth_pixels(i, 32, 32)
        rows.append({"image_id": i,
                     "img": codecs.encode_tile(px, "raw16"),
                     "w": 32, "h": 32, "fmt": "raw16"})
    dark = np.full((32, 32), 3, np.uint16)          # mean ~3 -> low
    flat = np.full((32, 32), 30000, np.uint16)      # std 0 -> flat
    blown = np.full((32, 32), 65500, np.uint16)     # mean high
    blown[0, 0] = 60000                             # nonzero std
    for j, px in ((100, dark), (101, flat), (102, blown)):
        rows.append({"image_id": j,
                     "img": codecs.encode_tile(px, "raw16"),
                     "w": 32, "h": 32, "fmt": "raw16"})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = {r["image_id"]: r for r in mm.image_quality_gate(df).collect()}
    assert out[100]["flagged"] and out[101]["flagged"] \
        and out[102]["flagged"]
    # synth crops 1/3/4 are textured (std ~18-20M milli) -> pass;
    # 0/5 are constant 32x32 crops -> correctly flagged as flat
    assert not any(out[i]["flagged"] for i in (1, 3, 4))
    assert out[0]["flagged"] and out[5]["flagged"]
    # exact integer stats: flat image has std_milli == 0, mean exact
    assert out[101]["std_milli"] == 0
    assert out[101]["mean_milli"] == 30000 * 1000
