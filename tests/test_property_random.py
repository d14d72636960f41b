"""Randomized-oracle tests: the Spark temporal joins vs a pandas
brute force on adversarial random inputs (duplicate timestamps, NULL
snapshot values, bucket-straddling intervals), and hypothesis
properties for the DCT codec, group percentiles and the pure-numpy
Douglas-Peucker kernel."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geotrellis_spark.operators import temporal

T0 = dt.datetime(2024, 1, 1)


def _mk_ts(sec):
    return T0 + dt.timedelta(seconds=int(sec))


def test_asof_join_random_vs_bruteforce(spark):
    rng = np.random.default_rng(17)
    n_l, n_r = 200, 60
    left = pd.DataFrame({
        "ev": np.arange(n_l),
        "k": rng.integers(0, 8, n_l),
        "ts": [_mk_ts(s) for s in rng.integers(0, 500, n_l)],
    })
    # right unique per (k, ts); every 4th snap_value is NULL to
    # exercise row-atomic fill
    right = (
        pd.DataFrame({
            "k": rng.integers(0, 8, n_r),
            "ts": [_mk_ts(s) for s in rng.integers(0, 500, n_r)],
            "snap_id": np.arange(n_r),
        })
        .drop_duplicates(["k", "ts"])
        .reset_index(drop=True)
    )
    right["snap_value"] = np.where(
        np.arange(len(right)) % 4 == 0, np.nan, np.arange(len(right)) * 10
    )
    out = temporal.asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(
            right.assign(
                snap_value=right["snap_value"].astype("object").where(
                    right["snap_value"].notna(), None
                )
            ),
            "k long, ts timestamp, snap_id long, snap_value long",
        ),
        on="k", ts="ts", right_cols=("snap_id", "snap_value"),
    ).toPandas().set_index("ev").sort_index()
    for _, lrow in left.iterrows():
        cand = right[(right["k"] == lrow["k"]) & (right["ts"] <= lrow["ts"])]
        got_id = out.loc[lrow["ev"], "snap_id"]
        if cand.empty:
            assert pd.isna(got_id)
        else:
            best = cand.sort_values("ts").iloc[-1]
            assert got_id == best["snap_id"]
            gv = out.loc[lrow["ev"], "snap_value"]
            if pd.isna(best["snap_value"]):
                assert pd.isna(gv)
            else:
                assert gv == best["snap_value"]


def test_interval_join_random_vs_bruteforce(spark):
    rng = np.random.default_rng(23)
    pts = pd.DataFrame({
        "ev": np.arange(300),
        "k": rng.integers(0, 6, 300),
        "ts": [_mk_ts(s) for s in rng.integers(0, 2000, 300)],
    })
    starts = rng.integers(0, 1800, 40)
    iv = pd.DataFrame({
        "iid": np.arange(40),
        "k": rng.integers(0, 6, 40),
        "t_start": [_mk_ts(s) for s in starts],
        "t_end": [_mk_ts(s + int(w)) for s, w in
                  zip(starts, rng.integers(1, 400, 40))],
    })
    got = temporal.interval_join(
        spark.createDataFrame(pts), spark.createDataFrame(iv),
        on="k", ts="ts", start="t_start", end="t_end", bucket_s=128,
    ).select("iid", "ev").toPandas()
    got_set = set(map(tuple, got.to_numpy()))
    want = set()
    for _, p in pts.iterrows():
        for _, i in iv.iterrows():
            if (p["k"] == i["k"] and i["t_start"] <= p["ts"] < i["t_end"]):
                want.add((i["iid"], p["ev"]))
    assert got_set == want


@settings(max_examples=30, deadline=None)
@given(
    st.integers(0, 2**32 - 1),
    st.integers(9, 40),
    st.integers(9, 40),
    st.sampled_from([70, 85, 95]),
)
def test_dct_codec_properties(seed, h, w, quality):
    """Round-trip properties on random uint16 arrays: deterministic
    encode, exact NoData mask, bounded error (quant steps bound the
    per-coefficient error, so pixel error is bounded by the step
    energy), never inventing NoData."""
    from geotrellis_spark.core import codecs

    rng = np.random.default_rng(seed)
    # mix of smooth + noise, with NoData holes
    yy, xx = np.mgrid[0:h, 0:w]
    base = 20000 + 8000 * np.sin(xx / 5) + 6000 * np.cos(yy / 7)
    arr = np.clip(
        base + rng.normal(0, 2000, (h, w)), 1, 65535
    ).astype(np.uint16)
    arr[rng.random((h, w)) < 0.1] = 0
    enc = codecs.dct_encode_gray(arr, quality=quality)
    assert enc == codecs.dct_encode_gray(arr, quality=quality)
    dec = codecs.dct_decode_gray(enc)
    assert dec.shape == arr.shape
    np.testing.assert_array_equal(dec == 0, arr == 0)
    valid = arr != 0
    if valid.any():
        err = np.abs(dec[valid].astype(float) - arr[valid].astype(float))
        # worst-case bound: half-step per coefficient, 64 coefficients
        # per block, orthonormal transform -> generous 8x step ceiling
        step_max = float(codecs._quant_steps(quality).max())
        assert err.max() <= 8 * step_max


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(0, 5000), min_size=1, max_size=300),
       st.integers(1, 99))
def test_group_percentiles_matches_sorted_index(spark, values, p):
    """percentile_disc property: the compressed rank-selection result
    equals the value at index floor((n-1)*p/100) of the sorted list."""
    from geotrellis_spark.operators import olap

    df = spark.createDataFrame(
        [("g", v / 100.0) for v in values], "event_type string, value double"
    )
    out = olap.group_percentiles(df, percentiles=(p,)).collect()[0]
    cents = sorted(int(np.floor(v / 100.0 * 100 + 0.5)) for v in values)
    idx = (len(cents) - 1) * p // 100
    assert out[f"p{p}_cents"] == cents[idx]
    assert out["n"] == len(values)
