"""Operator tests for the temporal joins (as-of, interval) and IVF ANN.

Semantics pinned here (the sf0.01 driver oracles cover the bulk
statistics; these pin the edge rules):
- as-of: equal timestamps match; left rows before any right row keep
  NULLs; the latest right row wins, per key.
- interval: [start, end) half-open; bucket boundaries do not lose or
  duplicate matches (each point lives in exactly one bucket).
- IVF: probing every list (nprobe = #centroids) reproduces exact
  brute-force top-k.
"""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from geotrellis_spark.operators import similarity, temporal

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


# ------------------------------------------------------------- as-of

def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            Row(ev=1, k=1, ts=_ts(0)),    # before any right row -> NULL
            Row(ev=2, k=1, ts=_ts(5)),    # equal ts -> matches snap 10
            Row(ev=3, k=1, ts=_ts(7)),    # between -> still snap 10
            Row(ev=4, k=1, ts=_ts(12)),   # after second -> snap 20
            Row(ev=5, k=2, ts=_ts(30)),   # other key, no right rows -> NULL
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, ts=_ts(5), snap_id=10, snap_value=100),
            Row(k=1, ts=_ts(10), snap_id=20, snap_value=200),
        ]
    )
    out = temporal.asof_join(
        left, right, on="k", ts="ts", right_cols=("snap_id", "snap_value")
    )
    got = {r["ev"]: (r["snap_id"], r["snap_value"]) for r in out.collect()}
    assert got == {
        1: (None, None),
        2: (10, 100),
        3: (10, 100),
        4: (20, 200),
        5: (None, None),
    }


def test_asof_join_plan_single_shuffle(spark):
    left = spark.range(10).selectExpr(
        "id as ev", "id % 2 as k",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(id as int),0) as ts",
    )
    right = spark.range(3).selectExpr(
        "id % 2 as k",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(id*2 as int),0) as ts",
        "id as snap_id", "id * 10 as snap_value",
    )
    plan = temporal.asof_join(
        left, right, on="k", ts="ts", right_cols=("snap_id", "snap_value")
    )._jdf.queryExecution().executedPlan().toString()
    # one Exchange for the window partitioning (plus AQE reads), and
    # never a nested-loop/cartesian join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------- interval

def test_interval_join_half_open_and_buckets(spark):
    bucket_s = 60
    pts = spark.createDataFrame(
        [
            Row(ev=1, k=1, ts=_ts(0)),     # == start -> in
            Row(ev=2, k=1, ts=_ts(1.5)),   # inside, next bucket
            Row(ev=3, k=1, ts=_ts(3)),     # == end -> OUT (half-open)
            Row(ev=4, k=2, ts=_ts(1)),     # wrong key
            Row(ev=5, k=1, ts=_ts(2.99)),  # just inside
        ]
    )
    iv = spark.createDataFrame(
        [Row(iid=100, k=1, t_start=_ts(0), t_end=_ts(3))]
    )
    out = temporal.interval_join(
        pts, iv, on="k", ts="ts", start="t_start", end="t_end",
        bucket_s=bucket_s,
    )
    assert sorted(r["ev"] for r in out.collect()) == [1, 2, 5]
    # each match appears exactly once even though the interval explodes
    # into 4 buckets
    assert out.count() == 3


def test_interval_join_no_nested_loop(spark):
    pts = spark.range(100).selectExpr(
        "id as ev", "id % 5 as k",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,cast(id as int),0) as ts",
    )
    iv = spark.range(10).selectExpr(
        "id as iid", "id % 5 as k",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,cast(id*9 as int),0) as t_start",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,cast(id*9+30 as int),0) as t_end",
    )
    j = temporal.interval_join(pts, iv, on="k", ts="ts",
                               start="t_start", end="t_end", bucket_s=1800)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # oracle by brute force
    expect = pts.crossJoin(iv.withColumnRenamed("k", "k2")).where(
        "k = k2 and ts >= t_start and ts < t_end"
    ).count()
    assert j.count() == expect


# --------------------------------------------------------------- IVF

@pytest.fixture(scope="module")
def emb(spark):
    # deterministic 8-dim embeddings, 60 vectors
    return spark.range(60).selectExpr(
        "id as vec_id",
        "transform(sequence(0, 7), j -> cast(((id * 37 + j * 11) % 97) - 48 "
        "as float)) as embedding",
    )


def test_ivf_full_probe_equals_bruteforce(spark, emb):
    # probing every list == exact brute-force top-k
    full = similarity.ivf_topk(
        emb, k=3, query_pred="vec_id % 20 = 0", stride=7, nprobe=1000
    )
    brute = similarity.cosine_topk(emb, k=3, query_pred="vec_id % 20 = 0")
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, brute.collect())
    )


def test_ivf_partial_probe_subset(spark, emb):
    # nprobe=1 results are a subset of the full ranking's candidates
    # and never include the query itself
    part = similarity.ivf_topk(
        emb, k=3, query_pred="vec_id % 20 = 0", stride=7, nprobe=1
    ).collect()
    assert all(r["q_id"] != r["vec_id"] for r in part)
    assert all(1 <= r["rank"] <= 3 for r in part)
    # per-query ranks are dense from 1
    by_q = {}
    for r in part:
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


# ------------------------------------------------------ kmeans IVF

def test_kmeans_milli_partition_invariant(spark, emb):
    # the milli-integer quantization makes per-cluster means
    # order-independent: centroids must be bit-identical no matter how
    # the corpus is partitioned
    a = similarity.kmeans_milli(emb.repartition(1), stride=13, iters=2)
    b = similarity.kmeans_milli(emb.repartition(7), stride=13, iters=2)
    ra = sorted((r["cent_id"], tuple(r["cv"])) for r in a.collect())
    rb = sorted((r["cent_id"], tuple(r["cv"])) for r in b.collect())
    assert ra == rb


def test_kmeans_milli_no_centroid_raises(spark):
    # ids 1..60 hold no multiple of 61: the init sample is empty, which
    # must fail on the driver, not later inside semdedup's Arrow UDF
    emb = spark.range(1, 61).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding"
    )
    with pytest.raises(ValueError, match=r"vec_id.*stride=61"):
        similarity.kmeans_milli(emb, stride=61, iters=1, dim=2)
    with pytest.raises(ValueError, match=r"stride=61"):
        similarity.semdedup(emb, threshold_milli=990, stride=61, dim=2)


def test_kmeans_lowers_inertia(spark, emb):
    # Lloyd iterations never increase total within-cluster d2
    from pyspark.sql import functions as F

    def inertia(iters):
        cents = similarity.kmeans_milli(emb, stride=13, iters=iters)
        q = emb.selectExpr(
            "vec_id",
            "transform(embedding, x -> cast(floor(cast(x as double) * 1000.0"
            " + 0.5) as double)) as qv",
        )
        d2 = (
            "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), "
            "cast(0.0 as double), (a, v) -> a + v)"
        )
        scored = q.crossJoin(F.broadcast(cents)).withColumn("d2", F.expr(d2))
        return (
            scored.groupBy("vec_id").agg(F.min("d2").alias("m"))
            .agg(F.sum("m")).collect()[0][0]
        )

    i0, i1, i2 = inertia(0), inertia(1), inertia(2)
    assert i1 <= i0 and i2 <= i1
    assert i1 < i0  # the fixture is not already converged at init


def test_ivf_kmeans_full_probe_is_exact_l2(spark, emb):
    # probing every list reproduces exact brute-force L2 top-k
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    got = similarity.ivf_kmeans_topk(
        emb, k=3, query_pred="vec_id % 20 = 0", stride=13, iters=2,
        nprobe=1000,
    )
    q = emb.selectExpr(
        "vec_id",
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000.0"
        " + 0.5) as double)) as qv",
    )
    qq = q.where("vec_id % 20 = 0").select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("pv")
    )
    d2 = (
        "aggregate(zip_with(qv, pv, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (a, v) -> a + v)"
    )
    pairs = q.crossJoin(F.broadcast(qq)).where("vec_id <> q_id").withColumn(
        "d2", F.expr(d2)
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("d2").asc(), F.col("vec_id").asc()
    )
    brute = (
        pairs.withColumn("rank", F.row_number().over(w))
        .where("rank <= 3").select("q_id", "vec_id", "rank")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, brute.collect())
    )


# ------------------------------------------- dedup connected components

def test_dedup_clusters_components(spark):
    from geotrellis_spark.operators import dedup

    # component 1: path 1-2-3-4 (diameter 3 -> needs >1 round);
    # component 2: clique-ish 10-11, 11-12, 10-12; singleton pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["cluster"]
           for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_clusters_raises_without_convergence(spark, monkeypatch):
    import pytest as _pt

    from geotrellis_spark.operators import dedup

    # a 6-path needs several rounds; one round must raise, not mislabel
    # (a budget of 0 edges forces the label-propagation loop)
    monkeypatch.setattr(dedup, "COMPONENTS_TASK_EDGES", 0)
    monkeypatch.setattr(dedup, "DEDUP_CLUSTERS_MAX_ITERS", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    with _pt.raises(RuntimeError):
        dedup.dedup_clusters(pairs)


# ---------------------------------------------- deterministic sampling

def test_stratified_sample_partition_invariant(spark):
    from geotrellis_spark.operators import sampling

    df = spark.range(1000).selectExpr(
        "id", "cast(id % 7 as string) as grp"
    )
    a = sampling.stratified_sample(
        df.repartition(1), ("grp",), 5, "id", salt=3
    ).select("grp", "id", "smp_rank")
    b = sampling.stratified_sample(
        df.repartition(13), ("grp",), 5, "id", salt=3
    ).select("grp", "id", "smp_rank")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert a.count() == 35  # 7 strata x 5


def test_hash_sample_is_filter_and_deterministic(spark):
    from geotrellis_spark.operators import sampling

    df = spark.range(10000).selectExpr("id")
    s1 = sampling.hash_sample(df, 0.25, "id", salt=1)
    s2 = sampling.hash_sample(df.repartition(9), 0.25, "id", salt=1)
    n1 = s1.count()
    assert n1 == s2.count()
    assert abs(n1 - 2500) < 250  # roughly the asked fraction
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure filter: no shuffle


# ------------------------------------------------------ resample_ffill

def test_resample_ffill_gaps_and_ties(spark):
    # key 1: obs at minute buckets 0 and 3 (gap at 1-2 carries value);
    # two obs in bucket 0 -> max ord wins; key 2: single obs
    rows = [
        Row(k=1, ts=_ts(0.1), v=10, o=1),
        Row(k=1, ts=_ts(0.5), v=11, o=2),   # same bucket, higher ord
        Row(k=1, ts=_ts(3.2), v=30, o=3),
        Row(k=2, ts=_ts(7.0), v=70, o=4),
    ]
    df = spark.createDataFrame(rows)
    out = temporal.resample_ffill(
        df, on="k", ts="ts", val_col="v", ord_col="o", step_s=60
    )
    got = {(r["k"], r["bucket"] % 100000): r["v"] for r in out.collect()}
    b0 = next(b for (k, b) in got if k == 1)  # first bucket of key 1
    assert [got[(1, b0 + i)] for i in range(4)] == [11, 11, 11, 30]
    assert sum(1 for (k, _b) in got if k == 2) == 1


# ----------------------------------------------------- edge hardening

def test_asof_join_empty_right(spark):
    left = spark.createDataFrame([Row(ev=1, k=1, ts=_ts(0))])
    right = spark.createDataFrame(
        [], "k long, ts timestamp, snap_id long, snap_value long"
    )
    out = temporal.asof_join(
        left, right, on="k", ts="ts", right_cols=("snap_id", "snap_value")
    ).collect()
    assert len(out) == 1 and out[0]["snap_id"] is None


def test_interval_join_empty_intervals(spark):
    pts = spark.createDataFrame([Row(ev=1, k=1, ts=_ts(0))])
    iv = spark.createDataFrame(
        [], "iid long, k long, t_start timestamp, t_end timestamp"
    )
    out = temporal.interval_join(
        pts, iv, on="k", ts="ts", start="t_start", end="t_end"
    )
    assert out.count() == 0


def test_stratified_sample_small_strata(spark):
    from geotrellis_spark.operators import sampling

    # n_per larger than the stratum: every row kept, ranks dense
    df = spark.range(4).selectExpr("id", "'g' as grp")
    out = sampling.stratified_sample(df, ("grp",), 100, "id")
    assert out.count() == 4
    assert sorted(r["smp_rank"] for r in out.collect()) == [1, 2, 3, 4]


def test_chunk_docs_short_and_exact_cover(spark):
    from geotrellis_spark.operators import text as t

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abcdef"), Row(doc_id=2, text="x" * 350)]
    )
    rows = t.chunk_docs(docs, size=200, overlap=50).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # short doc: one chunk, full text
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "abcdef"
    # 350 chars, step 150: ceil((350-50)/150) = 2 chunks at 0 and 150;
    # the second covers chars 150..349 — full coverage with 50 overlap
    chunks = sorted(by_doc[2], key=lambda r: r["chunk_start"])
    assert [r["chunk_start"] for r in chunks] == [0, 150]
    assert len(chunks[0]["chunk_text"]) == 200
    assert len(chunks[1]["chunk_text"]) == 200  # reaches char 350 exactly


def test_asof_join_null_right_value_not_stitched(spark):
    # a right row with a NULL column must match as-is — never borrow
    # the column from an OLDER right row (row-atomic semantics)
    left = spark.createDataFrame([Row(ev=1, k=1, ts=_ts(12))])
    right = spark.createDataFrame(
        [
            Row(k=1, ts=_ts(5), snap_id=3, snap_value=7),
            Row(k=1, ts=_ts(10), snap_id=5, snap_value=None),
        ],
        "k long, ts timestamp, snap_id long, snap_value long",
    )
    out = temporal.asof_join(
        left, right, on="k", ts="ts", right_cols=("snap_id", "snap_value")
    ).collect()
    assert out[0]["snap_id"] == 5 and out[0]["snap_value"] is None


def test_minhash_cap_preserves_clusters(spark):
    # 20 identical docs, hot-bucket cap 4: overflow docs must still
    # pair with the bucket representative so the CLUSTER survives
    from geotrellis_spark.operators import dedup

    docs = spark.range(20).selectExpr(
        "id as doc_id",
        "'the same exact boilerplate text repeated for every doc here'"
        " as text",
    )
    pairs = dedup.minhash_candidates(docs, max_bucket=4)
    clusters = dedup.dedup_clusters(pairs)
    got = {r["doc_id"]: r["cluster"] for r in clusters.collect()}
    assert len(got) == 20  # every doc appears in the pair graph
    assert set(got.values()) == {0}  # one cluster, rep = min id


def test_ivf_persisted_index_matches_inline(spark, tmp_path):
    """Build-once/query-many IVF: the persisted index (hive-partitioned
    assignments by cent_id) must return EXACTLY ivf_topk's results, and
    the probe scan must carry a cent_id partition filter (only the
    probed inverted lists are read)."""
    from geotrellis_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = str(tmp_path / "ivf")
    S.ivf_build_index(emb, base)
    queries = emb.where("vec_id % 100 = 0")
    got = {
        (r["q_id"], r["vec_id"], r["rank"])
        for r in S.ivf_query_index(spark, base, queries).collect()
    }
    want = {
        (r["q_id"], r["vec_id"], r["rank"])
        for r in S.ivf_topk(emb).collect()
    }
    assert got == want and got
    # partition pruning proof: the assignment scan carries a NON-EMPTY
    # PartitionFilters on cent_id ("PartitionFilters: []" prints for
    # every partitioned scan, so a bare substring check is vacuous)
    import contextlib
    import io
    import re

    df = S.ivf_query_index(spark, base, queries)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    assert re.search(r"PartitionFilters: \[[^\]]*cent_id", plan), plan[-2000:]


def test_ivf_persisted_kmeans_variant(spark, tmp_path):
    from geotrellis_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = str(tmp_path / "ivf_km")
    S.ivf_build_index(emb, base, kmeans_rounds=2)
    out = S.ivf_query_index(spark, base, emb.where("vec_id % 100 = 0"))
    # 5 queries x top-5
    assert out.count() == 25


def test_ivf_assignments_maxby_no_window(spark):
    """The IVF assignment stage is a hash-aggregate argmax (max_by),
    not a row_number window: results match the window derivation
    bit-for-bit (same tie-break) and the plan carries no Window/Sort."""
    import contextlib
    import io

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from geotrellis_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.where("vec_id % 61 = 0").selectExpr(
        "vec_id as cent_id", "embedding as c_vec"
    )
    assign = S.ivf_assignments(emb, cents)
    got = {(r["vec_id"], r["cent_id"]) for r in assign.collect()}

    scored = emb.select("vec_id", "embedding").crossJoin(
        F.broadcast(cents)
    ).withColumn(
        "ccos",
        S._dot("embedding", "c_vec")
        / (F.sqrt(S._dot("embedding", "embedding"))
           * F.sqrt(S._dot("c_vec", "c_vec"))),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cent_id").asc()
    )
    want = {
        (r["vec_id"], r["cent_id"])
        for r in scored.withColumn("rk", F.row_number().over(w))
        .where("rk = 1").select("vec_id", "cent_id").collect()
    }
    assert got == want and got

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assign.explain(True)
    physical = buf.getvalue().split("== Physical Plan ==")[-1]
    # no Window (the old row_number plan shuffled ALL n x k scored
    # rows); the aggregate must partial-combine map-side so the
    # exchange carries ~n rows, not n x k
    assert "Window" not in physical, physical
    assert "partial_max_by" in physical, physical
