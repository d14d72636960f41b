"""Round-5 batch-2 operators: segment_dedup (repeated-segment
removal), semdedup (embedding-cluster semantic dedup), mix_sample
(token-budget data mixing). The sf0.01 oracle gate proves
cross-engine exactness; these tests pin the SEMANTICS on hand-built
fixtures."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from geotrellis_spark.operators import dedup, sampling, similarity


def test_segment_dedup_removes_shared_boilerplate(spark):
    """Docs 1/2 share a verbatim 10-word footer -> that segment
    vanishes from both; doc 3 is untouched; doc 4 (nothing but the
    footer) drops entirely; reassembly preserves position order."""
    footer = "all rights reserved by the company and affiliates worldwide inc"
    assert len(footer.split()) == 10
    b1 = " ".join(f"alpha{i}" for i in range(10))
    b2 = " ".join(f"beta{i}" for i in range(10))
    u3 = " ".join(f"gamma{i}" for i in range(20))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    b1 + " " + footer,
                    b2 + " " + footer,
                    u3,
                    footer,
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r
        for r in dedup.segment_dedup(docs, min_words=5).collect()
    }
    assert out[1]["text"] == b1 and out[1]["n_removed"] == 1
    assert out[2]["text"] == b2 and out[2]["n_removed"] == 1
    assert out[3]["text"] == u3 and out[3]["n_removed"] == 0
    assert 4 not in out  # fully boilerplate -> below min_words
    assert out[1]["n_segs"] == 2 and out[1]["n_words"] == 10


def test_segment_dedup_reassembly_order_many_segments(spark):
    """A doc with 7 segments where segments 2 and 5 are shared with
    another doc: the rebuilt text is the remaining segments in the
    ORIGINAL order (sort_array(collect_list(struct(pos, seg))))."""
    segs = [" ".join(f"w{j}s{i}" for j in range(10)) for i in range(7)]
    shared_a, shared_b = segs[2], segs[5]
    doc1 = " ".join(segs)
    doc2 = shared_a + " " + shared_b
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [doc1, doc2]})
    )
    out = {r["doc_id"]: r for r in
           dedup.segment_dedup(docs, min_words=1).collect()}
    want = " ".join(s for i, s in enumerate(segs) if i not in (2, 5))
    assert out[1]["text"] == want
    assert out[1]["n_removed"] == 2 and out[1]["n_segs"] == 7
    assert 2 not in out or out[2]["n_words"] == 0


def test_semdedup_collapses_duplicate_groups(spark):
    """Embeddings with three exact-duplicate triples (cosine 1000)
    plus orthogonal singletons: each triple keeps its min id, the
    singletons survive, and rep points at the group minimum."""
    import numpy as np

    rng = []
    dim = 64
    rows = []
    for g in range(3):
        v = [0.0] * dim
        v[g] = 1.0
        v[g + 10] = 0.5
        for m in range(3):
            rows.append((g * 100 + m, [float(x) for x in v]))
    for s in range(3):
        v = [0.0] * dim
        v[40 + s * 2] = 1.0
        rows.append((1000 + s, [float(x) for x in v]))
    del rng, np
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           similarity.semdedup(emb, threshold_milli=990,
                               stride=1000).collect()}
    # stride=1000 -> single centroid (vec 0): every pair is compared
    for g in range(3):
        ids = [g * 100 + m for m in range(3)]
        reps = {out[i]["rep"] for i in ids}
        assert reps == {min(ids)}
        assert out[min(ids)]["keep"]
        assert not out[ids[1]]["keep"] and not out[ids[2]]["keep"]
    for s in range(3):
        assert out[1000 + s]["keep"] and out[1000 + s]["rep"] == 1000 + s


def test_semdedup_max_cluster_cap_preserves_groups(spark):
    """Degenerate corpus: ALL vectors identical (one hot cluster).
    With max_cluster=2 the pair count is linear (head pairs + tail ->
    rank-1 representative) but the duplicate GROUP is unchanged:
    everyone still collapses onto the min id."""
    v = [1.0] + [0.0] * 63
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    capped = similarity.semdedup(
        emb, threshold_milli=990, stride=1000, max_cluster=2
    ).orderBy("vec_id").collect()
    uncapped = similarity.semdedup(
        emb, threshold_milli=990, stride=1000
    ).orderBy("vec_id").collect()
    assert [r["rep"] for r in capped] == [r["rep"] for r in uncapped]
    assert all(r["rep"] == 0 for r in capped)
    assert sum(r["keep"] for r in capped) == 1


def test_semdedup_fixtures_on_the_distributed_path(spark, monkeypatch):
    """The two fixtures above run semdedup's one-task path; with the
    row budget at 0 they hold on the distributed path too."""
    monkeypatch.setattr(similarity, "SEMDEDUP_TASK_ROWS", 0)
    test_semdedup_collapses_duplicate_groups(spark)
    test_semdedup_max_cluster_cap_preserves_groups(spark)


def test_mix_sample_budget_semantics(spark):
    """Per source: kept docs are a PREFIX of the salted-hash order,
    every kept doc starts inside the budget, the first excluded doc
    would not, and a zero/unlisted budget keeps nothing."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    budgets = {"src0": 900, "src1": 2000}
    out = sampling.mix_sample(docs, budgets, salt=3).toPandas()
    assert set(out["source"]) <= {"src0", "src1"}  # unlisted absent
    for src, b in budgets.items():
        part = out[out["source"] == src].sort_values("cum_tokens")
        assert len(part) > 0
        starts = part["cum_tokens"] - part["n_tokens"]
        assert (starts < b).all()
        # kept set is a contiguous prefix: cum == running sum
        assert (
            part["n_tokens"].cumsum().values == part["cum_tokens"].values
        ).all()
        # total overshoots by at most one doc
        assert part["cum_tokens"].iloc[-1] - part["n_tokens"].iloc[-1] < b


def test_mix_sample_repartition_invariant(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    budgets = {"src2": 1200, "src9": 700}
    a = sampling.mix_sample(docs, budgets, salt=11).orderBy(
        "doc_id"
    ).collect()
    b = sampling.mix_sample(
        docs.repartition(17, F.col("lang")), budgets, salt=11
    ).orderBy("doc_id").collect()
    assert a == b and len(a) > 0


def _py_hash(doc_id: int, salt: int) -> int:
    m31, mult, m32 = sampling.M31, sampling.MULT, sampling.M32
    return ((doc_id % m31 + m31 + salt) % m31 * mult) % m32


def test_domain_cap_equals_brute_force(spark):
    """domain_cap == a pandas replication of the spec: per domain, in
    salted-hash order, keep docs that START below 40 per-mille of the
    corpus-total tokens."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = sampling.domain_cap(docs, 40, salt=7).toPandas()

    pdf = docs.select("doc_id", "source", "text").toPandas()
    pdf["n_tokens"] = pdf["text"].str.split(" ").map(len)
    total = int(pdf["n_tokens"].sum())
    cap = (40 * total) // 1000
    want: set[int] = set()
    for _src, part in pdf.groupby("source"):
        part = part.assign(h=[_py_hash(d, 7) for d in part["doc_id"]])
        part = part.sort_values(["h", "doc_id"])
        cum = 0
        for _, row in part.iterrows():
            if cum < cap:
                want.add(int(row["doc_id"]))
            cum += int(row["n_tokens"])
    assert set(out["doc_id"]) == want and want
    assert (out["cap_tokens"] == cap).all()
    # some domain must actually have been capped for the test to bite
    assert len(want) < len(pdf)


def test_domain_cap_reflows_with_corpus(spark):
    """The cap is RELATIVE: appending a fat new domain raises the
    corpus total, so every existing domain's cap_tokens grows and its
    kept set can only grow (prefix of the same per-domain order)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sampling.domain_cap(docs, 40, salt=7).toPandas()
    fat = spark.createDataFrame(
        [(10_000 + i, " ".join(["tok"] * 500), "en", "srcfat")
         for i in range(40)],
        "doc_id long, text string, lang string, source string",
    )
    b = sampling.domain_cap(
        docs.select("doc_id", "text", "lang", "source").unionByName(fat),
        40, salt=7,
    ).toPandas()
    assert b["cap_tokens"].iloc[0] > a["cap_tokens"].iloc[0]
    old = b[b["source"] != "srcfat"]
    assert set(a["doc_id"]) <= set(old["doc_id"])
    assert len(set(old["doc_id"])) > len(set(a["doc_id"]))


def test_domain_cap_repartition_invariant(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sampling.domain_cap(docs, 55, salt=3).orderBy("doc_id").collect()
    b = sampling.domain_cap(
        docs.repartition(13, F.col("lang")), 55, salt=3
    ).orderBy("doc_id").collect()
    assert a == b and len(a) > 0


def test_token_shards_partitioning_invariant(spark):
    """The two-phase distributed scan is partition-count invariant:
    1 partition (degenerate: pure local cumsum) == 8 == 32, and equals
    a pandas replication of the global (hash, id)-ordered running
    sum."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    outs = []
    for parts in (1, 8, 32):
        outs.append(
            sampling.token_shards(docs, 2500, salt=5, num_parts=parts)
            .orderBy("doc_id").toPandas()
        )
    assert outs[0].equals(outs[1]) and outs[1].equals(outs[2])

    pdf = docs.select("doc_id", "text").toPandas()
    pdf["n_tokens"] = pdf["text"].str.split(" ").map(len)
    pdf["h"] = [_py_hash(d, 5) for d in pdf["doc_id"]]
    pdf = pdf.sort_values(["h", "doc_id"]).reset_index(drop=True)
    pdf["cum"] = pdf["n_tokens"].cumsum()
    want_shard = dict(
        zip(pdf["doc_id"], (pdf["cum"] - pdf["n_tokens"]) // 2500)
    )
    want_cum = dict(zip(pdf["doc_id"], pdf["cum"]))
    got = outs[0]
    assert dict(zip(got["doc_id"], got["shard"])) == want_shard
    assert dict(zip(got["doc_id"], got["cum_tokens"])) == want_cum


def test_token_shards_balance_and_epoch_reshuffle(spark):
    """Every shard except the last holds >= target tokens and every
    shard STARTS strictly inside its token bracket (balance within one
    doc); a new salt (epoch) yields a different permutation but the
    same doc multiset."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = 2000
    a = sampling.token_shards(docs, target, salt=1).toPandas()
    # each shard's span [min start, max cum) sits inside its bracket
    starts = (a["cum_tokens"] - a["n_tokens"]) // target
    assert (starts == a["shard"]).all()
    # sharp bracket invariants: every doc STARTS at or past its
    # shard's bracket start, and every non-final shard SPILLS past its
    # bracket end (the next shard's first doc starts at its max cum)
    g = a.groupby("shard")
    assert ((a["cum_tokens"] - a["n_tokens"])
            >= a["shard"] * target).all()
    max_cum = g["cum_tokens"].max()
    last = a["shard"].max()
    nonfinal = max_cum[max_cum.index < last]
    assert (nonfinal >= (nonfinal.index + 1) * target).all()
    assert len(nonfinal) > 0
    b = sampling.token_shards(docs, target, salt=2).toPandas()
    assert set(a["doc_id"]) == set(b["doc_id"])
    ord_a = a.sort_values(["shard", "cum_tokens"])["doc_id"].tolist()
    ord_b = b.sort_values(["shard", "cum_tokens"])["doc_id"].tolist()
    assert ord_a != ord_b


def test_write_token_shards_epoch_order(spark, tmp_path):
    """Shard files land hive-partitioned and each shard reads back in
    epoch (cum_tokens) order; the union equals the corpus."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "shards")
    plan = sampling.write_token_shards(docs, path, 2500, salt=5)
    want = plan.toPandas().set_index("doc_id")
    back = spark.read.parquet(path)
    assert set(r["doc_id"] for r in back.select("doc_id").collect()) \
        == set(want.index)
    import glob
    import pyarrow.parquet as pq
    for shard_dir in sorted(glob.glob(f"{path}/shard=*")):
        shard = int(shard_dir.rsplit("=", 1)[1])
        rows = []
        for f in sorted(glob.glob(f"{shard_dir}/*.parquet")):
            rows.extend(pq.read_table(f).to_pandas().to_dict("records"))
        cums = [want.loc[r["doc_id"], "cum_tokens"] for r in rows]
        assert cums == sorted(cums) and rows
        assert all(
            want.loc[r["doc_id"], "shard"] == shard for r in rows
        )
