"""Round-6 optimization internals: semdedup's per-cluster union-find
components pass (replacing the distributed label loop — pairs cannot
span k-means clusters, so components are computable per cent_id
group). The sf0.01/sf0.1 oracle gate proves cross-engine exactness on
the driver fixture; this test pins the components SEMANTICS on a
hand-built multi-cluster corpus: several clusters, several distinct
duplicate groups WITHIN one cluster, and group labels at the min id.
"""

from __future__ import annotations

import duckdb
import pytest

from geotrellis_spark.operators import similarity

SF = "/root/testdata/sf0.001"
# semdedup's row budget: the default takes the one-task path on these
# fixtures, 0 forces the distributed plan
BUDGETS = {"one_task": similarity.SEMDEDUP_TASK_ROWS, "distributed": 0}


def test_semdedup_components_per_cluster_groups(spark):
    """Four well-separated direction groups -> four k-means clusters
    (stride 5 seeds ids 0/5/10/15, one per group). Inside every
    cluster: members 0-2 share vector A, members 3-4 share vector B,
    cos(A, B) ~ 0.735 < the 0.99 threshold — so each cluster holds
    TWO distinct duplicate groups that must NOT merge, and the
    grouped union-find must label each at its min id, per cluster."""
    dim = 64
    rows = []
    for g in range(4):
        va = [0.0] * dim
        va[g] = 1.0
        va[g + 20] = 0.6
        vb = [0.0] * dim
        vb[g] = 1.0
        vb[g + 30] = 0.6
        for m in range(5):
            rows.append((g * 5 + m, [float(x) for x in (va if m < 3 else vb)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in similarity.semdedup(
            emb, threshold_milli=990, stride=5
        ).collect()
    }
    assert len(out) == 20
    for g in range(4):
        base = g * 5
        # every member landed in ONE cluster per group
        cents = {out[base + m]["cent_id"] for m in range(5)}
        assert len(cents) == 1, (g, cents)
        # two duplicate groups inside the cluster, labels at min ids
        assert {out[base + m]["rep"] for m in range(3)} == {base}
        assert {out[base + m]["rep"] for m in (3, 4)} == {base + 3}
        # exactly the two group minima keep
        keeps = [base + m for m in range(5) if out[base + m]["keep"]]
        assert keeps == [base, base + 3]
    # clusters are distinct across groups (components never span them)
    assert len({out[g * 5]["cent_id"] for g in range(4)}) == 4


def test_semdedup_components_on_the_distributed_path(spark, monkeypatch):
    """The same fixture with the row budget at 0: the grouped
    per-cluster components pass gives the same groups."""
    monkeypatch.setattr(similarity, "SEMDEDUP_TASK_ROWS", 0)
    test_semdedup_components_per_cluster_groups(spark)


def _plan_nodes(df) -> list[str]:
    def walk(p):
        kids = p.children()
        return [p.nodeName()] + [
            n for i in range(kids.size()) for n in walk(kids.apply(i))
        ]

    return walk(df._jdf.queryExecution().sparkPlan())


@pytest.mark.parametrize("path", BUDGETS)
def test_semdedup_paths_match_duckdb(spark, monkeypatch, path):
    """Both paths give the DuckDB twin's rows on the sf0.001
    embeddings, and the one-task path's plan is one MapInArrow with no
    grouped pandas pass."""
    monkeypatch.setattr(similarity, "SEMDEDUP_TASK_ROWS", BUDGETS[path])
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.semdedup(emb, threshold_milli=350, dim=similarity.DIM)
    nodes = _plan_nodes(df)
    if path == "one_task":
        assert nodes.count("MapInArrow") == 1, nodes
        assert "FlatMapGroupsInPandas" not in nodes, nodes
    else:
        assert "FlatMapGroupsInPandas" in nodes, nodes
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    want = con.execute(similarity.semdedup_sql(threshold_milli=350)).df()
    got = df.toPandas()
    assert list(got.columns) == list(want.columns)
    key = ["vec_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert (got.values == want.values).all()
    assert (~got["keep"]).sum() > 0  # the fixture does hold duplicates


@pytest.mark.parametrize("path", BUDGETS)
def test_semdedup_no_centroid_raises_on_both_paths(spark, monkeypatch, path):
    monkeypatch.setattr(similarity, "SEMDEDUP_TASK_ROWS", BUDGETS[path])
    emb = spark.range(1, 61).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding"
    )
    with pytest.raises(ValueError, match=r"vec_id.*stride=61"):
        similarity.semdedup(emb, threshold_milli=990, stride=61, dim=2)
    # an empty corpus has no centroid either, and that is fine
    empty = emb.where("false")
    assert similarity.semdedup(empty, threshold_milli=990, dim=2).count() == 0
