"""Round-4 verdict fixes: dedup_clusters pointer jumping."""


def test_dedup_clusters_shortcut_fixpoint_on_chain(spark):
    """Pointer jumping: a 40-node path graph (diameter 40) converges
    well inside 25 rounds and every node maps to the chain minimum."""
    from geotrellis_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert len(out) == 41
    assert set(out.values()) == {100}

    # shortcut off: same fixpoint (sanity that the knob is semantic-free)
    out2 = {
        r["doc_id"]: r["cluster"]
        for r in dedup_clusters(pairs, max_iters=60, shortcut=False).collect()
    }
    assert out == out2
