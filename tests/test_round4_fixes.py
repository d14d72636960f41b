"""dedup_clusters (pointer jumping, the one-task kernel path and the
label-propagation loop) and the MinHash shingle hashes."""

import pytest

# the 40-node chain (diameter 40) and a graph of mixed components: a
# path 1-2-3-4, a triangle 10-11-12 and a lone pair 20-21
CHAIN = [(i, i + 1) for i in range(100, 140)]
MIXED = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]


def test_dedup_clusters_shortcut_fixpoint_on_chain(spark, monkeypatch):
    """Pointer jumping: a 40-node path graph (diameter 40) converges
    well inside 25 rounds and every node maps to the chain minimum."""
    import numpy as np

    from geotrellis_spark.core import kernels
    from geotrellis_spark.operators import dedup

    monkeypatch.setattr(dedup, "COMPONENTS_TASK_EDGES", 0)
    pairs = spark.createDataFrame(CHAIN, "doc_a long, doc_b long")
    out = {r["doc_id"]: r["cluster"]
           for r in dedup.dedup_clusters(pairs).collect()}
    assert len(out) == 41
    assert set(out.values()) == {100}

    # same fixpoint as the numpy min-label kernel (checked against a BFS)
    ids, lab = kernels.min_label_components(
        np.arange(100, 140), np.arange(101, 141)
    )
    assert out == dict(zip(ids.tolist(), lab.tolist()))


@pytest.mark.parametrize("edges", [CHAIN, MIXED], ids=["chain", "mixed"])
def test_dedup_clusters_kernel_and_loop_agree(spark, monkeypatch, edges):
    """The one-task kernel path (under COMPONENTS_TASK_EDGES) and the
    label-propagation loop (forced by a budget of 0) give the same
    (doc_id, cluster) rows, with the input's id type."""
    from geotrellis_spark.operators import dedup

    pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
    kernel = dedup.dedup_clusters(pairs)
    got = sorted(tuple(r) for r in kernel.collect())
    monkeypatch.setattr(dedup, "COMPONENTS_TASK_EDGES", 0)
    loop = dedup.dedup_clusters(pairs)
    assert sorted(tuple(r) for r in loop.collect()) == got
    assert kernel.schema == loop.schema
    assert len(got) == len({n for e in edges for n in e})


def test_dedup_clusters_empty_edge_list(spark):
    from geotrellis_spark.operators import dedup

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.dedup_clusters(pairs).collect() == []


@pytest.mark.parametrize("text", [
    "plain ascii text, long enough for several shingles",
    "café crème brûlée à la carte",     # 2-byte UTF-8
    "東京都の天気は晴れのち曇りです",      # 3-byte UTF-8 (CJK)
    "emoji 😀 between words 🎉 too",     # 4-byte UTF-8 (non-BMP)
    "short",                             # shorter than k
    "",
])
def test_shingle_hashes_match_string_substring(spark, text):
    """shingle_hashes reads single-byte text as bytes; every text must
    hash exactly as the character substring, row for row.
    (``regexp_extract_all`` with a ``(?=(.{8}))`` lookahead is not an
    alternative: it emits an extra shingle that starts at the low
    surrogate of a non-BMP character.)"""
    from geotrellis_spark.operators import dedup

    k = dedup.SHINGLE_K
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    want = docs.selectExpr(
        "doc_id", "text",
        f"explode(sequence(1, greatest(length(text) - {k - 1}, 1))) as pos",
    ).selectExpr(
        "doc_id",
        f"{dedup.hex2int_spark(f'substring(text, pos, {k})')} "
        f"% {dedup.PRIME} as h",
    )
    got = sorted(tuple(r) for r in dedup.shingle_hashes(docs).collect())
    assert got == sorted(tuple(r) for r in want.collect())
    assert len(got) == max(len(text) - (k - 1), 1)
