"""``session.local_df``: driver-side rows shipped as an Arrow table.

It must give the same rows and schema as ``createDataFrame(list)``,
must never fall back to the pickled ``sc.parallelize`` path (which
starts Python workers on every default partition per call), and must
be the only way the package builds a DataFrame from Python rows.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark import SparkContext

from geotrellis_spark import checkpoint
from geotrellis_spark.operators import similarity
from geotrellis_spark.session import local_df
from geotrellis_spark.sources import iceberg_shape as ice

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "geotrellis_spark")

CASES = [
    (  # NULL in a bigint and in a double
        [("a", None, 1.5), ("b", 3, None)],
        "s string, n bigint, d double",
    ),
    ([(1, bytearray(b"\x01\x02")), (2, None)], "geom_id long, wkb binary"),
    ([(7, [1.0, -2.5, 3.25], 3.0)], "cent_id long, cv array<double>, cc double"),
    ([], "doc_a long, doc_b long"),
    ([(12, 5)], "level int, coarse_level int"),
    ([("j", "s", "rows_out", 4.0)], checkpoint.METRICS),
]


@pytest.mark.parametrize("rows,schema", CASES, ids=[c[1] for c in CASES])
def test_local_df_matches_list_path(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_df(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.fixture
def no_parallelize(monkeypatch):
    def refuse(self, *a, **k):
        raise AssertionError("sc.parallelize called: pickled rows path")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)


def test_driver_row_writes_skip_parallelize(spark, tmp_path, no_parallelize):
    base = str(tmp_path / "w")
    checkpoint.write_metric(spark, base, "j", "s", "rows", 3)
    checkpoint.write_lineage(spark, base, "j", "s", "", len, {"a": 1})
    ice.write_layer_metadata(
        spark, base, "images", 3, cell_type="uint8", tile_cols=4,
        tile_rows=4, layout_cols=8, layout_rows=8,
        extent=(-180, -90, 180, 90), key_bounds=(0, 0, 7, 7),
    )
    tiles = local_df(
        spark, [("images", 3, 5, b"\x00"), ("images", 3, 21, b"\x01")],
        "layer string, zoom int, cell_id long, tile binary",
    )
    snap = ice.write_tiles(tiles, base, n_buckets=4)
    assert spark.read.parquet(f"{base}/metrics").count() == 1
    assert spark.read.parquet(f"{base}/lineage").count() == 1
    assert ice.read_layer_metadata(spark, base).count() == 1
    assert ice.read_tiles(spark, base).count() == 2
    snaps = spark.read.parquet(f"{base}/_meta/snapshots").collect()
    assert [r["snapshot_id"] for r in snaps] == [snap]

    emb = local_df(
        spark,
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    cents = similarity.kmeans_milli(emb, stride=4, iters=1, dim=3)
    assert sorted(r["cent_id"] for r in cents.collect()) == [0, 4, 8]


def _create_dataframe_calls():
    """(path relative to the package, enclosing function) of every
    ``.createDataFrame(`` call in the package."""
    calls = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            tree = ast.parse(open(path).read(), path)
            rel = os.path.relpath(path, PKG)

            def visit(node, fn):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    fn = node.name
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    calls.append((rel, fn, node.lineno))
                for child in ast.iter_child_nodes(node):
                    visit(child, fn)

            visit(tree, None)
    return calls


def test_no_list_create_dataframe_in_package():
    # local_df itself, and pip_join's broadcast cover cells (a pandas
    # frame: already Arrow)
    allowed = {("session.py", "local_df"), ("operators/spatial.py", "pip_join")}
    calls = _create_dataframe_calls()
    assert {(rel, fn) for rel, fn, _ in calls} >= allowed
    bad = [c for c in calls if c[:2] not in allowed]
    assert not bad, f"build driver rows with session.local_df: {bad}"


def test_driver_parquet_io_takes_local_paths_only(tmp_path):
    """The driver-side writer and footer reader refuse a URI rather
    than write a local directory named after it."""
    from geotrellis_spark.session import append_local_parquet, parquet_footers

    with pytest.raises(ValueError, match="local paths only"):
        append_local_parquet("s3://bucket/metrics", [], checkpoint.METRICS)
    with pytest.raises(ValueError, match="local paths only"):
        list(parquet_footers("s3://bucket/tiles", "part int"))
    assert not os.path.exists("s3:")
