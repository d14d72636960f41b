"""Parquet reads whose schema comes from a footer on the driver
(``session.read_parquet``), and the within-file order of the tile
tables those reads serve."""

import ast
import glob
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from geotrellis_spark import checkpoint
from geotrellis_spark.checkpoint import checkpointed_stage
from geotrellis_spark.plans import driver_queries as dq
from geotrellis_spark.session import read_parquet
from geotrellis_spark.sources import iceberg_shape as ice

PKG = pathlib.Path(__file__).resolve().parents[1] / "geotrellis_spark"


def _tiles(spark, n=2000, literal=True):
    """Tile-shaped rows (cell_id, layer, zoom, a payload), cell ids out
    of order; layer/zoom literals or per-row expressions."""
    df = spark.range(0, n, numPartitions=4).selectExpr(
        "(id * 7919) % 100003 as cell_id", "id as key_col",
        "cast(cast(id as string) as binary) as tile",
    )
    if literal:
        return df.withColumn("layer", F.lit("images")).withColumn("zoom", F.lit(5))
    return df.withColumn("layer", F.expr("if(key_col % 2 = 0, 'a', 'b')")).withColumn(
        "zoom", F.expr("cast(key_col % 3 as int)")
    )


def _pyarrow_table():
    n = 5
    return pa.table({
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.arange(n).astype("timedelta64[s]")),
        "ts_utc": pa.array(np.arange(n) * 10**6, pa.timestamp("us", tz="UTC")),
        "blob": pa.array([bytes([i]) for i in range(n)], pa.binary()),
        "name": pa.array([f"n{i}" for i in range(n)]),
        "i32": pa.array(np.arange(n, dtype=np.int32)),
        "vec": pa.array([[float(i), 0.5] for i in range(n)], pa.list_(pa.float64())),
    })


def _same_schema(spark, path, partitions=None):
    got = read_parquet(spark, path, partitions).schema
    assert got == spark.read.parquet(path).schema
    return got


def test_schema_of_pyarrow_files(spark, tmp_path):
    one = str(tmp_path / "one.parquet")
    pq.write_table(_pyarrow_table(), one)
    got = _same_schema(spark, one)
    assert got.fieldNames() == _pyarrow_table().column_names
    # types whose Spark reading the Arrow mapping does not give: INT96
    # timestamps, and an unsigned int that has no Arrow-to-Spark mapping
    odd = str(tmp_path / "odd.parquet")
    pq.write_table(
        _pyarrow_table().append_column("u32", pa.array(np.arange(5, dtype=np.uint32))),
        odd, use_deprecated_int96_timestamps=True,
    )
    _same_schema(spark, odd)
    # a directory of files, one schema
    d = tmp_path / "dir"
    d.mkdir()
    for i in range(2):
        pq.write_table(_pyarrow_table(), str(d / f"part-{i}.parquet"))
    _same_schema(spark, str(d))


def test_schema_of_spark_written_files(spark, tmp_path):
    path = str(tmp_path / "sw")
    spark.range(4).selectExpr(
        "id", "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) as ts",
        "array(cast(id as double)) as vec",
    ).write.parquet(path)
    _same_schema(spark, path)


def test_schema_of_tile_and_checkpoint_tables(spark, tmp_path):
    base = str(tmp_path / "w")
    ice.write_tiles(_tiles(spark, 400), base, n_buckets=4)
    tiles = _same_schema(spark, f"{base}/tiles", ice.TILE_PARTITIONS)
    assert tiles.fieldNames()[-3:] == ["layer", "zoom", "bucket"]
    out = str(tmp_path / "stage")
    got = checkpointed_stage(
        lambda: spark.range(50).selectExpr("id as cell_id", "id * 2 as v"),
        spark=spark, base=base, job_id="j", stage="s", bucket_col="cell_id",
        n_buckets=4, output_path=out,
    )
    assert got.schema == spark.read.parquet(out).schema
    assert got.count() == 50


def test_unreadable_table_raises_sparks_error(spark, tmp_path):
    """A table Spark cannot read fails with Spark's own error: no data
    file, no path, or a nanosecond timestamp (which the Arrow mapping
    alone would read as microseconds)."""
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    ns = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array(np.arange(3), pa.timestamp("ns"))}), ns)
    for path in (str(empty), str(tmp_path / "missing"), ns):
        with pytest.raises(AnalysisException) as want:
            spark.read.parquet(path)
        with pytest.raises(AnalysisException) as got:
            read_parquet(spark, path)
        assert got.value.getCondition() == want.value.getCondition()


def _jobs_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_engine_reads_run_no_spark_job(spark, tmp_path, monkeypatch):
    """Building the read of a query table, a tile table and a
    checkpointed stage's output runs no Spark job (schema inference
    would run one each)."""
    sc = spark.sparkContext
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(_pyarrow_table(), str(sf / "events.parquet"))
    for spread in (False, True):
        df, jobs = _jobs_in_group(
            sc, f"t_{spread}", lambda: dq._t(spark, str(sf), "events", spread=spread)
        )
        assert jobs == []
    assert df.count() == 5

    base = str(tmp_path / "w")
    ice.write_tiles(_tiles(spark, 200), base, n_buckets=4)
    df, jobs = _jobs_in_group(
        sc, "tiles", lambda: ice.read_tiles(spark, base, layer="images", zoom=5)
    )
    assert jobs == []
    assert df.count() == 200

    readback = []

    def traced(*args, **kw):
        df, jobs = _jobs_in_group(sc, "readback", lambda: read_parquet(*args, **kw))
        readback.append(jobs)
        return df

    monkeypatch.setattr(checkpoint, "read_parquet", traced)
    out = checkpointed_stage(
        lambda: spark.range(40).selectExpr("id as cell_id"),
        spark=spark, base=base, job_id="j", stage="s", bucket_col="cell_id",
        n_buckets=4, output_path=str(tmp_path / "stage"),
    )
    assert readback == [[]]
    assert out.count() == 40


@pytest.mark.parametrize("literal", [True, False], ids=["literal", "column"])
def test_write_tiles_files_sorted_by_cell_id(spark, tmp_path, literal):
    """Every data file write_tiles makes is in cell_id order, whether
    layer and zoom are literals (which Spark's planned write folds out
    of the order it requires) or per-row columns."""
    base = str(tmp_path / "w")
    ice.write_tiles(_tiles(spark, literal=literal), base, n_buckets=8)
    files = glob.glob(f"{base}/tiles/**/*.parquet", recursive=True)
    assert len(files) >= 8
    for f in files:
        cells = pq.read_table(f, columns=["cell_id"]).column(0).to_numpy()
        assert (np.diff(cells) >= 0).all(), f


# bare spark.read.parquet(...) calls kept in the package, each reading
# a path its caller gives, in a layout the package does not fix
SCHEMA_INFERENCE_ALLOWED = {
    # no data file: Spark raises its own error for the path
    ("session.py", "read_parquet"):
        "the fallback to Spark's inference",
    ("plans/pipeline.py", "run_pipeline"):
        "read.parquet / read.documents nodes: a user's path and schema",
    ("sources/cog_source.py", "read_cog_layer"):
        "a COG catalog at a user's path (the pipeline's read.cogs node)",
    ("operators/spatial.py", "read_s2_store"):
        "a store at a user's path; s2_part's type is inferred from its "
        "directory names",
    ("operators/similarity.py", "ivf_query_index"):
        "an IVF store at a user's path; cent_id takes the type of the "
        "user's id column",
}


def _schema_less_parquet_reads():
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())

        def visit(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "read"
            ):
                calls.append((rel, fn, node.lineno))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(tree, None)
    return calls


def test_no_schema_less_parquet_read_in_package():
    calls = _schema_less_parquet_reads()
    found = {(rel, fn) for rel, fn, _ in calls}
    assert found >= set(SCHEMA_INFERENCE_ALLOWED), "allow-list names a call that is gone"
    bad = [c for c in calls if c[:2] not in SCHEMA_INFERENCE_ALLOWED]
    assert not bad, f"read engine tables with session.read_parquet: {bad}"
