"""Per-partition checkpoint / lineage / metrics (north-rule
resumability): a killed run resumes without recomputing completed work.

Re-expression of the reference's AttributeStore catalog role
(``store/.../AttributeStore.scala``, upstream 3.x layout — SURVEY.md
§0) extended with the north rule's job-progress tables:

- ``checkpoints(job_id, stage, part_key, status, rows_out, wall_sec,
  finished_at)`` — one row per completed unit of work (a key-range
  bucket of the stage's output). Resume = anti-join the work list
  against completed part_keys: only missing buckets recompute.
- ``lineage(job_id, stage, input_snapshot, code_hash, params_json)`` —
  what produced each stage (code hash = sha256 of the operator source).
- ``metrics(job_id, stage, name, value)`` — per-stage counters
  (rows, seconds, partition-size histogram for skew evidence).

Storage is plain Parquet tables under a base dir (Iceberg-shaped: the
same writes become Iceberg ``MERGE``/appends on a cluster with the
runtime jar — see sources/iceberg_shape.py).

Every row of these tables is written from the driver as one Parquet
file (``session.append_local_parquet``): no Spark job for a few-row
write, and Spark reads the file back with the table's schema. A
stage's per-bucket row counts come from the footers of the files its
data write just made (``session.parquet_footers``), not from a scan
of them. Both are local-path operations; on a cluster filesystem they
would go through ``pyarrow.fs``.

Design for scale: the checkpoint unit is a *bucket of the output key
space* (e.g. ``cell_id % n_buckets``), not a Spark partition id —
bucket membership is a pure function of the data, so resume is
correct under any re-partitioning or executor count.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import append_local_parquet, parquet_footers, read_parquet

CHECKPOINTS = (
    "job_id string, stage string, part_key int, status string, "
    "rows_out bigint, wall_sec double, finished_at string"
)
LINEAGE = (
    "job_id string, stage string, input_snapshot string, code_hash string, "
    "params_json string"
)
METRICS = "job_id string, stage string, name string, value double"


def _table_path(base: str, name: str) -> str:
    return os.path.join(base, name)


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` on any Hadoop-compatible FS."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _append(spark: SparkSession, base: str, name: str, rows: list, schema: str):
    append_local_parquet(_table_path(base, name), rows, schema)


def _rows_per_part(output_path: str) -> dict[int, int]:
    """Row count per ``part=`` bucket of a stage's output, summed from
    its files' footers."""
    out: dict[int, int] = {}
    for keys, meta in parquet_footers(output_path, "part int"):
        out[keys["part"]] = out.get(keys["part"], 0) + meta.num_rows
    return out


def _read(
    spark: SparkSession, base: str, name: str, schema: str
) -> DataFrame | None:
    """The table, or None if it was never written. Read errors raise:
    a corrupt table must not read as an empty one. The schema is given
    so a first write killed before its commit (a bare directory) reads
    as empty."""
    path = _table_path(base, name)
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    return spark.read.schema(schema).parquet(path)


def code_hash(fn: Callable) -> str:
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = repr(fn)
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def write_lineage(
    spark: SparkSession, base: str, job_id: str, stage: str,
    input_snapshot: str, fn: Callable, params: dict,
) -> None:
    _append(
        spark, base, "lineage",
        [(job_id, stage, input_snapshot, code_hash(fn), json.dumps(params, sort_keys=True))],
        LINEAGE,
    )


def write_metric(
    spark: SparkSession, base: str, job_id: str, stage: str, name: str, value: float
) -> None:
    write_metrics(spark, base, job_id, stage, {name: value})


def write_metrics(
    spark: SparkSession, base: str, job_id: str, stage: str,
    values: dict[str, float],
) -> None:
    """One ``metrics`` row per entry of ``values``, in one write."""
    _append(
        spark, base, "metrics",
        [(job_id, stage, name, float(v)) for name, v in values.items()],
        METRICS,
    )


def completed_buckets(
    spark: SparkSession, base: str, job_id: str, stage: str
) -> set[int]:
    cp = _read(spark, base, "checkpoints", CHECKPOINTS)
    if cp is None:
        return set()
    rows = (
        cp.where((F.col("job_id") == job_id) & (F.col("stage") == stage)
                 & (F.col("status") == "done"))
        .select("part_key")
        .collect()
    )
    return {r["part_key"] for r in rows}


def checkpointed_stage(
    df_builder: Callable[[], DataFrame],
    *,
    spark: SparkSession,
    base: str,
    job_id: str,
    stage: str,
    bucket_col: str,
    n_buckets: int,
    output_path: str,
    input_snapshot: str = "",
    params: dict | None = None,
) -> DataFrame:
    """Run a stage bucket-by-bucket with per-bucket checkpoints.

    The stage's output DataFrame is partitioned by
    ``pmod(hash-free bucket_col, n_buckets)``; each missing bucket is
    computed and appended to ``output_path`` (dir-partitioned by
    ``part=``), then checkpointed. A killed run re-invokes this with
    the same job_id and only the missing buckets run. Returns the full
    stage output, read back from parquet (deterministic) with its schema
    from one data file's footer and ``part int``: the read-back runs no
    Spark job until the caller's action.
    """
    params = params or {}
    done = completed_buckets(spark, base, job_id, stage)
    todo = [b for b in range(n_buckets) if b not in done]
    write_lineage(spark, base, job_id, stage, input_snapshot, df_builder, params)
    if todo:
        # Resume atomicity: the data append commits BEFORE the 'done'
        # markers, so a kill in that window leaves committed rows for
        # buckets with no marker. Recomputing those buckets would then
        # APPEND duplicates. Purge any unmarked part= dirs first (works
        # on any Hadoop-compatible FS, not just local disk).
        for b in todo:
            fs, p = _hadoop_path(spark, f"{output_path}/part={b}")
            if fs.exists(p):
                fs.delete(p, True)
        df = df_builder().withColumn(
            "part", F.pmod(F.col(bucket_col), F.lit(n_buckets)).cast("int")
        )
        if len(todo) < n_buckets:
            df = df.where(F.col("part").isin(todo))
        t0 = time.time()
        df.write.mode("append").partitionBy("part").parquet(output_path)
        wall = time.time() - t0
        # the unmarked buckets were purged above, so the part= files of
        # the buckets in todo are this write's own
        per_part = _rows_per_part(output_path)
        now = time.strftime("%Y-%m-%dT%H:%M:%S")
        _append(
            spark, base, "checkpoints",
            [
                (job_id, stage, int(b), "done", int(per_part.get(b, 0)),
                 float(wall / max(len(todo), 1)), now)
                for b in todo
            ],
            CHECKPOINTS,
        )
        metrics = {
            "rows_out": sum(per_part.get(b, 0) for b in todo),
            "wall_sec": wall,
            "buckets_run": len(todo),
        }
        # skew evidence: largest bucket / mean bucket
        if per_part:
            vals = list(per_part.values())
            metrics["bucket_rows_max"] = max(vals)
            metrics["bucket_rows_mean"] = sum(vals) / len(vals)
        write_metrics(spark, base, job_id, stage, metrics)
    else:
        write_metric(spark, base, job_id, stage, "buckets_run", 0)
    return read_parquet(spark, output_path, "part int")
