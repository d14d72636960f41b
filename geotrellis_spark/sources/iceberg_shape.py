"""Iceberg-shaped table layout + layer catalog.

The north rule targets Iceberg tables of image+caption pairs. This
sandbox has no Iceberg runtime jar and no network (SURVEY.md §0), so
the engine realizes an Iceberg-*shaped* layout over plain Parquet:

- data files partitioned by the same transforms a real Iceberg table
  would declare: ``layer / zoom / bucket(cell_id, N)`` for tiles
  (co-located storage => cell-equi-joins shuffle less; zoom partition
  pruning == COG overview selection, SURVEY.md §4);
- self-maintained ``snapshots`` / ``manifests`` metadata tables (one
  snapshot row per commit; one manifest row per ``layer/zoom/bucket``
  partition with its row count and cell_id min/max — the stats
  Iceberg uses for scan pruning). As an Iceberg writer does, the
  manifest takes them from the data files' own Parquet footers
  (row-group statistics), not from a scan of the table;
- ``layer_metadata`` — the TileLayerMetadata catalog (D13/D17:
  ``store/.../AttributeStore.scala`` role).

The metadata rows are written from the driver
(``session.append_local_parquet``) and the footers are read there
too: neither runs a Spark job. Both work on local paths; on a
cluster filesystem they would go through ``pyarrow.fs``.

Swap-in for real Iceberg on a cluster with the jar (documented,
3 lines): ``df.writeTo(tbl).partitionedBy(col('layer'), col('zoom'),
bucket(N, col('cell_id'))).createOrReplace()`` and the metadata tables
disappear in favor of Iceberg's own.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import append_local_parquet, parquet_footers, read_parquet

N_CELL_BUCKETS = 16
# the hive partition columns of a tile table, as its directories name them
TILE_PARTITIONS = "layer string, zoom int, bucket int"
MANIFESTS = (
    "layer string, zoom int, bucket int, n_rows bigint, "
    "cell_id_min bigint, cell_id_max bigint, snapshot_id string, "
    "table_name string"
)
SNAPSHOTS = "snapshot_id string, table_name string, committed_at string, path string"


class ParquetCatalog:
    """The default catalog: Iceberg-shaped plain parquet under
    ``base``. This class IS the swap seam — a real-Iceberg deployment
    replaces it with the 3 writeTo lines below and nothing above the
    catalog changes (the contract test proves the seam by swapping in
    a mock catalog)::

        class IcebergCatalog:
            def __init__(self, catalog): self.cat = catalog
            def write(self, df, table, partition_cols, mode):
                w = df.writeTo(f"{self.cat}.{table}").partitionedBy(
                    *[F.col(c) for c in partition_cols])
                w.append() if mode == "append" else w.createOrReplace()
            def read(self, spark, table):
                return spark.read.table(f"{self.cat}.{table}")

    (with Iceberg's own snapshots/manifests replacing the ``_meta``
    tables — callers that only write/read keep working unchanged).

    Two more calls serve the metadata tables, so that they cost no
    Spark job: ``append_rows`` appends driver-side rows to a table
    (one Parquet file, written from the driver), and ``manifest_rows``
    returns the manifest of a tile table from its data files' Parquet
    footers. Both take local paths; a cluster filesystem would reach
    the same files through ``pyarrow.fs``.
    """

    def __init__(self, base: str):
        self.base = base

    def write(self, df: DataFrame, table: str, partition_cols, mode: str):
        w = df.write.mode(mode)
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(self.location(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """The tile table, its schema from one data file's footer and
        ``TILE_PARTITIONS``: building the read runs no Spark job."""
        return read_parquet(spark, self.location(table), TILE_PARTITIONS)

    def append_rows(self, table: str, rows: list, schema: str) -> None:
        append_local_parquet(self.location(table), rows, schema)

    def manifest_rows(self, table: str) -> list[tuple]:
        """(layer, zoom, bucket, n_rows, cell_id_min, cell_id_max) per
        partition of a tile table: Σ ``num_rows`` and the min/max of
        ``cell_id`` over the row-group statistics of every data file.
        A row group without cell_id statistics raises: the manifest
        must not understate a file's range."""
        acc: dict[tuple, list[int]] = {}
        for keys, meta in parquet_footers(self.location(table), TILE_PARTITIONS):
            idx = meta.schema.names.index("cell_id")
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = rg.column(idx).statistics
                if st is None or not st.has_min_max:
                    raise ValueError(
                        f"{self.location(table)}: a row group has no "
                        "cell_id min/max statistics"
                    )
                key = (keys["layer"], keys["zoom"], keys["bucket"])
                a = acc.setdefault(key, [0, st.min, st.max])
                a[0] += rg.num_rows
                a[1], a[2] = min(a[1], st.min), max(a[2], st.max)
        return [(*k, *v) for k, v in sorted(acc.items())]

    def location(self, table: str) -> str:
        """Physical address recorded in snapshot metadata; a real
        Iceberg catalog returns the table identifier instead."""
        return os.path.join(self.base, table)


def write_tiles(
    tiles: DataFrame, base: str, table: str = "tiles",
    n_buckets: int = N_CELL_BUCKETS, mode: str = "append",
    catalog=None,
) -> str:
    """Write a tile layer Iceberg-shaped: partitioned by
    (layer, zoom, bucket(cell_id)), sorted by cell_id within files
    (SFC-ordered files => tight min/max stats => range scans prune,
    the LayerWriter/ZCurveKeyIndexMethod role, SURVEY.md §2.S3)."""
    cat = catalog or ParquetCatalog(base)
    snap_id = uuid.uuid4().hex[:16]
    parts = ("layer", "zoom", "bucket")
    out = (
        tiles.withColumn("bucket", F.pmod(F.col("cell_id"), F.lit(n_buckets)).cast("int"))
        .repartition(*parts)
    )
    out = out.sortWithinPartitions(*_write_ordering(out, parts), "cell_id")
    cat.write(out, table, parts, mode)
    _write_snapshot(tiles.sparkSession, cat, table, snap_id)
    return snap_id


def _write_ordering(df: DataFrame, parts) -> list[str]:
    """The partition columns a partitioned write of ``df`` sorts on.

    Spark's planned write sorts its input by the partition columns
    unless the input's order already starts with them, and that sort
    replaces an inner ``sortWithinPartitions`` (and its cell_id order).
    It first drops the columns that fold to a constant — a layer or
    zoom set by a literal — so no one fixed key list matches both a
    literal and a column layer. This asks Spark's own rule which
    columns remain (analysis only, no job)."""
    plan = df.sortWithinPartitions(*parts)._jdf.queryExecution().analyzed()
    utils = df.sparkSession._jvm.org.apache.spark.sql.execution.datasources.V1WritesUtils
    kept = utils.eliminateFoldableOrdering(plan.order(), plan.child()).outputOrdering()
    return [kept.apply(i).child().name() for i in range(kept.length())]


def _write_snapshot(
    spark: SparkSession, cat, table: str, snap_id: str
) -> None:
    cat.append_rows(
        os.path.join("_meta", "manifests"),
        [(*r, snap_id, table) for r in cat.manifest_rows(table)],
        MANIFESTS,
    )
    loc = cat.location(table) if hasattr(cat, "location") else table
    cat.append_rows(
        os.path.join("_meta", "snapshots"),
        [(snap_id, table, time.strftime("%Y-%m-%dT%H:%M:%S"), loc)],
        SNAPSHOTS,
    )


def read_tiles(
    spark: SparkSession, base: str, table: str = "tiles",
    layer: str | None = None, zoom: int | None = None,
    catalog=None,
) -> DataFrame:
    df = (catalog or ParquetCatalog(base)).read(spark, table)
    if layer is not None:
        df = df.where(F.col("layer") == layer)  # partition-pruned
    if zoom is not None:
        df = df.where(F.col("zoom") == zoom)  # partition-pruned
    return df


def write_layer_metadata(
    spark: SparkSession, base: str, layer: str, zoom: int, *,
    cell_type: str, tile_cols: int, tile_rows: int,
    layout_cols: int, layout_rows: int,
    extent: tuple[float, float, float, float],
    key_bounds: tuple[int, int, int, int],
    crs: str = "latlng", extra: dict | None = None,
) -> None:
    """D13 TileLayerMetadata row (one per layer@zoom)."""
    append_local_parquet(
        os.path.join(base, "_meta", "layer_metadata"),
        [(
            layer, zoom, cell_type, crs, tile_cols, tile_rows,
            layout_cols, layout_rows,
            float(extent[0]), float(extent[1]), float(extent[2]), float(extent[3]),
            int(key_bounds[0]), int(key_bounds[1]),
            int(key_bounds[2]), int(key_bounds[3]),
            json.dumps(extra or {}, sort_keys=True),
        )],
        "layer string, zoom int, cell_type string, crs string, "
        "tile_cols int, tile_rows int, layout_cols int, layout_rows int, "
        "extent_xmin double, extent_ymin double, extent_xmax double, extent_ymax double, "
        "kb_col_min bigint, kb_row_min bigint, kb_col_max bigint, kb_row_max bigint, "
        "props_json string",
    )


def read_layer_metadata(spark: SparkSession, base: str) -> DataFrame:
    return read_parquet(spark, os.path.join(base, "_meta", "layer_metadata"))


def collect_metadata(tiles: DataFrame) -> dict:
    """T4 TileLayerMetadata.fromRDD: one pass -> key bounds + counts."""
    row = tiles.agg(
        F.min("key_col").alias("c0"), F.min("key_row").alias("r0"),
        F.max("key_col").alias("c1"), F.max("key_row").alias("r1"),
        F.count("*").alias("n"), F.first("cell_type").alias("ct"),
    ).collect()[0]
    return {
        "key_bounds": (row["c0"], row["r0"], row["c1"], row["r1"]),
        "n_tiles": row["n"],
        "cell_type": row["ct"],
    }
