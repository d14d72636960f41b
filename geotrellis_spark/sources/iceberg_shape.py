"""Iceberg-shaped table layout + layer catalog.

The north rule targets Iceberg tables of image+caption pairs. This
sandbox has no Iceberg runtime jar and no network (SURVEY.md §0), so
the engine realizes an Iceberg-*shaped* layout over plain Parquet:

- data files partitioned by the same transforms a real Iceberg table
  would declare: ``layer / zoom / bucket(cell_id, N)`` for tiles
  (co-located storage => cell-equi-joins shuffle less; zoom partition
  pruning == COG overview selection, SURVEY.md §4);
- self-maintained ``snapshots`` / ``manifests`` metadata tables (one
  snapshot row per commit; manifest rows carry per-file row counts and
  cell_id min/max — the stats Iceberg uses for scan pruning);
- ``layer_metadata`` — the TileLayerMetadata catalog (D13/D17:
  ``store/.../AttributeStore.scala`` role).

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

from ..session import local_df

N_CELL_BUCKETS = 16


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
    """

    def __init__(self, base: str):
        self.base = base

    def write(self, df: DataFrame, table: str, partition_cols, mode: str):
        w = df.write.mode(mode)
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(self.location(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self.location(table))

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
    out = (
        tiles.withColumn("bucket", F.pmod(F.col("cell_id"), F.lit(n_buckets)).cast("int"))
        .repartition("layer", "zoom", "bucket")
        .sortWithinPartitions("cell_id")
    )
    cat.write(out, table, ("layer", "zoom", "bucket"), mode)
    _write_snapshot(tiles.sparkSession, cat, table, snap_id)
    return snap_id


def _write_snapshot(
    spark: SparkSession, cat, table: str, snap_id: str
) -> None:
    df = cat.read(spark, table)
    manifest = (
        df.groupBy("layer", "zoom", "bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cell_id").alias("cell_id_min"),
            F.max("cell_id").alias("cell_id_max"),
        )
        .withColumn("snapshot_id", F.lit(snap_id))
        .withColumn("table_name", F.lit(table))
    )
    cat.write(manifest.coalesce(1), os.path.join("_meta", "manifests"),
              (), "append")
    loc = cat.location(table) if hasattr(cat, "location") else table
    snap = local_df(
        spark,
        [(snap_id, table, time.strftime("%Y-%m-%dT%H:%M:%S"), loc)],
        "snapshot_id string, table_name string, committed_at string, path string",
    )
    cat.write(snap.coalesce(1), os.path.join("_meta", "snapshots"),
              (), "append")


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
    local_df(
        spark,
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
    ).coalesce(1).write.mode("append").parquet(
        os.path.join(base, "_meta", "layer_metadata")
    )


def read_layer_metadata(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base, "_meta", "layer_metadata"))


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
