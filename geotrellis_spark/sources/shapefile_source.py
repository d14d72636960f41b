"""Shapefile ingest/export for vector dimension tables.

Reference role: geotrellis.shapefile.ShapeFileReader — the reference's
standard vector-dimension ingest (read a shapefile, get geometries +
attributes, join against raster layers).

100 TB shape: shapefiles are the SMALL side — dimension tables
(admin boundaries, zones) joined against petabyte fact tables. The
right plan is: parse ONCE driver-side (the format is a single
sequential file; there is nothing to distribute), create a DataFrame,
and let every downstream join BROADCAST it. ``max_records`` guards the
contract honestly: a file too big to be a broadcast dimension is
refused with the parquet-conversion hint, not silently collected.
Export mirrors it: one shapefile is one bounded artifact, built from a
bounded collect with the same guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..core import shapefile as shp
from ..session import local_df

MAX_RECORDS_DEFAULT = 200_000


def read_shapefile(
    spark: SparkSession,
    shp_bytes: bytes,
    dbf_bytes: bytes | None = None,
    max_records: int = MAX_RECORDS_DEFAULT,
) -> DataFrame:
    """Parse a .shp (+ optional .dbf) into (fid, wkb, <attr cols>).
    Attribute columns come typed from the dbf field descriptors
    (C -> string, N -> long/double)."""
    feats = shp.shapefile_read(shp_bytes, dbf_bytes)
    if len(feats) > max_records:
        raise ValueError(
            f"shapefile has {len(feats)} records > max_records="
            f"{max_records}; convert to parquet for fact-table-sized "
            "vector data"
        )
    fields = []
    if dbf_bytes is not None:
        # types come from the dbf FIELD DESCRIPTORS, never from the
        # first record's values (a blank numeric in record 0 would
        # mistype the whole column)
        for name, ftype, _ln, dec in shp.dbf_fields(dbf_bytes):
            t = "string" if ftype == "C" else ("double" if dec else "long")
            fields.append((name, t))
    schema = "fid long, wkb binary" + "".join(
        f", {n} {t}" for n, t in fields
    )
    rows = [
        tuple(
            [i, bytearray(wkb) if wkb is not None else None]
            + [attrs.get(n) for n, _ in fields]
        )
        for i, (wkb, attrs) in enumerate(feats)
    ]
    return local_df(spark, rows, schema)


def write_shapefile(
    df: DataFrame,
    wkb_col: str = "wkb",
    attr_fields: list[tuple[str, str, int, int]] | None = None,
    order_col: str | None = None,
    max_records: int = MAX_RECORDS_DEFAULT,
) -> dict[str, bytes]:
    """Export a (small, dimension-sized) DataFrame as {'shp', 'shx',
    'dbf'} blobs. ``order_col`` pins record order (shapefiles are
    ordered containers; an unordered collect would be
    nondeterministic)."""
    if order_col is not None:
        df = df.orderBy(order_col)
    # one Spark job: collect the (bounded) rows, then enforce the guard
    # on the collected count instead of paying a separate count() scan
    rows = df.limit(max_records + 1).collect()
    if len(rows) > max_records:
        raise ValueError(
            f"DataFrame exceeds max_records={max_records}; a shapefile "
            "is a dimension artifact, not a fact-table sink"
        )
    wkbs = [bytes(r[wkb_col]) for r in rows]
    if attr_fields:
        attrs = [
            {name: r[name] for name, _t, _l, _d in attr_fields}
            for r in rows
        ]
        return shp.shapefile_write(wkbs, attrs, attr_fields)
    return shp.shapefile_write(wkbs)
