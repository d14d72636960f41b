"""Ingest job (spark-submit entrypoint): images -> tiled pyramid layer,
checkpointed per-partition, Iceberg-shaped sink.

E1 pipeline (SURVEY.md §3): scan -> metadata pass -> cut+merge (salted)
-> pyramid levels -> layer write + catalog row, every stage wrapped in
checkpoint/lineage/metrics so a killed run resumes without recompute.

Cluster usage (the warehouse must be a path the driver can write:
the checkpoint and catalog rows are written from the driver, local
paths only):
  spark-submit --py-files geotrellis_spark.zip jobs/ingest.py \
      --images-path <iceberg/parquet table> --zoom 12 --warehouse /mnt/wh
Sandbox usage (synthetic input):
  python jobs/ingest.py --synth 5000 --zoom 8 --warehouse /tmp/wh
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geotrellis_spark import synth  # noqa: E402
from geotrellis_spark.checkpoint import checkpointed_stage, write_metric  # noqa: E402
from geotrellis_spark.operators import tiling  # noqa: E402
from geotrellis_spark.session import get_spark  # noqa: E402
from geotrellis_spark.sources import iceberg_shape as ice  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--synth", type=int, default=0, help="synthesize N images")
    ap.add_argument("--images-path", default=None, help="read images table")
    ap.add_argument("--zoom", type=int, default=8)
    ap.add_argument("--min-zoom", type=int, default=None)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--layer", default="images")
    ap.add_argument("--job-id", default=None)
    ap.add_argument("--salt-buckets", type=int, default=8)
    args = ap.parse_args()
    job_id = args.job_id or f"ingest-{args.layer}-z{args.zoom}"
    min_zoom = args.min_zoom if args.min_zoom is not None else max(args.zoom - 3, 0)

    spark = get_spark(f"ingest-{args.layer}")
    # overwrite only the (layer, zoom, bucket) partitions actually
    # written — static mode would wipe every previously ingested layer
    # sharing the tiles table path
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    t0 = time.time()

    def load_images():
        if args.synth:
            return synth.synth_images(spark, args.synth)
        return spark.read.parquet(args.images_path)

    def tile_builder():
        return tiling.tile_images(
            load_images(), args.zoom, 256, args.salt_buckets, layer=args.layer
        )

    base = os.path.join(args.warehouse, "_jobs")
    tiles = checkpointed_stage(
        tile_builder, spark=spark, base=base, job_id=job_id,
        stage=f"tile_z{args.zoom}", bucket_col="cell_id", n_buckets=16,
        output_path=os.path.join(args.warehouse, f"_stage/{job_id}/z{args.zoom}"),
        input_snapshot=args.images_path or f"synth:{args.synth}",
        params={"zoom": args.zoom, "salt_buckets": args.salt_buckets},
    )

    snap = ice.write_tiles(tiles, args.warehouse, mode="overwrite")
    md = ice.collect_metadata(tiles)
    n = 1 << args.zoom
    ice.write_layer_metadata(
        spark, args.warehouse, args.layer, args.zoom,
        cell_type=md["cell_type"], tile_cols=256, tile_rows=256,
        layout_cols=n, layout_rows=n, extent=(-180, -90, 180, 90),
        key_bounds=md["key_bounds"],
    )

    cur = tiles
    for z in range(args.zoom, min_zoom, -1):
        prev = cur
        # checkpointed like the tiling stage: a resumed run reads the
        # completed level back instead of recomputing it, and the
        # partition-overwrite write below is idempotent per (layer,zoom)
        cur = checkpointed_stage(
            lambda p=prev, zz=z: tiling.pyramid_up(p, zz, 256),
            spark=spark, base=base, job_id=job_id,
            stage=f"pyramid_z{z - 1}", bucket_col="cell_id", n_buckets=4,
            output_path=os.path.join(args.warehouse, f"_stage/{job_id}/z{z - 1}"),
            input_snapshot=f"stage:z{z}",
            params={"zoom": z - 1},
        )
        ice.write_tiles(cur, args.warehouse, mode="overwrite")
        write_metric(spark, base, job_id, f"pyramid_z{z - 1}", "rows", cur.count())

    write_metric(spark, base, job_id, "total", "wall_sec", time.time() - t0)
    print(f"ingest done: snapshot={snap} tiles={md['n_tiles']} "
          f"zooms {args.zoom}..{min_zoom} in {time.time() - t0:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
