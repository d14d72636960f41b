"""Per-query isolation bench (guide §1.4): times individual declared
queries with the noop sink so the computation is measured, not the
sink, and optionally captures .explain("formatted") to plans/r06/.

NOT the driver contract — bench.py stays the frozen measurement surface.

Usage:
  python bench_extra.py [--sf DIR] [--reps N] [--plans SUFFIX] q1 q2 ...
  python bench_extra.py --sf /root/testdata/sf1.0 ann_topk semdedup

Prints one JSON line {"sf_dir":..., "queries": {name: [sec, ...]}}.
With --plans SUFFIX also writes plans/r06/<query>_<SUFFIX>.txt.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from geotrellis_spark.session import default_cores, get_spark  # noqa: E402
from geotrellis_spark.plans import driver_queries as dq  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans", default=None,
                    help="write plans/r06/<q>_<SUFFIX>.txt explain dumps")
    ap.add_argument("--cpus", type=int, default=default_cores())
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark("bench_extra", cores=args.cpus,
                      shuffle_partitions=args.cpus)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")

    # warm-up: JVM + python workers + parquet footers
    dq.q_cell_agg(spark, args.sf).count()

    out: dict[str, list[float]] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for name in args.queries:
        fn, _sql = dq.QUERIES[name]
        if args.plans:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            pdir = os.path.join(here, "plans", "r06")
            os.makedirs(pdir, exist_ok=True)
            with open(os.path.join(pdir, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(buf.getvalue())
        reps = []
        for _ in range(args.reps):
            spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            reps.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = reps
        print(f"# {name}: {reps}", file=sys.stderr)
    print(json.dumps({"sf_dir": args.sf, "cpus": args.cpus, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
