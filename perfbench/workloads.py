"""The workloads: ``ingest`` (write path), ``spatial_query`` (read
path, closed loop, one client), ``curate`` (dedup/similarity) and
``batch`` (ingest and curate in one session, the pair BENCHMARK.json
runs).

Each workload stages seeded inputs (``stage``), prepares expected
outputs and warms the session (``prepare``), then runs timed
operations (``run_op``). An operation is timed from its first call
into the engine until its result is in the client; checking the
result happens after the clock stops.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb
import numpy as np

from geotrellis_spark import checkpoint
from geotrellis_spark.core import codecs
from geotrellis_spark.operators import curation, similarity, spatial, tiling
from geotrellis_spark.plans import driver_queries as dq
from geotrellis_spark.sources import iceberg_shape as ice

import checks
import inputs


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    work: float = 0.0  # workload's unit of work done by the operation
    cpu_s: float = 0.0  # CPU seconds of client, driver JVM and Python workers
    extra: dict = field(default_factory=dict)


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _mark(label: str, t0: float) -> float:
    """Log how long a set-up step took (stderr); returns a new start."""
    t1 = time.perf_counter()
    print(f"# prepare {label}: {t1 - t0:.2f}s", file=sys.stderr)
    return t1


def _concurrently(*calls) -> None:
    """Run warm-up calls from parallel client threads. A plan's
    first-run cost (planning, code generation, class loading, JIT) is
    mostly serial driver work, so overlapping several plans shortens
    set-up; the session's task slots still bound the Python workers
    started."""
    with ThreadPoolExecutor(len(calls)) as ex:
        for f in [ex.submit(c) for c in calls]:
            f.result()


def _explain(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


# ---------------------------------------------------------------- ingest

def ingest_job(spark, images_path: str, wh: str, zoom: int, min_zoom: int,
               tracer, job_id: str = "bench") -> int:
    """The jobs/ingest.py composition: checkpointed tiling (png tiles),
    Iceberg-shaped write, layer metadata, then the pyramid levels. The
    pyramid levels are written without jobs/ingest.py's per-level
    checkpoint: that bookkeeping is already measured on the tiling
    stage, and a second checkpointed stage does not fit the run budget.
    Calls go through the module attributes so a traced run sees them."""
    base = os.path.join(wh, "_jobs")
    tiles = checkpoint.checkpointed_stage(
        lambda: tiling.tile_images(
            spark.read.parquet(images_path), zoom, 256, 8, layer="images", fmt="png"
        ),
        spark=spark, base=base, job_id=job_id, stage=f"tile_z{zoom}",
        bucket_col="cell_id", n_buckets=16,
        output_path=os.path.join(wh, f"_stage/{job_id}/z{zoom}"),
        input_snapshot=images_path, params={"zoom": zoom, "salt_buckets": 8},
    )
    ice.write_tiles(tiles, wh, mode="overwrite")
    md = ice.collect_metadata(tiles)
    n = 1 << zoom
    ice.write_layer_metadata(
        spark, wh, "images", zoom, cell_type=md["cell_type"], tile_cols=256,
        tile_rows=256, layout_cols=n, layout_rows=n, extent=(-180, -90, 180, 90),
        key_bounds=md["key_bounds"],
    )
    cur = tiles
    for z in range(zoom, min_zoom, -1):
        with tracer.span("phase.pyramid"):
            cur = tiling.pyramid_up(cur, z, 256)
            ice.write_tiles(cur, wh, mode="overwrite")
    return int(md["n_tiles"])


class Ingest:
    name = "ingest"
    n_images = 150
    zoom = 8
    levels = 1  # pyramid levels below the base zoom
    n_checked_tiles = 2

    def stage(self, seed: int, d: str) -> None:
        self.seed = seed
        self.ordinals = inputs.image_window(seed, self.n_images)
        inputs.stage({"images": inputs.images(self.ordinals)}, d)
        self.images_path = os.path.join(d, "images.parquet")

    def prepare(self, ctx) -> None:
        spark = ctx.spark
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        t = time.perf_counter()
        cover = sorted(checks.tile_cover(self.ordinals, self.zoom))
        self.expect = {self.zoom: len(cover)}
        parents = set(cover)
        for z in range(self.zoom - 1, self.zoom - 1 - self.levels, -1):
            parents = {(c >> 1, r >> 1) for c, r in parents}
            self.expect[z] = len(parents)
        rng = np.random.default_rng(self.seed)
        picks = rng.choice(len(cover), self.n_checked_tiles, replace=False)
        self.check_px = {
            cover[i]: checks.paint_tile(self.ordinals, self.zoom, *cover[i]) for i in picks
        }
        t = _mark("expected tiles", t)
        # warm-up: JIT, Python workers importing the tiling and codec
        # modules, the checkpoint-row write path. Warming every plan of
        # the composition would cost more than the job itself; what is
        # left cold is each plan's first code generation, which a fresh
        # ingest job pays too.
        warm = os.path.join(ctx.work, "warm", self.name)
        inputs.stage({"images": inputs.images(self.ordinals[:8])}, warm)
        tiles = tiling.tile_images(
            spark.read.parquet(os.path.join(warm, "images.parquet")), self.zoom, 256, 8,
            layer="images", fmt="png",
        )
        _concurrently(
            lambda: tiling.pyramid_up(tiles, self.zoom, 256).count(),
            lambda: checkpoint.write_metric(
                spark, os.path.join(warm, "_jobs"), "warm", "warm", "rows", 0
            ),
        )
        _mark("warm-up", t)
        self.n_ops = 0

    def next_kind(self, i: int) -> str:
        return "ingest"

    def run_op(self, ctx, kind: str) -> Op:
        spark = ctx.spark
        self.n_ops += 1
        wh = os.path.join(ctx.work, f"wh{self.n_ops}")  # empty warehouse per job
        with ctx.tracer.span("op:ingest"):
            c0, t0 = ctx.cpu(), time.perf_counter()
            n_tiles = ingest_job(
                spark, self.images_path, wh, self.zoom, self.zoom - self.levels, ctx.tracer
            )
            dt, cpu = time.perf_counter() - t0, ctx.cpu() - c0
        with ctx.tracer.span("check"):
            ok, payload, base_payload = self._check(spark, wh, n_tiles)
        size, _files = _dir_bytes_files(wh)
        ckpt_files = sum(_dir_bytes_files(os.path.join(wh, d))[1] for d in ("_jobs", "_stage"))
        ice_bytes, ice_files = (
            sum(x) for x in zip(*(_dir_bytes_files(os.path.join(wh, d)) for d in ("tiles", "_meta")))
        )
        # write_amp counts every byte on disk (checkpoint stage copies,
        # _jobs and _meta tables included) against the tile payload
        return Op("ingest", dt, ok, work=n_tiles, cpu_s=cpu, extra={
            "write_amp": size / payload if payload else 0.0,
            "core.codecs.bytes_per_pixel": base_payload / (n_tiles * 256 * 256) if n_tiles else 0.0,
            "checkpoint.files_written": ckpt_files,
            "sources.iceberg_shape.write_tiles.files_written": ice_files,
            "sources.iceberg_shape.write_tiles.bytes_written": ice_bytes,
        })

    def _check(self, spark, wh, n_tiles):
        from pyspark.sql import functions as F

        tiles = spark.read.parquet(os.path.join(wh, "tiles")).where("layer = 'images'")
        per_zoom = {
            r["zoom"]: (r["n"], r["b"])
            for r in tiles.groupBy("zoom").agg(
                F.count("*").alias("n"), F.sum(F.length("tile")).alias("b")
            ).collect()
        }
        ok = n_tiles == self.expect[self.zoom] and all(
            per_zoom.get(z, (0, 0))[0] == n for z, n in self.expect.items()
        )
        keys = list(self.check_px)
        cond = " OR ".join(f"(key_col = {c} AND key_row = {r})" for c, r in keys)
        got = tiles.where(f"zoom = {self.zoom} AND ({cond})").select(
            "key_col", "key_row", "tile", "fmt"
        ).collect()
        ok = ok and len(got) == len(keys)
        for row in got:
            px = codecs.decode_tile(bytes(row["tile"]), 256, 256, row["fmt"])
            ok = ok and np.array_equal(px, self.check_px[(row["key_col"], row["key_row"])])
        payload = sum(int(b) for _n, b in per_zoom.values())
        return ok, payload, int(per_zoom.get(self.zoom, (0, 0))[1])

    def plans(self, ctx) -> dict[str, str]:
        spark = ctx.spark
        imgs = spark.read.parquet(self.images_path)
        t = tiling.tile_images(imgs, self.zoom, 256, 8, layer="images", fmt="png")
        return {"tile_images": _explain(t), "pyramid_up": _explain(tiling.pyramid_up(t, self.zoom, 256))}

    def report(self, ops: list[Op]) -> dict:
        tiles = sum(o.work for o in ops)
        wall = sum(o.seconds for o in ops)
        return {
            "ingest.tiles_per_s": (tiles / wall, "tiles/s"),
            "ingest.write_amp": (float(np.median([o.extra["write_amp"] for o in ops])), "ratio"),
        }


# --------------------------------------------------------- spatial_query

KINDS = ("range", "stored_range", "pip", "knn", "vector_join", "layer_join", "zonal")
_QUERY = {
    "range": "range_query", "pip": "pip_grid", "knn": "knn",
    "vector_join": "vector_join", "layer_join": "layer_join", "zonal": "zonal_stats",
}


class SpatialQuery:
    name = "spatial_query"
    n_stored_images = 100
    stored_zoom = 7

    def stage(self, seed: int, d: str) -> None:
        self.seed, self.tables = seed, d
        self.ordinals = inputs.image_window(seed, self.n_stored_images)
        inputs.stage({
            "events": inputs.events(seed), "nation": inputs.nation(seed),
            "customer": inputs.customer(seed), "orders": inputs.orders(seed),
        }, d)

    def prepare(self, ctx) -> None:
        spark = ctx.spark
        # the session default (128-row batches) is sized for image rows;
        # these queries move small rows, as in bench.py
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        t = time.perf_counter()
        con = duckdb.connect()
        for name in ("events", "nation", "customer", "orders"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.tables}/{name}.parquet')"
            )
        self.want = {k: con.execute(dq.QUERIES[q][1]()).df() for k, q in _QUERY.items()}
        con.close()
        t = _mark("oracles", t)
        # the stored layer the stored_range queries read: painted tiles
        # in write_tiles' layout, staged without Spark (the write path is
        # what the ingest workload measures)
        self.wh = os.path.join(ctx.work, "layer")
        self.table_files = inputs.stage_layer(
            self.wh, self.ordinals, self.stored_zoom, checks.paint_tile
        )
        rng = np.random.default_rng(self.seed)
        lon0, lat0 = rng.uniform(-180, 90), rng.uniform(-85, 40)
        self.rect = (lon0, lat0, lon0 + 90.0, lat0 + 45.0)
        n = 1 << self.stored_zoom
        c0, c1 = (int(np.clip(np.floor((x + 180.0) / 360.0 * n), 0, n - 1))
                  for x in (self.rect[0], self.rect[2]))
        r0, r1 = (int(np.clip(np.floor((90.0 - y) / 180.0 * n), 0, n - 1))
                  for y in (self.rect[3], self.rect[1]))
        self.want_stored = {
            (c, r) for c, r in checks.tile_cover(self.ordinals, self.stored_zoom)
            if c0 <= c <= c1 and r0 <= r <= r1
        }
        t = _mark("stored layer", t)
        # warm-up: every query once on small tables of the same shape,
        # then the stored-layer query (the layer is already small)
        warm = os.path.join(ctx.work, "warm", self.name)
        inputs.stage({
            "events": inputs.events(self.seed, 2_000), "nation": inputs.nation(self.seed),
            "customer": inputs.customer(self.seed), "orders": inputs.orders(self.seed),
        }, warm)
        calls = [lambda q=q: dq.QUERIES[q][0](spark, warm).toPandas() for q in _QUERY.values()]
        stored = []
        calls.append(lambda: stored.append(self._run(ctx, "stored_range")))
        _concurrently(*calls)
        if not stored[0].ok:
            raise RuntimeError("warm-up stored_range query returned a wrong result")
        _mark("warm-up", t)
        self.order = []

    def next_kind(self, i: int) -> str:
        if not self.order:  # a fresh seeded permutation per cycle
            rng = np.random.default_rng([self.seed, i])
            self.order = list(rng.permutation(KINDS))
        return self.order.pop()

    def cycle_done(self) -> bool:
        return not self.order

    def _query(self, spark, kind):
        if kind == "stored_range":
            layer = ice.read_tiles(spark, self.wh, layer="images", zoom=self.stored_zoom)
            return spatial.cell_range_filter(layer, self.stored_zoom, *self.rect).select(
                "key_col", "key_row"
            )
        return dq.QUERIES[_QUERY[kind]][0](spark, self.tables)

    def _run(self, ctx, kind) -> Op:
        with ctx.tracer.span(f"op:{kind}") as s:
            c0, t0 = ctx.cpu(), time.perf_counter()
            got = self._query(ctx.spark, kind).toPandas()
            dt, cpu = time.perf_counter() - t0, ctx.cpu() - c0
            s.attrs.update(rows=len(got), table_files=self.table_files)
        if kind == "stored_range":
            ok = set(zip(got["key_col"].tolist(), got["key_row"].tolist())) == self.want_stored
            ok = ok and len(got) == len(self.want_stored)
        else:
            ok = checks.same_rows(got, self.want[kind])
        return Op(kind, dt, ok, work=1, cpu_s=cpu, extra={"rows": len(got)})

    def run_op(self, ctx, kind: str) -> Op:
        return self._run(ctx, kind)

    def plans(self, ctx) -> dict[str, str]:
        return {k: _explain(self._query(ctx.spark, k)) for k in KINDS}

    def report(self, ops: list[Op]) -> dict:
        wall = sum(o.seconds for o in ops)
        lat = sorted(o.seconds for o in ops)

        def p50(kinds):
            xs = [o.seconds for o in ops if o.kind in kinds]
            return float(np.median(xs)) if xs else float("nan")

        # the highest percentile with at least ten samples beyond it. A
        # run needs more than ten queries for one: one cycle is seven
        # queries, so a run of one cycle prints nan (``--seconds 20``
        # runs about three cycles)
        tail_q = max(0.0, 1.0 - 10.0 / len(lat))
        tail = float(np.quantile(lat, tail_q)) if len(lat) > 10 else float("nan")
        pip = [o for o in ops if o.kind == "pip"]
        return {
            "spatial_query.queries_per_s": (len(ops) / wall, "queries/s"),
            "spatial_query.latency_tail_s": (tail, "s"),
            "spatial_query.latency_tail_pct": (100 * tail_q, "%"),
            "spatial_query.latency_samples": (len(lat), "count"),
            "spatial_query.range_p50_s": (p50({"range"}), "s"),
            "spatial_query.stored_range_p50_s": (p50({"stored_range"}), "s"),
            "spatial_query.knn_p50_s": (p50({"knn"}), "s"),
            "spatial_query.join_p50_s": (p50({"vector_join", "layer_join"}), "s"),
            "spatial_query.zonal_p50_s": (p50({"zonal"}), "s"),
            "spatial_query.pip_rows_per_s": (
                sum(o.extra["rows"] for o in pip) / sum(o.seconds for o in pip) if pip else float("nan"),
                "rows/s",
            ),
        }


# ---------------------------------------------------------------- curate

class Curate:
    name = "curate"
    per_stratum = 80
    semdedup_threshold = 350  # the driver query's threshold (dq.q_semdedup)

    def stage(self, seed: int, d: str) -> None:
        self.seed, self.tables = seed, d
        inputs.stage({
            "documents": inputs.documents(seed),
            "embeddings": inputs.embeddings(seed),
        }, d)

    def _expect(self) -> None:
        """Expected stage counts and semdedup rows, from the DuckDB twins."""
        con = duckdb.connect()
        for name in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.tables}/{name}.parquet')"
            )
        self.want_counts = checks.curate_counts(con, self.per_stratum)
        self.want_sem = con.execute(
            similarity.semdedup_sql(threshold_milli=self.semdedup_threshold)
        ).df()
        con.close()

    def prepare(self, ctx) -> None:
        t0 = time.perf_counter()
        # warm-up: the same two calls over a small corpus, side by side
        # with each other and with the expected outputs, which DuckDB
        # computes in the client meanwhile. 150 consecutive vector ids
        # hold at least two of semdedup's centroids (ids divisible by
        # its stride, 61); with none, semdedup fails.
        warm = os.path.join(ctx.work, "warm", self.name)
        inputs.stage({
            "documents": inputs.documents(self.seed, 100),
            "embeddings": inputs.embeddings(self.seed, 150),
        }, warm)
        _concurrently(
            self._expect,
            lambda: self._curate(ctx.spark, warm),
            lambda: self._semdedup(ctx.spark, warm).toPandas(),
        )
        _mark("expected outputs and warm-up", t0)

    def next_kind(self, i: int) -> str:
        return "curate"

    def _curate(self, spark, tables: str):
        docs = spark.read.parquet(os.path.join(tables, "documents.parquet"))
        return curation.curate(spark, docs, self.per_stratum, salt=self.seed)

    def _semdedup(self, spark, tables: str):
        emb = spark.read.parquet(os.path.join(tables, "embeddings.parquet"))
        return similarity.semdedup(emb, threshold_milli=self.semdedup_threshold, dim=inputs.EMB_DIM)

    def run_op(self, ctx, kind: str) -> Op:
        with ctx.tracer.span("op:curate"):
            c0, t0 = ctx.cpu(), time.perf_counter()
            curated, stats = self._curate(ctx.spark, self.tables)
            with ctx.tracer.span("phase.semdedup"):
                sem_df = self._semdedup(ctx.spark, self.tables)
                got = sem_df.toPandas()
            dt, cpu = time.perf_counter() - t0, ctx.cpu() - c0
        self.last_plans = (curated, sem_df)
        ok = {k: stats.get(k) for k in self.want_counts} == self.want_counts
        ok = ok and checks.same_rows(got, self.want_sem)
        extra = {}
        if ctx.tracer.enabled:
            # candidate pairs are a lazy plan inside curate; count them
            # afterwards, outside the operation's span
            with ctx.tracer.span("aux"):
                extra["operators.dedup.minhash_candidates.pairs_out"] = sum(
                    s.attrs.pop("_result").count() for s in ctx.tracer.spans
                    if "_result" in s.attrs
                )
        return Op("curate", dt, ok, work=stats["input"], cpu_s=cpu, extra=extra)

    def plans(self, ctx) -> dict[str, str]:
        curated, sem = self.last_plans
        return {"curate": _explain(curated), "semdedup": _explain(sem)}

    def report(self, ops: list[Op]) -> dict:
        docs = sum(o.work for o in ops)
        wall = sum(o.seconds for o in ops)
        return {
            "curate.docs_per_s": (docs / wall, "docs/s"),
        }


# ---------------------------------------------------------------- batch

class Batch:
    """The engine's two batch jobs in one session: each cycle runs an
    ingest job, then a curation pass. One session for both pays the
    session start and the warm-up (run side by side) once. On a 4-vCPU
    VM a batch run took about 65 s against about 90 s for an ingest run
    plus a curate run, which keeps a pass over many seeds short."""

    name = "batch"
    kinds = ("ingest", "curate")

    def __init__(self):
        self.parts = {"ingest": Ingest(), "curate": Curate()}
        self.last = None

    def stage(self, seed: int, d: str) -> None:
        for kind, part in self.parts.items():
            part.stage(seed, os.path.join(d, kind))

    def prepare(self, ctx) -> None:
        _concurrently(*(lambda p=p: p.prepare(ctx) for p in self.parts.values()))

    def next_kind(self, i: int) -> str:
        return self.kinds[i % len(self.kinds)]

    def cycle_done(self) -> bool:
        return self.last == self.kinds[-1]

    def run_op(self, ctx, kind: str) -> Op:
        self.last = kind
        return self.parts[kind].run_op(ctx, kind)

    def plans(self, ctx) -> dict[str, str]:
        return {k: v for p in self.parts.values() for k, v in p.plans(ctx).items()}

    def report(self, ops: list[Op]) -> dict:
        out = {}
        for kind, part in self.parts.items():
            mine = [o for o in ops if o.kind == kind]
            if mine:
                out.update(part.report(mine))
        return out


WORKLOADS = {w.name: w for w in (Ingest, SpatialQuery, Curate, Batch)}
