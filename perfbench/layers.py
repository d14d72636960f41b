"""Traced runs: spans around calls into the engine's layers, one Spark
job group per span, and a parser for Spark's uncompressed event log.

The benchmark measures the engine from outside. In a traced run it
wraps public functions of the engine's modules (and pyspark's
``DataFrameWriter.parquet``, to see the data writes inside
``checkpointed_stage``) so that each call records a span and runs its
Spark jobs under a job group named after the span. No engine file
changes. After the session stops, the event log gives each span its
jobs, stages and tasks; ``layer_metrics`` turns them into the
per-layer metrics listed in BENCHMARK.json.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# (module, attribute, span name) wrapped in a traced run. Callers reach
# these through the module attribute, so wrapping the attribute is seen
# by the engine's own internal calls too.
WRAPPED = [
    ("geotrellis_spark.checkpoint", "checkpointed_stage", "checkpoint.checkpointed_stage"),
    ("geotrellis_spark.checkpoint", "write_lineage", "checkpoint.write_lineage"),
    ("geotrellis_spark.checkpoint", "write_metric", "checkpoint.write_metric"),
    ("geotrellis_spark.checkpoint", "completed_buckets", "checkpoint.completed_buckets"),
    ("geotrellis_spark.checkpoint", "_append", "checkpoint.append"),
    ("geotrellis_spark.sources.iceberg_shape", "write_tiles", "sources.iceberg_shape.write_tiles"),
    ("geotrellis_spark.sources.iceberg_shape", "_write_snapshot", "sources.iceberg_shape.snapshot"),
    ("geotrellis_spark.sources.iceberg_shape", "read_tiles", "sources.iceberg_shape.read_tiles"),
    ("geotrellis_spark.sources.iceberg_shape", "collect_metadata", "sources.iceberg_shape.collect_metadata"),
    ("geotrellis_spark.sources.iceberg_shape", "write_layer_metadata", "sources.iceberg_shape.write_layer_metadata"),
    ("geotrellis_spark.operators.tiling", "tile_images", "operators.tiling.tile_images"),
    ("geotrellis_spark.operators.tiling", "pyramid_up", "operators.tiling.pyramid_up"),
    ("geotrellis_spark.operators.spatial", "assign_cells", "operators.spatial.assign_cells"),
    ("geotrellis_spark.operators.spatial", "pip_join", "operators.spatial.pip_join"),
    ("geotrellis_spark.operators.spatial", "knn_join", "operators.spatial.knn_join"),
    ("geotrellis_spark.operators.spatial", "vector_join", "operators.spatial.vector_join"),
    ("geotrellis_spark.operators.spatial", "cell_range_filter", "operators.spatial.cell_range_filter"),
    ("geotrellis_spark.operators.dedup", "exact_dedup", "operators.dedup.exact_dedup"),
    ("geotrellis_spark.operators.dedup", "minhash_dedup", "operators.dedup.minhash_candidates"),
    ("geotrellis_spark.operators.dedup", "dedup_clusters", "operators.dedup.dedup_clusters"),
    ("geotrellis_spark.operators.similarity", "semdedup", "operators.similarity.semdedup"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "pyspark.write.parquet"),
]

# spans whose returned (lazy) DataFrame the workload evaluates after the
# operation, to count a layer's output without changing the operation
KEEP_RESULT = {"operators.dedup.minhash_candidates"}

PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")

# every per-layer metric a traced run reports: name -> (unit, better).
# A layer the workload does not call reports 0.
PER_LAYER = {
    "spark.task_s": ("s", "lower"),
    "spark.cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.idle_core_frac": ("ratio", "lower"),
    "spark.driver_serial_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.peak_heap_mb": ("MB", "lower"),
    "python.worker_s": ("s", "lower"),
    "python.start_s": ("s", "lower"),
    "python.bytes_sent": ("B", "lower"),
    "python.bytes_returned": ("B", "lower"),
    **{f"python.{n}.worker_s": ("s", "lower") for n in PY_NODES},
    "operators.tiling.tile_images.exec_s": ("s", "lower"),
    "operators.tiling.pyramid_up.exec_s": ("s", "lower"),
    "checkpoint.checkpointed_stage.s": ("s", "lower"),
    "checkpoint.overhead_s": ("s", "lower"),
    "checkpoint.jobs": ("count", "lower"),
    "checkpoint.files_written": ("count", "lower"),
    "sources.iceberg_shape.write_tiles.s": ("s", "lower"),
    "sources.iceberg_shape.write_tiles.snapshot_s": ("s", "lower"),
    "sources.iceberg_shape.write_tiles.files_written": ("count", "lower"),
    "sources.iceberg_shape.write_tiles.bytes_written": ("B", "lower"),
    "sources.iceberg_shape.read_tiles.files_read_frac": ("ratio", "lower"),
    "core.codecs.bytes_per_pixel": ("B/px", "lower"),
    "operators.spatial.pip_join.plan_s": ("s", "lower"),
    "operators.spatial.pip_join.exec_s": ("s", "lower"),
    "operators.spatial.pip_join.refine_rows_in": ("count", "lower"),
    "operators.spatial.pip_join.refine_hit_ratio": ("ratio", "higher"),
    "operators.spatial.assign_cells.python_s": ("s", "lower"),
    "operators.spatial.knn_join.jobs": ("count", "lower"),
    "operators.dedup.minhash_candidates.pairs_out": ("count", "lower"),
    "operators.dedup.dedup_clusters.jobs": ("count", "lower"),
    "operators.similarity.semdedup.exec_s": ("s", "lower"),
    "operators.similarity.semdedup.python_s": ("s", "lower"),
    # the traced loop's median operation time: against the untraced
    # op_p50_s it gives the tracing overhead
    "run.op_p50_s": ("s", "lower"),
}

# per-layer metrics the workloads measure themselves (files on disk,
# decoded payloads, counted candidate pairs), averaged over operations
OP_EXTRA_METRICS = (
    "checkpoint.files_written",
    "sources.iceberg_shape.write_tiles.files_written",
    "sources.iceberg_shape.write_tiles.bytes_written",
    "core.codecs.bytes_per_pixel",
    "operators.dedup.minhash_candidates.pairs_out",
)


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    enabled = False
    spans: list[Span] = []

    def span(self, name: str, **attrs):
        return _NullCtx()


class _NullCtx:
    def __enter__(self) -> Span:
        return Span("", "", None, 0.0)

    def __exit__(self, *exc) -> None:
        pass


class Tracer:
    """Span stack for the client thread. Each span's id is also the
    Spark job group of every job submitted while it is innermost."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def _enter(self, name, attrs) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.sid, name)
        return s

    def _exit(self, s: Span) -> None:
        s.t1 = time.time()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].sid, self._stack[-1].name)
        else:
            self.sc.setJobGroup("untraced", "untraced")

    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls, leaf = attr.split(".")
                owner = getattr(mod, cls)
            orig = getattr(owner, leaf)
            setattr(owner, leaf, self._wrap(orig, span_name))
            self._patched.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()

    def _wrap(self, fn, span_name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if "stage" in kwargs:  # checkpointed_stage's stage label
                attrs["stage"] = kwargs["stage"]
            with tracer.span(span_name, **attrs) as s:
                result = fn(*args, **kwargs)
                if span_name in KEEP_RESULT:
                    s.attrs["_result"] = result
                return result

        return wrapper


class _SpanCtx:
    def __init__(self, tracer, name, attrs):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        self.s = self.tracer._enter(self.name, self.attrs)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.s)


# ----------------------------------------------------------- event log

@dataclass
class Task:
    stage: int
    group: str | None
    launch: float  # epoch seconds
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    accums: list  # (accumulator id, metric name, update)


@dataclass
class EventLog:
    tasks: list[Task]
    job_group: dict[int, str | None]          # job id -> group
    job_time: dict[int, tuple[float, float]]  # job id -> (submit, end)
    accum_node: dict[int, str]                # accumulator id -> plan node
    driver_accums: list[tuple[str | None, str, str, int]]  # group, node, metric, value
    stage_heap: dict[int, int]                # stage id -> peak JVM heap bytes


def _event_files(log_dir: str) -> list[str]:
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if files:  # rolling log: events_<n>_<app id>
        return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = (info.get("nodeName", ""), m["name"])
    for c in info.get("children", []):
        _plan_metrics(c, out)


def parse_event_log(log_dir: str) -> EventLog:
    files = _event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    job_group: dict[int, str | None] = {}
    job_time: dict[int, list] = {}
    job_exec: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    metric_of: dict[int, tuple[str, str]] = {}
    raw_tasks = []
    raw_driver = []
    stage_heap: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerTaskEnd":
                    raw_tasks.append(e)
                elif ev == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id")
                    if "spark.sql.execution.id" in props:
                        job_exec[jid] = int(props["spark.sql.execution.id"])
                    job_time[jid] = [e["Submission Time"] / 1000.0, None]
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                elif ev == "SparkListenerJobEnd":
                    job_time[e["Job ID"]][1] = e["Completion Time"] / 1000.0
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(e["sparkPlanInfo"], metric_of)
                elif ev.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                    for m in e.get("sqlPlanMetrics", []):
                        metric_of.setdefault(int(m["accumulatorId"]), ("", m["name"]))
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    raw_driver.append(e)
                elif ev == "SparkListenerStageExecutorMetrics":
                    heap = int(e["Executor Metrics"].get("JVMHeapMemory", 0))
                    stage_heap[e["Stage ID"]] = max(stage_heap.get(e["Stage ID"], 0), heap)
    exec_group = {x: job_group.get(j) for j, x in job_exec.items()}
    tasks = []
    for e in raw_tasks:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        accums = []
        for a in info.get("Accumulables", []):
            aid = int(a["ID"])
            name = a.get("Name") or metric_of.get(aid, ("", ""))[1]
            try:
                upd = int(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            accums.append((aid, name, upd))
        tasks.append(Task(
            stage=e["Stage ID"],
            group=job_group.get(stage_job.get(e["Stage ID"], -1)),
            launch=info["Launch Time"] / 1000.0,
            finish=info["Finish Time"] / 1000.0,
            run_s=m.get("Executor Run Time", 0) / 1000.0,
            cpu_s=m.get("Executor CPU Time", 0) / 1e9,
            gc_s=m.get("JVM GC Time", 0) / 1000.0,
            shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
            shuffle_read=int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0)),
            spill=int(m.get("Disk Bytes Spilled", 0)),
            accums=accums,
        ))
    driver = []
    for e in raw_driver:
        g = exec_group.get(int(e["executionId"]))
        for aid, val in e["accumUpdates"]:
            node, name = metric_of.get(int(aid), ("", ""))
            driver.append((g, node, name, int(val)))
    return EventLog(
        tasks, job_group,
        {j: (t[0], t[1] if t[1] is not None else t[0]) for j, t in job_time.items()},
        {a: n for a, (n, _m) in metric_of.items()}, driver, stage_heap,
    )


# ----------------------------------------------------- per-layer metrics

def subtree(spans: list[Span], root: Span) -> set[str]:
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = set(), [root.sid]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, []))
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(log: EventLog, spans: list[Span], ops: list[Span], cores: int) -> dict:
    """Per-layer metrics over the measured operations ``ops`` (top-level
    spans of the timed loop). Spark and Python totals are per operation;
    a layer's own metrics are per operation that called the layer. A
    layer the workload never calls reports 0."""
    by_sid = {s.sid: s for s in spans}
    groups_of_op = {op.sid: subtree(spans, op) for op in ops}
    all_groups = set().union(*groups_of_op.values()) if ops else set()
    tasks = [t for t in log.tasks if t.group in all_groups]
    n_ops = max(len(ops), 1)
    wall = sum(op.t1 - op.t0 for op in ops)

    def tasks_in(groups):
        return [t for t in tasks if t.group in groups]

    def accum(ts, metric, node=None):
        return sum(
            u for t in ts for aid, name, u in t.accums
            if name == metric and (node is None or log.accum_node.get(aid, "").startswith(node))
        )

    def jobs_in(groups):
        return sum(1 for g in log.job_group.values() if g in groups)

    m: dict[str, float] = {}
    task_s = sum(t.run_s for t in tasks)
    m["spark.task_s"] = task_s / n_ops
    m["spark.cpu_s"] = sum(t.cpu_s for t in tasks) / n_ops
    m["spark.gc_s"] = sum(t.gc_s for t in tasks) / n_ops
    m["spark.idle_core_frac"] = 1.0 - task_s / (wall * cores) if wall > 0 else 0.0
    serial = 0.0
    for op in ops:
        ts = tasks_in(groups_of_op[op.sid])
        serial += (op.t1 - op.t0) - covered([(t.launch, t.finish) for t in ts], op.t0, op.t1)
    m["spark.driver_serial_s"] = serial / n_ops
    m["spark.shuffle_write_bytes"] = sum(t.shuffle_write for t in tasks) / n_ops
    m["spark.shuffle_read_bytes"] = sum(t.shuffle_read for t in tasks) / n_ops
    m["spark.spill_bytes"] = sum(t.spill for t in tasks) / n_ops
    skew = 0.0
    stages: dict[int, list[float]] = {}
    for t in tasks:
        stages.setdefault(t.stage, []).append(t.finish - t.launch)
    for durs in stages.values():
        # a stage of a few millisecond tasks has no skew worth reporting
        if len(durs) >= 2 and max(durs) >= 0.1:
            skew = max(skew, max(durs) / max(statistics.median(durs), 1e-3))
    m["spark.task_skew"] = skew
    m["spark.peak_heap_mb"] = max((log.stage_heap.get(st, 0) for st in stages), default=0) / 2**20
    m["python.worker_s"] = accum(tasks, "time to run Python workers") / 1000.0 / n_ops
    # worker start-up; Spark's "time to initialize Python workers" is not
    # used: a reused worker's count includes the time it sat idle
    m["python.start_s"] = accum(tasks, "time to start Python workers") / 1000.0 / n_ops
    m["python.bytes_sent"] = accum(tasks, "data sent to Python workers") / n_ops
    m["python.bytes_returned"] = accum(tasks, "data returned from Python workers") / n_ops
    for node in PY_NODES:
        m[f"python.{node}.worker_s"] = (
            accum(tasks, "time to run Python workers", node) / 1000.0 / n_ops
        )

    def named(name, within=None):
        out = [s for s in spans if s.name == name and s.sid in all_groups]
        if within is not None:
            out = [s for s in out if s.sid in within]
        return out

    def n_calling(layer_spans):
        sids = {s.sid for s in layer_spans}
        return max(sum(1 for op in ops if sids & groups_of_op[op.sid]), 1)

    # checkpoint: the stage span, its own data write, everything else
    cps = named("checkpoint.checkpointed_stage")
    data_writes = {
        cp.sid: [s for s in spans if s.parent == cp.sid and s.name == "pyspark.write.parquet"]
        for cp in cps
    }
    n_cp = n_calling(cps)
    m["checkpoint.checkpointed_stage.s"] = sum(s.t1 - s.t0 for s in cps) / n_cp
    m["checkpoint.overhead_s"] = sum(
        (cp.t1 - cp.t0) - sum(w.t1 - w.t0 for w in data_writes[cp.sid]) for cp in cps
    ) / n_cp
    m["checkpoint.jobs"] = sum(jobs_in(subtree(spans, cp)) for cp in cps) / n_cp

    def stage_exec(prefix):
        return sum(
            w.t1 - w.t0 for cp in cps if cp.attrs.get("stage", "").startswith(prefix)
            for w in data_writes[cp.sid]
        ) / n_cp

    m["operators.tiling.tile_images.exec_s"] = stage_exec("tile_")
    # a pyramid level runs inside the data write of its write_tiles call
    wts = named("sources.iceberg_shape.write_tiles")
    writes = {s.sid for s in wts}
    levels = named("phase.pyramid")
    m["operators.tiling.pyramid_up.exec_s"] = sum(
        s.t1 - s.t0 for s in spans
        if s.name == "pyspark.write.parquet" and s.parent in writes
        and by_sid[s.parent].parent in {lv.sid for lv in levels}
    ) / n_calling(levels)

    n_wt = n_calling(wts)
    m["sources.iceberg_shape.write_tiles.s"] = sum(s.t1 - s.t0 for s in wts) / n_wt
    m["sources.iceberg_shape.write_tiles.snapshot_s"] = sum(
        s.t1 - s.t0 for s in named("sources.iceberg_shape.snapshot")
    ) / n_wt

    # pip: driver time inside the call, execution of the returned plan
    pip_ops = [op for op in ops if op.name == "op:pip"]
    pips = [(op, named("operators.spatial.pip_join", groups_of_op[op.sid])) for op in pip_ops]
    m["operators.spatial.pip_join.plan_s"] = _mean(sum(s.t1 - s.t0 for s in ps) for _op, ps in pips)
    m["operators.spatial.pip_join.exec_s"] = _mean(
        (op.t1 - op.t0) - sum(s.t1 - s.t0 for s in ps) for op, ps in pips
    )
    refine_in = sum(
        accum(tasks_in(groups_of_op[op.sid]), "number of output rows", "ArrowEvalPython")
        for op in pip_ops
    )
    m["operators.spatial.pip_join.refine_rows_in"] = refine_in / max(len(pip_ops), 1)
    rows_out = sum(op.attrs.get("rows", 0) for op in pip_ops)
    m["operators.spatial.pip_join.refine_hit_ratio"] = rows_out / refine_in if refine_in else 0.0
    range_ops = [op for op in ops if op.name == "op:range"]
    m["operators.spatial.assign_cells.python_s"] = _mean(
        accum(tasks_in(groups_of_op[op.sid]), "time to run Python workers") / 1000.0
        for op in range_ops
    )
    m["operators.spatial.knn_join.jobs"] = _mean(
        jobs_in(subtree(spans, s)) for s in named("operators.spatial.knn_join")
    )
    stored = [op for op in ops if op.name == "op:stored_range"]
    read = sum(
        v for g, node, name, v in log.driver_accums
        if name == "number of files read" and any(g in groups_of_op[op.sid] for op in stored)
    )
    total = sum(op.attrs.get("table_files", 0) for op in stored)
    m["sources.iceberg_shape.read_tiles.files_read_frac"] = read / total if total else 0.0

    m["operators.dedup.dedup_clusters.jobs"] = _mean(
        jobs_in(subtree(spans, s)) for s in named("operators.dedup.dedup_clusters")
    )
    sems = named("phase.semdedup")
    m["operators.similarity.semdedup.exec_s"] = _mean(s.t1 - s.t0 for s in sems)
    m["operators.similarity.semdedup.python_s"] = _mean(
        accum(tasks_in(subtree(spans, s)), "time to run Python workers") / 1000.0
        for s in sems
    )
    return m


def job_wall_by_group(log: EventLog) -> dict[str, tuple[float, float]]:
    """First job submission and last job completion per job group."""
    out: dict[str, list[float]] = {}
    for jid, g in log.job_group.items():
        if g is None:
            continue
        t0, t1 = log.job_time[jid]
        lo_hi = out.setdefault(g, [t0, t1])
        lo_hi[0], lo_hi[1] = min(lo_hi[0], t0), max(lo_hi[1], t1)
    return {g: (a, b) for g, (a, b) in out.items()}
