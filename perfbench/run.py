"""Benchmark of the geotrellis_spark engine's three uses.

    python3 perfbench/run.py --workload {batch,spatial_query,ingest,curate} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One run is one fresh client process
with one fresh local Spark session (``local[nproc]``): workloads never
share a JVM. The run stages seeded inputs, computes the expected
outputs without Spark, warms the session, then runs operations of the
workload in a closed loop with one client for at least ``--seconds``
seconds (spatial_query and batch finish their current cycle).
Every operation's output is checked; a wrong output counts as failed.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: CPU seconds of the client, the driver JVM and its
  Python workers from the client's start to the end of set-up (session
  start, input staging, expected outputs, warm-up);
- ``peak_rss_mb``: their peak anonymous resident memory during the
  timed loop;
- ``op_cpu_s``: their CPU seconds per operation, the mean over the
  run's operations (spatial_query and batch runs end on a whole
  cycle of their operation kinds), leaving out the JVM's JIT compiler
  threads.

The times are CPU time because wall time on a shared host moves with
the other tenants' load (measured on a 4-vCPU VM sharing its host:
across ten runs the quartile spread of wall-clock set-up was 0.3-0.6
of its median, and 0.3-0.5 for queries/s and per-query latency). The
wall-clock metrics (set-up wall, operation p50, tiles/s, queries/s,
per-query-type p50s, tail, PIP rows/s, write amplification, failed
fraction) are printed by name and unit on the lines before the
result.

``--trace 1`` runs the same loop with spans around the engine's layers,
Spark's event log on, and reports per-layer metrics (BENCHMARK.json
lists both sets). The traced run also writes ``layers.json``, the spans
and the formatted physical plans under
``.perfbench_work/trace/<workload>/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark's own default driver heap rather than the engine's 12g: one
# benchmark run moves far less data than a production job
DRIVER_MEM = "1g"


class ProcessTree:
    """This client, the driver JVM and every process under it (the
    Python daemon and workers), read from /proc: peak memory and the
    JVM's JIT compiler CPU, sampled in a thread, and CPU seconds used
    so far."""

    def __init__(self, period: float = 0.25):
        self.period, self.peak, self.root = period, 0, None
        self.seen: set[int] = set()
        self._jit: dict[str, int] = {}  # compiler thread id -> CPU ticks last seen
        self._is_jit: dict[str, bool] = {}  # JVM thread id -> is a JIT compiler thread
        self._own = 0.0  # CPU seconds of the sampling thread itself
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._tick = os.sysconf("SC_CLK_TCK")

    def start(self) -> None:
        self._thread.start()

    def _tree(self) -> set[int]:
        if self.root is None:
            return set()
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(name))
        out, todo = set(), [self.root]
        while todo:
            pid = todo.pop()
            out.add(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> None:
        # anonymous resident memory (heaps, buffers, stacks) of the
        # client, the JVM and the Python processes under it, without
        # the shared libraries and jars they map. Other children are
        # helper commands the JVM spawns (chmod and the like): until
        # they exec they report the JVM's own memory, so they are
        # skipped. /proc/<pid>/status is cheap to read; the proportional
        # set size in smaps_rollup costs ~15 ms a read on the JVM, and
        # sampling with it took a tenth of a core.
        pids = self._tree() | {os.getpid()}
        self.seen |= pids - {os.getpid()}
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    status = fh.read()
            except OSError:
                continue
            name = status.split("\n", 1)[0].split()[-1]
            if pid in (self.root, os.getpid()) or name.startswith("python"):
                for line in status.splitlines():
                    if line.startswith("RssAnon:"):
                        total += int(line.split()[1]) * 1024
                        break
        self.peak = max(self.peak, total)

    def jit_seconds(self) -> float:
        """CPU seconds of the driver JVM's JIT compiler threads. Read at
        every sample, so a compiler thread the JVM retires loses at most
        one period of its time."""
        if self.root is None:
            return 0.0
        task = f"/proc/{self.root}/task"
        try:
            tids = os.listdir(task)
        except OSError:
            tids = []
        for tid in tids:
            if tid not in self._is_jit:
                try:
                    with open(f"{task}/{tid}/comm") as fh:
                        self._is_jit[tid] = fh.read().startswith(("C1 Compiler", "C2 Compiler"))
                except OSError:
                    continue
            if self._is_jit[tid]:
                try:
                    with open(f"{task}/{tid}/stat") as fh:
                        f = fh.read().rsplit(")", 1)[1].split()
                    self._jit[tid] = int(f[11]) + int(f[12])
                except (OSError, IndexError, ValueError):
                    continue
        # a copy: the sampling thread and the client both call this
        return sum(list(self._jit.values())) / self._tick

    def work_cpu_seconds(self) -> float:
        """CPU seconds so far without the JIT compiler's: compilation
        follows timing and how warm the JVM is, not the work done."""
        return self.cpu_seconds() - self.jit_seconds()

    def cpu_seconds(self) -> float:
        """User+system CPU of the client (less this sampler's thread)
        and the live session processes, including workers they have
        reaped. Unlike wall time it does not grow while the machine's
        other tenants hold the cores."""
        total = sum(os.times()[:4]) - self._own
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                total += sum(int(x) for x in f[11:15]) / self._tick
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()
            self.jit_seconds()
            self._own = time.thread_time()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def start_session(work: str, cores: int, trace_dir: str | None):
    from geotrellis_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": (
            # the engine's own options (session.get_spark), plus two
            # that keep the JVM's files inside the work directory: its
            # temp dir, and no hsperfdata file (always under /tmp)
            f"-Xms{DRIVER_MEM} -XX:MaxDirectMemorySize="
            + os.environ.get("SPARK_GRAFT_DIRECT_MEM", "24g")
            + f" -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
        })
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark, sampler: ProcessTree) -> None:
    """Stop Spark, then the driver JVM, and wait for every process of
    the session (JVM, Python daemon and workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    sampler.stop()
    deadline = time.time() + 20
    for pid in sampler.seen:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path[:0] = [ROOT, HERE]
    try:
        import layers as tr
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    # fresh scratch space for Spark and for anything that honours TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    trace_out = os.path.join(ROOT, ".perfbench_work", "trace", args.workload)
    if args.trace:
        shutil.rmtree(trace_out, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))

    sampler = ProcessTree()
    sampler.start()
    spark = None
    try:
        spark = start_session(work, cores, os.path.join(trace_out, "eventlog") if args.trace else None)
        from pyspark import SparkContext

        sampler.root = SparkContext._gateway.proc.pid
        session_s = time.perf_counter() - t_start

        wl = workloads.WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        wl.stage(args.seed, os.path.join(work, "inputs"))
        stage_s = time.perf_counter() - t0

        # set-up runs untraced: its warm-up calls run from parallel threads
        ctx = Ctx(spark, tr.NullTracer(), work, args.seed, sampler.work_cpu_seconds)
        t0 = time.perf_counter()
        wl.prepare(ctx)
        setup_cpu = sampler.cpu_seconds()
        tracer = ctx.tracer = tr.Tracer(spark.sparkContext) if args.trace else tr.NullTracer()
        if args.trace:
            tracer.install()
        setup_wall = time.perf_counter() - t_start
        print(f"# setup: session {session_s:.2f}s, staging {stage_s:.2f}s, "
              f"prepare {time.perf_counter() - t0:.2f}s; {setup_cpu:.2f} CPU s",
              file=sys.stderr)

        ops, op_spans = [], []
        sampler.peak = 0  # peak memory of the timed loop, not of the warm-up threads
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            kind = wl.next_kind(i)
            i += 1
            n_spans = len(tracer.spans)
            try:
                op = wl.run_op(ctx, kind)
            except Exception:  # a failing operation is counted, not fatal
                traceback.print_exc()
                op = workloads.Op(kind, float("nan"), False)
            ops.append(op)
            op_spans += [s for s in tracer.spans[n_spans:] if s.name.startswith("op:")]
            print(f"# op {i}: {kind} {op.seconds:.3f}s {'ok' if op.ok else 'WRONG'}",
                  file=sys.stderr)
            if time.perf_counter() >= deadline and getattr(wl, "cycle_done", lambda: True)():
                break
        plans = wl.plans(ctx) if args.trace else {}
        if args.trace:
            tracer.uninstall()
    finally:
        if spark is not None:
            stop_session(spark, sampler)
        else:
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    done = [o for o in ops if o.ok]
    failed = len(ops) - len(done)
    report = wl.report(done) if done else {}
    if args.trace:
        log = tr.parse_event_log(os.path.join(trace_out, "eventlog"))
        per_layer = tr.layer_metrics(log, tracer.spans, op_spans, cores)
        for name in tr.OP_EXTRA_METRICS:  # mean over the operations that measure it
            xs = [o.extra[name] for o in done if name in o.extra]
            per_layer[name] = statistics.fmean(xs) if xs else 0.0
        per_layer["run.op_p50_s"] = statistics.median(o.seconds for o in done or ops)
        metrics = {k: {"value": float(v), "unit": tr.PER_LAYER[k][0]} for k, v in per_layer.items()}
        os.makedirs(os.path.join(trace_out, "plans"), exist_ok=True)
        for name, text in plans.items():
            with open(os.path.join(trace_out, "plans", f"{name}.txt"), "w") as fh:
                fh.write(text)
        with open(os.path.join(trace_out, "layers.json"), "w") as fh:
            json.dump({
                "workload": args.workload, "seed": args.seed, "cores": cores,
                "metrics": metrics,
                "spans": [
                    {"id": s.sid, "name": s.name, "parent": s.parent, "t0": s.t0, "t1": s.t1,
                     "attrs": {k: v for k, v in s.attrs.items() if not k.startswith("_")}}
                    for s in tracer.spans
                ],
            }, fh, indent=1)
    else:
        secs = [o.seconds for o in done] or [float("nan")]
        metrics = {
            "setup_s": {"value": setup_cpu, "unit": "s"},
            "peak_rss_mb": {"value": sampler.peak / 2**20, "unit": "MB"},
            "op_cpu_s": {
                "value": statistics.fmean(o.cpu_s for o in done) if done else float("nan"),
                "unit": "s",
            },
        }
        print(f"{args.workload}.setup_wall_s {setup_wall:.4f} s")
        print(f"{args.workload}.peak_rss_mb {sampler.peak / 2**20:.1f} MB")
        print(f"{args.workload}.failed_frac {failed / len(ops):.4f} ratio")
        print(f"{args.workload}.op_p50_s {statistics.median(secs):.6g} s")
        for name, (value, unit) in report.items():
            print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics,
    }))
    return 0


class Ctx:
    def __init__(self, spark, tracer, work, seed, cpu):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.cpu = cpu  # () -> CPU seconds of the client and session so far, JIT excluded


if __name__ == "__main__":
    sys.exit(main())
