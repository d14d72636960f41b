"""Self-test of the traced run and its event-log parser.

    python3 perfbench/selftest.py [workload ...]

Runs ``run.py --trace 1 --seconds 1`` for each workload (default: those
in BENCHMARK.json) and checks, from the run's ``layers.json`` and Spark event log:

- BENCHMARK.json lists exactly the per-layer metrics ``layers.PER_LAYER``
  defines, with the same units and directions;
- the traced run reports every one of them, and no Python worker time
  exceeds the task time it is counted in;
- the parser's numbers reconcile with the client's clock: every task of
  an operation's job groups ran inside the operation's span, the job
  groups' first-submit-to-last-end walls fit inside their spans, and
  the task time never exceeds what the cores could do in the span's
  wall (each within about 10%, plus 100 ms of clock granularity).

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402

SLACK_S = 0.1
SLACK_FRAC = 0.10


def check(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        raise SystemExit(1)


def check_registry() -> list[str]:
    """Returns the workloads BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    check(listed == layers.PER_LAYER, "BENCHMARK.json per_layer == layers.PER_LAYER")
    return [w["name"] for w in bench["workloads"]]


def check_run(workload: str) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    check(proc.returncode == 0, f"{workload}: traced run exits 0")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    check(result["correct"] and result["failed"] == 0, f"{workload}: outputs correct")
    missing = set(layers.PER_LAYER) - set(result["metrics"])
    check(not missing, f"{workload}: every per-layer metric reported {sorted(missing) or ''}")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # Python time is counted inside tasks, so no python.* time can
    # exceed the task time it is part of
    for k in sorted(k for k in m if k.startswith("python.") and k.endswith("_s")):
        check(m[k] <= m["spark.task_s"] * (1 + SLACK_FRAC) + SLACK_S,
              f"{workload}: {k} {m[k]:.2f}s <= spark.task_s {m['spark.task_s']:.2f}s")

    out = os.path.join(ROOT, ".perfbench_work", "trace", workload)
    with open(os.path.join(out, "layers.json")) as fh:
        traced = json.load(fh)
    cores = traced["cores"]
    spans = [layers.Span(s["id"], s["name"], s["parent"], s["t0"], s["t1"], s["attrs"])
             for s in traced["spans"]]
    by_id = {s.sid: s for s in spans}
    log = layers.parse_event_log(os.path.join(out, "eventlog"))
    check(len(log.tasks) > 0, f"{workload}: event log has tasks ({len(log.tasks)})")
    ops = [s for s in spans if s.name.startswith("op:")]
    check(len(ops) > 0, f"{workload}: operations traced ({len(ops)})")

    for op in ops:
        groups = layers.subtree(spans, op)
        tasks = [t for t in log.tasks if t.group in groups]
        wall = op.t1 - op.t0
        inside = all(
            t.launch >= by_id[t.group].t0 - SLACK_S and t.finish <= by_id[t.group].t1 + SLACK_S
            for t in tasks
        )
        check(inside, f"{workload} {op.name}: {len(tasks)} tasks inside their spans")
        busy = sum(t.finish - t.launch for t in tasks)
        check(busy <= cores * wall * (1 + SLACK_FRAC) + SLACK_S,
              f"{workload} {op.name}: task time {busy:.2f}s <= {cores} cores x {wall:.2f}s")
        covered = layers.covered(
            [(t.launch, t.finish) for t in tasks], float("-inf"), float("inf")
        )
        check(covered <= wall * (1 + SLACK_FRAC) + SLACK_S,
              f"{workload} {op.name}: busy wall {covered:.2f}s <= span wall {wall:.2f}s")
    for g, (a, b) in layers.job_wall_by_group(log).items():
        s = by_id.get(g)
        if s is None or not any(g in layers.subtree(spans, op) for op in ops):
            continue
        check(b - a <= (s.t1 - s.t0) * (1 + SLACK_FRAC) + SLACK_S,
              f"{workload} {s.name}: jobs' wall {b - a:.2f}s fits span {s.t1 - s.t0:.2f}s")


def main() -> int:
    listed = check_registry()
    for w in sys.argv[1:] or listed:
        check_run(w)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
