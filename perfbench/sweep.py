"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py [--workloads batch spatial_query] \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--seconds S] [--trace 0|1] [--out FILE]

For every workload and metric (those of the result line and the
workload's own metrics printed before it) it prints the median, the first and third
quartiles (``statistics.quantiles(values, n=4)``) and the spread
(third minus first quartile, as a share of the median), and flags a
spread above a third of the metric's bound in BENCHMARK.json. With
``--out`` it also writes the table as markdown (the baseline record).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.time() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    # the lines before the result give the workload's own metrics
    named = {}
    for line in lines[:-1]:
        name, value, unit = line.split()
        named[name] = {"value": float(value), "unit": unit}
    return json.loads(lines[-1]), named, wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    lines = []
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        walls, bad = [], 0
        for seed in args.seeds:
            res, named, wall = run_once(w, seed, args.seconds, args.trace)
            walls.append(wall)
            bad += res["failed"] + (not res["correct"])
            for k, v in {**res["metrics"], **named}.items():
                values.setdefault(k, []).append(v["value"])
                units[k] = v["unit"]
            print(f"# {w} seed {seed}: {wall:.1f}s wall, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                              if k in bounds or args.trace),
                  file=sys.stderr, flush=True)
        lines.append(f"\n### {w} ({len(args.seeds)} seeds, run wall median "
                     f"{statistics.median(walls):.1f}s, failed or incorrect: {bad})\n")
        lines.append("| metric | unit | median | q1 | q3 | spread | bound |")
        lines.append("|---|---|---|---|---|---|---|")
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(k)
            flag = " !" if b is not None and spread > b / 3 else ""
            lines.append(f"| {k} | {units[k]} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                         f"{spread:.3f}{flag} | {b if b is not None else ''} |")
        print("\n".join(lines[-(len(values) + 3):]), flush=True)
    if args.out:
        import pyspark

        head = (f"nproc {len(os.sched_getaffinity(0))}, Spark {pyspark.__version__}, "
                f"Python {platform.python_version()}, run_seconds {args.seconds}, "
                f"trace {args.trace}, seeds {args.seeds}")
        with open(args.out, "w") as fh:
            fh.write(head + "\n" + "\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
