#!/usr/bin/env python3
"""Run the benchmark once per seed and summarize each end-to-end metric.

    python3 perfbench/spread.py --workload kg_serve --seeds 1-10
    python3 perfbench/spread.py --seeds 1-10 --trace-seed 11 \\
        --out perfbench/baseline.json

For every metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread — the distance
between the quartiles as a share of the median — next to the metric's
bound from ``BENCHMARK.json``. ``--trace-seed`` adds one traced run per
workload, whose per-layer metrics go into the summary. Runs are
sequential: two Spark processes at once would contend for the same cores.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int):
    """One benchmark run → (result object or None, wall seconds, the host
    conditions its report on standard error gives)."""
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        print(f"{workload} seed {seed}: exit {p.returncode}\n"
              f"{p.stderr[-3000:]}", file=sys.stderr)
        return None, wall, {}
    keys = ("steal_pct", "loadavg_1m", "ops", "op_s", "jvm_hwm_mb",
            "driver_maxrss_mb")
    cond = dict(line.split(None, 1) for line in p.stderr.splitlines()
                if line.split()[:1] and line.split()[0] in keys)
    return json.loads(lines[-1]), wall, cond


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--out", help="write the summary as JSON here")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {"host": {"cpus": len(os.sched_getaffinity(0)),
                        "machine": platform.machine(),
                        "python": platform.python_version()},
               "seconds": args.seconds, "seeds": args.seeds, "workloads": {}}
    ok = True
    for w in args.workload or [x["name"] for x in bench["workloads"]]:
        values, walls, conditions = {}, [], []
        for seed in seeds(args.seeds):
            res, wall, cond = run(w, seed, args.seconds, 0)
            walls.append(wall)
            conditions.append(cond)
            if res is None:
                ok = False
                continue
            ok &= res["correct"]
            print(f"{w} seed {seed}: {wall:.0f} s wall, correct="
                  f"{res['correct']}, {cond}, " + ", ".join(
                      f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
                  flush=True)
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        stats = {}
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            stats[k] = {"median": med, "q1": q1, "q3": q3,
                        "spread": (q3 - q1) / med, "bound": bounds[k],
                        "values": xs}
            print(f"  {k:<12} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
                  f"  spread {(q3 - q1) / med:.3f}  bound {bounds[k]}")
        print(f"  wall per run: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        summary["workloads"][w] = {"metrics": stats, "wall_s": walls,
                                   "conditions": conditions}
        if args.trace_seed is not None:
            res, wall, cond = run(w, args.trace_seed, args.seconds, 1)
            ok &= res is not None and res["correct"]
            if res is not None:
                summary["workloads"][w]["traced"] = {
                    "seed": args.trace_seed, "wall_s": wall,
                    "conditions": cond,
                    "per_layer": {k: m["value"]
                                  for k, m in res["metrics"].items()}}
                print(f"  traced seed {args.trace_seed}: {wall:.0f} s wall, "
                      f"overhead {res['metrics']['trace.overhead_pct']['value']:.1f} %")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
