#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload rml_convert --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run starts Spark as ``local[<cores>]``,
generates the workload's inputs from the seed (several times; the median
counts), builds what the operations need, warms up, then runs operations
in a closed loop — one client, the next operation starts when the previous
one returns — until ``--seconds`` of operation time are spent and the last
cycle of operations is whole.
Every operation's output is checked against a DuckDB oracle, outside the
timed region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first runs the
same loop untraced, then again with spans around the engine's public calls,
and reports the per-layer metrics plus the tracing overhead between the
two; the spans go to ``.perfbench_out/``. ``--corrupt`` alters one output
triple of every operation before its check, which must then fail.

The last line of standard output is the result object; the human-readable
report goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
MAX_RUN_S = 150          # a run never measures past this wall-clock mark
DRIVER_MEMORY = "1g"     # the host has 15 GB shared with other tenants
# the parallel collector: with G1's adaptive heap sizing the JVM high-water
# mark of identical runs varied by ±15 %, with this one by ±2 %. The client
# JIT only (C1): with the default tiered JIT a conversion kept getting faster
# for its first ten repetitions (5.5 s → 2.9 s, ±8 % after that), so a run
# measured a point on that slope; with C1 it is steady (±2–5 %) from the
# third repetition on, at about 1.3× the C2 latency
JAVA_OPTIONS = "-XX:+UseParallelGC -XX:-UsePerfData -XX:TieredStopAtLevel=1"

END_TO_END = {           # name -> unit
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def per_layer_names():
    """The per-layer metrics of the result line. Layer times appear as
    shares of the wall time they belong to, so that a layer a workload does
    not use reads 0 as a share, not as a constant 0-second timer; the
    seconds themselves go to the trace file."""
    from perfbench.workloads import KG_STAGES, SOURCE_KINDS, TEMPLATES

    names = ["parse_mapping.share", "parse_mapping.triples_maps",
             "compiler.share", "compiler.spark_jobs",
             "compiler.distinct_ratio"]
    names += [f"sources.share.{k}" for k in SOURCE_KINDS]
    names += ["sources.spark_jobs", "exec.share", "exec.spark_jobs",
              "exec.spark_stages", "exec.failed_tasks", "nquads.share",
              "nquads.bytes_per_triple"]
    for stage in KG_STAGES:
        names += [f"kg.{stage}.share", f"kg.{stage}.rows"]
    names += ["kg.canonicalize.driver_branch", "kg.pipeline.spark_jobs",
              "kg.table.write_share", "kg.table.files",
              "kg.query.predicate_stats_share"]
    for t in TEMPLATES:
        names += [f"sparql.lower_share.{t}", f"sparql.cycle_share.{t}",
                  f"sparql.spark_jobs.{t}", f"sparql.rows.{t}"]
    names += ["trace.overhead_pct", "trace.spans"]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("_pct"):
        return "%"
    if "share" in name or name.endswith("_ratio"):
        return "ratio"
    if name.endswith("bytes_per_triple"):
        return "B"
    return "count"


# ---------------------------------------------------------------------------
# host conditions, read from /proc (no sampler process)
# ---------------------------------------------------------------------------

def cpu_ticks():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]          # total (without guest), steal


def status_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


# ---------------------------------------------------------------------------

def build_session(work: str, cpus: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} {JAVA_OPTIONS}")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def run_ops(wl, seconds: float, deadline: float, start: int,
            min_ops: int = 0):
    """Closed loop until ``seconds`` of operation time are spent, at least
    ``min_ops`` operations ran and the cycle is whole (or the wall-clock
    ``deadline`` passes)."""
    outs, spent, i = [], 0.0, start
    while (spent < seconds or i - start < min_ops
           or (i - start) % wl.cycle()) and time.perf_counter() < deadline:
        t0 = time.perf_counter()
        try:
            out = wl.op(i)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            out = {"error": traceback.format_exc()}
        dt = time.perf_counter() - t0
        spent += dt
        out["seconds"], out["ok"] = dt, False
        if "error" not in out:
            if wl.corrupting:
                wl.corrupt(out)
            try:
                out["ok"] = wl.verify(out)
            except Exception:  # noqa: BLE001
                out["error"] = traceback.format_exc()
        if not out["ok"]:
            print(f"perfbench: op {i} failed: {out.get('error', 'wrong result')}",
                  file=sys.stderr)
        outs.append(out)
        i += 1
    return outs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one triple of every output")
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers unpickle engine functions by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    sys.path.insert(0, ROOT)
    spark = jvm = None
    try:
        import pyrml_spark

        if not os.path.abspath(pyrml_spark.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"pyrml_spark resolved outside {ROOT}")
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS, trace_sources

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(WORKLOADS)}")
        cpus = len(os.sched_getaffinity(0))
        ticks0 = cpu_ticks()
        spark = build_session(work, cpus)
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark.sparkContext._gateway.proc
        session_s = time.perf_counter() - T_START

        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer,
                                      args.corrupt)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.generate()
            reps.append(time.perf_counter() - t0)
        tracer.enabled = bool(args.trace)   # traced runs span the build too
        t0 = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t0
        tracer.enabled = False
        t0 = time.perf_counter()
        warm = []
        for k in range(wl.warmup_cycles, 0, -1):   # op indices -k·cycle .. -1
            warm += run_ops(wl, 1e-9, float("inf"), -k * wl.cycle())
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + build_s + warm_s

        deadline = T_START + MAX_RUN_S
        outs = run_ops(wl, args.seconds, deadline, 0, wl.min_ops)
        traced = []
        if args.trace:
            wl.trace_extras()
            tracer.enabled = True
            trace_sources(tracer)
            traced = run_ops(wl, args.seconds, deadline, len(outs),
                             wl.min_ops)
            tracer.attribute_jobs()
            tracer.close()

        jvm_mb = status_kb(jvm.pid, "VmHWM") / 1024
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        peak_mb = jvm_mb + py_mb
        ticks1 = cpu_ticks()
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
    finally:
        if spark is not None:
            spark.stop()
            spark.sparkContext._gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    all_ops = warm + outs + traced
    attempted = len(all_ops) + len(wl.build_checks)
    failed = (sum(not o["ok"] for o in all_ops)
              + sum(not ok for ok in wl.build_checks))
    lat = [o["seconds"] for o in outs]
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(outs) / sum(lat),
        "op_p50_ms": 1000 * statistics.median(lat),
        "peak_rss_mb": peak_mb,
    }
    conditions = {
        "cores": cpus, "driver_memory": DRIVER_MEMORY,
        "work_dir": work, "ops": len(outs), "warmup_ops": len(warm),
        "session_s": session_s, "generate_s": reps, "build_s": build_s,
        "warmup_s": warm_s,
        "warmup_op_s": [round(o["seconds"], 3) for o in warm],
        "op_s": [round(x, 3) for x in lat],
        "jvm_hwm_mb": jvm_mb, "driver_maxrss_mb": py_mb,
        "steal_pct": 100 * (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
        "loadavg_1m": load1,
    }
    # the same run under the names users of each workload know it by
    user = {"setup_s": (setup_s, "s"), "error_rate": (failed / attempted, "ratio"),
            "peak_rss_mb": (peak_mb, "MB"), **wl.user_metrics(outs)}
    if args.trace:
        names = per_layer_names()
        layers = dict.fromkeys(names, 0.0)
        ok_traced = [o for o in traced if o["ok"]]
        detail = wl.layers(ok_traced) if ok_traced else {}
        layers.update((k, v) for k, v in detail.items() if k in names)
        # the extra (noop) pass is a direct child of its operation's span
        t_lat = [o["seconds"] - sum(s["end"] - s["start"]
                                    for s in tracer.spans
                                    if s["extra"] and s["parent"] == o.get("span"))
                 for o in traced]
        layers["trace.overhead_pct"] = 100 * (
            statistics.median(t_lat) / statistics.median(lat) - 1)
        layers["trace.spans"] = len(tracer.spans)
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in layers.items()}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench_out",
                            f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"run_id": tracer.run_id, "workload": args.workload,
                       "seed": args.seed, "conditions": conditions,
                       "untraced": e2e, "per_layer": layers,
                       "layer_detail": detail,
                       "spans": tracer.spans}, f, indent=1)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}

    print(f"perfbench {args.workload} seed={args.seed} "
          f"trace={args.trace}", file=sys.stderr)
    for k, v in conditions.items():
        print(f"  {k:<28} {v}", file=sys.stderr)
    for k, (v, unit) in user.items():
        if k not in metrics:
            print(f"  {k:<28} {v:.6g} {unit}", file=sys.stderr)
    for k, m in metrics.items():
        print(f"  {k:<36} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
