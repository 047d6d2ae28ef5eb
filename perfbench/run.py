#!/usr/bin/env python3
"""Benchmark entry point; see perfbench/NOTES.md for the workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  One process drives the package
through its public entry points on local[<usable cores>]: session start,
seeded inputs, a full-size warm-up that also runs the correctness gates,
then the timed loop for S seconds (closed loop, one operation in flight).
With --trace 1 a separate traced run follows, with the Spark event log
on, and the per-layer metrics replace the end-to-end ones.

The metric names and units come from BENCHMARK.json.  The last line of
stdout is {"correct", "attempted", "failed", "metrics"}; the line before
it is a detail record (per-operation median, spin probe, failures).
The spans of a traced run are written to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")


def _isolate(work: str) -> None:
    """Keep every file the run writes inside `work`, and let Python
    workers import the package whatever the cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop the session, then the JVM (it exits on EOF of its stdin),
    and wait until the JVM and its Python workers have ended."""
    from host import descendants

    gateway = spark.sparkContext._gateway
    workers = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def measure(wl, args, work: str, cores: int) -> tuple[dict, dict]:
    from biomedical_el_spark.session import get_spark
    from host import PeakRss, cpu_ticks
    from spans import Tracer, event_log_conf, fold_event_log
    from workloads import Ops

    ops = Ops()
    log_dir = os.path.join(work, "eventlog")
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        conf.update(event_log_conf(log_dir))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        wl.bind(spark, work, args.seed, ops)
        t0 = time.perf_counter()
        wl.prepare()
        input_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        runs, op_walls = [], []
        ticks0 = cpu_ticks()
        with PeakRss() as rss:
            start = time.perf_counter()
            while time.perf_counter() - start < args.seconds:
                t0 = time.perf_counter()
                walls = wl.iterate()
                if not walls:
                    break  # failed; counted in ops
                runs.append(time.perf_counter() - t0)
                op_walls += walls
        ticks1 = cpu_ticks()
        if args.trace and runs:
            tracer = Tracer(spark.sparkContext)
            counts = wl.traced(tracer)
    finally:
        _stop(spark)
    if not runs:
        raise RuntimeError("no timed iteration succeeded")
    run_s = statistics.median(runs)
    values = {
        "setup_s": session_s + input_s + warm_s,
        "run_s": run_s,
        "pages_per_s": wl.n_items / run_s,
        "peak_rss_mb": rss.peak_mb,
        "setup.session_s": session_s,
        "setup.input_s": input_s,
        "setup.warm_s": warm_s,
    }
    detail = {"runs": runs, "ops": {"n": len(op_walls), "p50": statistics.median(op_walls)},
              "failures": ops.failures,
              "steal": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
              "f1": getattr(wl, "f1", None)}
    if args.trace:
        values.update(wl.layers(tracer, fold_event_log(log_dir), counts, run_s, cores))
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"{args.workload}-{args.seed}-spans.jsonl"))
    detail.update(attempted=ops.attempted, failed=ops.failed)
    return values, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "biomedical_el_spark", "__init__.py")):
        print("perfbench: no biomedical_el_spark package beside perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)
    from host import spin_probe
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    cores = len(os.sched_getaffinity(0))
    spin_before = spin_probe()
    try:
        values, detail = measure(wl, args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail.update(
        workload=args.workload, seed=args.seed, cores=cores,
        spin_before=spin_before, spin_after=spin_probe(), values=values,
    )
    print(json.dumps(detail))
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
