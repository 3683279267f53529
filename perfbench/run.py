#!/usr/bin/env python3
"""The engine's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload serve_read_mix --seed 1 --seconds 20 --trace 0

Run from the repository root (the engine package ``correlationapi_spark``
must sit beside ``perfbench/``). The run generates its inputs from
``--seed``, starts a local Spark session on every core, sets the
workload up, warms it up, measures it for ``--seconds`` and checks
every answer. ``setup_s`` is everything before the measured window
except writing the inputs: session start, set-up and warm-up. The set-up
runs ``SETUP_RUNS`` times, each building the workload's stores afresh,
and ``setup_s`` counts the median of those runs. It prints one
report line (all end-to-end metrics with units, the run conditions and
any failures) and, last, the result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures a
third of the window untraced and the rest traced, reports the per-layer
metrics and writes the spans to ``.perfbench_out/``. The exit code is 0
only when every op and check passed; 2 means the engine is missing.
Everything the run writes stays under the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Input size as a fixture scale factor (lineitem = 6e6 x sf rows): small
# enough that set-up, warm-up and a window fit in about a minute.
DEFAULT_SF = 0.01
WORKLOADS = ("serve_read_mix", "store_maintenance", "batch_registry")
# set-up runs per benchmark run; setup_s takes their median, so a single
# slow (first, cold) run does not set it
SETUP_RUNS = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF,
                   help="input scale factor (the smoke test uses 0.001)")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM, which starts before the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def make_workload(name: str, ctx):
    if name == "serve_read_mix":
        from serve import ServeReadMix as cls
    elif name == "batch_registry":
        from batch import BatchRegistry as cls
    else:
        from store import StoreMaintenance as cls
    return cls(ctx)


def timed_setups(wl) -> tuple[list[float], dict[str, float]]:
    """Run the set-up ``SETUP_RUNS`` times: each run's seconds, and each
    set-up phase's median over the runs. Phases timed later (store
    cycles register their batches) start from zero."""
    runs, phases = [], []
    for rep in range(SETUP_RUNS):
        wl.setup_phases.clear()
        t0 = time.perf_counter()
        wl.setup(rep)
        runs.append(time.perf_counter() - t0)
        phases.append({k: sum(v) for k, v in wl.setup_phases.items()})
    wl.setup_phases.clear()
    return runs, {k: statistics.median(p[k] for p in phases) for k in phases[0]}


def run(args: argparse.Namespace, work: str, load1_before: float) -> tuple[dict, dict]:
    import tempfile

    from common import (jvm_pid, latency_stats, peak_rss_mb, run_conditions, steal_ticks,
                        stop_spark, tail_percentile, tree_cpu_s)
    from metrics import (END_TO_END, PER_LAYER, REGISTRY_LAYER, REPORTED, layer_rollup,
                         overhead_ratio)
    from spans import Tracer
    from workload import Context

    tempfile.tempdir = None  # pick up the TMPDIR set above
    from correlationapi_spark.session import get_spark

    steal0 = steal_ticks()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    wl = None
    layers: dict[str, float] = {}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        tracer = Tracer(spark, enabled=False)
        ctx = Context(spark, args.seed, args.sf, cpus, work, tracer, bool(args.trace))
        wl = make_workload(args.workload, ctx)
        wl.write_inputs()
        setup_runs, setup_phases = timed_setups(wl)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        pid = jvm_pid(spark)
        cpu0 = tree_cpu_s(pid)
        if args.trace:
            untraced = wl.window(args.seconds / 3)
            tracer.enabled = True
            t0 = time.time()
            ops = wl.window(args.seconds * 2 / 3)
            wall = time.time() - t0
            tracer.enabled = False
            layers = layer_rollup(tracer, wall, cpus)
            layers["trace.overhead_ratio"] = overhead_ratio(untraced, ops)
            ops = untraced + ops
        else:
            ops = wl.window(args.seconds)
        cpu_s = tree_cpu_s(pid) - cpu0
        extra = wl.extra_metrics()
        if args.trace:
            layers.update(wl.layer_metrics())  # reads the stores through the JVM
        rss = peak_rss_mb(spark)
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            stop_spark(spark)

    setup_s = session_s + statistics.median(setup_runs) + warmup_s
    e2e = {"setup_s": setup_s, **latency_stats(ops), "cpu_s_per_op": cpu_s / len(ops),
           "peak_rss_mb": rss, **extra}
    steal1 = steal_ticks()
    failed = sum(not o.ok for o in ops) + len(wl.failures)
    attempted = len(ops) + wl.checks
    report = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "seconds": args.seconds, "trace": args.trace, "ops": len(ops),
        "latency_p90_samples_beyond": len(ops) - math.ceil(0.9 * len(ops)),
        "tail_percentile_with_10_beyond": round(tail_percentile(len(ops)), 4),
        "metrics": {
            **{k: {"value": e2e[k], "unit": u}
               for k, u in {**END_TO_END, **REPORTED}.items() if k in e2e},
            "error_ratio": {"value": failed / attempted, "unit": "ratio"},
        },
        "setup": {"session_start_s": session_s, "setup_runs_s": setup_runs,
                  "warmup_s": warmup_s, **setup_phases},
        "conditions": run_conditions(
            ROOT, load1_before, (steal1[0] - steal0[0], steal1[1] - steal0[1])),
        "failures": ([o.error for o in ops if not o.ok] + wl.failures)[:20],
    }
    if args.trace:
        layers.update({
            "session.start_s": session_s,
            "setup.warmup_s": warmup_s,
            **{k: v + sum(wl.setup_phases.get(k, [])) for k, v in setup_phases.items()},
            "ordering.pinned_bytes_peak": max(wl.pinned, default=0),
            "ordering.pinned_bytes_end": wl.pinned[-1] if wl.pinned else 0,
        })
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_file = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        tracer.write(span_file)
        report["span_file"] = os.path.relpath(span_file, ROOT)
        report["layers"] = {k: {"value": layers[k], "unit": u}
                            for k, u in REGISTRY_LAYER.items()}
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items() if k in e2e}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return report, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run unwinds like a failed one: it stops its service,
    # its Spark JVM and the JVM's workers before it exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "correlationapi_spark", "__init__.py")):
        print(f"perfbench: engine package correlationapi_spark not found in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.append(ROOT)
    load1_before = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        report, result = run(args, work, load1_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
