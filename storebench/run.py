#!/usr/bin/env python3
"""Closed-loop benchmark of the ahnlich_spark serving surface: the
Engine, AiEngine and DslExecutor public APIs, driven by one client in
one process with Spark at local[<cores>].

    python3 storebench/run.py --workload vector_serving --seed 1 --seconds 18 --trace 0

Run it from the repository root. It builds its stores from seeded
inputs, measures whole rounds of the workload's operations for
``--seconds``, checks every result apart from the program, and prints
a table, one ``detail`` JSON line and, last, the result line
``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer ones
(``--trace 1``). It exits 2 without a result when pyspark or
ahnlich_spark cannot be imported, and 1 when set-up fails.
"""

import time

STARTED = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "vector_serving": "serving",
    "mutate_replicate": "mutation",
}

END_TO_END = {"setup_s": "s", "simn_s": "s", "ops_per_s": "1/s"}

PER_LAYER = {
    "engine.jobs_per_op": "count",
    "engine.tasks_per_op": "count",
    "engine.shuffle_bytes_per_op": "bytes",
    "engine.jobs_per_simn": "count",
    "engine.tasks_per_simn": "count",
    "engine.jobs_per_write": "count",
    "engine.compactions_per_write": "count",
    "store_io.read_store_s": "s",
    "store_io.read_store_calls_per_op": "count",
    "store_io.merged_scan_s": "s",
    "store_io.delta_segments_at_read": "count",
    "store_io.write_calls_per_op": "count",
    "catalog.put_store_calls_per_op": "count",
    "topk.score_s": "s",
    "topk.batch_jobs": "count",
    "topk.batch_shuffle_bytes": "bytes",
    "ann.candidates_per_probe": "count",
    "predicates.rows_scanned_per_result": "count",
    "views.refresh_jobs": "count",
    "ivm.delta_rows": "count",
    "streaming.jobs_per_trigger": "count",
    "streaming.state_rows": "count",
    "ai.bulk_jobs": "count",
    "ai.jobs_per_set": "count",
    "ai.embed_calls_per_op": "count",
}

# Per-layer times of layers that only some workloads reach. They go to
# the detail line: a layer a workload never calls would read 0.
LAYER_TIMES = {
    "engine.compact_s": "engine.compact",
    "store_io.write_delta_s": "store_io.write_delta",
    "store_io.write_store_s": "store_io.write_store",
    "catalog.put_store_s": "catalog.put_store",
    "ai.embed_driver_s": "ai.embed_driver",
    "dsl.parse_s": "dsl.parse",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor; below 1 only for the benchmark's own tests")
    args = p.parse_args(argv)
    if args.seconds <= 0 or args.scale <= 0:
        p.error("--seconds and --scale must be positive")
    return args


def machine():
    """(cores, driver heap in GB) from what this process may use."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cores, max(1, min(4, total_kb // (8 * 1024 * 1024)))


def start_spark(tmp: str):
    from pyspark.sql import SparkSession

    cores, heap_gb = machine()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("storebench")
        .config("spark.driver.memory", f"{heap_gb}g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "spark-warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop every streaming query, the session, and the JVM, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def end_to_end(workload, run, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "simn_s": run.median(*workload.simn_kinds),
        "ops_per_s": run.rate(run.n()),
    }


def per_layer(workload, run, tracer) -> dict:
    ops = max(1, run.n())
    spans = tracer.spans
    notes = tracer.notes
    writes = getattr(workload, "write_kinds", ())
    n_writes = run.n(*writes) if writes else 0
    segs = notes.get("store_io.delta_segments_at_read", [])
    scans = run.merged_scan
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({
        "engine.jobs_per_op": run.per_op("jobs"),
        "engine.tasks_per_op": run.per_op("tasks"),
        "engine.shuffle_bytes_per_op": run.per_op("shuffle_bytes"),
        "engine.jobs_per_simn": run.per_op("jobs", *workload.simn_kinds),
        "engine.tasks_per_simn": run.per_op("tasks", *workload.simn_kinds),
        "engine.jobs_per_write": run.per_op("jobs", *writes) if writes else 0.0,
        "engine.compactions_per_write":
            sum(notes.get("engine.compactions", [])) / n_writes if n_writes else 0.0,
        "store_io.read_store_s": tracer.per_call("store_io.read_store"),
        "store_io.read_store_calls_per_op": spans["store_io.read_store"][0] / ops,
        "store_io.merged_scan_s": statistics.median(scans) if scans else 0.0,
        "store_io.delta_segments_at_read": sum(segs) / len(segs) if segs else 0.0,
        "store_io.write_calls_per_op":
            (spans["store_io.write_store"][0] + spans["store_io.write_delta"][0]) / ops,
        "catalog.put_store_calls_per_op": spans["catalog.put_store"][0] / ops,
        "topk.score_s": (run.median(*workload.simn_kinds) - statistics.median(scans)
                         if scans else 0.0),
        "ai.embed_calls_per_op": spans["ai.embed_driver"][0] / ops,
    })
    out.update(workload.layers())
    return out


def layer_times(tracer) -> dict:
    return {name: (tracer.per_call(span), "s", tracer.spans[span][0])
            for name, span in LAYER_TIMES.items()}


def report(args, rounds, detail, samples, result) -> None:
    print(f"storebench {args.workload} seed={args.seed} rounds={rounds} "
          f"attempted={result['attempted']} failed={result['failed']} "
          f"correct={result['correct']}")
    for name, (value, unit, n) in detail.items():
        print(f"  {name:34s} {value:14.6f} {unit:10s} n={n}")
    for name, m in result["metrics"].items():
        print(f"* {name:34s} {m['value']:14.6f} {m['unit']}")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "rounds": rounds, "detail": {
                          k: {"value": v if math.isfinite(v) else None, "unit": u, "n": n}
                          for k, (v, u, n) in detail.items()},
                      "samples": samples}))
    print(json.dumps(result))


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    tmp = tempfile.mkdtemp(prefix=".storebench-", dir=os.getcwd())
    # Python workers import the package under test from the checkout;
    # every scratch file of Spark, the JVM and Python lands in ``tmp``
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    spark = None
    try:
        try:
            import numpy as np
            import pyspark  # noqa: F401

            import ahnlich_spark  # noqa: F401
        except ImportError as e:
            print(f"storebench: cannot import {e.name!r} ({e}); run from the "
                  "repository root with pyspark installed", file=sys.stderr)
            return 2
        import importlib

        from harness import Run, loop
        from layers import Tracer, install_layers

        module = importlib.import_module(WORKLOADS[args.workload])
        try:
            spark = start_spark(tmp)
            run = Run()
            workload = module.Workload(spark, os.path.join(tmp, "warehouse"),
                                       np.random.default_rng(args.seed), run, args.scale)
            workload.setup()
        except Exception:
            traceback.print_exc()
            print("storebench: set-up failed; nothing was measured", file=sys.stderr)
            return 1
        setup_s = time.perf_counter() - STARTED
        tracer = None
        if args.trace:
            tracer = run.tracer = Tracer(spark)
            install_layers(tracer)
        try:
            loop(workload, run, args.seconds)
            workload.finish()
        except Exception as e:  # the benchmark's own code or a final read
            traceback.print_exc()
            run.check([f"run stopped: {type(e).__name__}: {e}"])
        finally:
            if tracer is not None:
                tracer.restore()
        detail = {"setup_s": (setup_s, "s", 1)}
        detail.update(workload.detail())
        if tracer is None:
            values, units = end_to_end(workload, run, setup_s), END_TO_END
        else:
            values, units = per_layer(workload, run, tracer), PER_LAYER
            detail.update(layer_times(tracer))
            detail.update(getattr(workload, "layer_detail", dict)())
        missing = [k for k in units if not math.isfinite(values[k])]
        if missing:
            print(f"storebench: no measurement for {missing}", file=sys.stderr)
            return 1
        result = {
            "correct": not run.problems,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }
        workload.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    report(args, run.rounds, detail, {k: list(v) for k, v in run.samples.items()}, result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
