#!/usr/bin/env python3
"""End-to-end benchmark of the Conte -> FRESCO ETL engine.

Usage (from the repository root):

    python3 etlbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Workloads (see etlbench/README.md): ``ingest`` (step 1), ``join_pivot``
(step 2), ``catalog`` (a mix of registered catalog queries).  One client
process drives ``local[<cores>]`` in a closed loop: an operation starts
only after the previous one has finished and been checked.

A run: generate (or reuse) the seeded inputs; start the session and run
one cold operation (``setup_s``); run the fixed untimed warm-up; then run
timed passes until ``--seconds`` have elapsed.  Outside the timed region,
persisted RDDs are counted and swept after each operation, and between
passes the outputs are removed, the JVM is asked to collect garbage and
dirty pages are synced.  Every output is checked without Spark.

With ``--trace 0`` the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the same loop runs with spans around
the package's module calls and the line carries the per-layer metrics.
``--damage 1`` is the self-test: one committed row of the first timed
operation is corrupted, and that operation must be counted as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "conte_to_fresco_etl_spark"

#: Local-mode JVM heap: the package's 32g default exceeds small hosts.
DRIVER_MEMORY = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "join_pivot", "catalog"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--damage", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        0: [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        1: [(m["name"], m["unit"]) for m in spec["per_layer"]],
    }


def isolate_environment() -> dict:
    """Keep every file the run writes under WORK: Python and JVM temp
    files, Spark scratch space, the warehouse, and the oracle builders'
    gate-data lookup (pointed at an empty directory, so importing the
    catalog reads nothing outside the checkout)."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "warehouse", "no-gate")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_GATE_SF_DIR"] = dirs["no-gate"]
    # every JVM the run starts (spark-submit's launcher and the driver):
    # temp files under WORK, and no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    ]))
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_heap_mb(spark) -> float:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2 ** 20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"etlbench: {PACKAGE}/ not found next to etlbench/; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    specs = metric_specs()
    conf = isolate_environment()
    sys.path.insert(0, ROOT)

    import gen
    import spans
    import workloads as W

    manifest = gen.cached(os.path.join(WORK, "cache"), args.workload, args.seed,
                          W.SIZES[args.workload], W.BUILDERS[args.workload])
    wl = W.WORKLOADS[args.workload](manifest, WORK, args.seed)
    wl.clear_outputs()
    wl.prepare()

    from conte_to_fresco_etl_spark import get_spark

    untimed: list[str | None] = []

    def between() -> None:
        wl.clear_outputs()
        spark._jvm.System.gc()
        os.sync()

    phases["inputs"] = time.perf_counter() - t_start
    # -- set-up: session start + the first, cold operation ----------------
    t0 = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="etlbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.run_pass(spark, cold=True)
        setup_s = time.perf_counter() - t0
        untimed += wl.check_pass()
        between()
        phases["setup"] = time.perf_counter() - t_start

        # -- untimed warm-up, fixed length -------------------------------
        for _ in range(wl.warmup):
            wl.run_pass(spark)
            untimed += wl.check_pass()
            between()

        # -- timed passes -------------------------------------------------
        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark)
            from conte_to_fresco_etl_spark import pipeline
            from conte_to_fresco_etl_spark.operators import join, transforms
            from conte_to_fresco_etl_spark.sources import readers, sinks

            for mod, layer in ((readers, "readers"), (transforms, "transforms"),
                               (join, "join"), (sinks, "sinks"), (pipeline, "pipeline")):
                tracer.instrument(mod, layer)
            wl.tracer = tracer
        walls: list[float] = []
        layer_rows: list[dict] = []
        attempted = failed = 0
        phases["warmup"] = time.perf_counter() - t_start
        gc0 = jvm_gc_seconds(spark)
        steal0, total0 = spans.read_cpu_times()
        window_end = time.perf_counter() + args.seconds
        while True:
            op = len(walls)
            damage = bool(args.damage) and op == 0
            if tracer is not None:
                tracer.op, tracer.enabled = op, True
                overhead0 = tracer.overhead_s
            walls.append(wl.run_pass(spark, damage=damage))
            if tracer is not None:
                tracer.enabled = False
            heap_mb = jvm_heap_mb(spark)
            reasons = wl.check_pass(damage=damage)
            attempted += len(reasons)
            failed += sum(r is not None for r in reasons)
            for r in reasons:
                if r is not None:
                    print(f"etlbench: FAILED pass {op}: {r}", file=sys.stderr)
            if tracer is not None:
                tracer.collect(op)
                row = wl.layers(tracer, op)
                row["jvm.heap_used_mb"] = heap_mb
                row["trace.overhead_s"] = tracer.overhead_s - overhead0
                layer_rows.append(row)
            between()
            if time.perf_counter() >= window_end:
                break
        gc_s = jvm_gc_seconds(spark) - gc0
        steal1, total1 = spans.read_cpu_times()
        steal_frac = (steal1 - steal0) / max(1, total1 - total0)

        phases["timed"] = time.perf_counter() - t_start
        diag = {}
        if tracer is not None:
            diag = wl.diagnostics(spark, tracer)
            tracer.restore()
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.jsonl"))
    finally:
        stop_spark(spark)

    phases["stopped"] = time.perf_counter() - t_start
    bad_untimed = [r for r in untimed if r is not None]
    for r in bad_untimed:
        print(f"etlbench: FAILED untimed check: {r}", file=sys.stderr)

    if args.trace:
        values = {k: median([r[k] for r in layer_rows if k in r])
                  for k in {k for r in layer_rows for k in r}}
        values.update(diag)
        values.update({
            "session.start_s": session_start_s,
            "jvm.gc_s": gc_s / len(walls),
            "host.steal_frac": steal_frac,
        })
    else:
        lat = wl.query_latencies(walls)
        values = {
            "setup_s": setup_s,
            "pass_s": median(walls),
            "rows_per_s": wl.rows_per_pass() * len(walls) / sum(walls),
            "query_geomean_s": W.geomean([median(v) for v in lat.values()]),
            "bytes_out_per_byte_in": wl.bytes_out() / wl.bytes_in(),
        }
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in specs[args.trace]}
    lat = {q: round(median(v), 4) for q, v in wl.query_latencies(walls).items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "passes": len(walls),
                      "query_median_s": lat,
                      "phases_s": {k: round(v, 2) for k, v in phases.items()},
                      "pass_walls_s": [round(w, 4) for w in walls],
                      "host.steal_frac": steal_frac, "session.start_s": session_start_s}),
          file=sys.stderr)
    sys.stderr.flush()
    print(json.dumps({
        "correct": failed == 0 and not bad_untimed,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
