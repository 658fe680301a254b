#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json; ``--trace
1`` wraps the program's entry points in spans and prints the per-layer
metrics instead.  Both print one JSON object last:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.

The run writes only below the repository root: scratch data goes to
``.perfbench_work/`` (removed at exit), and a record of the run (host drift,
set-up parts, check errors; the spans when tracing) to ``.perfbench_runs/``.
Exit status is 0 only when every answer checked out.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_trickle", "serve_mixed")
CALIBRATION_ROWS = 1_000_000_000   # the range-sum job bench.py calibrates with


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(ROOT, ".perfbench_runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(records, exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    sys.path[:0] = [ROOT, HERE]

    from selftest import run_selftest

    problems = run_selftest()
    if problems:
        for p in problems:
            print(f"# checker self-test failed: {p}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    # the program under test; absent program -> ImportError -> non-zero exit
    try:
        from jena_fuseki_kafka_spark.session import build_session
    except ImportError:
        shutil.rmtree(work, ignore_errors=True)
        raise

    import workloads
    from host import MemorySampler, loadavg, stop_spark
    from spans import Tracer

    mem = MemorySampler().start()
    meta: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "nproc": ncpu, "loadavg_start": loadavg()}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{ncpu}]",
            # one shuffle partition per core, as bench.py runs the engine
            shuffle_partitions=ncpu,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                    f"-Dderby.system.home={os.path.join(work, 'derby')}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext) if args.trace else None
        run = workloads.Run(spark, args.seed, args.seconds, work, tracer)
        {"ingest_trickle": workloads.run_trickle, "serve_mixed": workloads.run_serve}[args.workload](run)

        meta["t_workload_done"] = time.perf_counter() - T_START
        run.e2e["setup_s"] = run.window[0] - T_START
        t0 = time.perf_counter()
        spark.range(CALIBRATION_ROWS).selectExpr("sum(id)").collect()
        meta["calibration_range_sum_s"] = time.perf_counter() - t0
        meta["t_window"] = [t - T_START for t in run.window]
        if tracer is not None:
            counts = run.trace_counts or tracer.spark_counts()
            tracer.dump(
                os.path.join(records, f"trace-{args.workload}-{args.seed}.json"), counts, run.window[0]
            )
            tracer.unwrap()
    finally:
        if spark is not None:
            stop_spark(spark)
        peak = mem.stop()
        shutil.rmtree(work, ignore_errors=True)

    meta["t_stopped"] = time.perf_counter() - T_START
    run.layer["process.peak_pss_mb"] = peak / 1e6
    meta.update({
        "loadavg_end": loadavg(), "session_s": session_s, "setup_parts": run.setup_parts,
        "errors": run.errors, "end_to_end": run.e2e, "samples": run.samples,
    })
    if args.trace:
        run.layer["session.build_s"] = session_s
        run.layer["traced.p50_latency_s"] = run.e2e["p50_latency_s"]
        run.layer["trace.spans"] = len(tracer.spans)
        wanted, values = spec["per_layer"], run.layer
    else:
        wanted, values = spec["end_to_end"], run.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing and not args.trace:
        run.error(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    meta["per_layer"] = run.layer
    name = f"run-{args.workload}-{args.seed}-t{args.trace}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(meta, f, indent=1, default=str)
    for e in run.errors:
        print(f"# CHECK FAILED: {e}", file=sys.stderr)
    correct = not run.errors and run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(max(1, run.attempted)),
        "failed": run.failed if correct else max(1, run.failed),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
