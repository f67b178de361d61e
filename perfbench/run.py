"""Slicer-traffic benchmark of cubes_spark.

    python3 perfbench/run.py --workload slicer_adhoc --seed 1 \\
        --seconds 18 --trace 0

Run from the repository root.  Generates seeded TPC-H-shaped tables,
starts Spark on ``local[<cores>]``, runs one workload (see
``workloads.py`` and ``README.md``), checks every answer, and prints as
its last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Everything it writes stays under
``perfbench/_work`` (removed at exit) and ``perfbench/_out`` (span logs
of traced runs).
"""

from __future__ import annotations

import time

from measure import percentile, seconds_since_process_start

STARTED_S = seconds_since_process_start()    # before the heavy imports
T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.01                  # 60,000 line items
DRIVER_MEMORY = "1g"

END_TO_END_UNITS = {"setup_s": "s", "throughput_rps": "1/s",
                    "latency_p50_ms": "ms", "latency_p90_ms": "ms",
                    "peak_rss_mb": "MiB"}


def parse_args(argv=None):
    from workloads import WORKLOADS

    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def isolate(work_dir: str) -> None:
    """Keep Spark, the JVM and temporary files inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher's too: no perf data file
        # and temporary files in the work directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    # relative paths Spark may create (warehouse, metastore) land here
    os.chdir(work_dir)


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def timing(ops: list, seconds: float) -> tuple:
    """(throughput per second, p50 ms, p90 ms) of ``ops``."""
    latencies = [op["ms"] for op in ops]
    return (len(ops) / seconds, percentile(latencies, 50),
            percentile(latencies, 90))


def end_to_end(outcome, setup_s: float) -> dict:
    """The end-to-end metrics of ``outcome``: over all its operations,
    or the best of its time blocks or of its rounds (load from elsewhere
    on the machine only ever adds time)."""
    if outcome.round_size:
        # each slot of the round (a request shape, the refresh or one of
        # the reads) at its fastest over the rounds, then the statistics
        # over the slots: every slot counts once, as in one round
        ms = [op["ms"] for op in outcome.ops]
        size = outcome.round_size
        best = [min(ms[slot::size]) for slot in range(size)]
        throughput = size / (sum(best) / 1000.0)
        p50, p90 = percentile(best, 50), percentile(best, 90)
    else:
        # best of equal time blocks, each statistic on its own; one
        # block holds every operation
        span = outcome.measured_s / outcome.blocks
        groups = [[] for _ in range(outcome.blocks)]
        for op in outcome.ops:
            index = int((op["at"] - outcome.first_op) / span)
            groups[min(index, outcome.blocks - 1)].append(op)
        stats = [timing(group, span) for group in groups if group]
        throughput = max(s[0] for s in stats)
        p50 = min(s[1] for s in stats)
        p90 = min(s[2] for s in stats)
    return {
        "setup_s": setup_s,
        "throughput_rps": throughput,
        "latency_p50_ms": p50,
        "latency_p90_ms": p90,
        "peak_rss_mb": outcome.rss_mb,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import cubes_spark  # noqa: F401  (fails fast outside a checkout)

    from datagen import generate
    from measure import peak_rss_mb, supported_percentile
    from oracle import Oracle
    from tracing import UNITS, NullTracer, Tracer, layer_metrics
    from workloads import WORKLOADS, Context

    work_dir = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    spark = oracle = tracer = None
    try:
        isolate(work_dir)
        data_dir = os.path.join(work_dir, "data")
        gen_start = time.perf_counter()
        rows = generate(data_dir, args.seed, SF)
        datagen_s = time.perf_counter() - gen_start

        from cubes_spark.demo import tpch_workspace
        from cubes_spark.sources.workspace import default_session

        spark = default_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        workspace = tpch_workspace(spark, data_dir)
        oracle = Oracle(data_dir)
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            tracer.install()
        else:
            tracer = NullTracer()
        from pyspark import SparkContext

        pids = [os.getpid(), SparkContext._gateway.proc.pid]
        ctx = Context(workspace, oracle, tracer, work_dir, args.seed,
                      args.seconds, lambda: peak_rss_mb(pids))
        outcome = WORKLOADS[args.workload](ctx)
        if args.trace:
            tracer.uninstall()

        setup_s = STARTED_S + (outcome.first_op - T0) - datagen_s
        e2e = end_to_end(outcome, setup_s)
    finally:
        if oracle is not None:
            oracle.close()
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work_dir, ignore_errors=True)

    n = len(outcome.ops)
    attempted = max(n, 1)
    failed = min(len(outcome.wrong), attempted)
    for problem in outcome.wrong[:20]:
        print(f"WRONG {problem}")
    tail = supported_percentile(n)
    print(f"{args.workload} seed={args.seed}: {n} ops in "
          f"{outcome.measured_s:.1f} s, {failed} wrong; lineitem "
          f"{rows['lineitem']} rows, data generation {datagen_s:.2f} s; "
          f"highest percentile with >=10 samples beyond: "
          f"{'p%d' % tail if tail else 'none'}")
    if args.trace:
        layers = layer_metrics(tracer, outcome.ops)
        layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        layers["trace.throughput_rps"] = e2e["throughput_rps"]
        out_dir = os.path.join(HERE, "_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl.gz"))
        print("tracing overhead: compare trace.latency_p50_ms and "
              "trace.throughput_rps with latency_p50_ms and "
              "throughput_rps of an untraced run of the same seed "
              "(perfbench/overhead.py does both)")
        metrics = {k: {"value": v, "unit": UNITS.get(k, "count")}
                   for k, v in layers.items()}
    else:
        print("  " + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
