"""Event-bus benchmark for ex_hivent_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload emit_live --seed 1 --seconds 16 --trace 0

Workloads (see workloads.py; names, metrics and units in BENCHMARK.json):
  emit_live     an open-loop generator calls StreamEmitter.emit_batch on a
                fixed schedule, below what the seed program sustains, while
                route() with three subscriptions consumes the same ingress.
  window_fold   the events table, split in ts order with displaced and late
                events, streamed through tumbling_counts (watermark, append
                mode) and then folded into a ContinuousAggregateView; the
                registered batch twin, run through the catalog and the query
                registry, checks the streamed windows.

Every workload reports the same end-to-end metrics: ``setup_s``,
``ok_share`` (checked operations that were right) and
``cpu_ms_per_kevent`` (CPU time of the Python driver and its JVM per
thousand events). Both CPU figures leave out the JVM's JIT compiler and
garbage collector (see Context.cpu_used); the collector's share is the
per-layer ``jvm.gc_cpu_ms_per_kevent``. Wall-clock throughput, latency
and set-up time, and peak memory, are per-layer metrics: on a shared
host the first three move with its load, and under the program's default
heap the last moves with the JVM's heap sizing, by more than any bound.

The first set-up starts the JVM; its session start is reported as the
per-layer ``session.cold_start_s``. The run then sets up again (session
restart, input generation, warm-up) several times and reports the median
CPU time of those as ``setup_s`` (their wall time is ``setup.wall_s``),
so JVM, codegen and first-call costs stay out of the timed metrics. Then
it measures work sized from ``--seconds``, checks the program's outputs,
and prints one JSON object as the last line of standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. A traced run also writes its spans, with self times, to
``perfbench/.work/traces/``.

Parallelism is pinned to the machine's core count through
SPARK_GRAFT_CPUS; Spark's scratch space, temporary files and all outputs
stay under ``perfbench/.work/``. Per-layer metrics of layers a workload
does not touch read 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from sparkio import cpu_s, thread_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# one cold set-up, then warm ones whose median is setup_s
SETUPS = 4
# name prefixes of the JVM's JIT compiler and garbage-collector threads
JIT_THREADS = ("C1 Compiler", "C2 Compiler")
GC_THREADS = ("GC Thread", "G1 ")


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment(run_dir: str) -> int:
    """Pin parallelism and keep every file Spark and the JVM write inside run_dir.
    Must run before pyspark is imported."""
    n = cores()
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM, the launcher's too: temporary files in run_dir, and no
    # performance-data file in the system's temporary directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    return n


class Context:
    """What a workload sees: the session, the seeded generator, its
    working directory and the tracer."""

    def __init__(self, run_id: str, tracer):
        self.run_id = run_id
        self.tracer = tracer
        self.spark = None
        self.rng = None
        self.dir = ""
        self.jvm_pid = None

    def cpu_used(self) -> tuple[float, float]:
        """CPU seconds used so far by this process and the Spark JVM,
        and, apart from them, by the JVM's garbage-collector threads.
        The first figure leaves out the JVM's JIT compiler and garbage
        collector: compiling is warm-up that trails into the timed work by
        a different amount in every run, and under the program's default
        heap how much collecting falls into a timed phase depends on how
        the collector has sized the heap so far."""
        if self.jvm_pid is None:
            return cpu_s("self"), 0.0
        gc = thread_cpu_s(self.jvm_pid, GC_THREADS)
        return (cpu_s("self") + cpu_s(self.jvm_pid) - gc
                - thread_cpu_s(self.jvm_pid, JIT_THREADS)), gc


def start_session(ctx: Context, run_dir: str):
    from ex_hivent_spark.session import get_session

    ctx.spark = get_session(
        app_name="perfbench",
        extra_conf={
            # a fixed set of compiler threads, so none exits (taking its
            # CPU count with it) between two readings
            "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")


def shutdown_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ex_hivent_spark")):
        print("perfbench: ex_hivent_spark not found next to perfbench/", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(WORK, run_id)
    n_cores = pin_environment(run_dir)
    sys.path.insert(0, ROOT)

    import numpy as np

    import stats
    from sparkio import heap_peak_mb, jvm_pid, peak_rss_mb
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tracer = Tracer(run_id, bool(args.trace))
    ctx = Context(run_id, tracer)
    workload = WORKLOADS[args.workload]()
    try:
        setup_wall, setup_cpu, start_s = [], [], []
        for k in range(SETUPS):
            ctx.dir = os.path.join(run_dir, f"setup{k}")
            shutil.rmtree(os.path.join(run_dir, f"setup{k - 1}"), ignore_errors=True)
            ctx.rng = np.random.default_rng(args.seed)
            if ctx.spark is not None:
                ctx.spark.stop()  # the previous set-up's teardown, not timed
            t0, cpu0 = time.perf_counter(), ctx.cpu_used()[0]
            with tracer.span("setup"):
                with tracer.span("session.start"):
                    start_session(ctx, run_dir)
                ctx.jvm_pid = jvm_pid(ctx.spark)
                start_s.append(time.perf_counter() - t0)
                workload.setup(ctx, args.seconds)
            setup_wall.append(time.perf_counter() - t0)
            setup_cpu.append(ctx.cpu_used()[0] - cpu0)
        t0 = time.perf_counter()
        with tracer.span("measure"):
            result = workload.measure(ctx, args.seconds)
        measure_s = time.perf_counter() - t0
        rss = peak_rss_mb(ctx.jvm_pid)
        heap_mb = heap_peak_mb(ctx.spark)
    finally:
        shutdown_jvm()

    e2e = {
        "setup_s": stats.median(setup_cpu[1:]),
        "ok_share": 1.0 - result.failed / max(1, result.attempted),
        **result.metrics,
    }
    layers = {m["name"]: 0.0 for m in spec["per_layer"]}
    layers.update(result.layers)
    layers["session.start_s"] = stats.median(start_s[1:])
    layers["session.cold_start_s"] = start_s[0]
    layers["setup.wall_s"] = stats.median(setup_wall[1:])
    layers["jvm.heap_peak_mb"] = heap_mb
    layers["memory.peak_rss_mb"] = rss
    layers["trace.overhead_ms"] = tracer.overhead_s * 1000.0
    layers["trace.overhead_share"] = tracer.overhead_s / measure_s

    print(f"# perfbench cores={n_cores} workload={args.workload} seed={args.seed}"
          f" seconds={args.seconds} setup_wall_s={[round(s, 3) for s in setup_wall]}"
          f" setup_cpu_s={[round(s, 3) for s in setup_cpu]}")
    for note in result.notes:
        print(f"# note: {note}")
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{run_id}.json")
        tracer.write(trace_path, {"cores": n_cores, "end_to_end": e2e, "per_layer": layers,
                                  "notes": result.notes})
        print(f"# trace written to {os.path.relpath(trace_path, ROOT)}")
        for name, ms in sorted(tracer.self_ms_by_name().items(), key=lambda kv: -kv[1]):
            print(f"# self_ms {name} {ms:.1f}")
        print(f"# traced-run end-to-end {json.dumps(e2e)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = layers if args.trace else e2e
    if set(measured) != {m["name"] for m in declared}:
        raise RuntimeError(
            f"measured metrics {sorted(measured)} differ from BENCHMARK.json"
        )
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": int(result.attempted),
        "failed": int(result.failed),
        "metrics": {
            m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in declared
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
