"""Benchmark entry point.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds nothing: it generates the
workload's inputs from ``--seed`` into a fresh directory under
``.perfbench_work/``, drives the program through its public functions
for ``--seconds`` seconds (one client, closed loop), checks the
outputs, removes the directory and prints one JSON object as the last
line of stdout. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` turns on spans and the Spark event log and reports the
per-layer metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("replay", "query_mix")


def pin_environment(work: str) -> None:
    """One task thread per core, scratch space inside the run's own
    directory, and the package importable by the Python workers."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONHASHSEED"] = "0"
    # no hsperfdata files in /tmp, from the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    from tracing import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            # the JVM exits when its stdin closes
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # the program must be present: fail before any work or output
    try:
        import streaming_recommendation_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import workloads
    from tracing import SpanRecorder

    work = os.path.abspath(
        os.path.join(".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        pin_environment(work)
        from streaming_recommendation_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf=spark_conf(work, bool(args.trace)),
        )
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Context(
            spark=spark,
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            tracer=SpanRecorder(bool(args.trace)),
            t_process_start=T_PROCESS_START,
            session_start_s=time.perf_counter() - t0,
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            out = os.path.abspath(".perfbench_out")
            os.makedirs(out, exist_ok=True)
            stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
            ctx.tracer.write(stem + ".spans.json")
            with open(stem + ".layers.json", "w") as f:
                json.dump(res.layers, f, indent=1, sort_keys=True)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work))  # only if no other run uses it
    for line in res.notes:
        print(line)
    metrics = res.layers if args.trace else res.end_to_end
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": v, "unit": workloads.UNITS[k]}
                    for k, v in sorted(metrics.items())
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
