"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout of the repository. Every file the run
makes (CSV drops, lake, corpus, Spark warehouse, Spark and JVM scratch)
lives under a fresh `.perfbench_tmp/<run>` root inside the checkout,
removed on exit; nothing else in the tree is touched. The Spark session
runs on local[<cores available>] with one client thread.

Output: a `{"report": ...}` line with every figure measured, then, as
the last line, `{"correct", "attempted", "failed", "metrics"}` where
metrics are the end-to-end metrics (`--trace 0`) or the per-layer
metrics of a traced run (`--trace 1`). Exit code 1 when any answer was
wrong or any op raised; 2 when the program under test is missing.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _prepare_env(root: str) -> None:
    for sub in ("jvm_tmp", "spark_local", "tmp"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(root, 'warehouse')} pyspark-shell"
    )
    # every JVM the launch starts: scratch files in the run root, and no
    # hsperfdata files, which HotSpot would otherwise put in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(root, 'jvm_tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark_local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="babylon_data_loader_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    try:
        import babylon_data_loader_spark  # noqa: F401
    except ImportError as exc:
        print(f"program under test not found in {CHECKOUT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    root = os.path.join(
        CHECKOUT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    _prepare_env(root)
    spark = None
    try:
        from babylon_data_loader_spark.session import build_session

        cores = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        spark = build_session(master=f"local[{cores}]", shuffle_partitions=cores)
        session_s = time.perf_counter() - t
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_pid = jvm_pid.pid if jvm_pid is not None else None

        tracer = layers = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        try:
            outcome = workloads.WORKLOADS[args.workload](
                spark, root, args.seed, args.seconds, T0, tracer
            )
        finally:
            if tracer is not None:
                tracer.restore()
        peak_rss_mb = workloads.peak_rss_mb(jvm_pid)
        outcome.detail["peak_rss_mb"] = (peak_rss_mb, "MB")
        if tracer is not None:
            layers = {name: 0.0 for name in workloads.LAYER_UNITS}
            layers.update(outcome.layers)
            layers["session.start_s"] = session_s
            layers["process.peak_rss_mb"] = peak_rss_mb
            layers["trace.overhead_s"] = tracer.overhead_s
            out_dir = os.path.join(CHECKOUT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(root, ignore_errors=True)
        parent = os.path.dirname(root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    e2e = {
        name: {"value": outcome.e2e[name], "unit": unit}
        for name, unit in workloads.E2E_UNITS.items()
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "session_start_s": session_s,
        "end_to_end": e2e,
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in outcome.detail.items()},
        "errors": (outcome.setup_errors + outcome.errors)[:20],
    }
    print(json.dumps({"report": report}))
    print(json.dumps(result_line(outcome, layers)))
    return 0 if outcome.correct else 1


def result_line(outcome, layers: dict[str, float] | None) -> dict:
    """The last output line: end-to-end metrics, or per-layer metrics
    when `layers` (a traced run's figures) is given."""
    import workloads

    if layers is None:
        values, units = outcome.e2e, workloads.E2E_UNITS
    else:
        values, units = layers, workloads.LAYER_UNITS
    return {
        "correct": outcome.correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {
            name: {"value": values[name], "unit": unit}
            for name, unit in units.items()
        },
    }


if __name__ == "__main__":
    sys.exit(main())
