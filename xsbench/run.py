"""Run one benchmark workload against the ``xapian_spark`` in the current
directory and print one JSON result line.

    python3 xsbench/run.py --workload query_ingest --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics.  Every span goes to ``.xsbench_out/``.  Spark runs
``local[4]`` with its scratch space and all indexes under ``.xsbench_work/``,
which is removed at exit.  See xsbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


DRIVER_MEMORY = "2g"


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["query_ingest", "near_dup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    args = _args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "xapian_spark", "__init__.py")):
        print("xsbench: run from a checkout that holds the xapian_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    # Everything this process and its children (the JVM, Python workers)
    # write to stdout goes to stderr; only the result goes to the real stdout.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    work = os.path.join(root, ".xsbench_work", str(os.getpid()))
    out_dir = os.path.join(root, ".xsbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")  # Python workers
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp  # PySpark's gateway files and Python temp files
    # Every JVM Spark starts (the launcher too): no hsperfdata, temp files
    # under the work dir, and unified logging (stdout by default) on stderr.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Xlog:disable -Xlog:all=warning:stderr"
    )
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY

    from xapian_spark.session import get_spark
    from xsbench import probe, workloads

    memory = probe.MemoryPeak()
    t0 = time.perf_counter()
    spark = get_spark(
        master="local[4]",
        app_name=f"xsbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # A fixed, pre-touched heap: otherwise G1 grows it on pause-time
            # heuristics and the JVM's RSS, most of peak_rss_mb, varied by
            # 20 % between runs of the same work.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        },
    )
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = probe.Tracer(spark, bool(args.trace))
        run = workloads.Run(spark, tracer, args.seed, args.seconds, work, bool(args.trace))
        run.layer["session.start_s"] = session_s
        try:
            workloads.WORKLOADS[args.workload](run)
        except Exception as exc:  # report the failure as a result, not a crash
            run.error(f"workload {args.workload}", exc)
    finally:
        peak_mb = memory.stop()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    run.e2e["peak_rss_mb"] = peak_mb

    names = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    values = dict(run.layer) if args.trace else dict(run.e2e)
    if args.trace:
        self_s = tracer.self_time_by_layer()
        self_s["session"] = session_s
        for layer, secs in self_s.items():
            values[f"{layer}.self_s"] = secs
    missing = [n for n in names if args.trace == 0 and n not in values]
    for n in missing:
        run.problems.append(f"metric {n} was not measured")
    correct = (
        run.attempted > 0
        and run.failed == 0
        and not missing
        and run.selftest_tried > 0
        and not run.selftest_missed
    )
    metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in names.items()}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "samples": run.samples, "problems": run.problems,
        "selftest": {"tried": run.selftest_tried, "missed": run.selftest_missed},
        "notes": run.notes, "end_to_end": run.e2e, "per_layer": run.layer,
    }
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"report-{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    # untraced runs keep their spans too (times only, no counters)
    tracer.write(os.path.join(out_dir, f"spans-{tag}.json"), {"report": report})

    for line in (
        f"xsbench {tag}: samples {run.samples}; checks {run.attempted - run.failed}/{run.attempted} ok; "
        f"checker self-test flagged {run.selftest_tried - len(run.selftest_missed)}/{run.selftest_tried}",
        *(f"problem: {p}" for p in run.problems[:20]),
        *(f"note: {n}" for n in run.notes),
    ):
        print(line, file=result_out)
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics,
    }), file=result_out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
