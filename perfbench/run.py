#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve|churn --seed N \
        --seconds S --trace 0|1

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (the traced run also writes
its spans to ``perfbench/out/``). A ``# host`` line before it records
cores, Spark and Java versions and JVM heap: figures taken at another
core count are not comparable. Exits non-zero, printing no result, when
the engine package is not next to this directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rag_vertex_ai_vector_search_spark"
WORKLOADS = ("serve", "churn")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Size Spark to this host and keep every file it writes inside the
    run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM of the run (launcher and driver) keeps its temp
        # files and perf data out of the shared /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str):
    from rag_vertex_ai_vector_search_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_confs={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.ui.enabled": "false",
        },
    )


def cpu_ticks() -> list[int] | None:
    """The aggregate cpu line of /proc/stat (None where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after) -> float | None:
    """Share of CPU time the hypervisor gave to others between two
    samples: figures from runs with a high share are not comparable."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return round(delta[7] / sum(delta), 4) if sum(delta) else None


def host_facts(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cores": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "jvm_heap_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20),
        "python": sys.version.split()[0],
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    ticks = cpu_ticks()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    spark = None
    try:
        spark = start_spark(work)
        import spans
        import workloads

        facts = host_facts(spark)
        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds, T_START)
        getattr(workloads, args.workload)(run)
        facts["steal_share"] = steal_share(ticks, cpu_ticks())
        print("# host " + json.dumps(facts), flush=True)
        e2e = run.metrics()
        if args.trace:
            metrics = spans.per_layer_metrics(tracer)
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            tracer.write(
                os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                {"host": facts, "workload": args.workload, "seed": args.seed,
                 "end_to_end": e2e, "trace_overhead_s": tracer.overhead_s},
            )
        else:
            metrics = e2e
        result = {
            "correct": not run.setup_problems,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
        if run.setup_problems:
            print(f"set-up checks failed: {run.setup_problems}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    # printed only after the JVM has exited, so it is the last line
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
