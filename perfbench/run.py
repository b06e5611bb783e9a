#!/usr/bin/env python3
"""Benchmark command for the search engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root (any checkout that holds the
``sequential_query_expansion_spark`` package). Workloads are defined in
``workloads.py``. The run generates its inputs from ``--seed``, sets up,
measures for ``--seconds`` seconds, checks the program's outputs against
the pure-Python oracle, and prints a human-readable report followed by
one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` spans are recorded around every call
into the program and the metrics are the per-layer ones.

Everything the run writes (Spark scratch, temp files, index directories)
goes under ``.perfbench_work/`` in the checkout and is removed at exit.
Tests for the helpers: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sequential_query_expansion_spark"


def _hermetic_env(work: str) -> None:
    """Point every import, worker and scratch file at this checkout."""
    sys.path.insert(0, ROOT)
    # Spark's Python workers inherit this process's environment; without
    # this they import the package only when cwd happens to hold it
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the env var would override the spark.local.dir set below
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # no hsperfdata files in /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass                         # another run is still using it


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise OSError(f"no VmHWM for {pid}")


class SparkProcess:
    """The run's SparkSession and its gateway JVM; ``stop`` is
    idempotent and records the JVM's peak RSS before it exits."""

    def __init__(self, work: str, cpus: int):
        from pyspark import SparkContext

        from sequential_query_expansion_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
                # the inputs are small; leave the shared host its memory
                "spark.driver.memory": "2g",
                # keep every job and stage for the span resolver
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.start_s = time.perf_counter() - t0
        self._gateway = SparkContext._gateway
        self.jvm_peak_mb = 0.0

    def stop(self) -> None:
        """Stop the context, then the gateway JVM, and wait for it."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        proc = getattr(self._gateway, "proc", None)
        if proc is not None:
            self.jvm_peak_mb = _vm_hwm_mb(proc.pid)
        self.spark.stop()
        self.spark = None
        self._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()       # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _hermetic_env(work)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}",
              file=sys.stderr)
        _remove_work(work)
        return 2

    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        _remove_work(work)
        return 2

    from spans import Tracer

    prepare, run = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    proc = None
    try:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=1) as pool:
            prepared = pool.submit(prepare, args.seed)
            proc = SparkProcess(work, cpus)
            inputs = prepared.result()
        start_s = time.perf_counter() - t0
        tracer = Tracer(proc.spark.sparkContext, enabled=bool(args.trace))

        def release_spark():
            tracer.detach()
            proc.stop()

        ctx = Context(
            spark=proc.spark, seconds=args.seconds,
            work=work, cpus=cpus, tracer=tracer, release_spark=release_spark,
        )
        result = run(ctx, inputs)
        release_spark()
    finally:
        if proc is not None:
            proc.stop()
        _remove_work(work)
    result.setup_s += start_s
    peak_rss_mb = _vm_hwm_mb("self") + proc.jvm_peak_mb

    result.report["session_s"] = (proc.start_s, "s")
    result.report["peak_rss_mb"] = (peak_rss_mb, "MB")
    result.report["setup_s"] = (result.setup_s, "s")
    result.report["ops_failed_frac"] = (
        result.failed / max(1, result.attempted), "ratio")
    for name, (value, unit) in sorted(result.report.items()):
        print(f"{args.workload}  {name:<40} {value:>14.6g} {unit}")
    for line in result.notes:
        print(f"{args.workload}  {line}")

    if args.trace:
        metrics = result.per_layer
    else:
        metrics = dict(result.end_to_end)
        metrics["setup_s"] = (result.setup_s, "s")
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
