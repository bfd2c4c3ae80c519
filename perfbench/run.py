"""Benchmark entry point.

    python3 perfbench/run.py --workload query --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, sets the engine up (session, inputs, index, warm-up; timed as
`setup_s`), runs whole rounds of the workload for about `--seconds`,
checks every answer against perfbench/oracle.py and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. A call into the
engine that raises counts as failed, and the rest of its phase's round
is skipped. `--trace 0` reports the end-to-end metrics; `--trace 1`
wraps every call into a layer in a span and reports the per-layer
metrics instead (and writes the spans to .perfbench_traces/). All
scratch data lives under .perfbench_tmp/ in the repository and is
removed on exit, also after a failure.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def session_conf(scratch: str) -> dict:
    """Spark sized from this machine: local[nproc], a driver heap of a
    quarter of the memory (1-8 GiB), every local directory inside the
    run's scratch directory."""
    cores = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            mem = min(mem, int(limit))
    except OSError:
        pass
    heap_gb = max(1, min(8, mem // 4 // 2**30))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "cores": cores,
        "driver_memory": f"{heap_gb}g",
        "extra_conf": {
            "spark.local.dir": os.path.join(scratch, "local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    }


class Session:
    """Owns the SparkSession (and the JVM behind it) of one run."""

    def __init__(self, scratch: str, tracer):
        from data_text_search_spark.session import get_spark
        self._get_spark = get_spark
        self.conf = session_conf(scratch)
        # the JVM launcher's temp files and the Python workers (which
        # inherit the environment) follow these
        tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
        self.tracer = tracer
        self.spark = None

    def start(self):
        with self.tracer.span("session.get_spark"):
            self.spark = self._get_spark(app_name="perfbench", **self.conf)
        self.tracer.attach(self.spark)
        return self.spark

    def close(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def call_p50_gmean(calls: list[tuple[str, float]]) -> float:
    """Geometric mean over call kinds of each kind's median wall time:
    every entry point (and first-touch and repeated lookups apart)
    weighs the same, however often the workload calls it."""
    by_kind: dict[str, list[float]] = {}
    for kind, wall in calls:
        by_kind.setdefault(kind, []).append(wall)
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_kind.values()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import oracle
    from tracing import Tracer, per_layer_metric_names
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    oracle.self_check()
    scratch = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(scratch)
    tracer = Tracer(enabled=bool(args.trace))
    session = None
    try:
        t = time.perf_counter()
        with tracer.span("setup"):
            session = Session(scratch, tracer)
            run = Run(args.seed, scratch, session.start(), tracer)
            phases = [cls(run) for cls in WORKLOADS[args.workload]]
            for phase in phases:
                phase.setup()
        setup_s = time.perf_counter() - t
        round_s, start, last = [], time.perf_counter(), 0.0
        while not round_s or (time.perf_counter() - start) + last <= args.seconds:
            t, first = time.perf_counter(), len(run.calls)
            with tracer.span("round"):
                for phase in phases:
                    failed = len(run.failures)
                    try:
                        phase.round()
                    except Exception:
                        if len(run.failures) == failed:
                            raise   # a fault of the benchmark, not a call
            last = time.perf_counter() - t
            round_s.append(sum(w for _, w in run.calls[first:]))
        for phase in phases:
            phase.check()
        for what in run.failures[:20]:
            print(f"call failed: {what}", file=sys.stderr)
        for what in run.checks_failed[:20]:
            print(f"check failed: {what}", file=sys.stderr)
        if not run.calls:
            raise SystemExit("no call into the engine succeeded")
        e2e = {"setup_s": (setup_s, "s"),
               "driver_rss_mb": (peak_rss_mb(), "MB"),
               "round_s": (statistics.median(round_s), "s"),
               "call_p50_gmean_ms": (1e3 * call_p50_gmean(run.calls), "ms")}
        if args.trace:
            layer = tracer.metrics()
            metrics = {n: {"value": layer[n], "unit": u}
                       for n, u in per_layer_metric_names()}
            out_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
                        {"end_to_end": {k: v for k, (v, _) in e2e.items()},
                         "per_layer": layer, "rounds": len(round_s)})
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        result = {"correct": not run.checks_failed,
                  "attempted": run.attempted,
                  "failed": len(run.failures), "metrics": metrics}
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass    # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
