#!/usr/bin/env python3
"""Benchmark of the sparklog lakehouse path: one command, three workloads.

    python3 perfbench/run.py --workload {suite,ingest,serving} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed inside
``.perfbench_work/`` under the root, set-up is untimed warm-up, then the
workload is measured for ``--seconds``. Every operation's output is checked.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end set, with ``--trace 1`` the per-layer set (see
README.md). The line before it, prefixed ``detail``, gives the
workload-specific figures (freshness, dashboard and query latency) with
sample counts. Exit status is 0 only when every output was correct.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import common  # noqa: E402

# Metrics every run prints with --trace 0. The same three for every workload:
# each workload defines its own unit of work (README.md).
END_TO_END = {"setup_s": "s", "work_s": "s", "ok_ratio": "ratio"}

# Metrics every run prints with --trace 1. A layer the workload does not pass
# through reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.rss_peak_mb": "MiB",
    "operators.build_s": "s",
    "operators.build_s.loops": "s",
    "operators.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_mb": "MiB",
    "exec.shuffle_records": "count",
    "exec.spill_mb": "MiB",
    "exec.busy_ratio": "ratio",
    "receiver.post_p50_ms": "ms",
    "receiver.post_tail_ms": "ms",
    "ingest.batch_s": "s",
    "ingest.jobs": "count",
    "ingest.files_per_batch": "count",
    "ingest.bytes_per_log": "B",
    "registry.sync_ms": "ms",
    "registry.read_s": "s",
    "registry.files": "count",
    "serving.health_p50_ms": "ms",
    "serving.q5_p50_ms": "ms",
    "serving.q6_p50_ms": "ms",
    "serving.jobs_per_request": "count",
    "serving.route_share.rollup": "ratio",
    "serving.route_share.pruned": "ratio",
    "serving.route_share.raw": "ratio",
    "serving.sender_late_ms": "ms",
    "compaction.s": "s",
    "rollup.build_s": "s",
    "trace.overhead_pct": "%",
}

WORKLOADS = ("suite", "ingest", "serving")


@dataclass
class Context:
    spark: object
    tracer: object
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int
    attempted: int = 0
    failed: int = 0
    timing_start: float | None = None
    layers: dict = field(default_factory=lambda: dict.fromkeys(PER_LAYER, 0.0))
    detail: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; report a wrong one on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong output: {what}", file=sys.stderr)
        return ok

    def fail(self, what: str) -> None:
        """Count one operation that raised."""
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: operation failed: {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def start_timing(self) -> float:
        """Mark the end of set-up; returns the start of the timed window."""
        self.timing_start = time.perf_counter()
        return self.timing_start

    def traced(self, i: int) -> bool:
        """In a traced run, every second operation is traced, so the
        untraced ones in between give the overhead baseline."""
        return self.trace and i % 2 == 1


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(args, work: str):
    """Fit the session to this machine, then build it through the package's
    own ``get_spark``. Everything Spark and Python write goes under ``work``."""
    from demo_otel_parquet_antalya_spark.session import get_spark

    cpus, heap = common.machine_fit()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    print(f"perfbench: SPARK_GRAFT_CPUS={cpus} SPARK_GRAFT_DRIVER_MEM={heap}", flush=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files in the system temp directory, for the launcher JVM
    # or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if args.trace:
        # keep every job and stage of the run for the end-of-run read
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    if args.workload == "serving":
        from demo_otel_parquet_antalya_spark.serving import serving_fair_conf

        conf.update(serving_fair_conf(tmp_dir=tmp))
    return get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf), cpus


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit, also when the py4j
    connection is already broken."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an exception, so the JVM is stopped and waited
    # for and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    # Import the package first: without it there is nothing to measure, and
    # the run must fail before it writes anything. It must be this
    # checkout's copy, never an installed one.
    import demo_otel_parquet_antalya_spark as pkg

    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        raise SystemExit(f"perfbench: package imported from {pkg.__file__}, not from {ROOT}")

    import workloads
    from spans import Tracer

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    spark = None
    try:
        t0 = time.perf_counter()
        spark, cores = start_session(args, work)
        ctx = Context(
            spark=spark,
            tracer=Tracer(spark, args.workload, enabled=False),
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            work=work,
            cores=cores,
        )
        ctx.layers["session.start_s"] = time.perf_counter() - t0
        work_s = getattr(workloads, args.workload)(ctx)
        ctx.layers["session.rss_peak_mb"] = common.vm_hwm_mb(spark._jvm.ProcessHandle.current().pid())
        if ctx.trace:
            workloads.collect_jobs(ctx)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    ok_ratio = (ctx.attempted - ctx.failed) / ctx.attempted if ctx.attempted else 0.0
    if ctx.trace:
        metrics, units = ctx.layers, PER_LAYER
        path = os.path.join(base, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                       "per_layer": ctx.layers, "detail": ctx.detail}, f, indent=1, sort_keys=True)
    else:
        setup_s = ctx.timing_start - PROCESS_START
        metrics = {"setup_s": setup_s, "work_s": work_s, "ok_ratio": ok_ratio}
        units = END_TO_END
    correct = ctx.failed == 0 and ctx.attempted > 0
    print("detail " + json.dumps(ctx.detail, sort_keys=True))
    print(json.dumps(common.result_line(correct, max(ctx.attempted, 1), ctx.failed, metrics, units)), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
