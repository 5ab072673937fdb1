#!/usr/bin/env python3
"""Pipeline benchmark: one workload per run, timed end to end or per layer.

    python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``).  Everything the run writes goes
under ``.perfbench_work/`` in the checkout.  See perfbench/NOTES.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def environment(work: str) -> None:
    """Pin the session to this process's box and keep every file it
    writes inside the checkout."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SPARK_MASTER", None)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


class Context:
    """What every workload shares: the session, seed, tracer, ledger and
    fresh directories."""

    def __init__(self, spark, seed: int, work: str):
        from perfbench.trace import Tracer
        from perfbench.workloads import Ledger

        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = Tracer(spark, enabled=False)
        self.ledger = Ledger()
        self._n = 0

    def fresh(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.work, "runs", f"{self._n:03d}-{name}")
        os.makedirs(path)
        return path


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - PROCESS_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until both have ended."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    environment(work)
    sys.path.insert(0, ROOT)

    # an import failure (no program in this checkout) exits non-zero here
    from prometheus_anomaly_detection_lstm_spark import shipping
    from prometheus_anomaly_detection_lstm_spark.session import get_spark
    from prometheus_anomaly_detection_lstm_spark.sources.prometheus import PrometheusDataSource

    from perfbench.trace import MemSampler, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    mem = MemSampler().start()
    t = time.time()
    spark = get_spark("perfbench")
    session_start_s = time.time() - t
    try:
        shipping.ensure_shipped(spark)
        spark.dataSource.register(PrometheusDataSource)
        ctx = Context(spark, args.seed, work)
        workload = WORKLOADS[args.workload](ctx)
        workload.warm()
        # set-up time is the CPU time of the process tree so far: the wall
        # time of a cold start moves with the CPU the host steals far more
        # than its CPU time does.  One set-up per process: a repeat in the
        # same process would find the JVM, the workers and the imports warm
        setup_s = tree_cpu_s()
        log(f"set-up {time.time() - PROCESS_START:.2f} s, {setup_s:.2f} cpu s "
            f"(session {session_start_s:.2f} s)")
        try:
            workload.measure(args.seconds, bool(args.trace))
        finally:
            workload.close()
        log("measured")
        if args.trace:
            metrics = workload.layer_metrics()
            metrics["session.start_s"] = session_start_s
            metrics["trace.overhead_s"] = workload.overhead()
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            ctx.tracer.dump(
                os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"),
                {"metrics": metrics, "errors": ctx.ledger.errors},
            )
        else:
            metrics = workload.end_to_end()
            metrics["setup_s"] = setup_s
    finally:
        stop_spark(spark)
    log("stopped")
    peak_mem_mb = mem.stop()
    if not args.trace:
        metrics["peak_mem_mb"] = peak_mem_mb
    shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    # a layer this workload does not run reads 0; an unknown name is a bug
    unknown = set(metrics) - set(units)
    for err in ctx.ledger.errors:
        print(f"check failed: {err}", file=sys.stderr)
    if unknown:
        print(f"metrics not in BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
    ok = ctx.ledger.failed == 0 and not unknown
    result = {
        "correct": ok,
        "attempted": max(ctx.ledger.attempted, 1),
        "failed": ctx.ledger.failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
