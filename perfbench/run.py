#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, measured with tracing off;
``--trace 1`` is a separate run with the same seed that records spans
and Spark's event log and prints the per-layer metrics.  Inputs are
generated from ``--seed`` under ``.perfbench_work/`` at the root of the
checkout, whatever the working directory; only the span file of a
traced run is kept there.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("analyst_mix", "daily_ingest")
# One client on local[2], with the run pinned to two CPUs: the same shape
# on any box with two or more.  On a shared 4-vCPU KVM host whose speed
# drifts with its load, five interleaved seeds of analyst_mix spread 0.09
# (quartile spread / median of round_s) pinned to two CPUs against 0.27
# on all four.
CPUS = sorted(os.sched_getaffinity(0))[:2]
CORES = len(CPUS)


def _environment(work: str) -> None:
    """Point every process the run starts at the checkout: mapInPandas
    workers import the engine from PYTHONPATH (a sys.path insert in the
    driver does not reach them), and scratch space stays in ``work``."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no /tmp/hsperfdata_* from the launcher JVM (the driver JVM's flag is set with its conf)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)


def _stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def _adopt_orphans() -> None:
    """Become the child subreaper: the Python workers are children of the
    driver JVM, and when it exits they are re-parented to this process
    instead of init, so that ``_reap`` can wait for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap(timeout: float = 30.0) -> None:
    """Wait until every process the run started has exited."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid == 0:
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    tracing = bool(args.trace)

    _adopt_orphans()
    os.sched_setaffinity(0, CPUS)  # inherited by the driver JVM and its workers
    sys.path.insert(0, ROOT)
    import specialsid_spark  # noqa: F401 - fail fast when the engine is absent

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    _environment(work)
    from perfbench.gen import write_tables
    from perfbench.metrics import report
    from perfbench.trace import Tracer, median, self_times
    from perfbench.workloads import SF, eventlog_layers, run_ingest, run_mix

    try:
        gen_s = 0.0
        sf_dir = os.path.join(work, "tables")
        if args.workload != "daily_ingest":
            t = time.perf_counter()
            write_tables(sf_dir, args.seed, SF)
            gen_s = time.perf_counter() - t

        from specialsid_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        }
        log_dir = os.path.join(work, "eventlog")
        if tracing:
            os.makedirs(log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
                "spark.eventLog.rolling.maxFileSize": "10m",
            })
        tracer = Tracer(tracing, args.workload)
        t_proc = T_PROC + gen_s  # input generation is not set-up
        with tracer.span("workload", args.workload) as root:
            t = time.perf_counter()
            with tracer.span("session.start", "setup"):
                spark = get_spark(f"perfbench-{args.workload}", master=f"local[{CORES}]",
                                  shuffle_partitions=CORES, extra_conf=conf)
            t_session = time.perf_counter() - t
            try:
                if args.workload == "daily_ingest":
                    res = run_ingest(spark, os.path.join(work, "ingest"), args.seed,
                                     args.seconds, tracer, t_proc, t_session)
                else:
                    res = run_mix(spark, sf_dir, args.seconds, tracer, t_proc, t_session)
            finally:
                with tracer.span("session.stop", "teardown"):
                    _stop(spark)

        if args.workload != "daily_ingest":
            res.layers["gen.s"] = gen_s
        res.layers["failed_ratio"] = res.failed / res.attempted
        if tracing:
            if res.call_spans:
                eventlog_layers(res, log_dir)
            res.layers["trace.round_s"] = median(res.rounds)
            # the share of the run's wall time inside a layer's span
            accounted = 1 - self_times(tracer.spans)[root.sid] / root.wall
            res.layers["trace.accounted_ratio"] = accounted
            if accounted < 0.95:
                print(f"self-check: layer spans cover only {accounted:.3f} of the run", file=sys.stderr)
                res.correct = False
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json"))
    finally:
        _reap()
        shutil.rmtree(work, ignore_errors=True)

    # every timed sample, for statistics the result line does not carry
    print("samples " + json.dumps({"rounds": res.rounds, "calls": res.calls}), file=sys.stderr)
    print(json.dumps(report(res, tracing)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
