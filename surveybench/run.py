"""Survey-integration benchmark: one workload, one seed, one fresh process.

    python3 surveybench/run.py --workload weights --seed 1 --seconds 5 --trace 0

A closed loop of one operation at a time on ``local[N]``, N = min(4,
usable CPUs).  Set-up (session start, input generation and load, one
warm-up operation) is timed as ``setup_s``; then operations run until
``--seconds`` have passed, in whole rounds of the workload's
``round_ops`` operations (at least one round), each checked against the
NumPy references.  The last stdout line is the JSON result: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import proctree
import tracer as tracing
from workloads import PKG, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "4g"
SCRATCH = os.path.join(ROOT, ".surveybench_tmp")


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()


def _pin_environment() -> None:
    """Everything a run depends on that would otherwise come from the
    caller's environment: worker import path, CPU count, heap, timezone
    and scratch directories (kept inside the checkout)."""
    os.makedirs(SCRATCH, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TZ"] = "UTC"
    os.environ["TMPDIR"] = SCRATCH
    time.tzset()
    sys.path.insert(0, ROOT)


PINNED_GC = "-XX:+UseParallelGC"


def _spark(gc: str = PINNED_GC):
    """The engine's session under the pinned environment.  ``gc`` holds
    the collector flags; an empty string leaves the JVM's default (G1)."""
    from importlib import import_module

    get_spark = import_module(PKG).get_spark
    return get_spark(
        "surveybench",
        **{
            "spark.driver.memory": DRIVER_MEM,
            "spark.sql.session.timeZone": "UTC",
            # ParallelGC: see README.md, "Why the parallel collector"
            "spark.driver.extraJavaOptions":
                f"{gc} -XX:-UsePerfData"
                f" -Duser.timezone=UTC -Djava.io.tmpdir={SCRATCH}",
            "spark.local.dir": SCRATCH,
            "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"surveybench: package {PKG} not found beside the benchmark",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"surveybench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    _pin_environment()
    wl = WORKLOADS[args.workload]
    tr = tracing.Tracer(PKG, tracing.LAYERS)
    if args.trace:
        tr.install()

    spark = _spark()
    try:
        return _run(spark, wl, args, tr)
    finally:
        pids = [p for p in proctree.tree() if p != os.getpid()]
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        _wait_ended(jvm, pids)
        shutil.rmtree(SCRATCH, ignore_errors=True)


def _wait_ended(jvm, pids: list[int], timeout: float = 60.0) -> None:
    """Close the JVM's stdin (it exits on EOF) and wait until the JVM,
    the PySpark daemon and its workers have all ended; kill what is
    left after ``timeout``."""
    jvm.stdin.close()
    deadline = time.time() + timeout
    try:
        jvm.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    for pid in pids:
        while proctree.alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _run(spark, wl, args, tr) -> int:
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    rss = proctree.PeakRss()
    problems: list[str] = []

    t_session = time.time() - T_PROCESS
    st = wl.setup(spark, args.seed)
    t_inputs = time.time() - T_PROCESS
    warm = wl.op(st, 0)
    problems += [f"warm-up: {p}" for p in wl.check(st, warm)]
    setup_s = time.time() - T_PROCESS
    rss.sample(proctree.tree())

    op_s, cpu_s, layer_ops = [], [], []
    attempted = failed = 0
    next_job = sc.statusTracker().getJobIdsForGroup(None)
    next_job = max(next_job, default=-1) + 1
    t_window = time.time()
    last = None
    # whole rounds: stop only between rounds, once --seconds have passed
    while (attempted == 0 or attempted % wl.round_ops
           or time.time() - t_window < args.seconds):
        attempted += 1
        pids = proctree.tree()
        cpu0, t0 = proctree.cpu_seconds(pids), time.perf_counter()
        res = None
        try:
            if args.trace:
                with tr.root():
                    res = wl.op(st, attempted)
            else:
                res = wl.op(st, attempted)
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc()
        t1 = time.perf_counter()
        pids = proctree.tree()
        cpu_s.append(proctree.cpu_seconds(pids) - cpu0)
        op_s.append(t1 - t0)
        rss.sample(pids)
        if args.trace:
            per_op, next_job = tr.op_metrics(sc, next_job)
            layer_ops.append(per_op)
        bad = ["raised"] if res is None else wl.check(st, res)
        if bad:
            failed += 1
            print(f"op {attempted}: " + "; ".join(bad), file=sys.stderr)
        else:
            last = res
    if last is not None:
        problems += [f"final: {p}" for p in wl.final_check(st, last)]

    env = {"spark": spark.version,
           "java": sc._jvm.System.getProperty("java.version"),
           "python": sys.version.split()[0],
           "nproc": os.cpu_count(), "cpus_used": CPUS,
           "driver_memory": DRIVER_MEM, "ops": attempted,
           "setup_split_s": [round(t_session, 3), round(t_inputs, 3)],
           "op_s_all": [round(v, 4) for v in op_s]}
    print(json.dumps({"env": env}))
    for p in problems:
        print(p, file=sys.stderr)

    if args.trace:
        metrics = tracing.per_layer(layer_ops, op_s)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_s": {"value": statistics.median(op_s), "unit": "s"},
            "cpu_s": {"value": statistics.median(cpu_s), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb(), "unit": "MB"},
        }
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
