"""Benchmark of the engine: the incremental ETL and the headline queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_incremental --seed 1 \\
        --seconds 15 --trace 0 [--smoke]

Workloads are listed, with why each exists, in ``workloads.py``. Each run
is one client in one driver process on ``local[nproc]``. It sets up (Spark
session, warm-up, output checks), measures for ``--seconds``, prints an
info line and then, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``failed / attempted``
is the share of operations and output checks that failed or were wrong.

End-to-end metrics (``--trace 0``):

- ``setup_s``: session start plus warm-up and the output checks.
- ``pass_cpu_s``: CPU time of one pass over the workload's operations: the
  sum of each operation's median CPU seconds, counted over the driver
  process, its JVM and the JVM's Python workers. Queries: each query once
  (construct, then force to the noop sink). ETL: the backfill into an
  empty warehouse plus one incremental day.
- ``op_geomean_cpu_s``: geometric mean of the operations' median CPU
  seconds, so light queries count as much as heavy ones. ETL: of the
  backfill and the day.

The pass's wall time is a per-layer metric (``wall.pass_s``) and is on the
info line (``op_s``), not an end-to-end one: on a shared host it follows
the hypervisor more than the program. The info line's ``steal_frac`` is
the share of the machine's CPU time the hypervisor took while the
operations ran; 5-10% of steal made query passes 20-40% slower on four
vCPUs, because they are chains of short Spark jobs and py4j round-trips
that each wait for a descheduled CPU. CPU time moved about half as much.

Peak resident memory of the driver's Python process plus its JVM is a
per-layer metric (``mem.peak_rss_mb``) and is printed on the info line. The
driver heap is fixed at its 3 GB maximum, so the figure is mostly the heap
G1 touched (~3.7 GB on the query workload) and is not an end-to-end bound.

Per-layer metrics (``--trace 1``) come from a separate, traced run, and
are per pass like ``pass_cpu_s``. That run also writes every span to
``.perfbench_work/trace-<workload>-<seed>.json`` together with the
per-operation samples (one row per query, one ETL phase breakdown per
run). Counts named ``*_spread`` are the max - min of their count over the
run; 0 means the count repeated exactly.

``--smoke`` runs one pass on the sf0.001 tables, or an ETL backfill and
two days, to check that the benchmark works end to end.

These numbers are not comparable with ``BENCH_r13``-``BENCH_r15``: those
ran the 31 headline rows at sf0.1 on 32 and 8 cores, as min-of-3, with no
ETL.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "youtube_api_data_etl_automation_spark"
DRIVER_MEMORY = "3g"
# A fixed heap, so G1 does not resize it differently from run to run. On a
# loaded 4-vCPU VM, one set of ten query runs with it spread pass_cpu_s by
# 0.10 of its median and one without by 0.21 (the host's load differed
# between the two sets).
DRIVER_JVM_OPTIONS = (f"-Xms{DRIVER_MEMORY}",)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Pin what the engine reads from the environment, and keep every file
    Spark and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    # Every JVM (the launcher too) would write its perf data under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the engine for its pandas UDFs.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.driver.extraJavaOptions=" + " ".join([
            f"-Dderby.system.home={tmp}", *DRIVER_JVM_OPTIONS]),
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'sql')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop(spark) -> None:
    """Stop Spark and wait until its JVM (and so its Python workers) ended."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the gateway server exits on EOF
    jvm.wait(timeout=60)


def metric(value: float, unit: str) -> dict[str, object]:
    return {"value": value, "unit": unit}


def steal_frac(samples) -> float:
    """Share of the machine's CPU time the hypervisor took while the
    operations ran. Above a few percent, the run's times are inflated."""
    ops = [x for ss in samples.values() for x in ss]
    return (sum(x["steal_s"] for x in ops)  # summed over all CPUs
            / (os.cpu_count() * sum(x["op_s"] for x in ops)))


def end_to_end(out, setup_s: float) -> dict[str, dict]:
    from workloads import op_geomean, per_pass

    return {
        "setup_s": metric(setup_s, "s"),
        "pass_cpu_s": metric(per_pass(out.samples, "cpu_s"), "s"),
        "op_geomean_cpu_s": metric(op_geomean(out.samples, "cpu_s"), "s"),
    }


def per_layer(out, rss_mb: float) -> dict[str, dict]:
    from workloads import op_geomean, pass_spread, per_pass

    s = out.samples
    return {
        "mem.peak_rss_mb": metric(rss_mb, "MB"),
        "wall.pass_s": metric(per_pass(s, "op_s"), "s"),
        "wall.op_geomean_s": metric(op_geomean(s, "op_s"), "s"),
        "trace.pass_s": metric(per_pass(s, "unit_s"), "s"),
        "trace.overhead_s": metric(per_pass(s, "overhead_s"), "s"),
        "driver.self_s": metric(per_pass(s, "self_s"), "s"),
        "plans.construct_s": metric(per_pass(s, "construct_s"), "s"),
        "plans.py4j_calls": metric(per_pass(s, "construct_py4j"), "count"),
        "plans.construct_jobs": metric(per_pass(s, "construct_jobs"),
                                       "count"),
        "catalyst.plan_s": metric(per_pass(s, "plan_s"), "s"),
        "sched.jobs": metric(per_pass(s, "jobs"), "count"),
        "sched.jobs_spread": metric(pass_spread(s, "jobs"), "count"),
        "sched.stages": metric(per_pass(s, "stages"), "count"),
        "sched.tasks": metric(per_pass(s, "tasks"), "count"),
        "exec.force_s": metric(per_pass(s, "force_s"), "s"),
        "exec.executor_run_s": metric(
            per_pass(s, "executor_run_ms") / 1000, "s"),
        "exec.shuffle_write_bytes": metric(
            per_pass(s, "shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": metric(per_pass(s, "spill_bytes"), "bytes"),
        "py4j.calls": metric(per_pass(s, "py4j"), "count"),
        "py4j.calls_spread": metric(pass_spread(s, "py4j"), "count"),
        "persist.resident_rdds": metric(
            max(x["resident_rdds"] for ss in s.values() for x in ss),
            "count"),
    }


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    pin_environment(work)
    try:
        return measure(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args: argparse.Namespace, base: str, work: str) -> int:
    import pyspark

    from spans import Py4jCounter, Tracer
    from workloads import WORKLOADS, Run
    from youtube_api_data_etl_automation_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, args.seed, args.seconds,
                  os.path.join(HERE, "data"), work, smoke=args.smoke,
                  jvm_pid=spark.sparkContext._gateway.proc.pid)
        if args.trace:
            py4j = Py4jCounter(spark.sparkContext._gateway._gateway_client)
            py4j.install()
            run.tracer = Tracer(f"{args.workload}.{args.seed}", py4j,
                                spark.sparkContext)
        out = WORKLOADS[args.workload](run)
        rss_mb = (vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
                  + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    finally:
        stop(spark)
    if not out.samples:
        print("perfbench: no operation succeeded", file=sys.stderr)
        return 1

    info = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke,
        "nproc": nproc(), "spark_version": pyspark.__version__,
        "driver_memory": DRIVER_MEMORY,
        "session_s": session_s, "warm_s": out.warm_s, "peak_rss_mb": rss_mb,
        **{key: {op: [x[key] for x in ss] for op, ss in out.samples.items()}
           for key in ("op_s", "cpu_s")},
        "steal_frac": steal_frac(out.samples),
        **out.detail,
    }
    if args.trace:
        metrics = per_layer(out, rss_mb)
        path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
        run.tracer.dump(path, info=info, metrics=metrics,
                        samples=out.samples)
        info["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = end_to_end(out, session_s + out.warm_s)
    print(json.dumps(info))
    print(json.dumps({"correct": out.failed == 0,
                      "attempted": out.attempted, "failed": out.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
