"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 15 --trace 0

Runs one workload for about ``--seconds`` of measured work and prints, as
the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics
(measured with tracing off); ``--trace 1`` reports the per-layer metrics
of a traced run and writes the traced end-to-end values to stderr, so
``repeat.py --overhead`` can take traced minus untraced.

The session is sized from the machine through the variables
``session.py`` already reads: ``SPARK_GRAFT_CPUS`` = usable CPUs,
``SPARK_GRAFT_DRIVER_MEM`` = a quarter of RAM (1-8 GiB). Everything the
run writes (inputs, warehouses, Spark scratch) goes under
``.perfbench_work/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fordgobike_data_pipeline_spark"

END_TO_END = {
    "setup_s": "s", "op_geomean_s": "s", "op_geomean_cpu_s": "s", "items_per_cpu_s": "1/s", "full_pass_cpu_s": "s",
}


def machine_env(work: str) -> dict[str, str]:
    """Launch environment: session sized from this machine, scratch in
    the checkout, the package importable by Python workers."""
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_gib = max(1, min(8, mem_kib // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    }


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    sys.path[:0] = [ROOT, HERE]
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2

    from spans import CpuClock, PeakRss, Tracer, per_layer_names
    from workloads import WORKLOADS, Ctx, Outcome, fresh_dir

    work = fresh_dir(os.path.join(ROOT, ".perfbench_work", args.workload))
    env = machine_env(work)
    os.environ.update(env)
    os.makedirs(env["TMPDIR"])

    from pyspark import SparkContext

    from fordgobike_data_pipeline_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace), cores=int(env["SPARK_GRAFT_CPUS"]))
    out = Outcome()
    t0 = os.times()
    with tracer.span("session"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    gateway = SparkContext._gateway
    try:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        cpu = CpuClock(os.getpid(), jvm_pid)
        # session start: the driver's CPU since t0 plus all of the new JVM's
        out.setup_s = cpu.seconds() - (t0.user + t0.system + t0.children_user + t0.children_system)
        rss = PeakRss((os.getpid(), jvm_pid))
        WORKLOADS[args.workload](Ctx(spark, tracer, rss, cpu, work, args.seed, args.seconds), out)
    finally:
        tracer.detach()
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)

    if not (out.op_s and out.op_wall_s and out.rates and out.full_pass_s):
        print(f"perfbench: nothing measured ({out.failed} of {out.attempted} failed)", file=sys.stderr)
        return 1
    e2e = {"setup_s": out.setup_s, **out.metrics()}
    tracer.note("session.peak_rss_mb", out.peak_rss_mb)
    if args.trace:
        print("perfbench: traced end-to-end " + json.dumps(e2e), file=sys.stderr)
        units = per_layer_names()
        values = tracer.per_layer()
    else:
        units, values = END_TO_END, e2e
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

