"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest_fluentbit --seed 1 \
        --seconds 10 --trace 0

Run it from the repository root.  Inputs are built from ``--seed`` under
``.perfbench_work/`` (removed at exit); the program under test receives
only those files.  With ``--trace 0`` the result carries the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` the per-layer metrics and the
span tree is written to ``.perfbench_work/trace-<workload>-<seed>.json``.
The last line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_fluentbit", "search_committed")
DRIVER_MEM = "2g"  # the session default (48g) is more than a small box has
# The heap is sized up front (initial = max, fixed young generation) but not
# pre-touched: resident memory then follows the heap the program actually
# fills, not G1's resizing, which depends on GC timing and so on the host.
# The JIT compiler threads are a fixed set, so that the CPU time measured
# without them (trace.tree_cpu_s) does not jump when one exits.
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn384m -XX:-UseDynamicNumberOfCompilerThreads"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> int:
    """Everything the run depends on besides the code: cores, memory,
    temporary dirs inside the checkout, and a PYTHONPATH for the workers.

    Spark gets half the CPUs: each task thread feeds a Python worker of
    its own, and the JIT and GC threads run beside them, so ``local[nproc]``
    keeps more threads busy than there are CPUs, and a shared host's
    stolen time then stalls a stage on its slowest task."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    return cores


def start_spark(work: str, cores: int):
    from fluent_bit_clp_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTS}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM itself, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "fluent_bit_clp_spark")):
        print("perfbench: no fluent_bit_clp_spark package beside perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import stats

    spec = stats.load_spec(spec_path)
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    cores = pin_environment(work)
    from perfbench import workloads

    t0 = time.perf_counter()
    spark = start_spark(work, cores)
    workloads.log(f"spark started, local[{cores}]")
    ctx = workloads.Ctx(spark, work, args.seconds, bool(args.trace), args.seed)
    try:
        values = getattr(workloads, args.workload)(ctx)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        for p in ctx.problems:
            print(f"FAILED {p}", file=sys.stderr)
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    if args.trace:
        path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(ctx.spans, f, indent=1)
        print(f"spans: {len(ctx.spans)} written to {os.path.relpath(path, ROOT)}")
    error_rate = ctx.failed / ctx.attempted
    for name in units:
        print(f"{name:32s} {values[name]:>16.4f} {units[name]}")
    print(f"{'error_rate':32s} {error_rate:>16.4f} ratio "
          f"({ctx.failed}/{ctx.attempted} operations failed)")
    print(f"{'wall':32s} {time.perf_counter() - t0:>16.1f} s (whole run, not a metric)")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
