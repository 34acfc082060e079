"""One benchmark run in one fresh process: pin the environment, start
Spark, run one workload, check its outputs, print its result.

``run.py`` starts this file in its own process group and owns its
lifetime; run it through ``run.py``, not directly. Every path it writes
is under ``--run-dir``.

Output (stdout): one ``# detail`` JSON line with the workload's own
named metrics, the environment record and the exit checks, then the
result JSON as the last line.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

PROCESS_START = time.perf_counter()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_driver_memory() -> str:
    """A quarter of physical memory, capped at 4 GiB: the session
    module's 48g default exceeds small hosts, and local mode's single
    JVM is both driver and executor."""
    total_kib = 16 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kib = int(line.split()[1])
                break
    gib = max(1, min(4, total_kib // (4 << 20)))
    return f"{gib}g"


def pin_environment(run_dir: str) -> int:
    """Point every scratch path Spark and the library use into the run
    directory and size the session to the host. Must run before
    pyspark is imported. Returns the cpu count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": host_driver_memory(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, the launcher's too; hsperfdata would land in /tmp
        # whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_GRAFT_SQL_WAREHOUSE": os.path.join(run_dir, "sql-warehouse"),
    })
    return cpus


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's cpus so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("serve", "replay", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()

    cpus = pin_environment(args.run_dir)
    sys.path.insert(0, REPO)
    import bench
    import pyspark
    from flumedb_spark.session import get_spark

    from catalog import catalog
    from common import Run
    from replay import replay
    from serve import serve
    from spans import Tracer

    workload = {"serve": serve, "replay": replay, "catalog": catalog}[args.workload]
    spark = get_spark("perfbench", cpus=cpus)
    session_start_s = time.perf_counter() - PROCESS_START
    tracer = Tracer(spark, enabled=bool(args.trace))
    run = Run(
        spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
        run_dir=args.run_dir, session_start_s=session_start_s,
    )
    steal0, total0 = cpu_ticks()
    try:
        out = workload(run)
    finally:
        steal1, total1 = cpu_ticks()
        active = [q.name or q.id for q in spark.streams.active]
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    if args.trace:
        tracer.dump(args.trace_out)
    # after the workload, so that the probe is not counted in set-up
    calib = bench._calib()

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "calib_s": round(calib, 4),
        "calib_ref_s": bench.CALIB_REF,
        # cpu time the hypervisor gave to other guests while the
        # workload ran: the usual cause of run-to-run drift on a shared host
        "steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "trace": args.trace,
        "active_streams_at_exit": active,
        "named_metrics": out.named,
        "failures": out.failures[:10],
    }
    print("# detail " + json.dumps(detail), flush=True)
    metrics = out.per_layer if args.trace else out.end_to_end
    result = {
        "correct": not out.failures and not active,
        "attempted": out.attempted,
        "failed": len(out.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
