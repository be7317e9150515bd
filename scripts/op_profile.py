"""Where each corpus operator's time goes: wall time, driver-side build
time and Spark jobs per operator of the ``corpus_ops`` benchmark
workload, over inputs the benchmark has already built.

    python scripts/op_profile.py [--variant N] [OP ...]

Reads ``.perfbench_work/inputs/vN`` (built by any
``perfbench/run.py --workload corpus_ops`` run in this checkout, variant
= seed % 4) and never writes to it. Runs the named operators (default:
all 19, in the workload's order) once unmeasured, as the workload's
warm-up does, then once measured, in a session set up like the
workload's (``local[<cores>]``, AQE on, small-scan repartition on). Per
operator it prints:

- ``wall_s``: building the DataFrame plus collecting it in full;
- ``build_s``: the operator call alone, i.e. driver-side plan building
  plus any job it runs eagerly (schema inference, a bounded_head gate);
- ``jobs`` and ``build_jobs``: Spark jobs started in all and during the
  call (under AQE each shuffle stage of a query is a job of its own).
"""

import argparse
import os
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import N_VARIANTS, SUITE, suite_ops, tables_dir  # noqa: E402
from supacrawler_spark.session import get_spark, machine_heap  # noqa: E402


def profile(spark, fn, tables) -> dict:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"op-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = fn(spark, tables)
        t1 = time.perf_counter()
        # the listener bus is asynchronous: drain it before counting
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        build_jobs = len(tracker.getJobIdsForGroup(group))
        df.collect()
        t2 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {"wall_s": t2 - t0, "build_s": t1 - t0,
            "jobs": len(tracker.getJobIdsForGroup(group)),
            "build_jobs": build_jobs}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--variant", type=int, default=1,
                    choices=range(N_VARIANTS))
    ap.add_argument("ops", nargs="*", metavar="OP",
                    help="operators to profile (default: all)")
    args = ap.parse_args()
    unknown = set(args.ops) - set(SUITE)
    if unknown:
        ap.error(f"not a corpus_ops operator: {', '.join(sorted(unknown))}")
    tables = tables_dir(os.path.join(ROOT, ".perfbench_work"), args.variant)
    if not os.path.exists(os.path.join(tables, "_COMPLETE")):
        print(f"no benchmark inputs at {tables}: run "
              "perfbench/run.py --workload corpus_ops first", file=sys.stderr)
        return 2

    os.environ.setdefault("SPARK_DRIVER_MEMORY", machine_heap())
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores,
                      app_name="op-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.supacrawler.smallScanRepartition", "true")
    ops = suite_ops()
    names = args.ops or list(SUITE)
    for name in names:
        profile(spark, ops[name], tables)
    total = {"wall_s": 0.0, "build_s": 0.0, "jobs": 0, "build_jobs": 0}
    print(f"{'operator':24} {'wall_s':>7} {'build_s':>7} {'jobs':>5} "
          f"{'build_jobs':>10}")
    for name in names:
        p = profile(spark, ops[name], tables)
        for k in total:
            total[k] += p[k]
        print(f"{name:24} {p['wall_s']:7.2f} {p['build_s']:7.2f} "
              f"{p['jobs']:5d} {p['build_jobs']:10d}")
    print(f"{'total':24} {total['wall_s']:7.2f} {total['build_s']:7.2f} "
          f"{total['jobs']:5d} {total['build_jobs']:10d}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
