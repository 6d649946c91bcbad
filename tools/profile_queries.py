"""Per-query profiler for the optimization rounds (guide §1).

Usage: python tools/profile_queries.py name1 name2 ... [options]
  --sf=DIR        data dir (default /root/testdata/sf0.1)
  --plans=DIR     if set, write <name>_<suffix>.txt explain("formatted")
  --suffix=before explain file suffix (before/after)
  --reps=2        timing repetitions (min is reported)
  --noop          time via noop sink (materializes every column) instead
                  of the bench's count() action
  --jobs          print per-job wall decomposition (job descriptions are
                  set around the build/action phases)

Times build+action exactly like bench.py (count action, clearCache
between reps) so numbers are comparable to the BENCH records, and
optionally via the noop sink to see full-column materialization cost.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.session import get_spark


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = "/root/testdata/sf0.1"
    plans_dir = None
    suffix = "before"
    reps = 2
    use_noop = "--noop" in sys.argv
    count_jobs = "--jobs" in sys.argv
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]
        elif a.startswith("--plans="):
            plans_dir = a.split("=", 1)[1]
        elif a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
    reg = load_all()
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py so first-touch JIT doesn't pollute numbers
    spark.read.parquet(f"{sf}/lineitem.parquet").count()
    if "q1_pricing_summary" in reg:
        reg["q1_pricing_summary"].build(spark, sf).count()
    par = spark.sparkContext.defaultParallelism
    spark.range(0, par, 1, par).mapInPandas(lambda it: it, "id long").count()
    warm_dir = os.path.join(os.path.dirname(sf.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        for warm_q in (
            "dedup_minhash_lsh_candidates",
            "sim_bruteforce_topk",
            "grouped_user_gap_stats",
        ):
            if warm_q in reg:
                try:
                    reg[warm_q].build(spark, warm_dir).count()
                except Exception:  # noqa: BLE001
                    pass
        spark.catalog.clearCache()

    for name in names:
        spec = reg.get(name)
        if spec is None:
            print(f"{name}: NOT REGISTERED")
            continue
        attempts = []
        build_secs = []
        job_counts = []
        df = None
        for rep in range(reps):
            group = f"profile:{name}:{rep}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            df = spec.build(spark, sf)
            t1 = time.perf_counter()
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            t2 = time.perf_counter()
            build_secs.append(t1 - t0)
            attempts.append(t2 - t0)
            if count_jobs:
                tracker = spark.sparkContext._jsc.sc().statusTracker()  # noqa: SLF001
                job_counts.append(len(tracker.getJobIdsForGroup(group)))
            spark.catalog.clearCache()
            spark.sparkContext._jsc.clearJobGroup()  # noqa: SLF001
        best = min(range(len(attempts)), key=lambda i: attempts[i])
        jobs_msg = f" jobs={job_counts[best]}" if count_jobs else ""
        print(
            f"{name}: {attempts[best]:.3f}s"
            f" (build {build_secs[best]:.3f}s,"
            f" action {attempts[best] - build_secs[best]:.3f}s;"
            f" all {[round(a, 3) for a in attempts]}{jobs_msg})"
        )
        if plans_dir and df is not None:
            os.makedirs(plans_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(plan)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
