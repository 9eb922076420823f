"""Per-job wall/time breakdown for one headline query — guide §1's
"empirical" loop without the UI (spark.ui.enabled=false in the bench):
runs the query with a noop sink, then reads the driver's AppStatusStore
for every job it submitted and prints duration, task count, task time,
and the job's call-site/description, slowest first. Usage:

    python tools/query_profile.py <query> [sf_dir] [--cold]

Runs twice (codegen warm-up, then the measured pass) unless --cold.
"""

from __future__ import annotations

import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# Python workers don't inherit the driver's sys.path: point them at
# the same tree, or pandas-UDF stages import another checkout's code
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO_ROOT, os.environ.get("PYTHONPATH")) if p
)


def run_profiled(spark, fn, sf_dir: str):
    store = spark._jsc.sc().statusStore()
    seen = {j.jobId() for j in _jobs(store)}
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t_build = time.perf_counter() - t0
    build_jobs = {j.jobId() for j in _jobs(store)} - seen
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t_exec = time.perf_counter() - t1
    rows = []
    for j in _jobs(store):
        if j.jobId() in seen:
            continue
        dur = None
        if j.completionTime().isDefined() and j.submissionTime().isDefined():
            dur = (
                j.completionTime().get().getTime()
                - j.submissionTime().get().getTime()
            ) / 1000.0
        rows.append(
            {
                "job": j.jobId(),
                "phase": "build" if j.jobId() in build_jobs else "exec",
                "dur": dur if dur is not None else -1.0,
                "tasks": j.numCompletedTasks(),
                "desc": (j.description().get() if j.description().isDefined()
                         else j.name())[:110],
            }
        )
    return t_build, t_exec, rows


def _jobs(store):
    jl = store.jobsList(None)
    return [jl.apply(i) for i in range(jl.size())]


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cold = "--cold" in sys.argv
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("query-profile")
        .config("spark.sql.shuffle.partitions", str(2 * int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.appStateStore.asyncTracking.enable", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    try:
        from bench import _bench_variants

        fn = _bench_variants().get(name) or queries[name]
    except Exception:
        fn = queries[name]

    if not cold:
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    t_build, t_exec, rows = run_profiled(spark, fn, sf_dir)
    total_dur = sum(r["dur"] for r in rows if r["dur"] > 0)
    print(f"== {name}  build={t_build:.2f}s exec={t_exec:.2f}s "
          f"jobs={len(rows)} sum_job_wall={total_dur:.2f}s")
    for r in sorted(rows, key=lambda r: -r["dur"])[:40]:
        print(f"  job {r['job']:>5} [{r['phase']}] {r['dur']:7.2f}s  "
              f"tasks={r['tasks']:>5}  {r['desc']}")
    spark.stop()


if __name__ == "__main__":
    main()
