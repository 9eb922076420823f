"""Scale smoke: ingest N synthetic rows (default 5M — 50× the sf0.1
events table) through the full insert pipeline and query a cell set
back, printing per-phase wall times. Not part of pytest; run ad hoc:

    python tools/scale_smoke.py [n_rows]
    python tools/scale_smoke.py --rollup-bytes [n_rows]

Exercises compaction grouping, the rollup chain, partitioned writes
and the broadcast-semi-join read path at a volume where shuffle
behavior, not job overhead, dominates.

``--rollup-bytes`` additionally runs the insert with the UI status
REST API enabled and prints shuffle read/write + input/output bytes
PER PYRAMID LEVEL (the insert tags each level's write job via its
job description) — the 100 TB watch metric SCALE.md names: bytes
shuffled per SummingMergeTree level vs input rows.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time
import urllib.request

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# Python workers don't inherit the driver's sys.path: point them at
# the same tree, or pandas-UDF stages import another checkout's code
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO_ROOT, os.environ.get("PYTHONPATH")) if p
)


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def rollup_bytes_by_level(spark) -> dict[str, dict[str, int]]:
    """Aggregate the status REST API's per-stage shuffle/input/output
    bytes by the pyramid-level tag the insert writes into each job
    description (``[res={r}{b|c}]``). One stage is attributed to the
    level of the job that ran it (stages are not shared across level
    jobs: each level's write is a separate action)."""
    base = spark.sparkContext.uiWebUrl
    app = _rest(base, "/api/v1/applications")[0]["id"]
    jobs = _rest(base, f"/api/v1/applications/{app}/jobs")
    stages = {
        s["stageId"]: s
        for s in _rest(base, f"/api/v1/applications/{app}/stages")
        if s["status"] in ("COMPLETE", "ACTIVE")
    }
    out: dict[str, dict[str, int]] = {}
    seen_stage: set[int] = set()
    for job in jobs:
        m = re.search(r"\[res=(\d+[bc])\]", job.get("description") or "")
        if not m:
            continue
        level = out.setdefault(
            m.group(1),
            {"shuffle_read": 0, "shuffle_write": 0, "input": 0,
             "output": 0, "stages": 0},
        )
        for sid in job["stageIds"]:
            if sid in seen_stage or sid not in stages:
                continue  # skipped (reused exchange) or duplicate
            seen_stage.add(sid)
            s = stages[sid]
            level["shuffle_read"] += s["shuffleReadBytes"]
            level["shuffle_write"] += s["shuffleWriteBytes"]
            level["input"] += s["inputBytes"]
            level["output"] += s["outputBytes"]
            level["stages"] += 1
    return out


def main() -> None:
    rollup_bytes = "--rollup-bytes" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_rows = int(args[0]) if args else 5_000_000
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
    from ukis_h3cellstore_spark.h3 import cells as h3c
    from ukis_h3cellstore_spark.h3 import sqlgen as sg

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        # the status REST API rides the UI — only --rollup-bytes pays
        # for it
        .config("spark.ui.enabled", str(rollup_bytes).lower())
        .config("spark.ui.port", "0")
        .config("spark.ui.retainedJobs", "10000")
        .config("spark.ui.retainedStages", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # warm

    schema = (
        CompactedTableSchemaBuilder("scale_set")
        .h3_base_resolutions([4, 6, 8])
        .add_h3index_column()
        .add_aggregated_column("value", "Int64", "Sum")
        .build()
    )
    # ~n_rows/8 distinct res-8 cells → heavy duplicate merging + rollup
    cell = F.expr(sg.synth_cell("(id % " + str(n_rows // 8) + ")", 8, "spark"))
    df = spark.range(n_rows).select(
        cell.alias("h3index"), (F.col("id") % 1000).alias("value")
    )

    store = CellStore(spark, tempfile.mkdtemp(prefix="h3scale_"))
    t0 = time.perf_counter()
    store.insert_h3dataframe_into_tableset(schema, df)
    t1 = time.perf_counter()

    if rollup_bytes:
        per_level = rollup_bytes_by_level(spark)
        print(f"per-level insert bytes at {n_rows:,} input rows:")
        print(f"{'level':>7} {'stages':>6} {'shuffle_w':>12} "
              f"{'shuffle_r':>12} {'input':>12} {'output':>12}")
        for lvl in sorted(per_level):
            s = per_level[lvl]
            print(f"{lvl:>7} {s['stages']:>6} {s['shuffle_write']:>12,} "
                  f"{s['shuffle_read']:>12,} {s['input']:>12,} "
                  f"{s['output']:>12,}")

    # 2000 random existing cells; sampling cost kept out of the timing
    sample = [r.h3index for r in df.select("h3index").distinct().limit(2000).collect()]
    t2 = time.perf_counter()
    out = store.query_tableset_cells("scale_set", sample, 8)
    n = out.df.count()
    t3 = time.perf_counter()

    stats = store.tableset_stats("scale_set").toPandas()
    t4 = time.perf_counter()

    print(f"rows ingested:    {n_rows:,}")
    print(f"insert:           {t1 - t0:8.1f}s  ({n_rows / (t1 - t0):,.0f} rows/s)")
    print(f"query 2000 cells: {t3 - t2:8.1f}s  ({n} rows)")
    print(f"stats:            {t4 - t3:8.1f}s")
    print(stats.to_string(index=False))
    spark.stop()


if __name__ == "__main__":
    main()
