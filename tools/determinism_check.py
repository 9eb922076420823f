"""Partition-count determinism sweep.

The DuckDB-oracle gate proves each query's RESULT is right under ONE
Spark configuration; this tool proves the result is a FUNCTION OF THE
DATA, not of the physical plan: every ``__spark_entry__.queries()``
entry runs under two deliberately different executions — few fat
shuffle partitions vs many thin ones, different parallelism, AQE
coalescing on vs off — and the order-insensitive value hash (same
normalization as tools/check_correctness.py) must be identical.

This is the check that catches float summation-order sensitivity,
limit/row_number ties broken by physical order, and any accidental
dependence on spark_partition_id — the failure class the engine's
integer-exact/tiebreak discipline exists to prevent, which single-
config oracle comparison can only catch by luck. Usage:

    python tools/determinism_check.py [sf_dir] [query ...]
    DETERMINISM_JSON_OUT=path python tools/determinism_check.py
"""

from __future__ import annotations

import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# Python workers don't inherit the driver's sys.path: point them at
# the same tree, or pandas-UDF stages import another checkout's code
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO_ROOT, os.environ.get("PYTHONPATH")) if p
)

from check_correctness import normalize  # noqa: E402  (same dir)

CONFIGS = [
    # (label, master, shuffle partitions, AQE coalesce)
    ("fat", "local[4]", "3", "false"),
    ("thin", "local[16]", "48", "true"),
]


def _session(master: str, parts: str, coalesce: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(master)
        .appName(f"determinism-{parts}")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )


def main() -> int:
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = {
        n: f
        for n, f in entrymod.queries().items()
        if not only or n in only
    }

    hashes: dict[str, dict[str, tuple]] = {n: {} for n in qs}
    errors: dict[str, str] = {}
    for label, master, parts, coalesce in CONFIGS:
        spark = _session(master, parts, coalesce)
        spark.sparkContext.setLogLevel("ERROR")
        for name, fn in qs.items():
            if name in errors:
                continue
            try:
                hashes[name][label] = normalize(fn(spark, sf_dir).toPandas())
            except Exception as e:  # noqa: BLE001 — report, keep sweeping
                errors[name] = f"{label}: {str(e)[:200]}"
        spark.stop()

    failures = []
    results: dict[str, dict] = {}
    for name in qs:
        if name in errors:
            print(f"ERR  {name}: {errors[name]}")
            failures.append(name)
            results[name] = {"deterministic": False, "err": errors[name]}
            continue
        got = hashes[name]
        ok = len({v[2] for v in got.values()}) == 1 and (
            len({v[0] for v in got.values()}) == 1
        )
        results[name] = {
            "deterministic": ok,
            "rows": got[CONFIGS[0][0]][0],
            "hash": got[CONFIGS[0][0]][2],
            "err": None,
        }
        if ok:
            print(f"OK   {name}: {got[CONFIGS[0][0]][2]}")
        else:
            failures.append(name)
            print(f"DIFF {name}: " + " | ".join(
                f"{lbl}={v[0]} rows {v[2]}" for lbl, v in got.items()
            ))

    out_json = os.environ.get("DETERMINISM_JSON_OUT")
    if out_json:
        import json

        with open(out_json, "w") as fh:
            json.dump(results, fh, indent=1)
        print(f"wrote {out_json} ({len(results)} queries)")
    print(f"\n{'ALL DETERMINISTIC' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
