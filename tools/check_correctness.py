"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf directory, then
compares row count, column names, and an order-insensitive value hash
(rows sorted, columns sorted by name). Usage:

    python tools/check_correctness.py [sf_dir] [query_name ...]
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

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df) -> tuple[int, list[str], str]:
    """pandas df → (rows, sorted cols, canonical hash)."""
    import hashlib

    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            df[c] = col.round(9)
        elif pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]")
        elif col.dtype == object:
            df[c] = col.astype(str)
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return len(df), list(df.columns), h


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("correctness-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            results[name] = {"err": str(e)[:200]}
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures.append(name)
            results[name] = {"err": "oracle: " + str(e)[:200]}
            continue
        sn, so = normalize(sdf), normalize(odf)
        results[name] = {
            "rows_match": sn[0] == so[0],
            "schema_match": sn[1] == so[1],
            "hash_match": sn[2] == so[2],
            "spark_rows": sn[0],
            "oracle_rows": so[0],
            "err": None,
        }
        status = "OK" if sn == so else "MISMATCH"
        if sn != so:
            failures.append(name)
            print(f"{status} {name}: spark={sn[0]} rows {sn[2]} | duck={so[0]} rows {so[2]}")
            if sn[1] != so[1]:
                print(f"    cols spark={sn[1]}")
                print(f"    cols duck ={so[1]}")
            elif sn[0] == so[0]:
                # find first differing row for debugging
                s_rows = sorted(
                    tuple(str(v) for v in r)
                    for r in sdf[sorted(sdf.columns)].itertuples(index=False, name=None)
                )
                o_rows = sorted(
                    tuple(str(v) for v in r)
                    for r in odf[sorted(odf.columns)].itertuples(index=False, name=None)
                )
                for a, b in zip(s_rows, o_rows):
                    if a != b:
                        print(f"    first diff:\n      spark={a}\n      duck ={b}")
                        break
        else:
            print(f"{status} {name}: {sn[0]} rows hash={sn[2]}")
    spark.stop()
    out_json = os.environ.get("CHECK_JSON_OUT")
    if out_json:
        import json

        with open(out_json, "w") as fh:
            json.dump(results, fh, indent=1)
        print(f"wrote {out_json} ({len(results)} queries)")
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
