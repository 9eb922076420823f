"""Run one workload of the cell-store benchmark.

    python3 perfbench/run.py --workload {ingest,lookup,traverse} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds a SparkSession on ``local[nproc]``
(at most 4 cores) with the library's recommended configuration,
generates the seed's inputs, sets up (warm-up strip or fixture), runs
the closed-loop operations for ``--seconds``, checks every result
against the Spark-free oracle and prints one human-readable line per
metric followed by the JSON result as the last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns the
Spark UI on, records spans and reports the per-layer metrics, writing
the spans and jobs to ``.perfbench_out/``. Exits 1 when a check
failed, 2 when the package to benchmark is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prepare_environment(workdir: str) -> None:
    """Keep the temporary files of this process and of Spark's Python
    workers inside the checkout, and let the workers import the package
    from any directory. The JVM's scratch paths are set by
    :func:`perfbench.workloads.start_session`."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the script's own directory must not shadow top-level modules
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(
        os.path.abspath(__file__))]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "lookup", "traverse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ukis_h3cellstore_spark", "__init__.py")):
        print(f"perfbench: no ukis_h3cellstore_spark package under {ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_environment(workdir)

    from perfbench import data, workloads

    t0 = time.perf_counter()
    spark = workloads.start_session(workdir, ui=bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        result = workloads.run(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            data.Sizes(), workdir, session_s,
            trace_dir=os.path.join(ROOT, ".perfbench_out"),
        )
    finally:
        workloads.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run's directory is still there

    for note in result.notes:
        print(f"# {note}")
    for name, (value, unit) in result.metrics.items():
        print(f"{args.workload:>8}  {name:<45} {value:>16.6g} {unit}")
    print(json.dumps(result.to_json()))
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
