"""Harness self-test: a smoke-sized pass of every workload.

    python3 perfbench/selftest.py

Checks, on one local SparkSession:

- every workload, untraced and traced, passes its oracle and emits
  exactly the metric names ``BENCHMARK.json`` lists (the end-to-end
  ones untraced, the per-layer ones traced) with its units, every
  name matching ``[A-Za-z0-9_.-]+`` and every value finite;
- a deliberately wrong expectation trips the oracle of every workload;
- ``run.py`` fails without printing a result in a directory holding
  only the benchmark (no package to measure).

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import _prepare_environment  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
SMOKE_SECONDS = 1.0


def _smoke_sizes(data):
    return data.Sizes(region_deg=0.6, band_deg=0.2, strip_cells=500, aoi_deg=0.05,
                      lookup_anchors=50)


def _bare_run_fails(workdir: str) -> list[str]:
    """``run.py`` in a directory with only the benchmark's files."""
    bare = os.path.join(workdir, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    problems = []
    if proc.returncode == 0:
        problems.append("run.py exited 0 without the package")
    if '"correct"' in proc.stdout:
        problems.append("run.py printed a result without the package")
    return problems


def main() -> int:
    workdir = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    _prepare_environment(workdir)
    from perfbench import data, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        False: [m["name"] for m in bench["end_to_end"]],
        True: [m["name"] for m in bench["per_layer"]],
    }
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    sizes = _smoke_sizes(data)
    problems: list[str] = []
    spark = workloads.start_session(workdir, ui=True)
    try:
        session_s = 0.0
        run_no = 0

        def one(workload, trace, corrupt=False):
            nonlocal run_no
            run_no += 1
            t = time.perf_counter()
            res = workloads.run(spark, workload, seed=run_no, seconds=SMOKE_SECONDS,
                                trace=trace, sizes=sizes,
                                workdir=os.path.join(workdir, f"run{run_no}"),
                                session_s=session_s, corrupt=corrupt)
            print(f"selftest: {workload} trace={int(trace)} corrupt={int(corrupt)} "
                  f"correct={res.correct} attempted={res.attempted} failed={res.failed} "
                  f"({time.perf_counter() - t:.1f} s)", flush=True)
            return res

        for workload in workloads.RUNNERS:
            for trace in (False, True):
                res = one(workload, trace)
                if not res.correct:
                    problems.append(f"{workload} trace={trace}: oracle failed: {res.notes}")
                names = list(res.metrics)
                if sorted(names) != sorted(want[trace]):
                    missing = sorted(set(want[trace]) - set(names))
                    extra = sorted(set(names) - set(want[trace]))
                    problems.append(f"{workload} trace={trace}: missing {missing}, extra {extra}")
                for name, (value, unit) in res.metrics.items():
                    if not NAME.match(name):
                        problems.append(f"{workload}: bad metric name {name!r}")
                    if units.get(name, unit) != unit:
                        problems.append(f"{workload}: {name} in {unit}, BENCHMARK.json says "
                                        f"{units[name]}")
                    if not math.isfinite(value):
                        problems.append(f"{workload}: {name} is not finite ({value})")
            res = one(workload, False, corrupt=True)
            if res.correct or res.failed == 0:
                problems.append(f"{workload}: a wrong expectation did not trip the oracle")
    finally:
        workloads.stop_session(spark)
    problems += _bare_run_fails(workdir)
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(workdir))
    except OSError:
        pass  # another run's directory is still there
    for p in problems:
        print(f"selftest: FAIL {p}")
    print("selftest: PASS" if not problems else f"selftest: {len(problems)} problem(s)")
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
