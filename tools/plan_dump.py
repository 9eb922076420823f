"""Dump ``explain("formatted")`` for headline queries to
``plans/$PLAN_DUMP_ROUND/<query>_<tag>.txt`` (default round: r15) — the
before/after evidence files the optimization round commits alongside
each plan claim. Segment-aware via plan_report._SegmentCapture:
composed gates that truncate lineage with ``localCheckpoint`` / shard
exports get one formatted block per segment plus the final frame.
Usage:

    python tools/plan_dump.py <tag> [sf_dir] [query ...]

``tag`` is normally ``before`` or ``after``.

EVIDENCE INTEGRITY (round-14 verdict): a "before" dump is only valid
when it runs the BASELINE tree. The r14 tool hardcoded
``sys.path.insert(0, "/root/repo")``, so a "before" dumped from a
baseline worktree silently imported the PATCHED tree — two committed
before-plans were byte-identical to their afters. This version:

- resolves the repo root from THIS FILE's location, so a copy of the
  tool inside a ``git worktree`` imports that worktree's code;
- stamps every dump with the imported tree's commit and dirty state;
- refuses ``tag == "before"`` when the imported tree is dirty unless
  ``--allow-dirty`` is given (a dirty "before" is the exact failure
  mode being guarded against).
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from plan_report import _SegmentCapture  # noqa: E402


def _git_state(root: str) -> tuple[str, bool]:
    """(commit sha, dirty?) of the tree the dump imports from."""
    try:
        sha = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        status = subprocess.run(
            ["git", "-C", root, "status", "--porcelain"],
            capture_output=True, text=True, check=True,
        ).stdout.splitlines()
        # untracked files under plans/ are this tool's own OUTPUT from
        # earlier dumps — they cannot shadow imports and don't taint
        # the tree; anything else (tracked changes, untracked .py)
        # does
        dirty = any(
            not line.startswith("?? plans/")
            for line in status
            if line.strip()
        )
        return sha, dirty
    except Exception:
        return "unknown", True


def _formatted(spark, jdf_or_plan) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        jdf_or_plan.queryExecution(), "formatted"
    )


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    argv = [a for a in sys.argv[1:] if a != "--allow-dirty"]
    allow_dirty = "--allow-dirty" in sys.argv
    if not argv:
        sys.exit(
            "usage: python tools/plan_dump.py <tag> [sf_dir] [query ...] "
            "[--allow-dirty]"
        )
    tag = argv[0]
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
    names = argv[2:]

    sha, dirty = _git_state(_REPO_ROOT)
    if tag == "before" and dirty and not allow_dirty:
        sys.exit(
            "plan_dump: refusing a 'before' dump from a DIRTY tree "
            f"({_REPO_ROOT} @ {sha[:12]}): the baseline must be a clean "
            "checkout (use a git worktree of the baseline ref, or pass "
            "--allow-dirty if you know what you are doing)"
        )

    round_dir = os.environ.get("PLAN_DUMP_ROUND", "r15")
    out_dir = os.path.join(_REPO_ROOT, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # capture the formatted plan at each segment boundary, not just the
    # node-count stats plan_report records
    import plan_report as _pr

    formatted_segs: list[tuple[str, str]] = []
    orig_plan_str = _pr._plan_str

    def _plan_and_formatted(df):
        formatted_segs.append(("", _formatted(spark, df._jdf)))
        return orig_plan_str(df)

    for name in names:
        formatted_segs.clear()
        _pr._plan_str = _plan_and_formatted
        try:
            with _SegmentCapture() as cap:
                df = queries[name](spark, sf_dir)
        finally:
            _pr._plan_str = orig_plan_str
        blocks = []
        for i, ((lbl, _), (_, fmt)) in enumerate(
            zip(cap.segments, formatted_segs), 1
        ):
            blocks.append(
                f"-- segment {i}/{len(cap.segments)} [{lbl}]\n{fmt}"
            )
        blocks.append(f"-- final (returned frame)\n{_formatted(spark, df._jdf)}")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(
                f"== {name} [{tag}] sf_dir={sf_dir} "
                f"tree={sha[:12]}{'+dirty' if dirty else ''} "
                f"root={_REPO_ROOT}\n\n"
            )
            fh.write("\n\n".join(blocks))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
