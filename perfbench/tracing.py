"""Spans around the benchmark's calls, Spark counters from the status
REST API, and the per-layer metrics derived from both.

Spans live in memory (name, start, end, parent, operation id) and are
written out when the run ends. Spark jobs are attributed to the
innermost span whose interval holds the job's submission time; inside
an insert the level writes are told apart from the untagged prelude
and dedup jobs by the ``[res=…]`` job descriptions the store sets.
The REST API is read once, after the last operation, so polling never
overlaps an operation.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)


class NullTracer:
    """Untraced runs: spans cost one context-manager entry."""

    enabled = False

    @contextmanager
    def span(self, name, op=None, **attrs):
        yield None


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name, op=None, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent.op
        with self._lock:
            s = Span(len(self.spans), name, time.time(), parent=parent.id if parent else None,
                     op=op, attrs=dict(attrs))
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    @contextmanager
    def overhead(self):
        """Time spent on tracing work itself (REST reads, file scans)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t


# ------------------------------------------------------------ REST counters


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


@dataclass
class Job:
    id: int
    submitted: float
    completed: float
    description: str
    tasks: int = 0
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    output_records: int = 0
    output_bytes: int = 0


def read_jobs(spark, timeout_s: float = 30.0) -> list[Job]:
    """All finished jobs of the application with their stage counters
    summed. Waits until the status store has no running job."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    deadline = time.time() + timeout_s
    while True:
        jobs = get("/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = get("/stages")
    owner: dict[int, int] = {}
    for j in jobs:
        for sid in j["stageIds"]:
            owner[sid] = min(owner.get(sid, j["jobId"]), j["jobId"])
    out: dict[int, Job] = {}
    for j in jobs:
        sub = _ts(j.get("submissionTime"))
        if sub is None:
            continue
        out[j["jobId"]] = Job(
            j["jobId"], sub, _ts(j.get("completionTime")) or sub, j.get("description", "")
        )
    for st in stages:
        if st["status"] not in ("COMPLETE", "FAILED"):
            continue
        job = out.get(owner.get(st["stageId"], -1))
        if job is None:
            continue
        job.tasks += st["numCompleteTasks"] + st["numFailedTasks"]
        job.task_s += st["executorRunTime"] / 1e3
        job.jvm_cpu_s += st["executorCpuTime"] / 1e9
        job.shuffle_bytes += st["shuffleWriteBytes"]
        job.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        job.input_records += st["inputRecords"]
        job.output_records += st["outputRecords"]
        job.output_bytes += st["outputBytes"]
    return sorted(out.values(), key=lambda j: j.submitted)


# ------------------------------------------------------------- attribution


def _covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Attribution:
    """Jobs per span (innermost span holding the submission time,
    inclusive of child spans' jobs via :meth:`jobs_in`)."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.spans = spans
        self.jobs = jobs
        self._sub = [j.submitted for j in jobs]
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def jobs_in(self, span: Span) -> list[Job]:
        lo = bisect.bisect_left(self._sub, span.start - 0.002)
        hi = bisect.bisect_right(self._sub, span.end + 0.002)
        return self.jobs[lo:hi]

    def driver_gap(self, span: Span) -> float:
        jobs = self.jobs_in(span)
        dur = span.end - span.start
        return max(dur - _covered([(j.submitted, j.completed) for j in jobs],
                                  span.start, span.end), 0.0)

    def self_time(self, span: Span) -> float:
        kids = self.children.get(span.id, [])
        return max(span.end - span.start
                   - _covered([(k.start, k.end) for k in kids], span.start, span.end), 0.0)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _ratio(a, b) -> float:
    return float(a) / float(b) if b else 0.0


def _is_level_write(job: Job) -> bool:
    return "[res=" in job.description


#: per-layer metric → unit; the traced run emits every one. A layer
#: the workload never calls reports 0.
PER_LAYER_UNITS = {
    "compaction.compact_df.s": "s",
    "compaction.compact_df.task_s": "s",
    "compaction.compact_df.jvm_cpu_s": "s",
    "compaction.compact_df.rows_out_per_row_in": "ratio",
    "compaction.uncompact_df.s": "s",
    "rollup.rollup_level.s": "s",
    "store.insert.jobs": "count",
    "store.insert.driver_gap_s": "s",
    "store.insert.shuffle_bytes": "bytes",
    "store.insert.spill_bytes": "bytes",
    "store.insert.files_written": "count",
    "store.insert.prelude.task_s": "s",
    "store.insert.write.task_s": "s",
    "store.insert.dedup.task_s": "s",
    "store.insert.landcover.s_per_krow": "s",
    "store.insert.density.s_per_krow": "s",
    "store.dedup.bytes_rewritten_per_input_byte": "ratio",
    "store.query.build_s": "s",
    "store.query.build_jobs": "count",
    "store.query.exec_s": "s",
    "store.query.exec_jobs": "count",
    "store.query.tasks": "count",
    "store.query.input_rows_per_row_returned": "ratio",
    "geo.geometry_to_cells.s": "s",
    "traversal.build_traverser.s": "s",
    "traversal.build_traverser.jobs": "count",
    "traversal.prefilter.kept_ratio": "ratio",
    "traversal.empty_step_ratio": "ratio",
    "traversal.step.jobs": "count",
    "traversal.step.exec_s": "s",
    "traversal.cells_per_s": "1/s",
    "traversal.traverse_apply.s": "s",
    "traversal.traverse_apply.jobs": "count",
    "traversal.traverse_apply.task_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_gap_s": "s",
    "tracing.overhead_ratio": "ratio",
}


def per_layer_metrics(tracer: Tracer, jobs: list[Job], ops_wall_s: float) -> dict[str, float]:
    """Reduce spans + jobs to the per-layer metrics (means per call
    unless the name says otherwise)."""
    at = Attribution(tracer.spans, jobs)
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}

    def sum_jobs(spans, attr):
        return sum(getattr(j, attr) for s in spans for j in at.jobs_in(s))

    # compaction / rollup direct calls (noop sink)
    comp = at.named("compaction.compact_df")
    m["compaction.compact_df.s"] = _mean(s.end - s.start for s in comp)
    m["compaction.compact_df.task_s"] = _ratio(sum_jobs(comp, "task_s"), len(comp))
    m["compaction.compact_df.jvm_cpu_s"] = _ratio(sum_jobs(comp, "jvm_cpu_s"), len(comp))
    unc = at.named("compaction.uncompact_df")
    m["compaction.uncompact_df.s"] = _mean(s.end - s.start for s in unc)
    m["rollup.rollup_level.s"] = _mean(s.end - s.start for s in at.named("rollup.rollup_level"))

    # inserts
    ins = at.named("store.insert")
    if ins:
        phase = {"prelude": 0.0, "write": 0.0, "dedup": 0.0}
        rows_in = rows_out = write_bytes = dedup_bytes = 0
        for s in ins:
            js = at.jobs_in(s)
            tagged = [j for j in js if _is_level_write(j)]
            first = tagged[0].submitted if tagged else float("inf")
            last = tagged[-1].submitted if tagged else float("-inf")
            for j in js:
                if _is_level_write(j):
                    phase["write"] += j.task_s
                elif j.submitted < first:
                    phase["prelude"] += j.task_s
                elif j.submitted > last:
                    phase["dedup"] += j.task_s
                    dedup_bytes += j.output_bytes
                else:
                    phase["prelude"] += j.task_s
            rows_in += s.attrs.get("rows", 0)
            # split-level writes: the max-res base table and the
            # compacted tables; rollup writes are coarser base tables
            split = [j for j in tagged if "c]" in j.description
                     or f"[res={s.attrs.get('max_res', 8)}b]" in j.description]
            rows_out += sum(j.output_records for j in split)
            write_bytes += sum(j.output_bytes for j in tagged)
        n = len(ins)
        m["store.insert.jobs"] = _ratio(sum(len(at.jobs_in(s)) for s in ins), n)
        m["store.insert.driver_gap_s"] = _mean(at.driver_gap(s) for s in ins)
        m["store.insert.shuffle_bytes"] = _ratio(sum_jobs(ins, "shuffle_bytes"), n)
        m["store.insert.spill_bytes"] = _ratio(sum_jobs(ins, "spill_bytes"), n)
        m["store.insert.files_written"] = _mean(s.attrs.get("files_written", 0) for s in ins)
        for k, v in phase.items():
            m[f"store.insert.{k}.task_s"] = v / n
        for layer in ("landcover", "density"):
            ls = [s for s in ins if s.attrs.get("tableset") == layer]
            rows = sum(s.attrs.get("rows", 0) for s in ls)
            m[f"store.insert.{layer}.s_per_krow"] = _ratio(
                sum(s.end - s.start for s in ls), rows / 1000.0)
        m["compaction.compact_df.rows_out_per_row_in"] = _ratio(rows_out, rows_in)
        m["store.dedup.bytes_rewritten_per_input_byte"] = _ratio(dedup_bytes, write_bytes)

    # queries: build = the query_tableset_cells call, exec = the collect
    build = at.named("store.query.build")
    execs = at.named("store.query.exec")
    m["store.query.build_s"] = _median(s.end - s.start for s in build)
    m["store.query.build_jobs"] = _ratio(sum(len(at.jobs_in(s)) for s in build), len(build))
    m["store.query.exec_s"] = _median(s.end - s.start for s in execs)
    m["store.query.exec_jobs"] = _ratio(sum(len(at.jobs_in(s)) for s in execs), len(execs))
    m["store.query.tasks"] = _ratio(sum_jobs(build, "tasks") + sum_jobs(execs, "tasks"),
                                    len(execs) or len(build))
    returned = sum(s.attrs.get("rows", 0) for s in execs)
    m["store.query.input_rows_per_row_returned"] = _ratio(sum_jobs(execs, "input_records"), returned)

    m["geo.geometry_to_cells.s"] = _mean(s.end - s.start for s in at.named("geo.geometry_to_cells"))

    # traversal
    bt = at.named("traversal.build_traverser")
    m["traversal.build_traverser.s"] = _mean(s.end - s.start for s in bt)
    m["traversal.build_traverser.jobs"] = _ratio(sum(len(at.jobs_in(s)) for s in bt), len(bt))
    filtered = [s for s in bt if s.attrs.get("filtered")]
    m["traversal.prefilter.kept_ratio"] = _ratio(
        sum(s.attrs.get("kept", 0) for s in filtered),
        sum(s.attrs.get("candidates", 0) for s in filtered))
    pulls = at.named("traversal.pull")
    cells = sum(s.attrs.get("cells", 0) for s in pulls)
    steps = sum(s.attrs.get("steps", 0) for s in pulls)
    m["traversal.empty_step_ratio"] = _ratio(cells - steps, cells)
    m["traversal.step.jobs"] = _ratio(sum(len(at.jobs_in(s)) for s in pulls), cells)
    m["traversal.step.exec_s"] = _ratio(
        sum(_covered([(j.submitted, j.completed) for j in at.jobs_in(s)], s.start, s.end)
            for s in pulls), cells)
    m["traversal.cells_per_s"] = _ratio(cells, sum(s.end - s.start for s in pulls)
                                        + sum(s.end - s.start for s in bt))
    ap = at.named("traversal.traverse_apply")
    m["traversal.traverse_apply.s"] = _mean(s.end - s.start for s in ap)
    m["traversal.traverse_apply.jobs"] = _ratio(sum(len(at.jobs_in(s)) for s in ap), len(ap))
    m["traversal.traverse_apply.task_s"] = _ratio(sum_jobs(ap, "task_s"), len(ap))

    # the workload's operation loop as a whole, per operation
    ops = [s for s in at.named("op") if not s.attrs.get("exhausted")]
    n_ops = len(ops)
    for key, attr in (("jobs", None), ("tasks", "tasks"), ("task_s", "task_s"),
                      ("jvm_cpu_s", "jvm_cpu_s"), ("shuffle_bytes", "shuffle_bytes"),
                      ("spill_bytes", "spill_bytes")):
        total = (sum(len(at.jobs_in(s)) for s in ops) if attr is None
                 else sum_jobs(ops, attr))
        m[f"spark.{key}"] = _ratio(total, n_ops)
    m["spark.driver_gap_s"] = _mean(at.driver_gap(s) for s in ops)
    m["tracing.overhead_ratio"] = _ratio(tracer.overhead_s, ops_wall_s)
    return m


def write_trace(path: str, tracer: Tracer, jobs: list[Job], metrics: dict) -> None:
    """Spans (with self time and attributed job ids), jobs and the
    reduced metrics as one JSON document."""
    at = Attribution(tracer.spans, jobs)
    by_name: dict[str, dict] = {}
    spans = []
    for s in tracer.spans:
        self_s = at.self_time(s)
        agg = by_name.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += s.end - s.start
        agg["self_s"] += self_s
        spans.append({
            "id": s.id, "name": s.name, "start": s.start, "end": s.end,
            "parent": s.parent, "op": s.op, "self_s": self_s, "attrs": s.attrs,
            "jobs": [j.id for j in at.jobs_in(s)],
        })
    doc = {
        "metrics": metrics,
        "span_totals": by_name,
        "spans": spans,
        "jobs": [j.__dict__ for j in jobs],
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f)
