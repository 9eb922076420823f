"""The three workloads, driven through the public API of the store.

One closed-loop client per run: the next operation starts when the
previous one returned. Each operation's result is checked against
:mod:`perfbench.data`'s Spark-free model; a mismatch or an exception
counts as a failed operation.
"""

from __future__ import annotations

import os
import random
import resource
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import data, tracing
from perfbench.udf import count_rows
from ukis_h3cellstore_spark import CellStore, TableSetQuery, TraversalOptions, build_session
from ukis_h3cellstore_spark import compaction, geo, rollup, traversal
from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.h3 import icosa
from ukis_h3cellstore_spark.schema import ResolutionMetadata

WORKLOADS = ("ingest", "lookup", "traverse")

#: end-to-end metric → unit, reported by every workload
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "cells_per_s": "1/s",
    "stored_bytes_per_row": "bytes",
    "peak_rss_mb": "MB",
}

VALUE_COLUMN = {"landcover": "landcover", "density": "elephant_density"}
#: cells sampled per inserted strip for the value check
SAMPLE_CELLS = 24
#: untimed traversal steps that warm the JVM before ``traverse`` times any
WARM_STEPS = 6


def local_cores() -> int:
    return max(1, min(len(os.sched_getaffinity(0)), 4))


def start_session(workdir: str, ui: bool):
    """The library's recommended session on ``local[nproc]``, with every
    scratch path of the JVM inside ``workdir``. The status UI (and with
    it the REST API) is on only for traced runs."""
    for sub in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    # read by every JVM the session starts, spark-submit's launcher
    # included, which no Spark setting reaches
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}")
    extra = {
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
    }
    spark = build_session(app_name="perfbench", local_cores=local_cores(), extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - best effort, the process wait follows
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM plus the driver process."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    driver = _vm_hwm_kb(os.getpid()) or resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + driver) / 1024.0


def _parquet_files(path: str):
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(dirpath, f)


def _checksum(rows) -> int:
    return hash(tuple(rows)) & 0xFFFFFFFFFFFF


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]
    notes: list[str] = field(default_factory=list)

    def to_json(self) -> dict:
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()},
        }


class TracedStore:
    """The store as the traverser sees it, with a span around each
    query it builds (a wrapper object, not a patch)."""

    def __init__(self, store: CellStore, tracer):
        self._store = store
        self._tracer = tracer

    def get_schema(self, name):
        return self._store.get_schema(name)

    def query_tableset_cells(self, *args, **kwargs):
        with self._tracer.span("store.query.build"):
            return self._store.query_tableset_cells(*args, **kwargs)


class Bench:
    """State of one run: the store, the model of what it holds, and the
    tally of checked operations."""

    def __init__(self, spark, workdir, region: data.Region, tracer, corrupt=False):
        self.spark = spark
        self.region = region
        self.tracer = tracer
        self.corrupt = corrupt
        self.warehouse = os.path.join(workdir, "warehouse")
        self.store = CellStore(spark, self.warehouse)
        self.schemas = {"landcover": data.landcover_schema(), "density": data.density_schema()}
        self.models = {
            "landcover": data.TablesetModel("landcover", "set_null"),
            "density": data.TablesetModel("density", "relative_area"),
        }
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: layer → cells inserted since that layer's last table check
        self.unchecked: dict[str, set] = {}
        self.rng = random.Random(region.seed * 7919 + 17)

    # ------------------------------------------------------------ checks

    def expect(self, value):
        """Expected value as the oracle computed it; a self-test run
        corrupts it to prove the check trips."""
        if not self.corrupt:
            return value
        if isinstance(value, list):
            return value + [(0, 0)]
        return value + 1

    def fail(self, msg: str) -> bool:
        """Record why an operation failed; returns False."""
        if len(self.errors) < 20:
            self.errors.append(msg)
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
        return False

    def count(self, ok: bool) -> bool:
        """Tally one checked operation."""
        self.attempted += 1
        self.failed += not ok
        return ok

    def guarded(self, what: str, fn):
        """Run one call; returns (ok, value), an exception being a
        failure with its traceback recorded."""
        try:
            return True, fn()
        except Exception:  # noqa: BLE001 - the run goes on, the failure is counted
            return self.fail(f"{what} raised:\n{traceback.format_exc()}"), None

    # ------------------------------------------------------------ inputs

    def frame(self, layer: str, rows: dict):
        pdf = pd.DataFrame({
            "h3index": np.fromiter(rows.keys(), dtype=np.int64, count=len(rows)),
            VALUE_COLUMN[layer]: np.fromiter(rows.values(), dtype=np.float64 if layer == "density"
                                             else np.int64, count=len(rows)),
        })
        return self.spark.createDataFrame(pdf)

    def typed(self, layer: str, df):
        schema = self.schemas[layer].spark_schema()
        return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])

    # ------------------------------------------------------------ writes

    def insert(self, layer: str, rows: dict) -> float:
        """One ``insert_h3dataframe_into_tableset`` call; returns its wall time."""
        df = self.frame(layer, rows)
        start = time.time()
        with self.tracer.span("store.insert", tableset=layer, rows=len(rows),
                              max_res=data.RES) as s:
            t = time.perf_counter()
            self.store.insert_h3dataframe_into_tableset(self.schemas[layer], df)
            dt = time.perf_counter() - t
        if self.tracer.enabled:
            with self.tracer.overhead():
                root = os.path.join(self.warehouse, layer)
                s.attrs["files_written"] = sum(
                    1 for p in _parquet_files(root) if os.path.getmtime(p) >= start - 1.0)
        self.models[layer].insert(rows)
        return dt

    def layer_probes(self, layer: str, rows: dict) -> None:
        """Traced runs only: direct calls into compaction and rollup
        on the strip's frame, each with a noop sink."""
        df = self.typed(layer, self.frame(layer, rows))
        with self.tracer.span("compaction.compact_df", tableset=layer):
            compaction.compact_df(df, "h3index", max_res=data.RES).write.format(
                "noop").mode("overwrite").save()
        with self.tracer.span("rollup.rollup_level", tableset=layer):
            rollup.rollup_level(self.schemas[layer], df, data.RES, 6).write.format(
                "noop").mode("overwrite").save()

    def uncompact_probe(self) -> None:
        """Traced runs only: ``uncompact_df`` over the landcover
        pyramid's compacted tables."""
        layer = "landcover"
        schema = self.schemas[layer]
        res = [r for r in range(data.RES) if os.path.isdir(
            os.path.join(self.warehouse, layer, "tables",
                         ResolutionMetadata(r, True).table_name(layer)))]
        if not res:
            return
        cols = ["h3index", VALUE_COLUMN[layer]]
        df = None
        for r in res:
            t = self.store.read_table(schema, ResolutionMetadata(r, True)).select(*cols)
            df = t if df is None else df.unionByName(t)
        with self.tracer.span("compaction.uncompact_df", tableset=layer):
            compaction.uncompact_df(df, data.RES, source_resolutions=res).write.format(
                "noop").mode("overwrite").save()

    # ------------------------------------------------------------ reads

    def query(self, layer: str, cells, res: int):
        """Build + collect of one ``query_tableset_cells``; returns
        (rows, wall seconds)."""
        t = time.perf_counter()
        with self.tracer.span("store.query.build"):
            h3df = self.store.query_tableset_cells(layer, cells, res)
        with self.tracer.span("store.query.exec") as s:
            rows = h3df.df.select("h3index", VALUE_COLUMN[layer]).collect()
            if s is not None:
                s.attrs["rows"] = len(rows)
        return rows, time.perf_counter() - t

    def check_query(self, what: str, layer: str, cells_res8, rows) -> bool:
        got = data.normalize_rows(rows)
        want = self.expect(self.models[layer].query_rows(cells_res8))
        return got == want or self.fail(
            f"{what}: {len(got)} rows (checksum {_checksum(got)}), "
            f"expected {len(want)} (checksum {_checksum(want)})")

    def check_tables(self, layer: str) -> bool:
        """Table row counts from ``tableset_stats`` plus the values of a
        sample of the cells inserted since the last check."""
        stats = self.store.tableset_stats(layer).collect()
        got = {(r["resolution"], r["is_compacted"]): r["num_rows"]
               for r in stats if r["num_rows"]}
        want = self.models[layer].row_counts()
        if self.corrupt:
            want = {k: self.expect(v) for k, v in want.items()}
        ok = got == want or self.fail(
            f"{layer} table rows {sorted(got.items())} != expected {sorted(want.items())}")
        pool = sorted(self.unchecked.pop(layer, set()))
        sample = self.rng.sample(pool, min(SAMPLE_CELLS, len(pool)))
        if sample:
            rows, _ = self.query(layer, sample, data.RES)
            ok = self.check_query(f"{layer} sample", layer, sample, rows) and ok
        return ok

    def stored_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in _parquet_files(self.warehouse))

    def inserted_rows(self) -> int:
        return sum(m.inserted_rows for m in self.models.values())

    def insert_strip(self, k: int, layers, timed: bool, check: bool):
        """Strip ``k`` into each layer, then (with ``check``) the table
        check; one operation. Returns the summed insert wall time, None
        on failure. Traced runs follow up with the direct layer calls."""
        strip = self.region.strip(k)
        wall, ok = 0.0, True
        with self.tracer.span("op" if timed else "setup.strip", op=k):
            for layer in layers:
                done, dt = self.guarded(f"insert strip {k} {layer}",
                                        lambda: self.insert(layer, strip.rows(layer)))
                ok = ok and done
                wall += dt if done else 0.0
        for layer in layers:
            self.unchecked.setdefault(layer, set()).update(strip.landcover)
        if ok and check:
            for layer in layers:
                ok = self.check_tables(layer) and ok
        if self.tracer.enabled:
            for layer in layers:
                self.layer_probes(layer, strip.rows(layer))
        return wall if self.count(ok) else None


# -------------------------------------------------------------- workloads


def _finite(x: float) -> float:
    return x if x == x else 0.0


def _summary(ops, work_items, setup_s, b: Bench, stored_rows, busy=None) -> dict:
    """End-to-end metrics from ``ops``: the wall seconds of each
    operation, None for a failed one. ``cells_per_s`` divides
    ``work_items`` (cells handled) by ``busy``, by default the
    operations' summed time."""
    ok = [op for op in ops if op is not None]
    busy = sum(ok) if busy is None else busy
    return {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(ok) if ok else 0.0,
        "cells_per_s": work_items / busy if busy else 0.0,
        "stored_bytes_per_row": b.stored_bytes() / stored_rows if stored_rows else 0.0,
        "peak_rss_mb": peak_rss_mb(b.spark),
    }


class Loop:
    """Closed-loop pacing: iterating yields round numbers until
    ``seconds`` have passed since the first one and ``ops`` holds
    an operation (at most ``MAX_ROUNDS`` rounds; a traverse round
    whose AOIs hold no data adds none); ``wall_s`` is the loop's
    length once it ended."""

    MAX_ROUNDS = 50

    def __init__(self, seconds: float, ops: list):
        self.seconds = seconds
        self.ops = ops
        self.wall_s = 0.0

    def _more(self, i: int, t0: float) -> bool:
        if i >= self.MAX_ROUNDS:
            return False
        return not self.ops or time.perf_counter() - t0 < self.seconds

    def __iter__(self):
        t0 = time.perf_counter()
        i = 0
        try:
            while self._more(i, t0):
                yield i
                i += 1
        finally:
            self.wall_s = time.perf_counter() - t0


def run_ingest(b: Bench, seconds: float, setup_t0: float, session_s: float, sizes):
    layers = ("landcover", "density")
    with b.tracer.span("setup"):
        # warm-up; its table check runs with the first operation's
        b.insert_strip(0, layers, timed=False, check=False)
        if b.tracer.enabled:
            b.uncompact_probe()
    setup_s = session_s + time.perf_counter() - setup_t0
    ops, rows = [], 0
    loop = Loop(seconds, ops)
    for i in loop:
        k = i + 1
        if k >= b.region.num_strips:
            break
        op = b.insert_strip(k, layers, timed=True, check=True)
        ops.append(op)
        if op is not None:
            strip = b.region.strip(k)
            rows += sum(len(strip.rows(layer)) for layer in layers)
    return _summary(ops, rows, setup_s, b, b.inserted_rows()), ops, loop.wall_s


def build_fixture(b: Bench) -> None:
    """The landcover pyramid read by ``lookup`` and ``traverse``,
    written through the insert API in ``FIXTURE_STRIPS`` strips."""
    n = data.FIXTURE_STRIPS
    for k in range(n):
        b.insert_strip(k, ("landcover",), timed=False, check=k == n - 1)
    if b.tracer.enabled:
        b.uncompact_probe()


def _disk(cell: int, n: int) -> list[int]:
    """The ``n`` cells nearest to ``cell`` (1, 7 or 49)."""
    if n == 1:
        return [cell]
    dist = icosa.grid_disk_distances(cell, 1 if n <= 7 else 4)
    return sorted(sorted(dist, key=lambda c: (dist[c], c))[:n])


def lookup_queries(b: Bench, sizes: data.Sizes, count: int):
    """Seeded query stream: 1, 7 or 49 cells around anchors drawn
    Zipf-skewed over the fixture (so repeats occur); about a third are
    res-6 cells requested at res 8."""
    rng = random.Random(b.region.seed * 31 + 5)
    fixture = set()
    for k in range(data.FIXTURE_STRIPS):
        fixture.update(b.region.strip(k).landcover)
    anchors = rng.sample(sorted(fixture), min(sizes.lookup_anchors, len(fixture)))
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(anchors))]
    for _ in range(count):
        a = rng.choices(anchors, weights)[0]
        n = rng.choice((1, 7, 49))
        if rng.random() < 1.0 / 3.0:
            yield _disk(h3c.cell_to_parent(a, 6), n), 6
        else:
            yield _disk(a, n), data.RES


def run_lookup(b: Bench, seconds: float, setup_t0: float, session_s: float, sizes):
    stream = lookup_queries(b, sizes, 100_000)
    with b.tracer.span("setup"):
        build_fixture(b)
        for _ in range(3):  # warm the query path
            cells, res = next(stream)
            b.query("landcover", cells, data.RES)
    setup_s = session_s + time.perf_counter() - setup_t0
    ops, rows_out = [], 0
    loop = Loop(seconds, ops)
    for i in loop:
        cells, res = next(stream)
        with b.tracer.span("op", op=i):
            ok, got = b.guarded(f"lookup {i}", lambda: b.query("landcover", cells, data.RES))
        if ok:
            rows, wall = got
            cells8 = cells if res == data.RES else h3c.change_resolution(cells, data.RES)
            ok = b.check_query(f"lookup {i} ({len(cells)} res-{res} cells)",
                               "landcover", cells8, rows)
        ops.append(wall if b.count(ok) else None)
        rows_out += len(rows) if ok else 0
    return _summary(ops, rows_out, setup_s, b, b.inserted_rows()), ops, loop.wall_s


def aois(b: Bench, sizes: data.Sizes):
    """Seeded square AOIs inside the fixture's box, yielded with the
    AOI's traversal cells and the class of a ``landcover = k``
    prefilter: the AOI's most common class for the first and every
    second AOI after it, None for the others. At the benchmark's size
    every AOI has at least eight traversal cells, so its
    ``traverse_apply`` query asks for more than
    ``query.MAX_INLIST_CELLS`` res-8 cells."""
    rng = random.Random(b.region.seed * 131 + 7)
    x0, y0, x1, y1 = b.region.strips_box(0, data.FIXTURE_STRIPS)
    classes: dict[int, list[int]] = {}
    for k in range(data.FIXTURE_STRIPS):
        for cell, v in b.region.strip(k).landcover.items():
            per = classes.setdefault(h3c.cell_to_parent(cell, data.TRAVERSAL_RES),
                                     [0] * data.LANDCOVER_CLASSES)
            per[v] += 1
    d = sizes.aoi_deg
    i = 0
    while True:
        lng = rng.uniform(x0, max(x0, x1 - d))
        lat = rng.uniform(y0, max(y0, y1 - d))
        aoi = data.polygon((lng, lat, lng + d, lat + d))
        with b.tracer.span("geo.geometry_to_cells"):
            candidates = geo.geometry_to_cells(aoi, data.TRAVERSAL_RES)
        k = None
        if i % 2 == 0:
            counts = [sum(classes.get(c, [0] * data.LANDCOVER_CLASSES)[v] for c in candidates)
                      for v in range(data.LANDCOVER_CLASSES)]
            k = counts.index(max(counts))
        yield aoi, candidates, k
        i += 1


def _pull(b: Bench, i: int, trav, ops) -> tuple[int, int, float, bool]:
    """Pull every step of one traverser; each delivered step (its
    ``next`` plus the collect of its data) is one operation. Returns
    (steps delivered, rows delivered, seconds spent in ``next`` and
    collect, no step raised)."""
    delivered, rows_out = 0, 0
    t = time.perf_counter()
    it = iter(trav)
    pull_s = time.perf_counter() - t
    while True:
        with b.tracer.span("op", op=(i, delivered)) as os_:
            t = time.perf_counter()
            try:
                step = next(it)
            except StopIteration:
                if os_ is not None:
                    os_.attrs["exhausted"] = True  # not an operation
                return delivered, rows_out, pull_s + time.perf_counter() - t, True
            except Exception:  # noqa: BLE001 - counted, the AOI is abandoned
                b.count(b.fail(f"aoi {i} step raised:\n{traceback.format_exc()}"))
                ops.append(None)
                return delivered, rows_out, pull_s + time.perf_counter() - t, False
            with b.tracer.span("store.query.exec") as es:
                rows = step.contained_data.df.select("h3index", "landcover").collect()
                if es is not None:
                    es.attrs["rows"] = len(rows)
            dt = time.perf_counter() - t
        pull_s += dt
        delivered += 1
        rows_out += len(rows)
        children = h3c.cell_to_children(step.cell, data.RES)
        ok = b.check_query(f"aoi {i} step {step.cell:x}", "landcover", children, rows)
        ops.append(dt if b.count(ok) else None)


def _traverse_aoi(b: Bench, i: int, store, aoi, candidates, k, ops, width: int):
    """One AOI: ``build_traverser`` (with a ``landcover = k`` prefilter
    unless ``k`` is None), the pull of every step, then
    ``traverse_apply`` + collect; checks each against the model and
    counts the AOI-level checks as one operation. Returns (traversal
    cells visited, seconds spent in the three calls)."""
    model = b.models["landcover"]

    def expected_rows(cell):
        return len(model.query_rows(h3c.cell_to_children(cell, data.RES)))

    fq = None if k is None else TableSetQuery.from_template(
        f"select h3index from <[table]> where h3index in <[h3indexes]> and landcover = {k}")
    opts = TraversalOptions(num_connections=width, filter_query=fq)
    with b.tracer.span("traversal.build_traverser", filtered=k is not None) as bs:
        t = time.perf_counter()
        ok, trav = b.guarded(f"aoi {i} build_traverser", lambda: traversal.build_traverser(
            store, "landcover", aoi, data.RES, options=opts))
        aoi_s = time.perf_counter() - t
    if not ok:
        b.count(False)
        return 0, aoi_s
    kept = list(trav.traversal_cells)
    if bs is not None:
        bs.attrs.update(kept=len(kept), candidates=len(candidates))
    want_kept = candidates if k is None else model.prefilter_kept(candidates, lambda v: v == k)
    ok = kept == b.expect(want_kept) or b.fail(
        f"aoi {i}: prefilter kept {len(kept)} cells, expected {len(want_kept)}")
    with b.tracer.span("traversal.pull") as ps:
        delivered, rows_out, pull_s, pulled_ok = _pull(b, i, trav, ops)
        if ps is not None:
            ps.attrs.update(cells=len(kept), steps=delivered)
    aoi_s += pull_s
    want_steps = sum(1 for c in kept if expected_rows(c))
    if pulled_ok and delivered != b.expect(want_steps):
        ok = b.fail(f"aoi {i}: {delivered} non-empty steps, expected {want_steps}")
    with b.tracer.span("traversal.traverse_apply"):
        t = time.perf_counter()
        done, out = b.guarded(f"aoi {i} traverse_apply", lambda: traversal.traverse_apply(
            b.store, "landcover", aoi, data.RES, count_rows, "cell long, n long",
            options=TraversalOptions(num_connections=width)).collect())
        aoi_s += time.perf_counter() - t
    if done:
        total = sum(r["n"] for r in out)
        want_total = sum(expected_rows(c) for c in candidates)
        if total != b.expect(want_total):
            ok = b.fail(f"aoi {i}: traverse_apply total {total}, expected {want_total}")
        if k is None and pulled_ok and total != rows_out:
            ok = b.fail(f"aoi {i}: pulled {rows_out} rows, traverse_apply {total}")
    b.count(ok and done)
    return len(kept), aoi_s


def run_traverse(b: Bench, seconds: float, setup_t0: float, session_s: float, sizes):
    # prefetch width 1: each step is its own fetch plus the consumer's
    # collect, with no overlap between steps' jobs on the shared cores
    width = 1
    with b.tracer.span("setup"):
        build_fixture(b)
        # warm the pull path on the first WARM_STEPS traversal cells of
        # the fixture and traverse_apply on the first of them
        warm = list(dict.fromkeys(h3c.cell_to_parent(c, data.TRAVERSAL_RES)
                                  for c in b.region.strip(0).landcover))[:WARM_STEPS]
        for step in traversal.build_traverser(b.store, "landcover", warm, data.RES,
                                              options=TraversalOptions(num_connections=width)):
            step.contained_data.df.collect()
        traversal.traverse_apply(b.store, "landcover", warm[:1], data.RES, count_rows,
                                 "cell long, n long").collect()
    setup_s = session_s + time.perf_counter() - setup_t0

    store = TracedStore(b.store, b.tracer) if b.tracer.enabled else b.store
    # cells_per_s: traversal cells over each AOI's time in
    # build_traverser (sizing, prefilter), the pull and traverse_apply
    # + collect; every traversal cell costs one fetch, empty or not,
    # where the rows an AOI yields depend on how much of it the
    # fixture covers
    ops, cells, aoi_s = [], 0, 0.0
    loop = Loop(seconds, ops)
    stream = aois(b, sizes)
    for r in loop:
        # a round is a prefiltered AOI and an unfiltered one, so every
        # run holds the two kinds in equal numbers
        for i in (2 * r, 2 * r + 1):
            aoi, candidates, k = next(stream)
            n, dt = _traverse_aoi(b, i, store, aoi, candidates, k, ops, width)
            cells += n
            aoi_s += dt
    summary = _summary(ops, cells, setup_s, b, b.inserted_rows(), busy=aoi_s)
    return summary, ops, loop.wall_s


RUNNERS = {"ingest": run_ingest, "lookup": run_lookup, "traverse": run_traverse}


def run(spark, workload: str, seed: int, seconds: float, trace: bool, sizes: data.Sizes,
        workdir: str, session_s: float, trace_dir: str | None = None,
        corrupt: bool = False) -> Result:
    """One run of ``workload``; ``session_s`` is the session start time
    already spent, counted into ``setup_s``."""
    if workload not in RUNNERS:
        raise ValueError(f"unknown workload {workload!r}; choose from {sorted(RUNNERS)}")
    tracer = tracing.Tracer() if trace else tracing.NullTracer()
    setup_t0 = time.perf_counter()
    region = data.make_region(seed, sizes, tracer)
    b = Bench(spark, workdir, region, tracer, corrupt=corrupt)
    e2e, ops, loop_s = RUNNERS[workload](b, seconds, setup_t0, session_s, sizes)
    if not ops:
        b.count(b.fail("no timed operation ran"))
    walls = sorted(op for op in ops if op is not None)
    notes = [f"{len(ops)} timed operations, {b.attempted} checked in all"]
    if len(walls) >= 100:
        notes.append(f"op_s_p90 {walls[int(0.9 * len(walls))]:.4f} s over {len(walls)} operations")
    notes.append(f"failed_ratio {b.failed / max(b.attempted, 1):.4f} "
                 f"({b.failed} of {b.attempted} operations)")
    if trace:
        with tracer.overhead():
            jobs = tracing.read_jobs(spark)
        layer = tracing.per_layer_metrics(tracer, jobs, loop_s)
        if trace_dir:
            path = os.path.join(trace_dir, f"trace_{workload}_seed{seed}.json")
            tracing.write_trace(path, tracer, jobs, layer)
            notes.append(f"spans and jobs written to {path}")
        metrics = {k: (_finite(float(v)), tracing.PER_LAYER_UNITS[k]) for k, v in layer.items()}
    else:
        metrics = {k: (_finite(float(e2e[k])), u) for k, u in END_TO_END_UNITS.items()}
    return Result(b.failed == 0, max(b.attempted, 1), b.failed, metrics, notes + b.errors)
