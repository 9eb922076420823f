"""Traversal — streaming area-of-interest reads (reference Q3).

Reimplements the reference traversal engine
(``crates/ukis_h3cellstore/src/clickhouse/compacted_tables/
traversal.rs``) Spark-first:

- **Traversal-resolution sizing** (traversal.rs:24-50): walk the area
  of interest at the coarsest base resolution whose cells contain at
  most ``max_fetch_count`` target-resolution descendants, so each step
  fetches a bounded amount of data.
- **Traverser** (traversal.rs:177-205, 395-401): an iterator of
  ``TraversedCell(cell, contained_data)`` — one H3DataFrame per
  traversal cell, empty results skipped (traversal.rs:452-456),
  traversal cells sorted+deduped for determinism (traversal.rs:158-160).
  As in the reference, a traversed cell holds a MATERIALIZED frame:
  each step's query executes once, its rows come to the
  driver as Arrow and ``contained_data`` is a driver-local frame over
  them, so reading it runs no further Spark job. The size of a step is
  bounded by ``max_h3indexes_fetch_count``. The reference's
  ``num_connections`` gRPC workers become the prefetch width: up to
  that many steps run their job concurrently ahead of the consumer.
- **Prefilter** (P4, traversal.rs:357-393): an optional templated
  filter query run at the traversal resolution in chunks of
  ``PREFILTER_CHUNK_SIZE`` cells; only cells for which it returns rows
  are fetched at full resolution (a coarse→fine semi-join).
- **Distributed variant** (SURVEY §3.3 "Spark shape (b)"): instead of
  pulling per-cell dataframes to the driver, ``traverse_apply`` runs
  one job that groups the full query result by traversal cell and
  applies a user pandas function per group via ``applyInPandas`` —
  the 100 TB-scale path (no driver materialization).

The area of interest is either an explicit cell list (numpy/ints) or a
geometry (``__geo_interface__``), converted via
:mod:`ukis_h3cellstore_spark.geo` (reference traversal.rs:131-162).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ukis_h3cellstore_spark.frame import H3DataFrame
from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.h3 import expressions as hx
from ukis_h3cellstore_spark.query import TableSetQuery

#: reference default (traversal.rs:91-103)
DEFAULT_MAX_FETCH_COUNT = 500
#: reference hardcoded prefilter chunk (traversal.rs:298)
PREFILTER_CHUNK_SIZE = 50
#: above this many traversal cells the prefilter switches from the
#: reference-parity chunked loop to one distributed Q2 query (same
#: kept set; see _prefilter_cells)
PREFILTER_DISTRIBUTED_MIN_CELLS = 1_000


class TraversalError(ValueError):
    pass


def select_traversal_resolution(
    base_resolutions: Iterable[int],
    target_resolution: int,
    max_fetch_count: int = DEFAULT_MAX_FETCH_COUNT,
) -> int:
    """Coarsest base resolution r ≤ target with ``7^(target-r) <=
    max_fetch_count`` descendants per traversal cell; falls back to the
    finest base resolution ≤ target (reference traversal.rs:24-50)."""
    usable = sorted(r for r in base_resolutions if r <= target_resolution)
    if not usable:
        raise TraversalError(
            f"no base resolution <= target resolution {target_resolution}"
        )
    for r in usable:  # coarsest first
        if 7 ** (target_resolution - r) <= max_fetch_count:
            return r
    return usable[-1]


@dataclass
class TraversalOptions:
    """Parity with the reference ``TraversalOptions``
    (traversal.rs:91-103). ``num_connections`` is the PREFETCH width
    of the pull iterator — up to that many per-cell fetch jobs run
    concurrently ahead of the consumer, the Spark twin of the
    reference's gRPC worker pool feeding a bounded channel."""

    max_h3indexes_fetch_count: int = DEFAULT_MAX_FETCH_COUNT
    num_connections: int = 3
    filter_query: TableSetQuery | None = None
    #: return rows at the stored (possibly compacted) resolutions
    #: instead of uncompacting to the requested one (reference
    #: PyTraversalOptions.do_uncompact)
    do_uncompact: bool = True
    #: expand each traversal cell by grid_disk(k) before fetching
    #: (reference traversal.rs:403-434); requires a geo backend.
    buffer_k: int = 0


@dataclass
class TraversedCell:
    """One traversal step (reference traversal.rs:395-401).
    ``contained_data`` is a driver-local frame over the step's rows,
    already fetched: collecting or converting it runs no Spark job."""

    cell: int
    contained_data: H3DataFrame


@dataclass
class Traverser:
    """Pull-based iterator over an area of interest — each ``next()``
    runs one bounded Q2 query once and yields its rows as a
    driver-local frame (reference Stream impl traversal.rs:177-205;
    Python iterator ukis_h3cellstorepy/src/clickhouse/traversal.rs:
    124-155). Fetches run on a prefetch thread under the Spark local
    properties (job group, description) the caller had set when the
    step was submitted, so a job group can cancel or attribute a
    whole traversal."""

    store: object  # CellStore; duck-typed to avoid an import cycle
    tableset_name: str
    traversal_cells: list[int]
    h3_resolution: int
    query: TableSetQuery | None = None
    options: TraversalOptions = field(default_factory=TraversalOptions)

    _pos: int = 0
    _next_submit: int = 0
    _pool: object = field(default=None, repr=False)
    _futures: object = field(default=None, repr=False)

    def __len__(self) -> int:
        """Remaining cells (reference size_hint, traversal.rs:184-205)."""
        return len(self.traversal_cells) - self._pos

    @property
    def num_traversed_cells(self) -> int:
        return len(self.traversal_cells)

    def __iter__(self) -> Iterator[TraversedCell]:
        return self

    def _fetch(self, cell: int):
        fetch_cells = [cell]
        if self.options.buffer_k > 0:
            from ukis_h3cellstore_spark import geo

            fetch_cells = sorted(
                set(geo.default_grid().grid_disk(cell, self.options.buffer_k))
            )
        h3df = self.store.query_tableset_cells(
            self.tableset_name,
            fetch_cells,
            self.h3_resolution,
            query=self.query,
            do_uncompact=self.options.do_uncompact,
        )
        # the step's query executes once; its row count gives the
        # skip-empty verdict (traversal.rs:452-456). Below
        # spark.sql.execution.arrow.localRelationThreshold the frame
        # over the fetched rows is a LocalRelation, whose collect runs
        # no Spark job. A per-step driver fetch by design — the
        # reference is the same pull-based client iterator; for the
        # distributed path use traverse_apply.
        df = h3df.df
        table = df.toArrow()
        if table.num_rows == 0:
            return None
        return H3DataFrame(
            df.sparkSession.createDataFrame(table, schema=df.schema),
            h3df.h3index_column_name,
        )

    def __next__(self) -> TraversedCell:
        """Yields cells in dispatch order; up to ``num_connections``
        fetches run concurrently ahead of the consumer (the
        reference's worker pool + bounded mpsc channel,
        traversal.rs:207-327 — Spark handles the concurrent jobs)."""
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        width = max(self.options.num_connections, 1)
        if self._pool is None:
            self._pool = ThreadPoolExecutor(max_workers=width)
            self._futures = deque()
        while True:
            while (
                self._next_submit < len(self.traversal_cells)
                and len(self._futures) < width
            ):
                cell = self.traversal_cells[self._next_submit]
                self._next_submit += 1
                # the fetch thread runs under the caller's Spark local
                # properties (job group, description) and session tags
                # as of submission
                fetch = inheritable_thread_target(SparkSession.active())(
                    self._fetch
                )
                self._futures.append((cell, self._pool.submit(fetch, cell)))
            if not self._futures:
                self._pool.shutdown(wait=False)
                raise StopIteration
            cell, fut = self._futures.popleft()
            h3df = fut.result()
            self._pos += 1
            if h3df is None:
                continue
            return TraversedCell(cell, h3df)


def _prefilter_cells(
    store,
    tableset_name: str,
    traversal_cells: list[int],
    traversal_resolution: int,
    filter_query: TableSetQuery,
) -> list[int]:
    """P4 (traversal.rs:357-393): run the filter query at the traversal
    resolution in chunks; keep only traversal cells present in the
    response after normalizing the (still-compacted) response cells to
    the traversal resolution (traversal.rs:384-389)."""
    # scale path: above PREFILTER_DISTRIBUTED_MIN_CELLS, ONE Q2 query
    # over the whole cell set. The chunked loop is reference parity
    # for bounded gRPC fetches (traversal.rs:357-393), but at a
    # continent-sized AOI it degenerates into len/50 SEQUENTIAL driver
    # round trips (1M cells = 20k jobs); one query returns the same
    # kept set (set-intersection semantics either way).
    whole = len(traversal_cells) > PREFILTER_DISTRIBUTED_MIN_CELLS
    step = len(traversal_cells) if whole else PREFILTER_CHUNK_SIZE
    kept: set[int] = set()
    for i in range(0, len(traversal_cells), step):
        res = store.query_tableset_cells(
            tableset_name,
            traversal_cells[i : i + step],
            traversal_resolution,
            query=filter_query,
            do_uncompact=False,
        )
        got = res.df.select(res.h3col)
        if whole:
            # a cell's rows can repeat (a time or custom partition
            # key, a templated query): dedup in-plan so the collect
            # stays traversal-cell-sized
            got = got.distinct()
        # a chunk's rows are few (<= PREFILTER_CHUNK_SIZE cells times
        # the rows per cell), so the driver set dedups them without a
        # shuffle
        kept.update(
            h3c.change_resolution([r[0] for r in got.collect()], traversal_resolution)
        )
    return [c for c in traversal_cells if c in kept]


def build_traverser(
    store,
    tableset_name: str,
    area_of_interest,
    h3_resolution: int,
    query: TableSetQuery | None = None,
    options: TraversalOptions | None = None,
) -> Traverser:
    """Entry point (reference traverse_tableset_area_of_interest,
    grpc.rs:326-344): AOI → sorted deduped traversal cells at the sized
    traversal resolution → optional prefilter → Traverser."""
    options = options or TraversalOptions()
    schema = store.get_schema(tableset_name)
    trav_res = select_traversal_resolution(
        schema.h3_base_resolutions,
        h3_resolution,
        options.max_h3indexes_fetch_count,
    )
    cells = _area_of_interest_cells(area_of_interest, trav_res)
    if not cells:
        raise TraversalError("area of interest contains no cells")
    if options.filter_query is not None:
        cells = _prefilter_cells(
            store, tableset_name, cells, trav_res, options.filter_query
        )
    return Traverser(
        store=store,
        tableset_name=tableset_name,
        traversal_cells=cells,
        h3_resolution=h3_resolution,
        query=query,
        options=options,
    )


def _area_of_interest_cells(area_of_interest, traversal_resolution: int) -> list[int]:
    """AOI → sorted unique traversal cells (traversal.rs:131-162):
    cell list → change_resolution; geometry (__geo_interface__ or
    GeoJSON-like dict) → polygon_to_cells incl. exterior-ring cells."""
    if hasattr(area_of_interest, "__geo_interface__") or (
        isinstance(area_of_interest, dict) and "type" in area_of_interest
    ):
        from ukis_h3cellstore_spark import geo

        gi = getattr(area_of_interest, "__geo_interface__", area_of_interest)
        cells = geo.geometry_to_cells(gi, traversal_resolution)
    else:
        cells = h3c.change_resolution(
            [int(c) for c in area_of_interest], traversal_resolution
        )
    return sorted(set(cells))


def traverse_apply(
    store,
    tableset_name: str,
    area_of_interest,
    h3_resolution: int,
    func: Callable,
    output_schema,
    query: TableSetQuery | None = None,
    options: TraversalOptions | None = None,
    apply_resolution: int | None = None,
) -> DataFrame:
    """Distributed traversal: ONE Spark job instead of a driver pull
    loop. The whole AOI is fetched lazily, grouped by traversal cell,
    and ``func(pandas_df) -> pandas_df`` runs per group via
    ``applyInPandas`` — scale path for "process every tile" workloads
    (SURVEY §3.3). ``output_schema`` is the result schema (DDL string
    or StructType).

    ``apply_resolution`` decouples the GROUP granularity from the
    traversal sizing: by default groups are traversal cells, but when
    per-tile work is trivial the per-group Arrow/pandas overhead
    (~0.2 ms/group measured at the 819k-tile continent smoke)
    dominates — pass a coarser resolution to hand ``func`` bigger
    tiles (its ``__traversal_cell`` column then holds that coarser
    parent). Must be ≤ the traversal resolution."""
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    options = options or TraversalOptions()
    schema = store.get_schema(tableset_name)
    trav_res = select_traversal_resolution(
        schema.h3_base_resolutions,
        h3_resolution,
        options.max_h3indexes_fetch_count,
    )
    if isinstance(area_of_interest, _DF):
        # planet-scale AOI: a uniform-resolution cell FRAME (e.g.
        # geo.geometry_to_cells_df output) — the cell set never
        # becomes a driver list; query_tableset_cells_df normalizes
        # it per contributing table in-plan
        h3df = store.query_tableset_cells_df(
            tableset_name, area_of_interest, h3_resolution, query=query
        )
    else:
        cells = _area_of_interest_cells(area_of_interest, trav_res)
        if not cells:
            raise TraversalError("area of interest contains no cells")
        h3df = store.query_tableset_cells(
            tableset_name, cells, h3_resolution, query=query
        )
    group_res = trav_res if apply_resolution is None else int(apply_resolution)
    if group_res > trav_res:
        raise TraversalError(
            f"apply_resolution {group_res} is finer than the traversal "
            f"resolution {trav_res}"
        )
    keyed = h3df.df.withColumn(
        "__traversal_cell", hx.h3_to_parent(h3df.h3col, group_res)
    )
    return keyed.groupBy("__traversal_cell").applyInPandas(func, output_schema)
