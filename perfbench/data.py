"""Seeded input generator and the Spark-free oracle.

The generator polyfills an Okavango-like region at res 8 (the seed
shifts it), cuts it into overlapping strips (west-to-east runs along
latitude bands) and derives two layers per strip:

- ``landcover`` (UInt8, SetNullOnConflict): a smooth function of the
  cell centre, so complete sibling sets mostly share a class and
  compaction removes a share of the rows; the centre cell of every
  res-5 cell has another class, so the tables a query reads do not
  depend on the seed;
- ``density`` (Float32, RelativeToCellArea): a sparse, hash-selected
  subset of the strip with near-unique values, so nothing compacts.
  Values are multiples of 1/1024 below 1024, exact in float32, so the
  rollup sums are exact in any summation order.

Every value is a pure function of the cell, so a cell shared by two
overlapping strips carries the same row in both.

:class:`TablesetModel` replays the store's insert semantics on Python
sets (per-value compaction via ``h3.cells.compact_cells``, split by
resolution, full-row dedup, the per-insert rollup chain) and answers
the benchmark's questions: table row counts, the rows a res-8 cell
query returns, and the traversal cells a prefilter keeps.

Known store fault the model copies: the store's rollup chain leaves
compacted rows between two base resolutions (res 7 here; the generator
makes no res-5 ones) out of every rollup source, where the reference
rolls up the union of all source tables (SURVEY §2.4). Coarser base
tables therefore miss those rows; e.g. a res-6 parent holding seven
class-2 cells (compacted to one res-7 row) and one class-3 res-8 cell
reads class 3 at res 6 instead of NULL. A change to the store that
fixes this must change :meth:`TablesetModel.insert` with it.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

import numpy as np

from ukis_h3cellstore_spark import CompactedTableSchemaBuilder, TraversalOptions, geo
from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.h3 import icosa
from ukis_h3cellstore_spark.traversal import select_traversal_resolution

RES = 8
BASE_RESOLUTIONS = [4, 6, 8]
#: traversal resolution the store picks for a res-8 target under the
#: default fetch bound
TRAVERSAL_RES = select_traversal_resolution(
    BASE_RESOLUTIONS, RES, TraversalOptions().max_h3indexes_fetch_count)
LANDCOVER_CLASSES = 5
#: share of a strip's cells repeated from the previous strip
OVERLAP = 0.1
#: one density cell per ``DENSITY_EVERY`` strip cells on average
DENSITY_EVERY = 10
#: strips of the pyramid ``traverse`` and ``lookup`` read
FIXTURE_STRIPS = 2


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one run; the defaults are the benchmark's, the
    self-test shrinks them."""

    region_deg: float = 2.0
    #: strips run along latitude bands of this height, west to east
    band_deg: float = 0.5
    strip_cells: int = 3000
    aoi_deg: float = 0.12
    lookup_anchors: int = 400


def landcover_schema():
    return (
        CompactedTableSchemaBuilder("landcover")
        .h3_base_resolutions(BASE_RESOLUTIONS)
        .add_h3index_column()
        .add_aggregated_column("landcover", "UInt8", "SetNullOnConflict", nullable=True)
        .build()
    )


def density_schema():
    # the README's own schema, on the benchmark's base resolutions
    return (
        CompactedTableSchemaBuilder("density")
        .h3_base_resolutions(BASE_RESOLUTIONS)
        .add_h3index_column()
        .add_aggregated_column("elephant_density", "Float32", "RelativeToCellArea")
        .build()
    )


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return x


@dataclass
class Strip:
    landcover: dict[int, int]
    density: dict[int, float]

    def rows(self, layer: str) -> dict:
        return self.landcover if layer == "landcover" else self.density


@dataclass
class Region:
    """The generated inputs of one seed."""

    seed: int
    sizes: Sizes
    cells: np.ndarray  # res-8 cells in strip order
    landcover: np.ndarray  # class per cell, same order
    density_mask: np.ndarray
    density: np.ndarray

    @property
    def strip_step(self) -> int:
        return int(self.sizes.strip_cells * (1.0 - OVERLAP))

    @property
    def num_strips(self) -> int:
        n = len(self.cells) - self.sizes.strip_cells
        return max(n // self.strip_step + 1, 1)

    def strip(self, k: int) -> Strip:
        if k >= self.num_strips:
            raise IndexError(f"strip {k} beyond the region's {self.num_strips}")
        lo = k * self.strip_step
        sl = slice(lo, lo + self.sizes.strip_cells)
        cells = self.cells[sl].tolist()
        lc = dict(zip(cells, self.landcover[sl].tolist()))
        m = self.density_mask[sl]
        dn = dict(zip(self.cells[sl][m].tolist(), self.density[sl][m].tolist()))
        return Strip(lc, dn)

    def strips_box(self, first: int, count: int) -> tuple[float, float, float, float]:
        """Bounding box (lng0, lat0, lng1, lat1) of the cell centres of
        strips ``first..first+count-1``."""
        lo = first * self.strip_step
        hi = (first + count - 1) * self.strip_step + self.sizes.strip_cells
        lats, lngs = icosa.cell_to_latlng_np(self.cells[lo:hi])
        return (float(lngs.min()), float(lats.min()), float(lngs.max()), float(lats.max()))


def polygon(box) -> dict:
    x0, y0, x1, y1 = box
    ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
    return {"type": "Polygon", "coordinates": [ring]}


def make_region(seed: int, sizes: Sizes, tracer=None) -> Region:
    rng = random.Random(seed)
    lng0 = 22.0 + rng.uniform(-0.5, 0.5)
    lat0 = -20.0 + rng.uniform(-0.5, 0.5)
    box = (lng0, lat0, lng0 + sizes.region_deg, lat0 + sizes.region_deg)
    if tracer is not None:
        with tracer.span("geo.geometry_to_cells"):
            cells = geo.geometry_to_cells(polygon(box), RES)
    else:
        cells = geo.geometry_to_cells(polygon(box), RES)
    arr = np.asarray(cells, dtype=np.int64)
    lats, lngs = icosa.cell_to_latlng_np(arr)
    # polyfill includes the exterior ring, whose centres may fall just
    # outside the box: they join the nearest band
    bands = max(int(round(sizes.region_deg / sizes.band_deg)), 1)
    band = np.clip(np.floor((lats - lat0) / sizes.band_deg), 0, bands - 1)
    order = np.lexsort((lats, lngs, band))
    arr, lats, lngs = arr[order], lats[order], lngs[order]
    a, b = rng.uniform(0, 2 * math.pi), rng.uniform(0, 2 * math.pi)
    smooth = np.sin(np.radians(lngs) * 400.0 + a) + np.cos(np.radians(lats) * 460.0 + b)
    landcover = (np.floor((smooth + 2.0) * 1.25).astype(np.int64)) % LANDCOVER_CLASSES
    # the res-8 centre cell of every res-5 cell (digits 6..8 all 0) is
    # a settlement of another class, so no res-5 cell is uniform: every
    # seed's pyramid holds the same tables (compacted res 6 and 7, never
    # res 5 or 4), and so every query reads the same number of tables
    centre = ((arr >> np.int64(3 * (h3c.MAX_RESOLUTION - RES))) & np.int64(0o777)) == 0
    landcover[centre] = (landcover[centre] + 1) % LANDCOVER_CLASSES
    h = _mix64(arr.astype(np.uint64) ^ np.uint64(seed & 0xFFFFFFFF))
    mask = (h % np.uint64(DENSITY_EVERY)) == 0
    density = ((h >> np.uint64(12)) % np.uint64(1 << 20)).astype(np.float64) / 1024.0
    density = np.maximum(density, 1.0 / 1024.0)
    return Region(seed, sizes, arr, landcover, mask, density)


# ------------------------------------------------------------------ oracle


def _set_null_on_conflict(values):
    distinct = {v for v in values if v is not None}
    return distinct.pop() if len(distinct) == 1 else None


def _relative_to_cell_area(values, children: int):
    return float(np.float32(math.fsum(values) / children))


@dataclass
class TablesetModel:
    """Python-set replay of one tableset's pyramid tables.

    ``agg`` is ``"set_null"`` or ``"relative_area"``. ``tables`` maps a
    ``(resolution, is_compacted)`` key to ``cell → set of values``: the
    distinct ``(cell, value)`` rows the store holds after full-row
    dedup."""

    name: str
    agg: str
    tables: dict[tuple[int, bool], dict[int, set]] = field(default_factory=dict)
    inserted_rows: int = 0

    def _add(self, res: int, compacted: bool, rows) -> None:
        table = self.tables.setdefault((res, compacted), {})
        for cell, v in rows:
            table.setdefault(cell, set()).add(v)

    def _rollup(self, rows, target_res: int, source_res: int) -> list[tuple]:
        groups: dict[int, list] = {}
        for cell, v in rows:
            groups.setdefault(h3c.cell_to_parent(cell, target_res), []).append(v)
        out = []
        for parent, vals in groups.items():
            if self.agg == "set_null":
                out.append((parent, _set_null_on_conflict(vals)))
            else:
                n = h3c.cell_to_children_count(parent, source_res)
                out.append((parent, _relative_to_cell_area(vals, n)))
        return out

    def insert(self, rows: dict[int, object]) -> None:
        """One ``insert_h3dataframe_into_tableset`` call."""
        self.inserted_rows += len(rows)
        by_value: dict[object, list[int]] = {}
        for cell, v in rows.items():
            by_value.setdefault(v, []).append(cell)
        batch: dict[int, list[tuple]] = {}
        for v, cells in by_value.items():
            for c in h3c.compact_cells(cells):
                batch.setdefault(h3c.get_resolution(c), []).append((c, v))
        for r, level in batch.items():
            self._add(r, r != RES, level)
        # rollup chain, fine → coarse over adjacent base resolutions,
        # as the store runs it today (see the module's note on the
        # known fault): the max-res source is the batch's max-res rows;
        # a coarser source is the previous rollup output plus the
        # batch's compacted rows at that resolution
        bases = sorted(BASE_RESOLUTIONS, reverse=True)
        current: list[tuple] = []
        for src, tgt in zip(bases, bases[1:]):
            source = batch.get(RES, []) if src == RES else current + batch.get(src, [])
            current = self._rollup(source, tgt, src)
            self._add(tgt, False, current)

    def row_counts(self) -> dict[tuple[int, bool], int]:
        counts = {k: sum(len(vs) for vs in t.values()) for k, t in self.tables.items()}
        return {k: n for k, n in counts.items() if n}

    def query_rows(self, cells_res8) -> list[tuple]:
        """Rows a res-8 ``query_tableset_cells`` returns for the given
        res-8 cells: the base table plus every compacted table at or
        below res 8, uncompacted and restricted to the cells (a cell
        covered by several tables appears once per table)."""
        out = []
        for c in set(cells_res8):
            for (r, compacted), table in self.tables.items():
                if compacted:
                    key = h3c.cell_to_parent(c, r)
                elif r == RES:
                    key = c
                else:
                    continue
                out.extend((c, v) for v in table.get(key, ()))
        return sorted(out, key=_row_key)

    def prefilter_kept(self, traversal_cells, predicate) -> list[int]:
        """Traversal cells a templated ``filter_query`` keeps when it
        runs at ``TRAVERSAL_RES`` without uncompaction: tables at that
        resolution (base and compacted) and coarser compacted tables,
        matched on the rows the predicate accepts."""
        hits: set[int] = set()
        for (r, compacted), table in self.tables.items():
            if r > TRAVERSAL_RES or (not compacted and r != TRAVERSAL_RES):
                continue
            for c, vals in table.items():
                if any(predicate(v) for v in vals):
                    hits.update(h3c.change_resolution([c], TRAVERSAL_RES))
        return [c for c in traversal_cells if c in hits]


def _row_key(row):
    c, v = row
    return (c, -1.0 if v is None else float(v))


def normalize_rows(rows) -> list[tuple]:
    """Spark rows (h3index, value) → the oracle's sorted tuple form."""
    out = []
    for c, v in rows:
        out.append((int(c), None if v is None else (float(v) if isinstance(v, float) else int(v))))
    return sorted(out, key=_row_key)
