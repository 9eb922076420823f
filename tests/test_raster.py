"""Raster source tests — the synthetic analog of the reference's
tier-3 raster oracle (test_raster.py:22-82: ingest a mask, read it
back, re-rasterize, assert almost nothing lost)."""

from __future__ import annotations

import numpy as np
import pytest

from ukis_h3cellstore_spark import geo
from ukis_h3cellstore_spark.raster import cells_to_raster, raster_to_dataframe

# 10°x10° box starting at (lng=10, lat=40), 60x60 pixels;
# row 0 at the top (negative y pixel size, GDAL-style)
PX = 10.0 / 60
TRANSFORM = (PX, 0.0, 10.0, 0.0, -PX, 50.0)


@pytest.fixture(scope="module")
def mask():
    m = np.zeros((60, 60), dtype="int64")
    yy, xx = np.mgrid[0:60, 0:60]
    blob = (yy - 30) ** 2 + (xx - 30) ** 2 <= 20**2
    m[blob] = 7  # "water" class
    m[5:10, 40:55] = 3  # a second class, disjoint
    return m


def test_raster_roundtrip_lossless(spark, mask):
    # SquareGrid res 9 cells (0.088°) are finer than pixels (0.167°):
    # every masked pixel maps to a distinct cell → exact round trip,
    # a stronger form of the reference's <0.5%-lost bound
    grid = geo.SquareGrid()
    df = raster_to_dataframe(
        spark, mask, TRANSFORM, 9, nodata_value=0, grid=grid, band_rows=16
    )
    n_px = int((mask != 0).sum())
    assert df.count() == n_px
    back = cells_to_raster(df, TRANSFORM, mask.shape, grid=grid)
    lost = int(((mask != 0) & (back != mask)).sum())
    assert lost == 0
    # nodata stays clear
    assert int(back[mask == 0].sum()) == 0


def test_raster_compacted_same_coverage(spark, mask):
    grid = geo.SquareGrid()
    plain = raster_to_dataframe(spark, mask, TRANSFORM, 9, grid=grid)
    compacted = raster_to_dataframe(
        spark, mask, TRANSFORM, 9, grid=grid, compact=True
    )
    # compaction can only shrink the row count, never grow it
    assert compacted.count() <= plain.count()


def test_raster_rejects_bad_input(spark):
    with pytest.raises(ValueError):
        raster_to_dataframe(
            spark, np.zeros((2, 2, 2)), TRANSFORM, 9, grid=geo.SquareGrid()
        )
    with pytest.raises(ValueError):
        # det == 0
        cells_to_raster(None, (1, 0, 0, 1, 0, 0), (4, 4), grid=geo.SquareGrid())


def test_raster_real_hex_grid_roundtrip(spark, mask):
    """The reference's tier-3 oracle on the REAL hexagonal grid: ingest
    the mask through H3Grid (pure-Python icosa core), re-rasterize,
    and assert <0.5 % of source pixels lost (test_raster.py:80-82
    parity) — res-7 hexagons (~1.2 km edge) are much finer than the
    ~18 km pixels."""
    grid = geo.H3Grid()
    df = raster_to_dataframe(
        spark, mask, TRANSFORM, 7, nodata_value=0, grid=grid, band_rows=16
    )
    rows = df.count()
    n_px = int((mask != 0).sum())
    assert rows >= n_px  # finer cells: at least one per pixel region
    back = cells_to_raster(df, TRANSFORM, mask.shape, grid=grid)
    src_set = mask != 0
    lost = int((src_set & (back == 0)).sum())
    assert lost / n_px < 0.005
    # classes survive: the two distinct values map back
    assert set(np.unique(back[back != 0])) == {3, 7}


#: Spark jobs ``raster_to_dataframe(compact=True)`` may run while it
#: builds its frame: a single-band compaction is one eager local
#: checkpoint (2 jobs; the raster conversion runs once, inside it).
#: Without the output resolution passed as ``max_res``, a
#: ``max(resolution)`` aggregation re-ran the conversion first: 4 jobs.
RASTER_COMPACT_MAX_JOBS = 2


def test_raster_compact_jobs_ceiling(spark, mask):
    """Compacting a raster runs at most ``RASTER_COMPACT_MAX_JOBS``
    jobs and returns per-value ``compact_cells`` of the plain rows."""
    import uuid

    from ukis_h3cellstore_spark.h3 import cells as h3c

    grid = geo.H3Grid()
    plain = raster_to_dataframe(spark, mask, TRANSFORM, 4, grid=grid)
    by_value: dict = {}
    for r in plain.collect():
        by_value.setdefault(r["value"], []).append(r["h3index"])
    want = sorted(
        (c, v) for v, cells in by_value.items() for c in h3c.compact_cells(cells)
    )

    sc = spark.sparkContext
    group = f"raster-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs ceiling")
    try:
        compacted = raster_to_dataframe(
            spark, mask, TRANSFORM, 4, grid=grid, compact=True
        )
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= RASTER_COMPACT_MAX_JOBS, jobs
    got = sorted((r["h3index"], r["value"]) for r in compacted.collect())
    assert got == want
    assert len(got) < len(plain.collect())  # something did compact
