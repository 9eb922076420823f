"""Raster → H3 dataframe source (reference S12).

The reference ingests GeoTIFF water masks through ``h3ronpy``'s
``raster_to_dataframe`` (usage:
``crates/ukis_h3cellstorepy/tests/clickhouse/test_raster.py:29-32``)
and its tier-3 oracle asserts < 0.5 % of source pixels are lost on a
full ingest → traverse → rasterize round trip.

Spark-first design: the raster is split into row bands; one
``mapInPandas`` stage converts each band's pixels to
``(h3index, value)`` rows through the pluggable grid backend
(:mod:`ukis_h3cellstore_spark.geo`) — real H3 when the ``h3`` package
is installed, :class:`geo.SquareGrid` for synthetic pipelines/tests.
The mask ships to executors as a broadcast (fine for tile-sized
rasters; for continent-scale imagery, read tiles from object storage
inside the UDF instead and pass paths, not pixels).

The transform is a GDAL-style affine 6-tuple ``(a, b, c, d, e, f)``:
``x = a*col + b*row + c``, ``y = d*col + e*row + f`` evaluated at
pixel centers (col+0.5, row+0.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ukis_h3cellstore_spark import geo


def raster_to_dataframe(
    spark: SparkSession,
    mask,
    transform: tuple[float, float, float, float, float, float],
    h3_resolution: int,
    nodata_value=0,
    compact: bool = False,
    band_rows: int = 256,
    grid: "geo.GridSystem | None" = None,
    value_column: str = "value",
) -> DataFrame:
    """Convert a 2D array to an H3 dataframe ``(h3index, value)``.

    Pixels equal to ``nodata_value`` are skipped. Multiple pixels
    landing in one cell keep one row per distinct value (matching
    h3ronpy's behavior of deduplicating identical cell/value pairs);
    with ``compact=True`` the result is H3-compacted afterwards
    (the reference test ingests with ``compacted=True``).
    """
    import numpy as np

    arr = np.asarray(mask)
    if arr.ndim != 2:
        raise ValueError("mask must be a 2D array")
    g = grid or geo.default_grid()
    n_rows = arr.shape[0]
    bands = [(r0, min(r0 + band_rows, n_rows)) for r0 in range(0, n_rows, band_rows)]
    # ship the raster via sparkContext.broadcast (deserialized once per
    # executor); Spark Connect has no sparkContext, so fall back to UDF
    # closure capture there (pickled per serialized task — fine at
    # test scale, and the only option on Connect)
    try:
        arr_bc = spark.sparkContext.broadcast(arr)
        arr_captured = None  # keep the big array out of the closure
    except Exception:
        arr_bc = None
        arr_captured = arr
    a, b, c, d, e_, f = (float(v) for v in transform)

    bands_df = spark.createDataFrame(bands, "r0 int, r1 int").repartition(
        max(len(bands), 1)
    )

    # the default H3 grid has a numpy-vectorized forward transform —
    # geocode whole pixel bands at once (~180k px/s/core) instead of a
    # per-pixel Python loop; custom GridSystems keep the generic loop
    from ukis_h3cellstore_spark.geo import H3Grid

    vectorized_hex = isinstance(g, H3Grid)

    def band_to_cells(pdf_iter):
        import pandas as pd

        arr_local = arr_bc.value if arr_bc is not None else arr_captured
        for pdf in pdf_iter:
            for r0, r1 in zip(pdf["r0"], pdf["r1"]):
                block = arr_local[r0:r1]
                rows, cols = (block != nodata_value).nonzero()
                if len(rows) == 0:
                    continue
                if vectorized_hex:
                    from ukis_h3cellstore_spark.h3 import icosa

                    col_center = cols + 0.5
                    row_center = r0 + rows + 0.5
                    xs = a * col_center + b * row_center + c
                    ys = d * col_center + e_ * row_center + f
                    cells_arr = icosa.latlng_to_cell_np(
                        ys, xs, h3_resolution
                    )
                    yield pd.DataFrame(
                        {
                            "h3index": pd.Series(cells_arr, dtype="int64"),
                            value_column: pd.Series(block[rows, cols]),
                        }
                    ).drop_duplicates()
                    continue
                out = {}
                for rr, cc in zip(rows, cols):
                    col_center = cc + 0.5
                    row_center = r0 + rr + 0.5
                    x = a * col_center + b * row_center + c
                    y = d * col_center + e_ * row_center + f
                    cell = g.latlng_to_cell(y, x, h3_resolution)
                    out[(cell, block[rr, cc])] = None
                cells = [k[0] for k in out]
                vals = [k[1] for k in out]
                yield pd.DataFrame(
                    {
                        "h3index": pd.Series(cells, dtype="int64"),
                        value_column: pd.Series(vals),
                    }
                ).drop_duplicates()

    out = bands_df.mapInPandas(
        band_to_cells, f"h3index long, {value_column} long"
    ).dropDuplicates()
    if compact:
        from ukis_h3cellstore_spark import compaction

        # every row is at h3_resolution: passing it spares compact_df
        # the max-resolution aggregation (a re-run of the conversion)
        out = compaction.compact_df(out, "h3index", max_res=h3_resolution)
    return out


def cells_to_raster(
    df,
    transform: tuple[float, float, float, float, float, float],
    shape: tuple[int, int],
    h3index_column: str = "h3index",
    value_column: str = "value",
    grid: "geo.GridSystem | None" = None,
):
    """Inverse op for round-trip validation (the reference re-rasterizes
    traversal output to compare against the source mask,
    test_raster.py:50-82): paints each cell's center pixel. Driver-side
    — intended for test-sized rasters."""
    import numpy as np

    g = grid or geo.default_grid()
    a, b, c, d, e_, f = (float(v) for v in transform)
    det = a * e_ - b * d
    if det == 0:
        raise ValueError("non-invertible transform")
    out = np.zeros(shape, dtype="int64")
    for row in df.select(h3index_column, value_column).collect():
        lat, lng = g.cell_to_latlng(row[0])
        # invert the affine at the cell center
        col = (e_ * (lng - c) - b * (lat - f)) / det
        rr = (-d * (lng - c) + a * (lat - f)) / det
        ci, ri = int(col), int(rr)
        if 0 <= ri < shape[0] and 0 <= ci < shape[1]:
            out[ri, ci] = row[1]
    return out
