"""Traversal (Q3) tests — mirror the reference
``tests/clickhouse/test_traversal.py`` invariants: traverse by cells,
always-false filter yields zero dataframes, broken filter surfaces an
error, plus the traversal-resolution sizing arithmetic
(traversal.rs:24-50) and the distributed applyInPandas variant."""

from __future__ import annotations

import pytest

from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.query import TableSetQuery
from ukis_h3cellstore_spark.traversal import (
    TraversalError,
    TraversalOptions,
    build_traverser,
    select_traversal_resolution,
    traverse_apply,
)


# ------------------------------------------------------ resolution sizing


def test_select_traversal_resolution_coarsest_within_bound():
    # 7^(7-4)=343 <= 500 → res 4 is usable and coarsest usable
    assert select_traversal_resolution(range(8), 7, 500) == 4
    # tighter bound: 7^(7-5)=49 <= 50 → res 5
    assert select_traversal_resolution(range(8), 7, 50) == 5
    # bound smaller than 7 → finest base resolution <= target
    assert select_traversal_resolution(range(8), 7, 1) == 7
    # base resolutions capped below target → clamp to finest available
    assert select_traversal_resolution([0, 1, 2], 7, 1) == 2


def test_select_traversal_resolution_no_usable_base():
    with pytest.raises(TraversalError):
        select_traversal_resolution([8, 9], 7, 500)


# ------------------------------------------------------------ fixtures


@pytest.fixture()
def store(spark, tmp_path):
    return CellStore(spark, str(tmp_path / "wh"))


def trav_schema():
    return (
        CompactedTableSchemaBuilder("trav_set")
        .h3_base_resolutions([4, 5, 6, 7])
        .add_h3index_column()
        .add_column("value", "Int32")
        .build()
    )


@pytest.fixture()
def loaded(spark, store):
    """Two disjoint res-5 regions: one populated with res-7 rows, one
    empty — traversal must skip the empty one."""
    region_a = h3c.build_cell(60, [1, 2, 3, 4, 5])
    region_b = h3c.build_cell(60, [1, 2, 3, 4, 6])
    cells = h3c.cell_to_children(region_a, 7)
    df = spark.createDataFrame(
        [(c, i) for i, c in enumerate(cells)], "h3index long, value int"
    )
    store.insert_h3dataframe_into_tableset(trav_schema(), df)
    return store, region_a, region_b, cells


# ------------------------------------------------------- pull iterator


def test_traverse_by_cells(loaded):
    store, region_a, region_b, cells = loaded
    trav = build_traverser(
        store,
        "trav_set",
        [region_a, region_b],
        7,
        options=TraversalOptions(max_h3indexes_fetch_count=50),
    )
    # sizing: 7^(7-5)=49 <= 50 → traversal at res 5 → 2 cells
    assert trav.num_traversed_cells == 2
    steps = list(trav)
    # empty region skipped (reference traversal.rs:452-456)
    assert len(steps) == 1
    assert steps[0].cell == region_a
    got = steps[0].contained_data.df.toPandas()
    assert set(got["h3index"]) == set(cells)
    assert len(trav) == 0


def test_traverse_always_false_filter_yields_nothing(loaded):
    store, region_a, region_b, _ = loaded
    f = TableSetQuery.from_template(
        "select * from <[table]> where value < 0 and h3index in <[h3indexes]>"
    )
    trav = build_traverser(
        store,
        "trav_set",
        [region_a, region_b],
        7,
        options=TraversalOptions(
            max_h3indexes_fetch_count=50, filter_query=f
        ),
    )
    # prefilter removed every traversal cell (test_traversal.py:9-103)
    assert trav.num_traversed_cells == 0
    assert list(trav) == []


def test_traverse_prefilter_keeps_matching_cells(loaded):
    store, region_a, region_b, _ = loaded
    f = TableSetQuery.from_template(
        "select * from <[table]> where value >= 0 and h3index in <[h3indexes]>"
    )
    trav = build_traverser(
        store,
        "trav_set",
        [region_a, region_b],
        7,
        options=TraversalOptions(
            max_h3indexes_fetch_count=50, filter_query=f
        ),
    )
    assert trav.traversal_cells == [region_a]


def test_traverse_broken_filter_surfaces_error(loaded):
    store, region_a, _, _ = loaded
    f = TableSetQuery.from_template(
        "select * from <[table]> where no_such_column = 1"
    )
    with pytest.raises(IOError):
        build_traverser(
            store,
            "trav_set",
            [region_a],
            7,
            options=TraversalOptions(
                max_h3indexes_fetch_count=50, filter_query=f
            ),
        )


def test_traverse_empty_aoi_raises(loaded):
    store, *_ = loaded
    with pytest.raises(TraversalError):
        build_traverser(store, "trav_set", [], 7)


# --------------------------------------------------- distributed variant


def test_traverse_apply_distributed(loaded):
    store, region_a, region_b, cells = loaded

    def per_tile(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "traversal_cell": [int(pdf["__traversal_cell"].iloc[0])],
                "n_rows": [len(pdf)],
                "sum_value": [int(pdf["value"].sum())],
            }
        )

    out = traverse_apply(
        store,
        "trav_set",
        [region_a, region_b],
        7,
        per_tile,
        "traversal_cell long, n_rows long, sum_value long",
        options=TraversalOptions(max_h3indexes_fetch_count=50),
    ).toPandas()
    # only the populated tile produces a group
    assert len(out) == 1
    assert int(out["traversal_cell"].iloc[0]) == region_a
    assert int(out["n_rows"].iloc[0]) == len(cells)
    assert int(out["sum_value"].iloc[0]) == sum(range(len(cells)))


def test_traverse_do_uncompact_false_returns_stored_resolutions(loaded):
    """PyTraversalOptions.do_uncompact parity: rows come back at their
    stored (possibly compacted) resolutions, not expanded to the
    requested one."""
    from pyspark.sql import functions as F

    from ukis_h3cellstore_spark.h3 import expressions as hx

    store, region_a, region_b, cells = loaded
    # a uniform-value region COMPACTS: all 49 children of region_a
    # collapse into the single res-5 parent row in a compacted table
    uniform = store.spark.createDataFrame(
        [(c, 1) for c in h3c.cell_to_children(region_b, 7)],
        "h3index long, value int",
    )
    store.insert_h3dataframe_into_tableset(trav_schema(), uniform)
    trav = build_traverser(
        store,
        "trav_set",
        [region_b],
        7,
        options=TraversalOptions(
            max_h3indexes_fetch_count=50, do_uncompact=False
        ),
    )
    steps = list(trav)
    assert len(steps) == 1
    df = steps[0].contained_data.df
    res = sorted(
        r["r"]
        for r in df.select(
            hx.h3_get_resolution(F.col("h3index")).alias("r")
        ).distinct().collect()
    )
    # stored (compacted) resolution comes back untouched
    assert res == [5]


# ------------------------------------------- materialized step contract


def eq_schema():
    return (
        CompactedTableSchemaBuilder("eq_set")
        .h3_base_resolutions([4, 5, 6, 7])
        .add_h3index_column()
        .add_column("value", "Int32")
        .add_column("tag", "String")
        .add_column("ts", "DateTime")
        .add_aggregated_column("cls", "UInt8", "SetNullOnConflict", nullable=True)
        .add_aggregated_column("dens", "Float32", "RelativeToCellArea")
        .build()
    )


@pytest.mark.parametrize("buffer_k", [0, 1])
@pytest.mark.parametrize("do_uncompact", [True, False])
def test_materialized_step_matches_lazy_query(spark, store, do_uncompact, buffer_k):
    """A traversed cell's frame is the step's query result fetched once:
    same rows, column names, types and nullability as the lazy
    ``query_tableset_cells`` frame, NULLs kept, and an empty step
    skipped. The first res-6 cell of ``region_a`` is uniform, so it is
    stored compacted and uncompacted on read."""
    import datetime

    from ukis_h3cellstore_spark import geo

    region_a = h3c.build_cell(60, [1, 2, 3, 4, 5])
    # no data, next to a
    region_b = min(set(geo.default_grid().grid_disk(region_a, 1)) - {region_a})
    region_c = h3c.build_cell(10, [1, 2, 3, 4, 5])  # no data, far away
    ts = datetime.datetime(2024, 5, 17, 13, 30, 15)
    rows = []
    for c in h3c.cell_to_children(region_a, 7):
        if h3c.get_digit(c, 6) == 0:
            rows.append((c, 7, "u", ts, 3, 1.5))
        else:
            d7 = h3c.get_digit(c, 7)
            rows.append((c, d7, "m", ts, None if d7 == 2 else d7, 0.25 * d7))
    store.insert_h3dataframe_into_tableset(
        eq_schema(),
        spark.createDataFrame(
            rows,
            "h3index long, value int, tag string, ts timestamp, cls int, dens float",
        ),
    )
    trav = build_traverser(
        store,
        "eq_set",
        [region_a, region_b, region_c],
        7,
        options=TraversalOptions(
            max_h3indexes_fetch_count=50,
            do_uncompact=do_uncompact,
            buffer_k=buffer_k,
            num_connections=1,
        ),
    )
    assert trav.num_traversed_cells == 3  # traversal at res 5

    def lazy(cell):
        fetch = [cell]
        if buffer_k:
            fetch = sorted(set(geo.default_grid().grid_disk(cell, buffer_k)))
        return store.query_tableset_cells(
            "eq_set", fetch, 7, do_uncompact=do_uncompact
        ).df

    steps = list(trav)
    assert [s.cell for s in steps] == [
        c for c in trav.traversal_cells if not lazy(c).isEmpty()
    ]
    assert region_a in [s.cell for s in steps]
    assert region_c not in [s.cell for s in steps]
    assert (region_b in [s.cell for s in steps]) == bool(buffer_k)
    for step in steps:
        got, want = step.contained_data.df, lazy(step.cell)
        assert [(f.name, f.dataType, f.nullable) for f in got.schema] == [
            (f.name, f.dataType, f.nullable) for f in want.schema
        ]
        got_rows, want_rows = got.collect(), want.collect()
        assert sorted(got_rows, key=repr) == sorted(want_rows, key=repr)
        assert any(r.cls is None for r in got_rows)
        assert all(r.ts == ts for r in got_rows)
    resolutions = {
        h3c.get_resolution(r.h3index)
        for s in steps
        for r in s.contained_data.df.collect()
    }
    assert resolutions == ({7} if do_uncompact else {6, 7})
