"""CellStore integration tests — mirror the reference tier-2 pytest
suite (SURVEY §5.2) and fixture invariants (FIXTURES F1-F3), minus the
live-ClickHouse parts (the Parquet warehouse replaces the server)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.query import QueryTemplateError, TableSetQuery
from ukis_h3cellstore_spark.schema import ResolutionMetadata, SchemaError


@pytest.fixture()
def store(spark, tmp_path):
    return CellStore(spark, str(tmp_path / "wh"))


def okavango_schema():
    return (
        CompactedTableSchemaBuilder("okavango_delta")
        .h3_base_resolutions(list(range(8)))
        .add_h3index_column()
        .add_column("is_valid", "UInt8")
        .add_aggregated_column("elephant_density", "Float32", "RelativeToCellArea")
        .add_aggregated_column("some_category", "UInt8", "SetNullOnConflict", nullable=True)
        .build()
    )


def disk_fixture(spark):
    """49 res-7 cells (children of one res-5 cell), uniform density,
    category split in half — the F1 'elephant' fixture shape."""
    region = h3c.build_cell(60, [1, 2, 3, 4, 5])
    cells = h3c.cell_to_children(region, 7)
    half = len(cells) // 2
    rows = [(c, 1, 4.0, 23 if i < half else 12) for i, c in enumerate(cells)]
    df = spark.createDataFrame(
        rows, "h3index long, is_valid int, elephant_density float, some_category int"
    )
    return region, cells, df


def test_f1_roundtrip_and_rollup(spark, store):
    schema = okavango_schema()
    region, cells, df = disk_fixture(spark)
    store.insert_h3dataframe_into_tableset(schema, df)

    # invariant 1 (test_schema.py:44-48): same shape at max res, no nulls
    out = store.query_tableset_cells("okavango_delta", cells, 7).df.toPandas()
    assert len(out) == len(cells)
    assert sorted(out.columns) == sorted(df.columns)
    assert out["some_category"].isna().sum() == 0
    assert set(out["h3index"]) == set(cells)

    # invariant 2 (test_schema.py:52-58): coarser query → fewer rows,
    # same columns, conflict → null
    out5 = store.query_tableset_cells("okavango_delta", [region], 5).df.toPandas()
    assert 0 < len(out5) < len(cells)
    assert len(out5.columns) == len(out.columns)
    assert out5["some_category"].isna().sum() >= 1
    # RelativeToCellArea over full coverage is exact
    assert float(out5["elephant_density"].iloc[0]) == 4.0

    # invariant 3 (test_schema.py:63-66): templated impossible filter → 0
    q = TableSetQuery.from_template(
        "select * from <[table]> where elephant_density < 2 "
        "and h3index in <[h3indexes]>"
    )
    assert store.query_tableset_cells("okavango_delta", cells, 7, query=q).df.count() == 0


def test_partial_coverage_relative_area(spark, store):
    """RelativeToCellArea counts missing children as zero."""
    schema = okavango_schema()
    region = h3c.build_cell(61, [1, 2, 3, 4, 5])
    cells = h3c.cell_to_children(region, 7)[:10]  # 10 of 49 children
    rows = [(c, 1, 1.0, 5) for c in cells]
    df = spark.createDataFrame(
        rows, "h3index long, is_valid int, elephant_density float, some_category int"
    )
    store.insert_h3dataframe_into_tableset(schema, df)
    out5 = store.query_tableset_cells("okavango_delta", [region], 5).df.toPandas()
    assert len(out5) == 1
    assert abs(float(out5["elephant_density"].iloc[0]) - 10 / 49) < 1e-6
    # never exceeds the input value (raster oracle invariant, F3)
    assert float(out5["elephant_density"].iloc[0]) <= 1.0


def test_f2_sum_schema_seven_children(spark, store):
    """F2: Sum aggregation (compaction disabled), res-4 footprint at
    res 5 returns exactly 7 rows (basic.rs:113-124)."""
    schema = (
        CompactedTableSchemaBuilder("okavango_delta_sum")
        .h3_base_resolutions(list(range(6)))
        .add_h3index_column()
        .add_aggregated_column("elephant_count", "UInt32", "Sum")
        .build()
    )
    region = h3c.build_cell(70, [1, 2, 3])  # res 3
    cells = h3c.cell_to_children(region, 5)
    df = spark.createDataFrame([(c, 2) for c in cells], "h3index long, elephant_count int")
    store.insert_h3dataframe_into_tableset(schema, df)
    parent4 = h3c.cell_to_children(region, 4)[0]
    out = store.query_tableset_cells("okavango_delta_sum", [parent4], 5).df.toPandas()
    assert len(out) == 7
    assert set(out["elephant_count"]) == {2}
    # and the res-4 rollup sums the 7 children
    out4 = store.query_tableset_cells("okavango_delta_sum", [parent4], 4).df.toPandas()
    assert len(out4) == 1 and int(out4["elephant_count"].iloc[0]) == 14


def test_query_rejects_empty_cells(store, spark):
    schema = okavango_schema()
    _, _, df = disk_fixture(spark)
    store.insert_h3dataframe_into_tableset(schema, df)
    with pytest.raises(ValueError):
        store.query_tableset_cells("okavango_delta", [], 7)


def test_insert_rejects_too_fine_resolution(spark, store):
    schema = (
        CompactedTableSchemaBuilder("shallow")
        .h3_base_resolutions([0, 1])
        .add_h3index_column()
        .add_column("v", "UInt8")
        .build()
    )
    cell = h3c.build_cell(20, [1, 2, 3])  # res 3 > max 1
    df = spark.createDataFrame([(cell, 1)], "h3index long, v int")
    with pytest.raises(SchemaError, match="resolution"):
        store.insert_h3dataframe_into_tableset(schema, df)


def test_template_requires_table_placeholder():
    with pytest.raises(QueryTemplateError):
        TableSetQuery.from_template("select * from elsewhere")


def test_template_missing_column_errors(spark, store):
    schema = okavango_schema()
    _, cells, df = disk_fixture(spark)
    store.insert_h3dataframe_into_tableset(schema, df)
    q = TableSetQuery.from_template(
        "select missing_col from <[table]> where h3index in <[h3indexes]>"
    )
    with pytest.raises(IOError):
        store.query_tableset_cells("okavango_delta", cells, 7, query=q).df.count()


def test_list_drop_tablesets(spark, store):
    schema = okavango_schema()
    _, _, df = disk_fixture(spark)
    store.insert_h3dataframe_into_tableset(schema, df)
    ts = store.list_tablesets()
    assert "okavango_delta" in ts
    assert ts["okavango_delta"].base_resolutions == list(range(8))
    store.drop_tableset("okavango_delta")
    assert "okavango_delta" not in store.list_tablesets()


def test_stats_cell_arithmetic(spark, store):
    schema = okavango_schema()
    _, cells, df = disk_fixture(spark)
    store.insert_h3dataframe_into_tableset(schema, df)
    stats = store.tableset_stats("okavango_delta").toPandas()
    # total cells at max res across base_07 + compacted tables == input size
    finest = stats[
        (stats.resolution == 7) & (~stats.is_compacted)
    ]["num_cells_at_max_res"].sum() + stats[stats.is_compacted][
        "num_cells_at_max_res"
    ].sum()
    assert finest == len(cells)


def test_insert_idempotent_dedup(spark, store):
    """Double insert of identical data + dedup → no duplicate rows
    (ReplacingMergeTree / OPTIMIZE DEDUPLICATE parity)."""
    schema = okavango_schema()
    _, cells, df = disk_fixture(spark)
    store.insert_h3dataframe_into_tableset(schema, df)
    store.insert_h3dataframe_into_tableset(schema, df)
    out = store.query_tableset_cells("okavango_delta", cells, 7).df.toPandas()
    assert len(out) == len(cells)


def test_templated_query_with_ch_dialect_functions(spark, store):
    """§7.4.8: templates may use the registered ClickHouse-name H3
    functions (here h3GetResolution / h3ToParent) on the Spark
    backend."""
    from ukis_h3cellstore_spark.functions import register_h3_sql_functions

    register_h3_sql_functions(spark)
    schema = (
        CompactedTableSchemaBuilder("tmpl_fn_set")
        .h3_base_resolutions([5, 6])
        .add_h3index_column()
        .add_column("v", "Int64")
        .build()
    )
    region = h3c.build_cell(60, [1, 2, 3, 4, 5])
    cells = h3c.cell_to_children(region, 6)
    df = spark.createDataFrame(
        [(c, i) for i, c in enumerate(cells)], "h3index long, v long"
    )
    store.insert_h3dataframe_into_tableset(schema, df)
    q = TableSetQuery.from_template(
        "select h3index, v, h3GetResolution(h3index) as r, "
        f"h3ToParent(h3index, 5) as p from <[table]> "
        "where h3index in <[h3indexes]>"
    )
    out = store.query_tableset_cells(
        "tmpl_fn_set", cells, 6, query=q, do_uncompact=False
    ).df.toPandas()
    assert set(out.r) <= {5, 6}
    assert set(out[out.r == 6].p) == {region}


def test_lower_resolution_and_temporal_partitioning_e2e(spark, store, tmp_path):
    """Reference test_schema.py:50-72 analogs: lower-resolution h3
    partitioning and multi-year temporal partitioning shape the
    physical layout (h3part = res-diff parent, tpart = 2-year bucket)
    and queries still round-trip."""
    import datetime
    import os

    schema = (
        CompactedTableSchemaBuilder("part_set")
        .h3_base_resolutions([6])
        .h3_partitioning("lower_resolution", 2)
        .temporal_partitioning("2 years")
        .add_h3index_column()
        .add_column("observed_on", "DateTime")
        .add_column("v", "Int64")
        .build()
    )
    region = h3c.build_cell(60, [1, 2, 3, 4, 5])
    cells = h3c.cell_to_children(region, 6)
    rows = [
        (c, datetime.datetime(2020 + (i % 4), 3, 1), i)
        for i, c in enumerate(cells)
    ]
    df = spark.createDataFrame(rows, "h3index long, observed_on timestamp, v long")
    # auto_partitioning off: this test asserts the DECLARED layout
    store = CellStore(spark, store.warehouse_dir, auto_partitioning=False)
    store.insert_h3dataframe_into_tableset(schema, df)

    # physical layout: h3part is the res-4 parent, tpart the 2-year bucket
    tdir = store._table_path("part_set", ResolutionMetadata(6, False))
    parts = sorted(p for p in os.listdir(tdir) if p.startswith("h3part="))
    assert parts == [f"h3part={h3c.cell_to_parent(region, 4)}"]
    tparts = sorted(os.listdir(os.path.join(tdir, parts[0])))
    # years 2020-2023 → buckets 2020 and 2022
    assert tparts == ["tpart=2020", "tpart=2022"]

    out = store.query_tableset_cells("part_set", cells, 6).df.toPandas()
    assert len(out) == len(cells)
    assert sorted(out.columns) == ["h3index", "observed_on", "v"]


def test_unknown_tableset_raises_clear_error(store):
    with pytest.raises(ValueError, match="does not exist"):
        store.get_schema("nope_set")
    with pytest.raises(ValueError, match="does not exist"):
        store.query_tableset_cells("nope_set", [1], 5)


def test_compaction_disabled_keeps_single_table(spark, store):
    """use_compacted_resolutions(False): no _compacted tables exist and
    inserts of max-res rows round-trip through the base table alone."""
    schema = (
        CompactedTableSchemaBuilder("nocomp_set")
        .use_compacted_resolutions(False)
        .h3_base_resolutions([6])
        .add_h3index_column()
        .add_column("v", "Int64")
        .build()
    )
    assert all(not m.is_compacted for m in schema.resolution_metadata())
    region = h3c.build_cell(60, [1, 2, 3, 4, 5])
    cells = h3c.cell_to_children(region, 6)
    df = spark.createDataFrame(
        [(c, i) for i, c in enumerate(cells)], "h3index long, v long"
    )
    store.insert_h3dataframe_into_tableset(schema, df)
    out = store.query_tableset_cells("nocomp_set", cells, 6).df.toPandas()
    assert len(out) == len(cells)


def test_pentagon_relative_cell_area_exact(spark, store):
    """SURVEY §7.4.2: RelativeToCellArea must divide by the ACTUAL
    child count — 6 under a pentagon parent, not 7 — so full coverage
    of a pentagon's children rolls up to exactly the input value."""
    schema = (
        CompactedTableSchemaBuilder("penta_set")
        .h3_base_resolutions([2, 3])
        .use_compacted_resolutions(False)
        .add_h3index_column()
        .add_aggregated_column("density", "Float64", "RelativeToCellArea")
        .build()
    )
    pentagon = h3c.build_cell(4, [0])  # res-1 center child of pentagon base 4
    children = h3c.cell_to_children(pentagon, 3)
    df = spark.createDataFrame(
        [(c, 4.0) for c in children], "h3index long, density double"
    )
    store.insert_h3dataframe_into_tableset(schema, df)
    parent2 = h3c.cell_to_center_child(pentagon, 2)
    out = store.query_tableset_cells("penta_set", [parent2], 2).df.toPandas()
    assert len(out) == 1
    assert abs(float(out["density"].iloc[0]) - 4.0) < 1e-9


def test_mixed_resolution_insert_roundtrip(spark, store):
    """SURVEY §7.4.5: inserts may carry rows at any resolution ≤ max;
    coarse rows land in their compacted table and queries expand them
    next to the fine rows."""
    schema = (
        CompactedTableSchemaBuilder("mixed_set")
        .h3_base_resolutions([4, 6])
        .add_h3index_column()
        .add_column("v", "Int64")
        .build()
    )
    region = h3c.build_cell(60, [1, 2, 3, 4])   # res 4
    fine_parent = h3c.cell_to_children(region, 5)[1]
    fine = h3c.cell_to_children(fine_parent, 6)[:3]   # 3 res-6 rows
    coarse = h3c.cell_to_children(region, 5)[2]       # 1 res-5 row
    rows = [(c, 1) for c in fine] + [(coarse, 9)]
    df = spark.createDataFrame(rows, "h3index long, v long")
    store.insert_h3dataframe_into_tableset(schema, df)

    # coarse row → compacted_05 table
    assert (
        store.read_table(schema, ResolutionMetadata(5, True)).count() == 1
    )
    # query at res 6: fine rows pass through, the coarse row expands
    # to its 7 children (restricted to the requested cells)
    want = fine + h3c.cell_to_children(coarse, 6)
    out = store.query_tableset_cells("mixed_set", want, 6).df.toPandas()
    assert len(out) == 3 + 7
    assert set(out[out.v == 9]["h3index"]) == set(h3c.cell_to_children(coarse, 6))


def test_summing_merge_groups_by_sort_key(spark, store):
    """SummingMergeTree semantics (reference schema/mod.rs:103-118):
    rows with equal sort keys are summed even when non-key attribute
    values differ, and an empty summing_columns list sums ALL numeric
    non-key columns (the ClickHouse default)."""
    cell = h3c.build_cell(60, [1, 2, 3, 4, 5])
    schema = (
        CompactedTableSchemaBuilder("sum_set")
        .table_engine("SummingMergeTree", ["cnt"])
        .h3_base_resolutions([5])
        .add_h3index_column()
        .add_column("label", "String")
        .add_aggregated_column("cnt", "Int64", "Sum")
        .build()
    )
    df = spark.createDataFrame(
        [(cell, "a", 1), (cell, "b", 2)], "h3index long, label string, cnt long"
    )
    out = store._apply_engine_merge(schema, df).collect()
    # equal sort key (h3index) → ONE row, counts summed, label arbitrary
    assert len(out) == 1
    assert out[0]["cnt"] == 3

    # empty summing list: every numeric non-key column is summed
    schema2 = (
        CompactedTableSchemaBuilder("sum_all_set")
        .table_engine("SummingMergeTree")
        .h3_base_resolutions([5])
        .add_h3index_column()
        .add_aggregated_column("v1", "Int64", "Sum")
        .add_aggregated_column("v2", "Float64", "Sum")
        .build()
    )
    df2 = spark.createDataFrame(
        [(cell, 1, 0.5), (cell, 2, 1.5)], "h3index long, v1 long, v2 double"
    )
    out2 = store._apply_engine_merge(schema2, df2).collect()
    assert len(out2) == 1
    assert out2[0]["v1"] == 3 and out2[0]["v2"] == 2.0


def test_adaptive_partitioning_small_batch_single_dir(spark, tmp_path):
    """A small first batch writes ONE h3part directory per table
    (global mode), the mode is sticky for appends, and queries +
    pruning still round-trip correctly."""
    import os

    store = CellStore(spark, str(tmp_path / "wh_auto"))
    schema = (
        CompactedTableSchemaBuilder("auto_set")
        .h3_base_resolutions([5])
        .use_compacted_resolutions(False)
        .add_h3index_column()
        .add_column("v", "Int64")
        .build()
    )
    region = h3c.build_cell(60, [1, 2, 3])
    cells = h3c.cell_to_children(region, 5)
    df = spark.createDataFrame([(c, 1) for c in cells], "h3index long, v long")
    store.insert_h3dataframe_into_tableset(schema, df)

    tdir = store._table_path("auto_set", ResolutionMetadata(5, False))
    parts = [p for p in os.listdir(tdir) if p.startswith("h3part=")]
    assert parts == ["h3part=0"]
    assert os.path.isfile(os.path.join(tdir, "_h3part_mode.json"))

    # query round-trips (pruning must NOT filter the constant h3part)
    out = store.query_tableset_cells("auto_set", cells, 5).df.toPandas()
    assert len(out) == len(cells)

    # sticky: a second small append stays single-dir
    store2 = CellStore(spark, str(tmp_path / "wh_auto"))
    more = h3c.cell_to_children(h3c.build_cell(61, [1, 2, 3]), 5)
    df2 = spark.createDataFrame([(c, 2) for c in more], "h3index long, v long")
    store2.insert_h3dataframe_into_tableset(schema, df2)
    parts2 = [p for p in os.listdir(tdir) if p.startswith("h3part=")]
    assert parts2 == ["h3part=0"]
    out2 = store2.query_tableset_cells("auto_set", cells + more, 5).df.toPandas()
    assert len(out2) == len(cells) + len(more)


def test_adaptive_partitioning_large_batch_uses_schema_layout(spark, tmp_path):
    """Above the volume threshold the declared partitioning applies."""
    import os

    store = CellStore(
        spark, str(tmp_path / "wh_auto2"), target_rows_per_partition=10
    )
    schema = (
        CompactedTableSchemaBuilder("auto_big")
        .h3_base_resolutions([5])
        .use_compacted_resolutions(False)
        .add_h3index_column()
        .add_column("v", "Int64")
        .build()
    )
    cells = h3c.cell_to_children(h3c.build_cell(60, [1, 2, 3]), 5)
    df = spark.createDataFrame([(c, 1) for c in cells], "h3index long, v long")
    store.insert_h3dataframe_into_tableset(schema, df)
    tdir = store._table_path("auto_big", ResolutionMetadata(5, False))
    parts = [p for p in os.listdir(tdir) if p.startswith("h3part=")]
    assert parts == ["h3part=60"]  # basecell layout


def test_partition_scoped_dedup_rewrite(spark, tmp_path):
    """A second insert into DIFFERENT partitions must not rewrite the
    untouched partition's files (reference partition-scoped OPTIMIZE,
    O11), and cross-insert duplicates in the SAME partition merge."""
    import os

    store = CellStore(
        spark, str(tmp_path / "wh_scope"), target_rows_per_partition=1
    )  # force declared basecell layout so partitions are observable
    schema = (
        CompactedTableSchemaBuilder("scope_set")
        .h3_base_resolutions([5])
        .use_compacted_resolutions(False)
        .add_h3index_column()
        .add_column("v", "Int64")
        .build()
    )
    cells60 = h3c.cell_to_children(h3c.build_cell(60, [1, 2, 3]), 5)
    cells61 = h3c.cell_to_children(h3c.build_cell(61, [1, 2, 3]), 5)
    df60 = spark.createDataFrame([(c, 1) for c in cells60], "h3index long, v long")
    df61 = spark.createDataFrame([(c, 2) for c in cells61], "h3index long, v long")
    store.insert_h3dataframe_into_tableset(schema, df60)
    store.insert_h3dataframe_into_tableset(schema, df61)

    tdir = store._table_path("scope_set", ResolutionMetadata(5, False))
    p60 = os.path.join(tdir, "h3part=60")
    mtime_before = max(
        os.path.getmtime(os.path.join(p60, f)) for f in os.listdir(p60)
    )
    # third insert touches only base cell 61 → h3part=60 files untouched
    store.insert_h3dataframe_into_tableset(schema, df61)
    mtime_after = max(
        os.path.getmtime(os.path.join(p60, f)) for f in os.listdir(p60)
    )
    assert mtime_after == mtime_before

    # duplicates within the touched partition merged away
    out = store.query_tableset_cells("scope_set", cells60 + cells61, 5).df.toPandas()
    assert len(out) == len(cells60) + len(cells61)


def test_cross_insert_sum_merge_requires_summing_engine(spark, store):
    """Two inserts contributing DIFFERENT partial sums to the same
    cells: the SummingMergeTree engine must merge them into one
    full-sum row per cell. (The default ReplacingMergeTree's dedup is
    full-row — differing-value rows coexist there by ClickHouse
    semantics, which is why multi-batch Sum ingestion must declare the
    Summing engine; this regression surfaced at the sf0.1 streaming
    gate where synthesized parents first collided across batches.)"""
    schema = (
        CompactedTableSchemaBuilder("xsum")
        .h3_base_resolutions([4, 6])
        .add_h3index_column()
        .add_aggregated_column("value_cents", "UInt64", "Sum")
        .table_engine("SummingMergeTree", ["value_cents"])
        .build()
    )
    region = h3c.build_cell(60, [1, 2, 3])  # res-3 cell
    kids6 = h3c.cell_to_children(h3c.cell_to_children(region, 4)[0], 6)[:20]
    df1 = spark.createDataFrame(
        [(c, 10) for c in kids6], "h3index long, value_cents long"
    )
    df2 = spark.createDataFrame(
        [(c, 32) for c in kids6], "h3index long, value_cents long"
    )
    store.insert_h3dataframe_into_tableset(schema, df1)
    store.insert_h3dataframe_into_tableset(schema, df2)
    out = (
        store.query_tableset_cells("xsum", kids6, 6)
        .df.toPandas()
        .set_index("h3index")
    )
    # one row per cell, both inserts' contributions summed
    assert len(out) == len(kids6)
    assert (out.value_cents == 42).all()
    # and the rolled-up res-4 parent carries the grand total
    parent = h3c.cell_to_parent(kids6[0], 4)
    out4 = store.query_tableset_cells("xsum", [parent], 4).df.toPandas()
    assert len(out4) == 1
    assert int(out4.value_cents.iloc[0]) == 42 * len(kids6)


#: Spark jobs the second, overlapping insert below may run (measured:
#: 22 on 2, 4 and 8 cores with AQE on; 33 before the staged rewrite).
#: It compacts once, runs one prelude aggregation, and writes three
#: split levels and two rollup levels, each merged with its existing
#: global table in one staged write.
OVERLAPPING_INSERT_MAX_JOBS = 22


def test_overlapping_insert_jobs_ceiling(spark, tmp_path):
    """Job budget of an insert whose every table already exists in the
    single-directory "global" layout — the common steady state of a
    small-batch ingest. Counted through the status tracker under the
    insert's own job group (the id ``cancel_insert`` keys on). Each
    touched table still holds one parquet file afterwards."""
    import glob

    store = CellStore(spark, str(tmp_path / "wh_jobs"))
    schema = (
        CompactedTableSchemaBuilder("jobs_set")
        .h3_base_resolutions([4, 6, 8])
        .add_h3index_column()
        .add_aggregated_column("cls", "UInt8", "SetNullOnConflict", nullable=True)
        .build()
    )

    def cls(cell):
        # uniform res-6 cells, res-7 cells of a second class inside
        # mixed res-6 cells, and single odd res-8 cells
        d6, d7, d8 = (h3c.get_digit(cell, r) for r in (6, 7, 8))
        if d6 in (0, 1):
            return d6
        if d6 == 4 and d8 == 2:
            return 7
        return 5 if d7 == 3 else d6

    def batch(*res5):
        cells = [c for p in res5 for c in h3c.cell_to_children(p, 8)]
        return spark.createDataFrame(
            [(c, cls(c)) for c in cells], "h3index long, cls int"
        )

    a, b, c = (h3c.build_cell(20, [1, 2, 3, 4, d]) for d in (0, 1, 2))
    store.insert_h3dataframe_into_tableset(schema, batch(a, b))
    df = batch(b, c)  # b overlaps the first insert
    store.insert_h3dataframe_into_tableset(schema, df)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(f"h3cs-insert-jobs_set-{id(df)}")
    assert 0 < len(jobs) <= OVERLAPPING_INSERT_MAX_JOBS, len(jobs)

    tables = [
        m for m in schema.resolution_metadata()
        if glob.glob(store._table_path("jobs_set", m))
    ]
    assert len(tables) == 5
    for m in tables:
        files = glob.glob(store._table_path("jobs_set", m) + "/h3part=0/*.parquet")
        assert len(files) == 1, (m, files)
    out = store.query_tableset_cells("jobs_set", [a, b, c], 8).df.collect()
    assert sorted((r.h3index, r.cls) for r in out) == sorted(
        (x, cls(x)) for p in (a, b, c) for x in h3c.cell_to_children(p, 8)
    )


#: Spark jobs of Q2 reads on a [4, 6, 8] tableset (AQE on, 4 cores).
#: Building a query over 300 res-8 cells handed over as a frame and
#: asked at res 6: its stats job, the checkpointed res-4 normalization
#: and, in the declared layout, one partition-value collect per table
#: — the same counts as before the list and frame APIs shared one
#: pipeline. Keyed by (auto_partitioning, compacted fixture); the
#: compacted fixture's query asks at res 8 over its two compacted
#: tables (measured: 4 and 8, the same before uncompaction moved
#: in-plan).
QUERY_FRAME_BUILD_MAX_JOBS = {
    (True, False): 3, (False, False): 5, (True, True): 4, (False, True): 8,
}
#: One Traverser step at res 8 (the fetch and the consumer's collect):
#: the step's query executes once, as one job, and the collect reads
#: the driver-local frame with none. 6 before the final restrict of a
#: driver-known set became a literal IN, then 2 while the fetch's
#: emptiness check and the collect each executed the plan; on the
#: compacted fixture 6, while each execution also ran one broadcast job
#: per uncompacted table.
TRAVERSER_STEP_MAX_JOBS = 1


def _jobs_run_by(spark, action):
    """Run ``action``; return its result and the number of Spark jobs
    it ran under a job group set around the call, read from the status
    tracker. A Traverser's prefetch thread inherits the group, so its
    fetch jobs count too."""
    import uuid

    sc = spark.sparkContext
    group = f"q2-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs ceiling")
    try:
        out = action()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store up to date
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _q2_jobs_cls(cell, compacted):
    """Class of a res-8 cell in the ``q2_jobs`` fixture. Alternating
    classes never compact; the compacted variant is uniform per res-6
    cell for digits 0-3 (compacted res-6 rows) and per res-7 cell
    otherwise (compacted res-7 rows)."""
    if not compacted:
        return h3c.get_digit(cell, 8) % 2
    d6 = h3c.get_digit(cell, 6)
    return d6 if d6 < 4 else 10 + h3c.get_digit(cell, 7)


@pytest.mark.parametrize("auto_part", [True, False])
def test_query_jobs_ceiling(spark, tmp_path, auto_part):
    """Job budget of the Q2 read path: a list-backed query builds with
    no Spark job, a frame-backed one with its stats and normalization
    jobs only, and a traversal step runs one."""
    _check_query_jobs(spark, tmp_path, auto_part, compacted=False)


@pytest.mark.parametrize("auto_part", [True, False])
def test_query_jobs_ceiling_compacted(spark, tmp_path, auto_part):
    """The same budget over a pyramid with compacted res-6 and res-7
    rows, whose reads uncompact in-plan: no broadcast nested-loop join,
    and still one job per traversal step."""
    _check_query_jobs(spark, tmp_path, auto_part, compacted=True)


def _check_query_jobs(spark, tmp_path, auto_part, compacted):
    from ukis_h3cellstore_spark import traversal as T
    from ukis_h3cellstore_spark.query import cells_frame

    store = CellStore(spark, str(tmp_path / "wh"), auto_partitioning=auto_part)
    schema = (
        CompactedTableSchemaBuilder("q2_jobs")
        .h3_base_resolutions([4, 6, 8])
        .add_h3index_column()
        .add_aggregated_column("cls", "UInt8", "SetNullOnConflict", nullable=True)
        .build()
    )
    a, b = (h3c.build_cell(20, [1, 2, 3, 4, d]) for d in (0, 1))
    cells = [c for p in (a, b) for c in h3c.cell_to_children(p, 8)]
    store.insert_h3dataframe_into_tableset(
        schema,
        spark.createDataFrame(
            [(c, _q2_jobs_cls(c, compacted)) for c in cells], "h3index long, cls int"
        ),
    )
    compacted_res = sorted(
        m.resolution for m in schema.resolution_metadata()
        if m.is_compacted and os.path.isdir(store._table_path("q2_jobs", m))
    )
    assert compacted_res == ([6, 7] if compacted else []), compacted_res
    kids6 = h3c.cell_to_children(a, 6)

    listed, jobs = _jobs_run_by(
        spark, lambda: store.query_tableset_cells("q2_jobs", kids6, 8)
    )
    assert jobs == 0, jobs
    plan = listed.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("Generate" in plan) == compacted
    # the compacted pyramid has no res-6 base rows for its res-7
    # compacted rows (the known rollup fault, ROADMAP item 1), so its
    # frame query asks at res 8: it uncompacts both compacted tables
    frame_res = 8 if compacted else 6
    probe = cells_frame(spark, "h3index", cells[:300])
    framed, jobs = _jobs_run_by(
        spark, lambda: store.query_tableset_cells_df("q2_jobs", probe, frame_res)
    )
    assert 0 < jobs <= QUERY_FRAME_BUILD_MAX_JOBS[auto_part, compacted], jobs
    assert sorted((r.h3index, r.cls) for r in listed.df.collect()) == sorted(
        (c, _q2_jobs_cls(c, compacted)) for k in kids6
        for c in h3c.cell_to_children(k, 8)
    )
    assert sorted(r.h3index for r in framed.df.collect()) == sorted(
        {h3c.cell_to_parent(c, frame_res) for c in cells[:300]}
    )

    tr = T.build_traverser(
        store, "q2_jobs", [a, b], 8, options=T.TraversalOptions(num_connections=1)
    )
    for _ in range(2):
        rows, jobs = _jobs_run_by(spark, lambda: next(tr).contained_data.df.collect())
        assert len(rows) == 49
        assert 0 < jobs <= TRAVERSER_STEP_MAX_JOBS, jobs


def test_null_partition_value_merges_across_inserts(spark, tmp_path):
    """A NULL in a ``partition_by`` column is stored in Spark's default
    partition directory and read back as NULL. Matching touched
    partitions with ``==`` never found it: a repeated insert kept both
    copies, and the one-write merge would drop the partition's earlier
    rows. NULL must match NULL. An empty string is stored in the same
    directory and read back as NULL too, so a batch holding "" must
    merge with that partition's rows instead of replacing them."""
    store = CellStore(spark, str(tmp_path / "wh_null"), auto_partitioning=False)
    schema = (
        CompactedTableSchemaBuilder("null_src")
        .h3_base_resolutions([6])
        .add_h3index_column()
        .add_column("src", "String", nullable=True)
        .add_column("v", "Int64")
        .partition_by(["src"])
        .build()
    )
    first = h3c.cell_to_children(h3c.build_cell(60, [1, 2, 3, 4, 5]), 6)
    second = h3c.cell_to_children(h3c.build_cell(60, [1, 2, 3, 4, 6]), 6)
    rows = [(c, None, i) for i, c in enumerate(first)]
    more = rows[4:] + [(c, None, 100 + i) for i, c in enumerate(second)]

    def frame(rs):
        return spark.createDataFrame(rs, "h3index long, src string, v long")

    def stored():
        out = store.query_tableset_cells("null_src", first + second, 6).df.collect()
        return sorted((r.h3index, r.src, r.v) for r in out)

    store.insert_h3dataframe_into_tableset(schema, frame(rows))
    store.insert_h3dataframe_into_tableset(schema, frame(rows))
    assert stored() == sorted(rows)
    store.insert_h3dataframe_into_tableset(schema, frame(more))
    assert stored() == sorted(set(rows + more))

    third = h3c.cell_to_children(h3c.build_cell(60, [1, 2, 3, 4, 0]), 6)
    empty = [(c, "", 200 + i) for i, c in enumerate(third)]
    store.insert_h3dataframe_into_tableset(schema, frame(empty))
    store.insert_h3dataframe_into_tableset(schema, frame(empty))
    out = store.query_tableset_cells("null_src", first + second + third, 6)
    assert sorted((r.h3index, r.src, r.v) for r in out.df.collect()) == sorted(
        set(rows + more) | {(c, None, v) for c, _, v in empty}
    )


def test_staged_rewrite_of_nested_partitions(spark, tmp_path):
    """Schema-mode layout three directories deep: lower-resolution H3
    partitions, 2-year buckets and a string partition column whose
    values need escaping. An overlapping insert rewrites only the leaf
    partition directories it touches (every other leaf keeps its
    files and their mtimes), and the tableset then answers exactly as
    a single insert of the merged rows does."""
    import datetime
    import glob
    import os

    schema = (
        CompactedTableSchemaBuilder("nested_set")
        .h3_base_resolutions([5, 7])
        .h3_partitioning("lower_resolution", 2)
        .temporal_partitioning("2 years")
        .add_h3index_column()
        .add_column("observed_on", "DateTime")
        .add_column("src", "String")
        .add_column("v", "Int64")
        .partition_by(["src"])
        .build()
    )
    r1 = h3c.build_cell(60, [1, 2, 3, 4, 5])
    r2 = h3c.build_cell(60, [1, 2, 3, 4, 6])
    first = [
        (c, datetime.datetime(2020 + 2 * (i % 2), 5, 1), "c=d" if i % 3 else "a/b", i)
        for i, c in enumerate(h3c.cell_to_children(r1, 7) + h3c.cell_to_children(r2, 7))
    ]
    # duplicates and new rows, all in one leaf: r1, 2020-2021, "a/b"
    hit = [r for r in first[:49] if r[1].year == 2020 and r[2] == "a/b"]
    second = hit + [(c, t, s, v + 1000) for c, t, s, v in hit]

    def frame(rows):
        return spark.createDataFrame(
            rows, "h3index long, observed_on timestamp, src string, v long"
        )

    def leaves(st, res):
        tdir = st._table_path("nested_set", ResolutionMetadata(res, False))
        return {
            os.path.relpath(d, tdir): {
                f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)
            }
            for d in glob.glob(os.path.join(tdir, "*", "*", "*"))
        }

    store = CellStore(spark, str(tmp_path / "wh_a"), auto_partitioning=False)
    store.insert_h3dataframe_into_tableset(schema, frame(first))
    before = {res: leaves(store, res) for res in (5, 7)}
    assert len(before[7]) == 8 and len(before[5]) == 4
    store.insert_h3dataframe_into_tableset(schema, frame(second))
    tables = os.path.dirname(store._table_path("nested_set", ResolutionMetadata(7, False)))
    assert all(n.endswith(("_base", "_compacted")) for n in os.listdir(tables))
    for res, part in ((7, r1), (5, h3c.cell_to_parent(r1, 3))):
        after = leaves(store, res)
        touched = os.path.join(f"h3part={part}", "tpart=2020", "src=a%2Fb")
        assert set(after) == set(before[res])
        assert after[touched] != before[res][touched]
        assert all(after[k] == before[res][k] for k in after if k != touched)

    once = CellStore(spark, str(tmp_path / "wh_b"), auto_partitioning=False)
    once.insert_h3dataframe_into_tableset(schema, frame(sorted(set(first + second))))

    def rows(st, res):
        out = st.query_tableset_cells("nested_set", [r1, r2], res).df.collect()
        return sorted(map(tuple, out))

    for res in (7, 5):
        got = rows(store, res)
        assert got == rows(once, res) and len(got) == len(set(first + second))


def test_staged_swap_keeps_replaced_leaf_when_interrupted(spark, tmp_path, monkeypatch):
    """The swap renames a replaced leaf aside before it renames the
    staged leaf in. A failure between the two renames leaves the old
    rows in ``<table>.old.*`` instead of deleting them, and a later
    write does not touch that directory."""
    import os

    store = CellStore(spark, str(tmp_path / "wh"), auto_partitioning=False)
    schema = (
        CompactedTableSchemaBuilder("swap_set")
        .h3_base_resolutions([6])
        .add_h3index_column()
        .add_column("v", "Int64")
        .build()
    )
    cells = h3c.cell_to_children(h3c.build_cell(60, [1, 2, 3, 4, 5]), 6)
    rows = [(c, i) for i, c in enumerate(cells)]
    batch = spark.createDataFrame(rows, "h3index long, v long")
    store.insert_h3dataframe_into_tableset(schema, batch)
    path = store._table_path("swap_set", ResolutionMetadata(6, False))
    rename = os.rename

    def failing_rename(src, dst):
        if ".staging" in src:
            raise OSError("interrupted")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="interrupted"):
        store.insert_h3dataframe_into_tableset(schema, batch)
    monkeypatch.setattr(os, "rename", rename)
    (aside,) = [
        n for n in os.listdir(os.path.dirname(path)) if ".old." in n
    ]
    kept = os.path.join(os.path.dirname(path), aside)
    store.insert_h3dataframe_into_tableset(schema, batch)
    got = spark.read.parquet(kept).select("h3index", "v").collect()
    assert sorted(map(tuple, got)) == sorted(rows)
