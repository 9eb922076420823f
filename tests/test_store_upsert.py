"""Mutable tableset (CDC apply) tests: ReplacingMergeTree(ver,
is_deleted) keep-max-version merge + touched-partition coarse-level
refresh (store.upsert_h3dataframe_into_tableset). Beyond-reference
surface mirroring ClickHouse's public CDC pattern; the reference's
engine enum (other.rs:11-22) has no version parameter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.schema import ResolutionMetadata, SchemaError


def mutable_schema(name="sensor_state"):
    return (
        CompactedTableSchemaBuilder(name)
        .h3_base_resolutions([4, 6])
        .use_compacted_resolutions(False)
        .add_h3index_column()
        .add_aggregated_column("last_seq", "UInt64", "Max")
        .add_aggregated_column("is_deleted", "UInt8", "Min")
        .add_aggregated_column("last_value", "Int64", "Sum")
        .table_engine(
            "ReplacingMergeTree",
            version_column="last_seq",
            deleted_column="is_deleted",
        )
        .build()
    )


REGION = h3c.build_cell(42, [1, 2, 3, 4])  # res-4 cell
CELLS = h3c.cell_to_children(REGION, 6)  # 49 res-6 cells


def winners(spark, rows):
    return spark.createDataFrame(
        rows, "h3index long, last_seq long, is_deleted int, last_value long"
    )


def read_level(store, res, cells=None):
    out = store.query_tableset_cells(
        "sensor_state", list(cells or [REGION] if res == 4 else CELLS), res
    )
    return {
        r["h3index"]: (r["last_seq"], r["is_deleted"], r["last_value"])
        for r in out.df.collect()
    }


def test_schema_validation():
    with pytest.raises(SchemaError, match="version_column"):
        (
            CompactedTableSchemaBuilder("bad")
            .h3_base_resolutions([6])
            .add_h3index_column()
            .add_aggregated_column("v", "Int64", "Sum")
            .table_engine("SummingMergeTree", ["v"], version_column="v")
            .build()
        )
    with pytest.raises(SchemaError, match="not in schema"):
        (
            CompactedTableSchemaBuilder("bad")
            .h3_base_resolutions([6])
            .add_h3index_column()
            .table_engine("ReplacingMergeTree", version_column="nope")
            .build()
        )
    with pytest.raises(SchemaError, match="requires version_column"):
        (
            CompactedTableSchemaBuilder("bad")
            .h3_base_resolutions([6])
            .add_h3index_column()
            .add_aggregated_column("d", "UInt8", "Min")
            .table_engine("ReplacingMergeTree", deleted_column="d")
            .build()
        )
    # round-trips through JSON
    s = mutable_schema()
    s2 = type(s).from_json_string(s.to_json_string())
    assert s2.version_column == "last_seq"
    assert s2.deleted_column == "is_deleted"


def test_ddl_emits_version_params():
    from ukis_h3cellstore_spark.backends.clickhouse import _engine_sql

    assert _engine_sql(mutable_schema()) == (
        "ReplacingMergeTree(last_seq, is_deleted)"
    )


def test_upsert_requires_max_res_rows(spark, tmp_path):
    store = CellStore(spark, str(tmp_path / "wh"))
    bad = winners(spark, [(REGION, 1, 0, 10)])  # res-4 row
    with pytest.raises(SchemaError, match="max"):
        store.upsert_h3dataframe_into_tableset(mutable_schema(), bad)


@pytest.mark.parametrize("auto_part", [True, False])
def test_upsert_multibatch_equals_onebatch(spark, tmp_path, auto_part):
    """Keep-max-version + tombstones + coarse refresh; final pyramid
    must be identical whether changes arrive in one batch or three.
    auto_part=False forces the schema-declared partition layout so the
    scoped (staged partition rewrite) refresh path runs; True exercises the
    global-mode full-recompute path."""
    a, b, c, d = CELLS[0], CELLS[1], CELLS[2], CELLS[3]
    batches = [
        [(a, 1, 0, 10), (b, 2, 0, 20), (c, 3, 0, 30)],
        [(b, 5, 0, 25), (c, 6, 1, 0)],  # update b, delete c
        [(d, 7, 0, 40), (a, 4, 0, 11)],  # insert d, update a
    ]
    schema = mutable_schema()

    multi = CellStore(spark, str(tmp_path / "wh1"), auto_partitioning=auto_part)
    for rows in batches:
        multi.upsert_h3dataframe_into_tableset(schema, winners(spark, rows))

    single = CellStore(spark, str(tmp_path / "wh2"), auto_partitioning=auto_part)
    single.upsert_h3dataframe_into_tableset(
        schema, winners(spark, [r for rows in batches for r in rows])
    )

    for store in (multi, single):
        base = read_level(store, 6)
        assert base[a] == (4, 0, 11)
        assert base[b] == (5, 0, 25)
        assert base[c] == (6, 1, 0)  # tombstone retained
        assert base[d] == (7, 0, 40)
        # coarse level: aggregates over LIVE children only
        coarse = read_level(store, 4)
        assert coarse[REGION] == (7, 0, 11 + 25 + 40)


def test_upsert_out_of_order_replay_is_idempotent(spark, tmp_path):
    """A replayed batch of OLDER versions must not regress state, and
    a late lower-version update must not resurrect a tombstone."""
    a, b = CELLS[0], CELLS[1]
    schema = mutable_schema()
    store = CellStore(spark, str(tmp_path / "wh"))
    store.upsert_h3dataframe_into_tableset(
        schema, winners(spark, [(a, 9, 0, 90), (b, 8, 1, 0)])
    )
    # replay: stale update for a, pre-delete update for b
    store.upsert_h3dataframe_into_tableset(
        schema, winners(spark, [(a, 2, 0, 10), (b, 3, 0, 30)])
    )
    base = read_level(store, 6)
    assert base[a] == (9, 0, 90)
    assert base[b] == (8, 1, 0)
    coarse = read_level(store, 4)
    assert coarse[REGION] == (9, 0, 90)


def test_tombstone_only_partition_is_cleaned(spark, tmp_path):
    """Deleting every live child of a coarse partition must remove the
    stale coarse rows (an empty recompute writes nothing, so the
    staged rewrite deletes the touched partition)."""
    import os

    a, b = CELLS[0], CELLS[1]
    schema = mutable_schema()
    store = CellStore(spark, str(tmp_path / "wh"), auto_partitioning=False)
    store.upsert_h3dataframe_into_tableset(
        schema, winners(spark, [(a, 1, 0, 10), (b, 2, 0, 20)])
    )
    assert read_level(store, 4)[REGION] == (2, 0, 30)
    store.upsert_h3dataframe_into_tableset(
        schema, winners(spark, [(a, 3, 1, 0), (b, 4, 1, 0)])
    )
    assert read_level(store, 4) == {}
    # base level keeps the tombstones
    base = read_level(store, 6)
    assert base[a] == (3, 1, 0) and base[b] == (4, 1, 0)
    # and the coarse table's touched partition directory is gone
    path = store._table_path("sensor_state", ResolutionMetadata(4, False))
    assert not any(
        e.startswith("h3part=") for e in os.listdir(path)
    ), os.listdir(path)


def test_empty_upsert_does_not_create_tableset(spark, tmp_path):
    """An all-empty batch (a quiet CDC stream's micro-batch) must not
    materialize an empty tableset as a side effect: tableset creation
    happens only after the stats aggregation proves the batch has
    rows (r15; restores the pre-r14 streaming-sink contract that the
    isEmpty pre-check used to provide for free)."""
    store = CellStore(spark, str(tmp_path / "wh"))
    store.upsert_h3dataframe_into_tableset(mutable_schema(), winners(spark, []))
    assert not store.tableset_exists("sensor_state")
    # and a later non-empty batch creates it normally
    store.upsert_h3dataframe_into_tableset(
        mutable_schema(), winners(spark, [(CELLS[0], 1, 0, 10)])
    )
    assert store.tableset_exists("sensor_state")
    assert read_level(store, 6)[CELLS[0]] == (1, 0, 10)


def test_coarse_refresh_not_scoped_by_base_mode(spark, tmp_path):
    """touched_by_level must carry the REAL per-level touched values:
    _refresh_coarse_level resolves its mode PER LEVEL, so a base table
    whose marker says 'global' can coexist with a coarse level that
    re-resolves to 'schema' (its dir/marker lost, recreated by a batch
    over the auto-partitioning threshold). Substituting [0] from the
    BASE mode scoped that refresh to partition 0 and left every other
    coarse partition stale/missing."""
    import shutil

    a, b, c, d = CELLS[0], CELLS[1], CELLS[2], CELLS[3]
    schema = mutable_schema()
    wh = str(tmp_path / "wh")
    s1 = CellStore(
        spark, wh, auto_partitioning=True, target_rows_per_partition=100
    )
    s1.upsert_h3dataframe_into_tableset(schema, winners(spark, [(a, 1, 0, 10)]))
    # base + coarse markers now say 'global'; lose the coarse table
    # (dir AND marker), then apply a batch from a FRESH store (empty
    # mode cache) large enough that the recreated coarse level
    # resolves 'schema' while the base keeps its sticky 'global'
    shutil.rmtree(s1._table_path("sensor_state", ResolutionMetadata(4, False)))
    s2 = CellStore(
        spark, wh, auto_partitioning=True, target_rows_per_partition=2
    )
    s2.upsert_h3dataframe_into_tableset(
        schema, winners(spark, [(b, 2, 0, 20), (c, 3, 0, 30), (d, 4, 0, 40)])
    )
    assert read_level(s2, 4)[REGION] == (4, 0, 10 + 20 + 30 + 40)


def test_upsert_merge_path_honors_chunk_size(spark, tmp_path):
    """The single-write merge path must honor
    InsertOptions.max_num_rows_per_chunk (maxRecordsPerFile) exactly as
    the append path does — the r14 rewrite dropped the option, letting
    chunk files grow unboundedly."""
    import os

    from ukis_h3cellstore_spark.store import InsertOptions

    a, b, c = CELLS[0], CELLS[1], CELLS[2]
    schema = mutable_schema()
    store = CellStore(spark, str(tmp_path / "wh"), auto_partitioning=False)
    opts = InsertOptions(max_num_rows_per_chunk=1)
    store.upsert_h3dataframe_into_tableset(
        schema, winners(spark, [(a, 1, 0, 10)]), options=opts
    )
    # second upsert takes the merge (staged rewrite) path
    store.upsert_h3dataframe_into_tableset(
        schema, winners(spark, [(b, 2, 0, 20), (c, 3, 0, 30)]), options=opts
    )
    path = store._table_path("sensor_state", ResolutionMetadata(6, False))
    part_dirs = [e for e in os.listdir(path) if e.startswith("h3part=")]
    assert part_dirs
    files = [
        f
        for d in part_dirs
        for f in os.listdir(os.path.join(path, d))
        if f.endswith(".parquet")
    ]
    # 3 live rows at 1 row/file -> at least 3 data files
    assert len(files) >= 3, files


#: Spark jobs one upsert micro-batch into an existing tableset may run
#: (measured: 7 in either layout with AQE on; 8 while the batch was
#: persisted, whose cache build is a job of its own under AQE, and 10
#: and 12 before the staged rewrite): the stats aggregation, one staged
#: write merging the batch into the base table, and one staged
#: recompute of the coarse level.
UPSERT_MICROBATCH_MAX_JOBS = 7


@pytest.mark.parametrize("auto_part", [True, False])
def test_upsert_microbatch_jobs_ceiling(spark, tmp_path, auto_part):
    """Job budget of one CDC micro-batch that updates, deletes and
    inserts keys of an existing tableset, in the single-directory
    ("global") and the declared layout. Counted through the status
    tracker under a job group set around the call."""
    schema = mutable_schema()
    store = CellStore(spark, str(tmp_path / "wh"), auto_partitioning=auto_part)
    old = [(c, 1, 0, i) for i, c in enumerate(CELLS[:30])]
    new = [(c, 2, int(i % 4 == 0), i) for i, c in enumerate(CELLS[20:])]
    store.upsert_h3dataframe_into_tableset(schema, winners(spark, old))
    batch = winners(spark, new)
    sc = spark.sparkContext
    group = f"upsert-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "one upsert micro-batch")
    try:
        store.upsert_h3dataframe_into_tableset(schema, batch)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= UPSERT_MICROBATCH_MAX_JOBS, len(jobs)

    final = {c: (s, d, v) for c, s, d, v in old + new}
    assert read_level(store, 6) == final
    assert read_level(store, 4)[REGION] == (
        2, 0, sum(v for s, d, v in final.values() if not d)
    )
