"""CellStore — the Parquet-backed H3 tableset store.

Spark-first re-expression of the reference's
``CompactedTablesStore``/``GRPCConnection`` API (parity checklist:
SURVEY.md §2.10; reference ``crates/ukis_h3cellstorepy/src/clickhouse/
grpc.rs``). A "database" is a warehouse directory; a tableset is a
pyramid of Parquet datasets, one per (resolution, base|compacted)
table, written with:

- ``partitionBy`` on the H3 partition expression (base cell or
  lower-resolution parent — reference ``partitioning.rs:98-130``) plus
  the temporal bucket (``partitioning.rs:25-94``) and user partition
  columns → Spark partition pruning replaces ClickHouse part pruning
  (SURVEY §4 O3);
- ``sortWithinPartitions`` on the schema sort key (h3index first) →
  Parquet row-group min/max skipping replaces the MergeTree primary
  index (O4).

All pipelines are lazy DataFrame compositions — Catalyst plans the
scans, semi-joins, unions and aggregations. The driver collects only
bounded metadata: an insert's level counts, partition touch-lists and
upsert stats; a DataFrame probe's one stats row; and partition VALUES
for static pruning (at most ``STATIC_PRUNE_MAX_PARTITIONS`` rows). Cell
rows never pass through the driver. Both Q2 entry points share one
pipeline (``_query_cells``) over a cell set that is either a driver
list (``_ListCells``) or a frame (``_FrameCells``).
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil
import tempfile
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ukis_h3cellstore_spark import compaction, rollup
from ukis_h3cellstore_spark.frame import H3DataFrame
from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.h3 import expressions as hx
from ukis_h3cellstore_spark import query as build_query
from ukis_h3cellstore_spark.query import TableSetQuery
from ukis_h3cellstore_spark.schema import (
    CompactedTableSchema,
    ResolutionMetadata,
    SchemaError,
    TableEngine,
)
from ukis_h3cellstore_spark.tableset import TableSet, group_tables_into_tablesets

#: Static partition pruning (literal ``h3part IN (…)`` →
#: ``PartitionFilters`` in the scan) is used whenever the probe
#: touches at most this many DISTINCT partition values.  Sized for
#: plan cost, not driver memory: a 64k-value IN parses in ~30 ms and
#: analyzes in ~3 s (measured) — negligible against the full-table
#: scan the leftsemi fallback would pay at 100 TB, and it covers a
#: res-3 partition layout (41,162 cells) outright.
STATIC_PRUNE_MAX_PARTITIONS = 65_536


def _h3_part_res(schema: CompactedTableSchema, resolution: int) -> int | None:
    """Resolution of the H3 partition value of a table at
    ``resolution``: ``None`` for base-cell partitioning, else the
    lower-resolution parent's (reference ``partitioning.rs:98-130``)."""
    if schema.h3_partitioning.kind == "basecell":
        return None
    return max(resolution - schema.h3_partitioning.resolution_difference, 0)


def _h3_part(col: Column, part_res: int | None) -> Column:
    """H3 partition value of the cells in ``col``."""
    if part_res is None:
        return hx.h3_get_base_cell(col)
    return hx.h3_to_parent(col, part_res)


def _h3_part_count(part_res: int | None) -> int:
    """How many H3 partition values exist: the 122 base cells, or
    every cell at ``part_res`` (2 + 120·7^r)."""
    return 122 if part_res is None else 2 + 120 * 7**part_res


def _partition_match(cols: list[str], rows: list[tuple]) -> Column:
    """Rows whose partition columns ``cols`` equal one of the value
    tuples ``rows``; a NULL value matches NULL (Spark writes it as the
    ``__HIVE_DEFAULT_PARTITION__`` directory and reads it back as
    NULL, so ``==`` would never find that partition)."""
    if len(cols) == 1:
        col = F.col(cols[0])
        values = [r[0] for r in rows if r[0] is not None]
        if len(values) < len(rows):
            return col.isin(values) | col.isNull()
        return col.isin(values)
    return functools.reduce(
        operator.or_,
        (
            functools.reduce(
                operator.and_,
                (F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(cols, row)),
            )
            for row in rows
        ),
        F.lit(False),
    )


def _leaf_dirs(root: str, depth: int) -> list[str]:
    """Relative paths of the partition leaf directories under ``root``:
    ``depth`` levels of ``column=value`` directories."""
    level = [""]
    for _ in range(depth):
        level = [
            os.path.join(rel, e.name)
            for rel in level
            if os.path.isdir(os.path.join(root, rel))
            for e in os.scandir(os.path.join(root, rel))
            if e.is_dir() and "=" in e.name
        ]
    return level


class _ListCells:
    """A driver-side cell list (mixed resolutions allowed; invalid
    cells dropped). Every set derived from it is computed on the
    driver, so building a query over it runs no Spark job."""

    def __init__(self, cells):
        self.cells = [c for c in cells if h3c.is_valid_cell(c)]
        if not self.cells:
            raise ValueError("empty cell list")  # select.rs:87-89 parity
        # pentagon descendants only need the (large) validity filter
        # when a queried cell sits on a pentagon base cell
        self.any_pentagon = any(
            h3c.get_base_cell(c) in h3c.PENTAGON_BASE_CELLS for c in self.cells
        )
        self._norm: dict[int, list[int]] = {}

    def normalized(self, res: int) -> list[int]:
        if res not in self._norm:
            self._norm[res] = h3c.change_resolution(self.cells, res)
        return self._norm[res]

    def bound(self, res: int) -> int:
        return len(self.normalized(res))

    def partition_values(
        self, part_res: int | None, table_res: int
    ) -> tuple[list[int], int]:
        # a table's partition values are the set normalized to the
        # partition resolution, or its base cells
        if part_res is None:
            vals = sorted({h3c.get_base_cell(c) for c in self.cells})
        else:
            vals = self.normalized(part_res)
        return vals, len(vals)


class _FrameCells:
    """A uniform-resolution cell frame (its first column) — the
    planet-scale AOI read: the set never becomes a driver list. One
    job reads its count, resolution range and pentagon presence; every
    size after that is the arithmetic bound n·7^diff (a coarser set
    has at most n cells, pentagon pruning only shrinks a finer one),
    known without a count job."""

    def __init__(self, spark: SparkSession, h3name: str, cells_df: DataFrame):
        self.spark, self.h3name = spark, h3name
        cells_df = (
            cells_df.select(F.col(cells_df.columns[0]).alias(h3name))
            .filter(hx.h3_is_valid_cell(F.col(h3name)))
            .localCheckpoint(eager=False)  # feeds every table + the final restrict
        )
        pent = (
            hx.h3_get_base_cell(F.col(h3name))
            .isin(sorted(h3c.PENTAGON_BASE_CELLS))
            .cast("int")
        )
        stats = cells_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(hx.h3_get_resolution(F.col(h3name))).alias("lo"),
            F.max(hx.h3_get_resolution(F.col(h3name))).alias("hi"),
            F.max(pent).alias("pent"),
        ).collect()[0]
        if stats["n"] == 0:
            raise ValueError("empty cell list")  # select.rs:87-89 parity
        if stats["lo"] != stats["hi"]:
            raise ValueError(
                "query_tableset_cells_df requires a uniform-resolution "
                f"cell set (found {stats['lo']}..{stats['hi']}); use "
                "query_tableset_cells for mixed-resolution lists"
            )
        self.res = int(stats["lo"])
        self.n = int(stats["n"])
        self.any_pentagon = bool(stats["pent"])
        self._norm: dict[int, DataFrame] = {self.res: cells_df}

    def bound(self, res: int) -> int:
        return self.n * 7 ** max(0, res - self.res)

    def normalized(self, res: int) -> DataFrame:
        """The set at ``res`` as a plan. Coarser: parents via the index
        bit arithmetic + distinct. A continent-scale probe normalized
        DOWN shrinks ~7^diff-fold, so each coarser set derives from the
        closest finer one already built (ancestry is transitive) and is
        checkpointed for reuse; asked finest-first, the full-probe
        distinct runs once. Finer: the distinct set expanded in-plan
        (``h3_expand_to_children``; invalid pentagon descendants
        dropped), left uncached — its size is the bound, not a scan."""
        if res not in self._norm:
            src = min(
                (r for r in self._norm if res < r <= self.res), default=self.res
            )
            cells, col = self._norm[src], F.col(self.h3name)
            if res < self.res:
                self._norm[res] = (
                    cells.select(hx.h3_to_parent(col, res).alias(self.h3name))
                    .distinct()
                    .localCheckpoint(eager=False)
                )
            else:
                self._norm[res] = hx.h3_expand_to_children(
                    cells.distinct(), self.h3name, src, res, filter_invalid=True
                )
        return self._norm[res]

    def partition_values(
        self, part_res: int | None, table_res: int
    ) -> tuple[DataFrame, int]:
        # parents at part_res are the same for the probe and every
        # normalization of it, so read them from the smallest set that
        # reaches part_res: the probe or its cached coarser form, else
        # its expansion to part_res
        src = min(table_res, self.res)
        if part_res is not None and part_res > src:
            src = part_res
        vals = (
            self.normalized(src)
            .select(_h3_part(F.col(self.h3name), part_res).alias("h3part"))
            .distinct()
        )
        bound = _h3_part_count(part_res)
        if part_res is not None:
            bound = min(bound, self.bound(part_res))
        return vals, bound


@dataclass
class InsertOptions:
    """Parity with reference ``InsertOptions`` (grpc.rs:398-441)."""

    max_num_rows_per_chunk: int = 1_000_000  # → parquet maxRecordsPerFile
    create_schema: bool = True
    deduplicate_after_insert: bool = True


class CellStore:
    """One warehouse ("database") of H3 tablesets.

    ``auto_partitioning`` (default on) adapts the PHYSICAL parquet
    layout to batch volume: a table whose first batch is smaller than
    ``target_rows_per_partition`` is written as a single directory
    ("global" mode) instead of fanning out into up to 122 basecell
    directories of one tiny file each — the small-file problem that
    dominates commit time at low volume and, at 100 TB, per-batch
    metadata pressure. Larger first batches use the schema's declared
    ``h3_partitioning`` (reference ``partitioning.rs:98-130``). The
    decision is sticky per table (recorded in ``_h3part_mode.json``)
    so appends and partition pruning always agree with the on-disk
    layout; the logical schema is untouched.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        auto_partitioning: bool = True,
        target_rows_per_partition: int = 1_000_000,
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.auto_partitioning = auto_partitioning
        self.target_rows_per_partition = target_rows_per_partition
        self._mode_cache: dict[str, str] = {}
        os.makedirs(warehouse_dir, exist_ok=True)

    # ------------------------------------------------------------ small utils

    def _tableset_dir(self, name: str) -> str:
        return os.path.join(self.warehouse_dir, name)

    def _table_path(self, tableset_name: str, meta: ResolutionMetadata) -> str:
        return os.path.join(
            self._tableset_dir(tableset_name), "tables", meta.table_name(tableset_name)
        )

    def _schema_path(self, name: str) -> str:
        return os.path.join(self._tableset_dir(name), "schema.json")

    # --------------------------------------------------- database-level (S9)

    def database_exists(self, path: str | None = None) -> bool:
        return os.path.isdir(path or self.warehouse_dir)

    def create_database(self, path: str | None = None) -> None:
        os.makedirs(path or self.warehouse_dir, exist_ok=True)

    # ------------------------------------------------------- generic SQL (S2)

    def execute(self, sql: str) -> None:
        """Run a SQL statement (reference `execute`, grpc.rs:121-134)."""
        self.spark.sql(sql).collect()

    def execute_into_dataframe(self, sql: str) -> DataFrame:
        """Run SQL → lazy DataFrame (reference grpc.rs:137-150)."""
        return self.spark.sql(sql)

    def execute_into_h3dataframe(self, sql: str, h3index_column: str) -> H3DataFrame:
        """Reference grpc.rs:165-185 / cellstore.rs:69-79."""
        return H3DataFrame(self.spark.sql(sql), h3index_column)

    def insert_dataframe(
        self,
        table_name: str,
        df: DataFrame,
        max_num_rows_per_chunk: int = 1_000_000,
    ) -> None:
        """Append a dataframe to a raw (non-pyramid) warehouse table
        and register it as a view so ``execute`` SQL can reference it
        by name (reference S3/S4: Arrow insert + chunking,
        lib.rs:138-158, cellstore.rs:30-57). The reference's 1M-row
        chunk default maps to ``maxRecordsPerFile``."""
        path = os.path.join(self.warehouse_dir, "_raw", table_name)
        (
            df.write.mode("append")
            .option("maxRecordsPerFile", max_num_rows_per_chunk)
            .parquet(path)
        )
        self.spark.read.parquet(path).createOrReplaceTempView(table_name)

    # ------------------------------------------------------------ catalog (S8)

    def tableset_exists(self, name: str) -> bool:
        return os.path.isfile(self._schema_path(name))

    def get_schema(self, name: str) -> CompactedTableSchema:
        if not self.tableset_exists(name):
            raise ValueError(f"tableset {name!r} does not exist")
        with open(self._schema_path(name)) as f:
            return CompactedTableSchema.from_json_string(f.read())

    def list_tablesets(self) -> dict[str, TableSet]:
        """Discover tablesets by introspecting the warehouse directory —
        the same "scan physical tables, parse names, group" approach as
        the reference (mod.rs:138-213), with the schema.json as a
        shortcut when present."""
        table_names: list[str] = []
        if not os.path.isdir(self.warehouse_dir):
            return {}
        for entry in os.listdir(self.warehouse_dir):
            tdir = os.path.join(self.warehouse_dir, entry, "tables")
            if os.path.isdir(tdir):
                table_names.extend(os.listdir(tdir))
        return group_tables_into_tablesets(table_names)

    def create_tableset(self, schema: CompactedTableSchema) -> None:
        """Persist the schema and lay out the (empty) pyramid (S6)."""
        schema.validate()
        os.makedirs(os.path.join(self._tableset_dir(schema.name), "tables"), exist_ok=True)
        with open(self._schema_path(schema.name), "w") as f:
            f.write(schema.to_json_string())

    def drop_tableset(self, name: str) -> None:
        """Drop all tables of a set (S7, reference mod.rs:215-244)."""
        d = self._tableset_dir(name)
        if os.path.isdir(d):
            shutil.rmtree(d)

    # ------------------------------------------------------------- IO helpers

    def _partition_columns(self, schema: CompactedTableSchema) -> list[str]:
        cols = ["h3part"]
        if schema.temporal_partition_column() is not None:
            cols.append("tpart")
        cols.extend(
            c
            for c in schema.partition_by_columns
            if c != schema.temporal_partition_column()
        )
        return cols

    # -------------------------------------------- adaptive physical layout

    def _mode_path(self, tableset_name: str, meta: ResolutionMetadata) -> str:
        return os.path.join(
            self._table_path(tableset_name, meta), "_h3part_mode.json"
        )

    def _table_mode(
        self,
        schema: CompactedTableSchema,
        meta: ResolutionMetadata,
        batch_rows: int | None = None,
    ) -> str:
        """Effective physical H3-partitioning mode of one pyramid table:
        ``"schema"`` (declared partitioning) or ``"global"`` (single
        directory). Sticky after the first write; tables predating the
        marker file default to ``"schema"``."""
        mp = self._mode_path(schema.name, meta)
        if mp in self._mode_cache:
            return self._mode_cache[mp]
        if os.path.isfile(mp):
            with open(mp) as f:
                mode = json.load(f)["mode"]
        elif os.path.isdir(os.path.dirname(mp)):
            mode = "schema"  # pre-existing table without a marker
        elif (
            self.auto_partitioning
            and batch_rows is not None
            and batch_rows < self.target_rows_per_partition
        ):
            mode = "global"
        else:
            mode = "schema"
        self._mode_cache[mp] = mode
        return mode

    def _record_table_mode(
        self, schema: CompactedTableSchema, meta: ResolutionMetadata, mode: str
    ) -> None:
        mp = self._mode_path(schema.name, meta)
        if not os.path.isfile(mp):
            os.makedirs(os.path.dirname(mp), exist_ok=True)
            with open(mp, "w") as f:
                json.dump({"mode": mode}, f)
        self._mode_cache[mp] = mode

    def _with_partition_columns(
        self,
        schema: CompactedTableSchema,
        df: DataFrame,
        resolution: int,
        mode: str = "schema",
    ) -> DataFrame:
        # Spark stores "" like NULL, in the default partition directory,
        # and reads both back as NULL: give the batch's rows the value
        # the stored rows have, so partition matching and the engine
        # merge treat old and new rows of that partition alike
        types = dict(df.dtypes)
        for c in schema.partition_by_columns:
            if types.get(c) == "string":
                df = df.withColumn(c, F.when(F.col(c) != "", F.col(c)))
        if mode == "global":
            part = F.lit(0).cast("long")
        else:
            part = _h3_part(
                F.col(schema.h3index_column()), _h3_part_res(schema, resolution)
            )
        df = df.withColumn("h3part", part)
        tcol = schema.temporal_partition_column()
        if tcol is not None:
            tp = schema.temporal_partitioning
            if tp.unit == "years":
                bucket = (F.floor(F.year(F.col(tcol)) / tp.num) * tp.num).cast("int")
            else:
                months = F.year(F.col(tcol)) * 12 + F.month(F.col(tcol)) - 1
                bucket = (F.floor(months / tp.num) * tp.num).cast("int")
            df = df.withColumn("tpart", bucket)
        return df

    def _write_width(
        self, schema: CompactedTableSchema, meta: ResolutionMetadata, mode: str
    ) -> int | None:
        """Shuffle width for a partition-keyed write. A hash
        repartition on the partition value can never occupy more tasks
        than there are DISTINCT values (every value hashes to exactly
        one task), so any width beyond the value-space bound is
        empty-task scheduling overhead — at every scale. Returns None
        (keep the session default) when the bound is unknown (custom /
        temporal partition columns) or not smaller than the default."""
        if mode == "global":
            return 1
        if (
            schema.temporal_partition_column() is not None
            or schema.partition_by_columns
        ):
            return None
        bound = _h3_part_count(_h3_part_res(schema, meta.resolution))
        default = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
        return bound if bound < default else None

    def _clustered(
        self,
        schema: CompactedTableSchema,
        df: DataFrame,
        width: int | None,
        merge: bool,
    ) -> DataFrame:
        """``df`` hash-partitioned on the partition columns (``width``
        tasks, or the session default when None), optionally engine-
        merged, then sorted by the sort key within each task. The merge
        runs AFTER the repartition: its grouping keys include the
        partition columns, so every group already sits in one task and
        Spark plans no second exchange for it."""
        cols = [F.col(c) for c in self._partition_columns(schema)]
        out = df.repartition(width, *cols) if width else df.repartition(*cols)
        if merge:
            out = self._apply_engine_merge(schema, out)
        return out.sortWithinPartitions(*schema.sort_key())

    def _write_table(
        self,
        schema: CompactedTableSchema,
        meta: ResolutionMetadata,
        df: DataFrame,
        options: InsertOptions,
        batch_rows: int | None = None,
        merge: bool = False,
        dedup: bool = False,
        touched: list[tuple] | None = None,
    ) -> None:
        """Write ``df`` into one pyramid table. A new table, or any
        table without ``dedup``, gets an append; ``merge`` applies the
        table engine's merge to the batch on the way.

        With ``dedup`` a table that already holds data is merged in ONE
        staged write: the rows of the partitions the batch touches (the
        whole table in "global" mode) are read, unioned with the batch,
        engine-merged and swapped in — the reference's partition-scoped
        ``OPTIMIZE ... DEDUPLICATE`` (O11). Partition values derive
        from the row itself, so duplicates never span partitions.
        ``touched`` holds the batch's partition-value tuples when the
        caller already knows them; otherwise one job collects them."""
        mode = self._table_mode(schema, meta, batch_rows)
        out = self._with_partition_columns(schema, df, meta.resolution, mode)
        if dedup and os.path.isdir(self._table_path(schema.name, meta)):
            old = self.read_table(schema, meta)
            width = 1
            if mode != "global":
                part_cols = self._partition_columns(schema)
                if touched is None:
                    touched = [
                        tuple(r)
                        for r in out.select(*part_cols).distinct().collect()
                    ]
                old = old.filter(_partition_match(part_cols, touched))
                width = max(len(touched), 1)
            self._rewrite_partitions(
                schema, meta, old.unionByName(out), mode, width, options, []
            )
            return
        self._record_table_mode(schema, meta, mode)
        (
            self._clustered(
                schema, out, self._write_width(schema, meta, mode), merge
            )
            .write.mode("append")
            .option("maxRecordsPerFile", options.max_num_rows_per_chunk)
            .partitionBy(*self._partition_columns(schema))
            .parquet(self._table_path(schema.name, meta))
        )

    def _rewrite_partitions(
        self,
        schema: CompactedTableSchema,
        meta: ResolutionMetadata,
        content: DataFrame,
        mode: str,
        width: int | None,
        options: InsertOptions,
        covers: list[str] | None,
        merge: bool = True,
    ) -> None:
        """Replace partitions of one pyramid table by ``content``: the
        complete new rows, partition columns included, of every
        partition it holds. The rows are clustered (``_clustered``:
        ``width`` tasks, engine-merged with ``merge``) into a staging
        directory next to the table; then each staged leaf partition
        directory replaces the table's. ``covers`` names leaf
        directories (relative paths) that ``content`` covers in full:
        those it staged no rows for are deleted; ``None`` covers the
        whole table. Reading the table while writing the staging
        directory needs no materialization in between: the table is
        not touched until the write has finished.

        Each replaced leaf is first renamed into a directory of its own
        next to the table (``<table>.old.*``), then the staged leaf is
        renamed in, and the old leaves are deleted once every staged
        leaf is in place. A process that dies between the two renames
        leaves that partition missing from the table, but its rows are
        kept in the ``.old.*`` directory, which no later write
        touches."""
        path = self._table_path(schema.name, meta)
        staging = path + ".staging"
        part_cols = self._partition_columns(schema)
        (
            self._clustered(schema, content, width, merge)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", options.max_num_rows_per_chunk)
            .partitionBy(*part_cols)
            .parquet(staging)
        )
        self._record_table_mode(schema, meta, mode)
        staged = _leaf_dirs(staging, len(part_cols))
        if covers is None:
            covers = _leaf_dirs(path, len(part_cols))
        aside = tempfile.mkdtemp(
            prefix=os.path.basename(path) + ".old.", dir=os.path.dirname(path)
        )
        for rel in staged:
            target, kept = os.path.join(path, rel), os.path.join(aside, rel)
            if os.path.isdir(target):
                os.makedirs(os.path.dirname(kept), exist_ok=True)
                os.rename(target, kept)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.rename(os.path.join(staging, rel), target)
        for rel in set(covers) - set(staged):
            shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
        shutil.rmtree(aside)
        shutil.rmtree(staging)

    def read_table(
        self, schema: CompactedTableSchema, meta: ResolutionMetadata
    ) -> DataFrame:
        """Scan one pyramid table; empty-table-safe. Partition columns
        are retained for pruning and dropped by the projection step."""
        path = self._table_path(schema.name, meta)
        if not os.path.isdir(path):
            return self.spark.createDataFrame([], self._read_schema(schema))
        return self.spark.read.schema(self._read_schema(schema)).parquet(path)

    def _read_schema(self, schema: CompactedTableSchema):
        """Table schema + partition columns (typed) for schema-stable reads."""
        from pyspark.sql import types as T

        fields = list(schema.spark_schema().fields)
        fields.append(T.StructField("h3part", T.LongType(), True))
        if schema.temporal_partition_column() is not None:
            fields.append(T.StructField("tpart", T.IntegerType(), True))
        return T.StructType(fields)

    # --------------------------------------------------------------- Q1 insert

    def insert_h3dataframe_into_tableset(
        self,
        schema: CompactedTableSchema,
        df: DataFrame,
        h3index_column: str | None = None,
        options: InsertOptions | None = None,
    ) -> None:
        """The write pipeline (reference Q1, insert.rs:89-228):
        compact (unless a Sum column disables it) → split by resolution
        → validate → write max-res rows to the base table / coarser rows
        to compacted tables → rollup chain fine→coarse across base
        resolutions. With ``deduplicate_after_insert`` a table that
        already holds data is merged with the batch in the same write
        (see ``_write_table``).
        """
        options = options or InsertOptions()
        schema.validate()
        h3name = schema.h3index_column()
        if h3index_column and h3index_column != h3name:
            df = df.withColumnRenamed(h3index_column, h3name)

        # cooperative abort (reference insert.rs:75-87 + grpc.rs:267-285
        # GIL polling): all jobs of this insert run under a job group so
        # cancel_insert() from another thread interrupts them mid-flight.
        # Spark Connect has no sparkContext/job groups — there the
        # insert still runs, just without the cross-thread abort hook
        # (Connect's own interruptTag API is the migration path).
        try:
            sc = self.spark.sparkContext
            self._insert_job_group = f"h3cs-insert-{schema.name}-{id(df)}"
            sc.setJobGroup(
                self._insert_job_group,
                f"insert into tableset {schema.name}",
                interruptOnCancel=True,
            )
        except Exception:
            sc = None
            self._insert_job_group = None

        # conform columns + types to the declared schema
        target = schema.spark_schema()
        df = df.select(
            *[F.col(f.name).cast(f.dataType) for f in target.fields]
        )

        if options.create_schema and not self.tableset_exists(schema.name):
            self.create_tableset(schema)

        # the batch is computed exactly once: compact_df hands back a
        # local checkpoint, an uncompacted batch is persisted
        if schema.compaction_enabled:
            df = compaction.compact_df(df, h3name, max_res=schema.max_h3_resolution)
        else:
            df = df.persist()
        persisted: list[DataFrame] = []
        try:
            split = df.withColumn("__res", hx.h3_get_resolution(F.col(h3name)))
            # one job gives the levels present AND the batch volume,
            # which steers the adaptive physical layout
            level_rows = {
                r["__res"]: r["count"]
                for r in split.groupBy("__res").count().collect()
            }
            found = sorted(level_rows)
            if not found:
                return
            batch_rows = (
                sum(level_rows.values()) if self.auto_partitioning else None
            )
            max_res = schema.max_h3_resolution
            if max(found) > max_res:
                raise SchemaError(
                    f"dataframe contains resolution {max(found)} > tableset max {max_res}"
                )

            # split by resolution: max-res rows → base table, coarser →
            # compacted tables (reference insert.rs:151-170)
            level_dfs: dict[ResolutionMetadata, DataFrame] = {}
            for r in found:
                meta = ResolutionMetadata(r, r != max_res)
                if meta.is_compacted and not schema.compaction_enabled:
                    raise SchemaError(
                        f"resolution {r} rows require compacted tables but "
                        "compaction is disabled for this schema"
                    )
                level_dfs[meta] = split.filter(F.col("__res") == r).drop("__res")
            # the split-level writes and the rollup chain are
            # independent jobs over the materialized batch — run the
            # writes on a small thread pool so they overlap (each
            # thread re-enters the insert's job group so
            # cancel_insert() still reaches every job)
            from concurrent.futures import ThreadPoolExecutor

            group = self._insert_job_group

            def _write(
                meta: ResolutionMetadata, level_df: DataFrame, merge: bool
            ) -> None:
                # the description names the pyramid level so the UI /
                # status REST API can attribute shuffle bytes per level
                # (tools/scale_smoke.py --rollup-bytes); the GROUP id —
                # what cancel_insert() keys on — is unchanged
                sc.setJobGroup(
                    group,
                    f"insert into tableset {schema.name} "
                    f"[res={meta.resolution}"
                    f"{'c' if meta.is_compacted else 'b'}]",
                    interruptOnCancel=True,
                )
                # a table that already holds data is merged with the
                # batch in the same write (the reference relies on the
                # MergeTree engine + OPTIMIZE)
                self._write_table(
                    schema,
                    meta,
                    level_df,
                    options,
                    batch_rows,
                    merge=merge,
                    dedup=options.deduplicate_after_insert,
                )

            with ThreadPoolExecutor(max_workers=3) as pool:
                # in-flight engine merge of the batch itself
                futures = [
                    pool.submit(_write, meta, level_df, True)
                    for meta, level_df in level_dfs.items()
                ]

                # rollup chain (reference insert.rs:278-548): adjacent
                # base resolution pairs, fine → coarse; levels depend
                # on each other but their writes overlap the rest
                bases = sorted(schema.h3_base_resolutions, reverse=True)
                current: DataFrame | None = None
                for source_res, target_res in zip(bases, bases[1:]):
                    src_parts = []
                    base_meta = ResolutionMetadata(source_res, False)
                    if source_res == max_res:
                        if base_meta in level_dfs:
                            src_parts.append(level_dfs[base_meta])
                    elif current is not None:
                        src_parts.append(current)
                    if schema.compaction_enabled:
                        comp_meta = ResolutionMetadata(source_res, True)
                        if comp_meta in level_dfs:
                            src_parts.append(level_dfs[comp_meta])
                    if not src_parts:
                        current = None
                        continue
                    source = src_parts[0]
                    for p in src_parts[1:]:
                        source = source.unionByName(p)
                    level = rollup.rollup_level(schema, source, source_res, target_res)
                    level = level.persist()
                    persisted.append(level)
                    meta = ResolutionMetadata(target_res, False)
                    futures.append(pool.submit(_write, meta, level, False))
                    current = level

                for fut in futures:
                    fut.result()
        finally:
            for p in persisted:
                p.unpersist()
            df.unpersist()
            if sc is not None:
                sc.setJobGroup("", "")
            self._insert_job_group = None

    # ------------------------------------------------------------ CDC upsert

    def upsert_h3dataframe_into_tableset(
        self,
        schema: CompactedTableSchema,
        df: DataFrame,
        h3index_column: str | None = None,
        options: InsertOptions | None = None,
    ) -> None:
        """CDC apply into a MUTABLE tableset pyramid — the Debezium →
        lakehouse → H3 shape (beyond-reference; mirrors ClickHouse's
        public ``ReplacingMergeTree(ver, is_deleted)`` + dependent-
        rollup refresh pattern).

        ``df`` holds per-key WINNERS at the tableset's max resolution —
        one row per cell, e.g. a micro-batch of
        :func:`~ukis_h3cellstore_spark.streaming.cdc_upsert`
        output. The pipeline:

        1. base level: one staged write of the touched base partitions
           merged with the batch (``_write_table``; keep-max-version
           via ``_apply_engine_merge``'s versioned Replacing branch), so
           the base table converges to the latest row per cell with
           tombstones retained;
        2. every coarser base resolution: the TOUCHED coarse partitions
           are recomputed from the post-merge base live view
           (``deleted_column = false``) and swapped in by the same
           staged rewrite — incremental materialized-view maintenance,
           never a full-pyramid rebuild.

        Correctness across micro-batches: the last batch that touches a
        coarse partition recomputes it from every child's FINAL base
        row (no later batch touches those children), so the final
        pyramid is independent of how changes split across batches —
        the same batch-split invariance the Sum ingest path gets from
        associativity, achieved here by recomputation because
        keep-max-version aggregates do not compose across partial
        views. At scale the rewrite cost per batch is proportional to
        the touched key-space, the same envelope as the reference's
        partition-scoped ``OPTIMIZE ... PARTITION`` (O11,
        optimize.rs:20-113).

        Restrictions (validated): ``ReplacingMergeTree`` with a
        ``version_column``; compaction disabled (a compacted parent
        cell would be indistinguishable from a parent-level key,
        breaking per-key replacement); H3-only partitioning (no
        temporal/custom partition columns)."""
        options = options or InsertOptions()
        schema.validate()
        if (
            schema.table_engine is not TableEngine.REPLACING
            or not schema.version_column
        ):
            raise SchemaError(
                "upsert requires ReplacingMergeTree with a version_column"
            )
        if schema.compaction_enabled:
            raise SchemaError(
                "upsert requires use_compacted_resolutions(False)"
            )
        if schema.temporal_partition_column() or schema.partition_by_columns:
            raise SchemaError(
                "upsert supports H3-only partitioning (no temporal or "
                "custom partition columns)"
            )
        h3name = schema.h3index_column()
        if h3index_column and h3index_column != h3name:
            df = df.withColumnRenamed(h3index_column, h3name)
        target = schema.spark_schema()
        df = df.select(
            *[F.col(f.name).cast(f.dataType) for f in target.fields]
        )
        max_res = schema.max_h3_resolution
        coarse_levels = sorted(
            (r for r in schema.h3_base_resolutions if r != max_res),
            reverse=True,
        )
        # the batch is computed exactly once, by the stats job below,
        # with no separate cache-build job (a persisted frame costs
        # one under AQE)
        df = df.localCheckpoint(eager=False)
        # ONE aggregation job collects the batch stats AND every
        # touched-partition value set (base + each coarse target).
        # Partition values derive from the row itself, so the sets
        # are exact.
        def _parts(res: int) -> Column:
            return F.collect_set(
                _h3_part(F.col(h3name), _h3_part_res(schema, res))
            )

        res_col = hx.h3_get_resolution(F.col(h3name))
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.min(res_col).alias("lo"),
            F.max(res_col).alias("hi"),
            _parts(max_res).alias("p_base"),
        ]
        for tres in coarse_levels:
            aggs.append(_parts(tres).alias(f"p_{tres}"))
        stats = df.agg(*aggs).collect()[0]
        if stats["n"] == 0:
            return
        # create AFTER the empty-batch early return: an all-empty
        # stream must not materialize an empty tableset as a side
        # effect
        if options.create_schema and not self.tableset_exists(
            schema.name
        ):
            self.create_tableset(schema)
        if stats["lo"] != max_res or stats["hi"] != max_res:
            raise SchemaError(
                "upsert rows must all be at the tableset's max "
                f"resolution {max_res} (found {stats['lo']}..{stats['hi']})"
            )
        batch_rows = stats["n"] if self.auto_partitioning else None
        base_meta = ResolutionMetadata(max_res, False)
        # the engine merge is an associative per-key max, so
        # merge(old ∪ batch) is the post-merge base
        self._write_table(
            schema,
            base_meta,
            df,
            options,
            batch_rows,
            merge=True,
            dedup=options.deduplicate_after_insert,
            touched=[(v,) for v in stats["p_base"]],
        )
        # always the REAL per-level value sets: _refresh_coarse_level
        # resolves mode PER LEVEL (a coarse table can resolve
        # 'schema' while the base is 'global')
        for tres in coarse_levels:
            self._refresh_coarse_level(
                schema,
                base_meta,
                tres,
                batch_rows,
                sorted(stats[f"p_{tres}"]),
                options,
            )

    def _refresh_coarse_level(
        self,
        schema: CompactedTableSchema,
        base_meta: ResolutionMetadata,
        tres: int,
        batch_rows: int | None,
        touched_vals: list,
        options: InsertOptions,
    ) -> None:
        """Recompute one coarser base level from the live rows
        (``deleted_column = false``) of the finest base table as it is
        on disk after the batch's merge — every coarse level derives
        DIRECTLY from the finest rows (not chained), so order-sensitive
        aggregates (Average) see the true leaf population.

        A "global"-mode level is recomputed whole. A "schema"-mode
        level is recomputed only in the partitions the batch touched
        (``touched_vals``, from the caller's stats aggregation): only
        their children are read and rolled up, and a touched partition
        whose children are all tombstones stages no rows, so the
        rewrite deletes it. Both go through ``_rewrite_partitions``."""
        meta = ResolutionMetadata(tres, False)
        mode = self._table_mode(schema, meta, batch_rows)
        live = self.read_table(schema, base_meta)
        if schema.deleted_column:
            live = live.filter(~F.col(schema.deleted_column).cast("boolean"))
        covers, width = None, 1
        if mode != "global":
            part_res = _h3_part_res(schema, tres)
            if self._table_mode(schema, base_meta) == "global":
                key = _h3_part(F.col(schema.h3index_column()), part_res)
            else:
                # each base partition lies inside one coarse partition
                # (partition parents compose through the resolution
                # chain): filtering its value prunes the scan
                key = F.col("h3part")
                if part_res is not None:
                    key = hx.h3_to_parent(key, part_res)
            live = live.filter(key.isin(touched_vals))
            covers = [f"h3part={v}" for v in touched_vals]
            width = max(len(touched_vals), 1)
        rolled = rollup.rollup_level(
            schema, live.drop("h3part"), base_meta.resolution, tres
        )
        self._rewrite_partitions(
            schema,
            meta,
            self._with_partition_columns(schema, rolled, tres, mode),
            mode,
            width,
            options,
            covers,
            merge=False,
        )

    def cancel_insert(self) -> None:
        """Cancel a running insert from another thread (reference
        cooperative abort, insert.rs:75-87: the Python side polls
        Ctrl-C and flips a shared flag; here Spark interrupts the job
        group's running tasks AND fails the group's future jobs — the
        reference checks its abort flag between stages, so an abort
        must also stop work that has not been submitted yet; plain
        cancelJobGroup would be a no-op when the cancel lands before
        the first job starts).

        A watcher thread re-issues the cancellation every 2 s while
        the group still reports running jobs (bounded at 120 s): a
        single cancellation event can occasionally be lost when it
        races job submission, and the reference's abort flag is
        likewise checked repeatedly rather than delivered once."""
        import threading
        import time as _time

        group = getattr(self, "_insert_job_group", None)
        if not group:
            return
        sc = self.spark.sparkContext

        def _cancel_once() -> None:
            try:
                # JVM-side API (Spark 4.x): also fails future jobs
                sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
            except Exception:
                sc.cancelJobGroup(group)

        _cancel_once()

        def _reap() -> None:
            tracker = sc.statusTracker()
            deadline = _time.time() + 120
            while _time.time() < deadline:
                _time.sleep(2.0)
                if getattr(self, "_insert_job_group", None) != group:
                    return  # insert finished or aborted
                try:
                    running = [
                        j
                        for j in tracker.getJobIdsForGroup(group)
                        if (info := tracker.getJobInfo(j))
                        and info.status == "RUNNING"
                    ]
                except Exception:
                    return
                if not running:
                    return
                _cancel_once()

        threading.Thread(target=_reap, daemon=True).start()

    # ----------------------------------------------------------------- Q5 dedup

    def deduplicate_tableset(self, name: str) -> None:
        """Reference Q5 (`deduplicate_schema`, optimize.rs:20-113):
        OPTIMIZE ... DEDUPLICATE ≈ full-row distinct rewrite of every
        table of the set. Table-engine semantics beyond plain dedup
        (Replacing/Summing/Aggregating merge) are applied here as well,
        which *strengthens* the reference's lazy merge into a
        deterministic state (SURVEY §7.4.3). Each table is read,
        engine-merged and swapped in whole through the same staged
        rewrite an insert uses (``_rewrite_partitions``): one exchange
        and one write per table, no materialization. Inserts already
        merge the partitions they touch (``deduplicate_after_insert``),
        so this is only needed after inserts that skipped it."""
        schema = self.get_schema(name)
        for meta in schema.resolution_metadata():
            if not os.path.isdir(self._table_path(name, meta)):
                continue
            mode = self._table_mode(schema, meta)
            self._rewrite_partitions(
                schema,
                meta,
                self.read_table(schema, meta),
                mode,
                self._write_width(schema, meta, mode),
                InsertOptions(),
                None,
            )

    def _apply_engine_merge(
        self, schema: CompactedTableSchema, df: DataFrame
    ) -> DataFrame:
        if schema.table_engine is TableEngine.SUMMING:
            # SummingMergeTree semantics (reference schema/mod.rs:103-118):
            # rows sharing the sort key (within a partition) collapse to
            # one; the listed columns — or, with an empty list, ALL
            # numeric non-key columns, the ClickHouse default — are
            # summed, any remaining column keeps one of the group's
            # values.
            from pyspark.sql import types as T

            part_cols = [
                c for c in self._partition_columns(schema) if c in df.columns
            ]
            keys = list(
                dict.fromkeys(
                    [c for c in schema.sort_key() if c in df.columns] + part_cols
                )
            )
            numeric = (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.DecimalType,
            )
            if schema.summing_columns:
                summed = [
                    c for c in schema.summing_columns
                    if c in df.columns and c not in keys
                ]
            else:
                summed = [
                    f.name
                    for f in df.schema.fields
                    if f.name not in keys and isinstance(f.dataType, numeric)
                ]
            ftype = {f.name: f.dataType for f in df.schema.fields}
            aggs = [F.sum(c).cast(ftype[c]).alias(c) for c in summed]
            aggs += [
                F.first(c).alias(c)
                for c in df.columns
                if c not in keys and c not in summed
            ]
            if not aggs:
                return df.dropDuplicates()
            return df.groupBy(*keys).agg(*aggs).select(*df.columns)
        if (
            schema.table_engine is TableEngine.REPLACING
            and schema.version_column
            and schema.version_column in df.columns
        ):
            # ReplacingMergeTree(ver[, is_deleted]) semantics: rows
            # sharing the sort key keep the MAX-version row. ClickHouse
            # leaves version ties engine-arbitrary; here the remaining
            # columns break ties lexicographically so the merge is a
            # deterministic pure function of the row set (the same
            # strengthening the Summing path documents above). The
            # deleted column ranks second so a tombstone wins a version
            # tie — a delete at version v beats an update at version v,
            # matching cdc_upsert's max(struct(seq, is_delete, value))
            # reducer (streaming.py).
            part_cols = [
                c for c in self._partition_columns(schema) if c in df.columns
            ]
            keys = list(
                dict.fromkeys(
                    [c for c in schema.sort_key() if c in df.columns]
                    + part_cols
                )
            )
            ver = schema.version_column
            rest = [schema.deleted_column] if (
                schema.deleted_column and schema.deleted_column in df.columns
            ) else []
            rest += sorted(
                c for c in df.columns if c not in keys and c != ver
                and c not in rest
            )
            merged = (
                df.groupBy(*keys)
                .agg(F.max(F.struct(ver, *rest)).alias("__w"))
                .select(
                    *keys,
                    F.col(f"__w.{ver}").alias(ver),
                    *[F.col(f"__w.{c}").alias(c) for c in rest],
                )
            )
            return merged.select(*df.columns)
        # Replacing / Aggregating: full-row dedup (OPTIMIZE DEDUPLICATE parity)
        return df.dropDuplicates()

    # ----------------------------------------------------------------- Q2 query

    def query_tableset_cells(
        self,
        name: str,
        cells: list[int],
        h3_resolution: int,
        query: TableSetQuery | None = None,
        do_uncompact: bool = True,
    ) -> H3DataFrame:
        """Q2 over a driver-side cell list (reference mod.rs:333-379 +
        select.rs:73-162); the list may mix resolutions and invalid
        cells are dropped. See :meth:`_query_cells`."""
        if not cells:
            raise ValueError("empty cell list")  # select.rs:87-89 parity
        schema = self.get_schema(name)
        cell_set = _ListCells(cells)
        return self._query_cells(
            name, schema, cell_set, h3_resolution, query, do_uncompact
        )

    def query_tableset_cells_df(
        self,
        name: str,
        cells_df: DataFrame,
        h3_resolution: int,
        query: TableSetQuery | None = None,
        do_uncompact: bool = True,
    ) -> H3DataFrame:
        """Q2 with the probe side as a DATAFRAME — the planet-scale
        AOI read: the cell set (e.g. ``geo.geometry_to_cells_df``
        output) never materializes as a driver list. Semantics match
        :meth:`query_tableset_cells` on the same set exactly
        (gate-verified); the differences are purely physical: one
        validation job reads (count, min/max resolution, pentagon
        presence) — a UNIFORM resolution is required (mixed-resolution
        sets stay on the list API) — and each table normalizes the set
        in-plan (see ``_FrameCells``). The input frame's first column
        is taken as the cell column."""
        schema = self.get_schema(name)
        cell_set = _FrameCells(self.spark, schema.h3index_column(), cells_df)
        return self._query_cells(
            name, schema, cell_set, h3_resolution, query, do_uncompact
        )

    def _query_cells(
        self,
        name: str,
        schema: CompactedTableSchema,
        cells: _ListCells | _FrameCells,
        h3_resolution: int,
        query: TableSetQuery | None,
        do_uncompact: bool,
    ) -> H3DataFrame:
        """The read pipeline (reference Q2, mod.rs:333-379 +
        select.rs:73-162): per contributing table, prune partitions and
        select (auto or template) with the cells normalized to that
        table's resolution; uncompact each table to the requested
        resolution; union all; restrict to the cells there. Every cell
        predicate follows ``query.cells_probe``."""
        h3name = schema.h3index_column()
        ts = self._tableset_from_schema(name, schema)
        metas = ts.tables_to_satisfy_query_at_resolution(h3_resolution)
        # prune tables never written: keeps both the scan union and the
        # uncompaction expansion to the resolutions that can hold data
        # (an empty res-0 compacted branch would otherwise cross-join a
        # 7^res offset table for nothing)
        metas = [
            m for m in metas if os.path.isdir(self._table_path(name, m))
        ] or metas[:1]
        # normalize finest-first so coarser sets derive from the
        # smallest possible parent set
        needed = {m.resolution for m in metas}
        if do_uncompact:
            needed.add(h3_resolution)
        for r in sorted(needed, reverse=True):
            cells.normalized(r)

        def probe(res: int):
            return build_query.cells_probe(
                self.spark, h3name, cells.normalized(res), cells.bound(res)
            )

        columns = list(schema.spark_schema().names)
        parts: list[DataFrame] = []
        for meta in metas:
            tdf = self._prune_partitions(
                schema, self.read_table(schema, meta), meta, cells
            )
            tdf = build_query.build_table_query(
                self.spark, tdf, h3name, probe(meta.resolution), query, columns
            )
            if do_uncompact and meta.resolution < h3_resolution:
                # each table holds exactly its own resolution, so the
                # expansion happens per table — single scan, no
                # res-dispatch filters over the union; in-plan, staged
                # so no per-row child sequence exceeds
                # 7^MAX_OFFSET_DIFF ids
                tdf = hx.h3_expand_to_children(
                    tdf,
                    h3name,
                    meta.resolution,
                    h3_resolution,
                    filter_invalid=cells.any_pentagon,
                )
            parts.append(tdf)
        out = functools.reduce(DataFrame.unionByName, parts)
        if do_uncompact:
            out = build_query.cells_predicate(out, h3name, probe(h3_resolution))
        return H3DataFrame(out, h3name)

    def _prune_partitions(
        self,
        schema: CompactedTableSchema,
        df: DataFrame,
        meta: ResolutionMetadata,
        cells: _ListCells | _FrameCells,
    ) -> DataFrame:
        """Push the query's H3 partition values into the scan so Spark
        prunes parquet partitions (O3; the reference's ClickHouse part
        pruning, schema/mod.rs:306-350). Tables in "global" layout mode
        hold a single constant partition — nothing to prune (and a
        basecell IN-list would wrongly exclude it).

        Partition values known on the driver — a list's, or a frame's
        bounded collect — become a single-parse literal ``h3part IN
        (…)``, which Spark turns into static ``PartitionFilters``:
        file-level pruning that does not depend on dynamic partition
        pruning firing (DPP's ``reuseBroadcastOnly`` + selective-filter
        heuristics do NOT trigger for a derived, checkpoint-truncated
        probe side). The decision is sized on the number of DISTINCT
        PARTITION VALUES, never on the cell count: exact for a list;
        for a frame ≤122 basecell values, else min(n·7^max(0, part_res
        − res), 2 + 120·7^part_res) — so a 76M-cell res-8 continent AOI
        over a res-3-partitioned table is known to touch ≤41,162
        partitions without a job. Above ``STATIC_PRUNE_MAX_PARTITIONS``
        the values are first intersected with the table's physical
        partition listing (the filter only ever keeps partitions that
        exist, so the result is bounded by the layout, not the probe);
        a frame without a usable listing checks its ACTUAL count with
        one bounded ``limit(max+1)`` collect. Only a set that genuinely
        touches more partitions falls back to an in-plan semi-join on
        ``h3part``."""
        if self._table_mode(schema, meta) == "global":
            return df
        cap = STATIC_PRUNE_MAX_PARTITIONS
        values, bound = cells.partition_values(
            _h3_part_res(schema, meta.resolution), meta.resolution
        )
        if bound > cap:
            physical = self._physical_partition_values(schema.name, meta)
            if physical is not None and len(physical) <= cap:
                if isinstance(values, DataFrame):
                    keep = build_query.cells_probe(
                        self.spark, "h3part", sorted(physical)
                    )
                    values = build_query.cells_predicate(values, "h3part", keep)
                else:
                    values = sorted(set(values).intersection(physical))
                bound = len(physical)
        if isinstance(values, DataFrame):
            rows = (values if bound <= cap else values.limit(cap + 1)).collect()
            if len(rows) <= cap:
                values = sorted(r["h3part"] for r in rows)
        if isinstance(values, DataFrame) or len(values) > cap:
            probe = build_query.cells_probe(self.spark, "h3part", values, bound)
            return build_query.cells_predicate(df, "h3part", probe)
        if not values:
            return df.filter(F.lit(False))
        # a single-parse SQL IN beats Column.isin here: isin builds one
        # py4j literal per value (~25 s at 50k values, measured) while
        # the parsed form lands in the same INSET/PartitionFilters at
        # ~0.03 s build cost
        return df.filter(F.expr("h3part IN (%s)" % ",".join(map(str, values))))

    def _physical_partition_values(
        self, tableset_name: str, meta: ResolutionMetadata
    ) -> list[int] | None:
        """The ``h3part`` values physically present in one pyramid
        table, read from the partition directory names (h3part is
        always the FIRST partition column, so they are the top-level
        entries). A driver-side listing bounded by the table's layout
        — the same metadata a file-index partition discovery reads —
        used to cap the static-pruning collect independently of the
        probe's size. ``None`` when the table directory is missing."""
        path = self._table_path(tableset_name, meta)
        if not os.path.isdir(path):
            return None
        out: list[int] = []
        for name in os.listdir(path):
            if name.startswith("h3part="):
                try:
                    out.append(int(name.split("=", 1)[1]))
                except ValueError:
                    return None  # unexpected layout: don't guess
        return out

    def _tableset_from_schema(self, name: str, schema: CompactedTableSchema) -> TableSet:
        metas = schema.resolution_metadata()
        return TableSet(
            name,
            sorted(m.resolution for m in metas if not m.is_compacted),
            sorted(m.resolution for m in metas if m.is_compacted),
        )

    # ----------------------------------------------------------------- Q4 stats

    def tableset_stats(self, name: str) -> DataFrame:
        """Reference Q4 (mod.rs:381-457,479-513): per-table row counts
        plus the derived number of cells at the max resolution
        (compacted rows count as 7^(max−r) cells each — hexagon closed
        form, as in the reference's client-side arithmetic)."""
        schema = self.get_schema(name)
        max_res = schema.max_h3_resolution
        # one UNION ALL of per-table global counts → a single Spark job
        # (the reference's single stats SELECT, mod.rs:479-513), instead
        # of up to 31 sequential .count() actions
        parts: list[DataFrame] = []
        for meta in schema.resolution_metadata():
            factor = 7 ** (max_res - meta.resolution) if meta.is_compacted else 1
            cnt = (
                self.read_table(schema, meta)
                .groupBy()
                .agg(F.count(F.lit(1)).alias("__n"))
            )
            parts.append(
                cnt.select(
                    F.lit(meta.table_name(name)).alias("table_name"),
                    F.lit(meta.resolution).cast("int").alias("resolution"),
                    F.lit(meta.is_compacted).alias("is_compacted"),
                    F.col("__n").cast("long").alias("num_rows"),
                    (F.col("__n") * F.lit(factor))
                    .cast("long")
                    .alias("num_cells_at_max_res"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("resolution", "is_compacted")
