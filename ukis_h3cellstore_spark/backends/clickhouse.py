"""ClickHouse backend: DDL compiler + JDBC reader/writer (SURVEY §7.2.8).

The reference compiles a ``CompactedTableSchema`` into one MergeTree
``CREATE TABLE`` per pyramid table (``schema/mod.rs:306-350``):

.. code-block:: sql

    CREATE TABLE IF NOT EXISTS {name}_{res:02}_{base|compacted} (
        cols... CODEC(...)
    )
    ENGINE {ReplacingMergeTree|SummingMergeTree((...))|AggregatingMergeTree}
    PARTITION BY (h3-partition-expr [, temporal-expr | user cols])
    ORDER BY (sort-key columns)

:func:`clickhouse_ddl` reproduces that statement shape (pure string
generation, unit-testable with no server). The partition expressions
mirror the parquet store's materialized ``h3part``/``tpart`` columns so
both backends prune on the same keys:

- h3: ``h3GetBaseCell(h3index)`` or
  ``h3ToParent(h3index, max2(h3GetResolution(h3index)-diff, 0))``
  (``partitioning.rs:115-130``)
- temporal: year/month bucket arithmetic (``partitioning.rs:63-94``)

:class:`ClickHouseJdbcBackend` moves dataframes over Spark's JDBC data
source. It is **gated**: constructing it only records the connection
info; any read/write first probes for the JDBC driver class and raises
a clear error when the driver jar is absent (this container has none —
add ``com.clickhouse:clickhouse-jdbc`` to ``spark.jars.packages`` in a
real deployment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ukis_h3cellstore_spark.schema import (
    CompactedTableSchema,
    ResolutionMetadata,
    TableEngine,
)

#: reference transport default (lib.rs:138-158 → JDBC batchsize)
DEFAULT_BATCH_SIZE = 1_000_000


class ClickHouseUnavailable(RuntimeError):
    pass


# ----------------------------------------------------------------- DDL


#: ClickHouse types the reference treats as temporal
#: (``datatype.rs``: Date / DateTime / DateTime64)
_TEMPORAL_TYPES = {"Date", "DateTime", "DateTime64"}


def _codec_sql(cm) -> str:
    """``codec_string`` parity (``schema/mod.rs:380-389``): name with
    the level/bytes argument when one is set, bare name otherwise
    (DoubleDelta / Gorilla / T64)."""
    return f"{cm.name}({cm.level})" if cm.level is not None else cm.name


def _column_sql(schema: CompactedTableSchema) -> str:
    """Column clauses — ALL columns sorted by name (the reference's
    "order to make the SQL comparable", ``mod.rs:322-340``), each
    `` {name} {dtype} CODEC({codec})`` with a per-column codec
    override falling back to the schema default."""
    default_codec = _codec_sql(schema.compression_method)
    out = []
    for n in sorted(schema.columns):
        cd = schema.columns[n]
        dt = "UInt64" if cd.kind == "h3index" else cd.datatype
        if cd.nullable:
            dt = f"Nullable({dt})"
        codec = _codec_sql(cd.codec) if cd.codec is not None else default_codec
        out.append(f" {n} {dt} CODEC({codec})")
    return ",\n".join(out)


def _engine_sql(schema: CompactedTableSchema) -> str:
    """``mod.rs:314-320``: bare engine names; SummingMergeTree carries
    its column list in single parens."""
    if schema.table_engine is TableEngine.SUMMING:
        return f"SummingMergeTree({', '.join(schema.summing_columns)})"
    if schema.table_engine is TableEngine.AGGREGATING:
        return "AggregatingMergeTree"
    if schema.version_column:
        # ClickHouse ReplacingMergeTree(ver[, is_deleted]) — the
        # keep-max-version CDC merge (beyond-reference extension; the
        # reference's mod.rs:314-320 emits only the bare name)
        if schema.deleted_column:
            return (
                f"ReplacingMergeTree({schema.version_column}, "
                f"{schema.deleted_column})"
            )
        return f"ReplacingMergeTree({schema.version_column})"
    return "ReplacingMergeTree"


def _h3_partition_expr(schema: CompactedTableSchema) -> str:
    """``partitioning.rs:116-129`` dialect."""
    h3name = schema.h3index_column()
    if schema.h3_partitioning.kind == "basecell":
        return f"h3GetBaseCell({h3name})"
    diff = schema.h3_partitioning.resolution_difference
    return (
        f"h3ToParent({h3name}, "
        f"cast(max2(h3GetResolution({h3name}) - {diff}, 0) as UInt8))"
    )


def _temporal_expr(schema: CompactedTableSchema, col: str) -> str:
    """``partitioning.rs:64-95`` dialect (year bucket via
    floor(year/n)*n, month bucket via the reference's
    year*100 + fractional-month ceil formula)."""
    tp = schema.temporal_partitioning
    if tp.unit == "years":
        if tp.num == 1:
            return f"toString(toYear({col}))"
        return f"toString(floor(toYear({col})/{tp.num})*{tp.num})"
    return (
        f"toString(ceil(((toYear({col}) * 100) + "
        f"(100 * (toMonth({col}) - 1) / 12)) / {tp.num}))"
    )


def _partition_by_expressions(schema: CompactedTableSchema) -> list[str]:
    """``partition_by_expressions`` parity (``mod.rs:244-290``): the H3
    expression always first; with no explicit partition columns a
    single temporal column (if any) is auto-used; explicit columns map
    through the temporal expression when temporal, else by name."""

    def col_expr(name: str) -> str:
        cd = schema.columns[name]
        if cd.kind != "h3index" and cd.datatype in _TEMPORAL_TYPES:
            return _temporal_expr(schema, name)
        return name

    parts = [_h3_partition_expr(schema)]
    if not schema.partition_by_columns:
        temporal_exprs: list[str] = []
        for name in sorted(schema.columns):
            cd = schema.columns[name]
            if cd.kind != "h3index" and cd.datatype in _TEMPORAL_TYPES:
                expr = _temporal_expr(schema, name)
                if expr not in temporal_exprs and expr not in parts:
                    temporal_exprs.append(expr)
        if len(temporal_exprs) > 1:
            raise ValueError(
                "found multiple temporal columns - explicit specification "
                "of partitioning columns required"
            )
        parts.extend(temporal_exprs)
    else:
        for c in schema.partition_by_columns:
            expr = col_expr(c)
            # the reference skips duplicate expressions
            # (mod.rs:273-279 "if !partition_by.contains(...)")
            if expr not in parts:
                parts.append(expr)
    return parts


def new_temporary_key() -> str:
    """A reference-shaped temporary-table key
    (``temporary_key.rs:12-33``: ``{unix_secs}_{millis}_{random}`` —
    the creation time is readable from the key itself, so an orphaned
    ``_tmp`` table from a crashed insert can be aged out by eye)."""
    import random
    import time

    ms = int(time.time() * 1000)
    return f"{ms // 1000}_{ms % 1000}_{random.randrange(65536)}"


def temporary_table_name(base_table: str, temporary_key: str) -> str:
    """``tableset.rs:60-81`` naming: the ``_tmp{key}`` suffix follows
    the ``_base``/``_compacted`` suffix."""
    return f"{base_table}_tmp{temporary_key}"


def create_table_ddl(
    schema: CompactedTableSchema,
    meta: ResolutionMetadata,
    database: str | None = None,
    temporary_key: str | None = None,
) -> str:
    """One pyramid table's DDL — byte-parity with the reference's
    ``build_create_statement`` format string (``schema/mod.rs:342-349``):
    single statement, columns joined with ``,\\n``, trailing ``;``.
    With ``temporary_key`` the statement creates the insert-staging
    twin (``insert.rs:230-245`` creates the whole pyramid once more
    under the ``_tmp{key}`` suffix, same columns/engine/partitioning)."""
    table = meta.table_name(schema.name)
    if temporary_key is not None:
        table = temporary_table_name(table, temporary_key)
    if database:
        table = f"{database}.{table}"
    partition_by = ", ".join(_partition_by_expressions(schema))
    order_by = ", ".join(schema.sort_key())
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ( {_column_sql(schema)} ) "
        f"ENGINE {_engine_sql(schema)} "
        f"PARTITION BY ({partition_by}) ORDER BY ({order_by});"
    )


def clickhouse_ddl(
    schema: CompactedTableSchema,
    database: str | None = None,
    temporary_key: str | None = None,
) -> list[str]:
    """All CREATE TABLE statements of the tableset pyramid, coarse to
    fine, base before compacted (reference create_tableset,
    mod.rs:246-263); with ``temporary_key`` the staging pyramid."""
    schema.validate()
    return [
        create_table_ddl(schema, meta, database, temporary_key)
        for meta in schema.resolution_metadata()
    ]


def drop_tableset_ddl(
    schema: CompactedTableSchema,
    database: str | None = None,
    temporary_key: str | None = None,
) -> list[str]:
    """DROP TABLE statements (reference drop_tableset, mod.rs:215-244;
    with ``temporary_key`` the staging pyramid, insert.rs:247-276)."""
    out = []
    for meta in schema.resolution_metadata():
        table = meta.table_name(schema.name)
        if temporary_key is not None:
            table = temporary_table_name(table, temporary_key)
        if database:
            table = f"{database}.{table}"
        out.append(f"DROP TABLE IF EXISTS {table}")
    return out


# ---------------------------------------------------------------- JDBC IO


class ClickHouseJdbcBackend:
    """Reader/writer for a ClickHouse deployment over Spark JDBC.

    Replaces the reference's Arrow-over-gRPC transport (S1-S4) with
    Spark's JDBC data source; the generated-DDL statements above are
    executed out-of-band (any ClickHouse client) or via
    ``run_ddl`` where a driver is available.
    """

    DRIVER = "com.clickhouse.jdbc.ClickHouseDriver"

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        database: str = "default",
        user: str | None = None,
        password: str | None = None,
        batch_size: int = DEFAULT_BATCH_SIZE,
    ):
        self.spark = spark
        self.url = url
        self.database = database
        self.user = user
        self.password = password
        self.batch_size = batch_size

    # -- gating ------------------------------------------------------------

    def driver_available(self) -> bool:
        try:
            jvm = self.spark.sparkContext._jvm
            jvm.java.lang.Class.forName(self.DRIVER)
            return True
        except Exception:
            return False

    def _require_driver(self) -> None:
        if not self.driver_available():
            raise ClickHouseUnavailable(
                f"JDBC driver {self.DRIVER} not on the Spark classpath; "
                "add com.clickhouse:clickhouse-jdbc:<version> to "
                "spark.jars.packages"
            )

    def _options(self, table: str) -> dict[str, str]:
        opts = {
            "url": self.url,
            "dbtable": f"{self.database}.{table}",
            "driver": self.DRIVER,
            "batchsize": str(self.batch_size),
            "isolationLevel": "NONE",
        }
        if self.user:
            opts["user"] = self.user
        if self.password:
            opts["password"] = self.password
        return opts

    # -- IO ----------------------------------------------------------------

    def read_table(self, table: str, partition_column: str | None = None,
                   num_partitions: int = 32) -> DataFrame:
        """Scan a table; with ``partition_column`` the scan is split
        into ``num_partitions`` parallel JDBC range reads (the
        distributed-read path — a single unpartitioned JDBC read is a
        1-task bottleneck at scale)."""
        self._require_driver()
        reader = self.spark.read.format("jdbc")
        for k, v in self._options(table).items():
            reader = reader.option(k, v)
        if partition_column is not None:
            bounds = self.spark.read.format("jdbc").options(
                **{**self._options(table),
                   "dbtable": f"(SELECT min({partition_column}) lo, "
                              f"max({partition_column}) hi FROM "
                              f"{self.database}.{table}) b"}
            ).load().collect()[0]
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("lowerBound", str(bounds.lo))
                .option("upperBound", str(bounds.hi))
                .option("numPartitions", str(num_partitions))
            )
        return reader.load()

    def write_table(self, table: str, df: DataFrame, mode: str = "append") -> None:
        self._require_driver()
        writer = df.write.format("jdbc").mode(mode)
        for k, v in self._options(table).items():
            writer = writer.option(k, v)
        writer.save()

    def run_ddl(self, statements: list[str]) -> None:
        """Execute DDL through the JDBC connection (driver required)."""
        self._require_driver()
        jvm = self.spark.sparkContext._jvm
        props = jvm.java.util.Properties()
        if self.user:
            props.setProperty("user", self.user)
        if self.password:
            props.setProperty("password", self.password)
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            stmt = conn.createStatement()
            for sql in statements:
                stmt.execute(sql)
        finally:
            conn.close()

    def create_tableset(self, schema: CompactedTableSchema) -> None:
        self.run_ddl(clickhouse_ddl(schema, self.database))

    def drop_tableset(self, schema: CompactedTableSchema) -> None:
        self.run_ddl(drop_tableset_ddl(schema, self.database))

    # -- templated query passthrough (P3) ----------------------------------

    def tableset_template_sql(
        self,
        schema: CompactedTableSchema,
        template: str,
        cells: list[int],
        h3_resolution: int,
    ) -> list[tuple[str, str]]:
        """The EXACT per-resolution-table SQL a templated tableset
        query ships to ClickHouse — the statement-level parity slice
        of the reference's P3 path (validation ``select.rs:30-44``,
        substitution ``select.rs:127-129``, per-table cell-set prep
        ``select.rs:139-162``): contributing tables are the base
        table at the query resolution plus every compacted ancestor
        (``tableset.rs:153-170``), ``<[table]>`` becomes the
        db-qualified table name, and ``<[h3indexes]>`` the
        comma-joined literal cell list NORMALIZED to each table's own
        resolution (a compacted res-3 table is probed with the query
        cells' res-3 ancestors, sorted + deduplicated —
        ``select.rs:156-157`` parity via ``h3.cells.
        change_resolution``).

        Returns ``[(table_name, substituted_sql), ...]``
        coarse-to-fine. Pure — no driver or connection required."""
        from ukis_h3cellstore_spark.h3 import cells as h3c
        from ukis_h3cellstore_spark.query import (
            PLACEHOLDER_H3INDEXES,
            PLACEHOLDER_TABLE,
            TableSetQuery,
        )
        from ukis_h3cellstore_spark.tableset import TableSet

        TableSetQuery.from_template(template)  # <[table]> presence parity
        if not cells:
            raise ValueError("empty cell list")  # select.rs:87-89 parity
        metas = schema.resolution_metadata()
        ts = TableSet(
            name=schema.name,
            base_resolutions=[m.resolution for m in metas if not m.is_compacted],
            compacted_resolutions=[m.resolution for m in metas if m.is_compacted],
        )
        out: list[tuple[str, str]] = []
        for meta in ts.tables_to_satisfy_query_at_resolution(h3_resolution):
            t = meta.table_name(schema.name)
            sql = template.replace(PLACEHOLDER_TABLE, f"{self.database}.{t}")
            if PLACEHOLDER_H3INDEXES in template:
                table_cells = h3c.change_resolution(cells, meta.resolution)
                sql = sql.replace(
                    PLACEHOLDER_H3INDEXES,
                    ", ".join(str(int(c)) for c in table_cells),
                )
            out.append((t, sql))
        return out

    # -- traversal statement generation (Q3 over ClickHouse) -----------------

    def tableset_cell_query_sql(
        self,
        schema: CompactedTableSchema,
        cells: list[int],
        h3_resolution: int,
        template: str | None = None,
    ) -> list[tuple[str, str]]:
        """The per-resolution-table SQL of ONE cell query —
        ``template=None`` generates the reference's autogenerated form
        (``select.rs:117-125``: ``select h3index, {columns} from
        {table} where h3index in (...)``, the cell set normalized to
        each table's own resolution by ``collect_queryable_h3indexes``
        ``select.rs:139-162`` — ancestors for compacted parents,
        CHILDREN for the base table when the probe cells are coarser);
        a template delegates to :meth:`tableset_template_sql`.
        Statement-level deviations from the Rust shape, both
        documented: per-table statements ship as separate JDBC
        subquery scans instead of one ``union all`` string (Spark
        parallelizes the scans), and column order is name-sorted
        (the reference iterates a ``HashMap`` — its order is not part
        of the contract)."""
        if template is not None:
            return self.tableset_template_sql(
                schema, template, cells, h3_resolution
            )
        from ukis_h3cellstore_spark.h3 import cells as h3c
        from ukis_h3cellstore_spark.tableset import TableSet

        if not cells:
            raise ValueError("empty cell list")  # select.rs:87-89 parity
        h3name = schema.h3index_column()
        selectable = ", ".join(
            n for n in sorted(schema.columns) if not n.startswith(h3name)
        )
        metas = schema.resolution_metadata()
        ts = TableSet(
            name=schema.name,
            base_resolutions=[m.resolution for m in metas if not m.is_compacted],
            compacted_resolutions=[m.resolution for m in metas if m.is_compacted],
        )
        out: list[tuple[str, str]] = []
        for meta in ts.tables_to_satisfy_query_at_resolution(h3_resolution):
            t = meta.table_name(schema.name)
            table_cells = h3c.change_resolution(cells, meta.resolution)
            in_list = ", ".join(str(int(c)) for c in table_cells)
            out.append(
                (
                    t,
                    f"select {h3name}, {selectable} from {self.database}.{t} "
                    f"where {h3name} in ({in_list})",
                )
            )
        return out

    def tableset_traversal_sql(
        self,
        schema: CompactedTableSchema,
        area_cells: list[int],
        h3_resolution: int,
        max_h3indexes_fetch_count: int = 500,
        template: str | None = None,
    ) -> tuple[int, list[tuple[int, list[tuple[str, str]]]]]:
        """The EXACT per-traversal-cell statement sequence of the
        reference's traversal (``traversal.rs:23-50`` resolution rule,
        ``:380-391`` sorted+deduplicated traversal cells, ``:420-464``
        one ``query_tableset_cells`` dispatch per traversal cell):
        the AOI cells are normalized to the coarsest base resolution
        whose per-cell fetch stays within ``max_h3indexes_fetch_count``
        descendants, and each traversal cell generates its own
        per-table statements (the base table at the query resolution
        is probed with the traversal cell's ≤ fetch-count children —
        the chunking guarantee IS the resolution rule).

        Returns ``(traversal_resolution, [(traversal_cell,
        [(table, sql), ...]), ...])``. Pure — no driver required."""
        from ukis_h3cellstore_spark.h3 import cells as h3c
        from ukis_h3cellstore_spark.traversal import (
            select_traversal_resolution,
        )

        if not area_cells:
            raise ValueError("empty cell list")
        metas = schema.resolution_metadata()
        trav_res = select_traversal_resolution(
            [m.resolution for m in metas if not m.is_compacted],
            h3_resolution,
            max_h3indexes_fetch_count,
        )
        trav_cells = sorted(set(h3c.change_resolution(area_cells, trav_res)))
        return trav_res, [
            (
                c,
                self.tableset_cell_query_sql(
                    schema, [c], h3_resolution, template
                ),
            )
            for c in trav_cells
        ]

    # -- insert-publish cycle (temporary-table dance, insert.rs:133-228) ----

    def insert_publish_sql(
        self, schema: CompactedTableSchema, temporary_key: str
    ) -> dict[str, list[str]]:
        """The static statement phases of one insert-publish cycle —
        the reference's temporary-table dance (``insert.rs:133-228``):

        - ``drop_tmp``: drop the staging pyramid first "to be sure
          they are empty" (``insert.rs:230-231``);
        - ``create_tmp``: create it (``insert.rs:232-245`` — the same
          CREATE statements with the ``_tmp{key}`` suffix,
          ``tableset.rs:60-81``);
        - (data then lands in the staging tables via batched JDBC
          appends — :meth:`write_table`; not SQL);
        - ``copy``: one ``insert into {final} ({cols}) select {cols}
          from {tmp}`` per pyramid table (``insert.rs:550-594`` —
          the publish is a server-side move, rows never round-trip);
        - ``partition_probe``: one ``select distinct
          toString((exprs)) pe from {tmp}`` per table
          (``optimize.rs:40-56``) — the probe output feeds
          :meth:`optimize_partition_sql`, scoping deduplication to
          partitions the insert actually touched;
        - ``drop_tmp`` again on finish (``insert.rs:585-594``).
        """
        cols = ", ".join(sorted(schema.columns))
        part_expr = ", ".join(_partition_by_expressions(schema))
        copy, probe = [], []
        for meta in schema.resolution_metadata():
            final = meta.table_name(schema.name)
            tmp = temporary_table_name(final, temporary_key)
            if self.database:
                final = f"{self.database}.{final}"
                tmp = f"{self.database}.{tmp}"
            copy.append(
                f"insert into {final} ({cols}) select {cols} from {tmp}"
            )
            probe.append(
                f"select distinct toString(({part_expr})) pe from {tmp}"
            )
        return {
            "drop_tmp": drop_tableset_ddl(schema, self.database, temporary_key),
            "create_tmp": clickhouse_ddl(schema, self.database, temporary_key),
            "copy": copy,
            "partition_probe": probe,
        }

    def optimize_partition_sql(
        self,
        schema: CompactedTableSchema,
        meta: ResolutionMetadata,
        partition: str,
    ) -> str:
        """``optimize.rs:62-70``: deduplicate ONE touched partition of
        a final table (the partition string is the probe's
        ``toString`` output, passed through verbatim)."""
        final = meta.table_name(schema.name)
        if self.database:
            final = f"{self.database}.{final}"
        return f"optimize table {final} partition {partition} deduplicate"

    def publish_tableset_insert(
        self,
        schema: CompactedTableSchema,
        dfs_by_table: dict[str, DataFrame],
        temporary_key: str | None = None,
        deduplicate: bool = True,
    ) -> str:
        """Run one full insert-publish cycle over JDBC: stage → copy →
        scoped deduplicate → drop staging (``insert.rs:133-228``).
        ``dfs_by_table`` maps FINAL table names (``meta.table_name``)
        to their row batches; tables without a batch still take part
        in the dance (the reference creates/copies the whole pyramid).
        Returns the temporary key used."""
        tk = temporary_key if temporary_key is not None else new_temporary_key()
        phases = self.insert_publish_sql(schema, tk)
        self.run_ddl(phases["drop_tmp"])
        self.run_ddl(phases["create_tmp"])
        # the staging pyramid is dropped even when a write/copy/optimize
        # phase fails — the reference tolerates orphaned _tmp{key}
        # tables (the key encodes creation time and the next insert's
        # drop_tmp ages them out, insert.rs:133-228), but eager cleanup
        # is strictly better; drop errors are swallowed so the original
        # failure propagates
        try:
            for final, df in dfs_by_table.items():
                self.write_table(temporary_table_name(final, tk), df)
            self.run_ddl(phases["copy"])
            if deduplicate:
                optimize: list[str] = []
                for meta, probe_sql in zip(
                    schema.resolution_metadata(), phases["partition_probe"]
                ):
                    final = meta.table_name(schema.name)
                    if final not in dfs_by_table:
                        continue  # untouched table: nothing to probe
                    reader = self.spark.read.format("jdbc")
                    opts = self._options("ignored")
                    opts["dbtable"] = f"({probe_sql}) AS __pp"
                    for k, v in opts.items():
                        reader = reader.option(k, v)
                    for row in reader.load().collect():
                        optimize.append(
                            self.optimize_partition_sql(schema, meta, row["pe"])
                        )
                if optimize:
                    self.run_ddl(optimize)
        finally:
            try:
                self.run_ddl(phases["drop_tmp"])
            except Exception:
                pass
        return tk

    def read_tableset_cells(
        self,
        schema: CompactedTableSchema,
        cells: list[int],
        h3_resolution: int,
        template: str | None = None,
        do_uncompact: bool = True,
    ) -> DataFrame:
        """Q2 against a ClickHouse tableset: the auto-generated (or
        templated) per-table statements of
        :meth:`tableset_cell_query_sql` ship as JDBC subquery scans —
        predicates execute CH-SIDE, only matching rows cross the wire
        — and the union is uncompacted IN-PLAN to ``h3_resolution``
        (per-part staged offset expansion; each contributing table
        holds exactly one resolution, so no res-dispatch filters) and
        restricted to the requested cell set by the local store's
        cell-predicate rule (``query.cells_probe``).
        The reference runs the same two steps client-side after its
        gRPC fetch (``mod.rs:459-477`` uncompact-subset); here both
        are Spark plan nodes, so they distribute."""
        self._require_driver()
        from ukis_h3cellstore_spark import query as build_query
        from ukis_h3cellstore_spark.h3 import cells as h3c
        from ukis_h3cellstore_spark.h3 import expressions as hx
        from ukis_h3cellstore_spark.tableset import TableSet

        h3name = schema.h3index_column()
        metas = schema.resolution_metadata()
        ts = TableSet(
            name=schema.name,
            base_resolutions=[m.resolution for m in metas if not m.is_compacted],
            compacted_resolutions=[m.resolution for m in metas if m.is_compacted],
        )
        contributing = ts.tables_to_satisfy_query_at_resolution(h3_resolution)
        stmts = self.tableset_cell_query_sql(
            schema, cells, h3_resolution, template
        )
        parts = []
        for i, (meta, (_t, sql)) in enumerate(zip(contributing, stmts)):
            reader = self.spark.read.format("jdbc")
            opts = self._options("ignored")
            opts["dbtable"] = f"({sql}) AS __cq{i}"
            for k, v in opts.items():
                reader = reader.option(k, v)
            part = reader.load()
            if do_uncompact and meta.resolution < h3_resolution:
                part = hx.h3_expand_to_children(
                    part,
                    h3name,
                    meta.resolution,
                    h3_resolution,
                    filter_invalid=True,
                )
            parts.append(part)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if do_uncompact:
            probe = build_query.cells_probe(
                self.spark, h3name, h3c.change_resolution(cells, h3_resolution)
            )
            df = build_query.cells_predicate(df, h3name, probe)
        return df

    def read_tableset_template(
        self,
        schema: CompactedTableSchema,
        template: str,
        cells: list[int],
        h3_resolution: int,
    ) -> DataFrame:
        """Run a P3 templated query against a ClickHouse tableset: one
        JDBC subquery scan per contributing resolution table (the
        substituted SQL executes CH-SIDE — predicates and projections
        never ship raw rows), results unioned by name. The template
        fully owns projection and filtering, exactly like the
        local-store templated path (``query.py``)."""
        self._require_driver()
        parts = []
        for i, (_t, sql) in enumerate(
            self.tableset_template_sql(schema, template, cells, h3_resolution)
        ):
            reader = self.spark.read.format("jdbc")
            opts = self._options("ignored")
            opts["dbtable"] = f"({sql}) AS __tq{i}"
            for k, v in opts.items():
                reader = reader.option(k, v)
            parts.append(reader.load())
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df
