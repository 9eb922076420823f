"""TableSetQuery — auto projections and user SQL templates (P1-P3).

Reference: ``crates/ukis_h3cellstore/src/clickhouse/compacted_tables/
select.rs``. Two query flavors:

- **auto** (P1, select.rs:98-126): select every tableset column except
  those prefixed ``h3index`` plus the ``h3index`` column itself, with
  the cell-membership predicate (P2).
- **template** (P3, select.rs:11-53): a user SQL string with
  ``<[table]>`` (mandatory) and ``<[h3indexes]>`` (optional)
  placeholders, executed once per contributing pyramid table. On
  Spark, the table placeholder resolves to a per-table temp view and
  the SQL runs through ``spark.sql`` — templated queries therefore use
  the (documented) Spark SQL dialect; the H3 function names of the
  ClickHouse dialect are provided by
  :func:`ukis_h3cellstore_spark.functions.register_h3_sql_functions`.

The store's one Q2 pipeline (``CellStore._query_cells``) builds every
cell predicate through :func:`cells_probe` — the per-table predicate,
the ``<[h3indexes]>`` substitution and the final restrict alike: up to
``MAX_INLIST_CELLS`` driver-known cells become IN-literals (so Catalyst
folds them into parquet filters); anything else, including every
frame-backed set, becomes a semi-join, broadcast-hinted only under
``BROADCAST_MAX_CELLS`` — the scale-safe replacement for the
reference's always-literal SQL (SURVEY §7.2.9).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PLACEHOLDER_TABLE = "<[table]>"
PLACEHOLDER_H3INDEXES = "<[h3indexes]>"

#: Cell lists up to this size become IN-literals, larger ones broadcast
#: joins. Kept small: a multi-thousand-literal isin repeated per
#: pyramid table costs more in Catalyst analysis than the broadcast it
#: avoids, and the broadcast path is the one that scales.
MAX_INLIST_CELLS = 256

#: Probe-side broadcast ceiling for cell-set semi-joins, in CELLS.
#: 5M int64 cells is a ~40 MB broadcast relation — comfortably inside
#: executor memory and Spark's 8 GB broadcast hard cap. Above it, the
#: hint is OMITTED and the semi-join is left to AQE: a res-8 continent
#: AOI (SCALE.md's Africa box is 76,285,075 cells; a res-9 continent
#:  ~0.5B) must shuffle, not broadcast — a forced hint there builds a
#: multi-GB broadcast relation and OOMs the exact workload the
#: DataFrame-probe path exists for.
BROADCAST_MAX_CELLS = 5_000_000

_VIEW_COUNTER = [0]


class QueryTemplateError(ValueError):
    pass


@dataclass
class TableSetQuery:
    """auto (template=None) | templated (reference grpc.rs:443-463)."""

    template: str | None = None

    @classmethod
    def auto(cls) -> "TableSetQuery":
        return cls(template=None)

    @classmethod
    def from_template(cls, template: str) -> "TableSetQuery":
        # validation parity: select.rs:30-44
        if PLACEHOLDER_TABLE not in template:
            raise QueryTemplateError(
                f"query template must contain the {PLACEHOLDER_TABLE} placeholder"
            )
        return cls(template=template)


def auto_projection_columns(columns: list[str], h3index_column: str) -> list[str]:
    """P1 (select.rs:98-126): all columns except `h3index*`-prefixed
    ones, plus the h3index column itself, h3index first."""
    rest = sorted(
        c for c in columns if not c.startswith("h3index") and c != h3index_column
    )
    return [h3index_column] + rest


def cells_frame(spark: SparkSession, name: str, cells) -> DataFrame:
    """One-column DataFrame of a driver-side cell list, built through
    pandas/Arrow rather than a Python tuple list — at a continent-AOI
    list (~1.5M cells) the tuple path serializes row by row through
    the JVM gateway and holds several list copies on the driver; the
    Arrow path ships one int64 buffer."""
    import numpy as np
    import pandas as pd

    if isinstance(cells, np.ndarray):
        # zero-boxing: the planet-scale polyfill hands its leaf band
        # straight through as one int64 buffer
        col = cells.astype(np.int64, copy=False)
    else:
        col = pd.array(list(cells), dtype="int64")
    return spark.createDataFrame(
        pd.DataFrame({name: col}),
        schema=f"{name} long",  # explicit: empty lists can't infer
    )


def cells_probe(
    spark: SparkSession, h3name: str, cells, bound: int | None = None
) -> list[int] | DataFrame:
    """The one cell-predicate rule of the read path (P2/J1): a driver
    list of at most ``MAX_INLIST_CELLS`` cells stays a literal list
    (``IN`` — Catalyst folds it into parquet filters); anything else
    becomes a semi-join side, broadcast-hinted only when its size
    bound is at most ``BROADCAST_MAX_CELLS``. A list's bound is its
    length; a frame's is the caller's arithmetic bound (``None``:
    unknown, so no hint — the caller that cannot bound the set may be
    handing over a continent)."""
    if not isinstance(cells, DataFrame):
        if len(cells) <= MAX_INLIST_CELLS:
            return list(cells)
        bound = len(cells)
        cells = cells_frame(spark, h3name, cells)
    if bound is not None and bound <= BROADCAST_MAX_CELLS:
        cells = F.broadcast(cells)
    return cells


def cells_predicate(df: DataFrame, h3name: str, probe) -> DataFrame:
    """Rows of ``df`` whose ``h3name`` is in a :func:`cells_probe`
    result: a literal ``IN`` filter or a left semi-join."""
    if isinstance(probe, DataFrame):
        return df.join(probe, on=h3name, how="leftsemi")
    return df.filter(F.col(h3name).isin(probe))


def build_table_query(
    spark: SparkSession,
    df: DataFrame,
    h3name: str,
    probe,
    query: TableSetQuery | None,
    table_columns: list[str],
) -> DataFrame:
    """Build the per-table select of the Q2 pipeline over a
    :func:`cells_probe` result.

    auto → projection + cell predicate; template → temp view +
    placeholder substitution via ``spark.sql`` (the template fully owns
    filtering, as in the reference where it replaces the generated
    SELECT, select.rs:127-129). ``<[h3indexes]>`` becomes the literal
    list, or an IN-subquery over a temp view of the semi-join side —
    big sets would otherwise inline megabytes of literals into the SQL
    text and stall the parser.
    """
    if query is None or query.template is None:
        proj = auto_projection_columns(table_columns, h3name)
        return cells_predicate(df.select(*proj), h3name, probe)

    _VIEW_COUNTER[0] += 1
    view = f"__h3cs_table_{_VIEW_COUNTER[0]}"
    df.createOrReplaceTempView(view)
    sql = query.template.replace(PLACEHOLDER_TABLE, view)
    if PLACEHOLDER_H3INDEXES in sql:
        if isinstance(probe, DataFrame):
            cells_view = f"__h3cs_cells_{_VIEW_COUNTER[0]}"
            probe.createOrReplaceTempView(cells_view)
            sub = f"(SELECT {h3name} FROM {cells_view})"
        else:
            sub = "(%s)" % ",".join(map(str, probe))
        sql = sql.replace(PLACEHOLDER_H3INDEXES, sub)
    try:
        return spark.sql(sql)
    except Exception as e:  # surface missing columns etc. (test_traversal parity)
        raise IOError(f"templated query failed: {e}") from e
