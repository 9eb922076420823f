"""H3DataFrame — a Spark DataFrame plus the name of its H3 column.

Mirrors the reference's ``H3DataFrame`` (a polars DataFrame + h3index
column name; ``crates/ukis_h3cellstore/src/clickhouse/compacted_tables/
mod.rs:366``) and the Python ``DataFrameWrapper``
(``ukis_h3cellstorepy/frame.py:23-89``): conversion helpers to
pandas/pyarrow are provided for API parity, but unlike the reference —
where the dataframe is always driver-resident — the wrapped object here
is usually a *lazy distributed* DataFrame; conversions collect and
should only be used on query results that fit the driver. The one
exception is a traversal step (``TraversedCell.contained_data``): its
rows are already fetched, and the frame is a driver-local one over
them, as in the reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ukis_h3cellstore_spark.h3 import expressions as hx


class H3DataFrame:
    def __init__(self, df: DataFrame, h3index_column_name: str = "h3index"):
        if h3index_column_name not in df.columns:
            raise ValueError(
                f"h3index column {h3index_column_name!r} not in {df.columns}"
            )
        self.df = df
        self.h3index_column_name = h3index_column_name

    # -- column helpers -----------------------------------------------------

    @property
    def h3col(self) -> Column:
        return F.col(self.h3index_column_name)

    def with_resolution(self, out: str = "h3_resolution") -> DataFrame:
        return self.df.withColumn(out, hx.h3_get_resolution(self.h3col))

    def with_parent(self, parent_res: int, out: str = "h3index_parent") -> DataFrame:
        return self.df.withColumn(out, hx.h3_to_parent(self.h3col, parent_res))

    # -- h3ron-polars-style dataframe ops (reference H3DataFrame API) -------

    def compact(self, max_res: int | None = None) -> "H3DataFrame":
        """``h3_compact_dataframe`` parity (insert.rs:99-108): merge
        complete uniform sibling sets into parent rows."""
        from ukis_h3cellstore_spark import compaction

        return H3DataFrame(
            compaction.compact_df(self.df, self.h3index_column_name, max_res),
            self.h3index_column_name,
        )

    def uncompact(
        self, target_res: int, cells: list[int] | DataFrame | None = None
    ) -> "H3DataFrame":
        """``h3_uncompact_dataframe_subset`` parity (mod.rs:459-477):
        expand mixed-resolution rows to ``target_res``; ``cells`` (a
        list, or a frame with a column named like the h3 column)
        optionally restricts the output through the read path's
        cell-predicate rule (:func:`query.cells_probe`)."""
        from ukis_h3cellstore_spark import compaction, query

        name = self.h3index_column_name
        out = compaction.uncompact_df(self.df, target_res, name)
        if cells is not None:
            probe = query.cells_probe(self.df.sparkSession, name, cells)
            out = query.cells_predicate(out, name, probe)
        return H3DataFrame(out, name)

    def partition_by_resolution(self) -> dict[int, DataFrame]:
        """``h3_partition_by_resolution`` parity (insert.rs:99-108):
        split a mixed-resolution dataframe into {resolution: df}.
        Driver discovers the distinct resolutions (≤16 values); each
        returned df is a lazy filter over the input."""
        res_col = hx.h3_get_resolution(self.h3col)
        present = [
            r["__r"]
            for r in self.df.select(res_col.alias("__r")).distinct().collect()
        ]
        return {
            r: self.df.filter(hx.h3_get_resolution(self.h3col) == r)
            for r in sorted(present)
        }

    # -- exports (parity with DataFrameWrapper.to_pandas/to_arrow) ----------

    def to_pandas(self):
        return self.df.toPandas()

    def to_arrow(self):
        return self.df.toArrow()

    def to_polars(self):
        """Reference ``DataFrameWrapper.to_polars`` (frame.py:50-82);
        needs the optional ``polars`` package."""
        try:
            import polars
        except ImportError as e:  # pragma: no cover - env dependent
            raise ImportError(
                "to_polars requires the optional 'polars' package"
            ) from e
        return polars.from_arrow(self.df.toArrow())

    def count(self) -> int:
        return self.df.count()

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def __repr__(self) -> str:
        return f"H3DataFrame(h3index_column={self.h3index_column_name!r}, df={self.df})"
