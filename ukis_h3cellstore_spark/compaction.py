"""Distributed H3 compaction / uncompaction of DataFrames.

Compaction (reference: ``h3df.h3_compact_dataframe(true)`` via
h3ron-polars, called at ``insert.rs:99-108``) replaces every complete
set of sibling cells *with identical attribute values* by a single
parent-cell row, recursively — producing a mixed-resolution dataframe
that stores uniform regions once.

Spark-first design (scale notes):

- ``compact_df`` runs one ``applyInPandas`` pass per band of
  ``GROUP_LEVELS`` levels, finest band first. A band is grouped by the
  res-``g`` ancestor (``g = max(top - GROUP_LEVELS, 0)``), so a group
  holds at most 7^6 cells per value, whatever the total size. Inside a
  group every level is vectorized numpy: parent bit arithmetic, then
  one sort-based count per level over (parent, value code). Only the
  rows at ``g`` or coarser go on to the next band, which a
  single-resolution batch holding no whole uniform res-``g`` cell
  never has.
- ``uncompact_df`` expands mixed-resolution rows to a target
  resolution **in-plan** (``h3_expand_to_children``: each row explodes
  a sequence of child ids turned into child cells by pure bit
  arithmetic — no join, no broadcast — staged so no sequence exceeds
  7^MAX_OFFSET_DIFF ids even for a res-0 row under a res-10 target) —
  the expansion of the reference's client-side
  ``h3_uncompact_dataframe_subset`` (``mod.rs:459-477``) that scales to
  any number of rows (no driver materialization); its subset restrict
  is ``H3DataFrame.uncompact``'s.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.h3 import expressions as hx


#: levels handled by one grouped-pandas pass (a band): the group key is
#: the ancestor ``GROUP_LEVELS`` above the band's finest resolution
#: (≤ 7^6 descendants per group, so a group is bounded regardless of
#: total data size); rows that reach that ancestor run the next band.
GROUP_LEVELS = 6

_PENTAGON_BASE_CELLS = np.array(sorted(h3c.PENTAGON_BASE_CELLS), dtype=np.int64)


def compact_df(
    df: DataFrame,
    h3index_column: str = "h3index",
    max_res: int | None = None,
) -> DataFrame:
    """Compact complete uniform sibling sets into parent rows.

    ``df`` may hold mixed resolutions. Attribute columns (everything
    except the h3 column) take part in the grouping: only siblings with
    equal attribute values merge (NULL and NaN are values of their
    own, as in a Spark ``groupBy``), so the operation is lossless
    (``uncompact_df(compact_df(df), r)`` reproduces ``df`` for
    single-resolution input).

    One loop over bands of ``GROUP_LEVELS`` levels, finest first,
    starting at ``top = max_res``. Each band is ONE ``applyInPandas``
    pass that compacts every level finer than ``g = max(top -
    GROUP_LEVELS, 0)``: a row finer than ``g`` is grouped by its
    res-``g`` ancestor, so every complete sibling set below ``g`` lies
    entirely inside one group (siblings share their res-``g``
    ancestor), and sibling sets AT res ``g`` span different groups, so
    no over-promotion. A row at res ≤ ``g`` is grouped by its own cell
    (it only deduplicates). After the pass, rows finer than ``g`` are
    final (their promotion failed inside their own group and can never
    succeed elsewhere); the rows at ``g`` or coarser (≤ 1/7^GROUP_LEVELS
    of the input) run the next band with ``top = g``.

    Each band is an eager local checkpoint (two jobs), and one
    emptiness check over it decides whether the next band runs; the
    result is the union of the checkpointed bands, so callers read it
    without recomputing it. A batch with ``max_res ≤ GROUP_LEVELS`` is
    one band with ``g = 0`` and no emptiness check.
    """
    value_cols = [c for c in df.columns if c != h3index_column]
    h3col = F.col(h3index_column)
    res_col = hx.h3_get_resolution(h3col)

    if max_res is None:
        row = df.select(F.max(res_col).alias("r")).first()
        max_res = row["r"] if row and row["r"] is not None else 0

    final: list[DataFrame] = []
    top = max_res
    while True:
        g = max(top - GROUP_LEVELS, 0)
        done = _compact_grouped_pandas(
            df,
            h3index_column,
            value_cols,
            F.when(res_col > g, hx.h3_to_parent(h3col, g)).otherwise(h3col),
        ).localCheckpoint(eager=True)
        df = done.filter(res_col <= g)
        if g == 0 or df.isEmpty():
            break
        final.append(done.filter(res_col > g))
        top = g
    for band in final:
        done = done.unionByName(band)
    return done


def _unique_pairs(a: np.ndarray, b: np.ndarray):
    """Distinct ``(a, b)`` pairs of two int64 arrays: returns the pair
    columns, each input row's pair id and each pair's row count."""
    order = np.lexsort((b, a))
    a_s, b_s = a[order], b[order]
    new = np.ones(len(a), dtype=bool)
    new[1:] = (a_s[1:] != a_s[:-1]) | (b_s[1:] != b_s[:-1])
    starts = np.flatnonzero(new)
    inverse = np.empty(len(a), dtype=np.int64)
    inverse[order] = np.cumsum(new) - 1
    counts = np.diff(np.append(starts, len(a)))
    return a_s[starts], b_s[starts], inverse, counts


def _compact_codes_np(cells: np.ndarray, codes: np.ndarray):
    """``h3c.compact_cells`` applied separately to the cells of each
    value code, vectorized: returns the compacted ``(cell, code)``
    pairs. Per level, finest first: distinct (cell, code) pairs, their
    parents, one count per (parent, code); a parent with all its
    children (7, or 6 for a pentagon) replaces them on the next
    level."""
    out_cells, out_codes = [], []
    res = (cells >> 52) & 0xF
    top = int(res.max()) if len(res) else 0
    for r in range(top, 0, -1):
        at = res == r
        if not at.any():
            continue
        c, k, _, _ = _unique_pairs(cells[at], codes[at])
        pr = r - 1
        fill = h3c.trailing_sevens(pr)
        parent = (c & np.int64(~h3c._RES_MASK)) | np.int64((pr << 52) | fill)
        pp, pk, inverse, counts = _unique_pairs(parent, k)
        pentagon = np.isin((pp >> 45) & 0x7F, _PENTAGON_BASE_CELLS) & (
            (pp & np.int64(h3c._DIGIT_AREA_MASK)) == fill
        )
        complete = counts == np.where(pentagon, 6, 7)
        kept = ~complete[inverse]
        out_cells.append(c[kept])
        out_codes.append(k[kept])
        rest = ~at
        cells = np.concatenate([cells[rest], pp[complete]])
        codes = np.concatenate([codes[rest], pk[complete]])
        res = np.concatenate(
            [res[rest], np.full(int(complete.sum()), pr, dtype=res.dtype)]
        )
    # what is left is at res 0: distinct pairs, nothing to promote to
    c, k, _, _ = _unique_pairs(cells, codes)
    out_cells.append(c)
    out_codes.append(k)
    return np.concatenate(out_cells), np.concatenate(out_codes)


def _compact_grouped_pandas(
    df: DataFrame,
    h3index_column: str,
    value_cols: list[str],
    key: Column,
) -> DataFrame:
    """One-shuffle exact compaction within the groups of ``key`` (a
    cell's ancestor: no sibling set may span two groups).

    Arrow turns a float NaN into NULL on the way back from pandas, and
    pandas groups NaN with NULL; a boolean ``isnan`` flag per float
    column travels with the row, keeps the two apart in the grouping
    and restores the NaN afterwards."""
    nan_flags = {
        c: f"__nan_{i}"
        for i, c in enumerate(value_cols)
        if isinstance(df.schema[c].dataType, (T.FloatType, T.DoubleType))
    }
    src = df.withColumns(
        {flag: F.isnan(F.col(c)) for c, flag in nan_flags.items()}
    )
    schema = src.schema
    group_cols = value_cols + list(nan_flags.values())

    def compact_group(pdf):
        pdf = pdf.drop(columns=["__grp"])
        cells = pdf[h3index_column].to_numpy(dtype=np.int64)
        if group_cols:
            codes = (
                pdf.groupby(group_cols, dropna=False, sort=False)
                .ngroup()
                .to_numpy(dtype=np.int64)
            )
        else:
            codes = np.zeros(len(cells), dtype=np.int64)
        out_cells, out_codes = _compact_codes_np(cells, codes)
        # every row of a code carries the same values: take the first
        _, first = np.unique(codes, return_index=True)
        out = pdf.iloc[first[out_codes]].reset_index(drop=True)
        out[h3index_column] = out_cells
        return out

    out = (
        src.withColumn("__grp", key)
        .groupBy("__grp")
        .applyInPandas(compact_group, schema)
    )
    if not nan_flags:
        return out
    nan = {c: F.lit(float("nan")).cast(df.schema[c].dataType) for c in nan_flags}
    return out.select(
        *[
            F.when(F.col(nan_flags[c]), nan[c]).otherwise(F.col(c)).alias(c)
            if c in nan_flags
            else F.col(c)
            for c in df.columns
        ]
    )


def uncompact_df(
    df: DataFrame,
    target_res: int,
    h3index_column: str = "h3index",
    source_resolutions: list[int] | None = None,
) -> DataFrame:
    """Expand mixed-resolution rows to ``target_res`` descendants.

    Rows already at ``target_res`` pass through; coarser rows are
    expanded in-plan per source resolution (an exploded child-id
    sequence and pure bit-OR arithmetic, JVM-side). Pentagon
    descendants that would carry a K-axis digit are filtered out with a
    validity bit-test.

    The reference's "uncompact subset" (``mod.rs:459-477``) is
    :meth:`H3DataFrame.uncompact` with ``cells``: it restricts this
    result through the read path's one cell-predicate rule.

    ``source_resolutions``: the resolutions that may occur in ``df``
    below ``target_res``. Pass it when the caller knows (the store
    does — each pyramid table holds exactly one resolution); otherwise
    it is discovered with an extra pass over the data.
    """
    h3col = F.col(h3index_column)
    res_col = hx.h3_get_resolution(h3col)

    at_target = df.filter(res_col == target_res)
    coarser = df.filter(res_col < target_res)

    if source_resolutions is not None:
        res_present = [r for r in source_resolutions if r < target_res]
    else:
        # distinct source resolutions present (small driver list; ≤ 16)
        res_present = [
            r["__r"]
            for r in coarser.select(res_col.alias("__r")).distinct().collect()
        ]

    parts = [at_target]
    for r in sorted(res_present):
        # staged expansion: no per-row child sequence above
        # 7^MAX_OFFSET_DIFF ids even for res-0 rows under a fine
        # target; drops K-axis children under pentagon chains per stage
        lvl = hx.h3_expand_to_children(
            coarser.filter(res_col == r),
            h3index_column,
            r,
            target_res,
            filter_invalid=True,
        )
        parts.append(lvl.select(*df.columns))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
