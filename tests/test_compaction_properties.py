"""Property-based tests (hypothesis) for the distributed compaction
kernel: ``compact_df`` must equal the pure-Python
``h3.cells.compact_cells`` applied to each value group on its own, and
``uncompact_df`` must undo it for single-resolution input.

Inputs mix the shapes that break set-based compaction: NULL and NaN
values (two distinct groups, as in a Spark ``groupBy``), duplicate
rows, a cell present together with its own descendants, pentagon
descendants (base cell 4, six children per pentagon), blocks of one
value, and single-partition frames. ``max_res`` 3 runs one band,
grouped by the base cell; ``max_res`` 7 groups the first band by the
res-1 ancestor, so complete blocks reach a second band; ``max_res`` 9
and 13 put every input row (res ≤ 3) at or above the first band's
group resolution, and at 13 the second band groups by the res-1
ancestor, so complete blocks reach a third."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ukis_h3cellstore_spark import compaction
from ukis_h3cellstore_spark.h3 import cells as h3c

_SETTINGS = dict(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)

_VALUES = st.sampled_from([None, math.nan, 1.5, 2.5])


def _descendants(base: int, res: int) -> list[int]:
    root = h3c.build_cell(base, [])
    return [c for r in range(1, res + 1) for c in h3c.cell_to_children(root, r)]


@st.composite
def _rows(draw, single_res: bool = False):
    base = draw(st.sampled_from([4, 20]))  # pentagon, hexagon
    res = draw(st.integers(2, 3))
    root = h3c.build_cell(base, [])
    rows = []
    for _ in range(draw(st.integers(1, 4))):
        # a block: the descendants of one anchor at ``res``, one value,
        # mostly complete so that it compacts
        level = draw(st.integers(0, res - 1))
        anchor = draw(st.sampled_from(h3c.cell_to_children(root, level)))
        value = draw(_VALUES)
        kids = h3c.cell_to_children(anchor, res)
        gone = draw(st.sets(st.integers(0, len(kids) - 1), max_size=2))
        odd = draw(st.sets(st.integers(0, len(kids) - 1), max_size=1))
        rows += [
            (k, draw(_VALUES) if i in odd else value)
            for i, k in enumerate(kids)
            if i not in gone
        ]
        if not single_res and draw(st.booleans()):
            rows.append((anchor, value))  # the anchor beside its own descendants
    if not single_res:
        loose = st.tuples(st.sampled_from(_descendants(base, res)), _VALUES)
        rows += draw(st.lists(loose, max_size=8))
    rows += draw(st.lists(st.sampled_from(rows), max_size=5))  # duplicates
    return rows


def _key(v):
    """Spark grouping semantics: NULL, NaN and each number are distinct."""
    if v is None:
        return (0, 0.0)
    if math.isnan(v):
        return (1, 0.0)
    return (2, v)


def _frame(spark, rows, single_partition):
    df = spark.createDataFrame(rows, "h3index long, v double")
    return df.coalesce(1) if single_partition else df.repartition(3)


@given(rows=_rows(), max_res=st.sampled_from([3, 7, 9, 13]), single=st.booleans())
@settings(**_SETTINGS)
def test_compact_df_equals_compact_cells_per_value_group(spark, rows, max_res, single):
    out = compaction.compact_df(_frame(spark, rows, single), "h3index", max_res=max_res)
    got = sorted((r.h3index, _key(r.v)) for r in out.collect())
    groups: dict = {}
    for cell, v in rows:
        groups.setdefault(_key(v), []).append(cell)
    want = sorted(
        (cell, k) for k, cells in groups.items() for cell in h3c.compact_cells(cells)
    )
    assert got == want


@given(
    rows=_rows(single_res=True),
    max_res=st.sampled_from([3, 7, 9, 13]),
    single=st.booleans(),
)
@settings(**_SETTINGS)
def test_uncompact_undoes_compact_for_single_resolution(spark, rows, max_res, single):
    res = h3c.get_resolution(rows[0][0])
    compacted = compaction.compact_df(
        _frame(spark, rows, single), "h3index", max_res=max_res
    )
    out = compaction.uncompact_df(compacted, res, "h3index")
    got = sorted((r.h3index, _key(r.v)) for r in out.collect())
    assert got == sorted({(cell, _key(v)) for cell, v in rows})
