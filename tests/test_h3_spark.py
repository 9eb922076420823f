"""Cross-check Spark Column bit-arithmetic against the pure-Python core,
and the distributed compact/uncompact against the exact algorithms."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ukis_h3cellstore_spark import compaction
from ukis_h3cellstore_spark.h3 import cells as c
from ukis_h3cellstore_spark.h3 import expressions as hx


def _sample_cells(n=500, seed=1, include_invalid=True):
    """Random cells, incl. structurally-invalid ones (leading K digit on
    pentagons, wrong mode/reserved bits) so validity paths are covered."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        res = rng.randint(0, 12)
        bc = rng.randint(0, 121)
        digits = [rng.randint(0, 6) for _ in range(res)]
        cell = 0
        for r, d in enumerate(digits, start=1):
            cell |= d << (3 * (15 - r))
        cell |= (1 << 59) | (res << 52) | (bc << 45) | c.trailing_sevens(res)
        if include_invalid and i % 11 == 0:
            cell |= 1 << 56  # corrupt a reserved bit
        out.append(cell)
    return out


def test_expressions_match_python(spark):
    cells = _sample_cells()
    df = spark.createDataFrame([(x,) for x in cells], "h3index long")
    got = df.select(
        "h3index",
        hx.h3_get_resolution("h3index").alias("res"),
        hx.h3_get_base_cell("h3index").alias("bc"),
        hx.h3_is_pentagon("h3index").alias("pent"),
        hx.h3_is_valid_cell("h3index").alias("valid"),
    ).collect()
    for row in got:
        x = row["h3index"]
        assert row["res"] == c.get_resolution(x)
        assert row["bc"] == c.get_base_cell(x)
        assert row["pent"] == c.is_pentagon(x)
        assert row["valid"] == c.is_valid_cell(x), hex(x)


def test_is_valid_cell_bit_algebra_fuzz(spark):
    """The branch-free bit-algebra form of h3_is_valid_cell must agree
    with the Python reference on EVERY 64-bit pattern class: raw
    random longs, negatives, structured cells with 7-digits inside
    the used range, random bit flips, and every pentagon base cell
    with leading-digit variants around the K-axis rule."""
    rng = random.Random(77)
    cases = [rng.getrandbits(63) for _ in range(3000)]
    cases += [-rng.getrandbits(63) - 1 for _ in range(500)]
    for _ in range(3000):
        res = rng.randint(0, 15)
        bc = rng.randint(0, 125)  # incl. out-of-range bases
        cell = (1 << 59) | (res << 52) | (bc << 45) | c.trailing_sevens(res)
        for r in range(1, res + 1):
            cell |= rng.randint(0, 7) << (3 * (15 - r))  # incl. digit 7
        if rng.random() < 0.3:
            cell ^= 1 << rng.randint(0, 62)
        cases.append(cell)
    for pb in sorted(c.PENTAGON_BASE_CELLS):
        for digs in ([1], [0, 1], [0, 0, 1], [2, 1], [0, 3], [1, 0, 0],
                     [0, 0, 0], [0, 0, 0, 0, 0, 1], [6, 1, 1]):
            res = len(digs)
            cell = (1 << 59) | (res << 52) | (pb << 45) | c.trailing_sevens(res)
            for r, d in enumerate(digs, start=1):
                cell |= d << (3 * (15 - r))
            cases.append(cell)
    df = spark.createDataFrame([(x,) for x in cases], "h3index long")
    got = df.select(
        "h3index", hx.h3_is_valid_cell("h3index").alias("v")
    ).collect()
    bad = [
        row for row in got if row["v"] != c.is_valid_cell(row["h3index"])
    ]
    assert not bad, [hex(r["h3index"] & (2**64 - 1)) for r in bad[:5]]


def test_to_parent_matches_python(spark):
    cells = [x for x in _sample_cells(300, 2) if c.get_resolution(x) >= 4]
    df = spark.createDataFrame([(x,) for x in cells], "h3index long")
    got = df.select(
        "h3index",
        hx.h3_to_parent("h3index", 2).alias("p2"),
        hx.h3_to_parent_dyn("h3index", F.lit(3)).alias("p3"),
    ).collect()
    for row in got:
        assert row["p2"] == c.cell_to_parent(row["h3index"], 2)
        assert row["p3"] == c.cell_to_parent(row["h3index"], 3)


def test_children_count_matches_python(spark):
    cells = [c.build_cell(4, []), c.build_cell(20, [1]), c.build_cell(14, [0, 0])]
    df = spark.createDataFrame([(x,) for x in cells], "h3index long")
    got = df.select(
        "h3index", hx.h3_children_count("h3index", 4).alias("n")
    ).collect()
    for row in got:
        assert row["n"] == c.cell_to_children_count(row["h3index"], 4)


def test_uncompact_df_matches_python(spark):
    parents = [c.build_cell(20, [3]), c.build_cell(4, []), c.build_cell(50, [1, 2])]
    df = spark.createDataFrame([(x, 1.5) for x in parents], "h3index long, v double")
    out = compaction.uncompact_df(df, 3, "h3index")
    got = sorted(r["h3index"] for r in out.collect())
    want = sorted(
        ch for p in parents for ch in c.cell_to_children(p, 3)
    )
    assert got == want
    # values carried through
    assert all(r["v"] == 1.5 for r in out.collect())


def test_uncompact_df_subset(spark):
    from ukis_h3cellstore_spark.frame import H3DataFrame

    parent = c.build_cell(20, [3])
    kids = c.cell_to_children(parent, 3)
    keep = kids[::7]
    df = spark.createDataFrame([(parent, 1)], "h3index long, v int")
    cells_df = spark.createDataFrame([(k,) for k in keep], "h3index long")
    out = H3DataFrame(df).uncompact(3, cells=cells_df).df
    assert sorted(r["h3index"] for r in out.collect()) == sorted(keep)


def test_compact_df_matches_python(spark):
    rng = random.Random(9)
    base = c.build_cell(33, [2])
    universe = c.cell_to_children(base, 5)
    sample = rng.sample(universe, 1500)
    df = spark.createDataFrame([(x, 7) for x in sample], "h3index long, v int")
    out = compaction.compact_df(df, "h3index")
    got = sorted(r["h3index"] for r in out.collect())
    assert got == c.compact_cells(sample)


def test_compact_df_respects_value_groups(spark):
    parent = c.build_cell(20, [3, 0])  # res 2 → 7 direct children at res 3
    kids = c.cell_to_children(parent, 3)
    # one child has a different value → no compaction of that parent
    rows = [(k, 1 if i else 2) for i, k in enumerate(kids)]
    df = spark.createDataFrame(rows, "h3index long, v int")
    out = compaction.compact_df(df, "h3index")
    assert out.count() == 7  # unchanged
    # uniform values → compacts to the single parent
    df2 = spark.createDataFrame([(k, 1) for k in kids], "h3index long, v int")
    out2 = compaction.compact_df(df2, "h3index")
    assert [r["h3index"] for r in out2.collect()] == [parent]


def test_compact_df_null_values_group(spark):
    parent = c.build_cell(20, [3])
    kids = c.cell_to_children(parent, 3)  # 49 grandchildren → compact 2 levels
    df = spark.createDataFrame(
        [(k, None) for k in kids], "h3index long, v string"
    )
    out = compaction.compact_df(df, "h3index")
    assert [r["h3index"] for r in out.collect()] == [parent]


def test_rollup_uses_partial_aggregation(spark):
    """The rollup must be a two-phase hash aggregation (map-side
    combine + final) with no Python evaluation — the property that
    makes it scale (SURVEY O9/§2.4)."""
    from ukis_h3cellstore_spark import CompactedTableSchemaBuilder
    from ukis_h3cellstore_spark import rollup
    from ukis_h3cellstore_spark.h3 import cells as h3c

    schema = (
        CompactedTableSchemaBuilder("agg_plan_set")
        .h3_base_resolutions([4, 6])
        .add_h3index_column()
        .add_aggregated_column("v", "Int64", "Sum")
        .build()
    )
    cells = h3c.cell_to_children(h3c.build_cell(60, [1, 2, 3, 4]), 6)
    df = spark.createDataFrame([(c, 1) for c in cells], "h3index long, v long")
    out = rollup.rollup_level(schema, df, 6, 4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_compact_coarse_band_duplicate_rows_not_falsely_promoted(spark):
    """Duplicate (cell, values) rows must not fake a complete sibling
    set in a coarse band: at ``max_res`` 9 the first band groups by the
    res-3 ancestor, so these res-3 rows go through the second band. 6
    distinct children + 1 duplicate is 7 ROWS but not 7 siblings (no
    promotion); a complete set given twice must promote exactly once
    (not be silently dropped)."""
    parent = c.build_cell(20, [3])
    kids = c.cell_to_children(parent, 3)

    rows = [(k, 1) for k in kids[:6]] + [(kids[0], 1)]
    df = spark.createDataFrame(rows, "h3index long, v int")
    out = compaction.compact_df(df, "h3index", max_res=9)
    assert sorted(r["h3index"] for r in out.collect()) == sorted(kids[:6])

    rows2 = [(k, 1) for k in kids] * 2
    df2 = spark.createDataFrame(rows2, "h3index long, v int")
    out2 = compaction.compact_df(df2, "h3index", max_res=9)
    assert [r["h3index"] for r in out2.collect()] == [parent]


#: Spark jobs one ``compact_df`` call with a given ``max_res`` may run,
#: by the number of bands its batch reaches (AQE on): two per band
#: (the checkpoint) plus one emptiness check per band whose group
#: resolution is above 0 (measured 3, 5, 8 on 4 cores; the
#: window-per-level loop this replaced ran 3, 8, 12)
COMPACT_DF_MAX_JOBS = {1: 3, 2: 5, 3: 8}


@pytest.mark.parametrize("max_res, bands", [(8, 1), (9, 2), (13, 3)])
def test_compact_df_jobs_ceiling(spark, max_res, bands):
    """A uniform block of 343 ``max_res`` cells compacts inside the
    first band. From ``max_res`` 9 on, the 7 res-1 children of base
    cell 20 lie at or above the first band's group resolution, so they
    reach a second band; at ``max_res`` 13 the second band groups by
    the res-1 ancestor and they reach a third."""
    import uuid

    block = c.cell_to_children(c.build_cell(30, [1] * (max_res - 3)), max_res)
    coarse = c.cell_to_children(c.build_cell(20, []), 1) if bands > 1 else []
    df = spark.createDataFrame(
        [(x, 1) for x in block] + [(x, 2) for x in coarse], "h3index long, v int"
    )
    sc = spark.sparkContext
    group = f"compact-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "compact_df jobs ceiling")
    try:
        out = compaction.compact_df(df, "h3index", max_res=max_res)
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= COMPACT_DF_MAX_JOBS[bands], jobs
    want = [(c.build_cell(30, [1] * (max_res - 3)), 1)]
    if coarse:
        want.append((c.build_cell(20, []), 2))
    assert sorted((r.h3index, r.v) for r in out.collect()) == sorted(want)
