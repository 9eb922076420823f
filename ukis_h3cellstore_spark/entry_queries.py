"""Driver-contract query registry: Spark implementation + DuckDB oracle
for every operator claimed in SURVEY.md §2.

Each entry pairs a Spark DataFrame pipeline (the engine's own
operators — :mod:`h3.expressions`, :mod:`compaction`, :mod:`rollup`,
:class:`CellStore`) with an ANSI-SQL oracle that DuckDB executes over
the same parquet tables. Both sides derive the synthetic H3 column with
the *identical* integer bit arithmetic
(:mod:`ukis_h3cellstore_spark.h3.sqlgen`), and all float outputs are
either exact-integer-derived (money in cents as BIGINT) or divisions of
exact integers (bit-identical IEEE ops in both engines), so the
driver's order-insensitive value hash matches bit-for-bit.

Determinism conventions:
- money / measure sums: ``CAST(round(x*100) AS BIGINT)`` cents before
  summing — integer-exact in both engines;
- averages: (exact integer sum) / (exact count) evaluated in the same
  expression shape on both sides;
- 64-bit hashes: first 15 hex chars of ``md5`` → BIGINT
  (Spark ``conv(substr(md5(x),1,15),16,10)``,
  DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.h3 import expressions as hx
from ukis_h3cellstore_spark.h3 import sqlgen as sg

DUCK = sg.DUCKDB
SPARK_D = sg.SPARK


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _stable_tmpdir(prefix: str, sf_dir: str) -> str:
    """A STABLE scratch directory keyed by (prefix, sf_dir), cleared on
    every call. Gates that export shards / stage stream sources used to
    ``mkdtemp`` per invocation, which the sweeps (2 SFs × correctness,
    2-config determinism, min-of-3 bench) turn into unbounded temp-disk
    accumulation across processes; a deterministic path means each
    re-run REPLACES the previous contents instead. Sweeps are
    sequential by protocol (docs/SCALE.md bench rules), so no two
    invocations race on the same path.

    The key is namespaced by uid + repo root so two checkouts (or two
    users on a shared host) keyed on the same sf_dir never collide on
    one path — a foreign run's rmtree would otherwise corrupt this
    run's lazily-read gate output. A failed cleanup (e.g. stale
    foreign-owned files surviving an earlier non-namespaced layout)
    raises instead of silently mixing stale shards into the result.

    CONTRACT: re-invoking a gate INVALIDATES any still-unconsumed
    DataFrame the previous invocation returned over this directory
    (the files back it lazily). Every harness here — correctness,
    determinism, bench — fully materializes each gate's result before
    the next invocation; interactive callers holding a returned frame
    across a re-invocation must collect/checkpoint it first."""
    import hashlib
    import os
    import shutil
    import tempfile

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ns = f"{os.getuid()}:{repo_root}:{sf_dir}"
    key = hashlib.md5(ns.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"{prefix}{key}")
    shutil.rmtree(path, ignore_errors=True)
    if os.path.isdir(path) and os.listdir(path):
        raise RuntimeError(
            f"_stable_tmpdir: {path} is non-empty after rmtree — foreign "
            "files present; refusing to mix stale shards into gate output"
        )
    os.makedirs(path, exist_ok=True)
    return path


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with the ``ts`` column exposed as ``ts_us``
    (microseconds since epoch, BIGINT) — the cross-engine parity ground
    shared with the DuckDB oracle's ``epoch_us(ts)``.

    The driver's parquet has shipped two physical types for ``ts``
    across rounds: TIMESTAMP(NANOS) (read as BIGINT nanos via
    ``nanosAsLong``) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (read as TIMESTAMP_NTZ). Branch on the observed type so both work.
    TIMESTAMP_NTZ → µs via ``timestampdiff`` against the NTZ epoch:
    pure wall-clock arithmetic, independent of the session timezone,
    exactly DuckDB's naive ``epoch_us``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "timestamp_ntz":
        ts_us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00',"
            " cast(ts as timestamp_ntz))"
        )
    elif ts_type == "timestamp":
        # TIMESTAMP_LTZ (isAdjustedToUTC=true): unix_micros reads the
        # UTC instant directly — timezone-independent, unlike casting
        # to NTZ which would shift by the session timezone.
        ts_us = F.expr("unix_micros(ts)")
    else:
        # BIGINT nanos. Integer division — `ts / 1000` evaluates in
        # DOUBLE, whose 53 mantissa bits lose the microsecond digit.
        ts_us = F.expr("ts div 1000")
    return df.withColumn("ts_us", ts_us).drop("ts")


def _cents(col) -> "F.Column":
    """Exact integer cents of a 2-decimal double."""
    return F.round(col * 100).cast("long")


def _hash64(col) -> "F.Column":
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _synth_col(key: str, res: int) -> "F.Column":
    """Synthetic H3 cell from an integer key — Spark side, via the
    spark-dialect SQL fragment (stays JVM-native)."""
    return F.expr(sg.synth_cell(key, res, SPARK_D))


# --------------------------------------------------------------------------
# §2.4 relational core (CH-SQL semantics the engine must reproduce): TPC-H
# style aggregations/joins over the driver tables.
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4/A7 flavor: grouped aggregation with exact-cents arithmetic."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    disc_c100 = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    charge_c10000 = disc_c100 * (F.lit(100) + _cents(F.col("l_tax")))
    out = (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(disc_c100).alias("sum_disc_c100"),
            F.sum(charge_c10000).alias("sum_charge_c10000"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn(
            "avg_qty", F.col("sum_qty").cast("double") / F.col("count_order")
        )
        .withColumn(
            "avg_price_cents",
            F.col("sum_base_cents").cast("double") / F.col("count_order"),
        )
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_cents",
        "sum_disc_c100",
        "sum_charge_c10000",
        "count_order",
        "avg_qty",
        "avg_price_cents",
    )


Q_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_c100,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT))
           * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_c10000,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)
           / COUNT(*) AS avg_price_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join + aggregation (customer ⋈ orders ⋈ lineitem)."""
    cutoff = F.to_timestamp(F.lit("1998-07-01"))
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice"))
                * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("revenue_c100")
        )
        .select("l_orderkey", "revenue_c100", "o_orderdate", "o_orderpriority")
    )


Q_SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c100,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate  > TIMESTAMP '1998-07-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


def q_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join with two broadcast dims (TPC-H Q5 shape)."""
    lo = F.to_timestamp(F.lit("1996-01-01"))
    hi = F.to_timestamp(F.lit("1997-01-01"))
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice"))
                * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("revenue_c100")
        )
        .select("n_name", "revenue_c100")
    )


Q_REGION_NATION_REVENUE_SQL = """
SELECT n_name,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c100
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (batch form of the
    streaming windowed agg; SURVEY §2.9). Window = 1h tumbling on the
    µs epoch (hour_id), plus the window-start timestamp."""
    e = _events(spark, sf_dir)
    hour_id = (F.col("ts_us") / 3_600_000_000).cast("long")
    return (
        e.withColumn("hour_id", hour_id)
        .groupBy("hour_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
        .withColumn(
            "window_start", F.timestamp_micros(F.col("hour_id") * 3_600_000_000)
        )
        .select("hour_id", "window_start", "event_type", "n_events", "sum_value_cents")
    )


Q_EVENTS_HOURLY_SQL = """
SELECT (epoch_us(ts) // 3600000000) AS hour_id,
       make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY 1, 2, 3
"""



def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure range-predicate scan + single aggregate —
    every filter must reach the parquet reader as a pushed filter
    (plan evidence in tools/plan_report.py)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = _cents(F.col("l_extendedprice")) * _cents(F.col("l_discount"))
    return l.agg(
        F.sum(rev).alias("revenue_c10000"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q_FORECAST_REVENUE_SQL = """
SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
              * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT)
         AS revenue_c10000,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

# --------------------------------------------------------------------------
# §2.6/2.7 H3 function suite + §2.4 rollup aggregations over synthetic cells
# --------------------------------------------------------------------------


def q_h3_synth_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar H3 functions: construction, resolution, base cell,
    static + dynamic parent (h3GetResolution/h3GetBaseCell/h3ToParent)."""
    e = _events(spark, sf_dir).select("event_id")
    cell = _synth_col("event_id", 8)
    df = e.withColumn("h3index", cell)
    return df.select(
        "event_id",
        "h3index",
        hx.h3_get_resolution("h3index").alias("h3_res"),
        hx.h3_get_base_cell("h3index").alias("h3_basecell"),
        hx.h3_to_parent("h3index", 5).alias("h3_parent5"),
        hx.h3_to_parent_dyn(
            "h3index", F.lit(2) + (F.col("event_id") % 3).cast("int")
        ).alias("h3_parent_dyn"),
        hx.h3_is_valid_cell("h3index").alias("is_valid"),
    )


def _q_h3_synth_fields_sql() -> str:
    cell = sg.synth_cell("event_id", 8, DUCK)
    dyn_parts = []
    for r in (2, 3, 4):
        dyn_parts.append(
            f"WHEN (2 + event_id % 3) = {r} THEN {sg.to_parent('h3index', r, DUCK)}"
        )
    return f"""
WITH syn AS (SELECT event_id, {cell} AS h3index FROM events)
SELECT event_id, h3index,
       {sg.resolution('h3index', DUCK)} AS h3_res,
       {sg.base_cell('h3index', DUCK)} AS h3_basecell,
       {sg.to_parent('h3index', 5, DUCK)} AS h3_parent5,
       CASE {' '.join(dyn_parts)} END AS h3_parent_dyn,
       TRUE AS is_valid
FROM syn
"""


def q_h3_parent_agg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A7: rollup grouping by h3ToParent + passthrough column."""
    e = _events(spark, sf_dir)
    df = e.withColumn("h3index", _synth_col("event_id", 8))
    return (
        df.groupBy(
            hx.h3_to_parent("h3index", 3).alias("h3index_parent"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
        .select("h3index_parent", "event_type", "n", "sum_value_cents")
    )


def _q_h3_parent_agg_sum_sql() -> str:
    cell = sg.synth_cell("event_id", 8, DUCK)
    return f"""
WITH syn AS (SELECT *, {cell} AS h3index FROM events)
SELECT {sg.to_parent('h3index', 3, DUCK)} AS h3index_parent, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM syn GROUP BY 1, 2
"""


def q_h3_minmax_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3/A4: max/min/avg rollup at parent resolution 4."""
    e = _events(spark, sf_dir)
    df = e.withColumn("h3index", _synth_col("event_id", 8))
    return (
        df.groupBy(hx.h3_to_parent("h3index", 4).alias("h3index_parent"))
        .agg(
            F.max(_cents(F.col("value"))).alias("max_cents"),
            F.min(_cents(F.col("value"))).alias("min_cents"),
            F.sum(_cents(F.col("value"))).alias("sum_cents"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn(
            "avg_cents", F.col("sum_cents").cast("double") / F.col("n")
        )
        .select("h3index_parent", "max_cents", "min_cents", "sum_cents", "n", "avg_cents")
    )


def _q_h3_minmax_avg_sql() -> str:
    cell = sg.synth_cell("event_id", 8, DUCK)
    return f"""
WITH syn AS (SELECT *, {cell} AS h3index FROM events)
SELECT {sg.to_parent('h3index', 4, DUCK)} AS h3index_parent,
       CAST(MAX(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS max_cents,
       CAST(MIN(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_cents
FROM syn GROUP BY 1
"""


def q_h3_setnull_on_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: keep value iff unanimous within the parent cell, else NULL."""
    e = _events(spark, sf_dir)
    df = e.withColumn("h3index", _synth_col("event_id", 8))
    return (
        df.groupBy(hx.h3_to_parent("h3index", 2).alias("h3index_parent"))
        .agg(
            F.when(
                F.count_distinct(F.col("event_type")) == 1,
                F.first(F.col("event_type"), ignorenulls=True),
            )
            .otherwise(F.lit(None))
            .alias("event_type_unanimous"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("h3index_parent", "event_type_unanimous", "n")
    )


def _q_h3_setnull_sql() -> str:
    cell = sg.synth_cell("event_id", 8, DUCK)
    return f"""
WITH syn AS (SELECT *, {cell} AS h3index FROM events)
SELECT {sg.to_parent('h3index', 2, DUCK)} AS h3index_parent,
       CASE WHEN COUNT(DISTINCT event_type) = 1 THEN MIN(event_type)
            ELSE NULL END AS event_type_unanimous,
       COUNT(*) AS n
FROM syn GROUP BY 1
"""


def q_h3_relative_cell_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: area-relative aggregation — sum over exact child count
    (missing children count as zero; synthetic cells avoid pentagons so
    the count is 7^diff)."""
    e = _events(spark, sf_dir)
    df = e.withColumn("h3index", _synth_col("event_id", 8))
    parent = hx.h3_to_parent("h3index", 5)
    return (
        df.groupBy(parent.alias("h3index_parent"))
        .agg(F.sum(_cents(F.col("value"))).alias("sum_cents"))
        .withColumn(
            "value_rel_area",
            F.col("sum_cents").cast("double") / F.lit(float(7**3)),
        )
        .select("h3index_parent", "sum_cents", "value_rel_area")
    )


def _q_h3_relative_cell_area_sql() -> str:
    cell = sg.synth_cell("event_id", 8, DUCK)
    return f"""
WITH syn AS (SELECT *, {cell} AS h3index FROM events)
SELECT {sg.to_parent('h3index', 5, DUCK)} AS h3index_parent,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 343.0 AS value_rel_area
FROM syn GROUP BY 1
"""


def q_h3_children_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3op/F6: uncompaction — explode res-2 cells to all res-4
    descendants in-plan (``h3_expand_to_children``: an exploded
    child-id sequence and pure bit math, no join)."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey")
    parents = n.withColumn("h3index", _synth_col("n_nationkey", 2)).select(
        F.col("h3index").alias("parent"), F.col("h3index").alias("child")
    )
    return hx.h3_expand_to_children(parents, "child", 2, 4)


def _q_h3_children_explode_sql() -> str:
    cell = sg.synth_cell("n_nationkey", 2, DUCK)
    res_clear = sg._RES_CLEAR_SIGNED
    digit_clear = ~h3c.trailing_sevens(2)
    fill = h3c.trailing_sevens(4)
    return f"""
WITH parents AS (SELECT {cell} AS parent FROM nation),
     idx AS (SELECT unnest(generate_series(0, 48)) AS i)
SELECT parent,
       ((parent & {res_clear} & {digit_clear})
        | {4 << 52}
        | (((i // 7) % 7) << 36)
        | ((i % 7) << 33)
        | {fill}) AS child
FROM parents, idx
"""


def q_h3_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: distributed compaction. Consecutive o_orderkey values form
    complete 7-sibling groups at res 5 under a res-4 parent; every
    parent is the *center child* (digit4 = 0) of a res-3 cell, so
    promoted parents can never themselves complete a sibling set →
    exactly one level of compaction, which the SQL oracle replicates
    relationally."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    p3 = F.expr(sg.synth_cell("(o_orderkey div 7)", 3, SPARK_D))
    # child at res 5: res-3 cell → digit4 = 0 → digit5 = o_orderkey % 7
    child5 = (
        p3.bitwiseAND(F.lit(sg._RES_CLEAR_SIGNED))
        .bitwiseAND(F.lit(~h3c.trailing_sevens(3)))
        .bitwiseOR(F.lit(5 << 52))
        .bitwiseOR(F.shiftleft(F.col("o_orderkey") % 7, 3 * (15 - 5)))
        .bitwiseOR(F.lit(h3c.trailing_sevens(5)))
    )
    cells = o.select(child5.alias("h3index")).distinct()
    from ukis_h3cellstore_spark import compaction

    out = compaction.compact_df(cells, "h3index", max_res=5)
    return out.select("h3index")


def _q_h3_compact_sql() -> str:
    p3 = sg.synth_cell("(o_orderkey // 7)", 3, DUCK)
    res_clear = sg._RES_CLEAR_SIGNED
    return f"""
WITH cells AS (
  SELECT DISTINCT
     (({p3} & {res_clear} & {~h3c.trailing_sevens(3)})
      | {5 << 52}
      | ((o_orderkey % 7) << 30)
      | {h3c.trailing_sevens(5)}) AS h3index
  FROM orders
),
counted AS (
  SELECT h3index,
         COUNT(*) OVER (
            PARTITION BY {sg.to_parent('h3index', 4, DUCK)}) AS n
  FROM cells
)
SELECT {sg.to_parent('h3index', 4, DUCK)} AS h3index
FROM counted WHERE n = 7 AND ((h3index >> 30) & 7) = 0
UNION ALL
SELECT h3index FROM counted WHERE n <> 7
"""


def q_h3_cell_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/J1: cell-set semi-join — events restricted to the cells
    derived from the first 40 user ids (IN-list pushdown path)."""
    e = _events(spark, sf_dir)
    df = e.withColumn("h3index", _synth_col("user_id", 6))
    wanted = [_synth_py(u, 6) for u in range(40)]
    return (
        df.filter(F.col("h3index").isin(wanted))
        .groupBy("h3index")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("value"))).alias("sum_cents"),
        )
        .select("h3index", "n", "sum_cents")
    )


def _synth_py(key: int, res: int) -> int:
    """Pure-Python twin of sqlgen.synth_cell (for driver-side cell lists)."""
    bc = key % 122
    if bc in h3c.PENTAGON_BASE_CELLS:
        bc += 1
    digits = [(key // (7**i)) % 7 for i in range(res)]
    return h3c.build_cell(bc, digits)


def _q_h3_cell_membership_sql() -> str:
    cells = ", ".join(str(_synth_py(u, 6)) for u in range(40))
    cell = sg.synth_cell("user_id", 6, DUCK)
    return f"""
WITH syn AS (SELECT *, {cell} AS h3index FROM events)
SELECT h3index, COUNT(*) AS n,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM syn WHERE h3index IN ({cells})
GROUP BY 1
"""


def q_h3_hierarchy_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: hierarchy containment — match res-8 event cells against
    res-3 ancestor cells of the first 5 customers (broadcast semi-join
    on h3ToParent)."""
    e = _events(spark, sf_dir)
    df = e.withColumn("h3index", _synth_col("event_id", 8))
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 5)
    ancestors = c.select(
        hx.h3_to_parent(_synth_col("c_custkey", 8), 3).alias("anc")
    ).distinct()
    out = df.withColumn("anc", hx.h3_to_parent("h3index", 3)).join(
        F.broadcast(ancestors), on="anc", how="leftsemi"
    )
    return out.groupBy("anc").agg(F.count(F.lit(1)).alias("n")).select("anc", "n")


def _q_h3_hierarchy_semijoin_sql() -> str:
    ecell = sg.synth_cell("event_id", 8, DUCK)
    ccell = sg.synth_cell("c_custkey", 8, DUCK)
    return f"""
WITH syn AS (SELECT {sg.to_parent(f'({ecell})', 3, DUCK)} AS anc FROM events),
     want AS (SELECT DISTINCT {sg.to_parent(f'({ccell})', 3, DUCK)} AS anc
              FROM customer WHERE c_custkey < 5)
SELECT anc, COUNT(*) AS n FROM syn
WHERE anc IN (SELECT anc FROM want)
GROUP BY 1
"""


def q_resolution_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2/A8/A9 flavor: partition by resolution + per-resolution counts
    (the stats/union-all semantics, Q4)."""
    e = _events(spark, sf_dir)
    res = (F.lit(3) + (F.col("user_id") % 4)).cast("int")
    df = e.withColumn("h3_resolution", res)
    return (
        df.groupBy("h3_resolution")
        .agg(
            F.count(F.lit(1)).alias("num_rows"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .select("h3_resolution", "num_rows", "n_users")
    )


Q_RESOLUTION_SPLIT_SQL = """
SELECT CAST(3 + user_id % 4 AS INT) AS h3_resolution,
       COUNT(*) AS num_rows,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# §2.8 composite pipelines through the CellStore (Q1 insert + Q2 query)
# --------------------------------------------------------------------------


def _pipeline_store(spark: SparkSession):
    import tempfile

    from ukis_h3cellstore_spark import CellStore

    return CellStore(spark, tempfile.mkdtemp(prefix="h3entry_wh_"))


def q_pipeline_sum_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1+Q2 with Sum aggregation (compaction disabled by Sum):
    insert events cells at res 6, rollup to res 4, query the res-4
    level. Oracle = direct relational rollup from the source."""
    from ukis_h3cellstore_spark import CompactedTableSchemaBuilder

    schema = (
        CompactedTableSchemaBuilder("entry_sum_rollup")
        .h3_base_resolutions([4, 6])
        .add_h3index_column()
        .add_aggregated_column("value_cents", "UInt64", "Sum")
        .build()
    )
    e = _events(spark, sf_dir)
    df = e.select(
        _synth_col("event_id", 6).alias("h3index"),
        _cents(F.col("value")).alias("value_cents"),
    )
    store = _pipeline_store(spark)
    store.insert_h3dataframe_into_tableset(schema, df)
    cells = sorted({h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(200)})
    out = store.query_tableset_cells("entry_sum_rollup", cells, 4)
    return out.df.select("h3index", "value_cents")


def _q_pipeline_sum_rollup_sql() -> str:
    cell = sg.synth_cell("event_id", 6, DUCK)
    parents = sorted({h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(200)})
    plist = ", ".join(str(p) for p in parents)
    return f"""
WITH syn AS (SELECT {cell} AS h3index,
                    CAST(round(value*100) AS BIGINT) AS value_cents
             FROM events)
SELECT {sg.to_parent('h3index', 4, DUCK)} AS h3index,
       CAST(SUM(value_cents) AS BIGINT) AS value_cents
FROM syn
WHERE {sg.to_parent('h3index', 4, DUCK)} IN ({plist})
GROUP BY 1
"""


def q_pipeline_query_cells_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 through the DATAFRAME probe API (store.query_tableset_cells_df,
    a frame-backed cell set): same insert as pipeline_sum_rollup,
    but the res-4 query cell set is handed over as a Spark frame — the
    planet-scale AOI path where the cell set never exists as a driver
    list (per-table normalization is parent bit arithmetic / offset
    expansion in-plan, partition pruning collects partition VALUES
    only). Oracle: the identical relational rollup — the df API's
    contract is exact result equality with the list API."""
    from ukis_h3cellstore_spark import CompactedTableSchemaBuilder
    from ukis_h3cellstore_spark.query import cells_frame

    schema = (
        CompactedTableSchemaBuilder("entry_cells_df")
        .h3_base_resolutions([4, 6])
        .add_h3index_column()
        .add_aggregated_column("value_cents", "UInt64", "Sum")
        .build()
    )
    e = _events(spark, sf_dir)
    df = e.select(
        _synth_col("event_id", 6).alias("h3index"),
        _cents(F.col("value")).alias("value_cents"),
    )
    store = _pipeline_store(spark)
    store.insert_h3dataframe_into_tableset(schema, df)
    parents = sorted({h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(200)})
    out = store.query_tableset_cells_df(
        "entry_cells_df", cells_frame(spark, "h3index", parents), 4
    )
    return out.df.select("h3index", "value_cents")


def _q_pipeline_query_cells_df_sql() -> str:
    cell = sg.synth_cell("event_id", 6, DUCK)
    parents = sorted({h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(200)})
    plist = ", ".join(str(p) for p in parents)
    return f"""
WITH syn AS (SELECT {cell} AS h3index,
                    CAST(round(value*100) AS BIGINT) AS value_cents
             FROM events)
SELECT {sg.to_parent('h3index', 4, DUCK)} AS h3index,
       CAST(SUM(value_cents) AS BIGINT) AS value_cents
FROM syn
WHERE {sg.to_parent('h3index', 4, DUCK)} IN ({plist})
GROUP BY 1
"""


def q_pipeline_join_tablesets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tableset analytics — the reference's users join tableset
    tables in ClickHouse SQL (schema/mod.rs pyramid tables are plain
    tables); here TWO tablesets with different merge semantics (Sum
    density vs Max severity) are built through the full insert
    pipeline, queried at the shared parent resolution, and equi-joined
    on h3index. The join keys come pre-grouped from each rollup, so
    the join is 1:1 on cell — at scale a co-partitioned merge join,
    with no row multiplication. Oracle recomputes both rollups
    relationally and joins them."""
    from ukis_h3cellstore_spark import CompactedTableSchemaBuilder

    e = _events(spark, sf_dir)
    store = _pipeline_store(spark)

    dens_schema = (
        CompactedTableSchemaBuilder("ts_density")
        .h3_base_resolutions([4, 6])
        .add_h3index_column()
        .add_aggregated_column("value_cents", "UInt64", "Sum")
        .build()
    )
    store.insert_h3dataframe_into_tableset(
        dens_schema,
        e.select(
            _synth_col("event_id", 6).alias("h3index"),
            _cents(F.col("value")).alias("value_cents"),
        ),
    )
    sev_schema = (
        CompactedTableSchemaBuilder("ts_severity")
        .h3_base_resolutions([4, 6])
        .add_h3index_column()
        .add_aggregated_column("severity", "UInt64", "Max")
        .build()
    )
    store.insert_h3dataframe_into_tableset(
        sev_schema,
        e.select(
            _synth_col("event_id", 6).alias("h3index"),
            (F.col("event_id") % 100).alias("severity"),
        ),
    )
    cells = sorted({h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(200)})
    dens = store.query_tableset_cells("ts_density", cells, 4).df
    sev = store.query_tableset_cells("ts_severity", cells, 4).df
    return dens.join(sev, "h3index").select(
        "h3index",
        "value_cents",
        "severity",
        (F.col("value_cents") * F.col("severity")).alias("weighted_cents"),
    )


def _q_pipeline_join_tablesets_sql() -> str:
    cell = sg.synth_cell("event_id", 6, DUCK)
    parents = sorted({h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(200)})
    plist = ", ".join(str(p) for p in parents)
    parent = sg.to_parent("h3index", 4, DUCK)
    return f"""
WITH syn AS (SELECT {cell} AS h3index,
                    CAST(round(value*100) AS BIGINT) AS value_cents,
                    event_id % 100 AS severity
             FROM events),
dens AS (SELECT {parent} AS h3index,
                CAST(SUM(value_cents) AS BIGINT) AS value_cents
         FROM syn WHERE {parent} IN ({plist}) GROUP BY 1),
sev AS (SELECT {parent} AS h3index,
               CAST(MAX(severity) AS BIGINT) AS severity
        FROM syn WHERE {parent} IN ({plist}) GROUP BY 1)
SELECT d.h3index, d.value_cents, s.severity,
       d.value_cents * s.severity AS weighted_cents
FROM dens d JOIN sev s USING (h3index)
"""


def q_pipeline_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1+Q2 with compaction: complete sibling groups compact on
    insert, the query at max res uncompacts them back — the roundtrip
    is the identity, which the oracle states directly."""
    from ukis_h3cellstore_spark import CompactedTableSchemaBuilder

    schema = (
        CompactedTableSchemaBuilder("entry_compact_rt")
        .h3_base_resolutions([6])
        .add_h3index_column()
        .add_column("val", "Int64")
        .build()
    )
    e = _events(spark, sf_dir).filter(F.col("event_id") < 3500)
    parent5 = F.expr(sg.synth_cell("(event_id div 7)", 5, SPARK_D))
    child6 = (
        parent5.bitwiseAND(F.lit(sg._RES_CLEAR_SIGNED))
        .bitwiseAND(F.lit(~h3c.trailing_sevens(5)))
        .bitwiseOR(F.lit(6 << 52))
        .bitwiseOR(F.shiftleft(F.col("event_id") % 7, 3 * (15 - 6)))
        .bitwiseOR(F.lit(h3c.trailing_sevens(6)))
    )
    df = e.select(
        child6.alias("h3index"),
        ((F.col("event_id") / 7).cast("long") % 100).alias("val"),
    ).distinct()
    store = _pipeline_store(spark)
    store.insert_h3dataframe_into_tableset(schema, df)
    cells = sorted(
        {
            _child6_py(i)
            for i in range(3500)
        }
    )
    out = store.query_tableset_cells("entry_compact_rt", cells, 6)
    return out.df.select("h3index", "val")


def _child6_py(event_id: int) -> int:
    p5 = _synth_py(event_id // 7, 5)
    return (
        (p5 & sg._RES_CLEAR_SIGNED & ~h3c.trailing_sevens(5))
        | (6 << 52)
        | ((event_id % 7) << (3 * (15 - 6)))
        | h3c.trailing_sevens(6)
    )


def _q_pipeline_compact_roundtrip_sql() -> str:
    parent5 = sg.synth_cell("(event_id // 7)", 5, DUCK)
    return f"""
SELECT DISTINCT
   (({parent5} & {sg._RES_CLEAR_SIGNED} & {~h3c.trailing_sevens(5)})
    | {6 << 52}
    | ((event_id % 7) << {3 * (15 - 6)})
    | {h3c.trailing_sevens(6)}) AS h3index,
   (event_id // 7) % 100 AS val
FROM events WHERE event_id < 3500
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (30-minute gap):
    one row per (user, session) with time bounds, event count, and
    value total — the batch twin of a streaming session window."""
    from ukis_h3cellstore_spark.ops import sessions as SS

    e = _events(spark, sf_dir).withColumn("value_cents", _cents(F.col("value")))
    return SS.session_stats(e, value_col="value_cents").withColumnRenamed(
        "sum_value", "sum_value_cents"
    )


Q_EVENTS_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(round(value*100) AS BIGINT) AS value_cents,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
),
numbered AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts_us) AS session_start, MAX(ts_us) AS session_end,
       COUNT(*) AS n_events,
       MAX(ts_us) - MIN(ts_us) AS duration_us,
       CAST(SUM(value_cents) AS BIGINT) AS sum_value_cents
FROM numbered GROUP BY 1, 2
"""


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery as a left-semi join
    (orders with ≥1 returned lineitem, counted per priority). The
    probe side reduces to distinct orderkeys before the join, so the
    exchange carries keys, not lineitem rows."""
    o = _t(spark, sf_dir, "orders")
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q_ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY 1
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped sum, joined back to the
    dimension rows, deterministic top-100. The heavy side aggregates
    BEFORE the join (keys only), and the final orderBy+limit plans as
    TakeOrderedAndProject."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            _cents(F.col("o_totalprice")).alias("o_totalprice_cents"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice_cents").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


Q_LARGE_ORDERS_SQL = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
)
SELECT c_name, c_custkey, o_orderkey,
       CAST(round(o_totalprice*100) AS BIGINT) AS o_totalprice_cents,
       total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice_cents DESC, o_orderkey ASC
LIMIT 100
"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: every click event annotated with the most
    recent prior-or-equal error event of the same user (ops/joins —
    one key shuffle + carry-forward window, no range/cross join).
    Oracle: DuckDB's native ASOF LEFT JOIN."""
    from ukis_h3cellstore_spark.ops import joins as J

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts_us", _cents(F.col("value")).alias("value_cents")
    )
    return J.asof_join(clicks, errors, on="user_id")


Q_EVENTS_ASOF_JOIN_SQL = """
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(round(value*100) AS BIGINT) AS value_cents
      FROM events WHERE event_type = 'error')
SELECT l.event_id, l.user_id, l.ts_us,
       r.ts_us AS asof_ts_us, r.value_cents AS asof_value_cents
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
"""


def q_events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: every error event annotated with the same
    user's NEXT click at-or-after it (ops/joins asof_join
    direction='forward'). Oracle: DuckDB ASOF LEFT JOIN with a <=
    inequality, which picks the nearest following row."""
    from ukis_h3cellstore_spark.ops import joins as J

    e = _events(spark, sf_dir)
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", _cents(F.col("value")).alias("value_cents")
    )
    return J.asof_join(errors, clicks, on="user_id", direction="forward")


Q_EVENTS_ASOF_FORWARD_SQL = """
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'error'),
r AS (SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(round(value*100) AS BIGINT) AS value_cents
      FROM events WHERE event_type = 'click')
SELECT l.event_id, l.user_id, l.ts_us,
       r.ts_us AS asof_ts_us, r.value_cents AS asof_value_cents
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us <= r.ts_us
"""


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup: 2-hour windows sliding by 1 hour via
    F.window(slideDuration) — every event lands in TWO overlapping
    windows (the overlap is what tumbling windows cannot express);
    per (type, window): count + integer-cent sum. Oracle replays the
    window membership as the two hour-floor starts."""
    e = _events(spark, sf_dir)
    w = F.window(
        F.timestamp_micros(F.col("ts_us")), "2 hours", "1 hour"
    )
    return (
        e.select(
            "event_type", w.alias("__w"), _cents(F.col("value")).alias("__c")
        )
        .groupBy("event_type", "__w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("__c").cast("long").alias("sum_cents"),
        )
        .select(
            "event_type",
            F.unix_micros(F.col("__w.start")).alias("window_start_us"),
            "n_events",
            "sum_cents",
        )
    )


Q_EVENTS_SLIDING_WINDOW_SQL = """
WITH x AS (
  SELECT event_type, epoch_us(ts) AS t,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
w AS (
  SELECT event_type,
         ((t // 3600000000) - kk.k) * 3600000000 AS ws, cents
  FROM x, (SELECT unnest([0, 1]) AS k) kk
)
SELECT event_type, CAST(ws AS BIGINT) AS window_start_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM w GROUP BY 1, 2
"""


def q_events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: every error event annotated with the same
    user's CLOSEST click on either side (ops/joins asof_join
    direction='nearest'; equidistant -> backward). One union-and-sort
    shuffle, two window carries. Oracle: backward + forward DuckDB
    ASOF joins merged with the same closest/tie rule."""
    from ukis_h3cellstore_spark.ops import joins as J

    e = _events(spark, sf_dir)
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", _cents(F.col("value")).alias("value_cents")
    )
    return J.asof_join(errors, clicks, on="user_id", direction="nearest")


Q_EVENTS_ASOF_NEAREST_SQL = """
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'error'),
r AS (SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(round(value*100) AS BIGINT) AS value_cents
      FROM events WHERE event_type = 'click'),
b AS (SELECT l.event_id, r.ts_us AS bts, r.value_cents AS bval
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts_us >= r.ts_us),
f AS (SELECT l.event_id, r.ts_us AS fts, r.value_cents AS fval
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts_us <= r.ts_us)
SELECT l.event_id, l.user_id, l.ts_us,
       CASE WHEN fts IS NULL
              OR (bts IS NOT NULL AND (l.ts_us - bts) <= (fts - l.ts_us))
            THEN bts ELSE fts END AS asof_ts_us,
       CASE WHEN fts IS NULL
              OR (bts IS NOT NULL AND (l.ts_us - bts) <= (fts - l.ts_us))
            THEN bval ELSE fval END AS asof_value_cents
FROM l JOIN b USING (event_id) JOIN f USING (event_id)
"""


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of the event value per type —
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    linear-interpolation definition, so integer-cent inputs agree
    bit-for-bit."""
    e = _events(spark, sf_dir).withColumn("value_cents", _cents(F.col("value")))
    return e.groupBy("event_type").agg(
        F.percentile(F.col("value_cents"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col("value_cents"), F.lit(0.9)).alias("p90"),
        F.percentile(F.col("value_cents"), F.lit(0.99)).alias("p99"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q_EVENTS_PERCENTILES_SQL = """
SELECT event_type,
       quantile_cont(CAST(round(value*100) AS BIGINT), 0.5) AS p50,
       quantile_cont(CAST(round(value*100) AS BIGINT), 0.9) AS p90,
       quantile_cont(CAST(round(value*100) AS BIGINT), 0.99) AS p99,
       COUNT(*) AS n_events
FROM events GROUP BY 1
"""


def q_events_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all 4 grouping-set combinations in
    one pass (map-side partial aggregation expands the sets before the
    single shuffle) — relational surface the reference's ClickHouse
    dialect lacks but Spark provides natively."""
    e = _events(spark, sf_dir)
    day = (F.col("ts_us") / (86_400 * 1_000_000)).cast("long")
    return (
        e.withColumn("day_id", day)
        .cube("event_type", "day_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
    )


Q_EVENTS_CUBE_SQL = """
SELECT event_type, (epoch_us(ts) // 86400000000) AS day_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY CUBE (1, 2)
"""


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nation-pair trade volume by ship year (TPC-H Q7
    shape): lineitem revenue where supplier and customer sit in the
    two named nations, either direction. Fact-side joins shuffle on
    the order key; both nation dims broadcast."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(
            _cents(F.col("l_extendedprice"))
            * (F.lit(100) - _cents(F.col("l_discount")))
        ).alias("revenue_c100")
    )


Q_NATION_TRADE_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c100
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One nation's supplier market share inside a region's orders by
    year (TPC-H Q8 shape): conditional-sum ratio over a 6-way join;
    all dims broadcast, facts shuffle once on the order key."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cr_key") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0)))
            .alias("nation_rev_c100"),
            F.sum(rev).alias("total_rev_c100"),
        )
        .withColumn(
            "mkt_share",
            F.round(F.col("nation_rev_c100") / F.col("total_rev_c100"), 9),
        )
    )


Q_MARKET_SHARE_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
            THEN CAST(round(l_extendedprice*100) AS BIGINT)
                 * (100 - CAST(round(l_discount*100) AS BIGINT))
            ELSE 0 END) AS BIGINT) AS nation_rev_c100,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
            * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
         AS total_rev_c100,
       round(SUM(CASE WHEN n2.n_name = 'NATION_3'
            THEN CAST(round(l_extendedprice*100) AS BIGINT)
                 * (100 - CAST(round(l_discount*100) AS BIGINT))
            ELSE 0 END)
            / CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                 * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE), 9)
         AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-item revenue in one quarter
    (TPC-H Q10 shape). The limit is tie-broken on c_custkey so the
    result set is deterministic."""
    lo = F.to_timestamp(F.lit("1996-01-01"))
    hi = F.to_timestamp(F.lit("1996-04-01"))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice"))
                * (F.lit(100) - _cents(F.col("l_discount")))
            ).alias("revenue_c100")
        )
        .orderBy(F.desc("revenue_c100"), F.col("c_custkey"))
        .limit(20)
    )


Q_RETURNED_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c100
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY 1, 2, 3
ORDER BY revenue_c100 DESC, c_custkey
LIMIT 20
"""


def q_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers within 5% of the quarter's maximum revenue (TPC-H
    Q15 shape — revenue view + scalar-max subquery). The one-row max
    broadcasts; no second scan of the fact table."""
    lo = F.to_timestamp(F.lit("1996-01-01"))
    hi = F.to_timestamp(F.lit("1996-04-01"))
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            _cents(F.col("l_extendedprice"))
            * (F.lit(100) - _cents(F.col("l_discount")))
        ).alias("total_revenue_c100")
    )
    mx = revenue.agg(F.max("total_revenue_c100").alias("__max_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(
            F.broadcast(mx),
            # explicit floor on BOTH sides (Spark cast truncates toward
            # zero, DuckDB's CAST rounds-to-nearest — floor matches)
            F.col("total_revenue_c100") >= F.floor(F.col("__max_rev") * 0.95),
        )
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_c100")
    )


Q_TOP_SUPPLIERS_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
             * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
           AS total_revenue_c100
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue_c100
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_c100 >=
      CAST(floor((SELECT MAX(total_revenue_c100) FROM revenue) * 0.95) AS BIGINT)
"""


def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive bracket predicate over a fact-dim join (TPC-H Q19
    shape): three (brand, size range, quantity range) brackets OR-ed
    together. The part dim broadcasts; the OR-of-ANDs stays a single
    codegen'd filter."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#2") & size.between(1, 15) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 25) & qty.between(10, 20))
        | ((brand == "Brand#15") & size.between(1, 50) & qty.between(20, 30))
    )
    return j.filter(cond).agg(
        F.sum(
            _cents(F.col("l_extendedprice"))
            * (F.lit(100) - _cents(F.col("l_discount")))
        ).alias("revenue_c100")
    )


Q_BRACKET_REVENUE_SQL = """
SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c100
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share in one quarter (TPC-H Q14 shape):
    conditional-sum ratio over a broadcast fact-dim join, exact cents
    integers under the ratio."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    return j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias(
            "promo_rev_c100"
        ),
        F.sum(rev).alias("total_rev_c100"),
    ).withColumn(
        "promo_share",
        F.round(F.col("promo_rev_c100") / F.col("total_rev_c100"), 9),
    )


Q_PROMO_SHARE_SQL = """
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
         THEN CAST(round(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(round(l_discount*100) AS BIGINT)) ELSE 0 END)
       AS BIGINT) AS promo_rev_c100,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
            * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
         AS total_rev_c100,
       round(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(round(l_extendedprice*100) AS BIGINT)
                  * (100 - CAST(round(l_discount*100) AS BIGINT)) ELSE 0 END)
             / CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                  * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE), 9)
         AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
"""


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size-bracket), excluding
    one brand (TPC-H Q16 shape, with lineitem standing in for the
    absent partsupp relation): count-distinct after a broadcast dim
    join, top-10 brackets with deterministic tie-break."""
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#2")
        .filter(F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.col("p_brand"), F.col("p_type"), F.col("p_size")
        )
        .limit(10)
    )


Q_SUPPLIER_PART_COUNTS_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#2'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 10
"""


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): left join
    customers to orders, count per customer (zeros kept), then the
    distribution of those counts. Two hash aggregations, one shuffle
    each; the distribution agg is tiny."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


Q_ORDER_COUNT_DIST_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): lineitems of
    one brand below 20% of the part's average quantity. The
    correlated average becomes a per-part aggregation joined back —
    one extra hash agg instead of a per-row subquery."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    branded = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    avg_qty = branded.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    small = branded.join(avg_qty, on="l_partkey").filter(
        F.col("l_quantity") < F.col("qty_threshold")
    )
    return small.agg(
        (F.sum(_cents(F.col("l_extendedprice"))) / 700.0).alias("avg_yearly_c")
    )


Q_SMALL_QTY_REVENUE_SQL = """
WITH branded AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
),
thresholds AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_threshold
  FROM branded GROUP BY 1
)
SELECT SUM(CAST(round(b.l_extendedprice*100) AS BIGINT)) / 700.0 AS avg_yearly_c
FROM branded b JOIN thresholds t ON b.l_partkey = t.l_partkey
WHERE b.l_quantity < t.qty_threshold
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average balance and no RECENT orders
    (TPC-H Q22 shape): scalar-average subquery as a one-row broadcast
    + an anti-join against the recent order set, rolled up per
    nation. (The synthetic data gives every customer at least one
    all-time order, so the anti-join is dated to keep the result
    non-degenerate.)"""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
        .select("o_custkey")
    )
    n = _t(spark, sf_dir, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("__avg_bal"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(n), idle.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_cents(F.col("c_acctbal"))).alias("totacctbal_cents"),
        )
    )


Q_IDLE_RICH_SQL = """
SELECT n_name, COUNT(*) AS numcust,
       CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
         AS totacctbal_cents
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via the bucketed range_join operator: every event
    inside each event type's opening 6-hour window, aggregated per
    window (ops/joins.range_join — equi-join on coarse time buckets +
    residual containment, never a cross join). Oracle: DuckDB's plain
    non-equi join."""
    from ukis_h3cellstore_spark.ops import joins as J

    e = _events(spark, sf_dir)
    six_h = 6 * 3_600 * 1_000_000
    ranges = e.groupBy(F.col("event_type").alias("range_type")).agg(
        F.min("ts_us").alias("start_us"),
        (F.min("ts_us") + six_h).alias("end_us"),
    )
    joined = J.range_join(
        e.select("event_id", "ts_us", _cents(F.col("value")).alias("value_cents")),
        ranges,
    )
    return joined.groupBy("range_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("sum_value_cents"),
    )


Q_EVENTS_RANGE_JOIN_SQL = """
WITH r AS (
  SELECT event_type AS range_type,
         MIN(epoch_us(ts)) AS start_us,
         MIN(epoch_us(ts)) + CAST(6*3600 AS BIGINT)*1000000 AS end_us
  FROM events GROUP BY 1
)
SELECT r.range_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(e.value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events e JOIN r
  ON epoch_us(e.ts) >= r.start_us AND epoch_us(e.ts) < r.end_us
GROUP BY 1
"""


def q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim join under the skew-salted strategy: events joined
    to a per-type rank dim on the (Zipf-ish) event_type key through
    ops/joins.salted_join — identical result set to the plain join,
    hot keys spread over salted reducers. The salt factor is no
    longer hardcoded: ops/report.suggest_skew_knobs maps the
    key_skew_report's top-share (~200‰ at both test SFs → 4 salts)
    to the num_salts knob — the report driving the operator it was
    built to parameterize. Salting never changes the result set, so
    the gate hash is salt-count-invariant. Oracle: the plain join."""
    from ukis_h3cellstore_spark.ops import joins as J
    from ukis_h3cellstore_spark.ops import report as R

    e = _events(spark, sf_dir)
    dim = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_total"))
        .withColumn(
            "type_rank",
            F.row_number().over(
                Window.orderBy(F.desc("type_total"), F.col("event_type"))
            ),
        )
    )
    knobs = R.suggest_skew_knobs(
        R.key_skew_report(e.select("event_type"), ["event_type"], top_n=1),
        max_share_milli=100,
    )
    joined = J.salted_join(
        e.select("event_id", "event_type", _cents(F.col("value")).alias("value_cents")),
        dim,
        on="event_type",
        num_salts=max(2, knobs["event_type"]["num_salts"]),
    )
    return joined.groupBy("event_type", "type_rank", "type_total").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("sum_value_cents"),
    )


Q_EVENTS_SALTED_JOIN_SQL = """
WITH dim AS (
  SELECT event_type, COUNT(*) AS type_total,
         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) AS INT)
           AS type_rank
  FROM events GROUP BY 1
)
SELECT e.event_type, d.type_rank, d.type_total,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(e.value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY 1, 2, 3
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: the props JSON column parsed with
    a typed from_json schema (JVM-side Jackson, no UDF), bucketed and
    aggregated — the schema-on-read path every event pipeline needs
    for its payload columns."""
    e = _events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        # floor, not truncate-toward-zero: DuckDB's // floors, so a
        # negative k must bucket downward on both sides
        e.withColumn("k_bucket", F.floor(k / 10).cast("long"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
    )


Q_EVENTS_JSON_SQL = """
SELECT CAST(json_extract(props, '$.k') AS INT) // 10 AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1
"""


def q_events_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (event_type, day): the hierarchical grouping-set
    variant (type totals and the grand total, but no day-only rows —
    the asymmetry that distinguishes ROLLUP from CUBE)."""
    e = _events(spark, sf_dir)
    day = (F.col("ts_us") / (86_400 * 1_000_000)).cast("long")
    return (
        e.withColumn("day_id", day)
        .rollup("event_type", "day_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
    )


Q_EVENTS_ROLLUP_SQL = """
SELECT event_type, (epoch_us(ts) // 86400000000) AS day_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY ROLLUP (1, 2)
"""


def q_events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per event type —
    Spark's groupBy().pivot() with an EXPLICIT value list, so the
    plan is a single pass of conditional aggregates (no
    distinct-values pre-query) and the output schema is stable."""
    e = _events(spark, sf_dir)
    day = (F.col("ts_us") / (86_400 * 1_000_000)).cast("long")
    return (
        e.withColumn("day_id", day)
        .groupBy("day_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


Q_EVENTS_PIVOT_SQL = """
SELECT (epoch_us(ts) // 86400000000) AS day_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events GROUP BY 1
"""


def q_events_unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pivoted daily counts melted back to long form via
    ``stack`` (Spark's UNPIVOT): pivot → unpivot round-trips to the
    plain group-by, which is exactly what the oracle computes.
    Zero-count combinations are dropped, matching the group-by."""
    wide = q_events_pivot_daily(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    stack_expr = "stack({n}, {args}) as (event_type, n_events)".format(
        n=len(types), args=", ".join(f"'{t}', {t}" for t in types)
    )
    return wide.select("day_id", F.expr(stack_expr)).filter(
        F.col("n_events") > 0
    )


Q_EVENTS_UNPIVOT_SQL = """
SELECT (epoch_us(ts) // 86400000000) AS day_id, event_type,
       COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_events_day_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations over daily activity: days with clicks AND
    purchases (INTERSECT), days with clicks but NO errors (EXCEPT),
    labeled and unioned. Distinct-set semantics, not join dedup."""
    e = _events(spark, sf_dir)
    day = (F.col("ts_us") / (86_400 * 1_000_000)).cast("long").alias("day_id")

    def days_of(t: str) -> DataFrame:
        return e.filter(F.col("event_type") == t).select(day).distinct()

    both = (
        days_of("click")
        .intersect(days_of("purchase"))
        .withColumn("label", F.lit("click_and_purchase"))
    )
    calm = (
        days_of("click")
        .exceptAll(days_of("error"))
        .withColumn("label", F.lit("click_no_error"))
    )
    return both.unionByName(calm).select("label", "day_id")


Q_EVENTS_DAY_SET_OPS_SQL = """
WITH d AS (SELECT DISTINCT event_type,
                  epoch_us(ts) // 86400000000 AS day_id FROM events)
SELECT 'click_and_purchase' AS label, day_id FROM
  (SELECT day_id FROM d WHERE event_type = 'click'
   INTERSECT SELECT day_id FROM d WHERE event_type = 'purchase')
UNION ALL
SELECT 'click_no_error', day_id FROM
  (SELECT day_id FROM d WHERE event_type = 'click'
   EXCEPT SELECT day_id FROM d WHERE event_type = 'error')
"""


def q_events_daily_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue: a RANGE-framed window
    over the day number (6 preceding .. current), so calendar gaps
    shrink the frame instead of sliding over row positions. One daily
    hash-agg then a single-partition window over ~hundreds of day
    rows — the window input is the aggregate, never the event
    stream."""
    day_us = 86_400 * 1_000_000
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        (F.col("ts_us") / day_us).cast("long").alias("day")
    ).agg(F.sum(_cents(F.col("value"))).alias("day_rev_cents"))
    w = Window.orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "day_rev_cents",
        F.round(F.avg("day_rev_cents").over(w), 6).alias("ma7_rev_cents"),
    )


Q_EVENTS_MOVING_AVG_SQL = """
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
           AS day_rev_cents
  FROM events GROUP BY 1
)
SELECT day, day_rev_cents,
       round(AVG(day_rev_cents) OVER (ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
         AS ma7_rev_cents
FROM daily
"""


def q_events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user (the upsert/compaction view of an event
    stream): one max_by aggregation keyed on the user — map-side
    combine, no window sort over the stream. Ties on the timestamp
    break on event_id, mirroring a ReplacingMergeTree version
    column."""
    e = _events(spark, sf_dir)
    pick = F.struct(F.col("ts_us"), F.col("event_id"))
    return e.groupBy("user_id").agg(
        F.max_by("event_id", pick).alias("event_id"),
        F.max("ts_us").alias("ts_us"),
        F.max_by("event_type", pick).alias("event_type"),
        F.max_by(_cents(F.col("value")), pick).alias("value_cents"),
    )


Q_EVENTS_LATEST_SQL = """
SELECT user_id, event_id, ts_us, event_type, value_cents
FROM (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
         CAST(round(value*100) AS BIGINT) AS value_cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (signup → view → purchase): per-step
    completion counts over users, each later step constrained to
    occur at-or-after the previous one. Sequential dependence means
    one aggregation per step (min-ts of qualifying events) with the
    previous step's timestamp joined back — three cheap user-keyed
    apply rounds, never a window over the whole stream."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts_us")
    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "view")
        .join(s1, on="user_id")
        .filter(F.col("ts_us") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, on="user_id")
        .filter(F.col("ts_us") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    counts = [
        s1.agg(F.count(F.lit(1)).alias("n_users")).withColumn(
            "step", F.lit("1_signup")
        ),
        s2.agg(F.count(F.lit(1)).alias("n_users")).withColumn(
            "step", F.lit("2_view")
        ),
        s3.agg(F.count(F.lit(1)).alias("n_users")).withColumn(
            "step", F.lit("3_purchase")
        ),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.select("step", "n_users")


Q_EVENTS_FUNNEL_SQL = """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
       WHERE event_type = 'signup' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(e.ts_us) AS t2
       FROM e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'view' AND e.ts_us >= s1.t1 GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(e.ts_us) AS t3
       FROM e JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts_us >= s2.t2 GROUP BY 1)
SELECT '1_signup' AS step, COUNT(*) AS n_users FROM s1
UNION ALL SELECT '2_view', COUNT(*) FROM s2
UNION ALL SELECT '3_purchase', COUNT(*) FROM s3
"""


def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted once per later active week: (cohort_week, week_offset,
    n_users). Two hash aggregations plus one shuffle join on user_id;
    each user contributes at most one row per (cohort, offset), so a
    plain count replaces count-distinct."""
    week_us = 7 * 86_400 * 1_000_000
    e = _events(spark, sf_dir).select(
        "user_id", (F.col("ts_us") / week_us).cast("long").alias("week")
    )
    activity = e.distinct()
    first = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(first, on="user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


Q_EVENTS_COHORT_SQL = """
WITH activity AS (
  SELECT DISTINCT user_id,
         epoch_us(ts) // (CAST(7*86400 AS BIGINT)*1000000) AS week
  FROM events
),
first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM activity GROUP BY 1
)
SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
       COUNT(*) AS n_users
FROM activity a JOIN first f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted to the driver schema (no l_shipmode /
    l_commitdate): shipments later than 60 days after the order date,
    classified per linestatus into high- vs low-priority order counts.
    One equi-join on orderkey + one hash aggregation; the conditional
    counts are map-side-combinable SUM(CASE WHEN)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


Q_LATE_SHIPMENT_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


def q_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape adapted (no partsupp → profit is discounted
    revenue): per supplier-nation and order-year profit over parts
    whose name contains 'red'. Join order chosen for scale: lineitem
    (the fact) is filtered by two BROADCAST dims (part names, supplier
    →nation) before the one orderkey shuffle join against orders —
    the only exchange that carries fact-table volume."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red")).select(
        "p_partkey"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_c100 = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit_c100).alias("profit_c100"))
    )


Q_PROFIT_NATION_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS profit_c100
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q_blocking_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape adapted (l_returnflag='R' stands in for the
    missing late-receipt predicate): suppliers that were the SOLE
    'R'-flag supplier in a multi-supplier finished order. The
    EXISTS/NOT-EXISTS pair is re-expressed Spark-first as ONE
    per-order aggregation (distinct-supplier counts) joined back to
    the candidate rows — two shuffles total instead of the literal
    double self-join of lineitem against itself."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    l = (
        _t(spark, sf_dir, "lineitem")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_supp_r"),
    )
    # one row per qualifying l1 LINEITEM (literal Q21 counts lineitems,
    # not distinct order-supplier pairs)
    cand = l.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    blocked = cand.join(
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_supp_r") == 1)),
        "l_orderkey",
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blocked.join(F.broadcast(s), blocked.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q_BLOCKING_SUPPLIERS_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1
"""


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted (no partsupp → the observed discounted
    price in lineitem is the supply cost): for each size-15 part, the
    supplier offering the minimum discounted price. Argmin is a
    per-part window with a TOTAL deterministic order (price, suppkey,
    orderkey, linenumber) so ties can't flip the hash; the size-15
    filter broadcasts, so the window partitions by a key the lineitem
    shuffle already produced."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15).select(
        "p_partkey", "p_name"
    )
    l = _t(spark, sf_dir, "lineitem")
    price_c100 = (
        _cents(F.col("l_extendedprice"))
        * (F.lit(100) - _cents(F.col("l_discount")))
    ).alias("price_c100")
    w = Window.partitionBy("l_partkey").orderBy(
        "price_c100", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    best = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select("l_partkey", "p_name", "l_suppkey", "l_orderkey", "l_linenumber", price_c100)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("price_c100").alias("best_price_c100"),
        )
    )


Q_CHEAPEST_SUPPLIER_SQL = """
WITH priced AS (
  SELECT l_partkey, p_name, l_suppkey,
         CAST(round(l_extendedprice*100) AS BIGINT)
         * (100 - CAST(round(l_discount*100) AS BIGINT)) AS price_c100,
         ROW_NUMBER() OVER (
           PARTITION BY l_partkey
           ORDER BY CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT)),
                    l_suppkey, l_orderkey, l_linenumber) AS rn
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = 15
)
SELECT l_partkey AS p_partkey, p_name, s_name, n_name AS nation,
       price_c100 AS best_price_c100
FROM priced
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE rn = 1
"""


def q_important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape adapted (no partsupp → observed lineitem
    revenue is the inventory value): supplier-nation revenue shares
    exceeding 1.05× the average supplier's (the literal Q11 fraction
    scales with 1/SF for exactly this reason — a fixed share is
    degenerate as supplier count grows, so the adapted predicate is
    average-relative and bites at every scale). The HAVING-against-a-
    scalar-subquery shape: the global (total, count) is a one-row
    aggregate joined back by broadcast — no second scan of the
    aggregated table; the per-supplier aggregation shuffles once."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev_c100 = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    per_supp = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_suppkey", "n_name")
        .agg(F.sum(rev_c100).alias("value_c100"))
    )
    total = per_supp.agg(
        F.sum("value_c100").alias("__total"),
        F.count(F.lit(1)).alias("__n_supp"),
    )
    # DECIMAL(38,0) on the comparison chain: value_c100 * n_supp * 100
    # overflows int64 around SF>=30 (Spark would wrap silently with
    # ANSI off while DuckDB raises) — decimal keeps both engines exact
    # and identical at every scale factor.
    return (
        per_supp.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_c100").cast("decimal(38,0)")
            * F.col("__n_supp")
            * 100
            > F.col("__total").cast("decimal(38,0)") * 105
        )
        .select(
            "s_suppkey", F.col("n_name").alias("nation"), "value_c100"
        )
    )


Q_IMPORTANT_SUPPLIERS_SQL = """
WITH per_supp AS (
  SELECT s_suppkey, n_name AS nation,
         CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
           AS value_c100
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT s_suppkey, nation, value_c100
FROM per_supp
WHERE CAST(value_c100 AS DECIMAL(38,0))
        * (SELECT COUNT(*) FROM per_supp) * 100
      > (SELECT CAST(SUM(value_c100) AS DECIMAL(38,0)) FROM per_supp) * 105
"""


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape adapted (no partsupp availability → shipped
    quantity share stands in for excess stock): suppliers that
    shipped MORE THAN 1.5× the average per-supplier quantity of some
    size-15 part (average-relative, like the Q11 adaptation, so the
    predicate bites at every SF) — the nested quantity-threshold
    semi-join shape. Per-(part, supplier) and per-part totals are two
    aggregations over one broadcast-filtered scan; the qualifying
    supplier set semi-joins the supplier dim."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15).select("p_partkey")
    l = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    )
    per_ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("supp_qty")
    )
    per_part = per_ps.groupBy("l_partkey").agg(
        F.sum("supp_qty").alias("part_qty"),
        F.count(F.lit(1)).alias("n_supp"),
    )
    qual = (
        per_ps.join(per_part, "l_partkey")
        .filter(F.col("supp_qty") * F.col("n_supp") * 2 > F.col("part_qty") * 3)
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


Q_DOMINANT_SUPPLIERS_SQL = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = 15
  GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, CAST(SUM(supp_qty) AS BIGINT) AS part_qty,
         COUNT(*) AS n_supp
  FROM per_ps GROUP BY 1
)
SELECT s_suppkey, s_name
FROM supplier
WHERE EXISTS (
  SELECT 1 FROM per_ps ps JOIN per_part pp USING (l_partkey)
  WHERE ps.l_suppkey = s_suppkey
    AND ps.supp_qty * pp.n_supp * 2 > pp.part_qty * 3
)
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q1_pricing_summary": q_pricing_summary,
    "q3_shipping_priority": q_shipping_priority,
    "q5_region_nation_revenue": q_region_nation_revenue,
    "q6_forecast_revenue": q_forecast_revenue,
    "q4_order_priority": q_order_priority,
    "q18_large_orders": q_large_orders,
    "q7_nation_trade_volume": q_nation_trade_volume,
    "q8_market_share": q_market_share,
    "q10_returned_customers": q_returned_customers,
    "q15_top_suppliers": q_top_suppliers,
    "q19_bracket_revenue": q_bracket_revenue,
    "q13_order_count_distribution": q_order_count_distribution,
    "q14_promo_revenue_share": q_promo_revenue_share,
    "q16_supplier_part_counts": q_supplier_part_counts,
    "q17_small_quantity_revenue": q_small_quantity_revenue,
    "q22_idle_rich_customers": q_idle_rich_customers,
    "q12_late_shipment_priority": q_late_shipment_priority,
    "q9_profit_by_nation_year": q_profit_by_nation_year,
    "q21_blocking_suppliers": q_blocking_suppliers,
    "q2_cheapest_supplier": q_cheapest_supplier,
    "q11_important_suppliers": q_important_suppliers,
    "q20_dominant_suppliers": q_dominant_suppliers,
    "events_hourly_window": q_events_hourly,
    "events_sessionize": q_events_sessionize,
    "events_asof_join": q_events_asof_join,
    "events_asof_forward": q_events_asof_forward,
    "events_asof_nearest": q_events_asof_nearest,
    "events_sliding_window": q_events_sliding_window,
    "events_percentiles": q_events_percentiles,
    "events_cube_counts": q_events_cube_counts,
    "events_range_join": q_events_range_join,
    "events_salted_join": q_events_salted_join,
    "events_cohort_retention": q_events_cohort_retention,
    "events_funnel": q_events_funnel,
    "events_daily_moving_avg": q_events_daily_moving_avg,
    "events_latest_per_user": q_events_latest_per_user,
    "events_rollup_counts": q_events_rollup_counts,
    "events_pivot_daily": q_events_pivot_daily,
    "events_unpivot_daily": q_events_unpivot_daily,
    "events_day_set_ops": q_events_day_set_ops,
    "events_json_props": q_events_json_props,
    "h3_synth_fields": q_h3_synth_fields,
    "h3_parent_agg_sum": q_h3_parent_agg_sum,
    "h3_minmax_avg": q_h3_minmax_avg,
    "h3_setnull_on_conflict": q_h3_setnull_on_conflict,
    "h3_relative_cell_area": q_h3_relative_cell_area,
    "h3_children_explode": q_h3_children_explode,
    "h3_compact": q_h3_compact,
    "h3_cell_membership": q_h3_cell_membership,
    "h3_hierarchy_semijoin": q_h3_hierarchy_semijoin,
    "resolution_split_counts": q_resolution_split_counts,
    "pipeline_sum_rollup": q_pipeline_sum_rollup,
    "pipeline_query_cells_df": q_pipeline_query_cells_df,
    "pipeline_join_tablesets": q_pipeline_join_tablesets,
    "pipeline_compact_roundtrip": q_pipeline_compact_roundtrip,
}

ORACLES: dict[str, str] = {
    "q1_pricing_summary": Q_PRICING_SUMMARY_SQL,
    "q3_shipping_priority": Q_SHIPPING_PRIORITY_SQL,
    "q5_region_nation_revenue": Q_REGION_NATION_REVENUE_SQL,
    "q6_forecast_revenue": Q_FORECAST_REVENUE_SQL,
    "q4_order_priority": Q_ORDER_PRIORITY_SQL,
    "q18_large_orders": Q_LARGE_ORDERS_SQL,
    "q7_nation_trade_volume": Q_NATION_TRADE_SQL,
    "q8_market_share": Q_MARKET_SHARE_SQL,
    "q10_returned_customers": Q_RETURNED_CUSTOMERS_SQL,
    "q15_top_suppliers": Q_TOP_SUPPLIERS_SQL,
    "q19_bracket_revenue": Q_BRACKET_REVENUE_SQL,
    "q13_order_count_distribution": Q_ORDER_COUNT_DIST_SQL,
    "q14_promo_revenue_share": Q_PROMO_SHARE_SQL,
    "q16_supplier_part_counts": Q_SUPPLIER_PART_COUNTS_SQL,
    "q17_small_quantity_revenue": Q_SMALL_QTY_REVENUE_SQL,
    "q22_idle_rich_customers": Q_IDLE_RICH_SQL,
    "q12_late_shipment_priority": Q_LATE_SHIPMENT_SQL,
    "q9_profit_by_nation_year": Q_PROFIT_NATION_SQL,
    "q21_blocking_suppliers": Q_BLOCKING_SUPPLIERS_SQL,
    "q2_cheapest_supplier": Q_CHEAPEST_SUPPLIER_SQL,
    "q11_important_suppliers": Q_IMPORTANT_SUPPLIERS_SQL,
    "q20_dominant_suppliers": Q_DOMINANT_SUPPLIERS_SQL,
    "events_hourly_window": Q_EVENTS_HOURLY_SQL,
    "events_sessionize": Q_EVENTS_SESSIONIZE_SQL,
    "events_asof_join": Q_EVENTS_ASOF_JOIN_SQL,
    "events_asof_forward": Q_EVENTS_ASOF_FORWARD_SQL,
    "events_asof_nearest": Q_EVENTS_ASOF_NEAREST_SQL,
    "events_sliding_window": Q_EVENTS_SLIDING_WINDOW_SQL,
    "events_percentiles": Q_EVENTS_PERCENTILES_SQL,
    "events_cube_counts": Q_EVENTS_CUBE_SQL,
    "events_range_join": Q_EVENTS_RANGE_JOIN_SQL,
    "events_salted_join": Q_EVENTS_SALTED_JOIN_SQL,
    "events_cohort_retention": Q_EVENTS_COHORT_SQL,
    "events_funnel": Q_EVENTS_FUNNEL_SQL,
    "events_daily_moving_avg": Q_EVENTS_MOVING_AVG_SQL,
    "events_latest_per_user": Q_EVENTS_LATEST_SQL,
    "events_rollup_counts": Q_EVENTS_ROLLUP_SQL,
    "events_pivot_daily": Q_EVENTS_PIVOT_SQL,
    "events_unpivot_daily": Q_EVENTS_UNPIVOT_SQL,
    "events_day_set_ops": Q_EVENTS_DAY_SET_OPS_SQL,
    "events_json_props": Q_EVENTS_JSON_SQL,
    "h3_synth_fields": _q_h3_synth_fields_sql(),
    "h3_parent_agg_sum": _q_h3_parent_agg_sum_sql(),
    "h3_minmax_avg": _q_h3_minmax_avg_sql(),
    "h3_setnull_on_conflict": _q_h3_setnull_sql(),
    "h3_relative_cell_area": _q_h3_relative_cell_area_sql(),
    "h3_children_explode": _q_h3_children_explode_sql(),
    "h3_compact": _q_h3_compact_sql(),
    "h3_cell_membership": _q_h3_cell_membership_sql(),
    "h3_hierarchy_semijoin": _q_h3_hierarchy_semijoin_sql(),
    "resolution_split_counts": Q_RESOLUTION_SPLIT_SQL,
    "pipeline_sum_rollup": _q_pipeline_sum_rollup_sql(),
    "pipeline_query_cells_df": _q_pipeline_query_cells_df_sql(),
    "pipeline_join_tablesets": _q_pipeline_join_tablesets_sql(),
    "pipeline_compact_roundtrip": _q_pipeline_compact_roundtrip_sql(),
}
