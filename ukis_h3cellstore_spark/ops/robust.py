"""Robust per-group statistics: exact grouped median / MAD outliers.

Exact medians are a selection problem, and Spark's own exact
``percentile`` aggregate buffers every group value in ONE aggregation
buffer — a scale-killer when a group is a double-digit share of a
100 TB corpus. The distributed answer reuses the range-partition +
broadcast-offset machinery of :mod:`ukis_h3cellstore_spark.ops.prefix`,
generalized to groups:

1. **range partition** on ``(group, value)`` — each group occupies a
   contiguous RUN of partitions (groups far larger than a partition
   simply span several), so no single task ever holds a whole group;
2. **within-partition ranks** per ``(partition, group)`` — parallel;
3. **(partition, group) counts** collect to the driver — at most
   ``num_partitions + n_groups`` rows by contiguity, metadata-sized —
   and prefix-sum into per-(partition, group) rank offsets;
4. the group's k-th smallest values (the median straddle) are then
   two broadcast-joined rank lookups, never a group-wide sort on one
   task.

The median is the mean of the lower/upper middle ranks (equals
``quantile_cont(0.5)``); MAD runs the same machinery once more over
``|x - median|``. Everything stays in whole-stage codegen except the
metadata collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "grouped_rank",
    "range_tiebreaker",
    "grouped_median",
    "mad_outliers",
    "grouped_cumsum",
    "ks_vs_rest",
    "cusum_changepoint",
    "spearman_milli",
    "gini_by_group",
    "w1_vs_rest",
    "grouped_auc",
    "winsorize_by_group",
    "calibration_bins",
    "quantile_transform",
]


def range_tiebreaker(df: DataFrame, range_tiebreak=None) -> Column:
    """The deterministic high-cardinality column appended to every
    ``repartitionByRange`` key list in this module. Range partitioning
    can NEVER split EQUAL keys across partitions, so a dominant
    repeated (group, value) — e.g. 30 % of an event column being
    exactly 0 — would land its whole tie-run on one task at 100×.
    Appending a near-unique trailing key lets the range sampler cut
    inside tie-runs; ranks/cumsums are unaffected because the window
    functions still order by the caller's keys only (equal order keys
    already have engine-arbitrary relative rank, and every caller in
    this package is tie-order independent or passes its own unique
    tiebreak in ``order_cols``).

    Callers with a natural row id should pass it (the
    ``range_tiebreak`` argument is the documented escape hatch — use
    it on frames dominated by byte-identical rows, where ANY
    content hash collides by construction). The default is
    ``xxhash64`` over 16 columns chosen NARROWEST-FIRST (fixed-width
    primitives, then strings, then binary/nested) — bounded cost on
    arbitrarily wide tables without paying full-row hashing of wide
    text/array columns when cheap discriminating primitives exist —
    while remaining a pure function of row content, so a retried map
    task recomputes the SAME partition assignment.
    ``monotonically_increasing_id()`` (the brief round-9 default) is
    NOT retry-stable: under shuffle-fetch-failure recovery a re-run
    map task mints different ids, so tie rows can migrate between
    range partitions across attempts and downstream stages that
    already fetched the old attempt's output can observe duplicated or
    dropped rows. Determinism caveat: the tiebreak only steers WHERE
    the range sampler may cut, never any rank/cumsum value (window
    functions order by the caller's keys alone, and every caller is
    tie-order independent or passes its own unique tiebreak in
    ``order_cols``) — property verified by tools/determinism_check.py
    across partition layouts. If the first 16 columns are constant
    inside a dominant tie-run (hash collisions by construction), pass
    a discriminating column explicitly."""
    if range_tiebreak is not None:
        return (
            F.col(range_tiebreak)
            if isinstance(range_tiebreak, str)
            else range_tiebreak
        )

    def hashable(dt) -> bool:
        # xxhash64 rejects MapType anywhere in the input type tree
        from pyspark.sql import types as T

        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return hashable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(hashable(f.dataType) for f in dt.fields)
        return True

    def width_class(dt) -> int:
        # narrow fixed-width primitives hash cheapest and discriminate
        # as well as anything; wide text/array columns are last resort
        from pyspark.sql import types as T

        if isinstance(
            dt,
            (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
                T.DateType, T.TimestampType, T.TimestampNTZType,
            ),
        ):
            return 0
        if isinstance(dt, T.StringType):
            return 1
        return 2  # binary / array / struct

    # backtick-quoted references keep dotted column names literal; the
    # hashable filter keeps map-bearing frames working — they hash
    # whatever non-map columns exist instead of raising at plan time.
    # Stable sort: narrowest class first, schema order within a class.
    fields = sorted(
        (f for f in df.schema.fields if hashable(f.dataType)),
        key=lambda f: width_class(f.dataType),
    )
    cols = [
        F.col("`" + f.name.replace("`", "``") + "`") for f in fields[:16]
    ]
    if not cols:
        return F.lit(0)  # nothing hashable: no splitting, but no crash
    return F.xxhash64(*cols)


def _blocks_by_group(rows: list, group_col: str) -> list:
    """The per-(partition, group) rows of an offsets collect as
    ``(group, rows)`` pairs, each group's rows in partition-id order.
    Group keys are never compared (a NULL key next to a string one
    does not order), and every NaN key lands in one group, as in a
    Spark ``groupBy``."""
    nan_key = object()
    groups: dict = {}
    for r in sorted(rows, key=lambda r: int(r["__pid"])):
        g = r[group_col]
        key = nan_key if isinstance(g, float) and g != g else g
        groups.setdefault(key, (g, []))[1].append(r)
    return list(groups.values())


def grouped_rank(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    out_col: str = "rank",
    num_partitions: int | None = None,
    range_tiebreak=None,
) -> DataFrame:
    """Append the 1-based rank of each row WITHIN its group under
    ``order_cols`` — without partitioning the window by the group key
    (which would funnel every group through one task). Range-partition
    on ``(group, *order_cols, tiebreak)``, rank within
    ``(partition, group)``, and add broadcast per-(partition, group)
    offsets. The offsets collect is ≤ ``num_partitions + n_groups``
    rows (each partition holds a contiguous key range, so it straddles
    at most one group boundary more than it contains whole groups).
    The trailing :func:`range_tiebreaker` key splits EQUAL
    (group, order) tie-runs across partitions — without it a dominant
    repeated value is an unsplittable one-task straggler at scale."""
    gcol = F.col(group_col)
    ncols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    keys = [gcol, *ncols, range_tiebreaker(df, range_tiebreak)]
    if num_partitions is None:
        rp = df.repartitionByRange(*keys)
    else:
        rp = df.repartitionByRange(num_partitions, *keys)
    # WINDOWLESS within-partition rank (r15): the old
    # ``Window.partitionBy("__pid", group)`` forced a SECOND full-data
    # Exchange (hashpartitioning on the materialized partition id) that
    # Catalyst cannot prove redundant with the range exchange. Instead:
    # sort within the range partitions by (group, order) so each
    # (partition, group) block is contiguous and ordered, then let
    # ``monotonically_increasing_id()`` stamp (pid << 33 | position)
    # MAP-SIDE. rank-within-block = mid − min(mid of the block) + 1,
    # and the per-(pid, group) min rides the same metadata-sized
    # offsets collect as before — one full-data exchange total.
    # (Bound: a partition must stay under 2^33 rows for the id split —
    # a per-partition size no sane layout approaches.)
    staged = rp.sortWithinPartitions(gcol, *ncols).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    within = staged.withColumn(
        "__pid", F.shiftrightunsigned("__mid", 33).cast("int")
    ).localCheckpoint(eager=False)
    counts = (
        within.groupBy("__pid", group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("__mid").alias("__m0"),
        )
        .collect()
    )
    # exclusive prefix over pids within each group -> rank offsets,
    # folded with the block-start id into ONE long per (pid, group):
    # rank = __base + __mid  where  __base = offset − m0 + 1
    offsets = []
    for g, blocks in _blocks_by_group(counts, group_col):
        acc = 0
        for r in blocks:
            offsets.append((int(r["__pid"]), g, acc - int(r["__m0"]) + 1))
            acc += int(r["__n"])
    spark = df.sparkSession
    g_type = dict(df.dtypes)[group_col]
    schema = f"__pid int, {group_col} {g_type}, __base long"
    off_df = spark.createDataFrame(offsets, schema)
    # every (pid, group) present in the data appears in the collect, so
    # the null-safe equality join cannot miss (including NULL groups,
    # which the old EqualTo join silently failed to offset)
    cond = within["__pid"] == off_df["__pid"]
    cond = cond & within[group_col].eqNullSafe(off_df[group_col])
    return (
        within.join(F.broadcast(off_df), cond, how="left")
        .drop(off_df["__pid"])
        .drop(off_df[group_col])
        .withColumn(
            out_col,
            (F.coalesce(F.col("__base"), F.lit(1)) + F.col("__mid")).cast(
                "long"
            ),
        )
        .drop("__pid", "__mid", "__base")
    )


def grouped_median(
    df: DataFrame,
    group_col: str,
    value_col: str | Column,
    out_col: str = "median",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT per-group median: (group, n, median), where median is the
    mean of the lower/upper middle order statistics (``(a + b) / 2`` —
    identical to ``quantile_cont(0.5)`` and reproducible bit-for-bit
    by any engine that selects the same two ranks). NULL values are
    excluded (SQL aggregate semantics); empty groups yield no row."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    src = df.select(F.col(group_col), value.alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    ranked = grouped_rank(
        src, group_col, ["__v"], out_col="__rank", num_partitions=num_partitions
    )
    targets = (
        ranked.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumns(
            {
                "__lo": ((F.col("n") + 1) / 2).cast("long"),
                "__hi": ((F.col("n") + 2) / 2).cast("long"),
            }
        )
    )
    return (
        ranked.join(F.broadcast(targets), on=group_col)
        .filter(
            (F.col("__rank") == F.col("__lo"))
            | (F.col("__rank") == F.col("__hi"))
        )
        .groupBy(group_col, "n")
        .agg((F.sum("__v") / F.count(F.lit(1))).alias(out_col))
        .select(group_col, "n", out_col)
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Robust per-group outlier flags: median / MAD (median absolute
    deviation) per group, then ``is_outlier = |x - median| > k * MAD``
    — the Iglewicz–Hoaglin robust z-score family (k = 3.5 on the raw
    MAD ratio is the classic screen; multiply by 0.6745 yourself if
    you want the normal-consistent modified z). Unlike mean/stddev
    screens, a contaminated tail cannot drag the threshold.

    Returns the input rows plus (median, mad, abs_dev, is_outlier).
    Two passes of :func:`grouped_median` (values, then deviations) —
    each pass range-partitions and never sorts a group on one task;
    the medians table is groups-sized and broadcast back."""
    med = grouped_median(
        df, group_col, value_col, out_col="median", num_partitions=num_partitions
    ).select(group_col, "median")
    with_med = df.join(F.broadcast(med), on=group_col, how="inner")
    dev = F.abs(F.col(value_col) - F.col("median"))
    mad = grouped_median(
        with_med.select(F.col(group_col), dev.alias("__dev")),
        group_col,
        "__dev",
        out_col="mad",
        num_partitions=num_partitions,
    ).select(group_col, "mad")
    return (
        with_med.join(F.broadcast(mad), on=group_col, how="inner")
        .withColumn("abs_dev", dev)
        .withColumn(
            "is_outlier", F.col("abs_dev") > F.lit(float(k)) * F.col("mad")
        )
    )


def grouped_cumsum(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    value_col: str | Column,
    out_col: str = "cum_sum",
    num_partitions: int | None = None,
    range_tiebreak=None,
) -> DataFrame:
    """Per-group running total of ``value_col`` under ``order_cols``
    WITHOUT partitioning a window by the bare group key (which funnels
    every group through one task): the grouped twin of
    :func:`~ukis_h3cellstore_spark.ops.prefix.global_cumsum`. Range
    partition on ``(group, *order_cols, tiebreak)`` (trailing
    :func:`range_tiebreaker` splits equal-key tie-runs — pass unique
    ``order_cols`` if per-row cumsums under ties must be reproducible),
    within-(partition, group) running totals, broadcast
    per-(partition, group) sum offsets (collect is ≤ partitions +
    groups rows by range contiguity). Integer value types stay
    integer-exact."""
    gcol = F.col(group_col)
    ncols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    keys = [gcol, *ncols, range_tiebreaker(df, range_tiebreak)]
    if num_partitions is None:
        rp = df.repartitionByRange(*keys)
    else:
        rp = df.repartitionByRange(num_partitions, *keys)
    staged = rp.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__v", value
    )
    w = (
        Window.partitionBy("__pid", group_col)
        .orderBy(*ncols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = staged.withColumn("__within", F.sum("__v").over(w)).localCheckpoint(
        eager=False
    )
    totals_df = within.groupBy("__pid", group_col).agg(
        F.sum("__v").alias("__total")
    )
    sum_type = dict(totals_df.dtypes)["__total"]
    if sum_type in ("double", "float"):
        cast = float
    elif sum_type.startswith("decimal"):
        from decimal import Decimal

        cast = Decimal
    elif sum_type in ("bigint", "int", "smallint", "tinyint"):
        cast = int
    else:
        raise TypeError(
            f"grouped_cumsum: unsupported sum type {sum_type!r}"
        )
    counts = totals_df.collect()
    offsets = []
    for g, blocks in _blocks_by_group(counts, group_col):
        acc = cast(0)
        for r in blocks:
            offsets.append((int(r["__pid"]), g, acc))
            acc += cast(r["__total"] or 0)
    spark = df.sparkSession
    g_type = dict(df.dtypes)[group_col]
    off_df = spark.createDataFrame(
        offsets, f"__pid int, {group_col} {g_type}, __offset {sum_type}"
    )
    zero = F.lit(0).cast(sum_type)
    # null-safe on the group key, so a NULL group's later partitions
    # get their offsets too
    cond = within["__pid"] == off_df["__pid"]
    cond = cond & within[group_col].eqNullSafe(off_df[group_col])
    return (
        within.join(F.broadcast(off_df), cond, how="left")
        .drop(off_df["__pid"])
        .drop(off_df[group_col])
        .withColumn(
            out_col, F.coalesce(F.col("__offset"), zero) + F.col("__within")
        )
        .drop("__pid", "__v", "__within", "__offset")
    )


def grouped_auc(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
    tiebreak_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group ROC-AUC by the rank-sum (Mann-Whitney) identity with
    ranks from :func:`grouped_rank` — the per-segment twin of
    ``ops.prefix.binary_auc``, e.g. "does the quality score separate
    good from junk in EVERY language, not just on average" (per-slice
    AUC is the standard fairness/robustness report for curation
    classifiers). Returns (group, n_pos, n_neg, auc_micro) where
    ``auc_micro = (10^6 · (2·Σrank(pos) − P·(P+1))) div (2·P·N)`` —
    an exact integer, so engines agree bit-for-bit; groups lacking
    both classes yield NULL auc_micro.

    Ranks are row_numbers under (score, *tiebreak_cols) within the
    group — deterministic tie handling (give a unique tiebreak), no
    group-wide one-task sort anywhere."""
    order = [score_col] + list(tiebreak_cols or [])
    ranked = grouped_rank(
        df.select(
            F.col(group_col),
            F.col(score_col),
            F.col(label_col).cast("boolean").alias("__pos"),
            *[F.col(c) for c in (tiebreak_cols or [])],
        ),
        group_col,
        order,
        out_col="__r",
        num_partitions=num_partitions,
    )
    agg = ranked.groupBy(group_col).agg(
        F.sum(F.when(F.col("__pos"), F.col("__r")).otherwise(F.lit(0))).alias(
            "__rs"
        ),
        F.sum(F.col("__pos").cast("long")).alias("n_pos"),
        F.sum((~F.col("__pos")).cast("long")).alias("n_neg"),
    )
    auc_micro = F.expr(
        "CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
        "(1000000 * (2 * __rs - n_pos * (n_pos + 1))) div (2 * n_pos * n_neg) "
        "ELSE NULL END"
    ).cast("long")
    return agg.select(
        group_col, "n_pos", "n_neg", auc_micro.alias("auc_micro")
    )


def winsorize_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group winsorization: clamp ``value_col`` to the group's
    [``lower``, ``upper``] percentile cutoffs — the standard
    tail-taming transform before means/regressions when you want to
    bound influence rather than drop rows (contrast
    :func:`mad_outliers`, which flags). Returns the input rows plus
    (lo_cut, hi_cut, value_w, clamped_lo, clamped_hi).

    Scale shape: cutoffs come from the partial-aggregating
    interpolating ``percentile`` (one small shuffled agg, groups-sized
    result, matching DuckDB's ``quantile_cont``) and are broadcast
    back; the clamp is a map-side projection. Same plan discipline as
    ``ops.text.length_percentile_cutoffs``."""
    if not 0 <= lower < upper <= 1:
        raise ValueError("need 0 <= lower < upper <= 1")
    pct = F.percentile(F.col(value_col), F.array(F.lit(lower), F.lit(upper)))
    cuts = df.groupBy(group_col).agg(
        pct[0].alias("lo_cut"), pct[1].alias("hi_cut")
    )
    v = F.col(value_col)
    return (
        df.join(F.broadcast(cuts), on=group_col)
        .withColumn(
            "value_w", F.least(F.greatest(v, F.col("lo_cut")), F.col("hi_cut"))
        )
        .withColumn("clamped_lo", v < F.col("lo_cut"))
        .withColumn("clamped_hi", v > F.col("hi_cut"))
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    score_min: float = 0.0,
    score_max: float = 1.0,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier: split
    [score_min, score_max] into ``n_bins`` fixed-width bins and report
    per bin (bin_no, n, n_pos, mean_score, pos_rate) — the standard
    calibration eval for quality/toxicity classifiers before their
    scores gate a corpus. Fixed-width binning (not quantile) keeps the
    bin id a pure integer projection; one hash-agg, map-side
    combinable. Scores outside the range clamp into the end bins."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    span = float(score_max) - float(score_min)
    if span <= 0:
        raise ValueError("score_max must exceed score_min")
    raw = F.floor(
        (F.col(score_col) - F.lit(float(score_min))) / F.lit(span) * n_bins
    ).cast("int")
    bin_no = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.select(
            bin_no.alias("bin_no"),
            F.col(score_col).alias("__s"),
            F.col(label_col).cast("long").alias("__y"),
        )
        .groupBy("bin_no")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("n_pos"),
            F.round(F.avg("__s"), 4).alias("mean_score"),
            F.round(F.avg("__y"), 4).alias("pos_rate"),
        )
    )


def quantile_transform(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_cols: list[str] | None = None,
    out_col: str = "q_milli",
    num_partitions: int | None = None,
) -> DataFrame:
    """Within-group quantile (rank) normalization: map each value to
    its empirical quantile ``(1000·rank) div (n+1)`` in its group —
    the distribution-free score calibration that makes thresholds
    comparable ACROSS groups (a p90 is a p90 in every language/source,
    which per-group z-scores only give under normality). Integer milli
    output, engine-exact. Ranks are row_numbers under
    (value, *tiebreak_cols) — pass a unique tiebreak for reproducible
    handling of duplicate values (same contract as
    :func:`grouped_auc`). Built on the range-partition
    :func:`grouped_rank`; group sizes are a groups-sized broadcast."""
    order = [value_col] + list(tiebreak_cols or [])
    ranked = grouped_rank(
        df, group_col, order, out_col="__qrk", num_partitions=num_partitions
    )
    sizes = ranked.groupBy(group_col).agg(F.count(F.lit(1)).alias("__qn"))
    return (
        ranked.join(F.broadcast(sizes), on=group_col)
        .withColumn(
            out_col,
            F.expr("(1000 * __qrk) div (__qn + 1)").cast("long"),
        )
        .drop("__qrk", "__qn")
    )


def ks_vs_rest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 1_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov drift statistic: for
    each group g, ``D_g = sup_x |F_g(x) - F(x)|`` between the group's
    ECDF of ``value_col`` and the POOLED ECDF — the standard
    "did this source/segment drift away from the corpus" audit.

    Exactness: both ECDFs are step functions jumping only at pooled
    sample points, so the sup is attained on the distinct-value grid
    and the whole statistic reduces to INTEGER arithmetic on
    cumulative counts: ``D_g = max_v |Cg(v)·N - C(v)·n_g| / (n_g·N)``.
    The returned ``ks_scaled = (scale · max_v numerator) div (n_g·N)``
    is engine-exact (decimal cross-products + integral division; no
    float ever enters).

    Scale shape: one data-sized shuffle (the (value, group) count),
    then a distinct-values frame |V| and an evaluation grid |V|·|G|
    (linear for the bounded group cardinalities this audits). Both
    cumulatives use the range-partition + broadcast-offset machinery
    (:func:`~ukis_h3cellstore_spark.ops.prefix.global_cumsum` for the
    pooled curve, :func:`grouped_cumsum` for the per-group curves) —
    no one-task global window anywhere. Decimal(38) products cap the
    exact range at n_g·N·scale < 1e38 (far beyond 100 TB row counts).
    """
    from ukis_h3cellstore_spark.ops.prefix import global_cumsum

    # NULL groups must go too: a NULL group key survives the groupBy
    # but never equi-joins back to the evaluation grid, so its
    # per-group cumulative would read 0 against a real n_group.
    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(group_col, value_col)
    cnt = vals.groupBy(value_col, group_col).agg(F.count(F.lit(1)).alias("__c"))
    per_val = cnt.groupBy(value_col).agg(F.sum("__c").alias("__cv"))
    pooled = global_cumsum(
        per_val, [value_col], "__cv", out_col="__cpool",
        num_partitions=num_partitions,
    ).drop("__cv")
    groups = cnt.groupBy(group_col).agg(F.sum("__c").alias("n_group"))
    grid = (
        pooled.crossJoin(F.broadcast(groups.select(group_col)))
        .join(cnt, on=[value_col, group_col], how="left")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
    )
    gcum = grouped_cumsum(
        grid, group_col, [value_col], "__c", out_col="__Cg",
        num_partitions=num_partitions,
    )
    total = groups.agg(F.sum("n_group").alias("__N"))
    dec = "decimal(18,0)"
    num = F.abs(
        F.col("__Cg").cast(dec) * F.col("__N").cast(dec)
        - F.col("__cpool").cast(dec) * F.col("n_group").cast(dec)
    )
    return (
        gcum.join(F.broadcast(groups), on=group_col)
        .crossJoin(F.broadcast(total))
        .withColumn("__num", num)
        .groupBy(group_col, "n_group", "__N")
        .agg(F.max("__num").alias("__D"))
        .withColumn(
            "ks_scaled",
            F.expr(
                f"CAST(__D * {int(scale)} AS DECIMAL(38,0)) div "
                f"CAST(CAST(n_group AS DECIMAL(18,0)) * CAST(__N AS DECIMAL(18,0)) "
                f"AS DECIMAL(38,0))"
            ).cast("long"),
        )
        .select(group_col, F.col("n_group").cast("long").alias("n_group"), "ks_scaled")
    )


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group CUSUM changepoint: the order position where the
    cumulative deviation from the group's own mean peaks — the classic
    Page/CUSUM "did this series shift, and when" audit for event
    streams and ingestion monitoring.

    Integer-exact: with integral values x (use cents), the running
    statistic is kept as ``S_i = sum_{j<=i} (n_g * x_j - sum_g)``
    (the mean-centered cumsum scaled by n_g, so no division happens
    until the end) and the report is
    ``peak_abs_dev = max_i |S_i| div n_g`` — exactly
    ``max_i |sum_{j<=i} (x_j - mean_g)|`` floor-quantized to value
    units. Ties on |S| resolve to the EARLIEST order position.
    ``order_cols`` must be a total order within each group (append a
    unique id).

    Scale shape: one groups-sized stats aggregation joined broadcast,
    one :func:`grouped_cumsum` sweep (range partition +
    broadcast offsets — no one-task group window), one argmax
    aggregation. Deviations accumulate in decimal(38,0), exact past
    any 100 TB count*value product."""
    if not order_cols:
        raise ValueError("order_cols must name a total order")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__ng"),
        F.sum(F.col(value_col).cast("decimal(18,0)")).alias("__sg"),
    )
    dev = df.join(F.broadcast(stats), on=group_col).withColumn(
        "__dev",
        (
            F.col("__ng").cast("decimal(18,0)")
            * F.col(value_col).cast("decimal(18,0)")
            - F.col("__sg")
        ).cast("decimal(38,0)"),
    )
    swept = grouped_cumsum(
        dev,
        group_col,
        order_cols,
        "__dev",
        out_col="__S",
        num_partitions=num_partitions,
    )
    first_order = order_cols[0]
    peak = (
        swept.groupBy(group_col, "__ng")
        .agg(
            F.max(
                F.struct(
                    F.abs(F.col("__S")).alias("a"),
                    (-F.col(first_order)).alias("negk"),
                )
            ).alias("__m")
        )
        .select(
            group_col,
            F.col("__ng").cast("long").alias("n_group"),
            F.expr("__m.a div CAST(__ng AS DECIMAL(18,0))")
            .cast("long")
            .alias("peak_abs_dev"),
            (-F.col("__m.negk")).alias(f"peak_{first_order}"),
        )
    )
    return peak


def spearman_milli(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns, in MILLI
    units and integer-exact — the "do my two quality scorers agree"
    audit (rank agreement is what reranking/mixing actually consumes,
    and unlike Pearson it ignores the scorers' scales).

    Ranks are row_numbers under ``(value, id)`` — ``id_col`` is the
    deterministic tiebreak, so ranks are a permutation and the
    no-ties identity applies EXACTLY as computed:
    ``rho = 1 - 6 * sum(d^2) / (n * (n^2 - 1))``, returned as
    ``rho_milli = (1000 * (n(n^2-1) - 6*sum_d2)) div (n(n^2-1))``
    — every quantity integral (decimal(38,0) products), so any engine
    reproduces the same number bit-for-bit. (With heavy ties this is
    the tie-broken variant, not the averaged-rank one; the tiebreak
    column makes that choice explicit and reproducible.)

    Scale shape: two range-partitioned :func:`grouped_rank` sweeps on
    a constant group (no one-task window), one join on ``id_col``,
    one one-row reduction."""
    base = df.select(
        F.col(id_col), F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).withColumn("__one", F.lit(1))
    rx = grouped_rank(
        base, "__one", ["__x", id_col], out_col="__rx",
        num_partitions=num_partitions, range_tiebreak=id_col,
    ).select(id_col, "__rx")
    ry = grouped_rank(
        base, "__one", ["__y", id_col], out_col="__ry",
        num_partitions=num_partitions, range_tiebreak=id_col,
    ).select(id_col, "__ry")
    d2 = (
        rx.join(ry, on=id_col)
        .select(
            (
                (F.col("__rx") - F.col("__ry"))
                * (F.col("__rx") - F.col("__ry"))
            ).cast("decimal(18,0)").alias("__d2")
        )
        .agg(
            F.count(F.lit(1)).alias("__n"), F.sum("__d2").alias("__sd2")
        )
    )
    return d2.select(
        F.col("__n").cast("long").alias("n"),
        F.expr(
            "CAST(1000 * (CAST(__n AS DECIMAL(18,0)) * (CAST(__n AS DECIMAL(18,0)) * __n - 1) "
            "- 6 * __sd2) AS DECIMAL(38,0)) div "
            "CAST(CAST(__n AS DECIMAL(18,0)) * (CAST(__n AS DECIMAL(18,0)) * __n - 1) AS DECIMAL(38,0))"
        ).cast("long").alias("rho_milli"),
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative metric (token
    counts, revenue) in MILLI units, integer-exact — the concentration
    audit ("is this source's length mass owned by a few documents")
    that complements the PSI/KS drift scores.

    Uses the rank-weighted identity on ascending within-group ranks
    (row_numbers with ``id_col`` as the deterministic tiebreak):
    ``G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x))``,
    returned as ``gini_milli`` by decimal-product integral division —
    bit-reproducible by any engine that ranks the same way.

    Scale: one range-partitioned :func:`grouped_rank` sweep (no
    one-task group window), one grouped reduction."""
    base = df.select(
        F.col(group_col), F.col(id_col), F.col(value_col).alias("__x")
    )
    ranked = grouped_rank(
        base, group_col, ["__x", id_col], out_col="__i",
        num_partitions=num_partitions, range_tiebreak=id_col,
    )
    dec = "decimal(18,0)"
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_group"),
        F.sum(F.col("__x").cast(dec)).alias("__sx"),
        F.sum(F.col("__i").cast(dec) * F.col("__x").cast(dec)).alias("__six"),
    )
    return agg.select(
        group_col,
        F.col("n_group").cast("long").alias("n_group"),
        F.expr(
            "CAST(1000 * (2 * __six - (n_group + 1) * __sx) AS DECIMAL(38,0)) "
            "div CAST(CAST(n_group AS DECIMAL(18,0)) * __sx AS DECIMAL(38,0))"
        ).cast("long").alias("gini_milli"),
    )


def w1_vs_rest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 1_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group Wasserstein-1 (earth-mover) distance between the
    group's distribution of an INTEGER-valued column and the pooled
    corpus — the transport-cost complement of :func:`ks_vs_rest`
    (KS reports the worst single deviation; W1 integrates all of it,
    so a small shift across the whole range scores higher than one
    local spike). ``W1 = integral |F_g - F| dx``, evaluated exactly on
    the pooled distinct-value grid:

    ``w1_scaled = (scale * sum_v |Cg(v)*N - C(v)*n_g| * (v_next - v))
                  div (n_g * N)``

    — pure integer arithmetic end to end (the value column must be
    integral: token counts, cents), so any engine agrees bit-for-bit.

    Scale shape: identical to :func:`ks_vs_rest` (one (value, group)
    count shuffle, range-partitioned cumulative sweeps, |V| x |G|
    grid) plus ONE extra rank equi-join to pair each distinct value
    with its successor — built from the same range-partitioned
    :func:`~ukis_h3cellstore_spark.ops.prefix.global_rank`, no
    one-task window anywhere."""
    from ukis_h3cellstore_spark.ops.prefix import global_cumsum, global_rank

    # same NULL-group exclusion as ks_vs_rest (grid equi-join misses
    # NULL keys; see that function's comment)
    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(group_col, value_col)
    cnt = vals.groupBy(value_col, group_col).agg(F.count(F.lit(1)).alias("__c"))
    per_val = cnt.groupBy(value_col).agg(F.sum("__c").alias("__cv"))
    pooled = global_cumsum(
        per_val, [value_col], "__cv", out_col="__cpool",
        num_partitions=num_partitions,
    ).drop("__cv")
    ranked = global_rank(
        pooled, [value_col], out_col="__vr", num_partitions=num_partitions
    )
    nxt = ranked.select(
        (F.col("__vr") - 1).alias("__vr"),
        F.col(value_col).alias("__vnext"),
    )
    gapped = (
        ranked.join(nxt, on="__vr", how="left")
        .withColumn(
            "__dv",
            F.coalesce(
                (F.col("__vnext") - F.col(value_col)).cast("decimal(18,0)"),
                F.lit(0).cast("decimal(18,0)"),
            ),
        )
        .drop("__vr", "__vnext")
    )
    groups = cnt.groupBy(group_col).agg(F.sum("__c").alias("n_group"))
    grid = (
        gapped.crossJoin(F.broadcast(groups.select(group_col)))
        .join(cnt, on=[value_col, group_col], how="left")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
    )
    gcum = grouped_cumsum(
        grid, group_col, [value_col], "__c", out_col="__cgrp",
        num_partitions=num_partitions,
    )
    total = groups.agg(F.sum("n_group").alias("__N"))
    dec = "decimal(18,0)"
    num = (
        F.abs(
            F.col("__cgrp").cast(dec) * F.col("__N").cast(dec)
            - F.col("__cpool").cast(dec) * F.col("n_group").cast(dec)
        ).cast("decimal(38,0)")
        * F.col("__dv")
    )
    return (
        gcum.join(F.broadcast(groups), on=group_col)
        .crossJoin(F.broadcast(total))
        .withColumn("__num", num)
        .groupBy(group_col, "n_group", "__N")
        .agg(F.sum("__num").alias("__W"))
        .withColumn(
            "w1_scaled",
            F.expr(
                f"CAST(__W * {int(scale)} AS DECIMAL(38,0)) div "
                f"CAST(CAST(n_group AS DECIMAL(18,0)) * CAST(__N AS DECIMAL(18,0)) "
                f"AS DECIMAL(38,0))"
            ).cast("long"),
        )
        .select(group_col, F.col("n_group").cast("long").alias("n_group"), "w1_scaled")
    )
