"""Structured Streaming operators — the unbounded-ingest extension.

The reference has **no** streaming engine: its only "stream" is the
bounded client-pull Traverser (SURVEY §2.9). This module is the
beyond-parity extension the Spark engine adds for continuous H3
ingestion at scale:

- :func:`read_stream` — file-source ``readStream`` over a parquet
  directory (schema locked up-front; streaming sources cannot infer).
- :func:`windowed_cell_rollup` — event-time windowed aggregation per
  (H3 parent cell, window) with a watermark for late data; this is the
  streaming twin of the batch rollup chain (A1-A7): partial aggregates
  shuffle on (cell, window), state is bounded by the watermark.
- :func:`stream_insert_into_tableset` — ``foreachBatch`` sink running
  the full batch insert pipeline (compact → split → rollup → publish)
  per micro-batch; checkpointed, so ingestion is exactly-once per
  batch against the idempotent dedup-on-read store.
- :func:`stateful_cell_accumulator` — ``applyInPandasWithState``
  per-cell running aggregation (count/sum/max watermark-free), the
  template for custom stateful operators.
- :func:`cdc_upsert` — last-writer-wins CDC apply with tombstones as
  one JVM streaming aggregation (``max(struct(seq, is_delete,
  value))`` per key); :func:`cdc_apply_into_tableset` feeds its
  update-mode output into a mutable tableset pyramid.

Scale: every operator keys state/shuffle by H3 cell (or parent cell),
so a 1000-executor cluster partitions the cell space; nothing
materializes on the driver.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ukis_h3cellstore_spark.h3 import expressions as hx


def read_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source readStream over a parquet directory."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_cell_rollup(
    stream: DataFrame,
    h3index_column: str,
    ts_column: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    parent_resolution: int | None = None,
    agg_columns: Iterable[str] = (),
) -> DataFrame:
    """Event-time windowed per-cell aggregation with late-data bound.

    Output: one row per (cell-or-parent, window) with count + sum/avg
    of each ``agg_columns`` entry. The watermark bounds state: windows
    older than it are finalized and evicted.
    """
    cell = F.col(h3index_column)
    if parent_resolution is not None:
        cell = hx.h3_to_parent(cell, parent_resolution)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for c in agg_columns:
        aggs.append(F.sum(c).alias(f"sum_{c}"))
        aggs.append(F.avg(c).alias(f"avg_{c}"))
    return (
        stream.withWatermark(ts_column, watermark)
        .groupBy(
            cell.alias("cell"),
            F.window(F.col(ts_column), window_duration).alias("window"),
        )
        .agg(*aggs)
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts_r",
    lookback: str = "30 minutes",
    watermark: str = "4 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left row paired
    with the right rows sharing its key(s) whose event time falls in
    ``[left_ts - lookback, left_ts]`` (inner join — exactly the batch
    interval join's rows, emitted as both sides arrive).

    The time-bound condition is what makes an unbounded stream-stream
    join feasible: the state store holds only rows younger than
    ``watermark + lookback``, evicting the rest. A larger watermark
    tolerates later data at the cost of state size; rows arriving
    later than it may be dropped, so bounded replays that must match
    a batch oracle bit-for-bit should either feed time-ordered files
    or run a single availableNow batch (watermarks advance only
    BETWEEN micro-batches, so a one-batch run never drops anything).

    ``left_ts``/``right_ts`` must be distinct names and the non-key
    columns disjoint; output carries all left columns plus the right
    side's non-key columns."""
    keys = [on] if isinstance(on, str) else list(on)
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    overlap = (set(left.columns) & set(right.columns)) - set(keys)
    if overlap:
        raise ValueError(f"non-key column collision: {sorted(overlap)}")
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = None
    for k in keys:
        eq = l[k] == r[k]
        cond = eq if cond is None else cond & eq
    cond = (
        cond
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {lookback}"))
        & (r[right_ts] <= l[left_ts])
    )
    joined = l.join(r, cond, "inner")
    return joined.select(
        *[l[c] for c in left.columns],
        *[r[c] for c in right.columns if c not in keys],
    )


def session_rollup(
    stream: DataFrame,
    key_column: str,
    ts_column: str,
    gap: str = "30 minutes",
    agg_columns: Iterable[str] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Event-time session windows per key: Spark's native
    ``session_window`` merges events whose gap to the previous event is
    strictly below ``gap`` (an exact-gap event starts a new session).
    Output: one row per (key, session window) with count + sums.

    With a ``watermark`` the state store evicts sessions once the
    watermark passes their close (append mode); without one, use
    complete/update mode on bounded streams."""
    src = stream
    if watermark is not None:
        src = src.withWatermark(ts_column, watermark)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for c in agg_columns:
        aggs.append(F.sum(c).alias(f"sum_{c}"))
    return src.groupBy(
        F.session_window(F.col(ts_column), gap).alias("session"),
        F.col(key_column),
    ).agg(*aggs)


def stream_insert_into_tableset(
    store,
    schema,
    stream: DataFrame,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
):
    """Continuous tableset ingestion: every micro-batch runs the full
    batch insert pipeline (Q1). Returns the StreamingQuery handle."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.insert_h3dataframe_into_tableset(schema, batch_df)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_ACC_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("total", LongType()),
    ]
)


def _acc_output_schema(cell_col: str) -> StructType:
    return StructType(
        [
            StructField(cell_col, LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", LongType()),
        ]
    )


def stateful_cell_accumulator(
    stream: DataFrame,
    h3index_column: str,
    value_column: str,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful operator: per-cell running (count, sum) emitted
    on every update — ``applyInPandasWithState`` template
    (state schema: {n, total}; output keyed by cell)."""

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += int(pdf[value_column].fillna(0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                h3index_column: [key[0]],
                "n_events": [n],
                "total_value": [total],
            }
        )

    return stream.groupBy(h3index_column).applyInPandasWithState(
        update,
        outputStructType=_acc_output_schema(h3index_column),
        stateStructType=_ACC_STATE,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout, GroupStateTimeout.NoTimeout),
    )


def windowed_key_counts(
    stream: DataFrame,
    ts_column: str,
    key_column: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window frequency table per key — the streaming half of
    a windowed top-k / trending-items pipeline. Output: one row per
    (window, key) with the event count; the watermark bounds state
    exactly as in :func:`windowed_cell_rollup`.

    Ranking ("top k per window") is deliberately NOT applied here:
    window functions over a streaming aggregate are unsupported by
    design (a rank can be invalidated by late data), so the correct
    production shape is this bounded-state streaming count feeding a
    cheap batch rank at read time (or in ``foreachBatch``) — see
    :func:`topk_per_window`."""
    return (
        stream.withWatermark(ts_column, watermark)
        .groupBy(
            F.window(F.col(ts_column), window_duration).alias("window"),
            F.col(key_column),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def topk_per_window(
    counts: DataFrame, key_column: str, k: int = 3
) -> DataFrame:
    """Batch rank over a materialized windowed frequency table:
    row_number per window by (count desc, key asc) — fully
    deterministic ties — filtered to the top ``k``. Runs on the sink
    table each time it is read, so late-data updates to the counts
    re-rank for free."""
    w = W.partitionBy("window").orderBy(
        F.col("n_events").desc(), F.col(key_column).asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def capped_admission(
    stream: DataFrame,
    cap: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    hash_col: str = "_h",
) -> DataFrame:
    """Streaming face of ``ops/sampling.cap_per_group``: per-group
    bounded admission over micro-batches.

    The state per group is the running top-``cap`` set ordered by
    ``(hash, id)`` — a bounded, ASSOCIATIVE summary (merging two
    partial top-cap sets and re-truncating gives the global top-cap),
    so the admitted set is independent of how documents split across
    micro-batches and equals the batch ``cap_per_group`` replay.
    First-come admission would NOT have this property; hash-priority
    admission is what makes a streaming cap reproducible.

    State size is O(cap) ids+hashes per group — bounded regardless of
    stream length. Emits, per group and micro-batch, the running
    ``(n_seen, n_kept, sum_kept_ids)``; ``n_seen`` is strictly
    increasing, so the final answer is the row with max ``n_seen``
    per group.
    """

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n_seen, ids, hashes = (
            state.get if state.exists else (0, [], [])
        )
        pairs = list(zip(hashes, ids))
        for pdf in pdf_iter:
            n_seen += len(pdf)
            pairs.extend(
                zip(pdf[hash_col].astype("int64"), pdf[id_col].astype("int64"))
            )
        pairs.sort()
        pairs = pairs[:cap]
        ids = [int(i) for _, i in pairs]
        hashes = [int(h) for h, _ in pairs]
        state.update((n_seen, ids, hashes))
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "n_seen": [n_seen],
                "n_kept": [len(ids)],
                "sum_kept_ids": [sum(ids)],
            }
        )

    out_schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("n_seen", LongType()),
            StructField("n_kept", LongType()),
            StructField("sum_kept_ids", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_seen", LongType()),
            StructField("ids", ArrayType(LongType())),
            StructField("hashes", ArrayType(LongType())),
        ]
    )
    return stream.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def score_against_static(
    stream: DataFrame,
    thresholds: DataFrame,
    on: str,
    value_col: str,
    k: float = 3.5,
) -> DataFrame:
    """Online scoring against OFFLINE statistics — the production
    pattern where thresholds are trained in batch (e.g.
    :func:`ukis_h3cellstore_spark.ops.robust.grouped_median` medians +
    MADs) and applied to a live stream: a stream-static equi-join on
    ``on`` (Spark broadcasts the static side per micro-batch; no
    stream state at all), then the robust outlier flag
    ``|value - median| > k * MAD``. Returns the stream rows plus
    (median, mad, is_outlier) — compose with a windowed aggregation
    downstream for alert counts.

    ``thresholds`` must have columns (``on``, median, mad). Static
    thresholds are METADATA (groups-sized); refreshing them is a
    re-deploy of the query, which is the right cadence for corpus
    statistics."""
    t = thresholds.select(on, "median", "mad")
    return stream.join(F.broadcast(t), on=on, how="inner").withColumn(
        "is_outlier",
        F.abs(F.col(value_col) - F.col("median")) > F.lit(float(k)) * F.col("mad"),
    )


def novelty_against_static(
    stream: DataFrame,
    corpus_shingles: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Streaming novelty triage — the online twin of
    :func:`ukis_h3cellstore_spark.ops.dedup.novelty_against_corpus`:
    each streamed document's DISTINCT k-shingles are marked novel via
    a stream-static LEFT OUTER join against the established corpus's
    shingle set (stateless — the static side is re-read per
    micro-batch, no stream state), then ONE streaming aggregation
    accumulates per-``group_col`` (n_shingles, n_novel). Both counts
    are associative sums, so the result is batch-split-proof and
    equals the batch replay.

    The per-document shingle set is built INSIDE the row (sequence →
    transform → array_distinct → explode), deliberately avoiding a
    per-doc DISTINCT aggregation — chaining two stateful operators is
    where streaming plans go to die; this plan has exactly one.

    ``corpus_shingles`` must be a static (shingle) frame, already
    distinct; at scale it is the persisted inverted index's key set."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    sh_arr = F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    exploded = stream.select(
        F.col(group_col), F.explode(sh_arr).alias("shingle")
    )
    marked = exploded.join(
        corpus_shingles.select("shingle", F.lit(1).alias("__known")),
        on="shingle",
        how="left_outer",
    )
    return marked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.col("__known").isNull().cast("long")).alias("n_novel"),
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and ages
    each key out of state once the watermark passes it — the ingest
    dedup you can actually run forever (plain ``dropDuplicates`` on a
    stream grows state without bound; the batch operators in
    ``ops/dedup`` are the replay semantics). Duplicates arriving more
    than ``delay`` after the first occurrence are NOT caught — that is
    the deliberate state/completeness trade; size ``delay`` to the
    real re-delivery window (minutes for queue redelivery, hours for
    crawler re-fetch)."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        keys
    )


def cdc_upsert(
    stream: DataFrame,
    key_col: str,
    seq_col: str,
    delete_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming CDC apply: last-writer-wins upsert with tombstones —
    the change-data-capture consumer that materializes a mutable
    table from an insert/update/delete event stream (the Debezium →
    lakehouse pattern).

    The per-key reducer is ``max(struct(seq, is_delete, value))`` — an
    associative, commutative, idempotent max, so the materialized row
    per key is independent of micro-batch boundaries, arrival order
    and replays. It runs as a streaming ``groupBy().agg()``: the state
    (one struct per key) lives in the JVM state store, each
    micro-batch partial-aggregates map-side before the state shuffle,
    and no row crosses the Arrow/Python boundary. Deletes are kept as
    TOMBSTONES in state (dropping them would resurrect a key when a
    late pre-delete update arrives); the live-table view is
    ``is_deleted = false`` downstream.

    Emits, per key and micro-batch (update mode), the current winner
    ``(key, last_seq, is_deleted, last_value)`` with the input column
    types; ``last_seq`` is non-decreasing per key, so the final
    materialization is the row with max ``last_seq`` per key.

    A change whose ``seq_col`` or ``delete_col`` is NULL has no place
    in the order, so it fails the micro-batch with an error naming
    the column instead of being dropped or read as a live row."""

    def not_null(c: str) -> Column:
        return F.when(
            F.col(c).isNull(),
            F.raise_error(F.lit(f"cdc_upsert: NULL in column {c!r}")),
        ).otherwise(F.col(c))

    return (
        stream.groupBy(key_col)
        .agg(
            F.max(
                F.struct(
                    not_null(seq_col).alias("seq"),
                    not_null(delete_col).alias("dele"),
                    F.col(value_col).alias("val"),
                )
            ).alias("__m")
        )
        .select(
            key_col,
            F.col("__m.seq").alias("last_seq"),
            F.col("__m.dele").alias("is_deleted"),
            F.col("__m.val").alias("last_value"),
        )
    )


def cdc_apply_into_tableset(
    store,
    schema,
    upsert_stream: DataFrame,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
):
    """Compose the CDC family into the CellStore: a streaming upsert
    (the UPDATE-mode output of :func:`cdc_upsert`, columns
    ``(h3index, version, deleted, ...)`` named per ``schema``)
    materializes a MUTABLE tableset pyramid — the Debezium →
    lakehouse → H3 shape. Every micro-batch delivers
    one winner row per key updated in that batch;
    ``store.upsert_h3dataframe_into_tableset`` merges it keep-max-
    version into the base level and refreshes the touched coarse
    partitions from the post-merge live view, so the final pyramid is
    micro-batch-split independent. Returns the StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # no isEmpty() pre-check: the upsert's single stats aggregation
        # already returns early on an empty batch, and the pre-check
        # cost one extra Spark job per micro-batch (guide §1.2)
        store.upsert_h3dataframe_into_tableset(schema, batch_df)

    writer = (
        upsert_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

