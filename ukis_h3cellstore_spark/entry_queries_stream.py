"""Driver-contract query for the Structured Streaming operators: a
watermarked tumbling-window per-cell rollup driven to completion with
an availableNow trigger over a bounded copy of the events table. The
DuckDB oracle recomputes the same windows relationally — streaming and
batch must agree exactly (integer cents keep the sums order-proof
across micro-batches)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ukis_h3cellstore_spark import streaming as st
from ukis_h3cellstore_spark.entry_queries import (
    DUCK,
    _events,
    _stable_tmpdir,
    _synth_col,
)
from ukis_h3cellstore_spark.h3 import sqlgen as sg

_SINK_COUNTER = [0]



def _await_done(q, timeout: int = 300) -> None:
    """``awaitTermination(timeout)`` returns False on timeout — in a
    gate that means the sink is partially populated and the hash
    mismatch downstream would be misleading. Fail loudly instead."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming gate query did not finish within {timeout}s"
        )


def q_streaming_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events(spark, sf_dir).select(
        _synth_col("event_id", 6).alias("h3index"),
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    stream_dir = _stable_tmpdir("h3stream_src_", sf_dir)
    src.repartition(4).write.mode("overwrite").parquet(stream_dir)

    stream = st.read_stream(
        spark, stream_dir, src.schema, max_files_per_trigger=2
    )
    rolled = st.windowed_cell_rollup(
        stream,
        "h3index",
        "ts",
        window_duration="1 hour",
        watermark="2 hours",
        parent_resolution=4,
        agg_columns=["value_cents"],
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_rollup_sink_{_SINK_COUNTER[0]}"
    q = (
        rolled.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return spark.table(sink).select(
        F.col("cell"),
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        F.col("n_events"),
        F.col("sum_value_cents"),
    )


def _q_streaming_windowed_rollup_sql() -> str:
    cell6 = sg.synth_cell("event_id", 6, DUCK)
    return f"""
WITH syn AS (
  SELECT {sg.to_parent(f'({cell6})', 4, DUCK)} AS cell,
         (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
         CAST(round(value*100) AS BIGINT) AS value_cents
  FROM events
)
SELECT cell, window_start_us,
       COUNT(*) AS n_events,
       CAST(SUM(value_cents) AS BIGINT) AS sum_value_cents
FROM syn GROUP BY 1, 2
"""


def q_streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup for a training-data ingest: the documents
    table arrives in micro-batches and duplicate groups accumulate in
    streaming state (groupBy on the content hash, complete mode) — the
    result must equal the batch dedup_exact answer regardless of how
    rows split across batches (min/count are order-proof)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    stream_dir = _stable_tmpdir("h3stream_docs_", sf_dir)
    docs.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(
        spark, stream_dir, docs.schema, max_files_per_trigger=1
    )
    content = F.lower(F.trim(F.col("text")))
    agg = (
        stream.select(F.md5(content).alias("content_hash"), F.col("doc_id"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_dedup_sink_{_SINK_COUNTER[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return spark.table(sink)


_Q_STREAMING_DEDUP_EXACT_SQL = """
SELECT md5(lower(trim(text))) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""


def q_streaming_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LINE dedup for a corpus ingest (the streaming face of
    ops/dedup.segment_dedup): documents arrive in micro-batches, each
    is rendered to 8-token lines, and per line key the streaming state
    keeps the canonical first occurrence — ``min(struct(doc, pos))``
    and the count are associative, so the answer is independent of how
    documents split across batches and equals the batch replay."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    stream_dir = _stable_tmpdir("h3stream_segs_", sf_dir)
    docs.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(
        spark, stream_dir, docs.schema, max_files_per_trigger=1
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    lines = F.transform(
        F.sequence(F.lit(0), F.ceil(n / F.lit(8.0)).cast("int") - 1),
        lambda j: F.concat_ws(" ", F.slice(toks, j * 8 + 1, 8)),
    )
    seg = (
        stream.select(
            "doc_id", F.posexplode(lines).alias("pos", "seg")
        )
        .filter(F.trim(F.col("seg")) != "")
        .select(
            F.md5(F.lower(F.trim(F.col("seg")))).alias("line_key"),
            # composite (doc, pos) packed into one BIGINT so the
            # associative MIN is portable to the SQL oracle (pos is
            # bounded far below the 100k stride)
            (F.col("doc_id") * 100_000 + F.col("pos")).alias("occ"),
        )
        .groupBy("line_key")
        .agg(
            F.min("occ").alias("__first"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .select(
            "line_key",
            F.expr("CAST(__first DIV 100000 AS LONG)").alias("canonical_doc"),
            (F.col("__first") % 100_000).cast("long").alias("canonical_pos"),
            "n_occurrences",
        )
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_segdedup_sink_{_SINK_COUNTER[0]}"
    q = (
        seg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return spark.table(sink)


_Q_STREAMING_SEGMENT_DEDUP_SQL = """
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents),
lines AS (
  SELECT doc_id, j AS pos,
         array_to_string(list_slice(t, j * 8 + 1, j * 8 + 8), ' ') AS seg
  FROM toks,
       LATERAL (SELECT unnest(generate_series(
                  0, CAST(ceil(len(t) / 8.0) AS INT) - 1)) AS j) js
)
SELECT md5(lower(trim(seg))) AS line_key,
       CAST(MIN(doc_id * 100000 + pos) // 100000 AS BIGINT) AS canonical_doc,
       CAST(MIN(doc_id * 100000 + pos) % 100000 AS BIGINT) AS canonical_pos,
       COUNT(*) AS n_occurrences
FROM lines
WHERE trim(seg) <> ''
GROUP BY 1
"""


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows over the event stream (session_window,
    30-minute gap, complete mode on the bounded stream): micro-batch
    arrival order must not change the merged sessions. Spark merges
    while the gap is STRICTLY below the gap duration and closes the
    window at last_ts + gap — the oracle mirrors both conventions."""
    src = _events(spark, sf_dir).select(
        "user_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    stream_dir = _stable_tmpdir("h3stream_sess_", sf_dir)
    src.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(spark, stream_dir, src.schema, max_files_per_trigger=2)
    sessions = st.session_rollup(
        stream, "user_id", "ts", gap="30 minutes", agg_columns=["value_cents"]
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_sess_sink_{_SINK_COUNTER[0]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return spark.table(sink).select(
        F.col("user_id"),
        F.unix_micros(F.col("session.start")).alias("session_start_us"),
        F.unix_micros(F.col("session.end")).alias("session_end_us"),
        F.col("n_events"),
        F.col("sum_value_cents"),
    )


_Q_STREAMING_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(round(value*100) AS BIGINT) AS value_cents,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
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
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) + 1800000000 AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(value_cents) AS BIGINT) AS sum_value_cents
FROM numbered GROUP BY user_id, session_seq
"""


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: every click event
    paired with the same user's error events from the preceding 30
    minutes, both sides streaming (streaming.interval_join_streams).
    The bounded replay runs as ONE availableNow batch — watermarks
    advance only between micro-batches, so nothing is dropped and the
    result is exactly the batch interval join the oracle computes."""
    src = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    stream_dir = _stable_tmpdir("h3stream_ij_", sf_dir)
    src.repartition(4).write.mode("overwrite").parquet(stream_dir)

    clicks = (
        st.read_stream(spark, stream_dir, src.schema)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    errors = (
        st.read_stream(spark, stream_dir, src.schema)
        .filter(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("ts").alias("err_ts"),
            F.col("value_cents").alias("err_value_cents"),
        )
    )
    joined = st.interval_join_streams(
        clicks,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="err_ts",
        lookback="30 minutes",
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_ij_sink_{_SINK_COUNTER[0]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return spark.table(sink).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.unix_micros(F.col("err_ts")).alias("err_ts_us"),
        "err_value_cents",
    )


_Q_STREAMING_INTERVAL_JOIN_SQL = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
         CAST(round(value*100) AS BIGINT) AS value_cents
  FROM events
)
SELECT c.event_id, c.user_id, c.ts_us,
       x.ts_us AS err_ts_us, x.value_cents AS err_value_cents
FROM e c JOIN e x
  ON c.user_id = x.user_id
 AND c.event_type = 'click' AND x.event_type = 'error'
 AND x.ts_us >= c.ts_us - CAST(30*60 AS BIGINT)*1000000
 AND x.ts_us <= c.ts_us
"""


def q_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items pipeline: streaming hourly per-event-type counts
    (bounded state via watermark) + the batch top-3 rank applied to
    the materialized sink (streaming.windowed_key_counts /
    topk_per_window). Rank ties break on event_type asc, so the
    result is micro-batch-order-proof."""
    src = _events(spark, sf_dir).select(
        "event_type", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    stream_dir = _stable_tmpdir("h3stream_topk_", sf_dir)
    src.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(spark, stream_dir, src.schema, max_files_per_trigger=2)
    counts = st.windowed_key_counts(
        stream, "ts", "event_type", window_duration="1 hour", watermark="2 hours"
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_topk_sink_{_SINK_COUNTER[0]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return st.topk_per_window(spark.table(sink), "event_type", k=3).select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "rank",
    )


_Q_STREAMING_TOPK_SQL = """
WITH counts AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY window_start_us
      ORDER BY n_events DESC, event_type ASC) AS rank
  FROM counts
)
SELECT window_start_us, event_type, n_events, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_streaming_tableset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion INTO the CellStore pyramid
    (streaming.stream_insert_into_tableset): the events stream arrives
    in micro-batches, each batch runs the full Q1 insert (compact →
    rollup → publish → scoped dedup with Sum merge), and the gate
    queries the res-4 level afterwards. The schema declares
    SummingMergeTree over value_cents — REQUIRED for multi-batch
    ingestion into a Sum rollup: the default ReplacingMergeTree's
    dedup is full-row, so two batches contributing different partial
    sums to one cell would legitimately coexist (exactly what
    ClickHouse does before a Summing merge). With the Summing engine
    the scoped cross-insert merge sums on the sort key, making the
    final state independent of how rows split across batches — the
    oracle is the same one-shot relational rollup that verifies the
    batch pipeline."""

    from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
    from ukis_h3cellstore_spark import streaming as _st
    from ukis_h3cellstore_spark.entry_queries import _cents, _synth_col
    from ukis_h3cellstore_spark.h3 import cells as _h3c

    schema = (
        CompactedTableSchemaBuilder("stream_ingest_sum")
        .h3_base_resolutions([4, 6])
        .add_h3index_column()
        .add_aggregated_column("value_cents", "UInt64", "Sum")
        .table_engine("SummingMergeTree", ["value_cents"])
        .build()
    )
    src = _events(spark, sf_dir).select(
        _synth_col("event_id", 6).alias("h3index"),
        _cents(F.col("value")).alias("value_cents"),
    )
    stream_dir = _stable_tmpdir("h3stream_ingest_src_", sf_dir)
    src.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(spark, stream_dir, src.schema, max_files_per_trigger=2)

    store = CellStore(spark, _stable_tmpdir("h3stream_wh_", sf_dir))
    q = _st.stream_insert_into_tableset(
        store,
        schema,
        stream,
        checkpoint_dir=_stable_tmpdir("h3stream_ckpt_", sf_dir),
        trigger_available_now=True,
    )
    _await_done(q)
    from ukis_h3cellstore_spark.entry_queries import _synth_py

    cells = sorted(
        {_h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(200)}
    )
    out = store.query_tableset_cells("stream_ingest_sum", cells, 4)
    return out.df.select("h3index", "value_cents")


def _q_streaming_tableset_ingest_sql() -> str:
    from ukis_h3cellstore_spark.entry_queries import _synth_py
    from ukis_h3cellstore_spark.h3 import cells as _h3c
    from ukis_h3cellstore_spark.h3 import sqlgen as _sg

    cell = _sg.synth_cell("event_id", 6, DUCK)
    parents = sorted(
        {_h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(200)}
    )
    plist = ", ".join(str(p) for p in parents)
    return f"""
WITH syn AS (SELECT {cell} AS h3index,
                    CAST(round(value*100) AS BIGINT) AS value_cents
             FROM events)
SELECT {_sg.to_parent('h3index', 4, DUCK)} AS h3index,
       CAST(SUM(value_cents) AS BIGINT) AS value_cents
FROM syn
WHERE {_sg.to_parent('h3index', 4, DUCK)} IN ({plist})
GROUP BY 1
"""




def q_streaming_stateful_accumulator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-cell running (count, sum) state updated across micro-batches,
    emitted in update mode. The memory sink then holds one row per
    (cell, micro-batch that touched it); both accumulators are
    monotone per key, so the per-cell MAX is the final state — which
    must equal the batch aggregation regardless of how the file
    stream split the rows (max_files_per_trigger=2 forces multiple
    batches, so state genuinely carries across triggers)."""
    src = _events(spark, sf_dir).select(
        _synth_col("event_id", 6).alias("h3index"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    stream_dir = _stable_tmpdir("h3stream_state_", sf_dir)
    src.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(
        spark, stream_dir, src.schema, max_files_per_trigger=2
    )
    acc = st.stateful_cell_accumulator(stream, "h3index", "value_cents")
    _SINK_COUNTER[0] += 1
    sink = f"stream_state_sink_{_SINK_COUNTER[0]}"
    q = (
        acc.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return (
        spark.table(sink)
        .groupBy("h3index")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value_cents"),
        )
    )


def _q_streaming_stateful_accumulator_sql() -> str:
    cell6 = sg.synth_cell("event_id", 6, DUCK)
    return f"""
SELECT ({cell6}) AS h3index,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
         AS total_value_cents
FROM events
GROUP BY 1
"""


def q_streaming_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-source frequency cap (streaming.capped_admission,
    cap=40): documents arrive in micro-batches and each source's
    bounded state keeps the running top-40 by the SAME salted hash
    the batch cap_per_group uses — hash-priority admission is
    associative, so the final admitted set is batch-split-proof and
    equals the batch replay the oracle computes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    withh = docs.withColumn(
        "_h",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cap|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    stream_dir = _stable_tmpdir("h3stream_cap_", sf_dir)
    withh.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(
        spark, stream_dir, withh.schema, max_files_per_trigger=1
    )
    capped = st.capped_admission(
        stream, cap=40, group_col="source", id_col="doc_id", hash_col="_h"
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_cap_sink_{_SINK_COUNTER[0]}"
    q = (
        capped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    # n_seen strictly increases per group: the final state is the row
    # with max n_seen for each source
    final = spark.table(sink).groupBy("source").agg(
        F.max(F.struct("n_seen", "n_kept", "sum_kept_ids")).alias("m")
    )
    return final.select(
        "source",
        F.col("m.n_seen").alias("n_seen"),
        F.col("m.n_kept").alias("n_kept"),
        F.col("m.sum_kept_ids").alias("sum_kept_ids"),
    )


_Q_STREAMING_DOMAIN_CAP_SQL = """
WITH h AS (
  SELECT doc_id, source,
         (('0x' || substr(md5('cap|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
           AS hh
  FROM documents
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
  FROM h
),
tot AS (SELECT source, COUNT(*) AS n_seen FROM documents GROUP BY 1),
kept AS (
  SELECT source, COUNT(*) AS n_kept, SUM(doc_id) AS sum_kept_ids
  FROM r WHERE rn <= 40 GROUP BY 1
)
SELECT t.source, CAST(t.n_seen AS BIGINT) AS n_seen,
       CAST(k.n_kept AS BIGINT) AS n_kept,
       CAST(k.sum_kept_ids AS BIGINT) AS sum_kept_ids
FROM tot t JOIN kept k ON t.source = k.source
"""


def q_streaming_robust_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online scoring against offline statistics (streaming.
    score_against_static): per-type median/MAD thresholds are trained
    in BATCH (ops/robust.py grouped_median — the production cadence
    for corpus statistics), then a stream of events is stream-static
    joined against the groups-sized threshold table and robust outlier
    flags are counted per type. No stream state at all — the static
    side re-broadcasts per micro-batch; counts are associative, so the
    result is batch-split-proof and equals the batch replay."""
    from ukis_h3cellstore_spark.ops import robust as R

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    ).filter(F.col("value").isNotNull())
    med = R.grouped_median(ev, "event_type", "value", out_col="median").select(
        "event_type", "median"
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("median")).alias("__d")
    )
    mad = R.grouped_median(dev, "event_type", "__d", out_col="mad").select(
        "event_type", "mad"
    )
    thresholds = med.join(mad, "event_type").localCheckpoint(eager=True)

    stream_dir = _stable_tmpdir("h3stream_robust_", sf_dir)
    ev.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(spark, stream_dir, ev.schema, max_files_per_trigger=1)
    scored = st.score_against_static(
        stream, thresholds, on="event_type", value_col="value", k=3.5
    )
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_robust_sink_{_SINK_COUNTER[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return spark.table(sink).select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_outliers").cast("long").alias("n_outliers"),
    )


_Q_STREAMING_ROBUST_SCORE_SQL = """
WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (
  SELECT event_type, SUM(value) / COUNT(*) AS median
  FROM r WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2 GROUP BY 1
),
d AS (
  SELECT v.event_type, abs(v.value - m.median) AS dev
  FROM v JOIN med m USING (event_type)
),
r2 AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n2
  FROM d
),
mad AS (
  SELECT event_type, SUM(dev) / COUNT(*) AS mad
  FROM r2 WHERE rk = (n2 + 1) // 2 OR rk = (n2 + 2) // 2 GROUP BY 1
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN d.dev > 3.5 * x.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM d JOIN mad x USING (event_type)
GROUP BY 1
"""


def q_streaming_ttl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (streaming.dedup_within_watermark
    / dropDuplicatesWithinWatermark): the events table DOUBLED (every
    row a duplicate) arrives in micro-batches; one row per event_id
    survives. The watermark delay spans the whole synthetic time range
    here, so the streamed answer equals the batch distinct the oracle
    computes — production sizes the delay to the re-delivery window
    and accepts later dupes as the state-bound trade."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        # watermarks need TIMESTAMP (LTZ); parquet yields TIMESTAMP_NTZ
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    doubled = ev.unionByName(ev)
    stream_dir = _stable_tmpdir("h3stream_ttl_", sf_dir)
    doubled.repartition(6).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(
        spark, stream_dir, doubled.schema, max_files_per_trigger=2
    )
    deduped = st.dedup_within_watermark(
        stream, ["event_id"], "ts", delay="87600 hours"
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_ttl_sink_{_SINK_COUNTER[0]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            F.sum("event_id").cast("long").alias("sum_ids"),
        )
    )


_Q_STREAMING_TTL_DEDUP_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
       CAST(SUM(DISTINCT event_id) AS BIGINT) AS sum_ids
FROM events
GROUP BY 1
"""


def q_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user cardinality per event type via the
    md5-deterministic HLL (ops/sketches.hll_registers_by): the
    register-wise MAX is associative, so micro-batched state (bounded
    by types x 2^b rows) converges to exactly the batch registers
    regardless of batch splits; the oracle recomputes registers +
    integer summary relationally and the exact distinct count rides
    alongside."""
    from ukis_h3cellstore_spark.ops import sketches as SKS

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "user_id"
    )
    stream_dir = _stable_tmpdir("h3stream_hll_", sf_dir)
    ev.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(spark, stream_dir, ev.schema, max_files_per_trigger=1)
    regs = SKS.hll_registers_by(stream, "user_id", ["event_type"], b=9)
    _SINK_COUNTER[0] += 1
    sink = f"stream_hll_sink_{_SINK_COUNTER[0]}"
    q = (
        regs.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    w_pow = 52  # _HASH_BITS - b + 1
    summary = (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.lit(512).cast("long").alias("m"),
            (F.lit(512) - F.count(F.lit(1))).cast("long").alias(
                "n_empty_registers"
            ),
            (
                F.sum(
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), CAST({w_pow} - mj AS INT))"
                    )
                )
                + (F.lit(512) - F.count(F.lit(1)))
                * F.lit(1 << w_pow).cast("long")
            ).cast("long").alias("sum_pow"),
        )
    )
    exact = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    )
    return summary.join(exact, "event_type")


_Q_STREAMING_HLL_SQL = """
WITH h AS (
  SELECT event_type,
         (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) AS h
  FROM events
),
reg AS (
  SELECT event_type, h % 512 AS idx,
         MAX(CASE WHEN h // 512 = 0 THEN 52
                  ELSE 52 - length(bin(h // 512)) END) AS mj
  FROM h GROUP BY 1, 2
),
summ AS (
  SELECT event_type,
         CAST(512 AS BIGINT) AS m,
         CAST(512 - COUNT(*) AS BIGINT) AS n_empty_registers,
         CAST(SUM(1::BIGINT << CAST(52 - mj AS INT))
              + (512 - COUNT(*)) * (1::BIGINT << 52) AS BIGINT) AS sum_pow
  FROM reg GROUP BY 1
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT s.event_type, s.m, s.n_empty_registers, s.sum_pow, ex.n_exact
FROM summ s JOIN ex USING (event_type)
"""


def q_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING windows (2h width, 1h slide) with a
    watermark: every event feeds two overlapping windows across
    micro-batches; counts and integer-cent sums are associative, so
    the complete-mode state equals the batch replay (the overlap is
    what tumbling streaming rollups cannot express)."""
    src = _events(spark, sf_dir).select(
        "event_type",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    stream_dir = _stable_tmpdir("h3stream_slide_", sf_dir)
    src.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(spark, stream_dir, src.schema, max_files_per_trigger=2)
    agg = (
        stream.withWatermark("ts", "4 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("sum_cents"),
        )
    )
    _SINK_COUNTER[0] += 1
    sink = f"stream_slide_sink_{_SINK_COUNTER[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return spark.table(sink).select(
        "event_type",
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


_Q_STREAMING_SLIDING_SQL = """
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


def q_streaming_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl-novelty triage (streaming.novelty_against_static):
    the incoming snapshot (doc_id < 100) streams in file micro-batches;
    each document's distinct 3-shingles are marked novel by a
    stream-static LEFT OUTER join against the established corpus's
    (doc_id ≥ 100) shingle set — stateless, the static side re-reads
    per batch — and ONE streaming aggregation accumulates per-source
    (n_shingles, n_novel). Associative sums ⇒ equals the batch replay
    regardless of the micro-batch split."""
    from ukis_h3cellstore_spark.ops.dedup import shingle_df

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    corpus_sh = (
        shingle_df(docs.filter(F.col("doc_id") >= 100), "text", "doc_id", 3)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=True)
    )
    batch = docs.filter(F.col("doc_id") < 100)
    stream_dir = _stable_tmpdir("h3stream_novelty_", sf_dir)
    batch.repartition(4).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(
        spark, stream_dir, batch.schema, max_files_per_trigger=1
    )
    agg = st.novelty_against_static(stream, corpus_sh, "text", "source", k=3)
    _SINK_COUNTER[0] += 1
    sink = f"stream_novelty_sink_{_SINK_COUNTER[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return spark.table(sink).select(
        "source",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_novel").cast("long").alias("n_novel"),
    )


_Q_STREAMING_NOVELTY_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id,
         concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents) t,
       unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
corp AS (SELECT DISTINCT shingle FROM sh WHERE doc_id >= 100),
newsh AS (
  SELECT s.shingle, d.source
  FROM sh s JOIN documents d USING (doc_id)
  WHERE s.doc_id < 100
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN c.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel
FROM newsh n LEFT JOIN corp c ON c.shingle = n.shingle
GROUP BY 1
"""


def _cdc_upsert_gate(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    max_files_per_trigger: int | None,
    src_cache: dict[str, str] | None = None,
) -> DataFrame:
    """The events table replayed as a change stream (event_id as the
    LSN; 'click' rows are deletes) through :func:`streaming.cdc_upsert`
    into a memory sink, materialized as the max-``last_seq`` row per
    key over the update-mode emissions. The change source is staged
    under ``prefix``; with ``src_cache`` it is staged once per sf_dir."""
    src = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.col("event_id").alias("seq"),
        (F.col("event_type") == "click").alias("is_del"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    stream_dir = src_cache.get(sf_dir) if src_cache is not None else None
    if stream_dir is None:
        stream_dir = _stable_tmpdir(f"{prefix}src_", sf_dir)
        src.repartition(8).write.mode("overwrite").parquet(stream_dir)
        if src_cache is not None:
            src_cache[sf_dir] = stream_dir
    stream = st.read_stream(spark, stream_dir, src.schema, max_files_per_trigger)
    out = st.cdc_upsert(stream, "user_id", "seq", "is_del", "cents")
    _SINK_COUNTER[0] += 1
    sink = f"{prefix}sink_{_SINK_COUNTER[0]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.max(F.struct("last_seq", "is_deleted", "last_value")).alias("m"))
        .select(
            "user_id",
            F.col("m.last_seq").alias("last_seq"),
            F.col("m.is_deleted").alias("is_deleted"),
            F.col("m.last_value").alias("last_value"),
        )
    )


def q_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (streaming.py:cdc_upsert): last-writer-wins upsert
    with tombstones, two staged files per micro-batch. The per-key
    state is the max of (seq, is_delete, value) — associative,
    commutative, idempotent — so the materialized table is
    micro-batch-split-proof and equals the batch argmax the oracle
    computes."""
    return _cdc_upsert_gate(spark, sf_dir, "cdc_", 2)


_Q_STREAMING_CDC_UPSERT_SQL = """
WITH c AS (
  SELECT user_id, event_id AS seq, (event_type = 'click') AS is_del,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
w AS (
  SELECT user_id, seq, is_del, cents,
         row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
  FROM c
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(seq AS BIGINT) AS last_seq,
       is_del AS is_deleted, cents AS last_value
FROM w WHERE rn = 1
"""


def q_streaming_cdc_upsert_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming_cdc_upsert`` over a finer micro-batch split (one
    staged file per trigger): the same reducer and oracle, so the two
    gates agreeing proves the result independent of the split."""
    return _cdc_upsert_gate(spark, sf_dir, "cdc_jvm_", 1)


#: bench-only: pre-written change source per sf_dir so repeated bench
#: runs time the STATE path, not tempdir parquet writes
_CDC_BENCH_SRC: dict[str, str] = {}


def q_streaming_cdc_upsert_jvm_bench(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Steady-state bench variant of ``streaming_cdc_upsert``: same
    operator and final materialization, but the change source is
    written ONCE per sf_dir (cached across the bench's min-of-3 runs)
    and consumed in a SINGLE availableNow micro-batch — so the timed
    number is the JVM state aggregation, not the staging write and the
    multi-trigger harness the correctness gate pays."""
    return _cdc_upsert_gate(
        spark, sf_dir, "cdc_bench_", None, src_cache=_CDC_BENCH_SRC
    )


def q_streaming_cdc_tableset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC composition flagship of the streaming family: change
    stream → :func:`streaming.cdc_upsert` (JVM last-writer-wins
    state) → :func:`streaming.cdc_apply_into_tableset` (per
    micro-batch, keep-max-version merge into a MUTABLE tableset via
    ``ReplacingMergeTree(ver, is_deleted)`` semantics + touched-
    partition refresh of the res-4 rollup from the post-merge live
    view) — the Debezium → lakehouse → H3 pyramid shape. The events
    table replays as the change feed: each res-6 cell (synthesized
    from user_id, so every cell receives ~67 versioned changes) is a
    mutable key; event_id is the LSN; 'click' rows are deletes. The
    oracle recomputes the final pyramid relationally: per-cell argmax
    by seq, tombstones dropped, live rows rolled to res 4 (Sum cents,
    Max seq). Matching hashes prove the WHOLE composition — JVM CDC
    state, versioned engine merge, and incremental rollup refresh —
    is micro-batch-split independent."""
    from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
    from ukis_h3cellstore_spark import streaming as _st
    from ukis_h3cellstore_spark.entry_queries import _cents, _synth_py
    from ukis_h3cellstore_spark.h3 import cells as _h3c

    schema = (
        CompactedTableSchemaBuilder("cdc_state")
        .h3_base_resolutions([4, 6])
        .use_compacted_resolutions(False)
        .add_h3index_column()
        .add_aggregated_column("last_seq", "UInt64", "Max")
        .add_aggregated_column("is_deleted", "UInt8", "Min")
        .add_aggregated_column("last_value", "Int64", "Sum")
        .table_engine(
            "ReplacingMergeTree",
            version_column="last_seq",
            deleted_column="is_deleted",
        )
        .build()
    )
    src = _events(spark, sf_dir).select(
        _synth_col("user_id", 6).alias("h3index"),
        F.col("event_id").alias("seq"),
        (F.col("event_type") == "click").alias("is_del"),
        _cents(F.col("value")).alias("cents"),
    )
    stream_dir = _stable_tmpdir("cdc_ts_src_", sf_dir)
    src.repartition(8).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(
        spark, stream_dir, src.schema, max_files_per_trigger=2
    )
    upsert = st.cdc_upsert(stream, "h3index", "seq", "is_del", "cents")
    store = CellStore(spark, _stable_tmpdir("cdc_ts_wh_", sf_dir))
    q = _st.cdc_apply_into_tableset(
        store,
        schema,
        upsert,
        checkpoint_dir=_stable_tmpdir("cdc_ts_ckpt_", sf_dir),
        trigger_available_now=True,
    )
    _await_done(q)
    parents = sorted(
        {_h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(128)}
    )
    out = store.query_tableset_cells("cdc_state", parents, 4)
    return out.df.select(
        "h3index",
        F.col("last_seq").cast("long").alias("last_seq"),
        F.col("last_value").cast("long").alias("last_value"),
    )


def _q_streaming_cdc_tableset_sql() -> str:
    from ukis_h3cellstore_spark.entry_queries import _synth_py
    from ukis_h3cellstore_spark.h3 import cells as _h3c

    cell = sg.synth_cell("user_id", 6, DUCK)
    parents = sorted(
        {_h3c.cell_to_parent(_synth_py(i, 6), 4) for i in range(128)}
    )
    plist = ", ".join(str(p) for p in parents)
    parent4 = sg.to_parent("cell", 4, DUCK)
    return f"""
WITH c AS (SELECT {cell} AS cell, event_id AS seq,
                  (event_type = 'click') AS is_del,
                  CAST(round(value*100) AS BIGINT) AS cents
           FROM events),
w AS (SELECT cell, seq, is_del, cents,
             row_number() OVER (PARTITION BY cell ORDER BY seq DESC) AS rn
      FROM c),
live AS (SELECT * FROM w WHERE rn = 1 AND NOT is_del)
SELECT {parent4} AS h3index,
       CAST(MAX(seq) AS BIGINT) AS last_seq,
       CAST(SUM(cents) AS BIGINT) AS last_value
FROM live
WHERE {parent4} IN ({plist})
GROUP BY 1
"""


def q_streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor (ops/report.py:psi_from_counts): the
    documents table replayed as a stream, token counts binned map-side
    with the SAME fixed edges as the batch corpus_psi_drift gate, and
    the (source, bin) counts accumulated by a streaming aggregation in
    complete mode — counts are associative, so the final table is
    micro-batch-split-proof; PSI is computed relationally from the
    materialized counts."""

    from ukis_h3cellstore_spark.entry_queries_ops import _docs
    from ukis_h3cellstore_spark.ops.report import psi_from_counts
    from ukis_h3cellstore_spark.ops.text import tokens

    src = _docs(spark, sf_dir).select("doc_id", "source", "text")
    stream_dir = _stable_tmpdir("psi_src_", sf_dir)
    src.repartition(8).write.mode("overwrite").parquet(stream_dir)
    stream = st.read_stream(spark, stream_dir, src.schema, max_files_per_trigger=2)
    nt = F.size(tokens("text")).cast("long")
    b = F.lit(4)
    for i, e in ((3, 90.0), (2, 70.0), (1, 50.0), (0, 30.0)):
        b = F.when(nt < F.lit(e), F.lit(i)).otherwise(b)
    binned = stream.select(F.col("source"), b.cast("int").alias("bin"))
    counts = binned.groupBy("source", "bin").count()
    _SINK_COUNTER[0] += 1
    sink = f"psi_sink_{_SINK_COUNTER[0]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    # eager checkpoint: the counts table is consumed by three
    # sub-aggregations inside psi_from_counts; a fresh LogicalRDD also
    # sidesteps the view self-join attribute-conflict analyzer error
    counts_tbl = spark.table(sink).localCheckpoint(eager=True)
    return psi_from_counts(
        counts_tbl, "source", "bin", "count", nbins=5, smooth=1
    )


_Q_STREAMING_PSI_SQL = r"""
WITH d AS (SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS nt
           FROM documents),
b AS (SELECT source, CASE WHEN nt < 30 THEN 0 WHEN nt < 50 THEN 1
                          WHEN nt < 70 THEN 2 WHEN nt < 90 THEN 3
                          ELSE 4 END AS bin
      FROM d),
cells AS (SELECT source, bin, COUNT(*) AS c FROM b GROUP BY 1,2),
grp AS (SELECT source, SUM(c) AS ng FROM cells GROUP BY 1),
pool AS (SELECT bin, SUM(c) AS cp FROM cells GROUP BY 1),
tot AS (SELECT SUM(c) AS n FROM cells),
bins AS (SELECT unnest(range(5)) AS bin),
grid AS (SELECT g.source, g.ng, bi.bin, COALESCE(cells.c, 0) AS c,
                COALESCE(pool.cp, 0) AS cp
         FROM grp g CROSS JOIN bins bi
         LEFT JOIN cells ON cells.source = g.source AND cells.bin = bi.bin
         LEFT JOIN pool ON pool.bin = bi.bin)
SELECT source, CAST(ng AS BIGINT) AS n_group,
       round(SUM(((c+1)/CAST(ng+5 AS DOUBLE)
                  - (cp+1)/CAST((SELECT n FROM tot)+5 AS DOUBLE))
             * ln(((c+1)/CAST(ng+5 AS DOUBLE))
                  / ((cp+1)/CAST((SELECT n FROM tot)+5 AS DOUBLE)))), 6) AS psi
FROM grid GROUP BY 1, 2
"""


QUERIES_STREAM: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "streaming_novelty": q_streaming_novelty,
    "streaming_cdc_upsert": q_streaming_cdc_upsert,
    "streaming_cdc_upsert_jvm": q_streaming_cdc_upsert_jvm,
    "streaming_cdc_tableset": q_streaming_cdc_tableset,
    "streaming_psi_drift": q_streaming_psi_drift,
    "streaming_robust_score": q_streaming_robust_score,
    "streaming_ttl_dedup": q_streaming_ttl_dedup,
    "streaming_hll_distinct": q_streaming_hll_distinct,
    "streaming_sliding_window": q_streaming_sliding_window,
    "streaming_domain_cap": q_streaming_domain_cap,
    "streaming_segment_dedup": q_streaming_segment_dedup,
    "streaming_stateful_accumulator": q_streaming_stateful_accumulator,
    "streaming_topk": q_streaming_topk,
    "streaming_tableset_ingest": q_streaming_tableset_ingest,
    "streaming_windowed_rollup": q_streaming_windowed_rollup,
    "streaming_dedup_exact": q_streaming_dedup_exact,
    "streaming_sessionize": q_streaming_sessionize,
    "streaming_interval_join": q_streaming_interval_join,
}

ORACLES_STREAM: dict[str, str] = {
    "streaming_novelty": _Q_STREAMING_NOVELTY_SQL,
    "streaming_cdc_upsert": _Q_STREAMING_CDC_UPSERT_SQL,
    "streaming_cdc_upsert_jvm": _Q_STREAMING_CDC_UPSERT_SQL,
    "streaming_cdc_tableset": _q_streaming_cdc_tableset_sql(),
    "streaming_psi_drift": _Q_STREAMING_PSI_SQL,
    "streaming_robust_score": _Q_STREAMING_ROBUST_SCORE_SQL,
    "streaming_ttl_dedup": _Q_STREAMING_TTL_DEDUP_SQL,
    "streaming_hll_distinct": _Q_STREAMING_HLL_SQL,
    "streaming_sliding_window": _Q_STREAMING_SLIDING_SQL,
    "streaming_domain_cap": _Q_STREAMING_DOMAIN_CAP_SQL,
    "streaming_segment_dedup": _Q_STREAMING_SEGMENT_DEDUP_SQL,
    "streaming_stateful_accumulator": _q_streaming_stateful_accumulator_sql(),
    "streaming_topk": _Q_STREAMING_TOPK_SQL,
    "streaming_tableset_ingest": _q_streaming_tableset_ingest_sql(),
    "streaming_windowed_rollup": _q_streaming_windowed_rollup_sql(),
    "streaming_dedup_exact": _Q_STREAMING_DEDUP_EXACT_SQL,
    "streaming_sessionize": _Q_STREAMING_SESSIONIZE_SQL,
    "streaming_interval_join": _Q_STREAMING_INTERVAL_JOIN_SQL,
}
