"""Round-10 operator tests: the first-class ``ops.sessions.funnel``
(promoted from the gate per the round-9 verdict), its per-user and
unbounded-window modes, and funnel/gate equivalence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ukis_h3cellstore_spark.ops.sessions import funnel


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts long"
    )


def test_funnel_basic_numeric_window(spark):
    # u0 converts all the way; u1 stalls at view (click outside the
    # window); u2 never signs up (purchase first doesn't count)
    rows = [
        (0, "signup", 0), (0, "view", 10), (0, "click", 15),
        (0, "purchase", 20),
        (1, "signup", 0), (1, "view", 50), (1, "click", 200),
        (2, "purchase", 0), (2, "view", 5),
    ]
    rep = {
        r["stage_name"]: r
        for r in funnel(
            _ev(spark, rows),
            ["signup", "view", "click", "purchase"],
            window=100,
        ).collect()
    }
    assert rep["signup"]["n_users"] == 2
    assert rep["view"]["n_users"] == 2
    assert rep["click"]["n_users"] == 1
    assert rep["purchase"]["n_users"] == 1
    assert rep["signup"]["conv_milli"] == 1000
    assert rep["view"]["conv_milli"] == 1000
    assert rep["click"]["conv_milli"] == 500
    assert rep["purchase"]["conv_milli"] == 1000


def test_funnel_ordering_is_strict(spark):
    # the view BEFORE the signup must not count
    rows = [(0, "view", 0), (0, "signup", 10)]
    rep = {
        r["stage_name"]: r["n_users"]
        for r in funnel(
            _ev(spark, rows), ["signup", "view"], window=100
        ).collect()
    }
    assert rep == {"signup": 1, "view": 0}


def test_funnel_unbounded_window(spark):
    rows = [(0, "signup", 0), (0, "view", 10_000_000)]
    rep = {
        r["stage_name"]: r["n_users"]
        for r in funnel(_ev(spark, rows), ["signup", "view"]).collect()
    }
    assert rep == {"signup": 1, "view": 1}


def test_funnel_earliest_hit_not_best_hit(spark):
    # the fold takes the EARLIEST qualifying stage event: the view at
    # t=90 opens click window [90, 190], so the click at 193 misses —
    # even though anchoring on the later view at 95 ([95, 195]) would
    # have caught it (earliest-hit, not best-path, semantics)
    rows = [
        (0, "signup", 0), (0, "view", 90), (0, "view", 95),
        (0, "click", 193),
    ]
    rep = {
        r["stage_name"]: r["n_users"]
        for r in funnel(
            _ev(spark, rows), ["signup", "view", "click"], window=100
        ).collect()
    }
    assert rep["view"] == 1 and rep["click"] == 0


def test_funnel_per_user_mode(spark):
    rows = [
        (0, "signup", 0), (0, "view", 10),
        (1, "signup", 5),
    ]
    got = {
        r["user_id"]: r
        for r in funnel(
            _ev(spark, rows), ["signup", "view"], window=100, per_user=True
        ).collect()
    }
    assert got[0]["stage1_ts"] == 0 and got[0]["stage2_ts"] == 10
    assert got[1]["stage1_ts"] == 5 and got[1]["stage2_ts"] is None


def test_funnel_empty_stages_raises(spark):
    with pytest.raises(ValueError):
        funnel(_ev(spark, [(0, "signup", 0)]), [])


def test_funnel_zero_prev_stage_converts_nobody(spark):
    rows = [(0, "view", 0)]
    rep = {
        r["stage_name"]: r
        for r in funnel(
            _ev(spark, rows), ["signup", "view", "click"], window=10
        ).collect()
    }
    assert rep["signup"]["n_users"] == 0
    # stage 2: 0/0 -> 0, not a division error (ANSI div guard)
    assert rep["view"]["conv_milli"] == 0
    assert rep["click"]["conv_milli"] == 0


def test_funnel_matches_gate_on_timestamps(spark, tmp_path):
    """The gate is a thin wrapper: same numbers through both paths."""
    import random

    from ukis_h3cellstore_spark.entry_queries_ops import (
        q_events_funnel_conversion,
    )

    rng = random.Random(10)
    types = ["signup", "view", "click", "purchase", "scroll"]
    rows = [
        (rng.randrange(20), rng.choice(types), float(rng.randrange(0, 200_000)))
        for _ in range(400)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, sec double"
    ).select("user_id", "event_type", F.timestamp_seconds("sec").alias("ts"))
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    via_gate = sorted(
        tuple(r) for r in q_events_funnel_conversion(spark, d).collect()
    )
    via_op = sorted(
        tuple(r)
        for r in funnel(
            spark.read.parquet(f"{d}/events.parquet"),
            ["signup", "view", "click", "purchase"],
            window=F.expr("INTERVAL 24 HOURS"),
        ).collect()
    )
    assert via_gate == via_op


def test_ngram_diversity_approx_close_to_exact(spark):
    """approx=True (HLL++, rsd=0.02) must track the exact distinct
    count within a generous multiple of the configured rsd on the
    fixture corpus, and every structural invariant must still hold."""
    from ukis_h3cellstore_spark.ops.text import ngram_diversity

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        r["source"]: r
        for r in ngram_diversity(docs, "source", "text", approx=False).collect()
    }
    approx = {
        r["source"]: r
        for r in ngram_diversity(
            docs, "source", "text", approx=True, rsd=0.02
        ).collect()
    }
    assert set(exact) == set(approx)
    for src, er in exact.items():
        ar = approx[src]
        # totals are exact in both modes
        assert ar["n_docs"] == er["n_docs"]
        assert ar["total_ngrams"] == er["total_ngrams"]
        # distinct estimate within 5x the 2% rsd (catches gross breakage
        # without flaking on estimator variance)
        rel = abs(ar["distinct_ngrams"] - er["distinct_ngrams"]) / max(
            er["distinct_ngrams"], 1
        )
        assert rel <= 0.10, (src, er["distinct_ngrams"], ar["distinct_ngrams"])
        assert 0 <= ar["diversity_milli"] <= 1000


def test_ngram_diversity_gate_unchanged(spark):
    """The gate wraps the exact operator — column names and values must
    match the pre-promotion inline implementation (hash-gate parity)."""
    from ukis_h3cellstore_spark.entry_queries_ops import (
        q_corpus_ngram_diversity,
    )

    out = q_corpus_ngram_diversity(spark, "/root/testdata/sf0.001")
    assert out.columns == [
        "source", "n_docs", "total_tokens", "total_trigrams",
        "distinct_trigrams", "diversity_milli",
    ]
    rows = out.collect()
    assert rows
    for r in rows:
        assert 0 <= r["distinct_trigrams"] <= r["total_trigrams"]
        assert 0 <= r["diversity_milli"] <= 1000


def _cdc_final(spark, src, d, maxf, sink):
    """Stage ``src`` as 5 parquet files under ``d``, run ``cdc_upsert``
    over it at ``maxf`` files per trigger into a memory sink named
    ``sink`` and return the sink materialized as the max-``last_seq``
    row per key, as a DataFrame."""
    from ukis_h3cellstore_spark import streaming as st

    src.repartition(5).write.mode("overwrite").parquet(d)
    stream = st.read_stream(spark, d, src.schema, max_files_per_trigger=maxf)
    out = st.cdc_upsert(stream, "user_id", "seq", "is_del", "cents")
    q = (
        out.writeStream.format("memory").queryName(sink)
        .outputMode("update").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120), "cdc stream did not finish"
    finally:
        q.stop()
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.max(F.struct("last_seq", "is_deleted", "last_value")).alias("m"))
        .select("user_id", "m.last_seq", "m.is_deleted", "m.last_value")
    )


def test_cdc_upsert_matches_bruteforce(spark, tmp_path):
    """cdc_upsert equals a brute-force per-key max of (seq, is_delete,
    value) on a feed with duplicate keys per batch, tombstones and
    out-of-order sequence numbers, at one and at five files per
    micro-batch."""
    import random

    rng = random.Random(1010)
    rows = [
        (
            rng.randrange(40),
            rng.randrange(1000),
            rng.random() < 0.15,
            rng.randrange(10_000),
        )
        for _ in range(2000)
    ]
    src = spark.createDataFrame(
        rows, "user_id long, seq long, is_del boolean, cents long"
    )
    want: dict = {}
    for k, seq, dele, val in rows:
        want[k] = max(want.get(k, (seq, dele, val)), (seq, dele, val))
    for maxf in (1, 5):
        got = _cdc_final(
            spark, src, str(tmp_path / f"cdc_{maxf}"), maxf, f"t_cdc_bf_{maxf}"
        )
        assert {
            r["user_id"]: (r["last_seq"], r["is_deleted"], r["last_value"])
            for r in got.collect()
        } == want, maxf


def test_cdc_upsert_keeps_input_types(spark, tmp_path):
    """The output columns carry the input column types (no widening of
    ``int`` to ``bigint``)."""
    src = spark.createDataFrame(
        [(1, 10, False, 5), (1, 20, True, 0), (2, 7, False, 3)],
        "user_id int, seq int, is_del boolean, cents int",
    )
    got = _cdc_final(spark, src, str(tmp_path / "cdc_int"), 1, "t_cdc_int")
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("user_id", "int"),
        ("last_seq", "int"),
        ("is_deleted", "boolean"),
        ("last_value", "int"),
    ]
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 20, True, 0),
        (2, 7, False, 3),
    ]


@pytest.mark.parametrize("col", ["seq", "is_del"])
def test_cdc_upsert_null_order_column_fails(spark, tmp_path, col):
    """A change with a NULL seq or NULL delete flag has no place in
    the last-writer-wins order: the stream fails with an error naming
    the column instead of dropping the change or emitting a NULL
    tombstone flag."""
    from pyspark.errors import StreamingQueryException

    rows = [(1, 10, False, 5), (2, 11, False, 6)]
    rows.append((1, None, False, 7) if col == "seq" else (1, 12, None, 7))
    src = spark.createDataFrame(
        rows, "user_id long, seq long, is_del boolean, cents long"
    )
    with pytest.raises(StreamingQueryException, match=col):
        _cdc_final(
            spark, src, str(tmp_path / f"cdc_null_{col}"), 1, f"t_cdc_null_{col}"
        ).collect()


def test_cdc_upsert_bench_variant_matches_gate(spark, sf_dir):
    """The bench variant of streaming_cdc_upsert_jvm (cached source,
    one micro-batch) returns the gate's rows."""
    from ukis_h3cellstore_spark.entry_queries_stream import (
        q_streaming_cdc_upsert,
        q_streaming_cdc_upsert_jvm_bench,
    )

    gate = sorted(tuple(r) for r in q_streaming_cdc_upsert(spark, sf_dir).collect())
    bench = sorted(
        tuple(r) for r in q_streaming_cdc_upsert_jvm_bench(spark, sf_dir).collect()
    )
    assert gate and bench == gate


def test_funnel_repeated_stage_needs_distinct_events(spark):
    # one purchase can NOT satisfy ["purchase", "purchase"]; two can —
    # each stage consumes a distinct event (position-tracked fold)
    rows1 = [(0, "purchase", 5)]
    rep1 = {
        r["stage"]: r["n_users"]
        for r in funnel(
            _ev(spark, rows1), ["purchase", "purchase"], window=100
        ).collect()
    }
    assert rep1 == {1: 1, 2: 0}
    rows2 = [(0, "purchase", 5), (0, "purchase", 5)]  # equal ts, distinct
    rep2 = {
        r["stage"]: r["n_users"]
        for r in funnel(
            _ev(spark, rows2), ["purchase", "purchase"], window=100
        ).collect()
    }
    assert rep2 == {1: 1, 2: 1}
    # three stages over two events: stage 3 may not reuse stage 1's event
    rep3 = {
        r["stage"]: r["n_users"]
        for r in funnel(
            _ev(spark, rows2),
            ["purchase", "purchase", "purchase"],
            window=100,
        ).collect()
    }
    assert rep3 == {1: 1, 2: 1, 3: 0}


def test_funnel_matches_bruteforce_reference(spark):
    """Independent oracle: a pure-Python earliest-hit fold over the
    same rows (not the wrapper — the semantics themselves)."""
    import random

    rng = random.Random(77)
    types = ["a", "b", "c"]
    rows = [
        (rng.randrange(12), rng.choice(types), rng.randrange(0, 300))
        for _ in range(250)
    ]
    stages, window = ["a", "b", "c"], 60

    def brute():
        by_user: dict = {}
        for u, et, ts in rows:
            by_user.setdefault(u, []).append((ts, et))
        counts = [0] * len(stages)
        for evs in by_user.values():
            evs.sort()
            prev_t, used, reached = None, set(), 0
            for si, s in enumerate(stages):
                hit = None
                for pos, (ts, et) in enumerate(evs):
                    if et != s or pos in used:
                        continue
                    if prev_t is not None and (
                        ts < prev_t or ts > prev_t + window
                    ):
                        continue
                    hit = (ts, pos)
                    break
                if hit is None:
                    break
                prev_t = hit[0]
                used.add(hit[1])
                reached = si + 1
            for si in range(reached):
                counts[si] += 1
        return counts

    want = brute()
    got = {
        r["stage"]: r["n_users"]
        for r in funnel(_ev(spark, rows), stages, window=window).collect()
    }
    assert [got[i + 1] for i in range(len(stages))] == want


def test_range_tiebreaker_tolerates_map_and_dotted_columns(spark):
    """The default tiebreak hash must skip unhashable (map) columns and
    reference dotted names literally instead of raising at plan time."""
    from ukis_h3cellstore_spark.ops.robust import grouped_rank

    df = spark.createDataFrame(
        [(1, "g1", 2.0, {"k": "v"}), (2, "g1", 1.0, {"k": "w"}),
         (3, "g2", 5.0, None)],
        "`id.x` long, g string, v double, props map<string,string>",
    )
    out = {
        r["id.x"]: r["rank"]
        for r in grouped_rank(df, "g", ["v"]).collect()
    }
    assert out == {2: 1, 1: 2, 3: 1}


def test_cross_modal_gate_semantics_hand_built(spark, tmp_path, monkeypatch):
    """The flagship's stage-2 contract on a hand-built corpus:
    identical payloads with agreeing captions dedup keep-first;
    identical payloads with conflicting captions quarantine BOTH."""
    from ukis_h3cellstore_spark.ops import dedup as D
    from ukis_h3cellstore_spark.ops import multimodal as M

    # docs 1/2: same long text (same payload, agreeing captions)
    # docs 3/4: phash-near variants (shared byte grams dominate) whose
    #   caption token sets diverge well below the 0.8 bar -> both
    #   orientations against 1/2 and each other must QUARANTINE
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    shuf = "gamma delta epsilon zeta eta theta alpha beta " * 6
    rows = [
        (1, base), (2, base),
        (3, base + "iota one two"), (4, shuf + "kappa four five"),
        (5, "totally unrelated short text nothing shared here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    payloads = M.attach_binary_payload(docs)
    pairs = M.phash_dup_pairs(payloads, max_hamming=8).select("id_a", "id_b")
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got_pairs  # identical payloads -> hamming 0
    sh = D.shingle_df(docs, "text", "doc_id", 1)
    verified = D.verify_pairs_jaccard(pairs, sh, "doc_id", 0.8).select(
        "id_a", "id_b"
    )
    vp = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (1, 2) in vp  # captions agree -> true duplicate, drop id 2
    inconsistent = got_pairs - vp
    # the quarantine branch must actually fire: docs 3/4 are
    # phash-near to 1/2 and each other with caption jaccard < 0.8
    assert (3, 4) in inconsistent and (1, 3) in inconsistent
    for a, b in inconsistent:
        # every quarantined pair really has caption jaccard < 0.8
        ta = dict(rows)[a].split()
        tb = dict(rows)[b].split()
        j = len(set(ta) & set(tb)) / len(set(ta) | set(tb))
        assert j < 0.8, (a, b, j)


def test_margin_pivot_invariants(spark, sf_dir):
    """Structural invariants of both margin miners on the fixture
    embeddings: cos_top1 >= cos_top2 (so margin >= 0 up to the output
    rounding), the neighbor is never the query, and the IVF miner's
    per-query top-1 cosine never exceeds the exact miner's (probing a
    subset of lists can only miss neighbors, not invent better ones)."""
    from ukis_h3cellstore_spark.ops.similarity import (
        margin_pairs,
        margin_pairs_ivf,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {r["query_id"]: r for r in margin_pairs(e, e).collect()}
    ivf = {
        r["query_id"]: r
        for r in margin_pairs_ivf(e, e, n_centroids=16, nprobe=2).collect()
    }
    for name, rows in [("exact", exact), ("ivf", ivf)]:
        for qid, r in rows.items():
            assert r["neighbor_id"] != qid, name
            assert r["cos_top1"] >= r["cos_top2"], (name, qid)
            assert r["margin"] >= -1e-9, (name, qid)
    for qid, r in ivf.items():
        assert r["cos_top1"] <= exact[qid]["cos_top1"] + 1e-9, qid
