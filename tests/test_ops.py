"""Semantic unit tests for the training-data operators (ops/*) on
hand-built fixtures — complements the driver's oracle hash-match with
known-answer assertions, plus plan-quality checks (broadcast join in
the ANN path, no row-at-a-time Python UDFs in JVM-path operators)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ukis_h3cellstore_spark.ops import dedup as D
from ukis_h3cellstore_spark.ops import multimodal as M
from ukis_h3cellstore_spark.ops import similarity as S
from ukis_h3cellstore_spark.ops import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over a sleepy dog"),  # near dup
        (4, "completely different content about spark engines"),
        (5, ""),  # empty doc edge case
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------------------------ dedup


def test_dedup_exact_groups(docs):
    out = D.dedup_exact(docs).toPandas()
    dup_group = out[out.n_docs == 2]
    assert len(dup_group) == 1
    assert int(dup_group.canonical_id.iloc[0]) == 1  # min doc_id wins
    assert out.n_docs.sum() == 5


def test_minhash_identical_docs_identical_signatures(docs):
    sig = D.minhash_signatures(docs).toPandas().set_index("doc_id")
    assert (sig.loc[1] == sig.loc[2]).all()
    assert not (sig.loc[1] == sig.loc[4]).all()


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    pairs = D.minhash_lsh_pairs(docs, min_est_jaccard=0.2).toPandas()
    got = {(int(a), int(b)) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (1, 2) in got
    est = pairs.set_index(["id_a", "id_b"]).est_jaccard
    assert est.loc[(1, 2)] == 1.0
    # unrelated docs never pair
    assert not any(4 in p for p in got)


def test_ngram_jaccard_exact_dup_is_one(docs):
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.3).toPandas()
    j = pairs.set_index(["id_a", "id_b"]).jaccard
    assert j.loc[(1, 2)] == 1.0
    # near-dup shares most shingles but not all
    assert 0.3 <= j.loc[(1, 3)] < 1.0


def test_simhash_identical_equal_and_different_far(docs):
    out = D.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    assert out.loc[1] == out.loc[2]
    assert out.loc[1] != out.loc[4]


# -------------------------------------------------------------- similarity


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # identical to 0
        (2, [0.9, 0.1, 0.0]),   # close to 0
        (3, [0.0, 1.0, 0.0]),   # orthogonal
        (4, [-1.0, 0.0, 0.0]),  # opposite
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vecs):
    q = vecs.filter(F.col("vec_id") == 0)
    out = S.cosine_topk(vecs, q, k=2).toPandas()
    assert list(out.sort_values("rank").neighbor_id) == [1, 2]
    assert out.cosine_sim.iloc[0] == 1.0


def test_cosine_topk_uses_broadcast_join(vecs):
    q = vecs.filter(F.col("vec_id") == 0)
    plan = S.cosine_topk(vecs, q, k=1)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    assert "BatchEvalPython" not in plan  # pure JVM dot products


def test_lsh_topk_finds_identical(vecs):
    q = vecs.filter(F.col("vec_id") == 0)
    out = S.lsh_topk(vecs, q, k=1).toPandas()
    assert len(out) == 1 and int(out.neighbor_id.iloc[0]) == 1


def test_embedding_dup_pairs_identical(vecs):
    out = S.embedding_dup_pairs(vecs, threshold=0.99).toPandas()
    got = {(int(a), int(b)) for a, b in zip(out.id_a, out.id_b)}
    assert (0, 1) in got
    assert all(c >= 0.99 for c in out.cosine_sim)


# ------------------------------------------------------------------- text


def test_text_stats_known_answer(docs):
    out = X.text_stats(docs).toPandas().set_index("doc_id")
    r = out.loc[1]
    assert r.n_tokens == 9
    assert r.n_chars == 43
    assert r.n_stopwords == 2  # "the" twice; "over" is not in the list
    assert out.loc[5].n_tokens == 0 and out.loc[5].quality_score == 0.0


def test_text_stats_is_jvm_only(docs):
    plan = X.text_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_language_id_picks_marker_language(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat on the mat"),
            (2, "der hund und die katze sind im haus"),
        ],
        "doc_id long, text string",
    )
    out = X.language_id(df).toPandas().set_index("doc_id")
    assert out.loc[1].predicted_lang == "en"
    assert out.loc[2].predicted_lang == "de"


def test_token_counts_monotone(docs):
    out = X.token_counts(docs).toPandas().set_index("doc_id")
    assert out.loc[1].n_tokens_ws == 9
    assert out.loc[1].n_tokens_bpe >= out.loc[1].n_tokens_ws
    assert out.loc[5].n_tokens_ws == 0


def test_fingerprint_deterministic_and_discriminative(docs):
    out = X.fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
    assert out.loc[1] == out.loc[2]
    assert out.loc[1] != out.loc[4]
    assert out.loc[5] == 0  # empty doc sentinel


# ------------------------------------------------------------- multimodal


def test_multimodal_stub_decode_schema_and_determinism(docs):
    payloads = M.attach_binary_payload(docs)
    assert dict(payloads.dtypes)["payload"] == "binary"
    meta = M.decode_image_metadata(payloads).toPandas().set_index("doc_id")
    # deterministic stub: identical payloads → identical metadata
    assert (meta.loc[1] == meta.loc[2]).all()
    assert (meta.width >= 1).all() and (meta.height >= 1).all()
    assert (meta.channels == 3).all()


def test_multimodal_frame_sampling_stub(docs):
    import math

    payloads = M.attach_binary_payload(docs)
    frames = M.sample_frames_stub(payloads, every_n_bytes=16).toPandas()
    lens = {
        r.doc_id: len(r.payload) for r in payloads.select("doc_id", "payload").collect()
    }
    per_doc = frames.groupby("doc_id").frame_no.agg(["count", "min"])
    for doc_id, n in lens.items():
        assert per_doc.loc[doc_id, "count"] == max(math.ceil(n / 16), 1)
        assert per_doc.loc[doc_id, "min"] == 0
    # frames concatenated in order reconstruct the payload byte-exactly
    originals = {
        r.doc_id: bytes(r.payload)
        for r in payloads.select("doc_id", "payload").collect()
    }
    rebuilt: dict[int, bytes] = {}
    for r in frames.sort_values(["doc_id", "frame_no"]).itertuples():
        rebuilt[r.doc_id] = rebuilt.get(r.doc_id, b"") + bytes(r.frame_payload)
    assert rebuilt == originals


def test_simhash_dup_groups(docs):
    groups = D.simhash_dup_groups(docs).toPandas()
    # docs 1 and 2 are identical → exactly one bucket of ≥2, anchored
    # at the lowest doc id
    assert (groups.n_docs >= 2).all()
    assert 1 in set(groups.canonical_id)


def test_ivf_topk_finds_identical_neighbor(vecs):
    q = vecs.filter(F.col("vec_id") == 0)
    out = S.ivf_topk(vecs, q, k=2, n_centroids=3, nprobe=2).toPandas()
    # vec 1 is identical to the query and shares its inverted list
    assert int(out.sort_values("rank").neighbor_id.iloc[0]) == 1
    assert out.cosine_sim.max() == 1.0


def test_ngram_jaccard_stop_shingle_cap(docs):
    # with a df cap of 1, every shared shingle is dropped → no pairs
    out = D.ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=1).toPandas()
    assert len(out) == 0


def test_minhash_lsh_remainder_band_used(docs):
    # num_hashes not divisible by band_size: the remainder slots must
    # form a final short band instead of being silently dropped
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=7, band_size=2, min_est_jaccard=0.2
    ).toPandas()
    got = {(int(a), int(b)) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (1, 2) in got
    est = pairs.set_index(["id_a", "id_b"]).est_jaccard
    assert est.loc[(1, 2)] == 1.0


def test_simhash_hamming_pairs_exact_vs_bruteforce(docs):
    fps = D.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    ids = sorted(fps.index)
    for max_h in (0, 2, 4):
        want = {
            (a, b, bin(int(fps.loc[a]) ^ int(fps.loc[b])).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(int(fps.loc[a]) ^ int(fps.loc[b])).count("1") <= max_h
        }
        got = {
            (int(r.id_a), int(r.id_b), int(r.hamming))
            for r in D.simhash_hamming_pairs(docs, max_hamming=max_h).collect()
        }
        assert got == want, f"max_hamming={max_h}"


def test_kmeans_fit_separates_obvious_clusters(spark):
    # ids 0/1 (the deterministic seeds) sit in different clusters
    rows = [
        (i, [10.0 + 0.01 * i, float(i % 3)] if i % 2 == 0 else [float(i % 3), 10.0 + 0.01 * i])
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = S.kmeans_fit(df, n_centroids=2, max_iter=3).toPandas()
    assert len(cent) == 2
    vecs = {int(r.centroid_id): list(r.c_vec) for r in cent.itertuples()}
    # one centroid per axis cluster, means near the cluster means
    axes = sorted((v[0] > v[1]) for v in vecs.values())
    assert axes == [False, True]


def _kmeans_rows():
    return [(i, [float(i % 7), float((3 * i) % 5), 1.0]) for i in range(40)]


def _serial_lloyd(rows, n_centroids, iters):
    """Pure-Python kmeans_fit replica: lowest-id seeds, cosine argmax
    (ties → lowest centroid id), per-dim means as serial folds in id
    order."""

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    rows = sorted(rows)
    cents = {i: list(v) for i, v in rows[:n_centroids]}
    for _ in range(iters):
        members: dict = {}
        for _i, v in rows:
            best = max(cents, key=lambda c: (cos(v, cents[c]), -c))
            members.setdefault(best, []).append(v)
        cents = {}
        for c, vs in members.items():
            mean = []
            for d in range(len(vs[0])):
                acc = 0.0
                for v in vs:
                    acc += v[d]
                mean.append(acc / len(vs))
            cents[c] = mean
    return cents


def test_kmeans_centroids_equal_serial_mean_of_final_assignment(spark):
    """The streaming avg update equals a serial per-dim mean of the
    final assignment, and does not depend on the input partitioning."""
    df = spark.createDataFrame(_kmeans_rows(), "vec_id long, embedding array<float>")
    want = _serial_lloyd(_kmeans_rows(), 4, 2)
    got = {}
    for parts in (1, 7):
        cent = S.kmeans_fit(df.repartition(parts), n_centroids=4, max_iter=2)
        got[parts] = {int(r.centroid_id): list(r.c_vec) for r in cent.collect()}
    assert got[1] == got[7]
    assert got[1].keys() == want.keys()
    for c, vec in want.items():
        assert all(abs(x - y) < 1e-9 for x, y in zip(got[1][c], vec))


@pytest.mark.parametrize(
    "bad",
    [[float("nan"), 1.0, 1.0], [None, 1.0, 1.0], None, [float("inf"), 1.0, 1.0]],
    ids=["nan_component", "null_component", "null_vector", "inf_component"],
)
def test_training_fails_loudly_on_non_finite_vectors(spark, bad):
    """One bad training vector must fail the job naming the column —
    not collapse the centroids into NaN, or drop silently out of the
    mean."""
    rows = _kmeans_rows()
    rows[17] = (17, bad)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match=r"kmeans_fit: .* vector column 'embedding'"):
        S.kmeans_fit(df, n_centroids=4, max_iter=2).collect()
    with pytest.raises(Exception, match=r"pq_train: .* vector column 'embedding'"):
        S.pq_train(df, m=1, n_centroids=4, dims=3, max_iter=2).collect()


def test_ivf_topk_no_corpus_window(vecs):
    """The corpus-side inverted-list assignment must be a max_by hash
    aggregate, not a window sort over corpus × centroids."""
    q = vecs.filter(F.col("vec_id") == 0)
    plan = (
        S.ivf_topk(vecs, q, k=1, n_centroids=2, nprobe=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # max_by is the corpus assignment aggregate; no window partitions
    # by the corpus id (only query_id windows remain)
    assert "max_by" in plan
    assert "windowspecdefinition(neighbor_id" not in plan


def test_embedding_dup_pairs_bucket_cap_and_report(vecs):
    # cap of 1 drops every multi-member bucket → no pairs survive
    capped = S.embedding_dup_pairs(vecs, threshold=0.2, max_bucket_size=1)
    assert capped.count() == 0
    report = S.lsh_bucket_stats(vecs, max_bucket_size=1).toPandas()
    assert bool(report[report.n_vectors > 1].dropped.all())
    assert not bool(report[report.n_vectors <= 1].dropped.any())


# -------------------------------------------------------------- sampling


def test_split_by_hash_deterministic_and_proportional(spark):
    from ukis_h3cellstore_spark.ops import sampling as SM

    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    a = SM.split_by_hash(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    b = SM.split_by_hash(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["val"] / 20_000 - 0.1) < 0.01
    # identical across invocations (pure row function)
    assert a.orderBy("doc_id").collect() == b.orderBy("doc_id").collect()
    # appending a split at the end never moves earlier assignments
    c = SM.split_by_hash(df, {"train": 0.8, "val": 0.1, "extra": 0.05, "test": 0.05})
    moved = (
        a.alias("a").join(c.alias("c"), "doc_id")
        .filter((F.col("a.split") == "train") & (F.col("c.split") != "train"))
        .count()
    )
    assert moved == 0


def test_pack_documents_invariants(docs):
    from ukis_h3cellstore_spark.ops import sampling as SM

    packed = SM.pack_documents(docs, max_tokens=5, num_shards=2).toPandas()
    assert len(packed) == docs.count()
    for _, shard_rows in packed.groupby("shard"):
        sr = shard_rows.sort_values("doc_id")
        # offsets are the exclusive running token sum in id order
        assert list(sr.bin_offset) == list(sr.n_tokens.cumsum() - sr.n_tokens)
        # bins are derived from offsets
        assert (sr.bin == sr.bin_offset // 5).all()


def test_packing_stats_fill(docs):
    from ukis_h3cellstore_spark.ops import sampling as SM

    stats = SM.packing_stats(docs, max_tokens=8, num_shards=1).toPandas()
    assert stats.n_docs.sum() == docs.count()
    # every document's tokens are accounted for exactly once
    total = stats.total_tokens.sum()
    from ukis_h3cellstore_spark.ops import sampling as _
    assert total > 0


def test_subsample_by_source_rates(spark):
    from ukis_h3cellstore_spark.ops import sampling as SM

    rows = [(i, f"src{i % 2}") for i in range(10_000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = SM.subsample_by_source(df, {"src0": 0.5, "src1": 0.0}).toPandas()
    assert set(out.source) == {"src0"}  # src1 dropped entirely
    assert abs(len(out) / 5000 - 0.5) < 0.05
    # deterministic: same rows survive every run
    out2 = SM.subsample_by_source(df, {"src0": 0.5, "src1": 0.0}).toPandas()
    assert sorted(out.doc_id) == sorted(out2.doc_id)


def test_gopher_quality_flags_rules(spark):
    good = " ".join(
        ["the", "be", "to", "of", "and"] + ["word"] * 60
    )
    bullets = "\n".join(f"- item {i} the be" for i in range(10))
    dots = "\n".join(f"line {i} the be..." for i in range(10))
    symbols = " ".join(["#tag", "the", "be"] * 20)
    short = "the be to"
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, dots), (4, symbols), (5, short), (6, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in X.gopher_quality_flags(df).collect()}
    assert out[1].gopher_pass and out[1].n_words == 65
    assert out[1].stopword_hits == 5 and out[1].alpha_word_frac == 1.0
    # every line bullet-started -> bullet_line_frac 1.0 > 0.9
    assert out[2].bullet_line_frac == 1.0 and not out[2].gopher_pass
    # every line ellipsis-ended -> 1.0 > 0.3
    assert out[3].ellipsis_line_frac == 1.0 and not out[3].gopher_pass
    # 20 '#' over 60 words -> ratio 1/3 > 0.1
    assert out[4].symbol_word_ratio > 0.1 and not out[4].gopher_pass
    assert out[5].n_words == 3 and not out[5].gopher_pass
    # empty text: no words, rule measurements NULL, verdict False
    assert out[6].n_words == 0 and out[6].gopher_pass is False


def test_scrub_pii_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe@corp.io or call +1 (555) 010-0199 ok"),
            (2, "server at 192.168.0.17 responded"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = X.scrub_pii(df).toPandas().set_index("doc_id")
    assert "<EMAIL>" in out.loc[1].text_scrubbed
    assert "<PHONE>" in out.loc[1].text_scrubbed
    assert "jane.doe" not in out.loc[1].text_scrubbed
    assert out.loc[1].n_email == 1 and out.loc[1].n_phone == 1
    assert "<IPV4>" in out.loc[2].text_scrubbed and out.loc[2].n_ipv4 == 1
    assert out.loc[3].text_scrubbed == "nothing sensitive here"
    assert out.loc[3].n_email == out.loc[3].n_phone == out.loc[3].n_ipv4 == 0


# ------------------------------------------------- connected components


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3 plus island pair 10-11: two components, min-id labels
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    cc = {
        r.node: r.component
        for r in D.connected_components(pairs).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_cluster_stats(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (2, 3)], "id_a long, id_b long"
    )
    out = {
        r.component: (r.n_members, r.max_member)
        for r in D.duplicate_cluster_stats(pairs).collect()
    }
    assert out == {5: (3, 9), 2: (2, 3)}


def test_decontaminate_flags_overlap_counts(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # shares 5-grams
            (2, "nothing here matches the eval set at all"),
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string",
    )
    out = D.decontaminate_flags(train, evalset, k=5).collect()
    assert len(out) == 1
    assert out[0].doc_id == 1 and out[0].n_shared_shingles == 2


# --------------------------------------------------------- vocab / sessions


def test_vocab_topk_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "b a a c b"), (2, "c a")], "doc_id long, text string"
    )
    out = X.vocab_topk(df, k=2).collect()
    # a:3 first; b and c tie at 2 — lexicographic tiebreak picks b
    assert [(r.token, r.freq, r.doc_freq) for r in out] == [
        ("a", 3, 2),
        ("b", 2, 1),
    ]


def test_sessionize_gap_boundaries(spark):
    from ukis_h3cellstore_spark.ops import sessions as SS

    m = 60 * 1_000_000  # one minute in µs
    events = spark.createDataFrame(
        [
            (1, 0 * m, 1.0),
            (1, 10 * m, 2.0),   # same session (gap 10m)
            (1, 41 * m, 3.0),   # new session (gap 31m > 30m)
            (2, 0 * m, 4.0),    # separate user
        ],
        "user_id long, ts_us long, value double",
    )
    out = SS.session_stats(events, value_col="value").collect()
    stats = {(r.user_id, r.session_seq): r for r in out}
    assert set(stats) == {(1, 1), (1, 2), (2, 1)}
    s11 = stats[(1, 1)]
    assert s11.n_events == 2 and s11.duration_us == 10 * m
    assert s11.sum_value == 3.0
    assert stats[(1, 2)].session_start == 41 * m
    # exactly-30m gap stays in the same session (strictly greater starts one)
    events2 = spark.createDataFrame(
        [(1, 0, 1.0), (1, 30 * m, 1.0)], "user_id long, ts_us long, value double"
    )
    assert SS.session_stats(events2, value_col="value").count() == 1


# ------------------------------------------------------------- as-of join


def test_asof_join_backward_with_ties_and_tolerance(spark):
    from ukis_h3cellstore_spark.ops import joins as J

    left = spark.createDataFrame(
        [(1, 100, 10), (2, 100, 25), (3, 100, 5), (4, 200, 10)],
        "lid long, key long, ts_us long",
    )
    right = spark.createDataFrame(
        [(100, 10, 1.0), (100, 20, 2.0), (300, 1, 9.0)],
        "key long, ts_us long, payload double",
    )
    out = {
        r.lid: (r.asof_ts_us, r.asof_payload)
        for r in J.asof_join(left, right, on="key").collect()
    }
    assert out[1] == (10, 1.0)      # exact tie matches
    assert out[2] == (20, 2.0)      # latest of the two priors
    assert out[3] == (None, None)   # nothing at-or-before ts=5
    assert out[4] == (None, None)   # key never on the right

    tol = {
        r.lid: (r.asof_ts_us, r.asof_payload)
        for r in J.asof_join(left, right, on="key", tolerance=3).collect()
    }
    assert tol[2] == (None, None)   # 25-20 > 3 dropped
    assert tol[1] == (10, 1.0)      # 10-10 <= 3 kept


def test_asof_join_forward(spark):
    from ukis_h3cellstore_spark.ops import joins as J

    left = spark.createDataFrame(
        [(1, 100, 10), (2, 100, 25), (3, 100, 5), (4, 200, 10)],
        "lid long, key long, ts_us long",
    )
    right = spark.createDataFrame(
        [(100, 10, 1.0), (100, 20, 2.0), (300, 1, 9.0)],
        "key long, ts_us long, payload double",
    )
    out = {
        r.lid: (r.asof_ts_us, r.asof_payload)
        for r in J.asof_join(left, right, on="key", direction="forward").collect()
    }
    assert out[1] == (10, 1.0)      # exact tie matches
    assert out[2] == (None, None)   # nothing at-or-after ts=25
    assert out[3] == (10, 1.0)      # earliest of the two laters
    assert out[4] == (None, None)   # key never on the right
    tol = {
        r.lid: (r.asof_ts_us, r.asof_payload)
        for r in J.asof_join(
            left, right, on="key", direction="forward", tolerance=3
        ).collect()
    }
    assert tol[3] == (None, None)   # 10-5 > 3 dropped
    assert tol[1] == (10, 1.0)
    with pytest.raises(ValueError):
        J.asof_join(left, right, on="key", direction="sideways")


def test_asof_join_single_shuffle(spark):
    from ukis_h3cellstore_spark.ops import joins as J

    left = spark.createDataFrame([(1, 1, 1)], "lid long, key long, ts_us long")
    right = spark.createDataFrame([(1, 1, 1.0)], "key long, ts_us long, p double")
    plan = J.asof_join(left, right, on="key")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_lsh_verified_pairs_subset_of_exact(spark):
    docs = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),            # exact dup of 1
        (3, "a b c d e f g x"),            # near dup of 1/2
        (4, "p q r s t u v w"),            # unrelated
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.lsh_verified_pairs(
            df, min_est_jaccard=0.2, threshold=0.5
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    # every verified pair carries the EXACT jaccard and must appear in
    # the brute-force result; candidates are a recall-bounded subset
    for pair, j in got.items():
        assert pair in exact and abs(j - exact[pair]) < 1e-12
    assert (1, 2) in got and got[(1, 2)] == 1.0


def test_range_join_containment_and_boundaries(spark):
    from ukis_h3cellstore_spark.ops import joins as J

    left = spark.createDataFrame(
        [(1, 0), (2, 5), (3, 10), (4, 19), (5, 20), (6, 35)],
        "eid long, ts_us long",
    )
    ranges = spark.createDataFrame(
        [(100, 0, 20), (200, 10, 30), (300, 40, 50)],
        "rid long, start_us long, end_us long",
    )
    got = {
        (r.eid, r.rid)
        for r in J.range_join(left, ranges, bucket=7).collect()
    }
    # half-open [start, end): ts=20 is outside [0,20) but inside [10,30)
    assert got == {
        (1, 100), (2, 100), (3, 100), (4, 100),
        (3, 200), (4, 200), (5, 200),
    }
    # bucket width larger than every interval still matches exactly
    got_wide = {
        (r.eid, r.rid)
        for r in J.range_join(left, ranges, bucket=1000).collect()
    }
    assert got_wide == got
    # with equality keys, containment alone is not enough
    left_k = left.withColumn("k", (F.col("eid") % 2).cast("long"))
    ranges_k = ranges.withColumn("k", F.lit(1).cast("long"))
    keyed = {
        (r.eid, r.rid)
        for r in J.range_join(left_k, ranges_k, on="k", bucket=7).collect()
    }
    assert keyed == {(e, rr) for (e, rr) in got if e % 2 == 1}


def test_range_join_no_cross_join_in_plan(spark):
    from ukis_h3cellstore_spark.ops import joins as J

    left = spark.createDataFrame([(1, 1)], "eid long, ts_us long")
    ranges = spark.createDataFrame([(1, 0, 10)], "rid long, start_us long, end_us long")
    plan = (
        J.range_join(left, ranges)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_salted_join_matches_plain_join(spark):
    from ukis_h3cellstore_spark.ops import joins as J

    # skewed left: key 1 dominates; includes duplicate rows and a
    # key absent from the right
    left = spark.createDataFrame(
        [(1, "a")] * 7 + [(1, "b"), (2, "c"), (3, "d")],
        "k long, v string",
    )
    right = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, w double"
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, left.join(right, on="k", how=how).collect())
        )
        salted = sorted(
            map(tuple, J.salted_join(left, right, on="k", how=how, num_salts=4).collect())
        )
        assert salted == plain, how
    with pytest.raises(ValueError):
        J.salted_join(left, right, on="k", how="full")


# ----------------------------------------------- repetition / sampling


def test_repetition_stats_known_answer(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),     # 2-grams: ab,ba,ab,ba -> all duplicated
            (2, "x y z"),         # xy,yz -> unique
            (3, ""),              # no 2-grams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in X.repetition_stats(df).collect()}
    assert out[1].n_2grams == 4
    assert out[1].top_2gram_frac == 0.5 and out[1].dup_2gram_frac == 1.0
    assert out[2].n_2grams == 2
    assert out[2].top_2gram_frac == 0.5 and out[2].dup_2gram_frac == 0.0
    assert out[3].n_2grams == 0 and out[3].dup_2gram_frac == 0.0


def test_stratified_sample_exact_counts_and_determinism(spark):
    from ukis_h3cellstore_spark.ops import sampling as SM2

    rows = [(i, "s%d" % (i % 3)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = SM2.stratified_sample(df, "source", 5)
    b = SM2.stratified_sample(df, "source", 5)
    pa = sorted((r.source, r.doc_id) for r in a.collect())
    assert pa == sorted((r.source, r.doc_id) for r in b.collect())
    from collections import Counter
    c = Counter(s for s, _ in pa)
    assert c == {"s0": 5, "s1": 5, "s2": 5}
    # stratum smaller than n keeps everything
    tiny = spark.createDataFrame([(1, "only"), (2, "only")], "doc_id long, source string")
    assert SM2.stratified_sample(tiny, "source", 5).count() == 2


def test_chunk_documents_windows_and_overlap(spark):
    from ukis_h3cellstore_spark.ops import sampling as SM3

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    out = SM3.chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    chunks = {(r.doc_id, r.chunk_no): (r.chunk_text, r.n_tokens) for r in out}
    # stride 3: starts at tokens 0,3,6 (0-based)
    assert chunks[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert chunks[(1, 1)] == ("t3 t4 t5 t6", 4)
    assert chunks[(1, 2)] == ("t6", 1)
    assert chunks[(2, 0)] == ("a b", 2)
    assert not any(d == 3 for d, _ in chunks)  # empty doc -> no chunks
    import pytest as _pytest
    with _pytest.raises(ValueError):
        SM3.chunk_documents(df, chunk_tokens=4, overlap=4)


# ------------------------------------------------- round-4 curation ops


def test_length_percentile_filter_trims_tails(spark):
    # lang 'a': lengths 1..20 — p05/p95 of 1..20 ≈ 1.95/19.05, so
    # exactly 1 and 20 fall outside; lang 'b' untouched control
    rows = [(i, "x", "a", i) for i in range(1, 21)]
    rows += [(100 + i, "y", "b", 50) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars long")
    kept = X.length_percentile_filter(df).toPandas()
    a = kept[kept.lang == "a"]
    assert sorted(a.n_chars) == list(range(2, 20))
    assert len(kept[kept.lang == "b"]) == 5  # constant column: all kept


def test_length_percentile_filter_is_broadcast_two_pass(spark):
    rows = [(i, "x", "a", i) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars long")
    plan = (
        X.length_percentile_filter(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # cutoffs broadcast, corpus streams
    assert "Window" not in plan  # no percent_rank sort over the corpus


def test_vocab_oov_report_counts(spark):
    # vocab k=2 -> {'a','b'} (freq 3,2); 'zz'/'q' are OOV
    rows = [
        (1, "a a b", "en"),
        (2, "a b zz", "en"),
        (3, "q", "de"),
        (4, "   ", "de"),  # empty -> excluded entirely
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: r for r in X.vocab_oov_report(df, k=2).collect()}
    assert out["en"].n_docs == 2 and out["en"].total_tokens == 6
    assert out["en"].oov_tokens == 1  # 'zz'
    assert out["de"].n_docs == 1 and out["de"].oov_tokens == 1  # 'q'
    assert abs(out["en"].oov_rate - round(1 / 6, 6)) < 1e-9
    assert "de" in out and len(out) == 2


def test_cross_source_duplicates_pairs(spark):
    rows = [
        (1, "same doc", "s1"),
        (2, "same doc", "s2"),
        (3, "same doc", "s3"),
        (4, "only here", "s1"),
        (5, "same doc", "s1"),  # repeat within s1 collapses (distinct)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.source_a, r.source_b): r.n_shared
        for r in X.cross_source_duplicates(df).collect()
    }
    # all unordered pairs of {s1,s2,s3}, one shared text each
    assert got == {("s1", "s2"): 1, ("s1", "s3"): 1, ("s2", "s3"): 1}


def test_cross_source_duplicates_custom_key(spark):
    rows = [(1, "PREFIX unique tail one", "s1"), (2, "PREFIX other tail", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    assert X.cross_source_duplicates(df).count() == 0  # exact: no dups
    by_prefix = X.cross_source_duplicates(
        df, key=F.md5(F.substring(F.col("text"), 1, 6))
    ).collect()
    assert len(by_prefix) == 1 and by_prefix[0].n_shared == 1


# ------------------------------------------------- product quantization


def _clustered_vecs(spark, n_per=6, dim=8):
    # 3 well-separated clusters; ids INTERLEAVE clusters so the
    # lowest-id k-means seeds are cluster-diverse (ids 0,1,2 = one
    # seed per cluster — the behavior a shuffled real corpus gives)
    rows = []
    for i in range(n_per):
        for c, base in enumerate([0, 3, 6]):
            v = [0.0] * dim
            v[base] = 10.0
            v[base + 1] = 5.0 + 0.1 * i  # intra-cluster variation
            rows.append((i * 3 + c, v, c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_pq_encode_codes_shape_and_cluster_identity(spark):
    df = _clustered_vecs(spark)
    books = S.pq_train(df, m=2, n_centroids=3, dims=8, max_iter=2)
    codes = {int(r.vec_id): list(r.codes) for r in S.pq_encode(df, books, m=2, dims=8).collect()}
    assert len(codes) == 18 and all(len(c) == 2 for c in codes.values())
    # with cluster-diverse seeds every cluster collapses to ONE code
    # tuple and no tuple is shared across clusters
    labels = {int(r.vec_id): int(r.label) for r in df.collect()}
    by_label: dict[int, set] = {}
    for vid, c in codes.items():
        by_label.setdefault(labels[vid], set()).add(tuple(c))
    assert all(len(s) == 1 for s in by_label.values()), by_label
    assert len(set.union(*by_label.values())) == 3


def test_pq_topk_recall_vs_bruteforce(spark):
    df = _clustered_vecs(spark)
    q = df.filter(F.col("vec_id") < 3)
    pq = S.pq_topk(df, q, k=3, m=2, n_centroids=3, dims=8).toPandas()
    exact = S.cosine_topk(df, q, k=3).toPandas()
    # ADC with per-cluster codebooks must keep neighbors in the
    # query's own cluster (labels interleave: label == vec_id % 3)
    assert set(pq.query_id) == {0, 1, 2}
    assert all(n % 3 == qq % 3 for qq, n in zip(pq.query_id, pq.neighbor_id))
    recall = len(
        set(map(tuple, pq[["query_id", "neighbor_id"]].values))
        & set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    ) / len(exact)
    assert recall >= 2 / 3  # coarse codes, tiny corpus: most of top-3


def test_pq_topk_plan_is_broadcast_no_python(spark):
    df = _clustered_vecs(spark)
    q = df.filter(F.col("vec_id") == 0)
    plan = (
        S.pq_topk(df, q, k=2, m=2, n_centroids=3, dims=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # dtab/codebooks broadcast


def test_pq_train_rejects_indivisible_dims(spark):
    df = _clustered_vecs(spark)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        S.pq_train(df, m=3, dims=8)
    with _pytest.raises(ValueError):
        S.kmeans_fit(df, metric="chebyshev")


def test_ivfpq_topk_keeps_cluster_neighbors(spark):
    df = _clustered_vecs(spark)
    q = df.filter(F.col("vec_id") < 3)
    out = S.ivfpq_topk(
        df, q, k=3, n_coarse=3, nprobe=1, m=2, n_centroids=3, dims=8
    ).toPandas()
    assert set(out.query_id) == {0, 1, 2}
    # residual codebooks + 1-probe coarse routing: neighbors stay in
    # the query's own cluster (label == vec_id % 3)
    assert all(n % 3 == qq % 3 for qq, n in zip(out.query_id, out.neighbor_id))
    # higher recall than raw PQ is the point of residual encoding:
    # all of exact L2 top-3 recovered on separable clusters
    exact = S.l2_topk(df, q, k=3).toPandas()
    got = set(map(tuple, out[["query_id", "neighbor_id"]].values))
    want = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    assert len(got & want) / len(want) >= 2 / 3


def test_ivfpq_plan_no_python_broadcast(spark):
    df = _clustered_vecs(spark)
    q = df.filter(F.col("vec_id") == 0)
    plan = (
        S.ivfpq_topk(df, q, k=2, n_coarse=3, nprobe=2, m=2, n_centroids=3, dims=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_containment_detects_excerpt(spark):
    # doc 2 is a verbatim excerpt of doc 1: Jaccard is low (big super-
    # set) but containment of the excerpt is 1.0
    long_text = " ".join(f"w{i}" for i in range(50))
    excerpt = " ".join(f"w{i}" for i in range(10, 16))
    rows = [(1, long_text), (2, excerpt), (3, "totally unrelated words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.containment_pairs(df, threshold=0.9).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.id_sub, r.id_super) == (2, 1)
    assert r.containment == 1.0
    # Jaccard at the same threshold misses it
    jac = D.ngram_jaccard_pairs(df, threshold=0.5).toPandas()
    assert not ((jac.id_a == 1) & (jac.id_b == 2)).any()


def test_substring_spans_finds_planted_run(spark):
    """A verbatim 12-token run shared by two documents is chained back
    from its positional 5-gram matches into one maximal span; short
    overlaps below min_span and unrelated docs report nothing."""
    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, "alpha beta " + shared + " gamma delta"),
        (2, shared + " omega xi nu mu"),
        # shares only a 6-token run with doc 1 -> below min_span=8
        (3, "alpha beta s0 s1 s2 s3 zz yy xx ww vv uu"),
        (4, "totally unrelated words that match nothing at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.substring_span_pairs(df, k=5, min_span=8).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.id_a, r.id_b, r.max_span_tokens, r.n_spans) == (1, 2, 12, 1)
    # dropping the threshold surfaces the 6-token overlap too
    lo = D.substring_span_pairs(df, k=5, min_span=6).toPandas()
    assert len(lo) == 2
    assert set(zip(lo.id_a, lo.id_b)) == {(1, 2), (1, 3)}


def test_substring_spans_two_runs_same_pair(spark):
    """Two disjoint shared runs at different alignment offsets are
    counted as separate spans; max_span_tokens takes the longer."""
    run_a = " ".join(f"a{i}" for i in range(10))
    run_b = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, run_a + " filler1 filler2 " + run_b),
        (2, run_b + " mid1 mid2 mid3 " + run_a),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.substring_span_pairs(df, k=5, min_span=8).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.max_span_tokens, r.n_spans) == (10, 2)


def test_substring_spans_hot_gram_cap(spark):
    """max_shingle_df drops grams above the occurrence cap before the
    join — a stop-phrase shared by every doc stops producing pairs."""
    stop = "the quick brown fox jumps over the lazy dog now"
    rows = [(i, stop) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert D.substring_span_pairs(df, k=5, min_span=8).count() == 6
    assert (
        D.substring_span_pairs(df, k=5, min_span=8, max_shingle_df=3).count()
        == 0
    )


def test_segment_dedup_keeps_first_occurrence_and_reassembles(spark):
    """Line-level corpus dedup: the globally first (doc, position)
    occurrence of each line survives, later copies — across AND within
    documents — are dropped, and documents rebuild in original order
    from their surviving lines."""
    rows = [
        (1, "alpha one\nshared line\nalpha two"),
        (2, "shared line\nbeta only\nshared line"),  # dup of doc1 + self-dup
        (3, "gamma solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.segment_dedup(df).toPandas().set_index("doc_id")
    assert out.loc[1].text_clean == "alpha one\nshared line\nalpha two"
    assert (out.loc[1].n_segments, out.loc[1].n_kept) == (3, 3)
    # doc 2 loses both copies of the shared line (doc 1 owns it)
    assert out.loc[2].text_clean == "beta only"
    assert (out.loc[2].n_segments, out.loc[2].n_kept) == (3, 1)
    assert out.loc[3].text_clean == "gamma solo"


def test_segment_dedup_normalized_key_keeps_original_casing(spark):
    rows = [
        (1, "Hello World\nunique a"),
        (2, "  hello   world  \nunique b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.segment_dedup(df).toPandas().set_index("doc_id")
    # "Hello World" vs "hello world": same trimmed-lowercase key except
    # inner whitespace differs -> NOT merged; exact-after-trim match is
    rows2 = [(1, "Same Line\nx x"), (2, "same line\ny y")]
    out2 = (
        D.segment_dedup(
            spark.createDataFrame(rows2, "doc_id long, text string")
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert out2.loc[1].text_clean == "Same Line\nx x"  # original casing kept
    assert out2.loc[2].text_clean == "y y"
    # and with normalize=False the case-variant lines both survive
    raw = (
        D.segment_dedup(
            spark.createDataFrame(rows2, "doc_id long, text string"),
            normalize=False,
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert raw.loc[2].text_clean == "same line\ny y"
    assert out.loc[2].n_kept == 2


def test_substring_span_extents_and_excision(spark):
    """Extents locate the shared run in both documents' coordinates;
    excision cuts it from the higher id only, merging overlaps, and
    passes untouched docs through with n_cut = 0."""
    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, "alpha beta " + shared + " gamma delta"),
        (2, shared + " omega xi nu mu"),
        (3, "totally unrelated words that match nothing at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ext = D.substring_span_extents(df, k=5, min_span=8).toPandas()
    assert len(ext) == 1
    e = ext.iloc[0]
    # doc1: run occupies tokens 3..14; doc2: tokens 1..12
    assert (e.id_a, e.id_b, e.span_tokens) == (1, 2, 12)
    assert (e.a_start, e.a_end, e.b_start, e.b_end) == (3, 14, 1, 12)
    out = (
        D.excise_shared_spans(df, k=5, min_span=8)
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1].text_clean == "alpha beta " + shared + " gamma delta"
    assert out.loc[1].n_cut == 0
    assert out.loc[2].text_clean == "omega xi nu mu"
    assert (out.loc[2].n_tokens, out.loc[2].n_cut) == (16, 12)
    assert out.loc[3].n_cut == 0 and len(out) == 3


def test_global_cumsum_matches_serial_and_stays_typed(spark):
    """The range-partition + offset prefix-sum must equal the serial
    running total exactly (integer path stays integer-typed) and keep
    more than one partition in play (no single-partition sort)."""
    from ukis_h3cellstore_spark.ops import prefix as P

    rows = [(i, (i * 37) % 11) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(7)
    out = P.global_cumsum(df, ["k"], "v", num_partitions=5).orderBy("k")
    got = [(r.k, r.cum_sum) for r in out.collect()]
    exp, acc = [], 0
    for k, v in rows:
        acc += v
        exp.append((k, acc))
    assert got == exp
    assert dict(out.dtypes)["cum_sum"] == "bigint"
    # double path: same regrouping tolerance-checked
    dd = spark.createDataFrame(
        [(k, float(v)) for k, v in rows], "k long, v double"
    )
    outd = (
        P.global_cumsum(dd, ["k"], "v", num_partitions=5).orderBy("k").collect()
    )
    for (k, e), r in zip(exp, outd):
        assert abs(r.cum_sum - e) < 1e-9


def test_global_rank_is_total_order_row_number(spark):
    from ukis_h3cellstore_spark.ops import prefix as P
    from pyspark.sql import functions as _F

    df = spark.range(300).select(
        (_F.col("id") * 131 % 997).alias("k"), "id"
    )
    out = (
        P.global_rank(df, ["k", "id"], num_partitions=4)
        .orderBy("k", "id")
        .collect()
    )
    assert [r.global_rank for r in out] == list(range(1, 301))


def test_bpe_pair_counts_matches_brute_force(spark):
    rows = [(1, "a b a b c"), (2, "b c b c"), (3, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.left, r.right): r.n_pairs
        for r in X.bpe_pair_counts(df).collect()
    }
    from collections import Counter

    exp = Counter()
    for _, t in rows:
        ws = t.split()
        for a, b in zip(ws, ws[1:]):
            exp[(a, b)] += 1
    assert out == dict(exp)
    # top-k is deterministic under ties (lexicographic)
    top = X.bpe_pair_counts(df, top_k=2).collect()
    assert [(r.left, r.right) for r in top] == sorted(
        exp, key=lambda p: (-exp[p], p[0], p[1])
    )[:2]


def test_binary_auc_rank_sum(spark):
    from ukis_h3cellstore_spark.ops import prefix as P

    # perfectly separable -> 1.0; anti-separated -> 0.0; mixed known
    rows = [(i, float(i), i >= 5) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, score double, label boolean")
    r = P.binary_auc(df, "score", "label", ["id"], num_partitions=3).collect()[0]
    assert (r.auc, r.n_pos, r.n_neg) == (1.0, 5, 5)
    flipped = df.withColumn("label", ~F.col("label"))
    assert P.binary_auc(flipped, "score", "label", ["id"]).collect()[0].auc == 0.0
    # hand-computed: positives at score ranks {2, 4} of 4 ->
    # (rank_sum 6 - 2*3/2) / (2*2) = 0.75
    rows2 = [(1, 1.0, False), (2, 2.0, True), (3, 3.0, False), (4, 4.0, True)]
    df2 = spark.createDataFrame(rows2, "id long, score double, label boolean")
    assert P.binary_auc(df2, "score", "label", ["id"]).collect()[0].auc == 0.75


def test_phash_locality_and_pairs(spark):
    """The perceptual-hash stub must place near-identical payloads at
    small hamming distance and unrelated payloads far apart, and the
    banded pair join must find exactly the near-dup pair."""
    from ukis_h3cellstore_spark.ops import multimodal as M

    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base[:-10] + "cat sleeps"          # ~97% shared bytes
    far = "completely different content with other words entirely " * 6
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pay = M.attach_binary_payload(df)
    hs = {
        r.doc_id: r.phash
        for r in M.perceptual_hash_stub(pay).collect()
    }
    d12 = bin(hs[1] ^ hs[2]).count("1")
    d13 = bin(hs[1] ^ hs[3]).count("1")
    assert d12 < d13  # locality: near-dup closer than unrelated
    assert d12 <= 6 and d13 > 10
    pairs = M.phash_dup_pairs(pay, max_hamming=6).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def _bpe_reference(texts, n_merges, joiner=""):
    """Serial BPE: per round, the (count-desc, lexicographic) argmax
    adjacent pair, then greedy left-to-right merge in every doc."""
    from collections import Counter

    docs = {i: t.split() for i, t in texts.items()}
    merges = []
    for rank in range(n_merges):
        counts = Counter()
        for ws in docs.values():
            for a, b in zip(ws, ws[1:]):
                counts[(a, b)] += 1
        if not counts:
            break
        (a, b), n = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((rank, a, b, n))
        for i, ws in docs.items():
            out, j = [], 0
            while j < len(ws):
                if j + 1 < len(ws) and ws[j] == a and ws[j + 1] == b:
                    out.append(a + joiner + b)
                    j += 2
                else:
                    out.append(ws[j])
                    j += 1
            docs[i] = out
    return merges, {i: " ".join(ws) for i, ws in docs.items()}


def test_bpe_apply_merge_greedy_including_self_pairs(spark):
    rows = [(1, "a a a a a"), (2, "x y x y x"), (3, "a a x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        X.bpe_apply_merge(df, "a", "a").toPandas().set_index("doc_id")
    )
    # greedy self-pair: merge at odd run offsets -> "aa aa a"
    assert out.loc[1].text == "aa aa a" and out.loc[1].n_merged == 2
    assert out.loc[2].text == "x y x y x" and out.loc[2].n_merged == 0
    assert out.loc[3].text == "aa x y"
    out2 = X.bpe_apply_merge(df, "x", "y").toPandas().set_index("doc_id")
    assert out2.loc[2].text == "xy xy x" and out2.loc[2].n_merged == 2


def test_bpe_train_matches_serial_reference(spark):
    texts = {
        1: "low low low lower lowest",
        2: "new new newer newest low low",
        3: "wide wider new low newer",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    merges = X.bpe_train(df, n_merges=3)
    ref_merges, ref_docs = _bpe_reference(texts, 3)
    assert merges == ref_merges
    # and the rewritten corpus after those merges matches too
    cur = df
    for _, a, b, _n in merges:
        cur = X.bpe_apply_merge(cur, a, b).select("doc_id", "text")
    got = {r.doc_id: r.text for r in cur.collect()}
    assert got == ref_docs


def test_resample_by_source_upsamples_and_matches_subsample(spark):
    from ukis_h3cellstore_spark.ops import sampling as SM

    rows = [(i, f"s{i % 3}", "txt") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    rates = {"s0": 2.5, "s1": 0.4, "s2": 1.0}
    out = SM.resample_by_source(df, rates).toPandas()
    # s2 at 1.0: every row exactly once
    s2 = out[out.source == "s2"]
    assert len(s2) == 100 and s2.copy_no.max() == 0
    # s0 at 2.5: every row at least twice, ~half three times
    s0 = out[out.source == "s0"]
    per = s0.groupby("doc_id").size()
    assert per.min() == 2 and per.max() == 3 and len(per) == 100
    assert 30 <= (per == 3).sum() <= 70  # salted ~50%
    # s1 at 0.4: identical kept set to the down-sampling operator
    kept_up = set(out[out.source == "s1"].doc_id)
    kept_down = {
        r.doc_id
        for r in SM.subsample_by_source(df, rates).collect()
        if r.source == "s1"
    }
    assert kept_up == kept_down
    assert 20 <= len(kept_up) <= 60


def test_c4_quality_filter_line_and_page_rules(spark):
    good = "this line has plenty of words and punctuation."
    rows = [
        # 3 good sentences -> passes, keeps all lines
        (1, f"{good}\n{good[:-1]}!\n{good[:-1]}?"),
        # short line, unpunctuated line, javascript line all dropped ->
        # only 1 sentence left -> page fails
        (2, f"{good}\ntoo short.\nno terminal punctuation here at all\nplease enable javascript to view this page."),
        # lorem ipsum / curly brace page-level kills
        (3, f"{good}\n{good}\n{good} lorem ipsum dolor sit amet."),
        (4, f"{good}\n{good}\nfunction f() {{ return 1; }}.\n" + good),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = X.c4_quality_filter(df).toPandas().set_index("doc_id")
    assert bool(out.loc[1].c4_pass) and out.loc[1].n_kept_lines == 3
    assert out.loc[1].n_sentences == 3
    r2 = out.loc[2]
    assert (r2.n_lines, r2.n_kept_lines) == (4, 1)
    assert not r2.c4_pass
    assert r2.text_clean == good
    assert not out.loc[3].c4_pass and bool(out.loc[3].has_lorem_ipsum)
    assert not out.loc[4].c4_pass and bool(out.loc[4].has_curly_brace)


def test_char_entropy_orders_structure(spark):
    rows = [
        (1, "aaaaaaaaaa"),        # zero entropy
        (2, "abababababab"),      # 2 symbols -> ln(2)
        (3, "the quick brown fox"),  # natural text: higher
        (4, ""),                  # empty -> 0 sentinel
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = X.char_entropy(df).toPandas().set_index("doc_id")
    import math

    assert out.loc[1].entropy == 0.0
    assert abs(out.loc[2].entropy - round(math.log(2), 6)) < 1e-9
    assert out.loc[3].entropy > out.loc[2].entropy > out.loc[1].entropy
    assert out.loc[4].entropy == 0.0
    plan = X.char_entropy(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan  # no shuffle


def test_temperature_rates_limits(spark):
    from ukis_h3cellstore_spark.ops import sampling as SMP

    counts = {"big": 9000, "small": 1000}
    # tau=1: natural distribution -> every source keeps everything
    r1 = SMP.temperature_rates(counts, tau=1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in r1.values())
    # tau -> 0 pushes toward uniform: small source keeps all, big
    # source keeps ~1/9 (uniform share / natural share)
    r0 = SMP.temperature_rates(counts, tau=0.05)
    assert r0["small"] == 1.0
    assert r0["big"] < 0.2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        SMP.temperature_rates(counts, tau=0.0)


def test_temperature_mixture_is_deterministic(spark):
    from ukis_h3cellstore_spark.ops import sampling as SMP

    rows = [(i, f"src{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = SMP.temperature_mixture(df, tau=0.5).groupBy("source").count().collect()
    b = SMP.temperature_mixture(df, tau=0.5).groupBy("source").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # equal-size sources at any tau keep everything (rates all 1.0)
    assert sum(r["count"] for r in a) == 400


def test_normalize_text_canonical_form(spark):
    rows = [
        (1, "  Hello,   WORLD!! 42 "),
        (2, "hello world 42"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = X.normalize_text(df).toPandas().set_index("doc_id")
    assert out.loc[1].norm_text == "hello world 42"
    # punctuation/case variants normalize to the same dedup key
    assert out.loc[1].norm_text == out.loc[2].norm_text
    assert out.loc[3].norm_text == ""
    plan = X.normalize_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_boilerplate_chunk_stats_flags_shared_chunks(spark):
    shared = "one two three four five six seven eight"
    rows = [
        (1, shared + " unique alpha beta gamma delta epsilon zeta eta"),
        (2, shared + " other words here that only doc two carries now"),
        (3, "totally different text with no overlap at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        X.boilerplate_chunk_stats(df, chunk_words=8, min_doc_freq=2)
        .toPandas()
        .set_index("doc_id")
    )
    # docs 1/2 share their first 8-word chunk -> it is boilerplate
    assert out.loc[1].n_chunks == 2 and out.loc[1].n_kept == 1
    # doc 2 has 17 words -> 3 chunks (8, 8, 1); only the shared one drops
    assert out.loc[2].n_chunks == 3 and out.loc[2].n_kept == 2
    assert out.loc[3].n_kept == out.loc[3].n_chunks  # nothing removed
    assert out.loc[1].kept_words == 8


def test_quality_logit_buckets_and_exactness(spark):
    rows = [
        (1, " ".join(["the word of and to"] * 50)),   # long + stopwordy
        (2, "!!!! ???? ;;;; ::::"),                   # pure punctuation
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = X.quality_logit(df).toPandas().set_index("doc_id")
    assert out.loc[1].quality_bucket == "keep"
    assert out.loc[2].quality_bucket == "drop"
    # empty doc: bias only
    assert out.loc[3].logit_milli == -500 and out.loc[3].quality_bucket == "review"
    # exact integer arithmetic for doc 1: 250 tokens (cap 200),
    # 4/5 stopwords = 800 permille, zero punctuation
    assert out.loc[1].logit_milli == -500 + 200 * 10 + 800 * 3


def test_sq8_roundtrip_and_topk_recall(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    mins, maxs = S.sq8_train(df)
    assert len(mins) == 8 and all(m < x for m, x in zip(mins, maxs))
    codes = S.sq8_codes(df, mins, maxs).toPandas()
    flat = [c for row in codes.codes for c in row]
    assert min(flat) >= 0 and max(flat) <= 255
    # corpus min/max dims hit the code range ends
    assert 0 in flat and 255 in flat
    out = S.sq8_topk(df, df.filter(F.col("vec_id") < 3), k=5).toPandas()
    assert set(out.query_id) == {0, 1, 2}
    assert (out.groupby("query_id")["rank"].max() == 5).all()
    # the Spark ranking equals a numpy replication of the same
    # quantization (integer dot of identical codes) — exact, not
    # recall-fuzzy, since SQ8's affine codes are deterministic
    v64 = vecs.astype(np.float64)
    mn, mx = v64.min(axis=0), v64.max(axis=0)
    np_codes = np.clip(
        np.floor((v64 - mn) * 255.0 / (mx - mn)), 0, 255
    ).astype(np.int64)
    # integer code-space squared-L2, the FAISS-SQ distance shape
    diff = np_codes[:, None, :] - np_codes[None, :, :]
    d2 = (diff * diff).sum(axis=2)
    for q in range(3):
        # top-5 by (distance asc, id asc)
        order = sorted(range(60), key=lambda i: (d2[q, i], i))
        expect = [i for i in order if i != q][:5]
        got = list(
            out[out.query_id == q].sort_values("rank").neighbor_id
        )
        assert got == expect
    # code-space L2 approximates true L2: the exact nearest neighbor
    # lands in the SQ8 top-5 for every query
    tdiff = v64[:, None, :] - v64[None, :, :]
    td2 = (tdiff * tdiff).sum(axis=2)
    np.fill_diagonal(td2, np.inf)
    for q in range(3):
        truth = int(np.argmin(td2[q]))
        assert truth in set(out[out.query_id == q].neighbor_id)


def test_sq8_plan_broadcast_no_python(spark):
    rows = [(i, [float(i), float(i + 1)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = (
        S.sq8_topk(df, df.filter(F.col("vec_id") < 2), k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_embedding_verified_pairs_cross_modal(spark):
    # doc 1/2: same vector AND same text; doc 3: same vector as 1 but
    # disjoint text (paraphrase-level false positive the text verify
    # must keep with low jaccard); doc 4: different vector
    rows = [
        (1, "alpha beta gamma delta", [1.0, 0.0, 1.0, 0.0]),
        (2, "alpha beta gamma delta", [1.0, 0.0, 1.0, 0.0]),
        (3, "zeta eta theta iota",    [1.0, 0.0, 1.0, 0.0]),
        (4, "alpha beta gamma delta", [-1.0, 5.0, -1.0, 2.0]),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    embs = spark.createDataFrame(
        [(i, v) for i, _, v in rows], "vec_id long, embedding array<float>"
    )
    out = D.embedding_verified_pairs(
        docs, embs, threshold=0.0, cosine_threshold=0.9, k=1,
        num_tables=4, num_planes=2,
    ).toPandas()
    pairs = {(r.id_a, r.id_b): r for r in out.itertuples()}
    # identical text + identical vector -> jaccard 1.0
    assert (1, 2) in pairs and pairs[(1, 2)].jaccard == 1.0
    # identical vector, disjoint text -> filtered by the verify stage
    # (zero common shingles never reach the threshold join)
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # different vector direction -> never a candidate
    assert all(4 not in (a, b) for a, b in pairs)


def test_verify_pairs_jaccard_exactness(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "p q r s")],
        "doc_id long, text string",
    )
    sh = D.shingle_df(docs, "text", "doc_id", k=1)
    cand = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    out = D.verify_pairs_jaccard(cand, sh, threshold=0.0).toPandas()
    got = {(r.id_a, r.id_b): (r.n_common, r.jaccard) for r in out.itertuples()}
    # |{a,b}| / |{a,b,c,d,x,y}| = 2/6
    assert got[(1, 2)] == (2, 2 / 6)
    assert (1, 3) not in got  # zero overlap drops out of the join


def test_unigram_surprisal_integer_exactness(spark):
    rows = [
        (1, "the the the the"),   # 4x the most common token
        (2, "the rare"),          # one common + one singleton
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = X.unigram_surprisal(df).toPandas().set_index("doc_id")
    # corpus: the=5, rare=1, total=6 -> bits(6)=3, bits(5)=3, bits(1)=1
    assert out.loc[1].n_tokens == 4
    assert out.loc[1].sum_surprisal == 4 * (3 - 3)
    assert out.loc[2].sum_surprisal == (3 - 3) + (3 - 1)
    assert out.loc[2].avg_surprisal_milli == (1000 * 2) // 2
    # empty doc yields no tokens -> no row
    assert 3 not in out.index
    # rare-token docs score strictly higher than stop-word docs
    assert out.loc[2].avg_surprisal_milli > out.loc[1].avg_surprisal_milli


def test_resize_stub_shape_and_determinism(docs):
    payloads = M.attach_binary_payload(docs)
    out = M.resize_image_stub(payloads, target_width=4, target_height=4).toPandas()
    assert set(out.columns) == {"doc_id", "payload", "width", "height", "channels"}
    assert (out.width == 4).all() and (out.height == 4).all()
    # every resized payload is exactly w*h*c bytes, even for empty docs
    assert all(len(bytes(p)) == 4 * 4 * 3 for p in out.payload)
    again = M.resize_image_stub(payloads, target_width=4, target_height=4).toPandas()
    a = {r.doc_id: bytes(r.payload) for r in out.itertuples()}
    b = {r.doc_id: bytes(r.payload) for r in again.itertuples()}
    assert a == b


def test_extract_features_stub_matches_hashlib(docs):
    import hashlib

    payloads = M.attach_binary_payload(docs)
    out = M.extract_features_stub(payloads, dim=3).toPandas()
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(out) == len(texts) * 3
    for r in out.itertuples():
        h = hashlib.md5(
            texts[r.doc_id].encode() + b"|" + str(r.dim_no).encode()
        ).hexdigest()
        assert r.feat == int(h[:8], 16) % 1_000_000


def test_semantic_dedup_drops_within_cluster_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0, 0.0]),   # near-dup of 0, same cluster
        (2, [0.0, 1.0, 0.0, 0.0]),     # own cluster
        (3, [0.0, 0.0, 1.0, 0.0]),     # own cluster
        (4, [-1.0, 0.0, 0.0, 0.0]),    # opposite of 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = (
        S.semantic_dedup(df, n_clusters=3, threshold=0.99, train_iters=2)
        .toPandas()
        .set_index("vec_id")
    )
    assert len(out) == 5
    # the near-dup pair keeps the lower id
    assert bool(out.loc[0].kept) and not bool(out.loc[1].kept)
    # singletons in their clusters survive
    assert bool(out.loc[2].kept) and bool(out.loc[3].kept) and bool(out.loc[4].kept)
    # pair members share a cluster
    assert out.loc[0].centroid_id == out.loc[1].centroid_id


def test_semantic_dedup_max_cluster_size_cap_and_report(spark):
    """Oversized clusters are excluded from the pairwise stage (all
    members kept) and semantic_cluster_stats reports exactly which —
    the no-silent-truncation discipline of lsh_bucket_stats."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0, 0.0]),  # near-dup of 0 → hot cluster
        (5, [1.0, 0.002, 0.0, 0.0]),  # near-dup of 0 → hot cluster
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.001, 0.0]),  # near-dup of 2, small cluster
        (4, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(n_clusters=3, train_iters=2)
    uncapped = (
        S.semantic_dedup(df, threshold=0.99, **kw).toPandas().set_index("vec_id")
    )
    capped = (
        S.semantic_dedup(df, threshold=0.99, max_cluster_size=2, **kw)
        .toPandas()
        .set_index("vec_id")
    )
    hot = uncapped.loc[0].centroid_id
    hot_n = int((uncapped.centroid_id == hot).sum())
    assert hot_n >= 3  # 0, 1, 5 cluster together
    # uncapped drops inside the hot cluster; capped keeps all of it
    assert not uncapped.loc[1].kept and not uncapped.loc[5].kept
    assert bool(capped.loc[0].kept) and bool(capped.loc[1].kept)
    assert bool(capped.loc[5].kept)
    # clusters under the cap still dedup
    assert not capped.loc[3].kept and bool(capped.loc[2].kept)
    # and the report flags exactly the oversized cluster
    stats = (
        S.semantic_cluster_stats(df, max_cluster_size=2, **kw)
        .toPandas()
        .set_index("centroid_id")
    )
    assert bool(stats.loc[hot].dropped) and stats.loc[hot].n_vectors == hot_n
    assert not stats.drop(index=hot).dropped.any()


def test_semantic_dedup_matrix_kernel_equals_join_path(spark):
    """The Arrow Gram-matrix pairwise kernel (default) must produce
    exactly the expression self-join's verdicts — same clusters, same
    kept flags — on a corpus wide enough to exercise multi-member
    clusters, singletons, and a max_cluster_size cap."""
    rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(6)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for cap in (None, 10):
        kw = dict(
            n_clusters=4,
            threshold=0.8,
            train_iters=2,
            max_cluster_size=cap,
        )
        m = S.semantic_dedup(df, pairwise="matrix", **kw).orderBy("vec_id")
        j = S.semantic_dedup(df, pairwise="join", **kw).orderBy("vec_id")
        assert m.collect() == j.collect()


def test_semantic_dedup_no_python_broadcast_centroids(spark):
    rows = [(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = (
        S.semantic_dedup(df, n_clusters=2, train_iters=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_dsir_importance_weights_favor_target_like_docs(spark):
    from ukis_h3cellstore_spark.ops import sampling as SP

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "web"),
        (1, "quick brown fox and lazy dog again and again", "web"),
        (2, "def main import numpy as np return x", "code"),
        (3, "import pandas as pd def helper return y", "code"),
        (4, "", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    target = df.filter(F.col("source") == "code")
    out = (
        SP.dsir_importance_weights(df, target)
        .toPandas()
        .set_index("doc_id")
    )
    assert len(out) == 5
    # code-like docs must outscore prose docs against a code target
    assert out.loc[2].weight > out.loc[0].weight
    assert out.loc[3].weight > out.loc[1].weight
    # empty doc: no grams, weight exactly 0
    assert out.loc[4].n_grams == 0 and out.loc[4].weight == 0.0
    # n_grams = occurrences (len(tokens) - 1)
    assert out.loc[0].n_grams == 8


def test_dsir_weights_no_python_and_broadcast_ratios(spark):
    from ukis_h3cellstore_spark.ops import sampling as SP

    rows = [(i, f"tok{i % 7} tok{(i + 1) % 5} tok{i % 3}", "s" + str(i % 2)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    plan = (
        SP.dsir_importance_weights(df, df.filter(F.col("source") == "s0"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_ivfpq_build_search_matches_topk(vecs):
    one_shot = S.ivfpq_topk(
        vecs, vecs.filter(F.col("vec_id") < 2), k=2,
        n_coarse=2, nprobe=2, m=3, n_centroids=2, dims=3,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    index = S.ivfpq_build(
        vecs, n_coarse=2, m=3, n_centroids=2, dims=3, materialize=True
    )
    # repeated searches against the same materialized index
    for _ in range(2):
        split = S.ivfpq_search(
            index, vecs.filter(F.col("vec_id") < 2), k=2, nprobe=2
        ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        assert split.equals(one_shot)


def test_bigram_surprisal_sequence_sensitivity(spark):
    """Documents with identical unigram content but different bigram
    structure must score differently: the repeated-phrase doc sees
    high-count bigrams (low surprisal), the shuffled doc rare ones."""
    phrase = "the quick brown fox "
    natural = phrase * 6
    shuffled = "the the quick brown fox quick fox brown " * 3
    df = spark.createDataFrame(
        [(1, natural), (2, shuffled)], "doc_id long, text string"
    )
    out = X.bigram_surprisal(df).toPandas().set_index("doc_id")
    assert out.loc[1].avg_surprisal_milli < out.loc[2].avg_surprisal_milli
    # exact check on a tiny corpus: "a b a b" alone
    tiny = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    r = X.bigram_surprisal(tiny).collect()[0]
    # bigrams: (a,b)x2, (b,a)x1; V=2; c1(a)=2, c1(b)=1
    # s(a,b) = bits(2+2) - bits(2+1) = 3-2 = 1  (twice)
    # s(b,a) = bits(1+2) - bits(1+1) = 2-2 = 0
    assert (r.n_bigrams, r.sum_surprisal) == (3, 2)


def test_round6_ops_handle_empty_and_degenerate_input(spark):
    """Empty corpus in -> empty/zero out, no crash, schema intact —
    for every round-6 operator (the fold/lateral constructions are
    where empty arrays and zero-row frames typically break)."""
    from ukis_h3cellstore_spark.ops import multimodal as M
    from ukis_h3cellstore_spark.ops import prefix as P

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert D.substring_span_pairs(empty, k=3, min_span=4).count() == 0
    assert D.substring_span_extents(empty, k=3, min_span=4).count() == 0
    assert D.excise_shared_spans(empty, k=3, min_span=4).count() == 0
    assert D.segment_dedup(empty).count() == 0
    assert X.c4_quality_filter(empty).count() == 0
    assert X.bpe_pair_counts(empty).count() == 0
    assert X.bpe_apply_merge(empty, "a", "b").count() == 0
    assert X.bigram_surprisal(empty).count() == 0
    assert X.bpe_train(empty, 2) == []
    assert M.phash_dup_pairs(M.attach_binary_payload(empty)).count() == 0
    ev = spark.createDataFrame([], "k long, v long")
    assert P.global_cumsum(ev, ["k"], "v", num_partitions=3).count() == 0
    assert P.global_rank(ev, ["k"], num_partitions=3).count() == 0
    # one-token / one-row degenerates
    one = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    assert D.substring_span_pairs(one, k=3, min_span=4).count() == 0
    r = X.bigram_surprisal(one).collect()
    assert r == []  # no bigrams in a 1-token doc
    exc = D.excise_shared_spans(one, k=3, min_span=4).collect()[0]
    assert exc.text_clean == "solo" and exc.n_cut == 0


def test_hard_negative_topk_excludes_near_duplicates(spark):
    """The anchor's near-duplicate (cos ~1) must NOT appear as a
    negative; the hardest sub-threshold neighbor must."""
    rows = [
        (0, [1.0, 0.0, 0.0]),          # anchor
        (1, [0.999, 0.01, 0.0]),       # near-dup of anchor -> excluded
        (2, [0.7, 0.7, 0.0]),          # cos ~0.707 -> hardest negative
        (3, [0.0, 1.0, 0.0]),          # orthogonal
        (4, [-1.0, 0.0, 0.0]),         # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.hard_negative_topk(
        df, df.filter(F.col("vec_id") == 0), k=2, dup_threshold=0.9
    ).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(2, 1), (3, 2)]
    # with the threshold lifted, the near-dup is rank 1 again
    top = S.hard_negative_topk(
        df, df.filter(F.col("vec_id") == 0), k=1, dup_threshold=1.1
    ).collect()
    assert top[0].neighbor_id == 1


def test_incremental_index_reads_buckets_exchange_free(spark):
    """The persisted MinHash index must join a new batch WITHOUT
    re-shuffling its own side: no Exchange directly above the index
    scan in the physical plan, and the candidates must equal the
    direct cross-set LSH computation."""
    rows = [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 7} w{i % 5} w{i % 3}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus, batch = df.filter("doc_id >= 20"), df.filter("doc_id < 20")
    D.build_minhash_index(corpus, "mh_idx_test", num_buckets=4)
    try:
        out = D.dedup_against_index(batch, "mh_idx_test", min_est_jaccard=0.5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the index side is a FileSourceScan with SelectedBucketsCount;
        # the only exchanges belong to the (small) batch side
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
        got = {(r.id_new, r.id_indexed) for r in out.collect()}
        # reference: self-join LSH over the union, restricted cross-set
        allp = D.minhash_lsh_pairs(df, min_est_jaccard=0.5).collect()
        want = set()
        for r in allp:
            lo, hi = sorted((r.id_a, r.id_b))
            if lo < 20 <= hi:
                want.add((lo, hi))
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_idx_test")


def test_incremental_e2e_composition_plan_and_bounds(spark):
    """The composed day-2 ingest gate (screen against the persisted
    index, drop flagged, excise shared spans) must still read the
    bucketed index Exchange-free inside the FULL composition's plan,
    and its output must be the batch side only with sane cut bounds.
    Value-level correctness is the dedup_incremental_e2e oracle gate."""
    from ukis_h3cellstore_spark.entry_queries_ops import (
        q_dedup_incremental_e2e,
    )

    out = q_dedup_incremental_e2e(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    rows = out.collect()
    assert rows
    assert all(r.doc_id < 100 for r in rows)
    assert all(0 <= r.n_cut <= r.n_tokens for r in rows)
    # at least one surviving doc must actually have a span excised
    # (sf0.001 has planted cross-doc duplication)
    assert any(r.n_cut > 0 for r in rows)


def test_bm25_matches_bruteforce(spark):
    import math

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple cherry"),
            (1, "apple banana"),
            (2, "banana cherry date date"),
            (3, "date elderberry fig"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "apple date"), (2, "cherry")], "query_id long, query_text string"
    )
    out = {
        (r["query_id"], r["doc_id"]): (r["bm25"], r["rank"])
        for r in X.bm25_topk(docs, queries, topk=10).collect()
    }

    corpus = {
        0: "apple banana apple cherry".split(),
        1: "apple banana".split(),
        2: "banana cherry date date".split(),
        3: "date elderberry fig".split(),
        4: [],
    }
    n_docs = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n_docs
    k1, b = 1.2, 0.75

    def idf(term):
        df = sum(1 for t in corpus.values() if term in t)
        return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)

    def bm25(qterms, toks):
        s = 0.0
        for t in sorted(set(qterms)):
            tf = toks.count(t)
            if tf == 0:
                continue
            dl = len(toks)
            s += idf(t) * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * dl / avgdl)
            )
        return round(s, 4)

    expected = {}
    for qid, qtext in [(1, "apple date"), (2, "cherry")]:
        scores = [
            (bm25(qtext.split(), toks), did)
            for did, toks in corpus.items()
            if bm25(qtext.split(), toks) > 0.0
        ]
        for rank, (s, did) in enumerate(
            sorted(scores, key=lambda x: (-x[0], x[1])), 1
        ):
            expected[(qid, did)] = (s, rank)

    assert set(out) == set(expected)
    for key, (score, rank) in expected.items():
        assert out[key][0] == pytest.approx(score, abs=1e-4), key
        assert out[key][1] == rank, key


def test_bm25_tf_saturation_and_idf(spark):
    # same doc length; tf 3 beats tf 1; rare term outweighs common one
    docs = spark.createDataFrame(
        [
            (0, "kiwi kiwi kiwi pad"),
            (1, "kiwi pad pad pad"),
            (2, "pad pad pad pad"),
            (3, "rare pad pad pad"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(1, "kiwi"), (2, "rare pad")], "query_id long, query_text string"
    )
    rows = X.bm25_topk(docs, q, topk=10).collect()
    kiwi = {r["doc_id"]: r["rank"] for r in rows if r["query_id"] == 1}
    assert kiwi[0] == 1 and kiwi[1] == 2 and 2 not in kiwi
    # for "rare pad": doc 3 (rare, df=1) must beat the pad-only docs
    mixed = {r["doc_id"]: r["rank"] for r in rows if r["query_id"] == 2}
    assert mixed[3] == 1


def test_hamming_topk_matches_bruteforce(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    probes = df.filter(F.col("vec_id") < 2)
    out = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["hamming"])
        for r in S.hamming_topk(df, probes, k=3).collect()
    }

    thr = (vecs.min(axis=0) + vecs.max(axis=0)) / 2.0
    bits = (vecs > thr).astype(int)
    for qid in range(2):
        dists = [
            (int((bits[qid] != bits[n]).sum()), n)
            for n in range(40)
            if n != qid
        ]
        for rank, (d, n) in enumerate(sorted(dists), 1):
            if rank > 3:
                break
            assert out[(qid, rank)] == (n, d)


def test_sign_binarize_packs_words(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 33), (1, [-1.0] * 33)],
        "vec_id long, embedding array<double>",
    )
    codes = {
        r["vec_id"]: (r["w0"], r["w1"])
        for r in S.sign_binarize(df, [0.0] * 33).collect()
    }
    assert codes[0] == ((1 << 32) - 1, 1)  # all 32 bits + 1 overflow bit
    assert codes[1] == (0, 0)


def test_trigram_backoff_levels_and_bruteforce(spark):
    # train corpus: "a b c d" x2 and "b c e"; score doc exercises all
    # four levels: (a b c)=seen trigram, (c d X...) unseen paths
    train = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c d"), (2, "b c e")],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        # trigrams: (a b c) seen; (b c zz) backoff2 via... compute below
        [(10, "a b c zz qq"), (11, "d c b")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in X.trigram_backoff_surprisal(train, score).collect()
    }

    toks = [t.split() for t in ["a b c d", "a b c d", "b c e"]]
    tri, big, uni = {}, {}, []
    for t in toks:
        for i in range(len(t) - 2):
            tri[tuple(t[i : i + 3])] = tri.get(tuple(t[i : i + 3]), 0) + 1
        for i in range(len(t) - 1):
            big[tuple(t[i : i + 2])] = big.get(tuple(t[i : i + 2]), 0) + 1
        uni.extend(t)
    from collections import Counter

    cu = Counter(uni)
    n_tok = len(uni)
    bits = lambda x: len(bin(x)) - 2  # noqa: E731

    def ref(words):
        rows = []
        for i in range(len(words) - 2):
            w1, w2, w3 = words[i : i + 3]
            if (w1, w2, w3) in tri:
                rows.append((0, bits(big[(w1, w2)]) - bits(tri[(w1, w2, w3)])))
            elif (w2, w3) in big:
                rows.append((1, 2 + bits(cu[w2]) - bits(big[(w2, w3)])))
            elif w3 in cu:
                rows.append((2, 4 + bits(n_tok) - bits(cu[w3])))
            else:
                rows.append((3, 4 + bits(n_tok)))
        return rows

    for did, text in [(10, "a b c zz qq"), (11, "d c b")]:
        rows = ref(text.split())
        got = out[did]
        assert got["n_trigrams"] == len(rows)
        assert got["sum_surprisal"] == sum(s for _, s in rows)
        assert got["n_backoff1"] == sum(1 for l, _ in rows if l == 1)
        assert got["n_backoff2"] == sum(1 for l, _ in rows if l == 2)
        assert got["n_oov"] == sum(1 for l, _ in rows if l == 3)
        assert got["avg_surprisal_milli"] == (
            1000 * sum(s for _, s in rows)
        ) // len(rows)
    # sanity: the score set genuinely exercised backoff + OOV
    assert out[10]["n_oov"] >= 1 and (
        out[10]["n_backoff1"] + out[10]["n_backoff2"] + out[11]["n_backoff1"]
        + out[11]["n_backoff2"]
    ) >= 1


def test_pagerank_fixed_point_bruteforce(spark):
    from ukis_h3cellstore_spark.ops import graph as G

    # a->b, a->c, b->c, c->a, d dangling sink (c->d, d has no out),
    # plus a duplicate edge that must collapse
    edge_rows = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"),
        ("a", "b"),  # duplicate
    ]
    edges = spark.createDataFrame(edge_rows, "src string, dst string")
    out = {
        r["node"]: r["rank_fp"]
        for r in G.pagerank(edges, iterations=4).collect()
    }

    # Python reference with identical fixed-point arithmetic
    E = sorted(set(edge_rows))
    nodes = sorted({u for e in E for u in e})
    outdeg = {}
    for s, _ in E:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    scale = 10**9
    tele = (150 * scale) // (1000 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(4):
        c = {v: 0 for v in nodes}
        for s, d in E:
            c[d] += r[s] // outdeg[s]
        r = {v: tele + (850 * c[v]) // 1000 for v in nodes}
    assert out == r
    # weak-variant semantics: dangling d absorbs mass (total < scale)
    assert sum(out.values()) < scale
    # iterations=0 -> uniform initial ranks
    out0 = {
        x["node"]: x["rank_fp"]
        for x in G.pagerank(edges, iterations=0).collect()
    }
    assert set(out0.values()) == {scale // n}


def test_snapshot_diff_statuses(spark):
    from ukis_h3cellstore_spark.ops import versioning as V

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C2"), (4, "d")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in V.snapshot_diff(old, new).collect()}
    assert {k: v["status"] for k, v in out.items()} == {
        1: "removed", 2: "unchanged", 3: "changed", 4: "added"
    }
    assert out[1]["new_hash"] is None and out[4]["old_hash"] is None
    assert out[2]["old_hash"] == out[2]["new_hash"]
    assert out[3]["old_hash"] != out[3]["new_hash"]
    # exact mode: content column itself as the comparison key
    from pyspark.sql import functions as FF
    out2 = {
        r["doc_id"]: r["status"]
        for r in V.snapshot_diff(
            old, new, hash_col=FF.xxhash64("text")
        ).collect()
    }
    assert out2 == {k: v["status"] for k, v in out.items()}


def test_cap_per_group_matches_naive_window(spark):
    from ukis_h3cellstore_spark.ops import sampling as SM
    from pyspark.sql import Window

    rows = [(i, f"s{i % 3}") for i in range(200)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("cap|"), F.col("doc_id").cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    naive = {
        (r["doc_id"], r["source"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10).drop("rn").collect()
    }
    for margin in (1.3, 0.01):  # 0.01 forces the undershoot fallback
        got = {
            (r["doc_id"], r["source"])
            for r in SM.cap_per_group(
                df, cap=10, group_col="source", id_col="doc_id", margin=margin
            ).collect()
        }
        assert got == naive, f"margin={margin}"
    # under-cap group passes through whole
    assert (1000, "tiny") in naive


def test_fleiss_kappa_textbook_example(spark):
    from ukis_h3cellstore_spark.ops import annotation as AN
    from fractions import Fraction

    # Fleiss 1971 worked example: 10 subjects (abridged to 4 here),
    # 6 raters, plus one incomplete item that must be dropped.
    panel = {
        0: [1, 1, 1, 2, 2, 3],
        1: [2, 2, 2, 2, 2, 2],
        2: [1, 3, 3, 3, 3, 3],
        3: [1, 1, 2, 2, 3, 3],
    }
    rows = [
        (i, f"c{lab}") for i, labs in panel.items() for lab in labs
    ] + [(9, "c1"), (9, "c1")]  # incomplete: only 2 ratings
    df = spark.createDataFrame(rows, "item_id long, label string")
    got = AN.fleiss_kappa(df, n_raters=6).collect()[0].asDict()

    # brute-force reference
    import collections
    nij = collections.Counter(
        (i, lab) for i, labs in panel.items() for lab in labs
    )
    N, n = len(panel), 6
    A = sum(v * v for v in nij.values())
    cj = collections.Counter()
    for (_, lab), v in nij.items():
        cj[lab] += v
    S = sum(v * v for v in cj.values())
    num = (A - N * n) * N * n - S * (n - 1)
    den = ((N * n) ** 2 - S) * (n - 1)
    assert got["n_items"] == N and got["n_dropped_items"] == 1
    assert got["n_categories"] == 3
    assert (got["kappa_num"], got["kappa_den"]) == (num, den)
    # cross-check against the float formula
    P_bar = (A - N * n) / (N * n * (n - 1))
    P_e = S / (N * n) ** 2
    assert abs(
        Fraction(num, den) - Fraction((P_bar - P_e) / (1 - P_e)).limit_denominator(10**9)
    ) < Fraction(1, 10**6)


def test_kcenter_coreset_bruteforce(spark):
    from ukis_h3cellstore_spark.ops import selection as SEL

    import random
    rnd = random.Random(7)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(4)]) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = [
        (r["sel_order"], r["vec_id"], r["dist_from_set"])
        for r in SEL.kcenter_coreset(df, k=5).orderBy("sel_order").collect()
    ]

    # brute-force greedy on the same floor-quantized lattice;
    # quantize from float32 like the engine does
    import struct as st
    f32 = lambda x: st.unpack("f", st.pack("f", x))[0]  # noqa: E731
    import math
    q = {i: [math.floor(f32(x) * 10000) for x in v] for i, v in vecs}
    chosen = [(0, 0, 0)]
    centers = [q[0]]
    mind = {}
    for step in range(1, 5):
        c = centers[-1]
        for i, qa in q.items():
            d = sum((a - b) * (a - b) for a, b in zip(qa, c))
            mind[i] = min(mind.get(i, d), d)
        far = max(mind.items(), key=lambda kv: (kv[1], -kv[0]))
        chosen.append((step, far[0], far[1]))
        centers.append(q[far[0]])
    assert got == chosen
    # coverage radius is non-increasing after the first pick
    radii = [d for _, _, d in got[1:]]
    assert radii == sorted(radii, reverse=True)


def test_bloom_membership_no_false_negatives_and_plan(spark):
    corpus = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(3000)],
        "doc_id long, text string",
    )
    keys = spark.createDataFrame(
        [(f"doc number {i}",) for i in range(0, 3000, 7)], "text string"
    )
    out = D.bloom_membership_flags(corpus, keys, bits=4096, n_hashes=3)
    rows = out.collect()
    passed = {r["doc_id"] for r in rows if r["pass_bloom"]}
    truth = set(range(0, 3000, 7))
    assert truth <= passed          # Bloom guarantee: no false negatives
    assert len(rows) == 3000        # no rows dropped
    # fp rate sane for 429 keys in 4096 bits (fill ~27%, (0.27)^3 ~ 2%)
    fp = len(passed - truth) / (3000 - len(truth))
    assert fp < 0.10
    # the corpus check must be map-side: no Exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hll_sketch_accuracy_and_mergeability(spark):
    from ukis_h3cellstore_spark.ops import sketches as SK

    n = 20_000
    df = spark.createDataFrame(
        [(i,) for i in range(n)], "v long"
    )
    s = SK.hll_summary(df, "v", b=9).collect()[0]
    est = SK.hll_estimate(s["m"], s["sum_pow"], b=9)
    # standard error ~ 1.04/sqrt(512) = 4.6%; allow 3 sigma
    assert abs(est - n) / n < 0.15
    assert s["m"] == 512 and s["n_empty_registers"] == 0

    # mergeability: register-wise max of two halves == whole
    lo = df.filter(F.col("v") < n // 2)
    hi = df.filter(F.col("v") >= n // 2)
    whole = {
        (r["idx"], r["mj"])
        for r in SK.hll_registers(df, "v", b=9).collect()
    }
    merged = {
        (r["idx"], r["mj"])
        for r in SK.hll_registers(lo, "v", b=9)
        .unionByName(SK.hll_registers(hi, "v", b=9))
        .groupBy("idx").agg(F.max("mj").alias("mj")).collect()
    }
    assert merged == whole
    # duplicates must not change the sketch
    dup = SK.hll_summary(df.unionByName(df), "v", b=9).collect()[0]
    assert dup == s


def test_cms_heavy_hitters_guarantees(spark):
    from ukis_h3cellstore_spark.ops import sketches as SK

    # skewed stream: value i appears (i < 5 ? 1000 : 1) times
    rows = [(f"hot{i}",) for i in range(5) for _ in range(1000)] + [
        (f"cold{i}",) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "v string").repartition(8)

    regs = SK.cms_registers(df, "v", d=3, w=256)
    reg_rows = regs.collect()
    assert len(reg_rows) <= 3 * 256
    # total mass per hash row equals the stream length
    per_j = {}
    for r in reg_rows:
        per_j[r["j"]] = per_j.get(r["j"], 0) + r["cnt"]
    assert set(per_j.values()) == {len(rows)}

    # one-sided error: est >= true count for every value
    est = {
        r["v"]: r["est"]
        for r in SK.cms_estimate(df, regs, "v", d=3, w=256).collect()
    }
    for i in range(5):
        assert est[f"hot{i}"] >= 1000
    for i in range(0, 2000, 97):
        assert est[f"cold{i}"] >= 1

    # heavy hitters is a superset of the true >= total/64 set
    hh = {r["v"] for r in SK.cms_heavy_hitters(df, "v", 64, d=3, w=256).collect()}
    assert {f"hot{i}" for i in range(5)} <= hh

    # mergeability: register-wise sum of two halves == whole sketch
    lo = df.filter(F.col("v").startswith("hot"))
    hi = df.filter(~F.col("v").startswith("hot"))
    merged = {
        (r["j"], r["idx"]): r["cnt"]
        for r in SK.cms_registers(lo, "v", d=3, w=256)
        .unionByName(SK.cms_registers(hi, "v", d=3, w=256))
        .groupBy("j", "idx").agg(F.sum("cnt").alias("cnt")).collect()
    }
    whole = {(r["j"], r["idx"]): r["cnt"] for r in reg_rows}
    assert merged == whole


def test_keep_best_per_cluster_argmax_and_ties(spark):
    from ukis_h3cellstore_spark.ops import dedup as D

    # two clusters: {1,2,3} (chain) and {10,11}; plus isolated 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    meta = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2), (99, 100)],
        "doc_id long, q long",
    )
    out = {
        r["component"]: (r["n_members"], r["kept_id"], r["kept_quality"])
        for r in D.keep_best_per_cluster(pairs, meta, "q").collect()
    }
    # cluster 1: max q=9 tied between 2 and 3 -> smallest id (2) kept
    assert out[1] == (3, 2, 9)
    # cluster 10: doc 10 has higher quality than 11
    assert out[10] == (2, 10, 4)
    # isolated doc never appears (no pair -> no cluster row)
    assert set(out) == {1, 10}


def test_tfidf_topk_ranks_distinctive_terms(spark):
    from ukis_h3cellstore_spark.ops import text as X

    df = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "cherry shared shared"),
            (3, "banana cherry shared"),
        ],
        "doc_id long, text string",
    )
    out = X.tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 'apple' (tf=2, df=1) must outrank 'shared' (df=3)
    assert by_doc[1][0]["token"] == "apple"
    assert all(len(v) == 2 for v in by_doc.values())
    # scores are rounded to 4dp
    for r in out:
        assert abs(r["score"] - round(r["score"], 4)) < 1e-12
    # smoothed idf keeps corpus-wide terms positive
    shared = [r for r in out if r["token"] == "shared"]
    assert shared and all(r["score"] > 0 for r in shared)


def test_global_cumsum_decimal_offsets_stay_exact(spark):
    """Advisor r6: decimal value columns must accumulate partition
    offsets in Decimal, not int() (which floor-truncates fractional
    parts into every later range partition)."""
    from decimal import Decimal

    from ukis_h3cellstore_spark.ops import prefix as P

    rows = [(i, Decimal(f"{(i % 7)}.{25 + (i % 3)}")) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, v decimal(10,2)").repartition(6)
    out = (
        P.global_cumsum(df, ["k"], "v", num_partitions=5)
        .orderBy("k")
        .collect()
    )
    acc = Decimal(0)
    for (k, v), r in zip(rows, out):
        acc += v
        assert r.cum_sum == acc, (k, r.cum_sum, acc)
    assert dict(
        P.global_cumsum(df, ["k"], "v", num_partitions=5).dtypes
    )["cum_sum"].startswith("decimal")
    # unsupported sum types raise instead of silently truncating
    sdf = spark.createDataFrame([(1, "x")], "k long, v string")
    import pytest as _pt

    with _pt.raises(Exception):
        P.global_cumsum(sdf, ["k"], "v").collect()


def test_keep_best_per_cluster_string_ids_and_type_guard(spark):
    """Advisor r6: the argmax tie-break must be deterministic for
    STRING ids (no implicit double cast), and non-numeric quality
    must raise instead of silently miscomparing."""
    import pytest as _pt

    from ukis_h3cellstore_spark.ops import dedup as D

    pairs = spark.createDataFrame(
        [("a1", "b2"), ("b2", "c3"), ("x9", "y8")], "id_a string, id_b string"
    )
    meta = spark.createDataFrame(
        [("a1", 5.0), ("b2", 9.0), ("c3", 9.0), ("x9", 1.0), ("y8", 7.0)],
        "doc_id string, q double",
    )
    out = {
        r["component"]: (r["n_members"], r["kept_id"], r["kept_quality"])
        for r in D.keep_best_per_cluster(pairs, meta, "q").collect()
    }
    # q=9.0 tie between b2 and c3 -> lexicographically smallest id
    assert out["a1"] == (3, "b2", 9.0)
    assert out["x9"] == (2, "y8", 7.0)
    bad_meta = meta.withColumn("q", meta.doc_id)  # string quality
    with _pt.raises(TypeError, match="must be numeric"):
        D.keep_best_per_cluster(pairs, bad_meta, "q")


def test_resample_matches_subsample_at_half_integer_rates(spark):
    """Advisor r6: rates whose frac*SPLIT_BUCKETS is a half-integer
    (0.00025 * 10000 = 2.5) must threshold with the SAME rounding in
    both operators — banker's via driver-side round() — so the
    documented rates<=1.0 identity actually holds."""
    from ukis_h3cellstore_spark.ops import sampling as SM

    rows = [(i, "s0", "t") for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    for rate in (0.00025, 0.00035, 0.15, 1.00025):
        rates = {"s0": rate}
        down = {r.doc_id for r in SM.subsample_by_source(df, rates).collect()}
        up = SM.resample_by_source(df, rates).collect()
        base = {r.doc_id for r in up if r.copy_no == 0}
        extra = {r.doc_id for r in up if r.copy_no == 1}
        if rate <= 1.0:
            assert base == down, rate
            assert not extra
        else:
            # every row once, plus the SAME fractional set as the
            # equivalent rate-frac down-sample
            assert base == {i for i in range(5000)}
            frac = {
                r.doc_id
                for r in SM.subsample_by_source(
                    df, {"s0": rate - 1.0}
                ).collect()
            }
            assert extra == frac


def test_semantic_dedup_matrix_join_agree_on_ties_and_zero_norms(spark):
    """Advisor r6: the numpy Gram kernel must replicate F.round's
    HALF_UP at exact 4th-decimal ties, and zero-norm vectors (cosine
    undefined — NULL via try_divide under ANSI, -inf in numpy) must
    never count as duplicates — both kernels must emit the same kept
    set on such inputs."""
    from ukis_h3cellstore_spark.ops import similarity as S

    # vectors engineered so a pair's cosine rounds differently under
    # half-even vs HALF_UP at 4dp: cos = 0.99995 exactly is hard to
    # hit in binary, so instead verify kernel agreement on a corpus
    # that includes zero vectors + near-tie angles
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99995, 0.0099998749, 0.0]),  # cos vs 1 ~ 0.99995
        (3, [0.0, 0.0, 0.0]),               # zero norm
        (4, [0.0, 0.0, 0.0]),               # zero norm
        (5, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(n_clusters=1, threshold=0.9999, train_iters=1, round_digits=4)
    m = {
        r.vec_id: r.kept
        for r in S.semantic_dedup(df, pairwise="matrix", **kw).collect()
    }
    j = {
        r.vec_id: r.kept
        for r in S.semantic_dedup(df, pairwise="join", **kw).collect()
    }
    assert m == j
    # zero-norm vectors: undefined cosine -> never duplicates
    assert m[3] is True and m[4] is True


def test_phash_short_payloads_null_not_zero(spark):
    """Advisor r6: payloads shorter than the gram width carry no
    signal — they must emit NULL phashes and never pair with each
    other (the old shared-0 sentinel made all short docs mutual
    hamming-0 duplicates)."""
    from ukis_h3cellstore_spark.ops import multimodal as M

    long_text = "the quick brown fox jumps over the lazy dog " * 4
    df = spark.createDataFrame(
        [(1, "ab"), (2, "xy"), (3, long_text), (4, long_text + "!")],
        "doc_id long, text string",
    )
    pay = M.attach_binary_payload(df)
    hs = {r.doc_id: r.phash for r in M.perceptual_hash_stub(pay).collect()}
    assert hs[1] is None and hs[2] is None
    assert hs[3] is not None and hs[4] is not None
    pairs = M.phash_dup_pairs(pay, max_hamming=6).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(3, 4)]


def test_weighted_sample_matches_brute_force_es(spark):
    """weighted_sample must select exactly the Efraimidis–Spirakis
    winners computed serially (same salted hash, same race keys),
    globally and per group; non-positive weights never win."""
    import hashlib
    import math

    from ukis_h3cellstore_spark.ops import sampling as SM

    rows = [
        (i, f"g{i % 3}", float((i * 13) % 29 + 1) if i % 11 else 0.0)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, w double")

    def key(i, w):
        h = int(hashlib.md5(f"ws|{i}".encode()).hexdigest()[:15], 16)
        return math.log((h + 1.0) / 2.0**60) / w

    eligible = [(i, g, w) for i, g, w in rows if w > 0]
    exp_global = {
        i
        for i, _, _ in sorted(
            eligible, key=lambda r: (-key(r[0], r[2]), r[0])
        )[:10]
    }
    got_global = {
        r.doc_id for r in SM.weighted_sample(df, 10, "w").collect()
    }
    assert got_global == exp_global
    exp_by = set()
    for g in ("g0", "g1", "g2"):
        grp = [r for r in eligible if r[1] == g]
        exp_by |= {
            i
            for i, _, _ in sorted(
                grp, key=lambda r: (-key(r[0], r[2]), r[0])
            )[:4]
        }
    got_by = {
        r.doc_id
        for r in SM.weighted_sample(df, 4, "w", by="grp").collect()
    }
    assert got_by == exp_by
    # zero-weight rows are never selected even when k exceeds eligible
    all_sel = SM.weighted_sample(df, 1000, "w").collect()
    assert len(all_sel) == len(eligible)


def test_taxonomy_tag_counts_ties_and_default(spark):
    """taxonomy_tag: per-topic counts exact, dominant-topic ties break
    lexicographically, no-hit docs get the default topic, and bad
    dictionaries are rejected."""
    import pytest as _pt

    tax = {"cat": "pets", "dog": "pets", "euro": "money", "yen": "money"}
    df = spark.createDataFrame(
        [
            (1, "Cat dog euro cat"),     # pets=3, money=1
            (2, "euro yen DOG dog"),     # money=2, pets=2 -> tie -> money
            (3, "nothing matches here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in X.taxonomy_tag(df, tax).collect()}
    assert dict(out[1].topic_counts) == {"pets": 3, "money": 1}
    assert (out[1].n_matches, out[1].dominant_topic) == (4, "pets")
    assert out[2].dominant_topic == "money"  # tie 2-2 -> lexicographic
    assert (out[3].n_matches, out[3].dominant_topic) == (0, "other")
    assert dict(out[3].topic_counts) == {}
    assert out[4].dominant_topic == "other"
    assert len(out) == 4
    with _pt.raises(ValueError, match="lowercase single tokens"):
        X.taxonomy_tag(df, {"Two Words": "x"})
    with _pt.raises(ValueError, match="not be empty"):
        X.taxonomy_tag(df, {})


def test_grouped_rank_median_mad_match_brute_force(spark):
    """grouped_rank/grouped_median/mad_outliers must equal the serial
    computation exactly — ranks, middle-rank medians ((a+b)/2), MAD,
    and outlier flags — while never windowing by the bare group key."""
    import statistics

    from ukis_h3cellstore_spark.ops import robust as R

    rows = []
    for i in range(700):
        g = f"g{i % 4}"
        v = float(((i * 131) % 97) - 48) + (0.25 if i % 3 else 0.0)
        rows.append((i, g, v))
    # group g3 gets a contaminated tail
    rows += [(1000 + j, "g3", 1e6 + j) for j in range(5)]
    df = spark.createDataFrame(rows, "id long, g string, v double").repartition(9)

    ranked = R.grouped_rank(df, "g", ["v", "id"], num_partitions=5)
    got = {(r.g, r.id): r.rank for r in ranked.collect()}
    for g in ("g0", "g1", "g2", "g3"):
        grp = sorted([r for r in rows if r[1] == g], key=lambda r: (r[2], r[0]))
        for rk, (i, _, _) in enumerate(grp, start=1):
            assert got[(g, i)] == rk

    med = {r.g: (r.n, r.median) for r in R.grouped_median(df, "g", "v").collect()}
    out = R.mad_outliers(df, "g", "v", k=3.5).collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r[1], []).append(r[2])
    for g, vals in by_g.items():
        vs = sorted(vals)
        n = len(vs)
        exp_med = (vs[(n - 1) // 2] + vs[n // 2]) / 2
        assert med[g] == (n, exp_med), g
        devs = sorted(abs(v - exp_med) for v in vs)
        exp_mad = (devs[(n - 1) // 2] + devs[n // 2]) / 2
        grp_rows = [r for r in out if r.g == g]
        assert all(r.mad == exp_mad for r in grp_rows)
        exp_out = {True: 0, False: 0}
        for v in vals:
            exp_out[abs(v - exp_med) > 3.5 * exp_mad] += 1
        assert sum(1 for r in grp_rows if r.is_outlier) == exp_out[True]
    # the contaminated tail is flagged, the bulk is not
    g3 = [r for r in out if r.g == "g3"]
    assert sum(1 for r in g3 if r.is_outlier) == 5
    assert statistics.median([r.v for r in g3]) < 1000


def test_perplexity_buckets_equal_count_tiers(spark):
    """perplexity_buckets: exact equal-count tiers over the surprisal
    order, deterministic ties, token-less docs excluded."""
    rows = [(i, ("common " * 5 + f"rare{i} " * (i % 4)).strip()) for i in range(30)]
    rows.append((99, "   "))  # token-less
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = X.perplexity_buckets(df, n_buckets=3).collect()
    assert len(out) == 30  # empty doc excluded
    sizes = {}
    for r in out:
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
    assert sizes == {"head": 10, "middle": 10, "tail": 10}
    # bucket order follows the surprisal order
    by_bucket = {b: [r.avg_surprisal_milli for r in out if r.bucket == b] for b in sizes}
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_length_bucket_batches_pow2_and_full_batches(spark):
    """length_bucket_batches: power-of-two buckets exact (bit-length,
    no float log2), deterministic batch numbering by id, batches full
    except the last per bucket, padding arithmetic exact."""
    from ukis_h3cellstore_spark.ops import sampling as SM

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(
        [1, 2, 3, 4, 5, 8, 9, 15, 16, 17, 31, 33, 1, 2, 3, 4]
    )]
    rows.append((99, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in SM.length_bucket_batches(df, batch_size=3).collect()}
    assert 99 not in out and len(out) == 16
    exp_bucket = {1: 1, 2: 2, 3: 4, 4: 4, 5: 8, 8: 8, 9: 16, 15: 16,
                  16: 16, 17: 32, 31: 32, 33: 64}
    for doc_id, r in out.items():
        assert r.bucket == exp_bucket[r.n_tokens], (doc_id, r)
        assert r.pad_tokens == r.bucket - r.n_tokens
    # bucket 4 holds docs {2(3w),3(4w),13(3w? wait id13 n=2)->bucket2}
    four = sorted((r.doc_id for r in out.values() if r.bucket == 4))
    got_batches = {r.doc_id: r.batch_no for r in out.values() if r.bucket == 4}
    # batch_no assigned in id order, batch_size=3
    for pos, d in enumerate(four):
        assert got_batches[d] == pos // 3
    stats = SM.batch_padding_stats(df, batch_size=3).collect()
    for s in stats:
        assert s.padded_tokens == s.bucket * s.n_docs
        assert s.waste_milli == (1000 * (s.padded_tokens - s.total_tokens)) // s.padded_tokens


def test_token_budget_waterfill_matches_greedy(spark):
    """token_budget_allocation must equal the serial greedy waterline
    (ascending fill, first source over its candidate line fixes λ),
    and token_budget_mix keeps exactly the hash-ordered prefix whose
    running total fits each source's allocation."""
    import hashlib

    from ukis_h3cellstore_spark.ops import sampling as SM

    counts = [("a", 10), ("b", 100), ("c", 100), ("d", 7)]
    cdf = spark.createDataFrame(counts, "source string, n_tokens long")

    def greedy(cnts, budget):
        srt = sorted(cnts, key=lambda r: (r[1], r[0]))
        k = len(srt)
        p = 0
        for j, (s, n) in enumerate(srt, start=1):
            lam = (budget - p) // (k - j + 1)
            if n > lam:
                return {s2: min(n2, lam) for s2, n2 in cnts}
            p += n
        return dict(cnts)

    for budget in (0, 4, 17, 60, 120, 216, 217, 1000):
        got = {
            r.source: r.alloc
            for r in SM.token_budget_allocation(cdf, budget).collect()
        }
        assert got == greedy(counts, budget), budget
        assert sum(got.values()) <= max(budget, 0) or sum(
            got.values()
        ) == sum(n for _, n in counts)

    # end-to-end: mix keeps the per-source hash-ordered prefix
    rows = [(i, f"s{i % 2}", " ".join(["w"] * (3 + i % 5))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = SM.token_budget_mix(df, budget=50)
    kept = {r.doc_id: r for r in out.collect()}
    toks = {i: 3 + i % 5 for i, _, _ in rows}
    src_tokens = {"s0": 0, "s1": 0}
    for i, s, _ in rows:
        src_tokens[s] += toks[i]
    alloc = greedy(sorted(src_tokens.items()), 50)
    for s in ("s0", "s1"):
        ids = [i for i, ss, _ in rows if ss == s]
        ids.sort(
            key=lambda i: (
                int(hashlib.md5(f"tb|{i}".encode()).hexdigest()[:15], 16),
                i,
            )
        )
        cum, exp = 0, set()
        for i in ids:
            cum += toks[i]
            if cum <= alloc[s]:
                exp.add(i)
        assert {i for i in kept if kept[i].source == s} == exp, s


def test_collocations_by_lift_exact_and_support_cut(spark):
    """collocations_by_lift: lift_milli matches the serial integer
    formula, the support cut drops rare pairs, ranking is
    deterministic."""
    from collections import Counter

    texts = ["strong coffee tastes good"] * 6 + [
        "strong wind blows",
        "coffee breaks happen",
        "good strong coffee here",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = X.collocations_by_lift(df, min_count=2, top_k=5).collect()
    uni = Counter(w for t in texts for w in t.split())
    big = Counter(
        (a, b) for t in texts for a, b in zip(t.split(), t.split()[1:])
    )
    N = sum(uni.values())
    exp = sorted(
        (
            ((1000 * c * N) // (uni[l] * uni[r]), l, r, c)
            for (l, r), c in big.items()
            if c >= 2
        ),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:5]
    got = [(r.lift_milli, r.left, r.right, r.pair_count) for r in out]
    assert got == [(m, l, r, c) for m, l, r, c in exp]
    # rare pairs (count 1) never appear
    assert all(r.pair_count >= 2 for r in out)


def test_taxonomy_tag_map_join_parity(spark):
    """The shuffle-free literal-map kernel and the broadcast-join
    kernel must produce identical rows on every input shape."""
    tax = {"cat": "pets", "dog": "pets", "euro": "money", "yen": "money"}
    df = spark.createDataFrame(
        [
            (1, "Cat dog euro cat"),
            (2, "euro yen DOG dog"),
            (3, "nothing matches here"),
            (4, ""),
            (5, "yen yen yen cat"),
        ],
        "doc_id long, text string",
    )
    a = {
        r.doc_id: (dict(r.topic_counts), r.n_matches, r.dominant_topic)
        for r in X.taxonomy_tag(df, tax, method="map").collect()
    }
    b = {
        r.doc_id: (dict(r.topic_counts), r.n_matches, r.dominant_topic)
        for r in X.taxonomy_tag(df, tax, method="join").collect()
    }
    assert a == b and len(a) == 5


def test_grouped_auc_matches_serial_rank_sum(spark):
    """grouped_auc must equal the serial Mann-Whitney rank-sum per
    group (integer micro units), with NULL for one-class groups."""
    from ukis_h3cellstore_spark.ops import robust as R

    rows = []
    for i in range(300):
        g = f"g{i % 3}"
        score = float((i * 37) % 101) + (0.5 if i % 2 else 0.0)
        label = (i * 7) % 5 < 2
        rows.append((i, g, score, label))
    rows += [(900 + j, "gonly", float(j), True) for j in range(5)]  # one-class
    df = spark.createDataFrame(rows, "id long, g string, s double, y boolean")
    got = {
        r.g: (r.n_pos, r.n_neg, r.auc_micro)
        for r in R.grouped_auc(df, "g", "s", "y", tiebreak_cols=["id"]).collect()
    }
    by_g = {}
    for i, g, s, y in rows:
        by_g.setdefault(g, []).append((s, i, y))
    for g, items in by_g.items():
        items.sort(key=lambda t: (t[0], t[1]))
        rs = sum(rk for rk, (_, _, y) in enumerate(items, start=1) if y)
        p = sum(1 for *_, y in items if y)
        nneg = len(items) - p
        exp = (
            (1_000_000 * (2 * rs - p * (p + 1))) // (2 * p * nneg)
            if p and nneg
            else None
        )
        assert got[g] == (p, nneg, exp), g
    assert got["gonly"][2] is None


def test_random_sign_projection_exact_and_jl_property(spark):
    """random_sign_projection must equal the serial md5-sign matmul
    exactly, and approximately preserve pairwise distances (JL)."""
    import hashlib

    import numpy as np

    from ukis_h3cellstore_spark.ops import similarity as S

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 32).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.random_sign_projection(df, in_dim=32, out_dim=12)
    got = {}
    for r in out.collect():
        got.setdefault(r.vec_id, {})[r.dim_no] = r.proj_milli

    def sign(i, j):
        return (int(hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[:2], 16) % 2) * 2 - 1

    smat = np.array([[sign(i, j) for j in range(12)] for i in range(32)])
    q = np.floor(vecs.astype("float64") * 1000 + 0.5).astype("int64")
    exp = q @ smat
    for i in range(40):
        for j in range(12):
            assert got[i][j] == exp[i][j], (i, j)
    # JL: projected/original distance ratios stay bounded near 1
    # (isotropic gaussian distances CONCENTRATE, so correlation is the
    # wrong metric — the guarantee is the per-pair ratio bound)
    proj = exp.astype("float64") / (1000.0 * np.sqrt(12))
    ratios = []
    for a in range(0, 40, 3):
        for b in range(a + 1, 40, 7):
            d0 = np.linalg.norm(vecs[a] - vecs[b])
            dp = np.linalg.norm(proj[a] - proj[b])
            ratios.append(dp / d0)
    ratios = np.array(ratios)
    assert ratios.min() > 0.3 and ratios.max() < 2.5, (
        ratios.min(),
        ratios.max(),
    )
    assert 0.7 < ratios.mean() < 1.3, ratios.mean()


def test_winsorize_and_calibration_serial_check(spark):
    """winsorize_by_group clamps at the interpolated p5/p95 exactly;
    calibration_bins reproduces serial fixed-width binning."""
    import numpy as np

    from ukis_h3cellstore_spark.ops import robust as R

    vals = [float(v) for v in range(1, 101)]  # 1..100, one group
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)], "id long, g string, v double"
    )
    out = R.winsorize_by_group(df, "g", "v").collect()
    lo, hi = np.quantile(vals, 0.05), np.quantile(vals, 0.95)
    for r in out:
        assert abs(r.lo_cut - lo) < 1e-9 and abs(r.hi_cut - hi) < 1e-9
        assert r.value_w == min(max(r.v, lo), hi)
        assert r.clamped_lo == (r.v < lo) and r.clamped_hi == (r.v > hi)

    rows = [((i % 100) / 100.0 + 0.005, i % 4 == 0) for i in range(400)]
    sdf = spark.createDataFrame(rows, "score double, label boolean")
    bins = {r.bin_no: r for r in R.calibration_bins(sdf, "score", "label").collect()}
    exp = {}
    for s, y in rows:
        b = min(max(int(s * 10), 0), 9)
        n, p, ssum = exp.get(b, (0, 0, 0.0))
        exp[b] = (n + 1, p + int(y), ssum + s)
    for b, (n, p, ssum) in exp.items():
        r = bins[b]
        assert (r.n, r.n_pos) == (n, p), b
        assert abs(r.mean_score - round(ssum / n, 4)) < 1e-9


def test_triangle_counts_match_brute_force(spark):
    """triangle_counts (degree-ordered node-iterator) must equal the
    serial all-triples count, including on graphs with hubs, isolated
    edges, self-loops, and duplicate/reversed input edges."""
    from itertools import combinations

    from ukis_h3cellstore_spark.ops import graph as G

    edges = [
        (1, 2), (2, 3), (1, 3),            # triangle
        (3, 4), (4, 5), (3, 5), (4, 6),    # second triangle + tail
        (2, 1), (1, 1), (5, 4),            # reversed dup, self-loop, dup
        (7, 8),                            # isolated edge
    ]
    # hub: node 0 connects to 10..19, and 10-11, 12-13 close triangles
    edges += [(0, k) for k in range(10, 20)] + [(10, 11), (12, 13)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.n_triangles for r in G.triangle_counts(df).collect()}

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    exp = {}
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= und:
            for n in (a, b, c):
                exp[n] = exp.get(n, 0) + 1
    assert got == exp
    assert got[0] == 2 and got[1] == 1 and got[3] == 2
    assert 7 not in got and 6 not in got


def test_source_minhash_drift_estimates(spark):
    """source_minhash_drift: identical sources agree on every
    permutation; disjoint-shingle sources agree on ~none; a half-
    overlapping source lands in between."""
    from ukis_h3cellstore_spark.ops import sketches as SK

    text_a = " ".join(f"tok{i}" for i in range(60))
    text_b = " ".join(f"tok{i}" for i in range(30)) + " " + " ".join(
        f"other{i}" for i in range(30)
    )
    text_c = " ".join(f"zzz{i}" for i in range(60))
    rows = [
        (1, "sA", text_a), (2, "sA2", text_a),       # identical corpora
        (3, "sB", text_b),                           # ~half overlap w/ A
        (4, "sC", text_c),                           # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        (r.source_a, r.source_b): r.matches
        for r in SK.source_minhash_drift(df, k=32).collect()
    }
    assert out[("sA", "sA2")] == 32
    assert out[("sA", "sC")] <= 3
    assert 5 <= out[("sA", "sB")] <= 28  # est of true J≈1/3
    assert len(out) == 6


def test_grouped_rank_cumsum_null_and_nan_group_keys(spark):
    """NULL group keys next to non-NULL ones: the per-(partition,
    group) offsets must be ordered without comparing keys (a NULL and
    a string do not order), and the NULL group's later partitions must
    still receive their offsets. A NaN group spanning partitions is one
    group, as in Spark."""
    import math

    from ukis_h3cellstore_spark.ops import robust as R

    def group(g):
        return "nan" if isinstance(g, float) and math.isnan(g) else g

    cases = [
        (keys, g_type, n)
        for keys, g_type in (
            (["a", None, "a", None, "b"], "string"),
            ([1.0, math.nan, 1.0, None, math.nan], "double"),
        )
        for n in (5, 300)
    ]
    for keys, g_type, n in cases:
        rows = [(i, keys[i % 5], float((i * 37) % 11)) for i in range(n)]
        df = spark.createDataFrame(
            rows, f"id long, g {g_type}, v double"
        ).repartition(3)
        ranked = {
            r.id: r.rank
            for r in R.grouped_rank(df, "g", ["v", "id"], num_partitions=6).collect()
        }
        cum = {
            r.id: r.cum_sum
            for r in R.grouped_cumsum(
                df, "g", ["v", "id"], "v", num_partitions=6
            ).collect()
        }
        for g in {group(k) for k in keys}:
            items = sorted((v, i) for i, k, v in rows if group(k) == g)
            acc = 0.0
            for rk, (v, i) in enumerate(items, start=1):
                acc += v
                assert (ranked[i], cum[i]) == (rk, acc), (g_type, n, g, i)


def test_grouped_rank_tie_run_splits_across_partitions(spark):
    """The trailing range_tiebreaker key must split a dominant EQUAL
    (group, value) tie-run across range partitions — range partitioning
    alone can never separate equal keys, so a 40 %-repeated value would
    otherwise be one unsplittable task at scale. Median/rank answers
    must be unchanged by the split (tie-order independence)."""
    from pyspark.sql import functions as F

    from ukis_h3cellstore_spark.ops import robust as R

    # one group holds half the rows; value 0.0 repeats for 40 % of it
    rows = [
        (i, "big" if i % 2 == 0 else f"g{i % 5}",
         0.0 if (i % 2 == 0 and i % 10 < 4) else float((i * 131) % 997))
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")

    rp = df.repartitionByRange(8, F.col("g"), F.col("v"), R.range_tiebreaker(df))
    sizes = [
        r["count"]
        for r in rp.groupBy(F.spark_partition_id()).count().collect()
    ]
    n_ties = sum(1 for _, g, v in rows if g == "big" and v == 0.0)
    assert n_ties >= 800  # 800 planted + the odd (i*131) % 997 == 0 hits
    # without the tiebreaker the max partition holds the whole tie-run
    # (>= 800 rows); with it no task should exceed ~2x the ideal share
    assert max(sizes) < 800, sizes
    assert max(sizes) <= 2 * (len(rows) // 8), sizes

    # rank -> value mapping identical to the serial computation
    ranked = R.grouped_rank(df, "g", ["v"], num_partitions=8)
    got = {}
    for r in ranked.collect():
        got.setdefault(r.g, {})[r.rank] = r.v
    for g in {r[1] for r in rows}:
        vs = sorted(v for _, gg, v in rows if gg == g)
        assert got[g] == {i + 1: v for i, v in enumerate(vs)}, g

    # and an explicit unique tiebreak column is honored verbatim
    ranked_id = R.grouped_rank(
        df, "g", ["v", "id"], num_partitions=8, range_tiebreak="id"
    )
    got_id = {(r.g, r.id): r.rank for r in ranked_id.collect()}
    for g in {r[1] for r in rows}:
        grp = sorted(
            [r for r in rows if r[1] == g], key=lambda r: (r[2], r[0])
        )
        for rk, (i, _, _) in enumerate(grp, start=1):
            assert got_id[(g, i)] == rk


def test_quantile_transform_uniformizes_per_group(spark):
    """quantile_transform: q_milli equals the serial (1000*rank)//(n+1)
    per group, so per-group distributions become uniform ranks."""
    from ukis_h3cellstore_spark.ops import robust as R

    rows = [(i, f"g{i % 2}", float((i * 37) % 50) * (10 if i % 2 else 0.1))
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r.id: r.q_milli for r in R.quantile_transform(
        df, "g", "v", tiebreak_cols=["id"]).collect()}
    by_g = {}
    for i, g, v in rows:
        by_g.setdefault(g, []).append((v, i))
    for g, items in by_g.items():
        items.sort()
        n = len(items)
        for rk, (v, i) in enumerate(items, start=1):
            assert out[i] == (1000 * rk) // (n + 1), (g, i)


def test_asof_nearest_matches_brute_force(spark):
    """asof_join direction='nearest' must pick the closer side with
    backward tie-break, honor tolerance per side, and cost one sort
    (no second union pass needed for correctness)."""
    from ukis_h3cellstore_spark.ops import joins as J

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "u", 300), (4, "v", 50),
         (5, "w", 10)],
        "id long, k string, ts_us long",
    )
    right = spark.createDataFrame(
        [("u", 90, 9000), ("u", 210, 21000), ("u", 290, 29000),
         ("v", 50, 5000)],
        "k string, ts_us long, val long",
    )
    out = {r.id: (r.asof_ts_us, r.asof_val) for r in J.asof_join(
        left, right, on="k", direction="nearest").collect()}
    assert out[1] == (90, 9000)       # 10 back vs 110 fwd
    assert out[2] == (210, 21000)     # 5 fwd vs 115 back
    assert out[3] == (290, 29000)     # 10 back vs none fwd... (310 none)
    assert out[4] == (50, 5000)       # exact tie -> distance 0
    assert out[5] == (None, None)     # no right rows for key
    # equidistant -> backward
    left2 = spark.createDataFrame([(9, "u", 150)], "id long, k string, ts_us long")
    out2 = {r.id: r.asof_ts_us for r in J.asof_join(
        left2, right, on="k", direction="nearest").collect()}
    assert out2[9] == 90  # 60 back vs 60 fwd (210) -> backward
    # tolerance drops far matches per side
    out3 = {r.id: r.asof_ts_us for r in J.asof_join(
        left, right, on="k", direction="nearest", tolerance=8).collect()}
    assert out3[1] is None and out3[2] == 210 and out3[4] == 50


def test_personalized_pagerank_seed_semantics(spark):
    """pagerank(seeds=...): mass restarts only at seeds, non-seed
    sinks still accumulate via edges, seeds=None unchanged, and a
    seed set disjoint from the graph raises."""
    import pytest as _pt

    from ukis_h3cellstore_spark.ops import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",), ("zzz",)], "node string")
    pr = {r.node: r.rank_fp for r in G.pagerank(edges, 2, seeds=seeds).collect()}
    # d has no in-edges and is not a seed -> exactly zero
    assert pr["d"] == 0
    # the seed keeps teleport mass; its neighbors accumulate
    assert pr["a"] > pr["b"] > 0
    # unpersonalized run gives d the uniform teleport
    pr0 = {r.node: r.rank_fp for r in G.pagerank(edges, 2).collect()}
    assert pr0["d"] > 0
    bad = spark.createDataFrame([("nope",)], "node string")
    with _pt.raises(ValueError, match="no seed node"):
        G.pagerank(edges, 2, seeds=bad)


def test_label_centroid_similarity_matches_numpy(spark):
    """label_centroid_similarity must equal numpy centroid cosines on
    milli-quantized vectors (scale-invariance: sum == mean)."""
    import numpy as np

    from ukis_h3cellstore_spark.ops import similarity as S

    rng = np.random.RandomState(3)
    rows = []
    for lab in range(3):
        base = rng.randn(8)
        for i in range(20):
            v = base + 0.1 * rng.randn(8)
            rows.append((lab * 100 + i, lab, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    got = {
        (r.label_a, r.label_b): r.centroid_cos
        for r in S.label_centroid_similarity(df).collect()
    }
    sums = {}
    for _, lab, v in rows:
        q = np.floor(np.array(v, dtype="float32").astype("float64") * 1000 + 0.5)
        sums[lab] = sums.get(lab, 0) + q
    for (a, b), cos in got.items():
        sa, sb = sums[a], sums[b]
        exp = float(sa @ sb) / np.sqrt(float(sa @ sa) * float(sb @ sb))
        assert abs(cos - round(exp, 4)) < 1e-9, (a, b)
    # tight same-ish clusters should separate: all pairwise < 1
    assert all(c < 1.0 for c in got.values()) and len(got) == 3


def test_corpus_datacard_serial_check(spark):
    """corpus_datacard equals the serial datasheet computation,
    including dup accounting and the exact middle-rank median."""
    from ukis_h3cellstore_spark.ops import report as RP

    rows = [
        (1, "s0", "en", "alpha beta gamma"),
        (2, "s0", "en", "alpha beta gamma"),      # exact dup of 1
        (3, "s0", "de", "  ALPHA beta GAMMA  "),  # dup after lower+trim
        (4, "s1", "en", "delta"),
        (5, "s1", "fr", ""),
        (6, "s0", "en", "eps zeta eta theta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, lang string, text string")
    r = RP.corpus_datacard(df).collect()[0]
    assert (r.n_docs, r.n_sources, r.n_langs) == (6, 2, 3)
    assert r.total_tokens == 3 + 3 + 3 + 1 + 0 + 5
    assert r.total_chars == sum(len(t) for *_, t in rows)
    lens = sorted(len(t) for *_, t in rows)
    assert r.median_chars == (lens[2] + lens[3]) / 2
    assert (r.n_dup_groups, r.n_dup_docs) == (1, 3)  # docs 1,2,3 share key
    assert r.top_source_share_milli == (1000 * 4) // 6


def test_whiten_embeddings_moments_and_constant_dim(spark):
    """whiten_embeddings: whitened dims have (numerically) zero mean
    and unit variance over the milli-quantized inputs; constant dims
    yield NULL."""
    import numpy as np

    from ukis_h3cellstore_spark.ops import similarity as S

    rng = np.random.RandomState(11)
    vecs = rng.randn(50, 6).astype("float32")
    vecs[:, 5] = 0.5  # constant dim
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.whiten_embeddings(df, round_digits=6).collect()
    by_dim = {}
    for r in out:
        by_dim.setdefault(r.dim_no, []).append(r.w)
    for d in range(5):
        ws = np.array(by_dim[d], dtype="float64")
        assert abs(ws.mean()) < 1e-3
        assert abs(ws.std() - 1.0) < 1e-3
    assert all(w is None for w in by_dim[5])


def test_knn_label_agreement_flags_mislabel(spark):
    """knn_label_agreement: a vector planted inside another label's
    cluster gets zero agreement; in-cluster vectors agree fully."""
    import numpy as np

    from ukis_h3cellstore_spark.ops import similarity as S

    rng = np.random.RandomState(5)
    rows = []
    for lab, center in ((0, np.array([10.0, 0, 0])), (1, np.array([0, 10.0, 0]))):
        for i in range(10):
            v = center + 0.1 * rng.randn(3)
            rows.append((lab * 100 + i, lab, [float(x) for x in v]))
    # mislabeled: sits in cluster 0, labeled 1
    rows.append((999, 1, [10.0, 0.05, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {r.vec_id: (r.n_neighbors, r.n_agree)
           for r in S.knn_label_agreement(df, k=3).collect()}
    assert out[999] == (3, 0)
    clean = [v for k, v in out.items() if k != 999 and k >= 100]
    assert all(a == n for n, a in clean)  # label-1 cluster members agree


def test_hll_registers_by_matches_ungrouped_and_containment_brute(spark):
    """hll_registers_by on a single group equals hll_registers; the
    directed source containment equals set arithmetic."""
    from ukis_h3cellstore_spark.ops import sketches as SK

    vals = spark.createDataFrame([(i % 97,) for i in range(500)], "v long")
    solo = {(r.idx): r.mj for r in SK.hll_registers(vals, "v", b=5).collect()}
    grouped = {
        r.idx: r.mj
        for r in SK.hll_registers_by(
            vals.withColumn("g", __import__("pyspark").sql.functions.lit("x")),
            "v",
            ["g"],
            b=5,
        ).collect()
    }
    assert grouped == solo

    docs = spark.createDataFrame(
        [
            (1, "sA", "a b c d e f"),          # shingles: abc bcd cde def
            (2, "sB", "a b c d"),               # abc bcd  (subset of A)
            (3, "sC", "x y z w"),               # disjoint
        ],
        "doc_id long, source string, text string",
    )
    out = {
        (r.source_a, r.source_b): (r.inter, r.size_a, r.containment_milli)
        for r in SK.source_containment(docs).collect()
    }
    assert out[("sB", "sA")] == (2, 2, 1000)  # B fully contained in A
    assert out[("sA", "sB")] == (2, 4, 500)
    assert ("sC", "sA") not in out and ("sA", "sC") not in out
