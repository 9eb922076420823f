"""Training-ops scale smoke: blow the sf0.1 documents table up to N
documents (default 1M, ~200× sf0.1) by salted replication, then run
the dedup chain — exact, MinHash signatures, LSH pairs, cluster
resolution — and text statistics at that volume, printing per-phase
wall times and throughput. Not part of pytest; run ad hoc:

    python tools/ops_scale_smoke.py [n_docs]
    python tools/ops_scale_smoke.py --r9   # only the round-9 block
    python tools/ops_scale_smoke.py --r10  # only the round-10 block

The replicas keep the original duplicate structure: every source doc
appears N/5000 times with distinct ids, and a replica-specific suffix
is appended to EVERY token (one regexp_replace), so each replica's
shingle space is disjoint — cross-replica Jaccard is exactly 0 and
only intra-replica duplicates survive. The LSH pair count therefore
scales linearly, not quadratically, which is exactly the property the
banded design must preserve at 100 TB. (Appending a marker to just
the END of the text does NOT work: all but two shingles stay
identical, every replica pair becomes a near-dup, and the pair space
explodes as reps².)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")


def _local_session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    def gc():
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    return spark, gc


def _r9_block(spark, gc) -> None:
    """Round-9 smoke: the round-8 statistical/join operators at 10M
    rows under skew — W1 transport drift, Spearman, HITS, association
    rules (bounded basket width), blocked fuzzy join (one hot block),
    and the CDC upsert streaming aggregation driven as a real
    availableNow stream over a pre-written 10M-row changelog."""
    import tempfile
    import time

    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark.ops import graph as G
    from ukis_h3cellstore_spark.ops import joins as J
    from ukis_h3cellstore_spark.ops import robust as R

    def timed(name, fn, n_rows):
        gc()
        t0 = time.time()
        fn()
        dt = time.time() - t0
        print(f"{name:24s} {dt:8.1f}s  ({n_rows / dt:,.0f} rows/s)")

    # the round-8 tie-skew frame: one group holds 50% of rows AND one
    # repeated value is 40% of that group (2M identical (g, v) keys)
    sk = spark.range(10_000_000).select(
        _F.col("id"),
        _F.when(_F.col("id") % 2 == 0, _F.lit("big"))
        .otherwise(_F.concat(_F.lit("g"), (_F.col("id") % 13).cast("string")))
        .alias("g"),
        _F.when(
            (_F.col("id") % 2 == 0) & (_F.col("id") % 10 < 3), _F.lit(0.0)
        )
        .otherwise(((_F.col("id") * 131) % 9973).cast("double"))
        .alias("v"),
    )
    ski = sk.withColumn("v", _F.col("v").cast("long")).withColumn(
        "y", ((_F.col("id") * 17) % 9973).cast("long")
    )
    timed(
        "w1_vs_rest_skew_10M",
        lambda: R.w1_vs_rest(ski, "g", "v")
        .write.format("noop").mode("overwrite").save(),
        10_000_000,
    )
    timed(
        "spearman_skew_10M",
        lambda: R.spearman_milli(ski, "v", "y", "id")
        .write.format("noop").mode("overwrite").save(),
        10_000_000,
    )
    # web-graph-like ER graph (~2M edges / 100k nodes, avg degree ~40;
    # hashed endpoints — see the triangle_counts comment above)
    gq = spark.range(2_000_000).select(
        _F.pmod(_F.xxhash64(_F.col("id"), _F.lit(1)), _F.lit(100_000))
        .alias("src"),
        _F.pmod(_F.xxhash64(_F.col("id"), _F.lit(2)), _F.lit(100_000))
        .alias("dst"),
    )
    timed(
        "hits_3iter_2M_edges",
        lambda: G.hits(gq, iterations=3)
        .write.format("noop").mode("overwrite").save(),
        2_000_000,
    )
    # 10M (basket, item) rows over 2M baskets × 5 items; item space
    # zipf-ish with one hot item in ~30% of baskets — work is bounded
    # by Σ width² = 25 × 2M pair rows, never corpus²
    bk = spark.range(10_000_000).select(
        (_F.col("id") % 2_000_000).alias("basket"),
        _F.when(
            (_F.col("id") < 2_000_000) & (_F.col("id") % 10 < 3),
            _F.lit(0),
        )
        .otherwise(_F.pmod(_F.xxhash64("id"), _F.lit(1_000)))
        .alias("item"),
    )
    timed(
        "assoc_rules_10M",
        lambda: J.association_rules(bk, "basket", "item", min_pair_support=50)
        .write.format("noop").mode("overwrite").save(),
        10_000_000,
    )
    # 2M names; blocks of ~20 rows plus ONE 2,000-row hot block —
    # candidate volume Σ|block|² ≈ 44M verified JVM-side
    nm = spark.range(2_000_000).select(
        _F.col("id").alias("name_id"),
        _F.concat(
            _F.when(_F.col("id") < 2_000, _F.lit("hotblock")).otherwise(
                _F.concat(_F.lit("b"), (_F.col("id") % 100_000).cast("string"))
            ),
            _F.lit(" corp unit "),
            (_F.col("id") % 97).cast("string"),
        ).alias("name"),
    )
    timed(
        "fuzzy_join_hotblock_2M",
        lambda: J.fuzzy_join(nm, nm, "name", "name_id", max_distance=3)
        .write.format("noop").mode("overwrite").save(),
        2_000_000,
    )
    # CDC steady-state: 10M-row changelog (1M keys × 10 changes, 5%
    # tombstones) pre-written untimed, KEY-CLUSTERED per partition the
    # way real CDC feeds arrive (Debezium/Kafka topics partition by
    # primary key); the timed section is ONE availableNow pass through
    # the cdc_upsert streaming aggregation — the state-update cost
    # without the multi-trigger gate harness.
    chg_dir = tempfile.mkdtemp(prefix="cdc_smoke_")
    spark.range(10_000_000).select(
        (_F.col("id") % 1_000_000).alias("k"),
        _F.floor(_F.col("id") / 1_000_000).cast("long").alias("seq"),
        (_F.pmod(_F.xxhash64("id"), _F.lit(20)) == 0).alias("is_delete"),
        _F.pmod(_F.xxhash64("id", _F.lit(7)), _F.lit(1_000_000)).alias("val"),
    ).repartition(8, "k").write.mode("overwrite").parquet(chg_dir)
    from ukis_h3cellstore_spark import streaming as ST

    def run_cdc():
        out_dir = tempfile.mkdtemp(prefix="cdc_smoke_sink_")
        stream = spark.readStream.schema(
            "k long, seq long, is_delete boolean, val long"
        ).parquet(chg_dir)
        q = (
            ST.cdc_upsert(stream, "k", "seq", "is_delete", "val")
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", out_dir + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    timed("cdc_upsert_10M", run_cdc, 10_000_000)


def _r10_block(spark, gc) -> None:
    """Round-10 smoke: corpus-vs-corpus margin mining at 100k vectors
    through the IVF probed lists (the non-broadcast scoring join —
    candidate volume nprobe * n^2 / n_centroids ~ 78M pairs at
    512 centroids / nprobe 4). The CDC upsert timing lives in the
    --r9 block, which stages the 10M-row key-clustered changelog."""
    import time

    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark.ops import similarity as S

    def timed(name, fn, n_rows):
        gc()
        t0 = time.time()
        fn()
        dt = time.time() - t0
        print(f"{name:36s} {dt:8.1f}s  ({n_rows / dt:,.0f} rows/s)")

    # 100k x 32-dim deterministic pseudo-random vectors (hash-derived,
    # no RNG): i.i.d.-noise-like, the same regime as the recall tests
    n, d = 100_000, 32
    vec = _F.transform(
        _F.sequence(_F.lit(0), _F.lit(d - 1)),
        lambda j: (
            _F.pmod(_F.xxhash64(_F.col("id"), j), _F.lit(2000)) - 1000.0
        )
        / 1000.0,
    )
    # no persist: timed() clears the cache before the run anyway, and
    # the corpus is a cheap deterministic hash transform over range()
    # — the timed section honestly includes its in-plan derivation
    emb = spark.range(n).select(
        _F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    cents = S.kmeans_fit(emb, n_centroids=512, max_iter=1)

    timed(
        "margin_pairs_ivf_100k_c512_p4",
        lambda: S.margin_pairs_ivf(
            emb, emb, nprobe=4, centroids=cents
        ).write.format("noop").mode("overwrite").save(),
        n,
    )


def _r11_block(spark, gc) -> None:
    """Round-11 smoke: the IVF candidate-scoring hot loop across the
    three scorer implementations. (1) isolated candidate-pair frame
    (2M pairs, shared localCheckpoint input): JVM fold vs per-pair
    mapInArrow — measures the per-pair Arrow TRANSFER cost (~16·dims
    bytes/pair) that the vectorized compute cannot amortize. (2)
    end-to-end margin_pairs_ivf at 100k vectors, 32 and 256 dims:
    fold vs per-list GEMM (vectors cross Arrow once per LIST
    membership). min-of-3 / min-of-2 — this host's neighbor noise is
    2-5x on single runs (docs/SCALE.md bench rules). Decides
    GEMM_SCORER_MIN_DIMS."""
    import time

    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark.ops import similarity as S
    from ukis_h3cellstore_spark.ops.similarity import (
        _dot,
        _norm,
        _score_pairs_arrow,
    )

    def timed(name, fn, n_rows, reps=3):
        best = None
        for _ in range(reps):
            gc()
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(f"{name:40s} {best:8.1f}s  ({n_rows / best:,.0f} pairs/s)")

    def hvec(d, seed):
        return _F.transform(
            _F.sequence(_F.lit(0), _F.lit(d - 1)),
            lambda j: (
                _F.pmod(_F.xxhash64(_F.col("id"), j, _F.lit(seed)), _F.lit(2000))
                - 1000.0
            )
            / 1000.0,
        )

    for d, n_pairs in ((32, 2_000_000), (128, 2_000_000), (256, 2_000_000), (1024, 1_000_000)):
        pairs = (
            spark.range(n_pairs)
            .select(
                _F.col("id").alias("query_id"),
                _F.col("id").alias("neighbor_id"),
                hvec(d, 1).alias("q_vec"),
                hvec(d, 7).alias("n_vec"),
            )
            .withColumn("__qn", _norm(_F.col("q_vec")))
            .withColumn("__nn", _norm(_F.col("n_vec")))
            .localCheckpoint(eager=True)  # both variants read the same
        )
        hof = _F.round(
            _F.try_divide(
                _dot(_F.col("q_vec"), _F.col("n_vec")),
                _F.col("__qn") * _F.col("__nn"),
            ),
            4,
        )
        timed(
            f"pair_score_hof_d{d}",
            lambda: pairs.withColumn("cosine_sim", hof)
            .select("query_id", "neighbor_id", "cosine_sim")
            .write.format("noop")
            .mode("overwrite")
            .save(),
            n_pairs,
        )
        timed(
            f"pair_score_arrow_d{d}",
            lambda: _score_pairs_arrow(pairs, 4)
            .write.format("noop")
            .mode("overwrite")
            .save(),
            n_pairs,
        )
        pairs.unpersist()

    # end-to-end: same r10 pipeline, fold vs per-list GEMM, low + high dims
    n = 100_000
    n_cand = 4 * n * n // 512
    for d in (32, 256):
        emb = spark.range(n).select(
            _F.col("id").alias("vec_id"), hvec(d, 1).alias("embedding")
        ).localCheckpoint(eager=True)
        cents = S.kmeans_fit(emb, n_centroids=512, max_iter=1).localCheckpoint(
            eager=True
        )
        for sc in ("hof", "gemm"):
            timed(
                f"margin_pairs_ivf_100k_d{d}_{sc}",
                lambda: S.margin_pairs_ivf(
                    emb, emb, nprobe=4, centroids=cents, scorer=sc
                )
                .write.format("noop")
                .mode("overwrite")
                .save(),
                n_cand,
                reps=2,
            )
        emb.unpersist()
        cents.unpersist()


def _r11_hotlist_block(spark, gc) -> None:
    """Round-11 smoke: the GEMM scorer's hot-list hash split. 100k
    64-dim vectors where 30% sit in a tight cone around one direction
    (assigned to ONE inverted list by construction — precomputed
    centroids include the cone axis), 64 centroids, nprobe 2. Without
    the split one cogrouped-pandas task owns the whole ~30k-row list
    and its ~9e8 candidate pairs while the rest of the machine drains;
    with ``gemm_block_rows`` the list shatters into independent tasks.
    min-of-2 wall times; ranked-output equality is pytest-licensed
    (tests/test_ann_recall.py::test_gemm_hot_list_block_split_exact),
    so this measures the SKEW TAIL only."""
    import time

    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark.ops import similarity as S

    n, d = 100_000, 64
    hot = _F.pmod(_F.xxhash64("id", _F.lit(11)), _F.lit(10)) < 3

    def noise(j, seed, scale):
        return (
            (_F.pmod(_F.xxhash64(_F.col("id"), j, _F.lit(seed)), _F.lit(2000))
             - 1000.0) / 1000.0 * scale
        )

    def axis(j):
        # fixed unit-ish direction, a pure function of the dim index
        return (
            (_F.pmod(_F.xxhash64(_F.lit(424242), j), _F.lit(2000)) - 1000.0)
            / 1000.0
        )

    vec = _F.transform(
        _F.sequence(_F.lit(0), _F.lit(d - 1)),
        lambda j: _F.when(hot, axis(j) + noise(j, 1, 0.05)).otherwise(
            noise(j, 2, 1.0)
        ),
    )
    emb = spark.range(n).select(
        _F.col("id").alias("vec_id"), vec.alias("embedding")
    ).localCheckpoint(eager=True)
    # 64 precomputed centroids: id 0 is the cone axis, the rest are
    # hash noise — the cone's 30k vectors all land in list 0
    cents = spark.range(64).select(
        _F.col("id").cast("int").alias("centroid_id"),
        _F.transform(
            _F.sequence(_F.lit(0), _F.lit(d - 1)),
            lambda j: _F.when(
                _F.col("id") == 0, axis(j)
            ).otherwise(noise(j, 3, 1.0)),
        ).alias("c_vec"),
    ).localCheckpoint(eager=True)

    for label, blk in (
        ("gemm_unsplit (1 task owns hot list)", 1 << 40),
        ("gemm_block_rows=8192", 8192),
        ("gemm_block_rows=2048", 2048),
    ):
        best = None
        for _ in range(2):
            gc()
            t0 = time.time()
            S.margin_pairs_ivf(
                emb, emb, nprobe=2, centroids=cents, scorer="gemm",
                gemm_block_rows=blk,
            ).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(f"{label:42s} {best:8.1f}s")


def _r11_flagship_block(spark, gc, n_docs: int = 1_000_000) -> None:
    """Round-11 smoke: the two composed e2e flagships at 1M docs —
    the COMPOSITIONS (checkpoint placement, multi-consumer
    materialization sizes) have individual-scorer smokes but were
    never scale-exercised whole. A synthetic sf-dir-shaped corpus is
    staged to parquet (documents + embeddings), then the GATE
    functions run verbatim with PLAN_PROBE wired to a stage timer, so
    the numbers measure exactly the code the driver gates. Corpus
    design (hash-derived, no RNG): ~85% docs of 50-200 letter-tokens
    (pass the Gopher gate), ~10% short docs (fail it), 5% near-dup
    copies of their predecessor with a one-token edit (linear-rate
    LSH/phash pairs). The vocabulary is HIGH-ENTROPY (~9-letter words
    from a ~1e9-word space): the multimodal payload is the caption
    bytes (attach_binary_payload), and a shared SMALL vocabulary
    concentrates the gram-simhash phashes — measured on the first cut
    (30k-word vocab): median inter-doc hamming 21/64, P[ham<=8] =
    3.8e-4, i.e. ~192M TRUE pairs at 1M docs — the dense-duplicate
    regime where the OUTPUT is quadratic and no candidate scheme can
    help (docs/SCALE.md, fingerprint-density note). Distinct media =
    near-uniform fingerprints; only the engineered 5% near-dups
    pair."""
    import os
    import resource
    import tempfile
    import time

    from pyspark.sql import functions as _F

    import ukis_h3cellstore_spark.entry_queries_ops as EQ

    sf_dir = os.path.join(
        tempfile.gettempdir(), f"h3smoke_flagship_v2_{os.getuid()}_{n_docs}"
    )
    if not os.path.isdir(os.path.join(sf_dir, "documents.parquet")):
        base = spark.range(n_docs)
        is_dup = _F.col("id") % 20 == 1
        master = _F.when(is_dup, _F.col("id") - 1).otherwise(_F.col("id"))
        short = _F.pmod(_F.xxhash64(master, _F.lit(3)), _F.lit(10)) == 0
        n_tok = _F.when(short, _F.lit(12)).otherwise(
            _F.pmod(_F.xxhash64(master), _F.lit(151)) + 50
        )
        word = lambda p: _F.concat(  # noqa: E731
            _F.lit("w"),
            _F.translate(
                _F.pmod(_F.xxhash64(master, p), _F.lit(999_999_937))
                .cast("string"),
                "0123456789",
                "abcdefghij",
            ),
        )
        toks = _F.transform(_F.sequence(_F.lit(1), n_tok), word)
        toks = _F.when(
            is_dup,
            _F.concat(_F.array(_F.lit("vvv")), _F.slice(toks, 2, 1_000_000)),
        ).otherwise(toks)
        text = _F.concat_ws(" ", toks)
        docs = base.select(
            _F.col("id").alias("doc_id"),
            text.alias("text"),
            _F.concat(
                _F.lit("l"),
                _F.pmod(_F.xxhash64("id", _F.lit(5)), _F.lit(8)).cast("string"),
            ).alias("lang"),
            _F.concat(
                _F.lit("s"),
                _F.pmod(_F.xxhash64("id", _F.lit(6)), _F.lit(20)).cast("string"),
            ).alias("source"),
        ).withColumn("n_chars", _F.length("text"))
        docs.repartition(64).write.mode("overwrite").parquet(
            f"{sf_dir}/documents.parquet"
        )
        vec = _F.transform(
            _F.sequence(_F.lit(0), _F.lit(7)),
            lambda j: (
                (_F.pmod(_F.xxhash64("id", j), _F.lit(2000)) - 1000)
                / 1000.0
            ).cast("float"),
        )
        base.select(
            _F.col("id").alias("vec_id"),
            vec.alias("embedding"),
            _F.pmod(_F.xxhash64("id", _F.lit(9)), _F.lit(12))
            .cast("int")
            .alias("label"),
        ).repartition(16).write.mode("overwrite").parquet(
            f"{sf_dir}/embeddings.parquet"
        )
        print(f"staged synthetic corpus: {n_docs:,} docs at {sf_dir}")

    last = [time.time()]

    def probe(label, df):
        n = df.count()
        now = time.time()
        print(f"  {label:32s} {now - last[0]:8.1f}s  ({n:,} rows)")
        last[0] = now

    EQ.PLAN_PROBE = probe
    try:
        for name in ("corpus_curation_e2e", "multimodal_curation_e2e"):
            gc()
            fn = getattr(EQ, f"q_{name}")
            t0 = time.time()
            last[0] = t0
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6
            print(
                f"{name:36s} {dt:8.1f}s total  ({n_docs / dt:,.0f} docs/s; "
                f"driver maxrss {rss:.1f} GB)"
            )
    finally:
        EQ.PLAN_PROBE = None


def _r12_density_block(spark, gc, n_docs: int = 1_000_000) -> None:
    """Round-12 smoke: the GUIDED hamming path on the DENSE
    shared-small-vocab corpus — the v1 corpus whose unguided d=8 join
    produced ~4.6M mostly-background pairs and quarantined 58% of the
    1M-doc flagship (docs/SCALE.md). The density probe must predict
    the explosion from a bounded sample and tighten max_hamming so
    the join completes inside the pair budget."""
    import os
    import resource
    import tempfile
    import time

    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark.ops import dedup as D
    from ukis_h3cellstore_spark.ops import multimodal as M

    sf_dir = os.path.join(
        tempfile.gettempdir(), f"h3smoke_dense_v1_{os.getuid()}_{n_docs}"
    )
    if not os.path.isdir(os.path.join(sf_dir, "documents.parquet")):
        # the r11 flagship generator with a SHARED 30k-word vocabulary
        # (the dense regime: gram-simhash prints concentrate, median
        # inter-doc hamming ~21/64, P[ham<=8] ~ 3.8e-4)
        base = spark.range(n_docs)
        is_dup = _F.col("id") % 20 == 1
        master = _F.when(is_dup, _F.col("id") - 1).otherwise(_F.col("id"))
        n_tok = _F.pmod(_F.xxhash64(master), _F.lit(151)) + 50
        word = lambda p: _F.concat(  # noqa: E731
            _F.lit("w"),
            _F.translate(
                _F.pmod(_F.xxhash64(master, p), _F.lit(30_000))
                .cast("string"),
                "0123456789",
                "abcdefghij",
            ),
        )
        toks = _F.transform(_F.sequence(_F.lit(1), n_tok), word)
        text = _F.concat_ws(" ", toks)
        base.select(
            _F.col("id").alias("doc_id"), text.alias("text")
        ).repartition(64).write.mode("overwrite").parquet(
            f"{sf_dir}/documents.parquet"
        )
        print(f"staged dense corpus: {n_docs:,} docs at {sf_dir}")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payloads = M.attach_binary_payload(docs)

    t0 = time.time()
    ph = (
        M.perceptual_hash_stub(payloads)
        .filter(_F.col("phash").isNotNull())
        .localCheckpoint(eager=True)
    )
    n = ph.count()
    print(f"phash stage: {n:,} prints in {time.time() - t0:.1f}s")

    t0 = time.time()
    probe = D.hamming_density_probe(ph, "phash", max_hamming=8).collect()
    print(f"density probe ({time.time() - t0:.1f}s):")
    for r in sorted(probe, key=lambda r: r["hamming"]):
        print(
            f"  d<={r['hamming']}: sample_pairs={r['sample_pairs_le']:,} "
            f"predicted={r['predicted_pairs_le']:,} "
            f"(n_sample={r['n_sample']:,})"
        )

    t0 = time.time()
    guided = D.guided_max_hamming(ph, "phash", requested=8)
    budget = max(50 * n, 10_000_000)
    print(
        f"guided_max_hamming: requested 8 -> {guided} "
        f"(budget {budget:,}; {time.time() - t0:.1f}s)"
    )

    gc()
    t0 = time.time()
    pairs = D.hamming_pairs(
        ph, fp_col="phash", id_col="doc_id", bits=64, max_hamming=guided
    ).count()
    dt = time.time() - t0
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6
    print(
        f"hamming join at guided d={guided}: {pairs:,} pairs in {dt:.1f}s "
        f"(the probe predicted the unguided d=8 output at ~5x the "
        f"budget — the regime whose background pairs ate 58% of the "
        f"r11 flagship corpus; driver maxrss {rss:.1f} GB)"
    )


def _r12_traversal_block(spark, gc) -> None:
    """Round-12 smoke: Q3 at a CONTINENT-sized AOI — the res-6 Africa
    box (~1.56M traversal cells). Exercises the hierarchical polyfill,
    the full insert pipeline at ~5.4M res-7 rows, the DISTRIBUTED
    prefilter (one Q2 query; the chunked reference loop would be ~31k
    sequential driver jobs), and the traverse_apply per-tile scale
    path. The pull iterator is timed on its first 20 cells only — at
    1M cells it is structurally the wrong tool (one driver round trip
    per cell), which is exactly why traverse_apply exists."""
    import resource
    import tempfile
    import time

    import numpy as np
    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
    from ukis_h3cellstore_spark import geo
    from ukis_h3cellstore_spark import traversal as T
    from ukis_h3cellstore_spark.h3 import expressions as hx
    from ukis_h3cellstore_spark.h3 import icosa
    from ukis_h3cellstore_spark.query import TableSetQuery

    AOI = {
        "type": "Polygon",
        "coordinates": [
            [(-20, -35), (50, -35), (50, 35), (-20, 35), (-20, -35)]
        ],
    }

    t0 = time.time()
    trav_cells = geo.geometry_to_cells(AOI, 6)
    print(
        f"polyfill res 6 (hierarchical): {len(trav_cells):,} traversal "
        f"cells in {time.time() - t0:.1f}s"
    )

    # populate the WESTERN half (lng < 15) at res 7 so the prefilter
    # has something to prune
    t0 = time.time()
    arr = np.array(trav_cells, dtype=np.int64)
    lats, lngs = icosa.cell_to_latlng_np(arr)
    west = [int(c) for c, lng in zip(trav_cells, lngs) if lng < 15.0]
    base6 = spark.createDataFrame(
        [(c,) for c in west], "h3index long"
    ).repartition(64)
    data = hx.h3_expand_to_children(
        base6, "h3index", 6, 7, filter_invalid=True
    ).withColumn(
        "value", _F.pmod(_F.xxhash64("h3index"), _F.lit(1000)).cast("int")
    )
    schema = (
        CompactedTableSchemaBuilder("africa_trav")
        .h3_base_resolutions([6, 7])
        .add_h3index_column()
        .add_column("value", "Int32")
        .build()
    )
    store = CellStore(spark, tempfile.mkdtemp(prefix="h3trav_"))
    store.insert_h3dataframe_into_tableset(schema, data)
    from ukis_h3cellstore_spark.schema import ResolutionMetadata

    n_rows = store.read_table(schema, ResolutionMetadata(7, False)).count()
    print(
        f"insert pipeline: {len(west):,} west-half tiles -> {n_rows:,} "
        f"res-7 rows in {time.time() - t0:.1f}s"
    )

    # distributed prefilter over the FULL 1.56M-cell AOI
    f = TableSetQuery.from_template(
        "select * from <[table]> where value >= 0 "
        "and h3index in <[h3indexes]>"
    )
    gc()
    t0 = time.time()
    kept = T._prefilter_cells(store, "africa_trav", trav_cells, 6, f)
    print(
        f"distributed prefilter: {len(trav_cells):,} -> {len(kept):,} "
        f"cells in {time.time() - t0:.1f}s (chunked loop would be "
        f"{len(trav_cells) // T.PREFILTER_CHUNK_SIZE:,} sequential jobs)"
    )

    # per-tile apply across the whole AOI: ONE job
    def tile_stats(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "tile": [int(pdf["__traversal_cell"].iloc[0])],
                "n": [len(pdf)],
                "mean_value": [float(pdf["value"].mean())],
            }
        )

    gc()
    t0 = time.time()
    out = T.traverse_apply(
        store,
        "africa_trav",
        AOI,
        7,
        tile_stats,
        "tile long, n long, mean_value double",
        options=T.TraversalOptions(max_h3indexes_fetch_count=7),
    )
    n_tiles = out.count()
    print(
        f"traverse_apply (res-7 data, per-res-6-tile stats): "
        f"{n_tiles:,} tiles in {time.time() - t0:.1f}s"
    )

    # pull iterator: first 20 cells only (per-step latency sample)
    trav = T.Traverser(
        store=store,
        tableset_name="africa_trav",
        traversal_cells=kept[:20],
        h3_resolution=7,
        options=T.TraversalOptions(max_h3indexes_fetch_count=7),
    )
    t0 = time.time()
    steps = sum(1 for _ in trav)
    per = (time.time() - t0) / 20
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6
    print(
        f"pull iterator: 20 cells, {steps} non-empty, {per * 1000:.0f} "
        f"ms/cell -> {len(kept) * per / 3600:.1f} h extrapolated at "
        f"{len(kept):,} cells (use traverse_apply); driver maxrss "
        f"{rss:.1f} GB"
    )


def _r12_traversal_df_block(spark, gc) -> None:
    """Round-12 follow-up smoke: the SAME continent AOI as
    --r12-traversal but through the driver-list-free path —
    geo.geometry_to_cells_df → store.query_tableset_cells_df →
    traverse_apply(cell frame) with a coarser apply_resolution. The
    list path held 1.56M-cell Python lists on the driver (maxrss
    3.7 GB); here the AOI exists only as a cover + a distributed
    frame."""
    import resource
    import tempfile
    import time

    import numpy as np
    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
    from ukis_h3cellstore_spark import geo
    from ukis_h3cellstore_spark import traversal as T
    from ukis_h3cellstore_spark.h3 import expressions as hx
    from ukis_h3cellstore_spark.h3 import icosa

    AOI = {
        "type": "Polygon",
        "coordinates": [
            [(-20, -35), (50, -35), (50, 35), (-20, 35), (-20, -35)]
        ],
    }

    t0 = time.time()
    aoi_df = geo.geometry_to_cells_df(spark, AOI, 6).localCheckpoint(
        eager=True
    )
    n_aoi = aoi_df.count()
    print(
        f"geometry_to_cells_df res 6: {n_aoi:,} cells materialized "
        f"in {time.time() - t0:.1f}s (driver holds the cover only)"
    )

    # same west-half population as --r12-traversal, but built FROM the
    # frame (no driver cell list): western cells by the vectorized
    # center longitudes of the res-5 parents — cheap driver metadata
    t0 = time.time()
    parents5 = [
        int(r["p"])
        for r in aoi_df.select(
            hx.h3_to_parent(_F.col("h3index"), 5).alias("p")
        )
        .distinct()
        .collect()
    ]
    lats, lngs = icosa.cell_to_latlng_np(np.array(parents5, dtype=np.int64))
    west5 = {c for c, lng in zip(parents5, lngs) if lng < 15.0}
    west_df = aoi_df.join(
        _F.broadcast(
            spark.createDataFrame([(c,) for c in sorted(west5)], "p long")
        ),
        on=hx.h3_to_parent(_F.col("h3index"), 5) == _F.col("p"),
        how="leftsemi",
    )
    data = hx.h3_expand_to_children(
        west_df.select("h3index"), "h3index", 6, 7, filter_invalid=True
    ).withColumn(
        "value", _F.pmod(_F.xxhash64("h3index"), _F.lit(1000)).cast("int")
    )
    schema = (
        CompactedTableSchemaBuilder("africa_trav_df")
        .h3_base_resolutions([6, 7])
        .add_h3index_column()
        .add_column("value", "Int32")
        .build()
    )
    store = CellStore(spark, tempfile.mkdtemp(prefix="h3travdf_"))
    store.insert_h3dataframe_into_tableset(schema, data)
    print(f"insert (frame-derived population): {time.time() - t0:.1f}s")

    def tile_stats(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "tile": [int(pdf["__traversal_cell"].iloc[0])],
                "n": [len(pdf)],
                "mean_value": [float(pdf["value"].mean())],
            }
        )

    gc()
    t0 = time.time()
    out = T.traverse_apply(
        store,
        "africa_trav_df",
        aoi_df,
        7,
        tile_stats,
        "tile long, n long, mean_value double",
        options=T.TraversalOptions(max_h3indexes_fetch_count=7),
        apply_resolution=5,  # ~49x larger tiles: per-group overhead off
    )
    n_tiles = out.count()
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6
    print(
        f"traverse_apply (cell-frame AOI, apply_resolution=5): "
        f"{n_tiles:,} tiles in {time.time() - t0:.1f}s; driver maxrss "
        f"{rss:.2f} GB (list path: 3.7 GB)"
    )


def _r13_query_df_block(spark, gc, probe_res: int = 8) -> None:
    """Round-13 smoke: query_tableset_cells_df at its DESIGN POINT —
    the res-8 Africa box (76.3M cells) as the probe frame, end-to-end
    through the store (validation job, semi-join partition pruning,
    per-table in-plan normalization, staged uncompaction, final
    restrict) — NOT just the polyfill count. The r12 verdict's #1
    defect was a forced F.broadcast on this exact frame; the smoke
    asserts the optimized plan carries NO LeftSemi broadcast hint
    (the arithmetic bound 76M > BROADCAST_MAX_CELLS suppresses it and
    AQE picks the physical join)."""
    import resource
    import tempfile
    import time

    import numpy as np
    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
    from ukis_h3cellstore_spark import geo
    from ukis_h3cellstore_spark.h3 import expressions as hx
    from ukis_h3cellstore_spark.h3 import icosa

    AOI = {
        "type": "Polygon",
        "coordinates": [
            [(-20, -35), (50, -35), (50, 35), (-20, 35), (-20, -35)]
        ],
    }

    # population: west-half of the AOI at res 7 (same recipe as
    # --r12-traversal-df) — ~5.7M rows into a [6,7] pyramid
    t0 = time.time()
    aoi6 = geo.geometry_to_cells_df(spark, AOI, 6).localCheckpoint(eager=True)
    parents5 = [
        int(r["p"])
        for r in aoi6.select(hx.h3_to_parent(_F.col("h3index"), 5).alias("p"))
        .distinct()
        .collect()
    ]
    lats, lngs = icosa.cell_to_latlng_np(np.array(parents5, dtype=np.int64))
    west5 = {c for c, lng in zip(parents5, lngs) if lng < 15.0}
    west_df = aoi6.join(
        _F.broadcast(
            spark.createDataFrame([(c,) for c in sorted(west5)], "p long")
        ),
        on=hx.h3_to_parent(_F.col("h3index"), 5) == _F.col("p"),
        how="leftsemi",
    )
    data = hx.h3_expand_to_children(
        west_df.select("h3index"), "h3index", 6, 7, filter_invalid=True
    ).withColumn(
        "value", _F.pmod(_F.xxhash64("h3index"), _F.lit(1000)).cast("int")
    )
    schema = (
        CompactedTableSchemaBuilder("africa_q13")
        .h3_base_resolutions([6, 7])
        .add_h3index_column()
        .add_column("value", "Int32")
        .build()
    )
    store = CellStore(spark, tempfile.mkdtemp(prefix="h3q13_"))
    store.insert_h3dataframe_into_tableset(schema, data)
    sch = store.get_schema("africa_q13")
    meta7 = next(
        m
        for m in store._tableset_from_schema(
            "africa_q13", sch
        ).tables_to_satisfy_query_at_resolution(7)
        if m.resolution == 7
    )
    n_pop = store.read_table(sch, meta7).count()
    print(f"population insert (res-7 west half): {time.time() - t0:.1f}s")

    # the design-point probe: the FULL AOI at probe_res as a frame
    # (res 8: 76.3M cells; res 9 — the r14 "next decade": ~534M. A
    # driver list of either would be GBs of Python objects; the cover
    # stays ~440k rows either way, res 9 just adds one staged offset
    # expansion inside the plan)
    t0 = time.time()
    aoi8 = geo.geometry_to_cells_df(
        spark, AOI, probe_res
    ).localCheckpoint(eager=True)
    n_aoi = aoi8.count()
    print(
        f"geometry_to_cells_df res {probe_res}: {n_aoi:,} cells in "
        f"{time.time() - t0:.1f}s"
    )

    gc()
    t0 = time.time()
    # query at the finest base resolution (7) with the probe frame:
    # the cell set normalizes to res 7 IN-PLAN (parent arithmetic +
    # distinct, ~10.9M cells) — the arithmetic bound stays n_aoi,
    # well over BROADCAST_MAX_CELLS
    out = store.query_tableset_cells_df("africa_q13", aoi8, 7)
    plan = out.df._jdf.queryExecution().optimizedPlan().toString()
    semi_hints = [
        ln
        for ln in plan.splitlines()
        if "LeftSemi" in ln and "strategy=broadcast" in ln
    ]
    assert not semi_hints, semi_hints
    n_out = out.df.count()
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6
    print(
        f"query_tableset_cells_df(res 7, {n_aoi:,}-cell res-{probe_res} "
        f"probe): {n_out:,} "
        f"rows in {time.time() - t0:.1f}s; 0 LeftSemi broadcast hints "
        f"in the plan; driver maxrss {rss:.2f} GB "
        f"(populated res-7 rows: {n_pop:,})"
    )


def _r12_cdc_block(spark, gc, n_changes: int = 1_000_000) -> None:
    """Round-12 smoke: the CDC -> mutable-tableset composition at 1M
    changes across 4 batches — measures the O11 envelope claim that
    per-batch cost is proportional to the TOUCHED key space (changed
    partitions rewritten, untouched partitions left alone), not the
    table size."""
    import resource
    import tempfile
    import time

    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
    from ukis_h3cellstore_spark.h3 import cells as h3c

    # key space: res-9 descendants of four res-3 regions on DISTINCT
    # base cells — ~470k keys; lower_resolution(4) partitioning puts
    # each region's keys into 49 res-5 partitions (196 total), so
    # partition-scoped refresh has something to scope to
    regions = [h3c.build_cell(b, [1, 2, 3]) for b in (10, 36, 60, 80)]
    keyspace: list[int] = []
    for r in regions:
        keyspace.extend(h3c.cell_to_children(r, 9))
    n_keys = len(keyspace)

    schema = (
        CompactedTableSchemaBuilder("cdc_scale")
        .h3_base_resolutions([5, 9])
        .use_compacted_resolutions(False)
        .h3_partitioning("lower_resolution", 4)
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
    store = CellStore(spark, tempfile.mkdtemp(prefix="h3cdc_"))

    n_batches = 5
    total = 0
    for b in range(n_batches):
        # alternating batches touch HALF the regions (2 of 4), so half
        # the partitions must be rewritten and half left untouched —
        # the envelope under test; the final batch touches ONE region
        # (a quarter of the key space) and must cost ~half a half-batch
        if b == n_batches - 1:
            touched = regions[:1]
        else:
            touched = regions[:2] if b % 2 == 0 else regions[2:]
        t_keys = [c for r in touched for c in h3c.cell_to_children(r, 9)]
        winners = spark.createDataFrame(
            [(c,) for c in t_keys], "h3index long"
        ).select(
            "h3index",
            (_F.lit(b + 1)).cast("long").alias("last_seq"),
            _F.lit(0).alias("is_deleted"),
            _F.pmod(_F.xxhash64("h3index", _F.lit(b)), _F.lit(1000))
            .cast("long")
            .alias("last_value"),
        )
        n_batch = len(t_keys)
        total += n_batch
        gc()
        t0 = time.time()
        store.upsert_h3dataframe_into_tableset(schema, winners)
        dt = time.time() - t0
        print(
            f"batch {b}: {n_batch:,} change winners "
            f"({len(touched)} region(s), {len(touched) * 49} touched "
            f"res-5 partitions of 196) applied in {dt:.1f}s "
            f"({n_batch / dt:,.0f} rows/s)"
        )
    live = store.query_tableset_cells("cdc_scale", regions, 5).df.count()
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6
    print(
        f"total {total:,} changes across {n_batches} batches; rollup "
        f"rows at res 5: {live:,} (keyspace {n_keys:,}); driver maxrss "
        f"{rss:.1f} GB"
    )


def _r14_polyfill10_block(spark, gc) -> None:
    """Round-14 extension smoke: `geometry_to_cells_df` at res 10 over
    the Africa box — ~3.7B cells, two decades above the 76M res-8
    design point — counted in ONE streaming pass.  Nothing (driver or
    executor storage) ever holds the cell set: the driver classifies
    the perimeter-sized cover, the interior expands executor-side via
    two staged ≤7^6-row offset cross-joins, and the count aggregates
    map-side.  Companion to the standalone res-10 cover measurement
    (the driver half) recorded in docs/SCALE.md."""
    import resource
    import time

    from ukis_h3cellstore_spark import geo

    AOI = {
        "type": "Polygon",
        "coordinates": [
            [(-20, -35), (50, -35), (50, 35), (-20, 35), (-20, -35)]
        ],
    }
    gc()
    t0 = time.time()
    df = geo.geometry_to_cells_df(spark, AOI, 10)
    n = df.count()
    dt = time.time() - t0
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6
    print(
        f"geometry_to_cells_df res 10 (streaming count, no "
        f"materialization): {n:,} cells in {dt:.1f}s "
        f"({n / dt / 1e6:,.1f}M cells/s); driver maxrss {rss:.2f} GB"
    )


def main() -> None:
    if "--r14-polyfill10" in sys.argv:
        # two decades above the r12 polyfill design point: the res-10
        # Africa box is ~3.7B cells — far larger than this host's
        # storage, so the smoke COUNTS the expansion in one streaming
        # pass (no checkpoint, nothing materialized anywhere): cover
        # (~2M rows) -> two staged ≤7^6-row offset expansions inside
        # the plan -> count. Proves the expansion pipeline itself is
        # storage-free at 3.7B cells; the full store-path query stays
        # pinned at res 9 (--r14-query-df9) where the probe checkpoint
        # fits local disk.
        spark, gc = _local_session()
        _r14_polyfill10_block(spark, gc)
        spark.stop()
        return
    if "--r14-query-df9" in sys.argv:
        # the next decade of the design point: a ~534M-cell res-9
        # continent probe through the full store path (r13 verdict
        # item #5) — exercises the staged offset expansion INSIDE the
        # query plan, not just standalone
        spark, gc = _local_session()
        _r13_query_df_block(spark, gc, probe_res=9)
        spark.stop()
        return
    if "--r13-query-df" in sys.argv:
        spark, gc = _local_session()
        _r13_query_df_block(spark, gc)
        spark.stop()
        return
    if "--r12-density" in sys.argv:
        spark, gc = _local_session()
        _r12_density_block(spark, gc)
        spark.stop()
        return
    if "--r12-traversal-df" in sys.argv:
        spark, gc = _local_session()
        _r12_traversal_df_block(spark, gc)
        spark.stop()
        return
    if "--r12-traversal" in sys.argv:
        spark, gc = _local_session()
        _r12_traversal_block(spark, gc)
        spark.stop()
        return
    if "--r12-cdc" in sys.argv:
        spark, gc = _local_session()
        _r12_cdc_block(spark, gc)
        spark.stop()
        return
    if "--r11-flagship" in sys.argv:
        spark, gc = _local_session()
        n = next(
            (int(a) for a in sys.argv[1:] if a.isdigit()), 1_000_000
        )
        _r11_flagship_block(spark, gc, n)
        spark.stop()
        return
    if "--r11-hotlist" in sys.argv:
        spark, gc = _local_session()
        _r11_hotlist_block(spark, gc)
        spark.stop()
        return
    if "--r11" in sys.argv:
        spark, gc = _local_session()
        _r11_block(spark, gc)
        return
    if "--r10" in sys.argv:
        spark, gc = _local_session()
        _r10_block(spark, gc)
        spark.stop()
        return
    if "--r9" in sys.argv:
        spark, gc = _local_session()
        _r9_block(spark, gc)
        spark.stop()
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ukis_h3cellstore_spark.ops import dedup as D
    from ukis_h3cellstore_spark.ops import text as X

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # warm

    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n_base = base.count()
    reps = max(n_docs // n_base, 1)
    docs = (
        base.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
        .select(
            (F.col("doc_id") * reps + F.col("rep")).alias("doc_id"),
            # suffix EVERY token with the replica id: replica shingle
            # spaces are disjoint, cross-replica Jaccard is exactly 0
            F.regexp_replace(
                F.col("text"),
                F.lit(r"(\S+)"),
                F.concat(F.lit("$1r"), F.col("rep").cast("string")),
            ).alias("text"),
        )
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    n = docs.count()
    print(f"corpus: {n:,} docs ({reps}x sf0.1)")

    def gc():
        # localCheckpoint blocks are only freed after a JVM GC; without
        # this, later phases inherit the memory pressure of earlier
        # ones (measured up to ~5x slowdown on the CC phase)
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    def phase(name, df):
        gc()
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        print(f"{name:24s} {dt:8.1f}s  ({n / dt:,.0f} docs/s)")
        return dt

    phase("text_stats", X.text_stats(docs))
    phase("normalize_text", X.normalize_text(docs))
    phase("quality_logit", X.quality_logit(docs))
    phase("unigram_surprisal", X.unigram_surprisal(docs))
    phase("boilerplate_chunks", X.boilerplate_chunk_stats(docs))
    phase("c4_quality_filter", X.c4_quality_filter(docs))
    phase("readability", X.readability(docs))
    # the corpus has no newlines: split on a frequent token so the
    # segment table really fans out (~8 segments/doc at 1M docs)
    phase("segment_dedup", D.segment_dedup(docs, sep_regex=" the "))
    spans = D.substring_span_pairs(docs, k=5, min_span=8)
    gc()
    t0 = time.time()
    n_spans = spans.count()
    print(
        f"{'substring_span_pairs':24s} {time.time() - t0:8.1f}s  ({n_spans:,} pairs)"
    )
    # prefix sums at 5M rows: construction goes INSIDE the timed block
    # because global_cumsum runs its partition-totals collect eagerly
    from pyspark.sql import functions as _F

    from ukis_h3cellstore_spark.ops import prefix as P

    ev = spark.range(5_000_000).select(
        _F.col("id"), (_F.col("id") % 997).alias("v")
    )
    gc()
    t0 = time.time()
    P.global_cumsum(ev, ["id"], "v", num_partitions=64).write.format(
        "noop"
    ).mode("overwrite").save()
    dt = time.time() - t0
    print(f"{'global_cumsum_5M':24s} {dt:8.1f}s  ({5_000_000 / dt:,.0f} rows/s)")

    # round-7 additions: grouped rank/cumsum machinery + per-row scorers
    from ukis_h3cellstore_spark.ops import robust as R
    from ukis_h3cellstore_spark.ops import sampling as SM

    mv = spark.range(5_000_000).select(
        _F.col("id"),
        (_F.col("id") % 7).cast("string").alias("g"),
        ((_F.col("id") * 131) % 9973).cast("double").alias("v"),
    )
    gc()
    t0 = time.time()
    R.mad_outliers(mv, "g", "v").write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    print(f"{'mad_outliers_5M':24s} {dt:8.1f}s  ({5_000_000 / dt:,.0f} rows/s)")
    phase(
        "taxonomy_tag",
        X.taxonomy_tag(
            docs,
            {"sparkr0": "t0", "joinr1": "t1", "tabler2": "t2", "datar3": "t3"},
        ),
    )
    phase("perplexity_buckets", X.perplexity_buckets(docs))
    phase("length_bucket_batches", SM.length_bucket_batches(docs))
    docs_src = docs.withColumn(
        "source", _F.concat(_F.lit("s"), (_F.col("doc_id") % 20).cast("string"))
    )
    phase(
        "token_budget_mix", SM.token_budget_mix(docs_src, budget=10_000_000)
    )
    phase(
        "weighted_sample_1k",
        SM.weighted_sample(
            docs.withColumn("w", _F.length("text").cast("double")), 1000, "w"
        ),
    )
    phase("source_minhash_drift", __import__(
        "ukis_h3cellstore_spark.ops.sketches", fromlist=["x"]
    ).source_minhash_drift(docs_src, k=16))
    # endpoints from two independent xxhash64 streams: any polynomial
    # of id mod p repeats with period p, bounding the DISTINCT edge set
    # at p rows and starving the graph of triangles (measured 0-3
    # triangle nodes); hashed endpoints give a real ER graph
    # (~2M edges over 100k nodes, avg degree ~40 — web-graph-like sparsity; at degree ~130 the wedge volume is 10x and the smoke takes ~6 min)
    gq = spark.range(2_000_000).select(
        _F.pmod(_F.xxhash64(_F.col("id"), _F.lit(1)), _F.lit(100_000)).alias(
            "id_a"
        ),
        _F.pmod(_F.xxhash64(_F.col("id"), _F.lit(2)), _F.lit(100_000)).alias(
            "id_b"
        ),
    )
    gc()
    t0 = time.time()
    n_tri = __import__(
        "ukis_h3cellstore_spark.ops.graph", fromlist=["x"]
    ).triangle_counts(gq).count()
    print(f"{'triangle_counts_2M':24s} {time.time() - t0:8.1f}s  ({n_tri:,} nodes)")
    gc()
    t0 = time.time()
    R.quantile_transform(mv, "g", "v", tiebreak_cols=["id"]).write.format(
        "noop"
    ).mode("overwrite").save()
    dt = time.time() - t0
    print(f"{'quantile_transform_5M':24s} {dt:8.1f}s  ({5_000_000 / dt:,.0f} rows/s)")

    # round-8: equal-key tie-skew — 10M rows where one group holds
    # 50 % of all rows AND one REPEATED value is 40 % of that group
    # (2M identical (g, v) keys). Range partitioning alone cannot
    # split equal keys, so without the trailing range_tiebreaker the
    # whole tie-run is one task; with it the max task should sit near
    # the ideal rows/partitions.
    sk = spark.range(10_000_000).select(
        _F.col("id"),
        _F.when(_F.col("id") % 2 == 0, _F.lit("big"))
        .otherwise(_F.concat(_F.lit("g"), (_F.col("id") % 13).cast("string")))
        .alias("g"),
        _F.when(
            (_F.col("id") % 2 == 0) & (_F.col("id") % 10 < 3), _F.lit(0.0)
        )
        .otherwise(((_F.col("id") * 131) % 9973).cast("double"))
        .alias("v"),
    )
    rp = sk.repartitionByRange(
        64, _F.col("g"), _F.col("v"), R.range_tiebreaker(sk)
    )
    srow = (
        rp.groupBy(_F.spark_partition_id().alias("p"))
        .count()
        .agg(_F.max("count").alias("mx"), _F.count(_F.lit(1)).alias("np"))
        .collect()[0]
    )
    ideal = 10_000_000 // 64
    print(
        f"{'tie_skew_partitions':24s} max task {srow['mx']:,} rows over "
        f"{srow['np']} partitions (ideal {ideal:,}; "
        f"straggler-free iff max << 2,000,000 tie-run)"
    )
    gc()
    t0 = time.time()
    R.mad_outliers(sk, "g", "v").write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    print(f"{'mad_outliers_skew_10M':24s} {dt:8.1f}s  ({10_000_000 / dt:,.0f} rows/s)")
    # round-8b: KS on the same skewed frame — the pooled cumsum sees
    # the 3M-row tie at v=0.0 and the grouped sweep sees the dominant
    # group; both inherit the tiebreaker split
    gc()
    t0 = time.time()
    R.ks_vs_rest(sk, "g", "v").write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    print(f"{'ks_vs_rest_skew_10M':24s} {dt:8.1f}s  ({10_000_000 / dt:,.0f} rows/s)")

    # round-8 scorers: the attrition CASE chain (pure projection +
    # one dup-canonicality join) and the novelty anti-join (batch
    # shingles vs the distinct corpus shingle set)
    from ukis_h3cellstore_spark.ops import selection as SE

    att = docs_src.select(
        "doc_id",
        "source",
        _F.size(X.tokens("text")).cast("long").alias("__nt"),
        _F.aggregate(
            X.tokens("text"), _F.lit(0).cast("long"), lambda a, x: a + _F.length(x)
        ).alias("__tc"),
        _F.size(_F.array_distinct(X.tokens("text"))).cast("long").alias("__nd"),
    )
    phase(
        "filter_attrition",
        SE.first_fail_stage(
            att,
            [
                ("min_tokens", _F.col("__nt") >= 20),
                ("tok_len", 10 * _F.col("__tc") <= 49 * _F.col("__nt")),
                ("ttr", 10 * _F.col("__nd") >= 3 * _F.col("__nt")),
            ],
        ).groupBy("source", "fail_stage").count(),
    )
    nov_batch = docs.filter(_F.col("doc_id") % 20 == 0)
    nov_corpus = docs.filter(_F.col("doc_id") % 20 != 0)
    gc()
    t0 = time.time()
    D.novelty_against_corpus(nov_batch, nov_corpus).write.format("noop").mode(
        "overwrite"
    ).save()
    dt = time.time() - t0
    print(f"{'novelty_5pct_batch':24s} {dt:8.1f}s  ({n / dt:,.0f} docs/s)")

    phase("bigram_surprisal", X.bigram_surprisal(docs))
    # BM25: query terms carry replica suffixes so each term matches
    # exactly one replica's postings — the timed cost is the corpus
    # postings explode + broadcast term filter, i.e. the scale path
    bm25_q = spark.createDataFrame(
        [
            (1, "sparkr0 joinr0 filterr0"),
            (2, "customerr1 orderr1 datar1"),
            (3, "streamr2 windowr2 merger2"),
        ],
        "query_id long, query_text string",
    )
    phase("bm25_topk", X.bm25_topk(docs, bm25_q, topk=10))
    top = X.bpe_pair_counts(docs, top_k=1).collect()[0]
    phase(
        "bpe_apply_merge",
        X.bpe_apply_merge(docs, top["left"], top["right"]),
    )
    # bpe_train at 1M docs: the sequential per-round argmax cost the
    # sample-then-apply posture bounds (docs/SCALE.md) — each round is
    # one corpus pair-count + one map-only rewrite
    gc()
    t0 = time.time()
    X.bpe_train(docs, n_merges=3)
    dt = time.time() - t0
    print(f"{'bpe_train_3rounds':24s} {dt:8.1f}s  ({n / dt:,.0f} docs/s)")
    phase("dedup_exact", D.dedup_exact(docs))
    phase("minhash_signatures", D.minhash_signatures(docs))
    # r13: the flagship runs budget-armed — the bucket-stats pre-flight
    # prices SUM C(n,2) before the self-join and tightens the cap only
    # if this corpus's near-dup structure blows max(50·n, 1e7)
    pairs = D.minhash_lsh_pairs(docs, min_est_jaccard=0.5, pair_budget="auto")
    gc()
    t0 = time.time()
    n_pairs = pairs.count()
    print(f"{'minhash_lsh_pairs':24s} {time.time() - t0:8.1f}s  ({n_pairs:,} pairs, pair_budget=auto)")
    gc()
    t0 = time.time()
    n_clusters = D.duplicate_cluster_stats(pairs).count()
    print(f"{'cluster_resolve':24s} {time.time() - t0:8.1f}s  ({n_clusters:,} clusters)")
    _r9_block(spark, gc)
    _r10_block(spark, gc)
    spark.stop()


if __name__ == "__main__":
    main()
