"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query side is broadcast; the corpus side streams. Dot products
  are sequential left-folds (``F.aggregate``) in double precision, so
  results are deterministic and reproducible by the DuckDB oracle.
- ``lsh_topk`` / ``embedding_dup_pairs``: the scale path — banded
  multi-table random-hyperplane LSH. ``num_tables`` independent
  tables of ``num_planes`` sign bits each (plane components are
  deterministic integers, so bucket ids are exact across engines): a
  pair is a candidate when it collides in ANY table. More planes per
  table → smaller (sub-quadratic) buckets; more tables → recall. The
  bucket join shuffles on (table, bucket) keys, never the corpus
  squared, and hot buckets can be dropped with ``max_bucket_size``
  (report via :func:`lsh_bucket_stats`).
- ``kmeans_fit`` + ``ivf_topk``: IVF ANN with distributed Lloyd's
  training — assignment is a broadcast cross join + ``max_by`` group
  aggregate (map-side combine, NO corpus-side window sort), centroid
  update is posexplode → per-(centroid, dim) streaming ``avg`` →
  re-collect (constant memory per group, the 100 TB path). The DuckDB
  oracles replay training as sorted serial folds; the two sums differ
  only in float summation order, below every gate's rounding.
- ``pq_train`` / ``pq_encode`` / ``pq_topk``: product quantization
  (Jégou et al. 2011) — per-subspace L2 codebooks, the corpus stored
  as ``m`` small codes per vector (10-50× compression), asymmetric-
  distance top-k from a broadcast query→centroid distance table. The
  memory-bound regime's answer: a billion 64-dim float vectors are
  ~256 GB raw but ~4 GB as 4-byte PQ codes.
- ``ivfpq_topk``: the production composition (FAISS's default) —
  coarse L2 lists for routing, PQ on RESIDUALS for accuracy, ADC
  restricted to each query's ``nprobe`` lists.

At 100 TB the corpus side never collects; every operator is a pure
DataFrame composition whose probe side is a broadcast.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Deterministic sequential dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


#: dims at and above which 'auto' picks the per-list GEMM scorer for
#: the IVF scoring step. Measured round 11 (docs/SCALE.md, min-of-N):
#: per-PAIR vectorization never wins — hof and mapInArrow are par at
#: every dim because the ~16·dims bytes/pair Arrow transfer eats the
#: numpy gain — but the per-LIST GEMM (each vector crosses Arrow once
#: per list membership, candidates scored by one blocked matmul) wins
#: the 100k e2e 1.8× at 32 dims and 2.0× at 256 dims. The default
#: still keeps the JVM fold below 128 dims because it is the form the
#: SQL oracles reproduce bit-for-bit (gates' fixtures are 64-dim);
#: pass scorer='gemm' explicitly to take the win at low dims.
GEMM_SCORER_MIN_DIMS = 128

#: corpus rows per GEMM scoring task. An inverted list larger than
#: this is split into ceil(|list| / GEMM_BLOCK_ROWS) hash blocks
#: (``pmod(xxhash64(neighbor_id), nblk)`` — a pure row function, so a
#: retried task recomputes the SAME assignment) and each probing
#: query is replicated to every block of the list: a hot list becomes
#: nblk independent tasks instead of pinning ONE grouped-pandas task
#: (cogrouped applyInPandas gets no AQE skew split). Per-block top-k
#: union ⊇ per-list top-k ⊇ global top-k, so the downstream global
#: rank window is unchanged and exact. Sized from the r11 hot-list
#: smoke (100k×64-dim corpus-vs-corpus, 30% of rows in one list):
#: unsplit 139 s, 8192 → 29 s, 2048 → 20 s (docs/SCALE.md) — in
#: corpus-vs-corpus mode a list with L rows is ~L queries × L
#: candidates, so the task GEMM is ~L²·dims flops; 8192 keeps tasks
#: ~seconds-sized while bounding the query-side replication (a query
#: crosses Arrow once per block of each probed list). Well-balanced
#: workloads (lists ~ sqrt(corpus)) rarely reach the threshold at
#: all.
GEMM_BLOCK_ROWS = 8_192


def _score_pairs_arrow(
    joined: DataFrame, round_digits: int
) -> DataFrame:
    """Arrow-batched scoring of the candidate-pair frame: consumes
    ``(query_id, neighbor_id, q_vec, n_vec, __qn, __nn)`` and returns
    ``(query_id, neighbor_id, cosine_sim)`` via ``mapInArrow`` — the
    vector columns are read ZERO-COPY from the Arrow list buffers
    (flat values + offsets → one reshape) and scored with a single
    numpy row-wise einsum per batch; no per-element Python objects
    ever materialize (a pandas_udf pays ~µs/element boxing array
    cells, measured 4-20× SLOWER than the JVM fold — docs/SCALE.md).
    Semantics match the HOF form (NULL on zero norm); exact float
    equality is not guaranteed (blocked vs sequential adds), so
    oracle-checked gates keep the fold; blocked order is fixed, so
    the path is deterministic run-to-run. Columnar end-to-end — the
    same philosophy as the reference's Arrow-IPC data plane (lib.rs).
    """
    import pyarrow as pa

    def score(batches):
        import numpy as np

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue

            def mat(col):
                arr = batch.column(col)
                flat = np.asarray(arr.flatten(), dtype=np.float64)
                off = np.asarray(arr.offsets, dtype=np.int64)
                widths = np.diff(off)
                d = int(widths[0]) if len(widths) else 0
                if not (widths == d).all():
                    raise ValueError("ragged embedding column")
                if len(flat) == n * d:
                    # flatten() already sliced to this array's window:
                    # the common case is a zero-copy reshape
                    return flat.reshape(n, d)
                base = off[0]
                return np.stack(
                    [flat[off[i] - base : off[i + 1] - base] for i in range(n)]
                )

            qa = mat("q_vec")
            na = mat("n_vec")
            dots = np.einsum("ij,ij->i", qa, na)
            denom = np.asarray(
                batch.column("__qn"), dtype=np.float64
            ) * np.asarray(batch.column("__nn"), dtype=np.float64)
            ok = denom != 0
            cos = np.divide(dots, denom, out=np.full_like(dots, np.nan), where=ok)
            yield pa.record_batch(
                [
                    batch.column("query_id"),
                    batch.column("neighbor_id"),
                    pa.array(cos, type=pa.float64(), mask=~ok),
                ],
                names=["query_id", "neighbor_id", "cosine_sim"],
            )

    out = joined.select(
        "query_id", "neighbor_id", "q_vec", "n_vec", "__qn", "__nn"
    ).mapInArrow(score, "query_id long, neighbor_id long, cosine_sim double")
    return out.withColumn("cosine_sim", F.round(F.col("cosine_sim"), round_digits))


def _resolve_scorer(scorer: str, queries: DataFrame, vec_col: str) -> str:
    """Resolve 'auto' to a concrete scorer. 'auto' peeks at one query
    vector's length (a LIMIT-1 job, metadata-sized) and applies the
    measured dims threshold: 'gemm' (per-list dense matmul — each
    vector crosses the Arrow boundary once per LIST membership, not
    once per candidate pair) at high dims, else the JVM fold."""
    if scorer in ("hof", "arrow", "gemm"):
        return scorer
    if scorer != "auto":
        raise ValueError(
            f"scorer must be 'auto'|'hof'|'arrow'|'gemm', got {scorer!r}"
        )
    row = queries.select(F.size(F.col(vec_col)).alias("d")).first()
    dims = (row["d"] or 0) if row else 0
    return "gemm" if dims >= GEMM_SCORER_MIN_DIMS else "hof"


def _topk_per_list_gemm(
    c_lists: DataFrame,
    q_lists: DataFrame,
    k: int,
    round_digits: int,
    block_rows: int | None = None,
) -> DataFrame:
    """Per-inverted-list top-k via dense matmul — the high-dims scale
    path of the IVF scoring step. Cogroups corpus and query lists on
    centroid_id; per list, ONE blocked ``Q @ C.T`` scores every
    (query, candidate) pair, so each vector crosses the Arrow boundary
    once per LIST MEMBERSHIP instead of once per candidate pair (the
    per-pair transfer is what sinks both the pandas-UDF and mapInArrow
    per-pair scorers — ~16·dims bytes/pair; measured in docs/SCALE.md).
    Emits each query's per-list top-k (global top-k over probed lists
    is a subset of the per-list top-k union, so the downstream global
    rank window is unchanged and exact).

    Ranking mirrors the fold path: cosine rounded to ``round_digits``,
    order (cos desc, NaN/zero-norm last as NULL, neighbor_id asc);
    self-pairs dropped. BLAS summation order differs from the
    sequential fold at ULP scale — gates keep 'hof'; run-to-run the
    path is deterministic.

    Memory: per task at most ``block_rows`` corpus vectors (×dims
    doubles) + a 1024-query GEMM block. Hot lists do NOT pin one
    task: any list larger than ``block_rows`` (default
    :data:`GEMM_BLOCK_ROWS`) is hash-split into blocks and each
    probing query scores every block — a pair's score is the same
    dims-length dot wherever its candidate lands (BLAS kernel choice
    varies with matrix shape, so only ULP-equal pre-rounding; the
    ``round_digits`` rounding has absorbed that on every tested
    fixture, though a cosine landing exactly on a rounding
    half-boundary could in principle round differently across block
    shapes — gates pin the 'hof' path, so verification never rides
    on this), and the per-block top-k
    union contains the per-list top-k, so the final ranking is
    unchanged up to that boundary caveat.

    ``c_lists`` feeds TWO consumers here (the n_centroids-row
    list-size aggregate that drives the split, and the scoring
    cogroup), so it is localCheckpoint'ed lazily — WITHOUT the
    truncation the centroid-assignment aggregate re-executes once per
    consumer (measured 215 s vs ~120 s on the 100k×256-dim e2e: AQE
    does NOT reuse the assignment exchange across the broadcast-
    branch boundary — the multi-reference trap, docs/SCALE.md)."""
    if block_rows is None:
        block_rows = GEMM_BLOCK_ROWS
    if block_rows < 0:
        raise ValueError(f"block_rows must be >= 0, got {block_rows}")

    def score(key, cdf, qdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"query_id": pd.Series(dtype="int64"),
             "neighbor_id": pd.Series(dtype="int64"),
             "cosine_sim": pd.Series(dtype="Float64")}
        )
        if not len(cdf) or not len(qdf):
            return empty
        C = np.stack(cdf["n_vec"].to_numpy()).astype(np.float64, copy=False)
        cn = cdf["__nn"].to_numpy(dtype=np.float64)
        nid = cdf["neighbor_id"].to_numpy(dtype=np.int64)
        Q = np.stack(qdf["q_vec"].to_numpy()).astype(np.float64, copy=False)
        qn = qdf["__qn"].to_numpy(dtype=np.float64)
        qid = qdf["query_id"].to_numpy(dtype=np.int64)
        out_q, out_n, out_s = [], [], []
        for b0 in range(0, len(qid), 1024):
            b1 = min(b0 + 1024, len(qid))
            sims = Q[b0:b1] @ C.T
            denom = np.outer(qn[b0:b1], cn)
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = np.where(denom != 0, sims / denom, np.nan)
            sims = np.round(sims, round_digits)
            for i in range(b1 - b0):
                keep = nid != qid[b0 + i]  # drop self-pairs
                s, ids = sims[i][keep], nid[keep]
                if not len(s):
                    continue
                isn = np.isnan(s)
                negc = np.where(isn, 0.0, -s)
                order = np.lexsort((ids, negc, isn))[: min(k, len(s))]
                out_q.extend([qid[b0 + i]] * len(order))
                out_n.extend(ids[order])
                out_s.extend(s[order])
        sim = pd.array(out_s, dtype="Float64")
        sim[np.isnan(np.asarray(out_s, dtype=np.float64))] = pd.NA
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "cosine_sim": sim}
        )

    if block_rows == 0:
        # explicit no-split fast path: no list-size count, no
        # checkpoint — the balanced-workload plan, ~20% cheaper than
        # the split machinery when no list is hot (docs/SCALE.md)
        return (
            c_lists.groupby("centroid_id")
            .cogroup(q_lists.groupby("centroid_id"))
            .applyInPandas(
                score, "query_id long, neighbor_id long, cosine_sim double"
            )
        )

    c_lists = c_lists.localCheckpoint(eager=False)
    blocks = F.broadcast(
        c_lists.groupBy("centroid_id").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(block_rows))
            .cast("int")
            .alias("__nblk")
        )
    )
    c_b = (
        c_lists.join(blocks, "centroid_id")
        .withColumn(
            "__blk",
            F.pmod(F.xxhash64("neighbor_id"), F.col("__nblk")).cast("int"),
        )
        .drop("__nblk")
    )
    # queries probing an empty list drop out of the inner join — they
    # had no candidates in that list anyway
    q_b = (
        q_lists.join(blocks, "centroid_id")
        .withColumn(
            "__blk", F.explode(F.sequence(F.lit(0), F.col("__nblk") - 1))
        )
        .drop("__nblk")
    )
    return (
        c_b.groupby("centroid_id", "__blk")
        .cogroup(q_b.groupby("centroid_id", "__blk"))
        .applyInPandas(
            score, "query_id long, neighbor_id long, cosine_sim double"
        )
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (the
    cosine is undefined there — ``try_divide`` matches DuckDB's
    NULL-on-zero-divisor instead of raising under ANSI mode, and a
    NULL sim falls out of every threshold filter / top-k ordering)."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def l2_sq(a: Column, b: Column) -> Column:
    """Deterministic sequential squared-L2 distance fold."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact brute-force top-k neighbors for each query vector:
    (query_id, neighbor_id, cosine_sim, rank). Queries are broadcast;
    ties break on neighbor id (deterministic).

    Norms are precomputed PER ROW before the cross join — each side's
    ``sqrt(sum(v^2))`` fold runs once per vector instead of once per
    (query, neighbor) pair (a |queries|-fold saving on the corpus
    side), and ``sqrt(a)*sqrt(b)`` is the exact expression the inline
    cosine evaluates, so results are bit-identical."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("__qn", _norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("__cn", _norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("__qn") * F.col("__cn"),
                ),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    dup_threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Contrastive hard-negative mining: per query, the top-k MOST
    similar corpus vectors strictly BELOW ``dup_threshold`` —
    "hardest non-positive" selection for training retrieval/embedding
    models, where near-duplicates of the anchor must not be used as
    negatives (they would be false negatives). Same broadcast-query
    plan as :func:`cosine_topk`; the duplicate exclusion is a filter
    BEFORE the rank window, so candidates shrink first."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("__cn", _norm(F.col("c_vec")))
    q = q.withColumn("__qn", _norm(F.col("q_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("__qn") * F.col("__cn"),
                ),
                round_digits,
            ),
        )
        .filter(F.col("cosine_sim") < dup_threshold)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# ------------------------------------------------------------- banded LSH


def _plane_component(p: int, j: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-9, 9] —
    integer-valued so sign decisions are exact across engines. ``p``
    is the GLOBAL plane index (table * num_planes + slot)."""
    return ((F.lit(p * 131) + j * 37) % 19 - 9).cast("double")


def lsh_bucket(vec: Column, num_planes: int = 8, table: int = 0) -> Column:
    """Sign-bit bucket id from ``num_planes`` hyperplane dot products
    of LSH table ``table`` (planes ``table*num_planes .. +num_planes``)."""
    bucket = F.lit(0)
    for p in range(num_planes):
        g = table * num_planes + p
        dot = F.aggregate(
            F.transform(
                vec, lambda v, j: v.cast("double") * _plane_component(g, j)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def auto_num_planes(n_vectors: int, target_bucket_size: int = 32) -> int:
    """Plane count so the EXPECTED bucket population is bounded:
    ceil(log2(n / target)) — e.g. 10^9 vectors / target 32 → 25 planes
    (2^25 buckets). Clamped to [4, 30]."""
    if n_vectors <= target_bucket_size:
        return 4
    return min(max(math.ceil(math.log2(n_vectors / target_bucket_size)), 4), 30)


def _lsh_bands(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_tables: int,
    num_planes: int,
    id_alias: str,
    vec_alias: str,
) -> DataFrame:
    """Unpivot to one row per (vector, LSH table): (id, vec, band,
    bucket). Each band uses an independent set of hyperplanes.

    One scan, not a union of per-table projections: all tables'
    bucket ids are computed in a single projection and posexploded —
    a per-table union re-scans the source ``num_tables`` times (Spark
    does not merge the union branches' scans), which showed up as 8
    parquet scans in the ANN plans."""
    buckets = F.array(
        *[
            lsh_bucket(F.col(vec_col), num_planes, table=t)
            for t in range(num_tables)
        ]
    )
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        F.posexplode(buckets).alias("band", "bucket"),
    )


def lsh_bucket_stats(
    df: DataFrame,
    num_tables: int = 4,
    num_planes: int = 8,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-(band, bucket) population report: (band, bucket, n_vectors,
    dropped). ``dropped`` marks buckets a ``max_bucket_size`` cap would
    discard — run this alongside a capped pair query to REPORT how much
    of the corpus the cap silently excluded (no silent truncation)."""
    bands = _lsh_bands(df, id_col, vec_col, num_tables, num_planes, "id", "vec")
    out = bands.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    cap = F.lit(max_bucket_size) if max_bucket_size is not None else F.lit(None)
    return out.withColumn(
        "dropped",
        F.when(cap.isNotNull(), F.col("n_vectors") > cap).otherwise(F.lit(False)),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    num_tables: int = 4,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """ANN top-k: exact cosine against corpus vectors sharing a bucket
    with the query in ANY of the ``num_tables`` LSH tables.
    (query_id, neighbor_id, cosine_sim, rank); queries without bucket
    mates return no rows (the recall/latency trade of ANN). The corpus
    side streams (num_tables band rows per vector); queries are
    broadcast."""
    q = _lsh_bands(
        queries, id_col, vec_col, num_tables, num_planes, "query_id", "q_vec"
    )
    c = _lsh_bands(
        corpus, id_col, vec_col, num_tables, num_planes, "neighbor_id", "c_vec"
    )
    scored = (
        c.withColumn("__cn", _norm(F.col("c_vec")))
        .join(
            F.broadcast(q.withColumn("__qn", _norm(F.col("q_vec")))),
            on=["band", "bucket"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("__qn") * F.col("__cn"),
                ),
                round_digits,
            ),
        )
        .select("query_id", "neighbor_id", "cosine_sim")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    num_tables: int = 4,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: same bucket in ≥1 LSH table AND
    cosine ≥ threshold: (id_a, id_b, cosine_sim) with id_a < id_b.

    ``max_bucket_size`` drops (band, bucket) groups larger than the
    cap before the self-join — the hot-bucket guard that bounds the
    within-bucket quadratic candidate space at corpus scale (same
    shape as ``max_shingle_df`` in the n-gram path). Use
    :func:`lsh_bucket_stats` with the same parameters to report what
    a cap drops.

    The band table is checkpointed lazily before fanning out — it
    feeds both self-join sides (plus the optional bucket-stats guard),
    and without lineage truncation each reference re-runs the corpus
    scan and every plane dot product (no exchange reuse across the
    differently-projected sides)."""
    bands = _lsh_bands(
        df, id_col, vec_col, num_tables, num_planes, "id", "vec"
    ).localCheckpoint(eager=False)
    if max_bucket_size is not None:
        keep = (
            bands.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket_size)
            .select("band", "bucket")
        )
        bands = bands.join(keep, on=["band", "bucket"], how="inner")
    a = bands.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), "band", "bucket"
    ).withColumn("__na", _norm(F.col("vec_a")))
    b = bands.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), "band", "bucket"
    ).withColumn("__nb", _norm(F.col("vec_b")))
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine_sim",
            F.round(
                F.try_divide(
                    _dot(F.col("vec_a"), F.col("vec_b")),
                    F.col("__na") * F.col("__nb"),
                ),
                round_digits,
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
        .distinct()
    )


# ----------------------------------------------------------------- IVF ANN


def _finite_vec(vec_col: str, op: str) -> Column:
    """``vec_col`` as is, failing the job on a NULL vector or a NULL,
    NaN or ±Inf component — training input no mean can absorb."""
    v = F.col(vec_col)
    bad = v.isNull() | F.exists(
        v, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))
    )
    return F.when(
        bad,
        F.raise_error(
            F.lit(f"{op}: NULL, NaN or Inf in vector column {vec_col!r}")
        ),
    ).otherwise(v)


def kmeans_fit(
    corpus: DataFrame,
    n_centroids: int = 16,
    max_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Distributed Lloyd's k-means in pure DataFrame aggregations:
    returns (centroid_id, c_vec) with ``c_vec`` as array<double>.
    ``metric``: ``cosine`` (spherical, the ANN default here) or
    ``l2`` (classic Lloyd's on squared Euclidean — what product-
    quantization codebooks need, where subvector norms carry signal).

    - init: the ``n_centroids`` lowest-id corpus vectors (seeded,
      deterministic; centroid_id keeps the seed's vector id).
    - assignment: broadcast centroids × corpus → per-vector argmax via
      ``max_by`` over (similarity, -centroid_id) — a partial-agg
      group-by (the cross-joined rows of one vector are colocated, so
      map-side combine collapses them before any shuffle); no window
      sort over the corpus.
    - update: posexplode to (centroid, dim) cells → streaming ``avg``
      (partial-agg, constant memory per cell) → re-collect ordered by
      dim. It differs from a sorted serial fold — what the DuckDB
      oracles replay — only in float summation order (~1e-12
      relative).

    Centroids that lose every member drop out (standard Lloyd's). A
    NULL vector, or a NULL / NaN / ±Inf component, fails the job
    with a message naming ``vec_col``: one such value would otherwise
    turn its centroid's mean into NaN, or drop silently out of it.
    """
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be cosine|l2, got {metric!r}")
    cent = (
        corpus.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c_vec")
        )
        .orderBy("centroid_id")
        .limit(n_centroids)
    )
    for _ in range(max_iter):
        assigned = (
            corpus.select(
                F.col(id_col).alias("__id"),
                _finite_vec(vec_col, "kmeans_fit").alias("__vec"),
            )
            # corpus-side norm once per row, not once per (row, centroid)
            # pair — sqrt(a)*sqrt(b) matches the inline cosine exactly
            .withColumn("__vn", _norm(F.col("__vec")))
            .crossJoin(F.broadcast(cent.withColumn("__cn", _norm(F.col("c_vec")))))
            .withColumn(
                "__sim",
                F.try_divide(
                    _dot(F.col("__vec"), F.col("c_vec")),
                    F.col("__vn") * F.col("__cn"),
                )
                if metric == "cosine"
                # argmax(-d2) == argmin(d2): same max_by plan shape
                else -l2_sq(F.col("__vec"), F.col("c_vec")),
            )
            .groupBy("__id")
            .agg(
                F.max_by(
                    "centroid_id", F.struct(F.col("__sim"), -F.col("centroid_id"))
                ).alias("centroid_id"),
                F.first("__vec").alias("__vec"),
            )
        )
        comp = assigned.select(
            "centroid_id", F.posexplode("__vec").alias("pos", "v")
        )
        pv = comp.groupBy("centroid_id", "pos").agg(
            F.avg(F.col("v").cast("double")).alias("m")
        )
        # centroids are k×d doubles — dim-lookup-sized metadata by
        # definition, like the SQ8 codebook — so materialize them on
        # the driver: one collect replaces a third shuffle (the
        # per-centroid re-assembly) plus the per-iteration lineage
        # checkpoint, and the next iteration's broadcast join gets a
        # local relation with no training subtree behind it.
        rows = pv.collect()
        by_c: dict = {}
        for r in rows:
            by_c.setdefault(r.centroid_id, {})[r.pos] = float(r.m)
        data = [
            (int(cid), [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_c.items())
        ]
        cent = corpus.sparkSession.createDataFrame(
            data, "centroid_id long, c_vec array<double>"
        )
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    centroids: DataFrame | None = None,
    train_iters: int = 2,
    broadcast_queries: bool = True,
    scorer: str = "auto",
    gemm_block_rows: int | None = None,
) -> DataFrame:
    """IVF ANN: the corpus is partitioned into inverted lists by
    nearest k-means centroid; each query probes its ``nprobe`` nearest
    lists and scores exactly within them.

    Centroids come from :func:`kmeans_fit` (``train_iters`` Lloyd's
    iterations) unless a precomputed ``centroids`` frame
    (centroid_id, c_vec) is passed — at scale, train once and reuse.
    Corpus assignment is the windowless ``max_by`` aggregate; only the
    tiny query side uses a window (nprobe > 1 ranking). Shuffles are
    keyed on the centroid id; the centroid set is broadcast.

    ``broadcast_queries=True`` (default) broadcasts the probed query
    lists into the scoring join — right for the sample-queries
    posture. Pass ``False`` when the query side is CORPUS-SIZED
    (corpus-vs-corpus mining, :func:`margin_pairs_ivf`): the scoring
    join then shuffles BOTH sides on centroid_id — each side moves
    once, no driver-sized broadcast.

    ``scorer`` picks the candidate-scoring implementation:
    ``'hof'`` = the sequential JVM fold over the candidate join
    (bit-reproducible by the SQL oracle — what gates use);
    ``'gemm'`` = per-inverted-list blocked matmul via cogrouped
    applyInPandas (2× the fold end-to-end at 100k, docs/SCALE.md —
    vectors cross Arrow once per list membership and the per-pair
    join rows never materialize); ``'arrow'`` = per-pair mapInArrow
    (kept as the measured negative result: par with the fold, the
    per-pair vector transfer eats the numpy gain); ``'auto'``
    (default) = gemm at ``GEMM_SCORER_MIN_DIMS``+ dims, else hof.
    All three produce identical ranked rows on the test fixtures
    (rounded-row agreement pytest); centroid assignment and list
    probing always stay on the JVM fold — they run once per VECTOR,
    so the fold cost is amortized there. ``gemm_block_rows`` caps the
    corpus rows one gemm scoring task owns (default
    :data:`GEMM_BLOCK_ROWS`): hot inverted lists are hash-split so no
    single grouped-pandas task inherits a skewed list whole (139 → 20
    s on a 30%-hot 100k corpus); ``0`` disables the split machinery
    entirely (no list-size count, no checkpoint — ~20% cheaper when
    you KNOW no list is hot; both numbers in docs/SCALE.md)."""
    cent = (
        centroids
        if centroids is not None
        else kmeans_fit(corpus, n_centroids, train_iters, id_col, vec_col)
    )
    cent = F.broadcast(cent)

    cent_n = F.broadcast(cent.withColumn("__cn", _norm(F.col("c_vec"))))
    c_lists = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
        )
        .withColumn("__vn", _norm(F.col("n_vec")))
        .crossJoin(cent_n)
        .withColumn(
            "__sim",
            F.try_divide(
                _dot(F.col("n_vec"), F.col("c_vec")),
                F.col("__vn") * F.col("__cn"),
            ),
        )
        .groupBy("neighbor_id")
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("__sim"), -F.col("centroid_id"))
            ).alias("centroid_id"),
            F.first("n_vec").alias("n_vec"),
            # the norm is constant within the group (one vector's
            # cross-join rows) — carrying it through the agg reuses
            # the assignment's fold instead of recomputing it for the
            # scoring join
            F.first("__vn").alias("__nn"),
        )
    )
    q_scored = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("__vn", _norm(F.col("q_vec")))
        .crossJoin(cent_n)
        .withColumn(
            "__sim",
            F.try_divide(
                _dot(F.col("q_vec"), F.col("c_vec")),
                F.col("__vn") * F.col("__cn"),
            ),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("centroid_id").asc()
    )
    # per-row norms travel INTO the scoring join: each vector's
    # sqrt(sum(v^2)) fold runs once, not once per candidate pair
    # (sqrt(a)*sqrt(b) is the exact inline-cosine expression, so
    # results stay bit-identical); both sides reuse the fold the
    # centroid assignment already paid for
    q_lists = (
        q_scored.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= nprobe)
        .drop("c_vec", "__cn", "__sim", "__r")
        .withColumnRenamed("__vn", "__qn")
    )
    if broadcast_queries:
        q_lists = F.broadcast(q_lists)
    resolved = _resolve_scorer(scorer, queries, vec_col)
    if resolved == "gemm":
        scored = _topk_per_list_gemm(
            c_lists, q_lists, k, round_digits, gemm_block_rows
        )
    else:
        joined = c_lists.join(q_lists, on="centroid_id").filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        if resolved == "arrow":
            scored = _score_pairs_arrow(joined, round_digits)
        else:
            scored = joined.withColumn(
                "cosine_sim",
                F.round(
                    F.try_divide(
                        _dot(F.col("q_vec"), F.col("n_vec")),
                        F.col("__qn") * F.col("__nn"),
                    ),
                    round_digits,
                ),
            )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# ------------------------------------------------- product quantization


def _subvectors(df: DataFrame, m: int, dims: int, id_col: str, vec_col: str,
                out_id: str) -> DataFrame:
    """(id, subspace, sub) — each vector split into ``m`` contiguous
    ``dims/m``-length subvectors via one posexplode (no per-subspace
    scans)."""
    d_sub = dims // m
    slices = F.array(
        *[F.slice(F.col(vec_col), s * d_sub + 1, d_sub) for s in range(m)]
    )
    return df.select(
        F.col(id_col).alias(out_id),
        F.posexplode(slices).alias("subspace", "sub"),
    )


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    n_centroids: int = 16,
    dims: int | None = None,
    max_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: (subspace, centroid_id, c_vec).
    Each of the ``m`` subspaces gets its own L2 k-means codebook, so a
    vector is later describable by ``m`` small codes instead of
    ``dims`` floats — the 10-50× memory compression that makes
    billion-vector ANN fit a cluster at all (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    All ``m`` codebooks train in ONE grouped Lloyd's job per
    iteration: the subspace id is just another grouping key on the
    subvector rows, so assignment is a single broadcast join +
    ``min_by`` aggregate and the update a single posexplode-``avg``
    (as in :func:`kmeans_fit`) — NOT a per-subspace loop of ``m``
    sequential k-means jobs (the loop costs m× the corpus scans at
    scale and m× the job-overhead latency; measured ~2× the whole
    IVF-PQ query at sf0.1).
    Semantics are identical to independent per-subspace runs: lowest-
    ``n_centroids`` ids seed each subspace, ties break on centroid
    id, emptied centroids drop out per subspace. Non-finite training
    vectors fail the job as in :func:`kmeans_fit`.

    ``dims`` must be divisible by ``m``; probed from the first row if
    omitted (one tiny job, training dominates)."""
    if dims is None:
        dims = len(corpus.select(vec_col).first()[0])
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    sv = _subvectors(
        corpus.select(id_col, _finite_vec(vec_col, "pq_train").alias(vec_col)),
        m, dims, id_col, vec_col, id_col,
    )
    w = Window.partitionBy("subspace").orderBy(id_col)
    cent = (
        sv.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_centroids)
        .select(
            "subspace",
            F.col(id_col).alias("centroid_id"),
            F.transform("sub", lambda v: v.cast("double")).alias("c_vec"),
        )
    )
    for _ in range(max_iter):
        assigned = (
            sv.join(F.broadcast(cent), on="subspace")
            .withColumn("__d2", l2_sq(F.col("sub"), F.col("c_vec")))
            .groupBy(id_col, "subspace")
            .agg(
                F.min_by(
                    "centroid_id", F.struct(F.col("__d2"), F.col("centroid_id"))
                ).alias("centroid_id"),
                F.first("sub").alias("sub"),
            )
        )
        comp = assigned.select(
            "subspace", "centroid_id", F.posexplode("sub").alias("pos", "v")
        )
        pv = comp.groupBy("subspace", "centroid_id", "pos").agg(
            F.avg(F.col("v").cast("double")).alias("m")
        )
        cent = (
            pv.groupBy("subspace", "centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "subspace",
                "centroid_id",
                F.transform("pm", lambda s: s["m"]).alias("c_vec"),
            )
        )
        # m * n_centroids rows — pin each iteration so the next one
        # (and every consumer: encode, ADC tables) reuses one
        # materialization of the training. A kmeans_fit-style driver
        # collect + local relation was tried in r15 and measured
        # SLOWER in a paired interleaved A/B (ivfpq bench min-of-3
        # 7.71 s vs 6.88 s with the checkpoint): the lazy checkpoint
        # folds materialization into the consumer's job, while the
        # collect adds a blocking driver roundtrip per iteration.
        cent = cent.localCheckpoint(eager=False)
    return cent


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → PQ codes: (id, codes array<int>), ``codes[s]`` = the
    nearest subspace-``s`` centroid. One posexplode, a broadcast join
    against the (m × n_centroids)-row codebook table, a ``min_by``
    hash-agg per (vector, subspace), and a re-collect — the corpus is
    scanned once and never shuffled at vector width (only (id, code)
    pairs move)."""
    if dims is None:
        dims = len(corpus.select(vec_col).first()[0])
    sv = _subvectors(corpus, m, dims, id_col, vec_col, id_col)
    assigned = (
        sv.join(F.broadcast(codebooks), on="subspace")
        .withColumn("__d2", l2_sq(F.col("sub"), F.col("c_vec")))
        .groupBy(id_col, "subspace")
        .agg(
            F.min_by(
                "centroid_id", F.struct(F.col("__d2"), F.col("centroid_id"))
            ).alias("code")
        )
    )
    return (
        assigned.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("subspace", "code"))).alias("sc"))
        .select(id_col, F.transform("sc", lambda x: x["code"]).alias("codes"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    m: int = 4,
    n_centroids: int = 16,
    dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    train_iters: int = 2,
    round_digits: int = 4,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes:
    (query_id, neighbor_id, adc_d2, rank), rank 1 = smallest
    approximate squared-L2 distance.

    Scale shape: the query→centroid distance table
    (n_queries × m × n_centroids rows — KB, not GB) is broadcast; the
    corpus side streams its (id, code) pairs through a broadcast-hash
    join and a partial-aggregated sum — each corpus vector costs m
    lookups, never a ``dims``-wide float read. Ranking sorts the
    ROUNDED score (ties → neighbor id) so results are reproducible
    bit-for-bit across engines.

    Recall note: PQ presumes the corpus has subspace structure (real
    embedding models concentrate energy in correlated dimensions). On
    an isotropic random corpus — like the synthetic test embeddings —
    quantization error swamps the ADC signal (recall@3 ~0.2-0.3
    regardless of codebook size, measured in tools/ann_recall.py);
    on clustered data recall is high (see
    test_pq_topk_recall_vs_bruteforce). For such corpora prefer
    :func:`ivf_topk` (recall ~0.9 here), or combine: IVF for recall,
    PQ for the memory bound."""
    if dims is None:
        dims = len(corpus.select(vec_col).first()[0])
    if codebooks is None:
        codebooks = pq_train(
            corpus, m, n_centroids, dims,
            max_iter=train_iters, id_col=id_col, vec_col=vec_col,
        )
    codes = pq_encode(corpus, codebooks, m, dims, id_col, vec_col)
    q_sv = _subvectors(queries, m, dims, id_col, vec_col, "query_id")
    dtab = (
        q_sv.join(F.broadcast(codebooks), on="subspace")
        .select(
            "query_id",
            "subspace",
            "centroid_id",
            l2_sq(F.col("sub"), F.col("c_vec")).alias("d2"),
        )
    )
    code_rows = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "code"),
    )
    scored = (
        code_rows.join(
            F.broadcast(dtab),
            (code_rows["subspace"] == dtab["subspace"])
            & (code_rows["code"] == dtab["centroid_id"]),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), round_digits).alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact brute-force squared-L2 top-k: (query_id, neighbor_id,
    d2, rank), rank 1 = nearest. The ground-truth baseline for the
    PQ/ADC path (which approximates L2, not cosine); same broadcast-
    queries / streaming-corpus shape as :func:`cosine_topk`."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "d2", F.round(l2_sq(F.col("q_vec"), F.col("c_vec")), round_digits)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


def ivfpq_build(
    corpus: DataFrame,
    n_coarse: int = 8,
    m: int = 4,
    n_centroids: int = 16,
    dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
    materialize: bool = False,
) -> dict:
    """Build the IVF-PQ index artifacts once: coarse centroids, the
    residual-trained PQ codebooks, and the inverted code lists —
    FAISS's train/add phase. Returns a dict of DataFrames
    (``coarse``, ``books``, ``inv``) plus the geometry params;
    :func:`ivfpq_search` consumes it. ``materialize=True`` eagerly
    checkpoints the artifacts so repeated searches pay ZERO training
    cost — the production shape: the corpus is touched twice at full
    vector width here and never again."""
    if dims is None:
        dims = len(corpus.select(vec_col).first()[0])
    coarse = kmeans_fit(
        corpus,
        n_centroids=n_coarse,
        max_iter=train_iters,
        id_col=id_col,
        vec_col=vec_col,
        metric="l2",
    ).select(F.col("centroid_id").alias("list_id"), F.col("c_vec").alias("l_vec"))
    residual = F.zip_with(
        F.col("__v"), F.col("l_vec"), lambda x, y: x.cast("double") - y.cast("double")
    )
    # materialize the assignment ONCE: every subspace's codebook
    # training, the encode pass, and the inverted-list join read this
    # frame — without the checkpoint each consumer re-runs the full-
    # width corpus × centroids cross join (measured 6 recomputes,
    # ~4× the whole query's cost at sf0.1)
    c_res = (
        _nearest_coarse_lists(corpus, coarse, id_col, id_col, vec_col, 1)
        .select(F.col(id_col), F.col("list_id"), residual.alias(vec_col))
        .localCheckpoint(eager=False)
    )
    books = pq_train(
        c_res, m, n_centroids, dims,
        max_iter=train_iters, id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(c_res, books, m, dims, id_col, vec_col)
    inv = codes.join(c_res.select(id_col, "list_id"), on=id_col).select(
        F.col(id_col).alias("neighbor_id"), "list_id",
        F.posexplode("codes").alias("subspace", "code"),
    )
    if materialize:
        books = books.localCheckpoint(eager=True)
        inv = inv.localCheckpoint(eager=True)
    return {
        "coarse": coarse,
        "books": books,
        "inv": inv,
        "m": m,
        "dims": dims,
        "id_col": id_col,
        "vec_col": vec_col,
    }


def _nearest_coarse_lists(
    df: DataFrame, coarse: DataFrame, id_col: str, out_id: str,
    vec_col: str, n: int,
) -> DataFrame:
    """(id, vec, list_id, l_vec) — each vector's n nearest coarse
    lists (n=1: a min_by hash-agg, no window; n>1: window over the
    small id×n_coarse cross product)."""
    crossed = (
        df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias("__v"))
        .crossJoin(F.broadcast(coarse))
        .withColumn("__d2", l2_sq(F.col("__v"), F.col("l_vec")))
    )
    if n == 1:
        return crossed.groupBy(out_id).agg(
            F.min_by(
                F.struct("list_id", "l_vec", "__v"),
                F.struct(F.col("__d2"), F.col("list_id")),
            ).alias("s")
        ).select(out_id, "s.list_id", "s.l_vec", F.col("s.__v").alias("__v"))
    w = Window.partitionBy(out_id).orderBy(
        F.col("__d2").asc(), F.col("list_id").asc()
    )
    return (
        crossed.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n)
        .select(out_id, "list_id", "l_vec", "__v")
    )


def ivfpq_search(
    index: dict,
    queries: DataFrame,
    k: int = 1,
    nprobe: int = 2,
    round_digits: int = 4,
) -> DataFrame:
    """Search a prebuilt IVF-PQ index (:func:`ivfpq_build`): each
    query probes its ``nprobe`` nearest lists with asymmetric-distance
    scoring against its own per-list residual. Returns
    (query_id, neighbor_id, adc_d2, rank), rank 1 ≈ nearest. The
    query-side tables broadcast; the inverted lists are never
    re-derived — repeated searches amortize the build."""
    coarse = index["coarse"]
    books = index["books"]
    inv = index["inv"]
    m = index["m"]
    dims = index["dims"]
    id_col = index["id_col"]
    vec_col = index["vec_col"]
    residual = F.zip_with(
        F.col("__v"), F.col("l_vec"), lambda x, y: x.cast("double") - y.cast("double")
    )
    q_res = _nearest_coarse_lists(
        queries, coarse, id_col, "query_id", vec_col, nprobe
    ).select("query_id", "list_id", residual.alias(vec_col))
    # per (query, probed list, subspace, centroid) residual distances;
    # the (query, list) pair is the row identity — a query has nprobe
    # DIFFERENT residuals, one per probed list
    q_sv = _subvectors(
        q_res.withColumn("__ql", F.concat_ws("_", "query_id", "list_id")),
        m, dims, "__ql", vec_col, "__ql",
    ).join(
        q_res.select(
            F.concat_ws("_", "query_id", "list_id").alias("__ql"),
            "query_id", "list_id",
        ),
        on="__ql",
    )
    dtab = q_sv.join(F.broadcast(books), on="subspace").select(
        "query_id", "list_id", "subspace", "centroid_id",
        l2_sq(F.col("sub"), F.col("c_vec")).alias("d2"),
    )
    scored = (
        inv.join(
            F.broadcast(dtab),
            (inv["list_id"] == dtab["list_id"])
            & (inv["subspace"] == dtab["subspace"])
            & (inv["code"] == dtab["centroid_id"]),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), round_digits).alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    n_coarse: int = 8,
    nprobe: int = 2,
    m: int = 4,
    n_centroids: int = 16,
    dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
    round_digits: int = 4,
) -> DataFrame:
    """IVF-PQ: the production billion-vector composition (FAISS's
    default shape) — an L2 coarse quantizer partitions the corpus into
    ``n_coarse`` inverted lists, PQ codebooks are trained on the
    RESIDUALS (vector − list centroid, which are much better
    clustered than raw vectors, recovering PQ accuracy), and each
    query probes its ``nprobe`` nearest lists with asymmetric-distance
    scoring against its own per-list residual. One-shot composition of
    :func:`ivfpq_build` + :func:`ivfpq_search`; amortized callers
    build once with ``materialize=True`` and search many times.

    Returns (query_id, neighbor_id, adc_d2, rank), rank 1 ≈ nearest.

    Scale shape: corpus touched exactly twice at full vector width
    (coarse assignment, residual+encode — both broadcast joins against
    centroid tables); afterwards only (id, list, m codes) rows exist.
    The query-side tables (probe lists, residual distance tables —
    n_queries × nprobe × m × n_centroids rows) broadcast; scoring is
    a broadcast-hash join + partial-agg sum restricted to probed
    lists, so each scored corpus vector costs m lookups."""
    index = ivfpq_build(
        corpus,
        n_coarse=n_coarse,
        m=m,
        n_centroids=n_centroids,
        dims=dims,
        id_col=id_col,
        vec_col=vec_col,
        train_iters=train_iters,
    )
    return ivfpq_search(index, queries, k=k, nprobe=nprobe, round_digits=round_digits)


# ------------------------------------------------------- SQ8 quantization


def sq8_train(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension [min, max] over the corpus — the SQ8 codebook.

    One narrow posexplode → (dim, min, max) hash-agg with map-side
    combine; the result is dims-sized (64 floats here, ~4 KB at
    4096-d), so collecting and broadcasting it is the correct move at
    any corpus size — this is metadata, not data."""
    stats = (
        corpus.select(F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
        .orderBy("dim")
        .collect()
    )
    return [r.mn for r in stats], [r.mx for r in stats]


def sq8_codes(
    df: DataFrame,
    mins: list[float],
    maxs: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize each vector to 8-bit codes 0..255 against the trained
    per-dim range: code_d = floor((v - min_d) * 255 / (max_d - min_d)),
    clamped; degenerate dims (max == min) code to 0. 4 bytes/float →
    1 byte/dim — the 4× memory cut that makes billion-vector search
    fit. The codebook rides along as two array LITERALS in the plan
    (no join, no broadcast variable), and the transform is a
    whole-stage-codegen higher-order function."""
    mn = F.array(*[F.lit(float(v)) for v in mins])
    mx = F.array(*[F.lit(float(v)) for v in maxs])
    code = F.transform(
        F.col(vec_col),
        lambda v, i: F.when(
            F.element_at(mx, i + 1) > F.element_at(mn, i + 1),
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (v.cast("double") - F.element_at(mn, i + 1))
                        * 255.0
                        / (F.element_at(mx, i + 1) - F.element_at(mn, i + 1))
                    ),
                ),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    return df.select(F.col(id_col), code.alias("codes"))


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 approximate top-k: (query_id, neighbor_id, code_d2, rank),
    ranked ASCENDING on the INTEGER squared-L2 distance between 8-bit
    codes — exact BIGINT arithmetic, so ranking is bit-reproducible
    everywhere. Code-space L2 is the per-dimension-scaled true L2
    (code_d = (v_d − min_d)·s_d, so Σ(Δcode)² = Σ s_d²·Δv_d² — the
    FAISS IndexSQ distance up to per-dim weights); a code DOT product
    would NOT work: the affine shift makes all codes positive and the
    shift terms swamp the similarity structure (measured recall@3
    0.03 vs 0.76 for this form). Corpus codes stream (never
    collected); quantized queries broadcast."""
    mins, maxs = sq8_train(corpus, vec_col)
    c = sq8_codes(corpus, mins, maxs, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("codes").alias("c_codes")
    )
    q = sq8_codes(queries, mins, maxs, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("codes").alias("q_codes")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "code_d2",
            F.aggregate(
                F.zip_with(
                    F.col("q_codes"),
                    F.col("c_codes"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("code_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "code_d2", "rank")
    )


def semantic_cluster_stats(
    corpus: DataFrame,
    n_clusters: int = 8,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Per-cluster population report for :func:`semantic_dedup`:
    (centroid_id, n_vectors, dropped). ``dropped`` marks clusters a
    ``max_cluster_size`` cap would exclude from the pairwise stage —
    run this alongside a capped dedup to REPORT how much of the corpus
    the cap skipped (no silent truncation), mirroring
    :func:`lsh_bucket_stats`."""
    cents = kmeans_fit(
        corpus,
        n_centroids=n_clusters,
        max_iter=train_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    sizes = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .withColumn("__vn", _norm(F.col("__v")))
        .crossJoin(F.broadcast(cents.withColumn("__cn", _norm(F.col("c_vec")))))
        .withColumn(
            "__cos",
            F.try_divide(
                _dot(F.col("__v"), F.col("c_vec")),
                F.col("__vn") * F.col("__cn"),
            ),
        )
        .groupBy("__id")
        .agg(
            F.max_by(
                F.col("centroid_id"),
                F.struct(F.col("__cos"), (-F.col("centroid_id")).alias("nc")),
            ).alias("centroid_id")
        )
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    cap = (
        F.lit(max_cluster_size) if max_cluster_size is not None else F.lit(None)
    )
    return sizes.withColumn(
        "dropped",
        F.when(cap.isNotNull(), F.col("n_vectors") > cap).otherwise(F.lit(False)),
    )


def _cluster_drops_matrix(
    pair_src: DataFrame, threshold: float, round_digits: int
) -> DataFrame:
    """Within-cluster dropped-id discovery as one Arrow-batched
    ``applyInPandas`` keyed by centroid_id: each group sorts its ids,
    builds the row-normalized matrix, takes ONE numpy matmul for the
    full cosine Gram matrix, and emits every id that has a
    lower-id neighbor at or above ``threshold`` (after HALF_UP
    rounding to ``round_digits`` — numpy's ``np.round`` is
    half-to-even, which disagrees with Spark ``F.round`` / DuckDB
    ``round`` at exact 4th-decimal ties, so the kernel replicates
    HALF_UP explicitly; zero-norm vectors have UNDEFINED cosine and
    are never duplicates — NaN sims map to -inf here, and the join
    kernel uses ``try_divide`` so 0/0 is NULL, excluded by the
    threshold filter instead of raising under ANSI mode, matching
    DuckDB's NULL-on-zero-divisor). Ids live in exactly one cluster,
    so the
    union of group outputs needs no distinct. Expects columns
    (centroid_id, __id, __v); returns (__drop) typed like ``__id``."""
    from pyspark.sql.types import StructField, StructType

    th = float(threshold)
    rd = int(round_digits)
    out_schema = StructType(
        [StructField("__drop", pair_src.schema["__id"].dataType)]
    )

    def _drops(pdf):  # pragma: no cover - executed on Python workers
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"__drop": pdf["__id"].iloc[0:0]})
        order = np.argsort(pdf["__id"].to_numpy(), kind="stable")
        ids = pdf["__id"].to_numpy()[order]
        mat = np.stack(
            [
                np.asarray(v, dtype=np.float64)
                for v in pdf["__v"].to_numpy()[order]
            ]
        )
        norms = np.sqrt((mat * mat).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (mat @ mat.T) / np.outer(norms, norms)
        # HALF_UP (away from zero on ties), matching F.round / DuckDB
        scale = 10.0**rd
        sims = (
            np.where(
                sims >= 0,
                np.floor(sims * scale + 0.5),
                np.ceil(sims * scale - 0.5),
            )
            / scale
        )
        # zero-norm pairs (0/0 = NaN) are never duplicates
        sims = np.where(np.isnan(sims), -np.inf, sims)
        hit = np.triu(sims >= th, k=1)  # row i < col j in id order
        return pd.DataFrame({"__drop": ids[hit.any(axis=0)]})

    return (
        pair_src.select(
            "centroid_id", "__id", F.col("__v").cast("array<double>").alias("__v")
        )
        .groupBy("centroid_id")
        .applyInPandas(_drops, out_schema)
    )


def semantic_dedup(
    corpus: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.9,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    max_cluster_size: int | None = None,
    pairwise: str = "matrix",
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: k-means the embedding
    space, compare pairs only WITHIN each cluster, and drop the
    higher id of every pair with cosine ≥ ``threshold``. Returns one
    row per vector: (id, centroid_id, kept).

    This is the published recipe for paraphrase-level corpus pruning
    (cluster first so the pairwise stage is Σ|cluster|² ≪ n², the
    same sub-quadratic trick as LSH but geometry-aware). Clusters come
    from :func:`kmeans_fit` (broadcast centroids, streaming means);
    assignment is a windowless ``max_by`` aggregate; the within-
    cluster self-join shuffles on centroid_id. Cluster-size skew is
    the scale knob: raise ``n_clusters`` so the largest cluster's
    quadratic term stays bounded, and/or set ``max_cluster_size`` to
    EXCLUDE oversized clusters from the pairwise stage entirely (their
    members are all kept — the same no-silent-truncation discipline as
    ``max_bucket_size`` in :func:`embedding_dup_pairs`; run
    :func:`semantic_cluster_stats` alongside to report what a cap
    excludes).

    ``pairwise`` selects the within-cluster kernel:

    - ``"matrix"`` (default) — one Arrow-batched ``applyInPandas``
      keyed by centroid_id; each cluster computes its cosine Gram
      matrix with a single numpy matmul and emits the dropped ids.
      This is the published SemDeDup kernel shape (a dense BLAS
      product per cluster), replacing the |cluster|²-row join whose
      per-pair interpreted array fold dominated at any size (2.7×
      end-to-end measured at sf0.1). Per-group memory is
      |cluster|·d + |cluster|² doubles — exactly what
      ``max_cluster_size`` bounds.
    - ``"join"`` — the pure-DataFrame self-join + expression cosine;
      kept as the no-Python-worker fallback and the property-test
      cross-check for the matrix kernel.
    """
    if pairwise not in ("matrix", "join"):
        raise ValueError(f"pairwise must be matrix|join, got {pairwise!r}")
    cents = kmeans_fit(
        corpus,
        n_centroids=n_clusters,
        max_iter=train_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    assigned = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .withColumn("__vn", _norm(F.col("__v")))
        .crossJoin(F.broadcast(cents.withColumn("__cn", _norm(F.col("c_vec")))))
        .withColumn(
            "__cos",
            F.try_divide(
                _dot(F.col("__v"), F.col("c_vec")),
                F.col("__vn") * F.col("__cn"),
            ),
        )
        .groupBy("__id")
        .agg(
            F.max_by(
                F.struct("centroid_id", F.col("__v").alias("v")),
                F.struct(F.col("__cos"), (-F.col("centroid_id")).alias("nc")),
            ).alias("__s")
        )
        .select(
            F.col("__id"),
            F.col("__s.centroid_id").alias("centroid_id"),
            F.col("__s.v").alias("__v"),
        )
    )
    pair_src = assigned
    if max_cluster_size is not None:
        small = (
            assigned.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("__cn"))
            .filter(F.col("__cn") <= max_cluster_size)
            .select("centroid_id")
        )
        # n_clusters rows — broadcast semi-join prunes the hot clusters
        pair_src = assigned.join(F.broadcast(small), "centroid_id")
    if pairwise == "matrix":
        drops = _cluster_drops_matrix(pair_src, threshold, round_digits)
    else:
        a = pair_src.select(
            F.col("__id").alias("id_a"), "centroid_id", F.col("__v").alias("va")
        )
        b = pair_src.select(
            F.col("__id").alias("id_b"), "centroid_id", F.col("__v").alias("vb")
        )
        drops = (
            a.join(b, on="centroid_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "__sim",
                # zero-norm cosines are NULL (cosine_similarity uses
                # try_divide), excluded by the filter — matching the
                # matrix kernel and the DuckDB oracle
                F.round(
                    cosine_similarity(F.col("va"), F.col("vb")), round_digits
                ),
            )
            .filter(F.col("__sim") >= threshold)
            .select(F.col("id_b").alias("__drop"))
            .distinct()
        )
    return (
        assigned.join(drops, assigned.__id == drops.__drop, "left")
        .select(
            F.col("__id").alias(id_col),
            "centroid_id",
            F.col("__drop").isNull().alias("kept"),
        )
    )


def sign_binarize(
    df: DataFrame,
    thresholds: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    word_bits: int = 32,
) -> DataFrame:
    """Binary hashing by per-dimension sign bits: bit ``i`` is set iff
    ``vec[i] > thresholds[i]``; bits pack into ``word_bits``-wide
    longs (w0, w1, ...). With midpoint thresholds this is the
    zeroth-order ITQ / spectral-hash shape: a 64-d float vector
    (256 B) compresses to two longs (16 B), 16x, and downstream
    distance math becomes XOR + popcount in whole-stage codegen.
    Thresholds are dims-sized metadata (same collect-and-inline rule
    as the SQ8 codebook); ``word_bits <= 62`` keeps every packed word
    inside a signed long."""
    if not 0 < word_bits <= 62:
        raise ValueError("word_bits must be in 1..62")
    words = []
    for w0 in range(0, len(thresholds), word_bits):
        dims = range(w0, min(w0 + word_bits, len(thresholds)))
        word = None
        for j, i in enumerate(dims):
            bit = (
                F.when(
                    F.element_at(F.col(vec_col), i + 1).cast("double")
                    > F.lit(thresholds[i]),
                    F.lit(1 << j).cast("long"),
                )
                .otherwise(F.lit(0).cast("long"))
            )
            word = bit if word is None else word + bit
        words.append(word.alias(f"w{w0 // word_bits}"))
    return df.select(F.col(id_col), *words)


def hamming_thresholds(corpus: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Per-dimension midpoint (min+max)/2 thresholds — order-free
    aggregates, so every engine derives the identical codebook (the
    float-mean alternative is NOT reproducible across engines: its
    value depends on summation order)."""
    mins, maxs = sq8_train(corpus, vec_col)
    return [(mn + mx) / 2.0 for mn, mx in zip(mins, maxs)]


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    thresholds: list[float] | None = None,
    word_bits: int = 32,
) -> DataFrame:
    """Binary-code ANN: per query the ``k`` corpus vectors with the
    smallest Hamming distance between sign-bit codes —
    (query_id, neighbor_id, hamming, rank). The integer-only output
    makes the gate exact (no float rounding anywhere).

    100 TB plan: one dims-row stats collect (metadata), then the
    corpus is scanned once producing word-packed codes (16 B/vector
    at 64-d) with queries broadcast alongside; XOR+popcount runs in
    codegen and the rank window's WindowGroupLimit keeps only k rows
    per query per partition before the single query-keyed shuffle.
    The binary scan is the published memory-bound regime answer
    (Charikar sign-random-projection family) when even PQ codes are
    too wide for the scan budget."""
    if thresholds is None:
        thresholds = hamming_thresholds(corpus, vec_col)
    n_words = (len(thresholds) + word_bits - 1) // word_bits
    c = sign_binarize(corpus, thresholds, id_col, vec_col, word_bits)
    c = c.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"w{i}").alias(f"cw{i}") for i in range(n_words)],
    )
    q = sign_binarize(queries, thresholds, id_col, vec_col, word_bits)
    q = q.select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"w{i}").alias(f"qw{i}") for i in range(n_words)],
    )
    ham = None
    for i in range(n_words):
        term = F.bit_count(F.col(f"cw{i}").bitwiseXOR(F.col(f"qw{i}")))
        ham = term if ham is None else ham + term
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("hamming", ham.cast("int"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


def random_sign_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "rp",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a
    DETERMINISTIC ±1 sign matrix (Achlioptas 2003): output dim ``j``
    is ``Σ_i q_i · s(i,j)`` where ``s(i,j) = ±1`` comes from a salted
    md5 of ``(i, j)`` and ``q_i = round(1000·v_i)`` — inputs are
    milli-quantized to integers first, so the projection is EXACT
    integer arithmetic, reproducible by any engine with md5 (no float
    summation order, no stored matrix to ship). The standard cheap
    pre-step before LSH / clustering when vectors are wide: distances
    are preserved within (1±ε) at out_dim = O(log n / ε²).

    Returns (id, dim_no, proj_milli) — divide by 1000·√out_dim for
    the JL-scaled float embedding.

    Scale shape: the sign matrix is ``in_dim × out_dim`` literal ints
    INLINED into one shuffle-free codegen projection (a map-side
    flatMap after posexplode). Sensible up to ~64k inlined signs
    (e.g. 1024→64); beyond that, switch to an Arrow ``mapInPandas``
    matmul with the same md5-derived matrix — identical output."""
    import hashlib

    if in_dim <= 0 or out_dim <= 0:
        raise ValueError("in_dim and out_dim must be > 0")

    def sign(i: int, j: int) -> int:
        h = int(hashlib.md5(f"{salt}|{i}|{j}".encode()).hexdigest()[:2], 16)
        return (h % 2) * 2 - 1

    sign_cols = [
        [sign(i, j) for i in range(in_dim)] for j in range(out_dim)
    ]
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1000).cast("long"),
    )
    staged = df.select(F.col(id_col), qv.alias("__q"))
    projs = [
        F.aggregate(
            F.zip_with(
                F.col("__q"),
                F.lit(sign_cols[j]),
                lambda x, s: x * s.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        for j in range(out_dim)
    ]
    return staged.select(
        F.col(id_col),
        F.posexplode(F.array(*projs)).alias("dim_no", "proj_milli"),
    )


def label_centroid_similarity(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Class-separation report: pairwise cosine similarity between
    per-label embedding CENTROIDS — high off-diagonal cosines mean the
    label taxonomy is not separable in this embedding space (the cheap
    sanity check before training a classifier head or routing by
    class). Returns (label_a < label_b, cos_milli_e{round_digits}).

    Exactness: cosine is scale-invariant, so the centroid (mean) is
    replaced by the per-label SUM of milli-quantized integer
    components — commutative integer aggregation, no float summation
    order, no division until the final pair-level cosine (a
    deterministic double expression both engines evaluate the same
    way). Bound: per-label component sums must keep Σs² inside int64 —
    fine up to ~10⁹ rows · 60-d milli vectors per label; shrink the
    quantization for more.

    Scale shape: one posexplode + (label, dim) hash-agg (map-side
    combinable), labels-sized norm and sum tables, broadcast pairwise
    join on the dim key. The corpus is scanned once."""
    q = df.select(
        F.col(label_col).alias("__lab"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * 1000).cast("long"),
            )
        ).alias("__i", "__q"),
    )
    sums = q.groupBy("__lab", "__i").agg(F.sum("__q").alias("__s"))
    norms = sums.groupBy("__lab").agg(
        F.sum(F.col("__s") * F.col("__s")).alias("__n2")
    )
    a = sums.select(
        F.col("__lab").alias("label_a"), "__i", F.col("__s").alias("__sa")
    )
    b = sums.select(
        F.col("__lab").alias("label_b"), "__i", F.col("__s").alias("__sb")
    )
    dots = (
        a.join(b, on="__i")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("__sa") * F.col("__sb")).alias("__dot"))
    )
    na = norms.select(F.col("__lab").alias("label_a"), F.col("__n2").alias("__na"))
    nb = norms.select(F.col("__lab").alias("label_b"), F.col("__n2").alias("__nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.try_divide(
                    F.col("__dot").cast("double"),
                    F.sqrt(
                        F.col("__na").cast("double")
                        * F.col("__nb").cast("double")
                    ),
                ),
                round_digits,
            ).alias("centroid_cos"),
        )
    )


def whiten_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Per-dimension whitening (mean-center + unit variance) of an
    embedding column — the standard retrieval pre-step (centering
    alone fixes most anisotropy in sentence embeddings; see the
    "whitening for retrieval" line of work). Returns (id, dim_no,
    w) rows with ``w = (q - mean) / stddev`` rounded.

    Exactness: components are milli-quantized to integers first, so
    the per-dimension moment sums (Σq, Σq²) are COMMUTATIVE integer
    aggregations — no float summation order; mean/variance/output are
    then deterministic double expressions any engine evaluates
    identically. Constant dimensions (zero variance) yield NULL
    (undefined z-score) via try_divide.

    Scale shape: one posexplode scan for the dims-sized moment table,
    broadcast back onto a second scan keyed on the dim — the corpus
    never shuffles."""
    q = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * 1000).cast("long"),
            )
        ).alias("dim_no", "__q"),
    )
    stats = q.groupBy("dim_no").agg(
        F.sum("__q").alias("__s"),
        F.sum(F.col("__q") * F.col("__q")).alias("__s2"),
        F.count(F.lit(1)).alias("__n"),
    )
    mean = F.col("__s").cast("double") / F.col("__n")
    var = (
        F.col("__s2").cast("double")
        - F.col("__s").cast("double") * F.col("__s").cast("double")
        / F.col("__n")
    ) / F.col("__n")
    enriched = stats.select(
        "dim_no", mean.alias("__mean"), F.sqrt(var).alias("__sd")
    )
    return (
        q.join(F.broadcast(enriched), on="dim_no")
        .select(
            F.col(id_col),
            "dim_no",
            F.round(
                F.try_divide(
                    F.col("__q").cast("double") - F.col("__mean"),
                    F.col("__sd"),
                ),
                round_digits,
            ).alias("w"),
        )
    )


def knn_label_agreement(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise screen (confident-learning lite): for each labeled
    query vector, how many of its k nearest cosine neighbors share its
    label — low agreement flags probable mislabels / ambiguous items
    before they poison a classifier head. Returns (id, label,
    n_neighbors, n_agree); integer counts, engine-exact given the same
    neighbor sets.

    Uses the exact brute-force :func:`cosine_topk` (queries broadcast,
    corpus streamed — right when the query side is an audit sample);
    swap in :func:`lsh_topk` / :func:`ivf_topk` neighbors for a
    full-corpus sweep at 100 TB, the agreement join is the same."""
    q = queries if queries is not None else corpus
    nbrs = cosine_topk(corpus, q, k=k, id_col=id_col, vec_col=vec_col)
    q_lab = q.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("label")
    )
    c_lab = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__nlab"),
    )
    return (
        nbrs.join(c_lab, on="neighbor_id")
        .join(F.broadcast(q_lab), on="query_id")
        .groupBy("query_id", "label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.sum(
                (F.col("__nlab") == F.col("label")).cast("long")
            ).alias("n_agree"),
        )
        .select(
            F.col("query_id").alias(id_col), "label", "n_neighbors", "n_agree"
        )
    )


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Matryoshka-style truncated retrieval: exact cosine top-k over
    only the FIRST ``dims`` coordinates of each embedding (matryoshka
    representation learning trains prefixes to be usable embeddings,
    so tiered retrieval searches the cheap prefix first and re-ranks
    survivors at full width). This is the prefix stage; compose with
    :func:`cosine_topk` on the full vectors over the survivors for the
    re-rank stage.

    Same scale shape as :func:`cosine_topk` (queries broadcast,
    corpus-parallel scoring, TakeOrderedAndProject top-k) with the
    dot-product loop ``dims/d`` cheaper — the slice happens before
    normalization, so prefix cosine is exact, not a rescaled full
    cosine.

    SAMPLE-QUERIES CONTRACT: ``queries`` is broadcast, so it must be
    a bounded query/sample set. Passing the corpus as its own query
    side is brute-force n² by construction — for corpus-vs-corpus
    retrieval use the IVF/LSH paths (see docs/SCALE.md)."""
    if dims < 1:
        raise ValueError("dims must be >= 1")
    c = corpus.withColumn(vec_col, F.slice(F.col(vec_col), 1, dims))
    q = queries.withColumn(vec_col, F.slice(F.col(vec_col), 1, dims))
    return cosine_topk(
        c, q, k=k, id_col=id_col, vec_col=vec_col, round_digits=round_digits
    )


def two_nn_intrinsic_dim(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017) of an
    embedding table — the "is my 64-d embedding really using 64
    dimensions" audit that guides PQ/JL compression choices. For each
    query, the ratio mu = r2/r1 of its two nearest-neighbor distances
    follows a Pareto law with exponent = intrinsic dim, so the MLE is
    ``d_hat = n / sum(ln mu)``.

    Built on the exact :func:`l2_topk` baseline (broadcast queries,
    corpus-parallel scan, TakeOrderedAndProject) with its 4-dp-rounded
    squared distances — ``ln mu = 0.5 ln(d2_2 / d2_1)``. Queries whose
    nearest neighbor is an exact duplicate (d2_1 = 0) are excluded
    (the estimator is undefined there; the dedup gates own that
    signal). ONE summary row: (n_queries, mean_ln_ratio, lid_estimate)
    at 6 dp.

    SAMPLE-QUERIES CONTRACT: the audit is statistically sound on a
    few-thousand-row query SAMPLE (the MLE concentrates fast), and
    ``queries`` rides the broadcast side of :func:`l2_topk` —
    corpus-as-queries is brute-force n² by construction and is not
    the intended call shape (see docs/SCALE.md)."""
    nn = l2_topk(corpus, queries, k=2, id_col=id_col, vec_col=vec_col,
                 round_digits=round_digits)
    wide = (
        nn.groupBy("query_id")
        .pivot("rank", [1, 2])
        .agg(F.first("d2"))
        .withColumnRenamed("1", "__d1")
        .withColumnRenamed("2", "__d2")
        .filter((F.col("__d1") > 0) & F.col("__d2").isNotNull())
    )
    term = 0.5 * F.log(F.col("__d2") / F.col("__d1"))
    return (
        wide.select(term.alias("__t"))
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__t").alias("__s"))
        .select(
            F.col("__n").cast("long").alias("n_queries"),
            F.round(F.col("__s") / F.col("__n"), 6).alias("mean_ln_ratio"),
            F.round(F.col("__n") / F.col("__s"), 6).alias("lid_estimate"),
        )
    )


def tiered_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    shortlist_k: int = 20,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Tiered matryoshka retrieval end-to-end: a cheap prefix-``dims``
    cosine pass shortlists ``shortlist_k`` candidates per query
    (:func:`matryoshka_topk`), then ONLY the shortlist is re-scored at
    full width and the top ``k`` kept — the production shape where the
    expensive full-dimension scoring touches shortlist-sized data, not
    the corpus.

    Scale: stage 1 is the corpus-parallel broadcast scan at dims/d
    cost; stage 2 joins the (queries x shortlist_k)-sized candidate
    list back to the corpus vectors (shuffle keyed on the candidate
    id — candidates-sized, never corpus²) and re-ranks inside each
    query group (bounded by shortlist_k). Output:
    (query_id, neighbor_id, cosine_sim, rank) at full precision."""
    short = matryoshka_topk(
        corpus, queries, dims=dims, k=shortlist_k,
        id_col=id_col, vec_col=vec_col, round_digits=round_digits,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        short.join(cv, on="neighbor_id")
        .join(F.broadcast(qv), on="query_id")
        .withColumn(
            "cosine_sim",
            F.round(
                cosine_similarity(F.col("q_vec"), F.col("c_vec")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def margin_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Margin-based pair mining (the Artetxe & Schwenk bitext-mining
    criterion, absolute-margin form): for each query vector, its best
    corpus neighbor together with how decisively it wins —
    ``margin = cos_top1 - cos_top2``. High-margin pairs are reliable
    alignments (translation pairs, near-duplicate captions, matched
    records); a low margin means the query sits in a dense
    neighborhood where the best match is indistinguishable from the
    runner-up and should not be trusted.

    Output: (query_id, neighbor_id, cos_top1, cos_top2, margin), one
    row per query with >= 2 scored neighbors, similarities rounded to
    ``round_digits``.

    Scale shape: ONE corpus-parallel scored scan (the broadcast-query
    :func:`cosine_topk` plan at k=2) followed by a queries-sized
    pivot aggregation — no second scan, no corpus shuffle.

    SAMPLE-QUERIES CONTRACT (same as :func:`matryoshka_topk`): the
    query side is broadcast; mine corpus-vs-corpus alignments through
    the IVF/LSH bucketed paths, not this exact scan."""
    nn = cosine_topk(
        corpus, queries, k=2, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits,
    )
    return _margin_pivot(nn, round_digits)


def _margin_pivot(nn: DataFrame, round_digits: int) -> DataFrame:
    """(query_id, neighbor_id, cosine_sim, rank<=2) → one margin row
    per query with both ranks present — the queries-sized pivot shared
    by the exact and IVF margin miners."""
    r1 = F.when(F.col("rank") == 1, F.col("cosine_sim"))
    r2 = F.when(F.col("rank") == 2, F.col("cosine_sim"))
    return (
        nn.groupBy("query_id")
        .agg(
            F.max(F.when(F.col("rank") == 1, F.col("neighbor_id"))).alias(
                "neighbor_id"
            ),
            F.max(r1).alias("cos_top1"),
            F.max(r2).alias("cos_top2"),
        )
        .filter(F.col("cos_top2").isNotNull())
        .withColumn(
            "margin",
            F.round(F.col("cos_top1") - F.col("cos_top2"), round_digits),
        )
    )


def margin_pairs_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    centroids: DataFrame | None = None,
    train_iters: int = 2,
    scorer: str = "auto",
    gemm_block_rows: int | None = None,
) -> DataFrame:
    """Corpus-vs-corpus margin mining — :func:`margin_pairs` freed of
    its sample-queries contract by routing candidate generation
    through the IVF bucketed path: each query scores only its
    ``nprobe`` probed inverted lists, top-2 and the margin pivot run
    over candidates. This is the real bitext/alignment-mining shape
    (every document of corpus A against all of corpus B): candidate
    volume is Σ |probed list| per query instead of |queries|×|corpus|,
    and the scoring join SHUFFLES both sides on centroid_id
    (``broadcast_queries=False``) — each side moves exactly once, no
    driver-sized broadcast anywhere.

    Output: identical schema/meaning to :func:`margin_pairs`
    ``(query_id, neighbor_id, cos_top1, cos_top2, margin)``, but
    top-1/top-2 are the best of the PROBED lists — an approximation
    whose recall vs exact margins is measured and floor-frozen in
    tests/test_ann_recall.py (raise ``nprobe``/``n_centroids`` to
    trade cost for recall). Train centroids once and pass them via
    ``centroids`` when mining repeatedly.

    At scale, size ``n_centroids ~ sqrt(corpus)`` (the FAISS rule):
    candidate volume per query is ``nprobe * corpus / n_centroids``
    and the scoring join's key cardinality IS ``n_centroids``, so
    list sizes and join parallelism shrink/grow together; a hot list
    is an AQE skew-split away on the 'hof' join path and a
    deterministic ``gemm_block_rows`` hash-split on the 'gemm'
    path."""
    nn = ivf_topk(
        corpus,
        queries,
        k=2,
        n_centroids=n_centroids,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
        centroids=centroids,
        train_iters=train_iters,
        broadcast_queries=False,
        scorer=scorer,
        gemm_block_rows=gemm_block_rows,
    )
    return _margin_pivot(nn, round_digits)


def centroid_drift(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Embedding-space drift per group: cosine of each group's mean
    vector against the pooled corpus centroid — the EMBEDDING
    complement of the scalar drift family (KS/W1/PSI watch univariate
    columns; this catches a source whose whole semantic direction
    moved, which no per-column score sees). Low cosine = the group's
    content centroid points away from the corpus.

    Output: (group, n_vecs, centroid_cos), cosine rounded to
    ``round_digits``.

    Scale shape: one dimension-explode (rows x d, d bounded), one
    (group, dim)-keyed partial-agg shuffle, then group- and
    dims-sized frames only; the global centroid is a 1-row broadcast.
    No pairwise anything — linear in the corpus. Sum-order float
    jitter (~1e-13 relative) sits far under the output rounding.

    NULL-group rows are EXCLUDED before any aggregation (no phantom
    NULL-group output row, and they don't shift the pooled centroid) —
    the same NULL-group contract as the scalar drift family
    (psi_drift / ks_vs_rest / w1_vs_rest)."""
    df = df.filter(F.col(group_col).isNotNull())
    comp = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("__pos", "__v"),
    ).withColumn("__v", F.col("__v").cast("double"))
    by_dim = comp.groupBy(group_col, "__pos").agg(
        F.sum("__v").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    grp_vec = by_dim.groupBy(group_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__pos"), (F.col("__s") / F.col("__n")).alias("m"))
                )
            ),
            lambda s: s["m"],
        ).alias("__cvec"),
        F.min("__n").cast("long").alias("n_vecs"),
    )
    pooled = (
        comp.groupBy("__pos")
        .agg(F.sum("__v").alias("__s"), F.count(F.lit(1)).alias("__n"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__pos"), (F.col("__s") / F.col("__n")).alias("m")
                        )
                    )
                ),
                lambda s: s["m"],
            ).alias("__gvec")
        )
    )
    return (
        grp_vec.crossJoin(F.broadcast(pooled))
        .withColumn(
            "centroid_cos",
            F.round(
                cosine_similarity(F.col("__cvec"), F.col("__gvec")),
                round_digits,
            ),
        )
        .select(group_col, "n_vecs", "centroid_cos")
    )
